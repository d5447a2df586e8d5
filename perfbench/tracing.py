"""Traced runs: layer spans from outside the library, folded with the
Spark event log into per-layer metrics.

Each layer is one public library call, materialized (persist + count,
or a write) inside a span that also sets the Spark job group
``layer:<name>:<op>``, so the tasks it runs can be found again in the
event log. Spans (name, start, end, parent, run id) stay in memory and
are written out when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import functions as F

from energy_aware_entity_resolution_spark.operators.assemble import (
    assemble_conversations,
)
from energy_aware_entity_resolution_spark.operators.blocking import (
    block_stats,
    featurize,
    lsh_bands,
)
from energy_aware_entity_resolution_spark.operators.candidates import candidate_pairs
from energy_aware_entity_resolution_spark.operators.clustering import (
    connected_components,
)
from energy_aware_entity_resolution_spark.operators.decision import decide_matches
from energy_aware_entity_resolution_spark.operators.scoring import score_pairs
from energy_aware_entity_resolution_spark.streaming.incremental import (
    accumulated_matches,
    process_one_batch,
    resolve_clusters,
)

from workloads import OpResult, Timer, candidate_hits, dir_bytes, inc_batches

BATCH_LAYERS = (
    "scan", "assemble", "featurize", "bands", "candidates", "scoring",
    "decision", "clustering", "sink",
)
INC_LAYERS = ("inc_batch", "inc_resolve")
LAYERS = BATCH_LAYERS + INC_LAYERS
_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, meter, run_id: str):
        self.sc = spark.sparkContext
        self.meter = meter
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._cached: list = []

    @contextmanager
    def span(self, name: str, op: int, layer: bool = True):
        """Time one call; a layer span also tags its Spark jobs."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name, "op": op, "run_id": self.run_id,
            "parent": parent["name"] if parent else None, "rows_out": None,
        }
        if layer:
            self.sc.setLocalProperty(_GROUP, f"layer:{name}:{op}")
        self._stack.append(rec)
        cpu0 = self.meter.cpu_s()
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            rec["cpu_s"] = self.meter.cpu_s() - cpu0
            self._stack.pop()
            if layer:
                self.sc.setLocalProperty(_GROUP, None)
            self.spans.append(rec)

    def materialize(self, name: str, op: int, build):
        """Run ``build()`` inside a layer span and persist + count it."""
        with self.span(name, op) as rec:
            df = build().persist()
            rec["rows_out"] = df.count()
        self._cached += [df, *getattr(df, "_upstream_caches", [])]
        return df

    def release(self) -> None:
        """Unpersist every frame ``materialize`` cached."""
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def traced_batch_op(spark, meter, tracer: Tracer, wl, paths, truth, op: int) -> OpResult:
    """run_pipeline's layer sequence through the public functions, one
    materialized layer at a time."""
    cfg = wl.cfg
    m = tracer.materialize
    with Timer(meter) as t, tracer.span("pipeline", op, layer=False):
        scan = m("scan", op, lambda: wl.read(spark, paths.input))
        assembled = m("assemble", op, lambda: assemble_conversations(scan))
        features = m("featurize", op, lambda: featurize(assembled, cfg))
        bands = m("bands", op, lambda: lsh_bands(features, cfg))
        cands = m("candidates", op, lambda: candidate_pairs(features, bands, cfg))
        scored = m("scoring", op, lambda: score_pairs(cands, features, cfg))
        matches = m("decision", op, lambda: decide_matches(scored, cfg))

        def clusters():
            edges = matches.select(
                F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst")
            )
            comp = connected_components(
                edges, max_iterations=cfg.cluster.max_iterations
            )
            return features.select("conv_id").join(comp, "conv_id", "left").select(
                "conv_id",
                F.coalesce("component_id", F.col("conv_id")).alias("component_id"),
            )

        clustered = m("clustering", op, clusters)
        with tracer.span("sink", op) as rec:
            matches.write.mode("overwrite").parquet(paths.matches)
            clustered.write.mode("overwrite").parquet(paths.clusters)
            rec["rows_out"] = _rows(tracer, "decision", op) + _rows(
                tracer, "clustering", op
            )
    # layer ratios, outside every layer span and job group
    stats = block_stats(bands, ["band_id", "band_hash"]).collect()[0]
    oversize = (
        bands.groupBy("band_id", "band_hash").count()
        .where(F.col("count") > cfg.blocking.max_block_size).count()
    )
    hits = candidate_hits(truth, cands)
    ratios = {"bands.max_block": stats["max_block"], "bands.oversize_blocks": oversize}
    tracer.release()
    return OpResult(
        t.wall_s, t.cpu_s, t.peak_rss, [t.wall_s],
        dir_bytes(os.path.dirname(paths.matches)), hits, extra=ratios,
    )


def _rows(tracer: Tracer, name: str, op: int) -> int:
    return next(
        s["rows_out"] for s in reversed(tracer.spans)
        if s["name"] == name and s["op"] == op
    )


def traced_inc_op(spark, meter, tracer: Tracer, wl, paths, truth, op: int) -> OpResult:
    """The incremental sequence with each call in its own layer span."""
    shutil.rmtree(paths.state, ignore_errors=True)
    walls = []
    with Timer(meter) as t, tracer.span("incremental", op, layer=False):
        for b, new in inc_batches(spark, wl, paths):
            with tracer.span("inc_batch", op) as rec:
                process_one_batch(spark, new, wl.cfg, paths.state, b)
            walls.append(rec["end"] - rec["start"])
        clusters = tracer.materialize(
            "inc_resolve", op, lambda: resolve_clusters(spark, paths.state)
        )
        with tracer.span("sink", op) as rec:
            matches = accumulated_matches(spark, paths.state).persist()
            matches.write.mode("overwrite").parquet(paths.matches)
            clusters.write.mode("overwrite").parquet(paths.clusters)
            rec["rows_out"] = matches.count() + _rows(tracer, "inc_resolve", op)
    matches.unpersist()
    tracer.release()
    return OpResult(t.wall_s, t.cpu_s, t.peak_rss, walls, dir_bytes(paths.state))


def _event_files(event_dir: str) -> list[str]:
    """Event-log files in write order (rolling v2 logs are numbered)."""
    files = [
        p for p in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    ]

    def order(p: str):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0)

    return sorted(files, key=order)


def fold_event_log(event_dir: str) -> dict[str, dict]:
    """Task metrics summed per job group; ``stage_runs`` keeps each
    stage's task run times for the skew ratio."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: defaultdict(float, stage_runs=defaultdict(list))
    )
    wanted = ('"SparkListenerStageSubmitted"', '"SparkListenerJobStart"',
              '"SparkListenerTaskEnd"')
    for path in _event_files(event_dir):
        with open(path) as f:
            for line in f:
                if not any(w in line[:64] for w in wanted):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get(_GROUP)
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(_GROUP)
                    for sid in ev.get("Stage IDs", ()):
                        if group:
                            stage_group.setdefault(sid, group)
                else:
                    group = stage_group.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if not group or not tm:
                        continue
                    g = out[group]
                    g["tasks"] += 1
                    g["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    g["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20
                    sw = tm.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    sr = tm.get("Shuffle Read Metrics") or {}
                    g["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    g["input_read_mb"] += (
                        (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20
                    )
                    out_m = tm.get("Output Metrics") or {}
                    g["state_write_mb"] += out_m.get("Bytes Written", 0) / 2**20
                    g["rows_written"] += out_m.get("Records Written", 0)
                    g["stage_runs"][ev["Stage ID"]].append(
                        tm.get("Executor Run Time", 0)
                    )
    return out


def _skew(stage_runs: dict) -> float:
    """max / median task time in the stage with the most task time."""
    if not stage_runs:
        return 0.0
    runs = max(stage_runs.values(), key=sum)
    return max(runs) / max(statistics.median(runs), 1.0)


_EVENT_FIELDS = (
    "task_cpu_s", "shuffle_write_mb", "spill_mb", "fetch_wait_s", "gc_s", "tasks",
)


def layer_metrics(spans: list[dict], folded: dict, ops: list[int]) -> dict:
    """Per-layer metrics of one traced op each, as medians over ``ops``.
    ``rows_out`` is the materialized row count, or for a layer that
    only writes (``inc_batch``) the rows its tasks wrote. A layer the
    workload never calls reports 0."""
    per_op: dict[str, list[float]] = defaultdict(list)
    for op in ops:
        for layer in LAYERS:
            mine = [s for s in spans if s["name"] == layer and s["op"] == op]
            ev = folded.get(f"layer:{layer}:{op}", {})
            vals = {
                "wall_s": sum(s["end"] - s["start"] for s in mine),
                "cpu_s": sum(s["cpu_s"] for s in mine),
                "rows_out": (
                    sum(s["rows_out"] for s in mine)
                    if all(s["rows_out"] is not None for s in mine)
                    else ev.get("rows_written", 0)
                ),
                "task_skew": _skew(ev.get("stage_runs", {})),
            }
            vals.update({k: ev.get(k, 0.0) for k in _EVENT_FIELDS})
            if layer in INC_LAYERS:
                vals["input_read_mb"] = ev.get("input_read_mb", 0.0)
                vals["state_write_mb"] = ev.get("state_write_mb", 0.0)
            for k, v in vals.items():
                per_op[f"{layer}.{k}"].append(v)
    return {k: statistics.median(v) for k, v in per_op.items()}
