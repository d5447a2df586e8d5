"""Workloads: their inputs, configs, timed operations and output checks.

Inputs are made from the seed by the row functions of the library's
generators (``sources/``), written once per (workload, size, seed) under
the data directory and read back as parquet, so every timed operation
includes the real scan and the engine only ever sees generated tables.
Generation runs in this process before the engine starts, so whether an
input was generated or found on disk does not change the engine's
warm-up. Ground truth comes from the library's truth generators inside
the session, after the warm-up and outside every timed window.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from energy_aware_entity_resolution_spark import PipelineConfig
from energy_aware_entity_resolution_spark.config import (
    BlockingConfig,
    ScoringConfig,
)
from energy_aware_entity_resolution_spark.plans import run_pipeline
from energy_aware_entity_resolution_spark.sources import (
    generate_labeled_pairs,
    transcripts as planted_source,
)
from energy_aware_entity_resolution_spark.sources import (
    hard_linkage as hard_source,
)
from energy_aware_entity_resolution_spark.sources.linkage import (
    linkage_transcripts,
)
from energy_aware_entity_resolution_spark.streaming.incremental import (
    accumulated_matches,
    process_one_batch,
    resolve_clusters,
)

# the test_hard_linkage blocking config, decided at threshold 0.3
HARD_CFG = PipelineConfig(
    blocking=BlockingConfig(
        minhash_bands=64,
        minhash_rows=2,
        sorted_neighborhood_window=10,
        max_block_size=150,
    ),
    scoring=ScoringConfig(match_threshold=0.3),
)
# scripts/bench_incremental.py's global-decision config
GLOBAL_CFG = PipelineConfig(
    blocking=BlockingConfig(use_sorted_neighborhood=False),
    scoring=ScoringConfig(mutual_only=True, ratio_threshold=1.05),
)


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "batch": run_pipeline; "inc": process_one_batch per micro-batch
    size: int  # conversations (planted input) or entities (hard linkage)
    cfg: PipelineConfig
    batches: int = 1

    def read(self, spark, path: str):
        """The engine's transcript table over the generated parquet."""
        df = spark.read.parquet(path)
        return linkage_transcripts(df) if self.name == "hardlink" else df


WORKLOADS = {
    w.name: w
    for w in (
        Workload("planted", "batch", 2000, PipelineConfig()),
        Workload("hardlink", "batch", 300, HARD_CFG),
        Workload("inc-threshold", "inc", 1000, PipelineConfig(), batches=3),
        Workload("inc-global", "inc", 1000, GLOBAL_CFG, batches=3),
    )
}


@dataclass
class Paths:
    input: str  # per (workload, size, seed)
    run: str  # per run: out/, state/

    @property
    def matches(self) -> str:
        return os.path.join(self.run, "out", "matches")

    @property
    def clusters(self) -> str:
        return os.path.join(self.run, "out", "clusters")

    @property
    def state(self) -> str:
        return os.path.join(self.run, "state")


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _planted_rows(seed: int, ids: range) -> dict:
    """generate_transcripts' rows for conversations ``ids``."""
    cols = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    # the timestamp rule of generate_transcripts, as UTC microseconds
    base_us = int(planted_source._BASE_TS.astype("datetime64[us]").astype(np.int64))
    for i in ids:
        for conv_id, j, role, text, tool in planted_source.conversation_rows(seed, i):
            for k, v in zip(cols, (conv_id, j, role, text, tool)):
                cols[k].append(v)
            cols["ts"].append(base_us + (i * 3600 + j * 7) * 10**6)
    return cols


_PLANTED_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def _hard_rows(seed: int, ids: range) -> dict:
    """generate_hard_linkage's entity rows for entities ``ids``."""
    cols = {"conv_id": [], "source": [], "text": []}
    for i in ids:
        canon, corrupted, distractor = hard_source._record(i, seed)
        for conv_id, source, text in (
            (f"a{i:08d}", "A", canon),
            (f"b{i:08d}", "B", corrupted),
            (f"x{i:08d}", "B", distractor),
        ):
            cols["conv_id"].append(conv_id)
            cols["source"].append(source)
            cols["text"].append(text)
    return cols


_HARD_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("source", pa.string()), ("text", pa.string()),
])


def ensure_input(wl: Workload, seed: int, path: str, parts: int) -> bool:
    """Write the workload's input for ``seed`` as ``parts`` parquet files
    of contiguous id ranges (the partitioning of the library generators'
    ``spark.range``), unless a complete copy exists. Returns True if it
    generated."""
    done = os.path.join(path, "_SUCCESS")
    if os.path.exists(done):
        return False
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    rows, schema = (
        (_hard_rows, _HARD_SCHEMA) if wl.name == "hardlink"
        else (_planted_rows, _PLANTED_SCHEMA)
    )
    bounds = np.linspace(0, wl.size, parts + 1).astype(int)
    for k in range(parts):
        table = pa.table(rows(seed, range(bounds[k], bounds[k + 1])), schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))
    open(done, "w").close()
    return True


def _pairs(path: str) -> set[tuple[str, str]]:
    t = pq.read_table(path, columns=["conv_id_a", "conv_id_b"]).to_pydict()
    return set(zip(t["conv_id_a"], t["conv_id_b"]))


def partitions(rows: dict) -> set[frozenset]:
    """{conv_id: component_id} -> the set of clusters as member sets."""
    groups: dict = {}
    for conv, comp in rows.items():
        groups.setdefault(comp, set()).add(conv)
    return {frozenset(g) for g in groups.values()}


def _clusters(path: str) -> dict:
    t = pq.read_table(path, columns=["conv_id", "component_id"]).to_pydict()
    return dict(zip(t["conv_id"], t["component_id"]))


@dataclass
class Truth:
    pairs: set
    df: object  # the same pairs as a cached DataFrame
    n_convs: int
    rows: int
    sources: dict | None = None  # conv_id -> source (hard linkage)
    reference: set | None = None  # batch clusters (inc workloads)

    def recall_precision(self, matches: set) -> tuple[float, float]:
        """(recall, precision) of predicted pairs; for two-source
        linkage only cross-source pairs are predictions."""
        if self.sources is not None:
            s = self.sources
            matches = {p for p in matches if s[p[0]] != s[p[1]]}
        tp = len(matches & self.pairs)
        recall = tp / len(self.pairs) if self.pairs else 0.0
        precision = tp / len(matches) if matches else 0.0
        return recall, precision


def load_truth(spark, wl: Workload, seed: int, paths: Paths) -> Truth:
    """True match pairs from the library's truth generator for the seed."""
    ids = pq.read_table(paths.input, columns=["conv_id"]).column(0)
    sources = None
    if wl.name == "hardlink":
        t = pq.read_table(paths.input, columns=["conv_id", "source"]).to_pydict()
        sources = dict(zip(t["conv_id"], t["source"]))
        df = hard_source.generate_hard_linkage(spark, wl.size, seed=seed)[1]
    else:
        df = generate_labeled_pairs(spark, wl.size, seed=seed).where(
            F.col("label") == 1
        )
    pairs = {(r[0], r[1]) for r in df.select("conv_id_a", "conv_id_b").collect()}
    df = spark.createDataFrame(
        sorted(pairs), "conv_id_a string, conv_id_b string"
    ).cache()
    return Truth(pairs, df, len(ids.unique()), len(ids), sources)


@dataclass
class OpResult:
    wall_s: float
    cpu_s: float
    peak_rss: int
    batch_walls: list[float]
    state_bytes: int
    candidate_hits: int | None = None
    recall: float = 0.0
    precision: float = 0.0
    failure: str | None = None
    extra: dict = field(default_factory=dict)


class Timer:
    """Wall, tree CPU and peak RSS of one timed operation."""

    def __init__(self, meter):
        self.meter = meter

    def __enter__(self):
        self.meter.take_peak()
        self.cpu0 = self.meter.cpu_s()
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.monotonic() - self.t0
        self.cpu_s = self.meter.cpu_s() - self.cpu0
        self.peak_rss = self.meter.take_peak()
        return False


def candidate_hits(truth: Truth, pairs_df) -> int:
    """Truth pairs present in ``pairs_df`` (survived blocking)."""
    return truth.df.join(
        pairs_df.select("conv_id_a", "conv_id_b"),
        ["conv_id_a", "conv_id_b"],
        "left_semi",
    ).count()


def batch_op(spark, meter, wl: Workload, paths: Paths, truth=None) -> OpResult:
    """run_pipeline from input parquet to matches + clusters parquet."""
    with Timer(meter) as t:
        res = run_pipeline(wl.read(spark, paths.input), wl.cfg)
        res.matches.write.mode("overwrite").parquet(paths.matches)
        res.clusters.write.mode("overwrite").parquet(paths.clusters)
    # res.scored was cached by the decision stage: no recompute here
    hits = candidate_hits(truth, res.scored) if truth else None
    res.release()
    return OpResult(
        t.wall_s, t.cpu_s, t.peak_rss, [t.wall_s],
        dir_bytes(os.path.dirname(paths.matches)), hits,
    )


def inc_batches(spark, wl: Workload, paths: Paths):
    src = wl.read(spark, paths.input).withColumn(
        "_b", F.pmod(F.xxhash64("conv_id"), F.lit(wl.batches))
    )
    for b in range(wl.batches):
        yield b, src.where(F.col("_b") == b).drop("_b")


def inc_op(spark, meter, wl: Workload, paths: Paths, truth=None) -> OpResult:
    """process_one_batch over every micro-batch into a fresh state_dir,
    then resolve_clusters; matches + clusters written to parquet."""
    shutil.rmtree(paths.state, ignore_errors=True)
    walls = []
    with Timer(meter) as t:
        for b, new in inc_batches(spark, wl, paths):
            t0 = time.monotonic()
            process_one_batch(spark, new, wl.cfg, paths.state, b)
            walls.append(time.monotonic() - t0)
        clusters = resolve_clusters(spark, paths.state)
        accumulated_matches(spark, paths.state).write.mode("overwrite").parquet(
            paths.matches
        )
        clusters.write.mode("overwrite").parquet(paths.clusters)
    return OpResult(
        t.wall_s, t.cpu_s, t.peak_rss, walls, dir_bytes(paths.state)
    )


def reference_clusters(spark, wl: Workload, paths: Paths) -> set:
    """Batch run_pipeline clusters on the same input and config: the
    incremental result must equal them."""
    res = run_pipeline(wl.read(spark, paths.input), wl.cfg)
    rows = {r["conv_id"]: r["component_id"] for r in res.clusters.collect()}
    res.release()
    return partitions(rows)


def check(wl: Workload, truth: Truth, paths: Paths, op: OpResult) -> OpResult:
    """Read the written result back and check it; sets recall,
    precision and ``failure`` (None when every check passes)."""
    matches = _pairs(paths.matches)
    clusters = _clusters(paths.clusters)
    op.recall, op.precision = truth.recall_precision(matches)
    problems = []
    if len(clusters) != truth.n_convs:
        problems.append(f"{len(clusters)} clustered ids != {truth.n_convs} inputs")
    if wl.name == "planted":
        n = truth.n_convs
        if op.recall != 1.0 or op.precision != 1.0:
            problems.append(f"recall {op.recall} precision {op.precision} != 1.0")
        if len(matches) * 10 != 4 * n:
            problems.append(f"{len(matches)} matches != 0.4*{n}")
        if len(set(clusters.values())) * 10 != 7 * n:
            problems.append(f"{len(set(clusters.values()))} clusters != 0.7*{n}")
    elif wl.name == "hardlink":
        cand_recall = op.candidate_hits / len(truth.pairs)
        op.extra["candidate_recall"] = cand_recall
        if cand_recall < 0.95:
            problems.append(f"candidate recall {cand_recall} < 0.95")
        # test_hard_linkage's precision floor is pairwise_metrics
        # precision, which counts a prediction as false only when the
        # truth labels it negative; hard-linkage truth labels positives
        # only. The precision metric above counts every cross-source
        # prediction instead.
        floor_precision = 1.0 if op.recall > 0 else 0.0
        if floor_precision < 0.99:
            problems.append(f"labelled-pair precision {floor_precision} < 0.99")
    if wl.kind == "inc" and partitions(clusters) != truth.reference:
        problems.append("incremental clusters differ from batch run_pipeline")
    op.failure = "; ".join(problems) or None
    return op
