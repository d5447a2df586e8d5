"""Entity-resolution benchmark: run one workload for one seed.

    python3 perfbench/run.py --workload planted --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run starts the engine with pinned
settings (engine.py), generates the workload's input for the seed if it
is not on disk yet (workloads.py), warms up, and then repeats the
workload's operation until ``--seconds`` of operation time have been
measured, checking every operation's written result.

With ``--trace 0`` it reports the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` it runs one untraced operation, then traced ones
(tracing.py), and reports the per-layer metrics. The last stdout line is
the result object; the line before it is a record with the host facts,
raw per-operation figures and every metric's direction.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# untimed operations before the first timed one. A first run_pipeline
# runs cold (about 3x a warm one) and a second is still measurably
# slower than the later ones while the JIT compiles; one incremental
# operation already holds several pipeline passes.
WARMUP_OPS = {"batch": 2, "inc": 1}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def attempt(fn, wl, truth, paths, check):
    """Run one operation; an exception or a failed check fails it."""
    try:
        op = fn()
    except Exception:
        traceback.print_exc()
        return None
    op = check(wl, truth, paths, op)
    if op.failure:
        print(f"perfbench: {wl.name} output check failed: {op.failure}",
              file=sys.stderr)
    return op


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(1, ROOT)
    try:
        import workloads as W
        from engine import Engine, nproc
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wl = W.WORKLOADS[args.workload]
    base = os.path.join(ROOT, ".perfbench")
    paths = W.Paths(
        input=os.path.join(base, "data", f"{wl.name}-n{wl.size}-seed{args.seed}"),
        run=os.path.join(base, "run", f"{wl.name}-{args.seed}-trace{args.trace}"),
    )
    shutil.rmtree(paths.run, ignore_errors=True)
    os.makedirs(paths.run)

    t0 = time.monotonic()
    generated = W.ensure_input(wl, args.seed, paths.input, max(8, nproc()))
    gen_s = time.monotonic() - t0
    eng = Engine(ROOT, paths.run, event_log=bool(args.trace))
    try:
        rec = measure(eng, W, wl, paths, args, gen_s)
        rec["input"].update(generated_now=generated, generate_s=gen_s)
    finally:
        eng.stop()
    if args.trace:
        layer_values(rec, eng.event_log_dir)

    section = spec["per_layer" if args.trace else "end_to_end"]
    values = rec.pop("values")
    rec["metrics"] = [
        {**m, "value": values[m["name"]]} for m in section
    ]
    print(json.dumps({"record": rec}, default=str))
    result = {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in section
        },
    }
    print(json.dumps(result), flush=True)
    return 0


def measure(eng, W, wl, paths, args, gen_s: float) -> dict:
    spark, meter = eng.spark, eng.meter
    # process start to a ready session, input generation excluded
    session_s = time.monotonic() - T_PROCESS - gen_s

    # warm-up: JIT, Python workers, first-touch caches
    op_fn = W.inc_op if wl.kind == "inc" else W.batch_op
    t0 = time.monotonic()
    for _ in range(WARMUP_OPS[wl.kind]):
        op_fn(spark, meter, wl, paths)
    warmup_s = time.monotonic() - t0
    setup_s = session_s + warmup_s

    # what the checks compare against, outside set-up and timing
    truth = W.load_truth(spark, wl, args.seed, paths)
    if wl.kind == "inc":
        truth.reference = W.reference_clusters(spark, wl, paths)
    n = truth.n_convs
    untraced = lambda: op_fn(spark, meter, wl, paths, truth)  # noqa: E731
    units = wl.batches if wl.kind == "inc" else 1
    ops, failed, attempted = [], 0, 0

    def run(fn):
        nonlocal failed, attempted
        attempted += units
        op = attempt(fn, wl, truth, paths, W.check)
        if op is None or op.failure:
            failed += units
        if op is not None:
            ops.append(op)
        return op

    traced = []
    if not args.trace:
        while sum(o.wall_s for o in ops) < args.seconds:
            if run(untraced) is None:
                break
    else:
        import tracing

        tracer = tracing.Tracer(spark, meter, run_id=os.path.basename(paths.run))
        traced_fn = (
            tracing.traced_inc_op if wl.kind == "inc" else tracing.traced_batch_op
        )
        # untraced before (warms the incremental path too) and after;
        # the one after is the baseline of the tracing overhead
        run(untraced)
        while sum(o.wall_s for o in traced) < args.seconds:
            i = len(traced)
            op = run(lambda: traced_fn(spark, meter, tracer, wl, paths, truth, i))
            if op is None:
                break
            traced.append(op)
        baseline = run(untraced)
        tracer.write(os.path.join(paths.run, "spans.json"))
    if not ops:
        raise RuntimeError(f"every {wl.name} operation raised")

    cpu_per_1k = [o.cpu_s / n * 1000 for o in ops]
    from energy_aware_entity_resolution_spark.operators.audit import (
        CPU_WATTS_PER_CORE,
    )

    rec = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "host": eng.facts(),
        "setup": {"session_s": session_s, "warmup_s": warmup_s},
        "input": {"conversations": n, "rows": truth.rows,
                  "bytes": W.dir_bytes(paths.input)},
        "attempted": attempted,
        "failed": failed,
        "ops": [
            {"wall_s": o.wall_s, "cpu_s": o.cpu_s, "peak_rss": o.peak_rss,
             "batch_walls": o.batch_walls, "recall": o.recall,
             "precision": o.precision, "failure": o.failure, **o.extra}
            for o in ops
        ],
        # a labelled model, not a measurement: no power meter is read
        "modeled_joules_per_1k_convs": statistics.median(cpu_per_1k)
        * CPU_WATTS_PER_CORE,
        "watts_per_core_model": CPU_WATTS_PER_CORE,
    }
    walls = [o.wall_s for o in ops]
    rec["values"] = {
        "wall_s": statistics.median(walls),
        "cpu_s_per_1k_convs": statistics.median(cpu_per_1k),
        "peak_rss_mb": max(o.peak_rss for o in ops) / 2**20,
        "setup_s": setup_s,
        "recall": statistics.median(o.recall for o in ops),
        "precision": statistics.median(o.precision for o in ops),
        "batch_p50_s": statistics.median(w for o in ops for w in o.batch_walls),
        "batch_last_s": statistics.median(o.batch_walls[-1] for o in ops),
        "state_bytes_per_conv": statistics.median(o.state_bytes for o in ops) / n,
    }
    if args.trace:
        rec["trace"] = {
            "spans": tracer.spans,
            "traced": traced,
            "baseline_wall_s": baseline.wall_s if baseline else None,
            "truth_pairs": len(truth.pairs),
            "n_convs": n,
        }
    return rec


def layer_values(rec: dict, event_dir: str) -> None:
    """Fold the (now closed) event log and the spans into the per-layer
    metric values of ``rec``."""
    import tracing

    tr = rec.pop("trace")
    traced, n = tr["traced"], tr["n_convs"]
    ops = list(range(len(traced)))
    v = tracing.layer_metrics(tr["spans"], tracing.fold_event_log(event_dir), ops)

    def med(key):
        vals = [o.extra[key] for o in traced if key in o.extra]
        return statistics.median(vals) if vals else 0.0

    total = statistics.median(o.wall_s for o in traced)
    layer_sum = sum(v[f"{layer}.wall_s"] for layer in tracing.LAYERS)
    v.update({
        "candidates.pairs_per_conv": v["candidates.rows_out"] / n,
        "candidates.recall": (
            statistics.median(o.candidate_hits or 0 for o in traced)
            / tr["truth_pairs"]
        ),
        "decision.match_yield": (
            v["decision.rows_out"] / v["scoring.rows_out"]
            if v["scoring.rows_out"] else 0.0
        ),
        "bands.max_block": med("bands.max_block"),
        "bands.oversize_blocks": med("bands.oversize_blocks"),
        "scoring.pairs_per_s": (
            v["scoring.rows_out"] / v["scoring.wall_s"]
            if v["scoring.wall_s"] else 0.0
        ),
        "trace.total_s": total,
        "trace.overhead_s": total - (tr["baseline_wall_s"] or total),
    })
    rec["values"].update(v)
    rec["layer_wall_sum_s"] = layer_sum
    rec["layer_wall_coverage"] = layer_sum / total
    rec["layers_without_tasks"] = [
        layer for layer in tracing.LAYERS
        if v[f"{layer}.wall_s"] and not v[f"{layer}.tasks"]
    ]


if __name__ == "__main__":
    sys.exit(main())
