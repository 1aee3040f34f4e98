"""Benchmark entry point.

    python3 perfbench/run.py --workload nightly_batch --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Workloads: nightly_batch and
lookup_mix; daily_load and corpus_dedup are the two halves of
nightly_batch on their own (see README.md). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. The line
before it is the full report (generated-input properties, every
per-layer figure measured, self time per layer, check failures).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))  # the checkout root: the program

END_TO_END = {
    "setup_s": "s",
    "batch_p50_s": "s",
    "records_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=["nightly_batch", "lookup_mix", "daily_load", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _wall_shares(tr, intervals: list[tuple[float, float]]) -> dict[str, float]:
    total = sum(b - a for a, b in intervals)
    if not total:
        return {}
    out = {k: v / total for k, v in sorted(tr.self_times(intervals).items(), key=lambda kv: -kv[1])}
    out["(outside spans)"] = 1 - sum(out.values())
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    import sstable_migrator_spark  # noqa: F401  (fails fast outside a checkout)

    from common import log, make_workdir, median, peak_rss_mb, start_spark, stop_spark
    from layers import PER_LAYER, per_layer_metrics
    from spans import NullTracer, Tracer
    from workloads import WORKLOADS

    work = make_workdir(args.workload, args.seed)
    tr = Tracer() if args.trace else NullTracer()
    wl = WORKLOADS[args.workload](args.seed, work, tr)
    excluded = 0.0  # input generation and output checks inside setup
    attempted = failed = 0
    walls: dict[int, float] = {}
    spans_in: list[tuple[float, float]] = []  # recorded batches, start and end
    records: dict[int, int] = {}
    spark = None
    try:
        with tr.span("session.get_spark"):
            spark = start_spark(work)
        wl.setup(spark)
        excluded += wl.gen_s + wl.setup_check_s
        attempted, failed = wl.setup_checks

        def one(i: int, timed: bool) -> None:
            nonlocal attempted, failed, excluded
            t = time.perf_counter()
            wl.inputs(i)
            if not timed:
                excluded += time.perf_counter() - t
            tr.batch = str(i)
            wl.cur = i
            # a traced run records every other timed batch: the rest
            # measure the same run untraced, for the overhead figure
            tr.active = bool(args.trace) and timed and i % 2 == 1
            try:
                t_batch = time.perf_counter()
                n = wl.batch(i)
                wall = time.perf_counter() - t_batch
                t = time.perf_counter()
                a, f = wl.check(i)
                if tr.active:
                    wl.probe(i)
                if not timed:
                    excluded += time.perf_counter() - t
                attempted += a
                failed += f
                if timed:
                    walls[i], records[i] = wall, n
                if tr.active:
                    spans_in.append((t_batch, t_batch + wall))
            except Exception:  # noqa: BLE001 - a failed batch is counted, the run goes on
                log(traceback.format_exc())
                attempted += 1
                failed += 1
                wl.failures.append(f"batch {i} raised")
            finally:
                if i > 0:
                    wl.retire(i - 1)

        # warm-up, one cycle: the first batch of each kind pays JIT and cache costs
        for i in range(wl.CYCLE):
            one(i, timed=False)
        setup_s = time.perf_counter() - T_START - excluded
        deadline = time.perf_counter() + args.seconds
        start = i = wl.CYCLE
        # whole cycles; a traced run measures an even number of them, so
        # its recorded and unrecorded batches hold the same mix
        period = wl.CYCLE * (2 if args.trace else 1)
        while time.perf_counter() < deadline or (i - start) % period:
            one(i, timed=True)
            i += 1
        rss = peak_rss_mb()
    finally:
        wl.close()
        if spark is not None:
            stop_spark(spark)

    recorded = [w for k, w in walls.items() if k % 2 == 1]
    unrecorded = [w for k, w in walls.items() if k % 2 == 0]
    batch_walls = recorded if args.trace else list(walls.values())
    e2e = {
        "setup_s": setup_s,
        "batch_p50_s": median(batch_walls),
        "records_per_s": sum(records.values()) / sum(walls.values()) if walls else 0.0,
        "peak_rss_mb": rss,
    }
    layers = per_layer_metrics(wl, tr, attempted, failed)
    if args.trace:
        layers["bench.trace_overhead_s"] = median(recorded) - median(unrecorded) if unrecorded else 0.0
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "batches": len(walls),
        "batch_walls_s": [walls[k] for k in sorted(walls)],
        "end_to_end": e2e,
        "per_layer": layers,
        "self_time_s": tr.self_times() if args.trace else {},
        # each layer's self time inside the recorded batches, as a share of
        # their wall; "(outside spans)" is the rest: reads set up by the
        # benchmark, its own bookkeeping, Python between calls
        "batch_wall_share": _wall_shares(tr, spans_in) if args.trace else {},
        "inputs": wl.props,
        "failures": wl.failures[:20],
    }
    if args.trace:
        spans_path = os.path.join(HERE, "_work", f"spans-{args.workload}-{args.seed}.json")
        tr.dump(spans_path)
        report["spans_file"] = os.path.relpath(spans_path, os.path.dirname(HERE))
    shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
