"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload scan_local --seed 1 --seconds 6 --trace 0

Run from the root of a checkout of the repository: the library under test
is imported from there. ``--trace 0`` measures the end-to-end metrics over
``--seconds`` seconds of ops; ``--trace 1`` runs one fixed round of ops
untraced, the same round traced, and then replays the round's
executor-side work in this process, and reports the per-layer ledger.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
holds the run context and the workload's own detail. Spans of a traced run
are written to ``.perfbench_work/<workload>/spans.jsonl``. See
perfbench/METRICS.md for what every metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import mdio_cpp_spark  # noqa: E402,F401  the library under test; fails outside a checkout

from perfbench import harness, tracing  # noqa: E402
from perfbench.workloads import MIB, WORKLOADS, Op  # noqa: E402

SETUP_REPEATS = 3
# fewest timed rounds, so every op kind has a median of at least three
MIN_ROUNDS = 3


def _run_op(w, op: Op, checking=contextlib.nullcontext) -> tuple[float, bool]:
    """(seconds, passed) — the check runs after the clock stops, inside
    ``checking()``."""
    t0 = time.perf_counter()
    try:
        w.run(op)
        ok = True
    except Exception:  # an op failure is a result, counted in ``failed``
        traceback.print_exc()
        ok = False
    dt = time.perf_counter() - t0
    if ok:
        try:
            with checking():
                ok = w.check(op)
        except Exception:
            traceback.print_exc()
            ok = False
    return dt, ok


def warm_up(w) -> tuple[int, int]:
    """One untimed round, so lazy imports in the Python workers and the
    first JIT compilation are done before the clock runs; its ops are still
    checked and counted. One round only: later rounds of slice_remote would
    edit other windows and make a traced round's byte counts depend on
    timing."""
    failed = 0
    for op in itertools.islice(w.ops(), w.ROUND):
        failed += not _run_op(w, op)[1]
    return w.ROUND, failed


def timed_loop(w, seconds: float) -> dict:
    """Closed loop, one client: after the warm-up, whole rounds of ops until
    ``seconds`` of op time and at least MIN_ROUNDS rounds have been
    measured."""
    attempted, failed = warm_up(w)
    warm = attempted
    ops = w.ops()
    lat: dict[str, list[float]] = {}
    size: dict[str, list[int]] = {}
    wall = 0.0
    logical = 0
    while wall < seconds or attempted % w.ROUND or attempted - warm < MIN_ROUNDS * w.ROUND:
        op = next(ops)
        dt, ok = _run_op(w, op)
        attempted += 1
        failed += not ok
        wall += dt
        logical += op.logical_bytes
        lat.setdefault(op.kind, []).append(dt)
        size.setdefault(op.kind, []).append(op.logical_bytes)
    return {"lat": lat, "size": size, "rounds": (attempted - warm) // w.ROUND,
            "attempted": attempted, "failed": failed, "wall": wall, "logical": logical}


def end_to_end(w, loop: dict, setup: list[float], rss_mib: float) -> tuple[dict, dict]:
    reads = {kind: xs for kind, xs in loop["lat"].items() if kind != "edit"}
    # kinds differ in cost by design, so a median over the mix would sit on
    # the boundary between two kinds; average the per-kind medians instead
    op_median = sum(harness.median(xs) for xs in reads.values()) / len(reads)
    # a median round: each kind's median bytes over its median latency, so a
    # single slow op (a GC pause, a co-tenant burst) does not move the figure
    kinds = loop["lat"]
    per_round = {k: len(xs) / loop["rounds"] for k, xs in kinds.items()}
    round_bytes = sum(n * harness.median(loop["size"][k]) for k, n in per_round.items())
    round_s = sum(n * harness.median(kinds[k]) for k, n in per_round.items())
    metrics = {
        "setup_s": (harness.median(setup), "s"),
        "throughput_mib_per_s": (round_bytes / MIB / round_s, "MiB/s"),
        "op_median_ms": (op_median * 1e3, "ms"),
        "peak_rss_mib": (rss_mib, "MiB"),
        "bytes_stored_per_byte": (w.stored / w.logical_bytes(), "ratio"),
    }
    detail = {
        "failed_op_ratio": loop["failed"] / loop["attempted"],
        "ops": {k: len(v) for k, v in loop["lat"].items()},
        "p50_ms": {k: harness.median(v) * 1e3 for k, v in loop["lat"].items()},
        "setup_runs_s": setup,
        "op_wall_s": loop["wall"],
        "mean_throughput_mib_per_s": loop["logical"] / MIB / loop["wall"],
        "lat_ms": {k: [round(x * 1e3, 1) for x in v] for k, v in loop["lat"].items()},
    }
    all_reads = [x for xs in reads.values() for x in xs]
    t = harness.tail(all_reads)
    if t is not None:
        detail["tail"] = {"percentile": t[0], "ms": t[1] * 1e3, "samples": len(all_reads)}
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, detail


def traced_round(w, spark, work: str) -> tuple[dict, dict, int, int]:
    """Untraced round, the same round traced, then the in-process replay."""
    def round_ops():
        return list(itertools.islice(w.ops(), w.ROUND))

    attempted, failed = warm_up(w)
    untraced = 0.0
    for op in round_ops():
        dt, ok = _run_op(w, op)
        untraced += dt
        attempted += 1
        failed += not ok

    tracer = tracing.Tracer()
    ledger = tracing.SparkLedger(spark) if spark is not None else None
    server = getattr(w, "server", None)
    traced = 0.0
    requests: list[int] = []
    edited = 0
    ops = round_ops()
    with tracer.installed():
        for i, op in enumerate(ops):
            tracer.trace_id = i + 1
            if server is not None:
                server.clear()
            with tracer.span(f"op.{op.kind}"), \
                    (ledger.recording() if ledger else contextlib.nullcontext()):
                dt, ok = _run_op(w, op, tracer.paused)
            traced += dt
            attempted += 1
            failed += not ok
            if server is not None:
                n = len(server.log())
                if op.kind == "edit":
                    edited += op.logical_bytes
                else:
                    requests.append(n)
            if ledger is not None:
                ledger.snapshot()
        for i, op in enumerate(ops):
            tracer.trace_id = i + 1
            with tracer.span(f"replay.{op.kind}"):
                w.replay(op)
    metrics = tracing.layer_metrics(tracer)
    metrics["kvstore.requests_per_slice"] = (sum(requests) / len(requests)
                                             if requests else 0.0)
    metrics["kvstore.write_amplification"] = (metrics["kvstore.bytes_written"] / edited
                                              if edited else 0.0)
    spark_totals = ledger.totals if ledger is not None else dict.fromkeys(
        tracing.SPARK_METRICS + tracing.HANDOFF_METRICS, 0.0)
    metrics.update(spark_totals)
    run_s = spark_totals["spark.executor_run_s"]
    metrics["spark.cpu_utilization"] = (spark_totals["spark.executor_cpu_s"] / run_s
                                        if run_s else 0.0)
    metrics["trace.overhead_s"] = traced - untraced
    metrics["trace.spans"] = len(tracer.spans)
    tracer.write(os.path.join(work, "spans.jsonl"))
    detail = {"untraced_round_s": untraced, "traced_round_s": traced,
              "round_ops": w.ROUND}
    return metrics, detail, attempted, failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench",
                    help="input size; 'tiny' is for the determinism self-test")
    args = ap.parse_args(argv)

    work = harness.fresh_dir(os.path.join(ROOT, harness.WORK_DIR, args.workload))
    harness.prepare_environment(work)
    context = harness.run_context(args.seed)
    w = WORKLOADS[args.workload](args.seed, args.size)
    spark = None
    session_start = None
    try:
        with harness.RssSampler() as rss:
            if w.uses_spark:
                t0 = time.perf_counter()
                spark = harness.start_spark()
                session_start = time.perf_counter() - t0
            setup: list[float] = []
            for rep in range(SETUP_REPEATS):
                rep_dir = harness.fresh_dir(os.path.join(work, f"setup-{rep}"))
                t0 = time.perf_counter()
                w.setup(rep_dir, spark)
                setup.append(time.perf_counter() - t0)
                if rep:
                    shutil.rmtree(os.path.join(work, f"setup-{rep - 1}"), ignore_errors=True)
            ticks = harness.cpu_ticks()
            if args.trace:
                layers, detail, attempted, failed = traced_round(w, spark, work)
            else:
                loop = timed_loop(w, args.seconds)
                attempted, failed = loop["attempted"], loop["failed"]
            context["cpu_steal_share"] = harness.steal_share(ticks, harness.cpu_ticks())
    finally:
        w.teardown()
        if spark is not None:
            spark.stop()
        harness.shutdown_jvm()
    left = harness.wait_children_gone()
    if left:
        print(f"processes still running: {left}", file=sys.stderr)
        return 1
    if args.trace:
        metrics = {k: {"value": v, "unit": tracing.unit_of(k)} for k, v in sorted(layers.items())}
    else:
        metrics, detail = end_to_end(w, loop, setup, rss.peak_mib)
    detail["session_start_s"] = session_start
    context["load1_end"] = os.getloadavg()[0]
    print(json.dumps({"workload": args.workload, "trace": args.trace,
                      "context": context, "detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
