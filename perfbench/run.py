"""Benchmark entry point.

    python3 perfbench/run.py --workload pack_bulk --seed 1 --seconds 10 --trace 0

Starts one Spark session on ``local[N]`` (N = min(4, cores)), generates
the workload's inputs from the seed, runs two untimed warm-up passes, then
serves a fixed number of the workload's passes in a closed loop (one
client thread): ``--seconds`` divided by the workload's nominal pass time,
at least one (two with tracing), so every run at any seed times the same
work. Prints
every metric with its unit and the output checks, then, as the last
line, one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics. Everything
it writes goes under ``.perfbench_work/`` and ``.perfbench_spans/`` at the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0,
        help="input size relative to the benchmark's (smoke tests use < 1)",
    )
    return ap.parse_args(argv)


# Untimed warm-up passes. After a single one the JIT still compiles
# through the next two passes: the first timed pass used up to 70% more
# CPU than the third, by an amount that swung with the host's load.
WARMUP_PASSES = 2

# Driver heap, fixed at start (-Xms) so the JVM never resizes it mid-run
# and its peak RSS follows the program's allocations, not resize timing.
HEAP = "2g"


def _start_spark(workload_cls, work: str):
    """Import the package from the checkout and start its session."""
    import polars_nexpresso_spark

    pkg = os.path.dirname(os.path.abspath(polars_nexpresso_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        raise SystemExit(f"polars_nexpresso_spark imported from {pkg}, not from {ROOT}")
    from polars_nexpresso_spark.session import get_spark

    cores = min(4, os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.memory": HEAP,
        # Compiler threads that never exit keep the JIT's CPU readable
        # (``jit_cpu_s`` in trace.py), so ``cpu_s`` can leave it out.
        "spark.driver.extraJavaOptions": (
            f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    spark = get_spark(app_name=f"perfbench-{workload_cls.name}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def _run_pass(wl, p: int, latencies: list[tuple[str, float]]) -> None:
    """Serve pass ``p``'s requests in order, one at a time."""
    for name, fn in wl.requests(p):
        rid = f"{name}#p{p}"
        t0 = time.perf_counter()
        try:
            with wl.tr.request(rid, name):
                fn(rid)
        except Exception as e:  # noqa: BLE001 — a failed request is a result
            wl.check(rid, False, f"{type(e).__name__}: {e}"[:300])
        latencies.append((name, time.perf_counter() - t0))


def main(argv: list[str]) -> str:
    """Run one benchmark run and return its result line."""
    args = _parse(argv)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    cls = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    # The data-derived oracles in the query registry read this dir at
    # import; pointing it at an empty dir keeps them off.
    os.environ["PNS_ORACLE_SF_DIR"] = os.path.join(work, "no-oracle-data")

    t_setup = time.perf_counter()
    spark, cores = _start_spark(cls, work)
    try:
        return _measure(args, cls, spark, cores, work, t_setup)
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, cls, spark, cores: int, work: str, t_setup: float) -> str:
    from perfbench.trace import LAYER_METRICS, LAYERS, Meter, Tracer

    start_s = time.perf_counter() - t_setup
    meter = Meter()
    tracer = Tracer(spark, cores=cores)

    # A traced run needs an untraced and a traced pass.
    passes = max(1 + args.trace, round(args.seconds / cls.pass_s))
    wl = cls(spark, tracer, work, args.seed, args.scale, WARMUP_PASSES + passes)
    wl.prepare()
    tracer.own_current_caches()
    prep_s = time.perf_counter() - t_setup - start_s
    # Warm-up: untimed passes over their own fresh inputs compile every
    # operation's code paths and fill per-session state (JIT, codegen
    # cache, the ANN indexes' per-corpus memos) before timing starts.
    for p in range(WARMUP_PASSES):
        _run_pass(wl, p, [])
    if wl.failed:
        raise SystemExit("warm-up failed: " + "; ".join(wl.notes))
    wl.drop_deferred_checks()
    setup_s = time.perf_counter() - t_setup

    meter.reset_peaks()
    latencies: list[tuple[str, float]] = []
    walls: dict[bool, list[float]] = {False: [], True: []}
    cpus: list[float] = []
    layer_runs: list[dict[str, float]] = []
    # The pass count depends only on the arguments: a time-boxed window
    # would time fewer passes on a slow host, and since passes still get
    # faster for a while after the warm-up, that would amplify the host's
    # noise. With tracing, timed passes alternate untraced and traced.
    for i in range(passes):
        p = WARMUP_PASSES + i
        traced = bool(args.trace) and i % 2 == 1
        tracer.set_enabled(traced)
        c0, w0 = meter.cpu_s(), time.perf_counter()
        _run_pass(wl, p, latencies)
        walls[traced].append(time.perf_counter() - w0)
        cpus.append(meter.cpu_s() - c0)
        if traced:
            layer_runs.append(tracer.layer_metrics())
    peak = meter.peak_rss_mb()
    wl.deferred_checks()

    failed = len(wl.failed)
    attempted = len(latencies)
    if args.trace:
        metrics = {
            name: (statistics.median(r[name] for r in layer_runs), unit)
            for layer in LAYERS
            for metric, unit in LAYER_METRICS.items()
            for name in [f"{layer}.{metric}"]
        }
        metrics["session.start_s"] = (start_s, "s")
        metrics["run_s"] = (statistics.fmean(walls[False]), "s")
        traced_s = statistics.fmean(walls[True])
        metrics["trace.run_s"] = (traced_s, "s")
        metrics["trace.overhead_s"] = (traced_s - statistics.fmean(walls[False]), "s")
        tracer.write(os.path.join(ROOT, ".perfbench_spans", f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            # Wall time per pass is reported by the traced run (``run_s``)
            # but is no end-to-end metric: on a shared VM its spread over
            # ten runs of the same code reached 0.35 of the median, while
            # CPU time's stayed under 0.13.
            "cpu_s": (statistics.fmean(cpus), "s"),
            "peak_rss_mb": (peak, "MB"),
        }

    print(f"# {args.workload} seed={args.seed} timed passes={passes} cores={cores} trace={args.trace}")
    print("# pass walls: " + " ".join(f"{w:.3f}" for w in walls[False] + walls[True]))
    print("# pass cpu:   " + " ".join(f"{c:.3f}" for c in cpus))
    print(f"# setup: session {start_s:.2f}s, inputs {prep_s:.2f}s, warm-up {setup_s - start_s - prep_s:.2f}s")
    for name in dict.fromkeys(n for n, _ in latencies):
        ts = [t for n, t in latencies if n == name]
        print(f"# request {name:28s} median {statistics.median(ts):.3f}s over {len(ts)}")
    for name, (value, unit) in metrics.items():
        print(f"{name:40s} {value:14.6f} {unit}")
    print(f"checks: {attempted} requests, {failed} failed")
    for line in wl.info:
        print(f"  {line}")
    for note in wl.notes:
        print(f"  FAILED {note}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return json.dumps(result)


if __name__ == "__main__":
    line = main(sys.argv[1:])
    # The result line is printed only after the JVM has stopped, so no
    # late JVM output can follow it.
    print(line)
