#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload build_highkey --seed 1 \
        --seconds 8 --trace 0

Spark runs at local[nproc]. The run is a closed loop with one client:
each operation builds its DataFrame fresh, collects its answer (every
row, or per-group sums that read every answer column, so Catalyst can
prune none of the work) and checks it against an exact reference before
the next one starts. Whole cycles of the workload's operations run until
``--seconds`` have passed (and at least ``MIN_CYCLES`` cycles), so every
operation type is sampled equally often.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables the
Spark event log and job groups and prints the per-layer metrics. The
second-to-last stdout line is a JSON report with every metric, its unit
and sample counts; the last line is the result object
``{"correct", "attempted", "failed", "metrics"}``. Exit code 0 means a
result was printed; any set-up error exits non-zero without one.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("build_transcripts", "build_highkey", "query_sketches",
                  "text_pipeline")

# at least this many whole cycles of the workload's operations
MIN_CYCLES = 2
DRIVER_MEM = "2g"

# the result line's metrics with --trace 0 (BENCHMARK.json end_to_end);
# the report line also carries op_s_tail, max_rank_err, count_rel_err and
# failed_ops_ratio
GATED = ("setup_s", "rows_per_s", "op_s_p50", "peak_rss_mb")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _start_spark(run_dir: str, trace: bool):
    from gr_tdigest_spark.plans import get_spark

    tmp = os.path.join(run_dir, "tmp")
    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # commit and touch the whole heap at start: G1 otherwise grows it
        # by GC timing, which moved the JVM's RSS by +-15% between runs
        # of identical work. So peak_rss_mb holds the whole heap as a
        # constant and moves only with off-heap and Python memory; the
        # heap's own use cannot show in it (its pools' peak reads ~the
        # full heap anyway, as G1 fills eden before each collection).
        # No hsperfdata either: it would land in /tmp.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            "-XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # the spark-submit launcher is a JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app="perfbench", cores=cores, extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_spark(spark) -> None:
    """Stop Spark, then the JVM, and wait until the JVM and every Python
    worker it started have exited."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 15
        while any(_alive(p) for p in procs) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in procs:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        for p in procs:
            try:
                os.waitpid(p, 0)
            except ChildProcessError:
                pass


def _identity_batches(batches):
    yield from batches


def _run_op(op, op_id, tracer, failures):
    """One closed-loop operation: (wall seconds, OpResult or None). The
    wall time runs from the operator call through the collected answer;
    the answer check that follows is not timed."""
    start = tracer.begin_op(op_id, op.name)
    tracer.last_action_end = None
    t0 = time.perf_counter()
    try:
        res = op.fn(tracer)
    except Exception as exc:  # a failed operation is counted, not fatal
        res = None
        if op.name not in failures:
            failures[op.name] = "".join(
                traceback.format_exception_only(type(exc), exc)).strip()
            traceback.print_exc(file=sys.stderr)
    wall = (tracer.last_action_end or time.perf_counter()) - t0
    tracer.end_op(op.name, start)
    return wall, res


def _cpu_times():
    """(steal, total) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def run(args, run_dir: str) -> tuple:
    from perfbench import fixtures, kernels, tracing
    from perfbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    paths = fixtures.ensure(os.path.join(HERE, ".work", "fixtures"))
    # the fixture files exist before a run in real use; their one-off
    # generation (first run of a checkout) is not part of set-up
    fixture_s = time.perf_counter() - t0
    with tracing.RssSampler() as rss:
        t0 = time.perf_counter()
        spark, cores = _start_spark(run_dir, bool(args.trace))
        get_spark_s = time.perf_counter() - t0
        try:
            sc = spark.sparkContext
            tracer = tracing.Tracer(sc, bool(args.trace))
            if args.trace:
                sc.setJobGroup("pb|setup", "set-up")
            wl = WORKLOADS[args.workload](spark, paths, args.seed)
            t0 = time.perf_counter()
            wl.setup()
            input_s = time.perf_counter() - t0
            wl.prepare_checks()
            ops = wl.ops()
            failures: dict = {}
            t0 = time.perf_counter()
            for c in range(wl.WARMUP_CYCLES):
                for i, op in enumerate(ops):
                    _run_op(op, -1 - i - c * len(ops), tracer, failures)
            warmup_s = time.perf_counter() - t0

            samples = []  # (op name, wall, OpResult | None)
            cpu0 = _cpu_times()
            t_begin = time.perf_counter()
            setup_s = t_begin - T_START - fixture_s
            op_id = cycles = 0
            while True:
                for op in ops:
                    wall, res = _run_op(op, op_id, tracer, failures)
                    samples.append((op.name, wall, res))
                    op_id += 1
                cycles += 1
                elapsed = time.perf_counter() - t_begin
                if elapsed >= args.seconds and cycles >= MIN_CYCLES:
                    break
            timed_s = time.perf_counter() - t_begin
            cpu1 = _cpu_times()

            layers = {}
            if args.trace:
                sc.setJobGroup("pb|aux|identity", "identity mapInArrow")
                layers.update(_arrow_identity(wl))
                t0 = time.perf_counter()
                layers.update(kernels.replay(wl.kernel_input(), wl.qs))
                sys.stderr.write(
                    f"kernel replay {time.perf_counter() - t0:.2f} s\n")
        finally:
            _stop_spark(spark)

    walls = [w for _, w, _ in samples]
    by_type: dict = {}
    for name, w, _ in samples:
        by_type.setdefault(name, []).append(w)
    type_p50 = {name: statistics.median(ws) for name, ws in by_type.items()}
    # every type runs equally often; taking each type's median first
    # keeps one noisy sample of a neighbouring type from moving the
    # result (halved the run-to-run spread on build_highkey)
    op_s_p50 = statistics.median(type_p50.values())
    ok = [r for _, _, r in samples if r is not None]
    failed = len(samples) - len(ok)
    tail_p, tail_v, beyond = tracing.tail_percentile(walls)
    rank = [r.rank_err for r in ok if r.rank_err is not None]
    count = [r.count_err for r in ok if r.count_err is not None]
    n = len(samples)

    def entry(value, unit, samples, **extra):
        return dict(value=value, unit=unit, samples=samples, **extra)

    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "timed_s": timed_s, "cycles": cycles,
        # share of the machine's CPU time taken by the hypervisor while
        # the operations ran: a slow run with high steal was a noisy host
        "cpu_steal_share": (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]),
        "failures": failures,
        "setup": {"fixture_s": fixture_s, "get_spark_s": get_spark_s,
                  "input_s": input_s,
                  "warmup_s": warmup_s},
        # every end-to-end metric, gated (result line) or not
        "metrics": {
            "setup_s": entry(setup_s, "s", 1),
            # per second inside the operations: the answer checks between
            # them are the benchmark's own work
            "rows_per_s": entry(sum(r.rows for r in ok) / sum(walls), "1/s",
                                n),
            "op_s_p50": entry(op_s_p50, "s", n),
            "op_s_tail": entry(tail_v, "s", n, percentile=tail_p,
                               beyond=beyond),
            "peak_rss_mb": entry(rss.peak_bytes / 2 ** 20, "MB", 1),
            "max_rank_err": entry(max(rank) if rank else None, "rank",
                                  len(rank)),
            "count_rel_err": entry(max(count) if count else None, "ratio",
                                   len(count)),
            "failed_ops_ratio": entry(failed / n, "ratio", n),
        },
        "op_walls": [[m, w, r is not None] for m, w, r in samples],
        "per_op_s_p50": type_p50,
    }
    metrics = {k: {"value": report["metrics"][k]["value"],
                   "unit": report["metrics"][k]["unit"]} for k in GATED}
    if args.trace:
        log = tracing.read_event_log(os.path.join(run_dir, "events"))
        spans = os.path.join(HERE, ".work", "spans",
                             f"{args.workload}-seed{args.seed}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        tracer.dump(spans)
        report["spans_file"] = os.path.relpath(spans, ROOT)
        per_layer, per_type, per_fn = tracing.layer_metrics(
            log, tracer.spans, samples, cores)
        per_layer.update(layers)
        per_layer["sources.input_s"] = input_s
        per_layer["plans.get_spark_s"] = get_spark_s
        per_layer["trace.op_s_p50"] = op_s_p50
        report["per_layer"] = per_layer
        report["per_op_type"] = per_type
        report["per_function"] = per_fn
        metrics = {k: {"value": v, "unit": tracing.LAYER_UNITS[k]}
                   for k, v in per_layer.items()}
    return report, {
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": metrics,
    }


def _arrow_identity(wl) -> dict:
    """Identity mapInArrow over the input of the workload's Python
    stage: the Arrow boundary's cost without any sketch work."""
    from pyspark.sql import functions as F

    df = wl.identity_input()
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        df.mapInArrow(_identity_batches, df.schema).agg(
            F.count("*")).collect()
        times.append(time.perf_counter() - t0)
    return {"arrow.identity_s": statistics.median(times)}


def main(argv=None) -> int:
    args = _parse(argv)
    if sys.path and os.path.abspath(sys.path[0]) == HERE:
        sys.path.pop(0)  # no shadowing of stdlib names by this directory
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import gr_tdigest_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the library: {exc}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Spark's shuffle files, pyspark's temp files and the JVM's tmpdir
    # all stay inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    try:
        report, result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
