"""Benchmark entry point: one workload, one seed, one report.

    python3 perfbench/run.py --workload warehouse_refresh --seed 1 \\
        --seconds 35 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
under ``.perfbench_work/`` (it writes nothing outside the checkout), drives the workload through the package's public API on
``local[2]`` from this one process, pinned to two cores, checks the outputs against DuckDB
outside the timed region, and prints every metric as ``name value unit``.
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.

``--seconds`` sets the amount of work, not a deadline: each workload runs
a fixed number of ops per second of budget (``OPS_PER_SECOND``), sized so
the measured part takes about that long on two cores of a 4-core host. Fixing the work
keeps ``run_s`` a measure of speed.

The traced run (``--trace 1``) reports ``trace.run_s``; the tracing
overhead is that minus the untraced ``run_s`` of the same seed. Spans and
the per-op accounting go to ``.perfbench_work/traces/<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Cores the run may use, and Spark's task threads. The ops are driver-bound
#: at these input sizes: each hands work back and forth between this
#: process, the JVM's driver and its task threads. Spread over all four
#: cores of a shared host, a run slowed by four to seven times the share of
#: CPU time the host stole, likely because a hand-off to an idle core waits
#: until the host runs that core again. On two cores the threads mostly hand
#: work to a core that is already running.
CPUS = 2
DRIVER_MEMORY = "2g"
#: warm ops per second of ``--seconds``: sized on two cores so that the
#: cold first op plus the warm ops take about ``--seconds``
OPS_PER_SECOND = {
    "warehouse_refresh": 0.12,
    "journal_upsert": 0.4,
    "corpus_curation": 0.12,
}
MIN_WARM_OPS = 2

END_TO_END = [
    ("setup_s", "s"), ("run_s", "s"), ("rows_per_s", "rows/s"),
    ("op_p50_s", "s"), ("peak_rss_mb", "MB"),
    ("stored_bytes_per_input_byte", "ratio"),
]
#: printed with every run but left out of the JSON: the cold op and the
#: slowest warm op are one sample each per run, too few to be steady from
#: run to run, and the ratio reads 0 on a correct run, which a gated metric
#: must never do
INFO = [("first_op_s", "s"), ("op_tail_s", "s"), ("failed_op_ratio", "ratio")]


def _pin_environment(work: str) -> None:
    """Pin cores, heap and every temp location before the JVM starts."""
    cores = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cores[-CPUS:])  # the JVM inherits it
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = tmp


def _confs(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap and young generation: G1 then never resizes on
        # timing, so the JVM's peak RSS tracks what the run allocates
        "spark.driver.extraJavaOptions": (
            f"-Dlog4j2.configurationFile=file:{_log4j(work)} "
            f"-Xms{DRIVER_MEMORY} -Xmn512m -XX:-G1UseAdaptiveIHOP"
        ),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }


def _log4j(work: str) -> str:
    """Errors only, to stderr: keeps Spark's log noise out of the report."""
    path = os.path.join(work, "log4j2.properties")
    with open(path, "w") as fh:
        fh.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    return path


def _since_process_start() -> float:
    """Seconds since this process started (boot clock vs /proc start time)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def _start_session(work: str, tracer):
    """``SessionFactory.build()`` plus one trivial job; returns (spark, s)."""
    from dwh_etl_framework_spark import SessionFactory

    with tracer.span("session:SessionFactory.build"):
        spark = SessionFactory(app_name="perfbench",
                               extra_confs=_confs(work)).build()
    tracer.spark = spark
    with tracer.span("session:first_job"):
        spark.range(1).count()
    return spark, _since_process_start()


def _stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _peak_rss_mb() -> dict:
    """High-water RSS (VmHWM, from /proc) of this process and of its JVM."""
    from pyspark import SparkContext

    pids = {"python": os.getpid(), "jvm": SparkContext._gateway.proc.pid}
    out = {}
    for name, pid in pids.items():
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    out[name] = int(line.split()[1]) / 1024.0
    return out


def _du(path: str, skip=("_checkpoint",)) -> int:
    total = 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if d not in skip]
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in filenames)
    return total


def _generate(workload: str, root: str, seed: int, files: int) -> dict:
    import gen

    if workload == "warehouse_refresh":
        return gen.gen_warehouse(root, seed)
    if workload == "journal_upsert":
        return gen.gen_journal(root, seed, files)
    return gen.gen_corpus(root, seed, files)


def _tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least ten
    samples beyond it. Below 20 samples that percentile would not lie
    above the median, so the maximum is reported instead (p100)."""
    xs = sorted(samples)
    if len(xs) < 20:
        return xs[-1], 100.0
    return xs[len(xs) - 11], 100.0 * (len(xs) - 10) / len(xs)


def run(args) -> dict:
    from spans import NullTracer, Tracer

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    _pin_environment(work)
    tracer = Tracer() if args.trace else NullTracer()
    spark, setup_s = _start_session(work, tracer)
    try:
        return _measure(args, work, tracer, spark, setup_s)
    finally:
        try:
            _stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def _measure(args, work, tracer, spark, setup_s) -> dict:
    import check
    import workloads

    n_ops = max(MIN_WARM_OPS, round(args.seconds * OPS_PER_SECOND[args.workload]))
    inputs, out = os.path.join(work, "inputs"), os.path.join(work, "out")
    t = time.time()
    # streams: one file per trigger; journal_upsert's first trigger is its
    # cold op, corpus_curation's cold op is the batch pass
    files = n_ops + (args.workload == "journal_upsert")
    props = _generate(args.workload, inputs, args.seed, files)
    gen_s = time.time() - t
    os.makedirs(out, exist_ok=True)
    ctx = workloads.Ctx(spark=spark, tracer=tracer, inputs=inputs, out=out,
                        ops=n_ops, props=props)
    if args.trace:
        tracer.install()
    try:
        ops = workloads.WORKLOADS[args.workload](ctx)
    finally:
        if args.trace:
            tracer.uninstall()
    rss = _peak_rss_mb()  # before the checks, which load DuckDB
    t = time.time()
    try:
        bad, info = getattr(check, args.workload)(inputs, out, ops, ctx.notes)
    except Exception as exc:  # an unrunnable check fails every op
        bad, info = {o["op"] for o in ops}, {"check_error": repr(exc)[:300]}
    check_s = time.time() - t
    for o in ops:
        if o["op"] in bad:
            o["ok"] = False
    t0, t1 = ctx.notes.get("run_window",
                           (ops[0]["start"], max(o["end"] for o in ops)))
    run_s = t1 - t0
    warm = [o["end"] - o["start"] for o in ops[1:] if o["ok"]]
    # no successful warm op: the run fails, and 0 stands in for the latency
    tail, tail_pct = _tail(warm) if warm else (0.0, 0.0)
    failed = sum(not o["ok"] for o in ops)
    input_bytes = props["input_bytes"]
    e2e = {
        "setup_s": setup_s,
        "first_op_s": ops[0]["end"] - ops[0]["start"],
        "run_s": run_s,
        "rows_per_s": sum(o["rows"] for o in ops if o["ok"]) / run_s,
        "op_p50_s": statistics.median(warm) if warm else 0.0,
        "op_tail_s": tail,
        "peak_rss_mb": sum(rss.values()),
        "stored_bytes_per_input_byte": _du(out) / input_bytes,
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "cpus": CPUS, "driver_memory": DRIVER_MEMORY,
        "inputs": props, "gen_s": gen_s, "check_s": check_s, "check": info,
        "ops": len(ops), "warm_ops": len(warm), "peak_rss_mb": rss,
        "op_tail_percentile": tail_pct, "op_tail_samples": len(warm),
        "errors": sorted({o["error"] for o in ops if "error" in o})
        + ([ctx.notes["stream_error"]] if "stream_error" in ctx.notes else []),
    }
    e2e["failed_op_ratio"] = failed / len(ops)
    report["info"] = {name: {"value": e2e[name], "unit": unit}
                      for name, unit in INFO}
    metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    if args.trace:
        metrics = _traced_metrics(tracer, ctx, ops, run_s, report)
    return {"report": report, "failed": failed, "attempted": len(ops),
            "metrics": metrics}


def _traced_metrics(tracer, ctx, ops, run_s, report) -> dict:
    import layers

    values = tracer.fold()
    values.update(layers.derived(tracer, ctx, ops, report["check"]))
    values["trace.run_s"] = run_s
    acct = tracer.op_accounting()
    values["trace.unexplained_s"] = sum(a["unexplained_s"] for a in acct)
    trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    fname = f"{report['workload']}-{report['seed']}.json"
    tracer.dump(os.path.join(trace_dir, fname),
                {"report": report, "metrics": values})
    return {name: {"value": values.get(name, 0.0), "unit": unit}
            for name, unit in layers.PER_LAYER}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(OPS_PER_SECOND), required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=35)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:  # fail before any work when the package is not beside the benchmark
        import dwh_etl_framework_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package: {exc}", file=sys.stderr)
        return 2

    result = run(args)
    rep = result["report"]
    for key in ("inputs", "check", "peak_rss_mb", "errors"):
        print(f"# {key}: {json.dumps(rep[key], default=str)}")
    print(f"# ops {rep['ops']} (warm {rep['warm_ops']}), op_tail_s is "
          f"p{rep['op_tail_percentile']:.1f} of {rep['op_tail_samples']} samples")
    for name, m in {**rep["info"], **result["metrics"]}.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": result["failed"] == 0, "attempted": result["attempted"],
        "failed": result["failed"], "metrics": result["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
