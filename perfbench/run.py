"""Benchmark of the AutoML fit/predict path and the corpus curation
chain.

    python3 perfbench/run.py --workload autots_single --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One process is one run: it writes the
seeded inputs under ``perfbench/.work/``, starts the library's Spark
session with ``SPARK_GRAFT_CPUS`` set to the core count and one Python
worker per core (``setup_s``), then runs ops one at a time, a closed
loop with one client, until ``--seconds`` have passed; at least one op
always runs. The first op of a process pays for compiling its own query
plans, as a one-shot fit or curation job does; an op that ends after
``--seconds`` is the only op of its run. Every op's output is checked.

The last line of standard output is one JSON object with the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics of
``tracing.py``. The lines before it are a readable summary and the host
context.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import machine  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# the whole run ends within this many seconds, hung ops included
RUN_LIMIT_S = 170
# the end-to-end metrics; the op's two phases, build_s and apply_s, are
# too short or too close to op_s to hold a bound on a shared host, so a
# traced run reports them as op.build_s and op.apply_s
END_TO_END = ("setup_s", "op_s")
# metric name -> what it is called for each workload in the summary
ALIASES = {
    "autots_single": {"build_s": "fit_s", "apply_s": "predict_s"},
    "curate_full": {"op_s": "curate_s"},
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str, trace: bool) -> str:
    """Environment for the Spark JVM and its Python workers, set before
    pyspark starts. Every file Spark, Java and Python write goes under
    ``work``. Returns the event-log directory."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(machine.ncpus())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]  # fmt: skip
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*submit, "pyspark-shell"])
    return events


def jvm_process():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit. The JVM stops its
    Python worker daemon before it exits."""
    from pyspark import SparkContext

    gateway, proc = SparkContext._gateway, jvm_process()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def start_workers(spark, n: int) -> None:
    """Start one Python worker per core with numpy, pandas and pyarrow
    imported, as resident executors of a long-lived cluster have them.
    Nothing here is specific to a workload: each op still compiles its
    own plans and imports the library in the workers."""
    from pyspark.sql import functions as F

    def imports(pdf):
        import numpy  # noqa: F401
        import pyarrow  # noqa: F401

        return pdf

    (
        spark.range(n)
        .withColumn("g", F.col("id") % n)
        .groupBy("g")
        .applyInPandas(imports, "id long, g long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def run_op(wl, spark, inp: dict, tracer, op_id: str) -> tuple[dict, str]:
    """One op: build, apply once (the op ends here), check, then apply
    ``wl.settle`` + ``wl.reapply`` more times on the same build, each
    output checked; ``apply_s`` is the median of the last ``wl.reapply``.
    Traced spans and jobs count toward the op only up to its end; the
    checks and re-applies are traced as op ``<op_id>-after``."""

    def apply():
        action = wl.apply(handle, inp).toPandas
        return tracer.span("toPandas", "sink", action) if tracer else action()

    if tracer:
        tracer.begin_op(op_id)
    t0 = time.perf_counter()
    handle = wl.build(spark, inp)
    t1 = time.perf_counter()
    pdf = apply()
    t2 = time.perf_counter()
    if tracer:
        tracer.begin_op(f"{op_id}-after")
    digest = wl.check(handle, pdf, inp)
    warm = []
    for i in range(wl.settle + wl.reapply):
        began = time.perf_counter()
        pdf = apply()
        if i >= wl.settle:
            warm.append(time.perf_counter() - began)
        if wl.check(handle, pdf, inp) != digest:
            raise checks.CheckFailed("a re-applied output differs from the first")
    return {"op_s": t2 - t0, "build_s": t1 - t0, "apply_s": statistics.median(warm)}, digest


def run(args: argparse.Namespace, work: str) -> tuple[dict, dict, list[str]]:
    """Returns (result, context, summary lines)."""
    wl = WORKLOADS[args.workload]
    events_dir = configure_env(work, bool(args.trace))
    inp = wl.generate(args.seed, os.path.join(work, "inputs"))
    tracer = tracing.Tracer() if args.trace else None
    cpus = machine.ncpus()
    load_before = machine.load1()
    busy_before = machine.busy_pct()
    ticks_before = machine.cpu_ticks()

    t0 = time.perf_counter()
    from auto_ts_spark import session

    if tracer:
        tracer.install()
    spark = session.get_spark("perfbench")
    deadline = T_START + RUN_LIMIT_S

    def one_op(op_id: str) -> tuple[dict, str] | None:
        """One op under the run's time limit; None if it raised, ran
        out of time or failed a check."""
        expired = threading.Event()

        def expire():
            expired.set()
            spark.sparkContext.cancelAllJobs()

        timer = threading.Timer(max(1.0, deadline - time.perf_counter()), expire)
        timer.start()
        try:
            phases, digest = run_op(wl, spark, inp, tracer, op_id)
        except Exception:
            log(f"op {op_id} failed{' (time limit)' if expired.is_set() else ''}:")
            traceback.print_exc()
            return None
        finally:
            timer.cancel()
        return None if expired.is_set() else (phases, digest)

    ops: dict[str, dict | None] = {}
    rss_mb = 0.0
    try:
        start_workers(spark, cpus)
        setup_s = time.perf_counter() - t0
        reference = None
        loop_start = time.perf_counter()
        longest = 0.0
        while not ops or time.perf_counter() - loop_start < args.seconds:
            if ops:
                if deadline - time.perf_counter() < 1.5 * longest:
                    break  # another op would not end before the run's limit
                spark.catalog.clearCache()
            op_id = f"op{len(ops)}"
            began = time.perf_counter()
            done = one_op(op_id)
            longest = max(longest, time.perf_counter() - began)
            if done is not None:
                reference = reference or done[1]
                if done[1] != reference:
                    log(f"op {op_id} output digest {done[1]} != first op's {reference}")
                    done = None
            ops[op_id] = done and done[0]
            if time.perf_counter() >= deadline:
                break
        proc = jvm_process()
        rss_mb = machine.rss_peak_mb(proc.pid) if proc is not None else 0.0
    finally:
        stop_spark(spark)
    steal = machine.steal_pct(ticks_before, machine.cpu_ticks())
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": int(os.environ["SPARK_GRAFT_CPUS"]),
        "load1_before": load_before,
        "load1_after": machine.load1(),
        "busy_before_pct": round(busy_before, 3),
        "steal_pct": round(steal, 3),
        # other processes busy on more than a quarter of the cores when
        # the run began, or a hypervisor taking CPU while it ran
        "contaminated": busy_before > 25.0 or steal > 5.0,
    }
    ok = {k: v for k, v in ops.items() if v}
    failed = len(ops) - len(ok)
    if not ok:
        raise RuntimeError("every op failed")

    def med(key: str) -> float:
        return statistics.median(v[key] for v in ok.values())

    times = {"setup_s": setup_s, **{k: med(k) for k in ("op_s", "build_s", "apply_s")}}
    alias = ALIASES[args.workload]
    summary = [f"{args.workload} seed={args.seed} trace={args.trace}: {len(ops)} ops, {failed} failed"]
    for k, v in times.items():
        summary.append(f"  {f'{alias[k]} ({k})' if k in alias else k:<22} {v:10.4f} s")
    summary.append(f"  {'failed_frac':<22} {failed / len(ops):10.4f} ratio ({failed}/{len(ops)})")

    if args.trace:
        events = tracing.EventLog(tracing.EventLog.find(events_dir))
        tracer.write(os.path.join(HERE, ".work", "spans", f"{args.workload}-{args.seed}.jsonl"), events)
        metrics = tracing.per_layer_metrics(tracer, events, {k: v["op_s"] for k, v in ok.items()})
        metrics.update(
            {
                "op.build_s": times["build_s"],
                "op.apply_s": times["apply_s"],
                "jvm.peak_rss_mb": rss_mb,
                "trace.op_s": times["op_s"],
                "trace.instrument_s": statistics.median(tracer.instrument_s[k] for k in ok),
            }
        )
        units = {k: _unit(k) for k in metrics}
    else:
        metrics = {k: times[k] for k in END_TO_END}
        units = dict.fromkeys(metrics, "s")
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, context, summary


def _unit(name: str) -> str:
    field = name.rsplit(".", 1)[1]
    if field.endswith("_s"):
        return "s"
    if field.endswith("_mb"):
        return "MB"
    if field in ("parallelism", "stages_skipped_ratio"):
        return "ratio"
    return "count"


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "auto_ts_spark")):
        log(f"no auto_ts_spark package in {ROOT}; run from the root of a checkout")
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    # Spark and its workers inherit stdout; keep it for the result alone
    stdout = os.dup(1)
    os.dup2(2, 1)

    def hard_stop(*_):
        log("stopping early: time limit or SIGTERM")
        proc = jvm_process()
        if proc is not None:
            proc.kill()
            proc.wait(timeout=10)
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    signal.signal(signal.SIGALRM, hard_stop)
    signal.signal(signal.SIGTERM, hard_stop)
    signal.alarm(RUN_LIMIT_S + 5)
    try:
        result, context, summary = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    os.dup2(stdout, 1)
    print("\n".join(summary))
    print("context " + json.dumps(context))
    print(json.dumps(result), flush=True)
    return 0


T_START = time.perf_counter()

if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
