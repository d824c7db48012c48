"""Lakehouse benchmark entry point.

    python3 perfbench/run.py --workload cdc_cow --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Builds its inputs from ``--seed``, runs
one workload (see ``perfbench/workloads.py``) on one driver process at
``local[<nproc>]`` with ``nproc`` shuffle partitions, checks the
outputs, and prints two JSON lines: a report (run environment, every
metric of the workload with sample counts and tail percentiles) and,
last, the result object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics. ``--trace
1`` reports the per-layer metrics instead: it first runs the workload
untraced, then again in a fresh Spark session with the engine's public
entry points wrapped and the Spark event log on, and takes the tracing
overhead from the two. Exits 1 when an output
is wrong and 2 when the engine cannot be imported.

Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _prepare_env(work: str) -> None:
    """Point every temp-file user (Python, the JVM, Spark) inside the
    checkout, and pin the clock zone the generated timestamps assume."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.pop("SPARK_MASTER", None)


def _start_spark(work: str, nproc: int, traced: bool):
    from onehouse_demos_spark import get_spark
    from onehouse_demos_spark.session import ENGINE_CONFS

    tmp = os.path.join(work, "tmp")
    # -XX:-UsePerfData: the JVM would otherwise keep its perf counters
    # in /tmp/hsperfdata_<user>, outside the checkout.
    jvm_opts = f"{ENGINE_CONFS['spark.driver.extraJavaOptions']} " \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.executor.extraJavaOptions": jvm_opts,
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_confs=confs,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _environment(spark, nproc: int, seed: int, workload: str) -> dict:
    from pyspark import __version__ as pyspark_version

    from perfbench import workloads

    sc = spark.sparkContext
    return {
        "workload": workload,
        "seed": seed,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "nproc": nproc,
        "sf": workloads.SUITE_SF if workload == "analytic_suite" else workloads.CDC_SF,
        "pyspark": pyspark_version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": _git_sha(),
    }


def _session(args, work: str, nproc: int, traced: bool):
    """One Spark session running the workload once, with its files under
    ``work``. Returns (result, peak RSS in MB, ctx, event-log groups,
    run environment)."""
    from perfbench import spans, workloads

    os.makedirs(os.path.join(work, "tmp"))
    spark = _start_spark(work, nproc, traced)
    tracer = spans.Tracer()
    try:
        env = _environment(spark, nproc, args.seed, args.workload)
        if traced:
            spans.install(tracer)
        ctx = workloads.Ctx(
            spark=spark, work=work, seed=args.seed,
            seconds=args.seconds, traced=traced, tracer=tracer, t0=START,
        )
        ctx.log(f"spark started ({'traced' if traced else 'untraced'})")
        try:
            result = workloads.WORKLOADS[args.workload](ctx)
        finally:
            tracer.restore()
        ctx.log("outputs checked")
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = _hwm_mb("self") + _hwm_mb(jvm_pid)
    finally:
        _stop_spark(spark)
    groups = spans.parse_event_log(os.path.join(work, "eventlog")) if traced else {}
    ctx.log("spark stopped")
    return result, rss, ctx, groups, env


def main(argv: list[str] | None = None) -> int:
    # This directory must not shadow standard modules; the checkout root
    # holds the engine and ``tests/oracle_check.py`` the normalisation.
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    sys.path.insert(0, ROOT)
    sys.path.append(os.path.join(ROOT, "tests"))
    from perfbench import report, workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    try:
        import onehouse_demos_spark
        import oracle_check  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(onehouse_demos_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the engine was imported from outside {ROOT}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _prepare_env(work)
        nproc = _nproc()
        ref = None
        if args.trace:
            # The untraced run of the same seed the overhead is taken
            # against: its own Spark session, without the event log.
            ref = _session(args, os.path.join(work, "untraced"), nproc, False)[0]
        result, rss, ctx, groups, env = _session(
            args, os.path.join(work, "run"), nproc, bool(args.trace)
        )
        out = report.build(result, rss, ctx, groups, ref)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    out["report"]["env"] = env
    print(json.dumps(out["report"], sort_keys=True))
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
