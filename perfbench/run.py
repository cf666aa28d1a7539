"""Crawl-engine benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload crawl_polite --seed 7 --seconds 10 --trace 0

Run from the repository root. It builds its inputs from ``--seed``, starts
one Spark driver on ``local[<cores>]``, warms the JVM up on other inputs,
measures a closed loop of operations (crawl rounds, or corpus queries)
for at least ``--seconds`` seconds, checks every output against a
reference, and prints a human-readable report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (see perfbench/README.md). Every file the run
writes lives under ``.perfbench_work/`` in the repository root and is
removed at exit. Exit codes: 0 ok, 1 wrong output, 2 the program is not
there, 3 an operation stalled (the watchdog ended the run).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "xrpl_rich_list_py_crawler_spark"
WORKLOADS = ("crawl_polite", "corpus_queries")
#: driver JVM heap: leaves room for the Python workers and other tenants
DRIVER_MEMORY = "3g"
#: the whole run must end well inside 180 s, stalled or not
RUN_DEADLINE_S = 160.0


def _program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Point every scratch location of the program, Spark and Python at
    the work dir; must run before pyspark or the package is imported
    (``sources.fixtures`` reads ``SPARK_GRAFT_FIXTURES`` at import)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_FIXTURES"] = os.path.join(work, "fixtures")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers are separate processes: they find the package only
    # through PYTHONPATH, not through this process's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _start_spark(work: str, cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # no hsperfdata file in /tmp: the run writes only inside the checkout
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ", 1)[1][0] != "Z"
    except OSError:
        return False


def _wait_gone(pids, timeout: float) -> None:
    end = time.time() + timeout
    while time.time() < end and any(_alive(p) for p in pids):
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, 9)
            except OSError:
                pass


def _stop_spark(spark, jvm_pid: int, kill: bool = False) -> None:
    """Stop the SparkContext and the gateway JVM, and wait until the JVM
    and the Python workers it started have exited."""
    from pyspark import SparkContext

    workers = _children(jvm_pid)
    proc = getattr(SparkContext._gateway, "proc", None) if SparkContext._gateway else None
    if kill:
        try:
            os.kill(jvm_pid, 9)
        except OSError:
            pass
    else:
        try:
            spark.stop()
        except Exception as e:  # a failed stop must not leave the JVM behind
            print(f"spark.stop failed: {e!r}", file=sys.stderr)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
    if proc is not None:
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    _wait_gone([jvm_pid] + workers, 15)


def _remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run still uses it


def _print_result(report: dict, result: dict) -> None:
    for line in report.get("lines", []):
        print(line)
    print(json.dumps(result, sort_keys=True), flush=True)


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not _program_present():
        print(
            f"perfbench: {PACKAGE}/ and __spark_entry__.py not found under {ROOT}",
            file=sys.stderr,
        )
        return 2
    t_start = time.time()
    # a termination request unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    sys.path.insert(0, HERE)
    from watchdog import Watchdog

    cores = len(os.sched_getaffinity(0))
    spark = None
    jvm_pid = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, cores)
        session_s = time.perf_counter() - t0
        jvm_pid = _jvm_pid(spark)
        dog = Watchdog(jvm_pid, t_start + RUN_DEADLINE_S, work)

        def on_stall(report, result):
            _print_result(report, result)
            _stop_spark(spark, jvm_pid, kill=True)
            _remove_work(work)

        dog.on_stall = on_stall
        if args.workload == "crawl_polite":
            from crawl_workload import run
        else:
            from query_workload import run
        try:
            report, result = run(
                spark, work, args.seed, args.seconds, bool(args.trace), dog,
                cores=cores, session_s=session_s, jvm_pid=jvm_pid,
            )
        finally:
            dog.hold()
        dog.stop()
    finally:
        if spark is not None and jvm_pid is not None:
            _stop_spark(spark, jvm_pid)
        _remove_work(work)
    _print_result(report, result)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
