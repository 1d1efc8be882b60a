"""The benchmark's pinned Spark session: master, partitions, AQE per
workload, driver memory, and where Spark may write.

Every path Spark, the JVM and the Python workers write to is placed under
the checkout's ``.perfbench/`` directory, and the checkout root is put on
the workers' ``PYTHONPATH`` so their UDFs can import ``osmospark``
without the package being installed.
"""

from __future__ import annotations

import os
import resource
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench")


def cores() -> int:
    return len(os.sched_getaffinity(0))


# The session every workload runs in. Partition counts are fixed so the
# plan is the same at every core count; AQE is a per-workload setting.
SESSION = {
    "master": "local[{cores}]",
    "spark.sql.shuffle.partitions": 8,
    "corpus_partitions": 8,
    "spark.driver.memory": "1g",
    "aqe": {"extract_all": False, "crawl_bfs": False, "crawl_resume": True},
}


def check_checkout() -> str | None:
    """Why the benchmark cannot run from this directory, or None."""
    if not os.path.isfile(os.path.join(ROOT, "osmospark", "__init__.py")):
        return f"no osmospark package under {ROOT}"
    return None


def start(work: str, master: str, aqe: bool):
    """Start (or restart) the session; returns it after a trivial job."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # inherited by the JVM and, through it, by the Python workers
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the short-lived JVM spark-submit uses to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-Djava.io.tmpdir={tmp} "
                                         "-XX:-UsePerfData")
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
             if p]
    if ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, *paths])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)

    from pyspark.sql import SparkSession
    spark = (
        SparkSession.builder.master(master)
        .appName("osmospark-perfbench")
        .config("spark.sql.shuffle.partitions",
                str(SESSION["spark.sql.shuffle.partitions"]))
        .config("spark.sql.adaptive.enabled", "true" if aqe else "false")
        .config("spark.driver.memory", SESSION["spark.driver.memory"])
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{SESSION['spark.driver.memory']} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop() -> None:
    """Stop the running session and wait for the JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    gateway = SparkContext._gateway
    if SparkSession._instantiatedSession is not None:
        SparkSession._instantiatedSession.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def jvm_pid():
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Peak RSS of this driver process plus the JVM it launched."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    pid = jvm_pid()
    if pid is not None:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        mb += int(line.split()[1]) / 1024.0
                        break
        except OSError:
            pass
    return mb


def now() -> float:
    return time.perf_counter()
