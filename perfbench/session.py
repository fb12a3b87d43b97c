"""One Spark session per benchmark run, sized to the machine, with every
file it writes kept inside the benchmark's work directory."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

from perfbench import procstat


def cores() -> int:
    """Executor slots: every CPU this process may run on, at most 8."""
    return max(1, min(len(os.sched_getaffinity(0)), 8))


def heap_mb() -> int:
    """Driver heap: a sixth of physical memory, between 1 and 6 GiB."""
    return max(1024, min(procstat.mem_total_mb() // 6, 6144))


def prepare_env(work: str) -> None:
    """Point every temporary file of the driver, the JVM and the Python
    workers at ``work`` (must run before the JVM starts)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb()}m"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the spark-class launcher JVM: no hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def spark_conf(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def _first_udf_job(spark, n: int) -> None:
    """The first trivial Arrow UDF job: starts the Python workers and
    imports the shipped package in each of them."""

    def kernel(batches):
        import page_segmentation_spark  # noqa: F401  (from the shipped zip)

        yield from batches

    (
        spark.range(0, n, 1, n)
        .mapInArrow(kernel, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def start(work: str, tracer, reps: int):
    """Set up ``reps`` times (session start incl. ``ship_package``, then
    the first Arrow UDF job), stopping every session but the last.
    Returns (spark, per-rep records)."""
    from page_segmentation_spark.session import get_spark

    n = cores()
    recs = []
    spark = None
    for rep in range(reps):
        if spark is not None:
            spark.stop()
        with tracer.span("setup", rep=rep):
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = get_spark(
                    app="perfbench",
                    master=f"local[{n}]",
                    shuffle_partitions=2 * n,
                    extra=spark_conf(work),
                )
                spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            with tracer.span("session.first_udf_job"):
                _first_udf_job(spark, n)
            t2 = time.perf_counter()
        recs.append({"get_spark_s": t1 - t0, "first_udf_job_s": t2 - t1,
                     "setup_s": t2 - t0})
    return spark, recs


def median_of(recs: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in recs)


def shutdown() -> None:
    """Stop the active session, if any, and the JVM, and wait until the
    JVM has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()  # the launched JVM exits on stdin EOF
    except OSError:
        pass
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
