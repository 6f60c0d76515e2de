"""Session start and stop, with every file Spark, the JVM and Python
write kept inside the benchmark's work directory."""

from __future__ import annotations

import os
import tempfile

# the library sits next to this directory; a checkout without it cannot
# run the benchmark
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def confine(work: str) -> None:
    """Point temp files of Python, the JVM launcher and Spark's Python
    workers into ``work``; make the library importable by workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start(work: str, cores: int, event_log_dir: str | None = None):
    from enhydris_autoprocess_spark.session import build_session

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = build_session(
        app_name="perfbench", master=f"local[{cores}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit (its
    Python worker daemon exits with it)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=60)
