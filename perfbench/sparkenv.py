"""The benchmark's SparkSession: pinned cores, scratch files kept in the
run's work directory, and a stop that waits for the JVM to end."""

from __future__ import annotations

import os


def configure_env(root: str, work: str, cpus: int) -> None:
    """Pin the engine to ``cpus`` cores and keep every scratch file of the
    JVM, Spark and the Python workers inside ``work``."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [root, os.environ.get("PYTHONPATH", "")] if p)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory,
    # for the launcher JVM spark-submit starts first and for the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell")


def start_spark(work: str):
    from aws_ipl_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # keep every job and stage of a traced run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def restart_spark(spark, work: str, cpus: int):
    """Restart the session in the same JVM at ``cpus`` cores, with the
    package's own defaults for that core count."""
    from aws_ipl_data_pipeline_spark import session

    spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    session.DEFAULT_SHUFFLE_PARTITIONS = cpus
    return start_spark(work)
