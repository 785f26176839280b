"""SparkSession builder tuned for this engine.

Local mode is the test bed; the config is written so the same code is
correct on a 1000-executor cluster: AQE on (runtime join-strategy
switch, skew-join splitting, partition coalescing), shuffle
partitions sized to the parallelism at hand, Arrow enabled for the
pandas-UDF paths, UTC session timezone so results are comparable with
the DuckDB oracle.

Local sessions also start their Python workers from
``kittispark.worker_daemon`` (``spark.python.daemon.module``), with
kittispark's parent directory on the workers' ``PYTHONPATH`` so the
module is importable. The daemon drops Spark's ``pyspark.zip``,
py4j and spark-core archives from the workers' path when the same
pyspark and py4j versions are installed unpacked, and otherwise leaves
the path alone. A task then no longer re-reads those archives in
``importlib.invalidate_caches()``, which cost 0.20–0.33 CPU-s per task
before the UDF body ran. With ``SPARK_MASTER`` set the daemon is not
used: cluster executors may not have kittispark installed.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def session_conf(
    cpus: int | str | None = None, shuffle_partitions: int | None = None
) -> dict[str, str]:
    """The builder confs ``get_spark`` sets before any ``extra_conf``."""
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("KITTISPARK_DRIVER_MEM", "8g"),
    }
    if "SPARK_MASTER" not in os.environ:
        conf["spark.master"] = f"local[{cpus}]"
        conf["spark.python.daemon.module"] = "kittispark.worker_daemon"
        conf["spark.executorEnv.PYTHONPATH"] = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        )
    return conf


def get_spark(
    app_name: str = "kittispark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``. Shuffle partitions default
    to the core count — the right size for local runs; at cluster scale
    AQE coalesces the (intentionally generous) initial number down.
    """
    builder = SparkSession.builder.appName(app_name)
    for k, v in {**session_conf(cpus, shuffle_partitions), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate returns an existing session without re-applying
    # builder configs; force runtime-settable extras so callers get
    # what they asked for either way.
    for k, v in (extra_conf or {}).items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a reused session — builder path set it
    spark.sparkContext.setLogLevel("WARN")
    return spark
