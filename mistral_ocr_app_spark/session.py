"""The one SparkSession factory: bench, tests and every job get their
session from ``get_spark``.

Local mode is the sandbox stand-in for a multi-executor cluster; all
settings are chosen to be cluster-valid (AQE on, Arrow on, shuffle
partitions sized to parallelism, not the 200 default).

A ``python …`` launch builds a ``local[cores]`` session with the driver
heap and UI settings below. Under spark-submit the deployment owns the
master, driver memory and UI (``--master``, ``--driver-memory``,
``--conf``): only ``ENGINE_CONF`` is applied, and shuffle partitions
follow the running context's ``defaultParallelism``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# single source of truth — bench.py cites this in its written evidence
ADVISORY_PARTITION_SIZE = "2m"

# the engine's SQL, AQE, Arrow and parquet settings — every session gets them
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # this engine's reduce stages (ordered assembly: collect_list +
    # array_sort + string building) are CPU-heavy per byte, so the
    # 64m default advisory size over-coalesces them. Measured on the
    # skewed bench corpus at 32 cores: 64m→8m gained 1.5×, 8m→2m
    # another 2× (169k turns: 2.9s→1.2s; 1M turns: 4.8s→2.4s);
    # 1m over-splits the larger shuffle and regresses
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": ADVISORY_PARTITION_SIZE,
    # AQE sizes coalesced partitions by INPUT bytes, but some of this
    # engine's stages have output/CPU cost unrelated to input size —
    # the LSH (band,bucket) self-join emits O(k²) pairs from a few
    # MB of band rows, and the default 1m minPartitionSize collapsed
    # it to ONE task (a 6s serial critical path; measured). 64k lets
    # parallelismFirst actually honor the core count on small
    # shuffles: d4 8.0s → 4.4s wall at identical total CPU, other
    # queries unchanged (the assembly reduce at 187MB never hits
    # the floor).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.compression.codec": "zstd",
}


def _shuffle_partitions(parallelism: int) -> int:
    return max(2 * parallelism, 8)


def get_spark(
    cores: int | None = None,
    app_name: str = "mistral_ocr_app_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's session. ``cores`` sizes a local launch only; under
    spark-submit the deployment's master decides the parallelism."""
    conf = {"spark.app.name": app_name, **ENGINE_CONF}
    # spark-submit starts the JVM first and hands its Python driver the
    # gateway port; a plain `python` launch has no JVM yet
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        if cores is None:
            cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        if shuffle_partitions is None:
            shuffle_partitions = _shuffle_partitions(cores)
        conf["spark.master"] = f"local[{cores}]"
        conf["spark.driver.memory"] = os.environ.get("SPARK_DRIVER_MEM", "48g")
        conf["spark.ui.enabled"] = "false"
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    if "spark.sql.shuffle.partitions" not in conf:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(_shuffle_partitions(spark.sparkContext.defaultParallelism)),
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark
