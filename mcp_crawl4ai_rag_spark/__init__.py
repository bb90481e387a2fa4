"""mcp_crawl4ai_rag_spark — a from-scratch PySpark-native URL-frontier +
fetch-scheduler engine with the query/data-processing capabilities of the
jroth55/mcp-crawl4ai-rag reference (see SURVEY.md).

Everything is expressed as DataFrame/SQL operations plus Arrow-vectorized
pandas UDFs; there is no per-row Python in any hot path.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

__version__ = "0.1.0"


def get_spark(
    app_name: str = "mcp_crawl4ai_rag_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for this engine.

    Defaults target the sandbox (``local[*]``); on a real cluster pass
    ``master=None`` with spark-submit providing the master, and size
    ``shuffle_partitions`` to ~2-3x total executor cores.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": "8g",
        "spark.ui.enabled": "false",
    }
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: THE serialized checkpoint level — :func:`local_ckpt` is the only
#: caller, so a storage-level change is one edit.
SER_CKPT_LEVEL = StorageLevel.MEMORY_AND_DISK


def local_ckpt(df, eager: bool = True):
    """``localCheckpoint`` at the SERIALIZED in-memory level
    (``MEMORY_AND_DISK``, deserialized=False) instead of Spark's default
    deserialized level.

    Measured on this engine (BENCH/ckpt_level_ab_32.json, interleaved pairs in
    one JVM so ambient drift hits both arms): with a 16M-row frontier
    checkpoint resident, a concurrent 32-thread Arrow mapInPandas fold
    takes median 10.8 s over the default deserialized checkpoint
    (erratic: 3.5-13.5 s — millions of live row objects tax GC marking)
    vs a stable 2.65 s over the serialized one — ~4x, because compact
    UnsafeRow bytes are opaque to the collector. Use this for every
    checkpoint that can be large (frontier, url_seen, signature tables);
    the few-row ones (backoff tables, centroids) don't care either way.
    """
    return df.localCheckpoint(eager=eager, storageLevel=SER_CKPT_LEVEL)


def local_ckpt_observed(df, *aggs):
    """:func:`local_ckpt` of ``df`` plus the named aggregates ``aggs``
    (default: the row count as ``n``), returned as ``(checkpoint, row)``.

    The aggregates are an ``Observation`` collected while the eager
    checkpoint job runs, so the counts cost no job of their own."""
    obs = Observation()
    out = local_ckpt(df.observe(obs, *(aggs or (F.count(F.lit(1)).alias("n"),))))
    return out, obs.get
