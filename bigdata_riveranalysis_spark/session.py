"""SparkSession factory.

The reference configures almost nothing (only the Kafka connector
package and WARN log level — reference streaming/spark_processor.py:9-14).
The engine pins the configs that matter for correctness (UTC timezone,
Arrow) and for scale (AQE, skew-join handling, shuffle-partition
sizing). At 100 TB on a real cluster the same code runs unchanged;
only `master` / memory / `spark.sql.shuffle.partitions` move to
spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from bigdata_riveranalysis_spark import sizing

# Local test parallelism; the driver harness sets SPARK_GRAFT_CPUS.
_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _default_shuffle_partitions() -> int:
    """Initial shuffle-partition count from the footer bytes of the
    corpus at ``SPARK_GRAFT_SF_DIR`` (``sizing`` class ``shuffle``) —
    metadata only, no Spark job. A missing corpus sizes at bytes 0."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bigdata_riveranalysis_spark.sources.tables import TABLES, _footer_stats

    paths = (os.path.join(sf_dir, f"{t}.parquet") for t in TABLES)
    total = sum(_footer_stats(p)[1] for p in paths if os.path.exists(p))
    return sizing.partitions("shuffle", nbytes=total, cores=int(_CPUS))


def get_spark(app_name: str = "bigdata_riveranalysis_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for the engine.

    Scale notes (the same settings are the cluster defaults):
      * AQE on: runtime coalescing of shuffle partitions, skew-join
        splitting, and dynamic broadcast-join conversion. At 100 TB
        AQE is what keeps a static ``shuffle.partitions`` choice from
        being fatal — the initial number only needs to be an upper
        bound.
      * ``shuffle.partitions`` derives from the CORPUS BYTES (r17):
        the initial count is an upper bound AQE coalesces down from,
        sized by ``sizing.partitions("shuffle")`` at
        clamp(ceil(input bytes / 1 MiB), 4, max(2× cores, 8)). The
        corpus is the one ``SPARK_GRAFT_SF_DIR`` names, read when the
        session is first created, so it must name the corpus being
        queried: a session reused for a larger corpus keeps the
        smaller count, and AQE can only coalesce down, never split
        up. On a 1000-executor cluster the count moves to
        spark-submit conf near (total input bytes / 128 MiB).
      * UTC session timezone — matches DuckDB's naive-UTC timestamps
        so oracle comparison is exact (SURVEY.md §7 watch-list #5).
      * Arrow enabled for any Pandas-UDF path (vectorized transfer).
    """
    n_shuffle = shuffle_partitions or _default_shuffle_partitions()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Pinned at session build so it is session-CONSTANT rather
        # than flipped mid-session by the first nanos-unit events load
        # (load_table/_events_stream set it on demand and cannot
        # restore it — the conf must still hold when their LAZY scans
        # execute; VERDICT r7 #8). Constant-true means a nanos-unit
        # parquet column always reads as LongType in engine sessions —
        # order-independent, no cross-query state change. Only affects
        # TIMESTAMP(NANOS) physical columns; micros/millis reads are
        # untouched. Caller-provided sessions (the driver's) still get
        # the documented on-demand set in sources/tables.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet scans: 128 MiB split targets keep partitions
        # executor-memory-safe at any SF.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{_CPUS}]").config("spark.driver.memory", "90g")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
