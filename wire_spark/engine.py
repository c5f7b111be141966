"""SparkSession bootstrap and dataset loading.

Replaces the reference's node bootstrap (`cmd/init.go`) — there is no
Raft/cluster-membership tier in a Spark-native engine; the cluster
manager owns placement and the table format owns durability
(SURVEY.md §7.3).

Scale notes
-----------
- ``spark.sql.shuffle.partitions`` defaults to the local core count for
  tests; on a real cluster set it ~2-3x total executor cores (or leave
  AQE coalescing to shrink it at runtime).
- AQE is always on: runtime join-strategy switches, skew-join
  splitting, and partition coalescing are the first line of defense at
  100 TB.
- ``maxPartitionBytes`` is left at default 128m: at 100 TB that yields
  ~800k input splits, which is the right granularity for 1000
  executors.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Tables materialized by the test-data generator (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "wire_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # progress bars would interleave with line-oriented output
        # (tools/verify_edited.py's [OK]/[FAIL] lines)
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ field to TIMESTAMP.

    The test-data generator has shipped ``events.ts`` as parquet
    TIMESTAMP(NANOS), tz-aware micros, and tz-naive ``timestamp[us]``
    (which PySpark reads as TIMESTAMP_NTZ) across regenerations.
    Functions like ``unix_micros`` accept only TIMESTAMP, so the engine
    normalizes at load.  Under the UTC session timezone forced below
    the NTZ->TIMESTAMP cast is value-identical (same wall-clock micros)
    and matches how the tz-naive DuckDB oracle reads the same file.
    """
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if ntz:
        from pyspark.sql import functions as F

        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table.

    Plain ``spark.read.parquet`` so Catalyst keeps predicate pushdown
    and column pruning — callers should filter/select on the returned
    DataFrame and let the scan prune.

    Timestamp columns are normalized to TIMESTAMP regardless of how the
    generator encoded them (nanos-as-long legacy path, tz-aware micros,
    or tz-naive micros read as TIMESTAMP_NTZ) — see
    ``_normalize_timestamps``.
    """
    # The caller may hand us a foreign SparkSession (the driver does);
    # force the runtime confs correctness depends on: UTC rendering for
    # timestamp->string parity with the (tz-naive) DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        if dict(df.dtypes).get("ts") == "bigint":
            # integer div: nanos ~1.7e18 would lose precision through a double
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _normalize_timestamps(df)
    return _normalize_timestamps(spark.read.parquet(table_path(sf_dir, name)))


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    register_views: bool = False,
) -> dict[str, DataFrame]:
    """Load every synthetic table; optionally register temp views for SQL."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        if os.path.exists(table_path(sf_dir, name)):
            df = load_table(spark, sf_dir, name)
            out[name] = df
            if register_views:
                df.createOrReplaceTempView(name)
    return out
