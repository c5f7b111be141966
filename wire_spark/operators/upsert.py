"""Keyed MERGE/upsert over hash-bucketed parquet: rewrite only the
partitions an update batch touches.

The reference's KV table is an LSM keyspace; at table scale the
Spark-native analog of its upsert path (and of CDC apply,
transforms/cdc.py) is MERGE INTO. Without a transactional table
format in this environment, the same cost shape is achieved with:

- target partitioned by ``bucket = pmod(xxhash64(key), n_buckets)``;
- an update batch touches only its buckets: read THOSE partitions
  (partition-pruned scan), anti-join out replaced keys, union the
  updates, and write back with dynamic partition overwrite — cost is
  O(touched partitions), never O(table).

On a cluster with Delta/Iceberg the bucket bookkeeping collapses into
``MERGE INTO`` — the surrounding interface is unchanged.

The merged batch is materialized before the write, and released
before returning: dynamic overwrite deletes the very files the plan
would lazily read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wire_spark.queries._util import materialize, release_tracked_caches

BUCKET_COL = "__bucket"
# Bucket-count marker: an EMPTY underscore-prefixed sibling file whose
# NAME carries the count (``_n_buckets=16``) — underscore files are
# invisible to Spark's parquet reader, and encoding the value in the
# name means detection is one directory listing, no stream reads
# (same dot/underscore-sibling rule as the maintenance markers;
# a suffix on a partition dir would parse as a hive value).
_BUCKET_META_PREFIX = "_n_buckets="


def _hadoop_path(spark: SparkSession, s: str):
    return spark._jvm.org.apache.hadoop.fs.Path(s)


def _write_bucket_meta(spark: SparkSession, path: str, n_buckets: int) -> None:
    p = _hadoop_path(spark, f"{path}/{_BUCKET_META_PREFIX}{n_buckets}")
    p.getFileSystem(spark._jsc.hadoopConfiguration()).create(p, True).close()


def stored_bucket_count(spark: SparkSession, path: str) -> int | None:
    """The bucket count the table at ``path`` was written with, read
    from the ``_n_buckets=`` marker; None when the table predates the
    marker (or does not exist)."""
    d = _hadoop_path(spark, path)
    fs = d.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(d):
        return None
    for st in fs.listStatus(d):
        name = st.getPath().getName()
        if name.startswith(_BUCKET_META_PREFIX):
            return int(name[len(_BUCKET_META_PREFIX):])
    return None


def _check_bucket_count(spark: SparkSession, path: str, n_buckets: int) -> None:
    """Refuse to merge with a bucket count the table was not written
    with: keys would hash into different buckets, the anti-join would
    miss the old rows, and the table would silently accumulate
    duplicate keys. Tables that predate the marker get a
    weaker partition-dir check (any ``__bucket=B`` dir with
    B >= n_buckets proves a mismatch) and are stamped going forward."""
    stored = stored_bucket_count(spark, path)
    if stored is not None:
        if stored != n_buckets:
            raise ValueError(
                f"bucket-count mismatch at {path}: table written with "
                f"n_buckets={stored}, merge called with {n_buckets} — "
                "merging would hash keys into different buckets and "
                "silently duplicate them"
            )
        return
    d = _hadoop_path(spark, path)
    fs = d.getFileSystem(spark._jsc.hadoopConfiguration())
    for st in fs.listStatus(d):
        name = st.getPath().getName()
        if name.startswith(f"{BUCKET_COL}="):
            b = int(name.split("=", 1)[1])
            if b >= n_buckets:
                raise ValueError(
                    f"bucket-count mismatch at {path}: partition "
                    f"{name} exists but merge was called with "
                    f"n_buckets={n_buckets}"
                )
    _write_bucket_meta(spark, path, n_buckets)


def _with_bucket(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)))


def write_initial(df: DataFrame, path: str, key: str, n_buckets: int = 16) -> None:
    """Materialize the initial keyed table, hash-bucketed on ``key``.
    The bucket count is persisted as a ``_n_buckets=`` marker so later
    merges can assert they were called with the same count.

    The write is repartitioned ON THE BUCKET COLUMN first: without it
    every shuffle task holding rows for a bucket emits its own file
    into that bucket's partition dir (~#tasks files per bucket — the
    classic small-files problem), and every later bucket-pruned read
    pays the open/footer cost per file.  Repartitioning collapses
    each bucket to ONE file; write parallelism becomes n_buckets, so
    at cluster scale choose n_buckets >= the parallelism you want and
    ~ (table size / target file size) — the same sizing rule as any
    bucketed table."""
    (_with_bucket(df, key, n_buckets)
     .repartition(n_buckets, F.col(BUCKET_COL))
     .write.mode("overwrite").partitionBy(BUCKET_COL).parquet(path))
    _write_bucket_meta(df.sparkSession, path, n_buckets)


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    n_buckets: int = 16,
    delete_keys: DataFrame | None = None,
) -> int:
    """Upsert ``updates`` (and optionally delete ``delete_keys``) into
    the bucketed table at ``path``. Returns #partitions rewritten.

    Duplicate keys within one updates batch are collapsed to a single
    arbitrary-but-deterministic row (callers with an ordering column
    should pre-resolve last-writer-wins before calling).

    Raises ValueError when ``n_buckets`` differs from the count the
    table was written with (``stored_bucket_count``)."""
    _check_bucket_count(spark, path, n_buckets)
    up = _with_bucket(updates.dropDuplicates([key]), key, n_buckets)
    changed = up.select(BUCKET_COL)
    if delete_keys is not None:
        delete_keys = _with_bucket(delete_keys.select(key), key, n_buckets)
        changed = changed.union(delete_keys.select(BUCKET_COL))
    touched = [r[BUCKET_COL] for r in changed.distinct().collect()]
    if not touched:
        return 0

    target = spark.read.parquet(path).filter(F.col(BUCKET_COL).isin(touched))
    replaced_keys = up.select(key)
    if delete_keys is not None:
        replaced_keys = replaced_keys.union(delete_keys.select(key))
    kept = target.join(replaced_keys.distinct(), key, "left_anti")
    # freed before returning: a stream merges once per micro-batch
    merged = materialize(kept.unionByName(up))
    try:
        # per-write dynamic overwrite: only partitions present in
        # `merged` are replaced, and the session-wide conf is left
        # untouched for unrelated writes.  Repartition on the bucket
        # column first so each rewritten bucket lands as ONE file (see
        # write_initial) — without it every task holding rows for a
        # bucket emits a file, and the bucket-pruned reads this layout
        # exists for pay an open/footer cost per file on every
        # subsequent merge and search.
        (merged.repartition(max(1, len(touched)), F.col(BUCKET_COL))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(BUCKET_COL).parquet(path))

        # a batch that deletes EVERY key in a touched bucket leaves no
        # row for that bucket in `merged`, so dynamic overwrite never
        # rewrites it — clear those partition directories explicitly
        # or the deleted keys stay visible.
        present = {r[BUCKET_COL] for r in merged.select(BUCKET_COL).distinct().collect()}
    finally:
        release_tracked_caches(merged)
    emptied = [b for b in touched if b not in present]
    if emptied:
        hconf = spark._jsc.hadoopConfiguration()
        for b in emptied:
            p = spark._jvm.org.apache.hadoop.fs.Path(f"{path}/{BUCKET_COL}={b}")
            p.getFileSystem(hconf).delete(p, True)
    return len(touched)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop(BUCKET_COL)
