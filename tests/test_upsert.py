"""Partitioned MERGE/upsert: correctness + the touched-partition-only
rewrite guarantee (untouched partition files stay byte-identical)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from wire_spark.operators.upsert import merge_upsert, read_table, write_initial


def _partition_fingerprint(path):
    out = {}
    for d in glob.glob(os.path.join(path, "__bucket=*")):
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        out[os.path.basename(d)] = [(os.path.basename(f), os.path.getmtime(f)) for f in files]
    return out


def test_merge_upsert_and_delete(spark, tmp_path):
    path = str(tmp_path / "kvtable")
    base = spark.range(100).select(
        F.col("id").cast("string").alias("key"),
        F.concat(F.lit("v"), F.col("id")).alias("value"),
    )
    write_initial(base, path, key="key", n_buckets=8)

    before = _partition_fingerprint(path)

    updates = spark.createDataFrame(
        [("5", "updated5"), ("100", "new100")], ["key", "value"]
    )
    deletes = spark.createDataFrame([("7",)], ["key"])
    n_rewritten = merge_upsert(
        spark, path, updates, key="key", n_buckets=8, delete_keys=deletes
    )
    assert 1 <= n_rewritten <= 3  # at most one bucket per changed key

    state = {r.key: r.value for r in read_table(spark, path).collect()}
    assert state["5"] == "updated5"       # updated in place
    assert state["100"] == "new100"       # inserted
    assert "7" not in state               # deleted
    assert state["6"] == "v6"             # untouched row intact
    assert len(state) == 100              # 100 - 1 delete + 1 insert

    # partitions not touched by the batch are byte-identical (same
    # files, same mtimes) — the O(touched partitions) guarantee
    after = _partition_fingerprint(path)
    touched = {
        b for b, files in after.items() if before.get(b) != files
    }
    assert len(touched) == n_rewritten
    for b in set(before) - touched:
        assert before[b] == after[b]


def test_merge_upsert_empty_batch_noop(spark, tmp_path):
    path = str(tmp_path / "kvtable2")
    write_initial(
        spark.createDataFrame([("a", "1")], ["key", "value"]), path, key="key", n_buckets=4
    )
    empty = spark.createDataFrame([], "key STRING, value STRING")
    assert merge_upsert(spark, path, empty, key="key", n_buckets=4) == 0
    assert {r.key for r in read_table(spark, path).collect()} == {"a"}


def test_merge_upsert_delete_entire_bucket(spark, tmp_path):
    """A batch that deletes every key in a bucket must clear that
    bucket's partition — dynamic overwrite alone would leave the old
    files (and the 'deleted' keys) in place."""
    path = str(tmp_path / "kvtable3")
    base = spark.range(64).select(
        F.col("id").cast("string").alias("key"),
        F.concat(F.lit("v"), F.col("id")).alias("value"),
    )
    write_initial(base, path, key="key", n_buckets=4)

    # find every key living in one specific bucket and delete them all
    with_b = spark.read.parquet(path)
    bucket = with_b.select("__bucket").first()[0]
    doomed = [r.key for r in with_b.filter(F.col("__bucket") == bucket).collect()]
    assert doomed  # non-empty bucket chosen
    deletes = spark.createDataFrame([(k,) for k in doomed], ["key"])
    empty_updates = spark.createDataFrame([], "key STRING, value STRING")
    merge_upsert(spark, path, empty_updates, key="key", n_buckets=4, delete_keys=deletes)

    state = {r.key for r in read_table(spark, path).collect()}
    assert state.isdisjoint(set(doomed))
    assert len(state) == 64 - len(doomed)


def test_merge_upsert_leaves_session_conf_alone(spark, tmp_path):
    """The dynamic overwrite must be per-write, not a session-wide
    semantics change for unrelated writes."""
    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    path = str(tmp_path / "kvtable4")
    write_initial(
        spark.createDataFrame([("a", "1"), ("b", "2")], ["key", "value"]),
        path, key="key", n_buckets=2,
    )
    merge_upsert(
        spark, path,
        spark.createDataFrame([("a", "9")], ["key", "value"]),
        key="key", n_buckets=2,
    )
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == before


def test_merge_upsert_dedups_batch(spark, tmp_path):
    """Duplicate keys within one batch collapse to a single row."""
    path = str(tmp_path / "kvtable5")
    write_initial(
        spark.createDataFrame([("a", "1")], ["key", "value"]), path, key="key", n_buckets=2
    )
    dup_batch = spark.createDataFrame([("a", "x"), ("a", "y")], ["key", "value"])
    merge_upsert(spark, path, dup_batch, key="key", n_buckets=2)
    rows = read_table(spark, path).filter(F.col("key") == "a").collect()
    assert len(rows) == 1


def test_merge_upsert_bucket_count_mismatch_raises(spark, tmp_path):
    """A merge whose n_buckets differs from the count the table was
    written with must REFUSE: keys would hash into different buckets,
    the anti-join would miss the old rows, and the table would
    silently accumulate duplicate keys. The count is
    persisted as an underscore-prefixed sibling marker the parquet
    reader never sees."""
    import pytest

    from wire_spark.operators.upsert import stored_bucket_count

    path = str(tmp_path / "kvtable6")
    write_initial(
        spark.createDataFrame([("a", "1"), ("b", "2")], ["key", "value"]),
        path, key="key", n_buckets=8,
    )
    assert stored_bucket_count(spark, path) == 8
    batch = spark.createDataFrame([("a", "x")], ["key", "value"])
    with pytest.raises(ValueError, match="bucket-count mismatch"):
        merge_upsert(spark, path, batch, key="key", n_buckets=16)
    # the matching count still merges, and no duplicate appeared
    merge_upsert(spark, path, batch, key="key", n_buckets=8)
    rows = read_table(spark, path).filter(F.col("key") == "a").collect()
    assert len(rows) == 1 and rows[0].value == "x"


def test_merge_upsert_legacy_table_dir_check_and_stamp(spark, tmp_path):
    """Tables written before the marker existed fall back to the
    partition-dir check (any __bucket=B dir with B >= n_buckets proves
    a mismatch) and are stamped with the caller's count on first
    successful merge."""
    import pytest

    from wire_spark.operators.upsert import (
        _BUCKET_META_PREFIX, stored_bucket_count)

    path = str(tmp_path / "kvtable7")
    base = spark.range(64).select(
        F.col("id").cast("string").alias("key"),
        F.col("id").cast("string").alias("value"),
    )
    write_initial(base, path, key="key", n_buckets=8)
    os.remove(os.path.join(path, f"{_BUCKET_META_PREFIX}8"))  # legacy
    assert stored_bucket_count(spark, path) is None
    batch = spark.createDataFrame([("1", "x")], ["key", "value"])
    # 64 keys over 8 buckets occupy dirs 0..7, all >= 4: caught
    with pytest.raises(ValueError, match="bucket-count mismatch"):
        merge_upsert(spark, path, batch, key="key", n_buckets=4)
    # the true count passes the dir check and stamps the marker
    merge_upsert(spark, path, batch, key="key", n_buckets=8)
    assert stored_bucket_count(spark, path) == 8


def test_bucketed_writes_are_one_file_per_bucket(spark, tmp_path):
    """Small-files guard: write_initial and every merge rewrite land
    each bucket as ONE parquet file — without the bucket-column
    repartition, every shuffle task holding rows for a bucket emits
    its own file (~#tasks files/bucket) and bucket-pruned reads pay
    the open/footer cost per file."""
    path = str(tmp_path / "kvtable8")
    base = spark.range(2000).repartition(16).select(
        F.col("id").cast("string").alias("key"),
        F.col("id").cast("string").alias("value"),
    )
    write_initial(base, path, key="key", n_buckets=4)

    def files_per_bucket():
        out = {}
        for d in glob.glob(os.path.join(path, "__bucket=*")):
            out[os.path.basename(d)] = len(
                glob.glob(os.path.join(d, "*.parquet")))
        return out

    assert set(files_per_bucket().values()) == {1}

    updates = spark.range(200).repartition(8).select(
        F.col("id").cast("string").alias("key"),
        F.lit("u").alias("value"),
    )
    merge_upsert(spark, path, updates, key="key", n_buckets=4)
    assert set(files_per_bucket().values()) == {1}
    # correctness untouched by the write shaping
    state = {r.key: r.value for r in read_table(spark, path).collect()}
    assert len(state) == 2000 and state["5"] == "u" and state["1999"] == "1999"
