"""Snapshot-table layer: commits, time travel, merge, stale-version delete."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from my_crawler_spark.sources.lake import (
    Catalog,
    SnapshotTable,
    upsert_chunks_with_stale_delete,
)

SCHEMA = T.StructType(
    [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
)


def test_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path), "t1", SCHEMA)
    assert t.read().count() == 0
    s1 = t.commit(spark.createDataFrame([(1, "a")], SCHEMA))
    s2 = t.commit(spark.createDataFrame([(2, "b")], SCHEMA))
    assert t.read().count() == 2
    assert t.read(snapshot_id=s1).count() == 1  # time travel
    assert t.history() == [s1, s2]


def test_read_without_data_starts_no_task(spark, tmp_path):
    """A read of a table with no data has no partitions, so a job over it
    starts no Python worker (a local ``[]`` is parallelized into one Python
    task per core)."""
    t = SnapshotTable(spark, str(tmp_path), "t0", SCHEMA)
    for _ in range(2):  # no snapshot yet, then a snapshot of no data
        df = t.read()
        assert df.schema == SCHEMA and df.rdd.getNumPartitions() == 0
        t.commit(spark.createDataFrame([], SCHEMA))


def test_read_with_deletes_starts_no_job(spark, tmp_path):
    """A read of a table with an equality-delete file starts no Spark job:
    the delete file is read with the key columns' schema taken from the
    table's, so Parquet schema inference does not run."""
    t = SnapshotTable(spark, str(tmp_path), "t5", SCHEMA)
    t.commit(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    t.merge_upsert(spark.createDataFrame([(2, "B"), (3, "c")], SCHEMA), ["k"])
    assert any(d.startswith("delete-") for d in os.listdir(t.dir))
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    df = t.read()
    assert dag.nextJobId() == before
    assert sorted((r.k, r.v) for r in df.collect()) == [(1, "a"), (2, "B"), (3, "c")]


def test_overwrite(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path), "t2", SCHEMA)
    t.commit(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    t.commit(spark.createDataFrame([(9, "z")], SCHEMA), mode="overwrite")
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0].k == 9


def test_merge_upsert(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path), "t3", SCHEMA)
    t.commit(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    t.merge_upsert(spark.createDataFrame([(2, "B"), (3, "c")], SCHEMA), ["k"])
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_stale_version_delete(spark, tmp_path):
    """S9 (qdrant.rs:133-139): re-crawling a page at a new version removes
    the old version's points for that url, leaves other urls alone."""
    schema = T.StructType(
        [
            T.StructField("point_id", T.StringType()),
            T.StructField("source_url", T.StringType()),
            T.StructField("page_version", T.StringType()),
        ]
    )
    t = SnapshotTable(spark, str(tmp_path), "chunks", schema)
    t.commit(
        spark.createDataFrame(
            [("p1", "https://a/x", "v1"), ("p2", "https://a/x", "v1"),
             ("p3", "https://a/y", "v1")],
            schema,
        )
    )
    new = spark.createDataFrame([("p9", "https://a/x", "v2")], schema)
    upsert_chunks_with_stale_delete(t, new)
    got = {(r.point_id, r.page_version) for r in t.read().collect()}
    assert got == {("p9", "v2"), ("p3", "v1")}  # v1 points of /x deleted


def test_empty_append_is_checkpoint_marker(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path), "t4", SCHEMA)
    s1 = t.commit(spark.createDataFrame([(1, "a")], SCHEMA))
    s2 = t.commit(spark.createDataFrame([], SCHEMA))
    assert s2 == s1 + 1 and t.read().count() == 1


def test_catalog_reuse(spark, tmp_path):
    c = Catalog(spark, str(tmp_path))
    assert c.table("x", SCHEMA) is c.table("x", SCHEMA)


# -- merge-on-read (Iceberg v2 equality deletes) -----------------------------


def _manifest(t: SnapshotTable, snap: int | None = None) -> dict:
    return t._manifest(snap if snap is not None else t.current_snapshot())


def test_merge_is_merge_on_read_not_rewrite(spark, tmp_path):
    """A merge APPENDS (data dir + equality-delete keys); the original data
    dir survives untouched — O(round) disk, never an O(table) rewrite."""
    t = SnapshotTable(spark, str(tmp_path), "t5", SCHEMA)
    s1 = t.commit(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    dirs_before = [d for d, _ in t._entries(_manifest(t))[0]]
    s2 = t.merge_upsert(spark.createDataFrame([(2, "B"), (3, "c")], SCHEMA), ["k"])
    data, deletes = t._entries(_manifest(t))
    assert dirs_before[0] == data[0][0], "original data dir must survive a merge"
    assert len(data) == 2 and len(deletes) == 1
    assert deletes[0][2] == ["k"] and deletes[0][1] == s2
    assert {r.k: r.v for r in t.read().collect()} == {1: "a", 2: "B", 3: "c"}
    # time travel: the pre-merge snapshot still shows the old row
    assert {r.k: r.v for r in t.read(snapshot_id=s1).collect()} == {1: "a", 2: "b"}
    # footer fallback: count must see through the anti-join
    assert t.count_rows() == 3


def test_merge_without_matches_stays_flat_scan(spark, tmp_path):
    """Disjoint keys -> no delete file published; read() is one parquet
    scan (the in-crawl common case: url_seen means no page repeats)."""
    t = SnapshotTable(spark, str(tmp_path), "t6", SCHEMA)
    t.commit(spark.createDataFrame([(1, "a")], SCHEMA))
    t.merge_upsert(spark.createDataFrame([(2, "b")], SCHEMA), ["k"])
    data, deletes = t._entries(_manifest(t))
    assert len(data) == 2 and deletes == []
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Anti" not in plan and "Union" not in plan
    assert t.read().count() == 2


def test_merge_chain_and_delete_scoping(spark, tmp_path):
    """A delete applies only to data files OLDER than it (Iceberg sequence
    rule): re-inserting a key after its delete must not re-delete it."""
    t = SnapshotTable(spark, str(tmp_path), "t7", SCHEMA)
    t.commit(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    t.merge_upsert(spark.createDataFrame([(1, "A")], SCHEMA), ["k"])   # delete k=1
    t.merge_upsert(spark.createDataFrame([(2, "B")], SCHEMA), ["k"])   # delete k=2
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {1: "A", 2: "B"}, "k=1 re-inserted AFTER its delete must survive"


def test_mor_compaction_folds_deletes(spark, tmp_path, monkeypatch):
    import my_crawler_spark.sources.lake as lake

    monkeypatch.setattr(lake, "MOR_COMPACT_DELETES", 2)
    t = SnapshotTable(spark, str(tmp_path), "t8", SCHEMA)
    t.commit(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], SCHEMA))
    t.merge_upsert(spark.createDataFrame([(1, "A")], SCHEMA), ["k"])
    t.merge_upsert(spark.createDataFrame([(2, "B")], SCHEMA), ["k"])  # hits 2 -> compact
    data, deletes = t._entries(_manifest(t))
    assert deletes == [] and len(data) == 1, "compaction folds back to one flat dir"
    assert {r.k: r.v for r in t.read().collect()} == {1: "A", 2: "B", 3: "c"}


def test_chunks_mor_equals_rewrite_semantics(spark, tmp_path):
    """The source_url equality delete is row-for-row identical to the old
    copy-on-write expression (keep same-version rows, drop other versions,
    dedup point_ids, append) on a mixed re-crawl: changed page, unchanged
    page (byte-identical chunk set), untouched page, brand-new page."""
    schema = T.StructType(
        [
            T.StructField("point_id", T.StringType()),
            T.StructField("source_url", T.StringType()),
            T.StructField("page_version", T.StringType()),
            T.StructField("chunk_content", T.StringType()),
        ]
    )
    base = [
        ("p1", "https://a/changed", "v1", "old text 1"),
        ("p2", "https://a/changed", "v1", "old text 2"),
        ("p3", "https://a/same", "v1", "stable text"),
        ("p4", "https://a/untouched", "v1", "other page"),
    ]
    new = [
        ("p9", "https://a/changed", "v2", "new text"),   # content changed
        ("p3", "https://a/same", "v1", "stable text"),   # same version re-crawl
        ("p8", "https://a/new", "v1", "fresh page"),     # never seen
    ]
    t = SnapshotTable(spark, str(tmp_path), "chunks_mor", schema)
    t.commit(spark.createDataFrame(base, schema))
    new_df = spark.createDataFrame(new, schema)
    upsert_chunks_with_stale_delete(t, new_df)
    got = {tuple(r) for r in t.read().collect()}

    # the replaced copy-on-write expression, computed independently
    cur = spark.createDataFrame(base, schema)
    versions = new_df.select("source_url", "page_version").distinct()
    keep = cur.alias("c").join(
        versions.alias("v"), F.col("c.source_url") == F.col("v.source_url"), "left"
    ).filter(
        F.col("v.source_url").isNull()
        | (F.col("c.page_version") == F.col("v.page_version"))
    ).select("c.*")
    dedup = keep.join(new_df.select("point_id").distinct(), ["point_id"], "left_anti")
    want = {tuple(r) for r in dedup.unionByName(new_df).collect()}
    assert got == want


def test_explicit_compact_binpacks_and_keeps_time_travel(spark, tmp_path):
    """compact() folds N append dirs + deletes into ONE flat dir with the
    same rows; pre-compaction snapshots still time-travel."""
    t = SnapshotTable(spark, str(tmp_path), "t9", SCHEMA)
    t.commit(spark.createDataFrame([(1, "a")], SCHEMA))
    t.commit(spark.createDataFrame([(2, "b")], SCHEMA))
    s3 = t.merge_upsert(spark.createDataFrame([(1, "A"), (3, "c")], SCHEMA), ["k"])
    t.compact()
    data, deletes = t._entries(_manifest(t))
    assert len(data) == 1 and deletes == []
    assert {r.k: r.v for r in t.read().collect()} == {1: "A", 2: "b", 3: "c"}
    # pre-compaction snapshot unchanged
    assert {r.k: r.v for r in t.read(snapshot_id=s3).collect()} == {1: "A", 2: "b", 3: "c"}
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Anti" not in plan and "Union" not in plan
