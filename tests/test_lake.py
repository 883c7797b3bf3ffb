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


# -- copy-on-write merges -----------------------------------------------------


def _manifest(t: SnapshotTable, snap: int | None = None) -> dict:
    return t._manifest(snap if snap is not None else t.current_snapshot())


def _matched_merge(spark, tmp_path, name):
    """Two append dirs, then a merge whose only matched key sits in the
    first -> (table, pre-merge snapshot, dirs before, dirs after)."""
    t = SnapshotTable(spark, str(tmp_path), name, SCHEMA)
    t.commit(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    s2 = t.commit(spark.createDataFrame([(5, "e")], SCHEMA))
    before = t._entries(_manifest(t))[0]
    t.merge_upsert(spark.createDataFrame([(2, "B"), (3, "c")], SCHEMA), ["k"])
    return t, s2, before, t._entries(_manifest(t))[0]


def test_merge_rewrites_only_dirs_holding_a_match(spark, tmp_path):
    """A matched merge rewrites the dir holding k=2 (minus that row) and
    appends the new rows; the untouched dir keeps its path, and the
    pre-merge snapshot still time-travels to the old rows."""
    t, s2, before, after = _matched_merge(spark, tmp_path, "t5")
    assert before[1] in after, "a dir with no matched key must survive a merge"
    assert before[0] not in after and len(after) == 3
    assert os.path.isdir(before[0]), "old snapshots keep their dirs"
    assert t.last_rows == 2
    assert {r.k: r.v for r in t.read().collect()} == {1: "a", 2: "B", 3: "c", 5: "e"}
    assert {r.k: r.v for r in t.read(snapshot_id=s2).collect()} == {1: "a", 2: "b", 5: "e"}


def test_read_after_matched_merge_is_one_flat_scan(spark, tmp_path):
    """Deletes are applied at write time: a read after a matched merge
    starts no job and plans one file scan with no join and no union."""
    t = _matched_merge(spark, tmp_path, "t5b")[0]
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    df = t.read()
    assert dag.nextJobId() == before
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert "Join" not in plan and "Union" not in plan


def test_count_rows_starts_no_job(spark, tmp_path):
    t = _matched_merge(spark, tmp_path, "t5c")[0]
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    assert t.count_rows() == 4
    assert dag.nextJobId() == before


def test_snapshot_with_delete_files_fails_loudly(spark, tmp_path):
    """A manifest that still lists equality-delete files (written by the
    earlier merge-on-read layer) is refused rather than read without its
    deletes; a v1 manifest (data_dirs only) reads as before."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = SnapshotTable(spark, str(tmp_path), "legacy", SCHEMA)
    data = os.path.join(t.dir, "data-v1")
    os.makedirs(data)
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}), os.path.join(data, "p.parquet"))
    manifests = [
        {"snapshot": 1, "parent": 0, "data_dirs": [data]},
        {"snapshot": 2, "parent": 1, "data": [[data, 1]], "data_dirs": [data],
         "deletes": [[os.path.join(t.dir, "delete-x"), 2, ["k"]]]},
    ]
    for m in manifests:
        with open(os.path.join(t.dir, f"v{m['snapshot']}.json"), "w") as f:
            json.dump(m, f)
    with open(os.path.join(t.dir, "CURRENT"), "w") as f:
        f.write("2")
    for call in (
        t.read,
        t.count_rows,
        lambda: t.merge_upsert(spark.createDataFrame([(2, "B")], SCHEMA), ["k"]),
        lambda: t.commit(spark.createDataFrame([(3, "c")], SCHEMA)),
    ):
        try:
            call()
        except ValueError as e:
            assert "delete" in str(e)
        else:
            raise AssertionError("a snapshot with delete files must not read")
    assert t.current_snapshot() == 2, "nothing was published"
    assert t.count_rows(1) == 2
    assert sorted((r.k, r.v) for r in t.read(1).collect()) == [(1, "a"), (2, "b")]


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
    """compact() folds N append dirs into ONE flat dir with the same rows;
    pre-compaction snapshots still time-travel."""
    t = SnapshotTable(spark, str(tmp_path), "t9", SCHEMA)
    t.commit(spark.createDataFrame([(1, "a")], SCHEMA))
    t.commit(spark.createDataFrame([(2, "b")], SCHEMA))
    s3 = t.merge_upsert(spark.createDataFrame([(1, "A"), (3, "c")], SCHEMA), ["k"])
    assert len(t._entries(_manifest(t))[0]) == 2  # k=1's dir emptied, dropped
    t.compact()
    assert len(t._entries(_manifest(t))[0]) == 1
    assert {r.k: r.v for r in t.read().collect()} == {1: "A", 2: "b", 3: "c"}
    # pre-compaction snapshot unchanged
    assert {r.k: r.v for r in t.read(snapshot_id=s3).collect()} == {1: "A", 2: "b", 3: "c"}
