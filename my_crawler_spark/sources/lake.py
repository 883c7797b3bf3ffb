"""Snapshot-versioned table layer (Iceberg-style commits on parquet).

The north_rule calls for Iceberg tables with snapshot checkpoints and
resume. This container ships no Iceberg runtime jar, so this module
implements the same *contract* on plain parquet with an atomic manifest:

- a table is a directory of immutable parquet data dirs plus numbered
  manifest files ``v{N}.json`` listing the data dirs in that snapshot;
- ``commit(df, mode)`` writes a new data dir then atomically publishes a
  new manifest (append = previous dirs + new dir, no rewrite — same cost
  model as an Iceberg append);
- ``read(snapshot_id=None)`` gives any historical snapshot (time travel),
  which is exactly what crawl resume needs;
- ``merge_upsert`` / ``delete_stale_versions`` mirror the reference's
  Qdrant upsert + stale-version delete (spider/src/qdrant.rs:130-139) as
  MERGE INTO-equivalents.

On a real cluster with an Iceberg catalog configured, this class is the
seam to swap: the runner only calls ``commit / read / merge_upsert /
delete_where / history``, all of which map 1:1 onto Iceberg SQL
(``INSERT INTO`` / ``VERSION AS OF`` / ``MERGE INTO`` / ``DELETE``). The
manifest publish uses ``os.replace`` — atomic on POSIX — standing in for
the catalog's atomic swap.

Merge-on-read upsert (Iceberg v2 equality deletes): ``merge_upsert``
APPENDS the new rows plus a tiny *equality-delete file* (the matched
keys) instead of rewriting the table. ``read`` anti-joins each data dir
against the delete files published after it (a delete applies only to
rows older than itself, exactly Iceberg's sequence-number rule), and the
table self-compacts back to a flat scan once deletes pile past a
threshold. This is the difference between O(round) and O(table) disk
writes per crawl round: a copy-on-write upsert of a 100 TB chunks table
rewrites 100 TB every round, while MOR writes the round's rows + a
keys file. When a merge matches nothing (the common case inside one
crawl run — url_seen guarantees each page is extracted once), no delete
file is written at all and ``read`` stays a single parquet scan.

Commit cost model: ``commit`` runs exactly ONE Spark action (the write);
``merge_upsert`` runs two (the matched-keys write — a column-pruned scan
of only the key columns — and the data write), both O(round), never
O(table). Row counts come from the parquet footers driver-side
(``last_rows`` / ``count_rows``), never from a second ``count()`` job —
at 1000 executors the per-round fixed cost is dominated by action count,
not data volume.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _footer_rows(data_dir: str) -> int:
    """Row count from parquet footers — driver-side file metadata, no job."""
    import pyarrow.parquet as pq

    total = 0
    for f in os.listdir(data_dir):
        if f.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(data_dir, f)).metadata.num_rows
    return total


#: merge_upsert self-compacts (fold deletes back into a flat rewrite) once
#: a snapshot carries this many delete files — bounds read-side anti-joins.
MOR_COMPACT_DELETES = int(os.environ.get("SPARK_GRAFT_MOR_COMPACT", "16"))


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str, name: str, schema: StructType):
        self.spark = spark
        self.name = name
        self.dir = os.path.join(root, name)
        self.schema = schema
        self.last_rows = 0  # rows written by the most recent commit()
        os.makedirs(self.dir, exist_ok=True)

    # -- manifest plumbing ---------------------------------------------------
    def _current_path(self) -> str:
        return os.path.join(self.dir, "CURRENT")

    def current_snapshot(self) -> int:
        try:
            with open(self._current_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _manifest(self, snap: int) -> dict:
        with open(os.path.join(self.dir, f"v{snap}.json")) as f:
            return json.load(f)

    @staticmethod
    def _entries(manifest: dict) -> tuple[list, list]:
        """-> (data, deletes): data = [[dir, seq], ...]; deletes =
        [[dir, seq, key_cols], ...]. Reads both manifest formats (v1 kept
        only a flat data_dirs list — treat those dirs as seq 0)."""
        if "data" in manifest:
            return list(manifest["data"]), list(manifest.get("deletes", []))
        return [[d, 0] for d in manifest.get("data_dirs", [])], []

    def _publish(self, data: list, deletes: list, parent: int) -> int:
        snap = parent + 1
        manifest = {
            "snapshot": snap,
            "parent": parent,
            "data": data,
            "deletes": deletes,
            # v1 field kept so older readers (and humans) still see the dirs
            "data_dirs": [d for d, _ in data],
            "ts": time.time(),
        }
        path = os.path.join(self.dir, f"v{snap}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, path)
        cur_tmp = self._current_path() + ".tmp"
        with open(cur_tmp, "w") as f:
            f.write(str(snap))
        os.replace(cur_tmp, self._current_path())
        return snap

    # -- public API ------------------------------------------------------------
    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """Snapshot scan. With no delete files this is ONE parquet scan of
        all data dirs. With equality deletes, each data dir group is
        anti-joined against the delete files published after it (Iceberg's
        sequence-number rule: a delete applies only to older data files);
        join count is bounded by the compaction threshold."""
        snap = self.current_snapshot() if snapshot_id is None else snapshot_id
        data, deletes = self._entries(self._manifest(snap)) if snap else ([], [])
        if not data:
            # no partitions, so a job over it starts no Python task (a local
            # list would be parallelized through a Python worker per core)
            return self.spark.createDataFrame(self.spark.sparkContext.emptyRDD(), self.schema)
        if not deletes:
            return self.spark.read.schema(self.schema).parquet(*[d for d, _ in data])
        # group data dirs by WHICH deletes apply to them -> one scan + the
        # minimal set of anti-joins per group
        groups: dict[tuple, list[str]] = {}
        for d, s in data:
            applicable = tuple(
                i for i, (_, dseq, _k) in enumerate(deletes) if dseq > s
            )
            groups.setdefault(applicable, []).append(d)
        parts = []
        for applicable, dirs in groups.items():
            df = self.spark.read.schema(self.schema).parquet(*dirs)
            for i in applicable:
                del_dir, _seq, key_cols = deletes[i]
                # the keys' schema is the table's, so no inference job runs
                keys = StructType([self.schema[c] for c in key_cols])
                kdf = self.spark.read.schema(keys).parquet(del_dir)
                df = df.join(F.broadcast(kdf), list(key_cols), "left_anti")
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # anti-joins move key columns to the front — restore schema order
        return out.select(*[f.name for f in self.schema.fields])

    def commit(self, df: DataFrame, mode: str = "append") -> int:
        """Write df as a new immutable data dir; publish a new snapshot.

        Exactly one Spark action (the write); the row count is read back
        from the parquet footers into ``self.last_rows``. An empty append
        publishes a checkpoint-marker snapshot without keeping the dir.
        An overwrite clears any outstanding equality deletes (the new dir
        IS the table)."""
        parent = self.current_snapshot()
        prev_data, prev_deletes = (
            self._entries(self._manifest(parent)) if parent else ([], [])
        )
        snap = parent + 1
        data_dir = os.path.join(self.dir, f"data-{uuid.uuid4().hex[:12]}")
        df.write.mode("overwrite").parquet(data_dir)
        rows = _footer_rows(data_dir)
        self.last_rows = rows
        if mode == "append" and rows == 0:
            shutil.rmtree(data_dir, ignore_errors=True)
            return self._publish(prev_data, prev_deletes, parent)  # checkpoint marker
        if mode == "append":
            return self._publish(
                prev_data + [[data_dir, snap]], prev_deletes, parent
            )
        return self._publish([[data_dir, snap]], [], parent)

    def count_rows(self, snapshot_id: int | None = None) -> int:
        """Snapshot row count from footers (no Spark job). Falls back to a
        real count when equality deletes are outstanding (footers can't see
        anti-joined rows)."""
        snap = self.current_snapshot() if snapshot_id is None else snapshot_id
        if snap == 0:
            return 0
        data, deletes = self._entries(self._manifest(snap))
        if deletes:
            return self.read(snap).count()
        return sum(_footer_rows(d) for d, _ in data)

    def merge_upsert(self, new: DataFrame, key_cols: list[str]) -> int:
        """MERGE INTO ... WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT,
        merge-on-read: append ``new`` + an equality-delete file holding the
        matched keys; never rewrites the table (O(round) disk writes, the
        only shape that survives a 100 TB table re-upserted every round).

        The matched-keys job scans ONLY the key columns of the current
        snapshot (parquet column pruning); when nothing matches — e.g.
        every round of a single crawl run, where url_seen guarantees a page
        is extracted once — no delete file is published and ``read`` stays
        a flat scan. Self-compacts once deletes exceed MOR_COMPACT_DELETES.
        """
        parent = self.current_snapshot()
        prev_data, prev_deletes = (
            self._entries(self._manifest(parent)) if parent else ([], [])
        )
        snap = parent + 1
        # `new` is deliberately NOT cached: the matched-keys job reads only
        # the key columns (Catalyst prunes the rest, skipping e.g. the
        # embedding UDF), so recomputation is cheaper than materializing
        # the full rows twice.
        deletes = prev_deletes
        if prev_data:
            matched = (
                self.read()
                .select(*key_cols)
                .distinct()
                .join(new.select(*key_cols).distinct(), key_cols, "semi")
            )
            del_dir = os.path.join(self.dir, f"delete-{uuid.uuid4().hex[:12]}")
            matched.write.mode("overwrite").parquet(del_dir)
            if _footer_rows(del_dir) == 0:
                shutil.rmtree(del_dir, ignore_errors=True)
            else:
                deletes = prev_deletes + [[del_dir, snap, list(key_cols)]]
        data_dir = os.path.join(self.dir, f"data-{uuid.uuid4().hex[:12]}")
        new.write.mode("overwrite").parquet(data_dir)
        rows = _footer_rows(data_dir)
        self.last_rows = rows
        if rows == 0:
            shutil.rmtree(data_dir, ignore_errors=True)
            out = self._publish(prev_data, deletes, parent)
        else:
            out = self._publish(prev_data + [[data_dir, snap]], deletes, parent)
        if len(deletes) >= MOR_COMPACT_DELETES:
            # amortized: fold deletes back into a flat table
            out = self.compact()
        return out

    def compact(self) -> int:
        """Maintenance rewrite (Iceberg ``rewrite_data_files``): publish one
        flat data dir with all outstanding equality deletes applied —
        bin-packs the per-round append dirs and zeroes the read-side
        anti-joins. ``merge_upsert`` calls this automatically past
        MOR_COMPACT_DELETES; call it explicitly between crawl runs to keep
        file counts bounded on long-lived tables. Old snapshots keep their
        dirs, so time travel across the compaction still works."""
        return self.commit(self.read(), mode="overwrite")

    def delete_where(self, condition) -> int:
        cur = self.read()
        return self.commit(cur.filter(~condition), mode="overwrite")

    def history(self) -> list[int]:
        out = []
        for f in os.listdir(self.dir):
            if f.startswith("v") and f.endswith(".json"):
                out.append(int(f[1:-5]))
        return sorted(out)


class Catalog:
    """A workdir of SnapshotTables, one per state/output table."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._tables: dict[str, SnapshotTable] = {}

    def table(self, name: str, schema: StructType) -> SnapshotTable:
        if name not in self._tables:
            self._tables[name] = SnapshotTable(self.spark, self.root, name, schema)
        return self._tables[name]


def upsert_chunks_with_stale_delete(
    chunks_table: SnapshotTable, new_chunks: DataFrame
) -> int:
    """S8+S9: upsert points then delete stale versions of re-crawled pages
    (qdrant.rs:130-139,180-186): for every source_url present in the new
    batch, rows with a different page_version are dropped.

    Implemented as a merge-on-read equality delete on ``source_url``: a
    page's chunk set is a pure function of (url, content) — page_version is
    the content hash and point_id is UUIDv5(url, version, index)
    (functions/text.py:125,138) — so "drop other-version rows, dedup same
    point_ids, append the new batch" is row-for-row identical to "drop ALL
    of the url's old rows, append the new batch" (a same-version re-crawl
    re-appends byte-identical rows). The rewrite variant this replaced
    re-wrote the ENTIRE chunks table every round — O(table) disk per
    round; the merge appends O(round) bytes plus a keys file, and inside a
    single crawl run (url_seen: each page extracted once) no delete file
    at all."""
    return chunks_table.merge_upsert(new_chunks, ["source_url"])
