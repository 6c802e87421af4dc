"""Durable graph store: the Neo4j-MERGE replacement (S4-S8, D3/D4).

Parquet-backed implementation of the reference's MERGE semantics:

* ``upsert_nodes`` / ``upsert_edges`` — MERGE by key, last writer wins
  (reference graph_db.py:81-88 SET semantics), implemented as
  union + row_number window over a monotonically increasing batch_seq.
* ``clear_session`` — ``DETACH DELETE`` equivalent (graph_db.py:147-151):
  predicate rewrite of both tables.

Scale design — the tables are HASH-BUCKETED on the merge key
(``_bucket=K`` partition directories, xxhash64(key) % n_buckets):

* an upsert reads and rewrites ONLY the buckets its batch touches, so
  upsert cost scales with BATCH size, not STORE size;
* the batch sequence is an O(1) counter file, not a max() scan.

Commit protocol — the metadata-pointer pattern, safe on object stores.
Every commit writes its merged buckets to an IMMUTABLE, uniquely-named
commit directory (data files are never renamed or overwritten), then
atomically swaps ONE small manifest file mapping bucket -> commit
directory. Per table, under the store root::

    <table>.manifest.json                          seq, schema, bucket -> commit
    <table>._commits/commit-<seq>-<hex>/_bucket=K  immutable data
    <table>.seq                                    last claimed batch sequence

The only atomicity primitive required is single-file replace (``fsio``
routes it to os.replace locally and FileContext.rename(OVERWRITE) on
Hadoop filesystems — atomic on HDFS; a true object-store deployment
should hold the pointer in a conditional-PUT catalog — see fsio.py's
atomicity notes). A crash before the manifest swap leaves an orphan
commit directory and a fully consistent old manifest; a retry re-merges
the same batch, which the keyed last-writer dedup makes VALUE-idempotent
(the convergence argument the streaming BatchLedger documents for a
crash between upsert and mark). Superseded and orphan commit directories
stay on disk until ``vacuum()`` removes them; the streaming MERGE
(``stream_kg_to_store``) vacuums after every batch.
Readers prune at the FILE level: only the bucket directories named in
the manifest are ever listed, so upsert reads stay O(batch).

With a table catalog the same frames go through ``MERGE INTO`` and
``DELETE FROM`` and the protocol becomes the catalog's job (SCALE.md §4);
the key/dedup logic is identical, which is why it lives here and not in
the sink.
"""

from __future__ import annotations

import json
import os
import uuid

from .fsio import io_for

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window


class GraphStore:
    """``keep_history=False`` (default) stores last-writer rows only —
    upserts dedup at write time. ``keep_history=True`` retains every
    written version (Iceberg-snapshot-flavored): writes append versions,
    current-state reads dedup with the keyed last-writer window, and
    ``nodes_as_of(seq)`` / ``edges_as_of(seq)`` reconstruct the exact
    MERGE state after batch ``seq`` — point-in-time reads for audits and
    incremental debugging (the reference only keeps created_at/updated_at
    audit columns, graph_db.py:82-83; this generalizes them). The
    tradeoff is explicit: history mode defers the dedup window from one
    write to every read, and the store grows with versions until
    ``clear_session`` (a physical rewrite) compacts it.

    ``commit_mode`` accepts only ``"manifest"``, the one protocol."""

    _KEY_COLS = {"nodes": ["name", "type"], "edges": ["src", "type", "dst"]}

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = 64,
        keep_history: bool = False,
        commit_mode: str = "manifest",
        io=None,
    ):
        if commit_mode != "manifest":
            raise ValueError(f"unknown commit_mode {commit_mode!r}; only 'manifest' exists")
        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        self.keep_history = keep_history
        # all metadata I/O (manifests, counters, listings) goes through the
        # fsio shim so the store runs wherever the DATA lives (hdfs://,
        # s3a://, ...), not only on the driver's local disk
        self.io = io if io is not None else io_for(root, spark)
        self.io.makedirs(root)
        for table in self._KEY_COLS:
            # a table directory without a manifest is the bucket-directory
            # layout of older stores; reading past it would show an empty graph
            if self.io.exists(self._path(table)) and not self.io.exists(
                self._manifest_path(table)
            ):
                raise ValueError(
                    f"{self._path(table)} has no {table}.manifest.json: it is an "
                    "older store layout this store cannot read; rebuild the graph "
                    "into a new root"
                )

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _bucket_col(self, key_cols: list[str]):
        return F.pmod(F.xxhash64(*key_cols), F.lit(self.n_buckets)).cast("int")

    # -- manifest-pointer commit protocol ---------------------------------

    def _manifest_path(self, table: str) -> str:
        return self._path(table) + ".manifest.json"

    def _commits_root(self, table: str) -> str:
        # a sibling of <table>, not inside it: __init__ reads an existing
        # <table> directory as an older layout
        return self._path(table) + "._commits"

    def _load_manifest(self, table: str) -> dict | None:
        p = self._manifest_path(table)
        if not self.io.exists(p):
            return None
        return json.loads(self.io.read_text(p))

    def _store_manifest(self, table: str, manifest: dict) -> None:
        """The ONE atomic step of a commit: single-file replace
        (object-store equivalent: conditional PUT of the pointer)."""
        self.io.write_text_atomic(
            self._manifest_path(table), json.dumps(manifest, sort_keys=True)
        )

    def _write_commit(self, df: DataFrame, table: str, seq: int) -> tuple[str, list[int]]:
        """Write one immutable commit directory partitioned by _bucket;
        returns (commit dir name, buckets present)."""
        name = f"commit-{seq}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self._commits_root(table), name)
        df.write.mode("error").partitionBy("_bucket").parquet(path)
        present = sorted(
            int(e.split("=", 1)[1]) for e in self.io.listdir(path) if e.startswith("_bucket=")
        )
        return name, present

    def _manifest_read(self, table: str, manifest: dict, buckets: list[int] | None = None) -> DataFrame:
        """Read the manifest's current state (optionally restricted to a
        bucket subset — file-level pruning, nothing else is even listed).
        Reconstructs the _bucket column from the key columns (it is a
        derived partition label, not data)."""
        want = {str(b) for b in buckets} if buckets is not None else None
        leafs = [
            os.path.join(self._commits_root(table), cdir, f"_bucket={b}")
            for b, cdir in manifest["buckets"].items()
            if want is None or b in want
        ]
        if not leafs:
            # empty-leaf path (e.g. an upsert touching only buckets the
            # manifest has never seen) must still carry the derived _bucket
            # column, or the caller's unionByName with the new batch fails
            schema = StructType.fromJson(json.loads(manifest["schema"]))
            df = self.spark.createDataFrame([], schema)
        else:
            df = self.spark.read.parquet(*leafs)
        return df.withColumn("_bucket", self._bucket_col(self._KEY_COLS[table]))

    def _manifest_full_commit(self, df: DataFrame, table: str, seq: int) -> None:
        """Full-table rewrite (first write, clear_session): one commit
        dir, fresh manifest."""
        cdir, present = self._write_commit(df, table, seq)
        self._store_manifest(
            table,
            {
                "seq": seq,
                "schema": df.drop("_bucket").schema.json(),
                "buckets": {str(b): cdir for b in present},
            },
        )

    def vacuum(self, table: str) -> list[str]:
        """Remove commit directories no longer referenced by the current
        manifest (crash orphans and fully superseded commits). On an
        object store run this with a grace period so in-flight readers of
        a just-replaced manifest finish; locally it is immediate. Returns
        the removed directory names."""
        manifest = self._load_manifest(table)
        croot = self._commits_root(table)
        if manifest is None or not self.io.isdir(croot):
            return []
        live = set(manifest["buckets"].values())
        removed = []
        for entry in self.io.listdir(croot):
            if entry not in live:
                self.io.rmtree(os.path.join(croot, entry))
                removed.append(entry)
        return removed

    def _read(self, table: str) -> DataFrame | None:
        manifest = self._load_manifest(table)
        return None if manifest is None else self._manifest_read(table, manifest)

    def _upsert(self, new: DataFrame, table: str, key_cols: list[str]) -> None:
        seq = self._next_seq(table)
        new = new.withColumn("_batch_seq", F.lit(seq))
        new = new.withColumn("_bucket", self._bucket_col(key_cols))

        # history mode appends versions verbatim; last-writer resolution
        # happens at read time instead of write time
        dedup = (lambda df: df) if self.keep_history else (lambda df: self._dedup(df, key_cols))

        manifest = self._load_manifest(table)
        if manifest is None:
            # first write: within-batch duplicate keys still need the keyed dedup
            self._manifest_full_commit(dedup(new), table, seq)
            return
        # the touched-bucket list is at most n_buckets rows — a driver-side
        # collect of a bounded aggregate, never of data
        touched = sorted(
            r["_bucket"] for r in new.select("_bucket").distinct().collect()
        )
        # file-level pruning: only the touched buckets' directories are
        # listed — the untouched store is never even enumerated
        old_touched = self._manifest_read(table, manifest, buckets=touched)
        merged = dedup(old_touched.unionByName(new))
        cdir, present = self._write_commit(merged, table, seq)
        buckets = dict(manifest["buckets"])
        for b in present:
            buckets[str(b)] = cdir
        # data is durable and immutable; this single replace IS the commit
        self._store_manifest(
            table, {"seq": seq, "schema": manifest["schema"], "buckets": buckets}
        )

    def _dedup(self, merged: DataFrame, key_cols: list[str]) -> DataFrame:
        # tiebreak beyond _batch_seq: duplicate keys WITHIN one batch share
        # a seq, and row_number over a tied ordering picks a partition-
        # dependent winner — a deterministic whole-row hash keeps retries
        # and replans byte-identical.
        row_hash = F.xxhash64(*[c for c in merged.columns if c not in ("_batch_seq", "_bucket")])
        w = Window.partitionBy(*key_cols).orderBy(F.col("_batch_seq").desc(), row_hash.desc())
        return (
            merged.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
        )

    def _next_seq(self, table: str) -> int:
        """O(1) monotone batch sequence from a counter file (write-then-
        rename). The sequence is CLAIMED before the data write, so a crash
        mid-upsert skips a number instead of reusing one."""
        seq = self.current_seq(table) + 1
        self.io.write_text_atomic(self._path(table) + ".seq", str(seq))
        return seq

    # -- public API ------------------------------------------------------

    def upsert_nodes(self, nodes: DataFrame) -> None:
        """MERGE on (name, type) — graph_db.py:74-88."""
        self._upsert(nodes, "nodes", ["name", "type"])

    def upsert_edges(self, edges: DataFrame) -> None:
        """MERGE on (src, type, dst) — graph_db.py:121-145."""
        self._upsert(edges, "edges", ["src", "type", "dst"])

    def _current(self, table: str, key_cols: list[str], as_of_seq: int | None = None) -> DataFrame | None:
        df = self._read(table)
        if df is None:
            return None
        if as_of_seq is not None:
            if not self.keep_history:
                raise ValueError("time travel requires keep_history=True")
            df = df.filter(F.col("_batch_seq") <= as_of_seq)
        if self.keep_history:
            df = self._dedup(df, key_cols)
        return df.drop("_batch_seq", "_bucket")

    def nodes(self) -> DataFrame:
        return self._current("nodes", ["name", "type"])

    def edges(self) -> DataFrame:
        return self._current("edges", ["src", "type", "dst"])

    def nodes_as_of(self, seq: int) -> DataFrame:
        """Point-in-time MERGE state of the node table after batch ``seq``
        (keep_history mode only)."""
        return self._current("nodes", ["name", "type"], as_of_seq=seq)

    def edges_as_of(self, seq: int) -> DataFrame:
        return self._current("edges", ["src", "type", "dst"], as_of_seq=seq)

    def current_seq(self, table: str) -> int:
        """Last claimed batch sequence (-1 for an empty store)."""
        path = self._path(table) + ".seq"
        if not self.io.exists(path):
            return -1
        return int(self.io.read_text(path).strip() or 0)

    def clear_session(self, session_id: str) -> None:
        """S8 — delete every node/edge of one session (graph_db.py:147-151).
        A session can live in every bucket, so this is a full filtered
        rewrite by construction (catalog equivalent: DELETE FROM ... WHERE).
        The previous commit dirs stay on disk until ``vacuum()``."""
        for table in self._KEY_COLS:
            df = self._read(table)
            if df is not None:
                # null-preserving predicate: a plain != would evaluate to
                # NULL for rows with no session_id and silently delete them
                keep = F.col("session_id").isNull() | (F.col("session_id") != session_id)
                self._manifest_full_commit(df.filter(keep), table, self._next_seq(table))


class BatchLedger:
    """Applied-batch ledger for exactly-once streaming MERGE.

    Structured Streaming guarantees foreachBatch is called with a stable
    batch_id per micro-batch; a retried batch re-arrives with the SAME id.
    Recording applied ids (write-then-rename, like the checkpoint
    manifests) makes store upserts exactly-once: a retry of an applied
    batch is skipped instead of re-merged.
    """

    def __init__(self, root: str, io=None):
        self.root = root
        self.io = io if io is not None else io_for(root)
        self.io.makedirs(root)

    def _path(self, batch_id: int) -> str:
        return os.path.join(self.root, f"batch-{batch_id}.done")

    def applied(self, batch_id: int) -> bool:
        return self.io.exists(self._path(batch_id))

    def mark(self, batch_id: int) -> None:
        self.io.write_text_atomic(self._path(batch_id), "ok")
