"""Manifest-pointer commit protocol of GraphStore.

Immutable commit directories + one atomically replaced manifest file
(the metadata-pointer pattern). These tests pin the contract:

* MERGE state (same upserts -> the literal last-writer state);
* data-file immutability (an upsert never rewrites or renames a
  referenced file — only the manifest pointer moves);
* crash safety (an orphan commit dir without a manifest swap is
  invisible to readers and reclaimed by vacuum);
* history/as-of, clear_session and reopening work, and a table
  directory without a manifest (an older layout) is refused.
"""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from knowledge_graph_builder_spark.sources.graph_store import GraphStore


def _nodes_df(spark, rows):
    return spark.createDataFrame(rows, "name string, type string, session_id string")


def _state(store):
    return {
        (r["name"], r["type"]): r["session_id"]
        for r in store.nodes().select("name", "type", "session_id").collect()
    }


def test_manifest_upserts_merge_last_writer_wins(spark, tmp_path):
    batches = [
        [("Apple", "ORG", "s1"), ("Jobs", "PERSON", "s1")],
        [("Apple", "ORG", "s2"), ("MSFT", "ORG", "s2")],  # update + insert
        [("Jobs", "PERSON", "s3")],
    ]
    store = GraphStore(spark, str(tmp_path / "g"), n_buckets=8)
    for batch in batches:
        store.upsert_nodes(_nodes_df(spark, batch))
    assert _state(store) == {
        ("Apple", "ORG"): "s2",
        ("Jobs", "PERSON"): "s3",
        ("MSFT", "ORG"): "s2",
    }


def test_manifest_upsert_never_touches_referenced_files(spark, tmp_path):
    """Immutability: files referenced by the pre-upsert manifest are
    byte-identical afterwards; the commit only swaps the pointer."""
    root = str(tmp_path / "g")
    store = GraphStore(spark, root, n_buckets=8)
    store.upsert_nodes(
        _nodes_df(spark, [(f"n{i}", "ORG", "s1") for i in range(64)])
    )

    def file_state():
        out = {}
        for f in glob.glob(f"{root}/nodes._commits/**/*", recursive=True):
            if os.path.isfile(f):
                with open(f, "rb") as fh:
                    out[f] = fh.read()
        return out

    before = file_state()
    store.upsert_nodes(_nodes_df(spark, [("n3", "ORG", "s2")]))
    after = file_state()
    # every pre-existing file is still there, byte-identical
    for path, content in before.items():
        assert after[path] == content
    # and the store still MERGEs correctly
    assert store.nodes().count() == 64
    assert _state(store)[("n3", "ORG")] == "s2"


def test_manifest_crash_orphan_is_invisible_and_vacuumable(spark, tmp_path):
    root = str(tmp_path / "g")
    store = GraphStore(spark, root, n_buckets=4)
    store.upsert_nodes(_nodes_df(spark, [("Apple", "ORG", "s1")]))
    good = _state(store)

    # simulate a crash AFTER the data write but BEFORE the manifest swap:
    # an orphan commit directory appears, the manifest is unchanged
    orphan = os.path.join(root, "nodes._commits", "commit-99-deadbeef")
    os.makedirs(os.path.join(orphan, "_bucket=0"))
    with open(os.path.join(orphan, "_bucket=0", "junk.parquet"), "wb") as fh:
        fh.write(b"not even parquet")

    assert _state(store) == good  # readers resolve via the manifest only
    removed = store.vacuum("nodes")
    assert removed == ["commit-99-deadbeef"]
    assert not os.path.exists(orphan)
    # referenced commits survive vacuum
    assert _state(store) == good


def test_manifest_vacuum_reclaims_superseded_commits(spark, tmp_path):
    root = str(tmp_path / "g")
    store = GraphStore(spark, root, n_buckets=2)
    store.upsert_nodes(_nodes_df(spark, [("Apple", "ORG", "s1")]))
    # same key again: its bucket's pointer moves to the new commit, fully
    # superseding the first commit directory
    store.upsert_nodes(_nodes_df(spark, [("Apple", "ORG", "s2")]))
    croot = os.path.join(root, "nodes._commits")
    assert len(os.listdir(croot)) == 2
    removed = store.vacuum("nodes")
    assert len(removed) == 1
    assert _state(store) == {("Apple", "ORG"): "s2"}


def test_manifest_clear_session(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "g"), n_buckets=4)
    store.upsert_nodes(_nodes_df(spark, [("Apple", "ORG", "s1"), ("MSFT", "ORG", "s2")]))
    store.clear_session("s1")
    assert _state(store) == {("MSFT", "ORG"): "s2"}
    # clearing everything leaves a readable empty table (schema kept in
    # the manifest), not a missing one
    store.clear_session("s2")
    assert store.nodes().count() == 0


def test_manifest_history_mode_as_of(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "g"), n_buckets=4, keep_history=True)
    store.upsert_nodes(_nodes_df(spark, [("Apple", "ORG", "s1")]))
    seq1 = store.current_seq("nodes")
    store.upsert_nodes(_nodes_df(spark, [("Apple", "ORG", "s2")]))
    assert _state(store) == {("Apple", "ORG"): "s2"}
    asof = {
        (r["name"], r["type"]): r["session_id"]
        for r in store.nodes_as_of(seq1).select("name", "type", "session_id").collect()
    }
    assert asof == {("Apple", "ORG"): "s1"}


def test_manifest_upsert_into_unseen_bucket(spark, tmp_path):
    """Regression (round-4 advice): an upsert whose batch touches ONLY
    buckets the manifest has never seen used to crash — the empty-leaf
    read path returned a frame without _bucket and the unionByName with
    the new batch failed with NUM_COLUMNS_MISMATCH."""
    root = str(tmp_path / "g")
    store = GraphStore(spark, root, n_buckets=64)
    store.upsert_nodes(_nodes_df(spark, [("Apple", "ORG", "s1")]))
    manifest = json.load(open(f"{root}/nodes.manifest.json"))
    seen = set(manifest["buckets"])
    # find a key whose bucket is NOT in the manifest yet (64 buckets, one
    # occupied -> trivially findable)
    fresh = None
    for i in range(1000):
        name = f"cand{i}"
        b = (
            spark.createDataFrame([(name, "ORG")], "name string, type string")
            .select(F.pmod(F.xxhash64("name", "type"), F.lit(64)).cast("int").alias("b"))
            .collect()[0]["b"]
        )
        if str(b) not in seen:
            fresh = name
            break
    assert fresh is not None
    store.upsert_nodes(_nodes_df(spark, [(fresh, "ORG", "s2")]))
    state = _state(store)
    assert state[("Apple", "ORG")] == "s1"
    assert state[(fresh, "ORG")] == "s2"


def test_reopen_manifest_store_with_default_mode_keeps_writing(spark, tmp_path):
    """A reopened store resolves reads and writes through the same
    manifest: post-reopen upserts and clear_session land."""
    root = str(tmp_path / "g")
    first = GraphStore(spark, root, n_buckets=8)
    first.upsert_nodes(_nodes_df(spark, [("Apple", "ORG", "s1")]))

    reopened = GraphStore(spark, root, n_buckets=8)
    reopened.upsert_nodes(_nodes_df(spark, [("Apple", "ORG", "s2"), ("MSFT", "ORG", "s2")]))
    assert _state(reopened) == {("Apple", "ORG"): "s2", ("MSFT", "ORG"): "s2"}
    # and clear_session through the reopened handle also lands
    reopened.clear_session("s2")
    assert reopened.nodes().count() == 0


def test_table_dir_without_manifest_is_refused(spark, tmp_path):
    """Older stores kept each table in <root>/<table>/_bucket=K with no
    manifest. Opening one must fail loudly: reads go through the manifest
    only, so it would otherwise look like an empty graph."""
    root = str(tmp_path / "g")
    old = _nodes_df(spark, [("Apple", "ORG", "s1")]).withColumn("_bucket", F.lit(0))
    old.write.partitionBy("_bucket").parquet(f"{root}/nodes")
    with pytest.raises(ValueError, match="nodes.manifest.json"):
        GraphStore(spark, root, n_buckets=4)
    # manifest commits are the only protocol a store can be opened with
    with pytest.raises(ValueError, match="commit_mode"):
        GraphStore(spark, str(tmp_path / "fresh"), commit_mode="swap")

