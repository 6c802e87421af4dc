"""Checkpoint/resume semantics (north_rule: resumable from checkpoint with
per-partition lineage + metrics): a stage directory is reused iff its
parquet commit succeeded AND its manifest row landed (write-then-commit
order), so a killed run recomputes exactly the unfinished stages and the
resumed output is identical."""

from __future__ import annotations

import json
import os
import shutil

from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
from knowledge_graph_builder_spark.sources.synth import golden_transcripts


def _triples(res):
    return sorted(tuple(r) for r in res.triples.select("document_id", "source", "type", "target").collect())


def test_resume_reuses_completed_stages(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    tr = golden_transcripts(spark)

    r1 = run_pipeline(spark, tr, checkpoint_dir=ckpt, run_id="r1")
    base = _triples(r1)
    from knowledge_graph_builder_spark.sources.synth import GOLDEN_EXPECTED_TRIPLES

    assert len(base) == len(GOLDEN_EXPECTED_TRIPLES)
    stages = {row["stage"] for row in r1.lineage}
    assert {"kernel_rows", "entities", "triples", "events"} <= stages
    assert all(not row.get("resumed") for row in r1.lineage)

    # full re-run with the same run id: everything loads from checkpoint
    r2 = run_pipeline(spark, tr, checkpoint_dir=ckpt, run_id="r1")
    assert all(row.get("resumed") for row in r2.lineage)
    assert _triples(r2) == base


def test_crash_between_write_and_commit_recomputes(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    tr = golden_transcripts(spark)
    r1 = run_pipeline(spark, tr, checkpoint_dir=ckpt, run_id="r1")
    base = _triples(r1)

    # simulate a crash AFTER the triples parquet write but BEFORE its
    # manifest commit: drop the manifest rows for triples+events (the
    # stage dirs remain, possibly partial — they must NOT be trusted)
    mpath = os.path.join(ckpt, "manifest.jsonl")
    rows = [json.loads(l) for l in open(mpath)]
    kept = [r for r in rows if r["stage"] in ("kernel_rows", "entities")]
    with open(mpath, "w") as fh:
        for r in kept:
            fh.write(json.dumps(r) + "\n")
    shutil.rmtree(os.path.join(ckpt, "triples"))

    r2 = run_pipeline(spark, tr, checkpoint_dir=ckpt, run_id="r1")
    by_stage = {row["stage"]: row for row in r2.lineage}
    assert by_stage["kernel_rows"].get("resumed") and by_stage["entities"].get("resumed")
    assert not by_stage["triples"].get("resumed")
    assert _triples(r2) == base


def test_new_run_id_recomputes_everything(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt3")
    tr = golden_transcripts(spark)
    run_pipeline(spark, tr, checkpoint_dir=ckpt, run_id="r1")
    r2 = run_pipeline(spark, tr, checkpoint_dir=ckpt, run_id="r2")
    assert all(not row.get("resumed") for row in r2.lineage)


def test_different_input_same_run_id_recomputes(spark, tmp_path):
    """Resume safety: the same run_id pointed at DIFFERENT input must not
    silently return the previous run's cached stages."""
    ckpt = str(tmp_path / "ckpt4")
    a = golden_transcripts(spark).filter("conv_id <= 'g5'")
    b = golden_transcripts(spark)  # superset — different source plan
    r1 = run_pipeline(spark, a, checkpoint_dir=ckpt, run_id="r1")
    n1 = len(_triples(r1))
    r2 = run_pipeline(spark, b, checkpoint_dir=ckpt, run_id="r1")
    assert all(not row.get("resumed") for row in r2.lineage)
    assert len(_triples(r2)) > n1


def test_incremental_update_matches_full_recompute(spark, tmp_path):
    """Edit one conversation and add another between snapshots: the
    incremental path must reprocess exactly those two and leave the store
    equal to a full recompute of the new snapshot."""
    from pyspark.sql import functions as F

    from knowledge_graph_builder_spark.plans.incremental import incremental_update
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.graph_store import GraphStore
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    v1 = golden_transcripts(spark)
    # v2: one conversation's turn edited (g2 gains a new founder triple
    # sentence), one brand-new conversation appended
    edit = F.when(
        (F.col("conv_id") == "g2") & (F.col("turn_idx") == 0),
        F.lit("Steve Jobs founded Apple in 1976."),
    ).otherwise(F.col("text"))
    new_conv = v1.filter(F.col("conv_id") == "g1").withColumn(
        "conv_id", F.lit("g-new")
    )
    v2 = v1.withColumn("text", edit).unionByName(new_conv)

    # incremental store: v1 fully, then the v1->v2 delta
    inc_store = GraphStore(spark, str(tmp_path / "inc"), n_buckets=4)
    res1 = run_pipeline(spark, v1, persist=False)
    inc_store.upsert_nodes(res1.nodes)
    inc_store.upsert_edges(res1.edges)
    report = incremental_update(spark, inc_store, v1, v2)
    assert report.n_changed_convs == 2  # g2 (edited) + g-new (added)
    assert report.n_removed_convs == 0

    # full recompute of v2 into a fresh store
    full_store = GraphStore(spark, str(tmp_path / "full"), n_buckets=4)
    res2 = run_pipeline(spark, v2, persist=False)
    full_store.upsert_nodes(res2.nodes)
    full_store.upsert_edges(res2.edges)

    inc_edges = {(r.src, r.type, r.dst) for r in inc_store.edges().collect()}
    full_edges = {(r.src, r.type, r.dst) for r in full_store.edges().collect()}
    assert inc_edges == full_edges
    inc_nodes = {(r.name, r.type) for r in inc_store.nodes().collect()}
    full_nodes = {(r.name, r.type) for r in full_store.nodes().collect()}
    assert inc_nodes == full_nodes

    # removal detection: dropping a conversation reports it, upserts nothing
    v3 = v2.filter(F.col("conv_id") != "g-new")
    report2 = incremental_update(spark, inc_store, v2, v3)
    assert report2.n_changed_convs == 0 and report2.n_removed_convs == 1


def test_incremental_three_snapshot_torture(spark, tmp_path):
    """Round-4 verdict ask #7: a 3-snapshot sequence covering add, edit,
    remove, and a removed-then-re-added-with-different-content conv_id,
    each step pinned against an INDEPENDENTLY folded oracle:

    * affected/removed sets come from plain-Python set comparison of the
      collected (conv_id, turn_idx, text) rows — not snapshot_diff;
    * expected store state is the keyed MERGE-accumulate fold (edge keys
      (src, type, dst), node keys (name, type)) of the pipeline run over
      each step's affected subset — superseded keys linger by design
      (MERGE has no tombstones, same as the reference's Neo4j MERGE).
    """
    from pyspark.sql import functions as F

    from knowledge_graph_builder_spark.plans.incremental import incremental_update
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.graph_store import GraphStore
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    def conv_map(df):
        out = {}
        for r in df.select("conv_id", "turn_idx", "text").collect():
            out.setdefault(r.conv_id, set()).add((r.turn_idx, r.text))
        return out

    def expected_affected(old, new):
        om, nm = conv_map(old), conv_map(new)
        changed = {c for c in om.keys() | nm.keys() if om.get(c) != nm.get(c)}
        return sorted(changed & nm.keys()), sorted(changed - nm.keys())

    exp_edges: set = set()
    exp_nodes: set = set()

    def fold(subset_df):
        res = run_pipeline(spark, subset_df, persist=True)
        try:
            exp_edges.update((r.src, r.type, r.dst) for r in res.edges.collect())
            exp_nodes.update((r.name, r.type) for r in res.nodes.collect())
        finally:
            res.kernel_rows.unpersist()

    def check(store):
        assert {(r.src, r.type, r.dst) for r in store.edges().collect()} == exp_edges
        assert {(r.name, r.type) for r in store.nodes().collect()} == exp_nodes

    s1 = golden_transcripts(spark)
    convs = sorted(r[0] for r in s1.select("conv_id").distinct().collect())
    victim, editee = convs[2], convs[1]  # removed-then-re-added; edited

    # s2: edit one turn of `editee` (new founder sentence), REMOVE
    # `victim`, ADD a brand-new conversation
    edit = F.when(
        (F.col("conv_id") == editee) & (F.col("turn_idx") == 0),
        F.lit("Steve Jobs founded Apple in 1976."),
    ).otherwise(F.col("text"))
    newc = s1.filter(F.col("conv_id") == convs[0]).withColumn("conv_id", F.lit("t-new"))
    s2 = s1.withColumn("text", edit).filter(F.col("conv_id") != victim).unionByName(newc)

    # s3: RE-ADD `victim` with DIFFERENT content (the last conv's turns),
    # edit t-new, remove the first conv
    readded = (
        s1.filter(F.col("conv_id") == convs[-1]).withColumn("conv_id", F.lit(victim))
    )
    edit3 = F.when(
        (F.col("conv_id") == "t-new") & (F.col("turn_idx") == 0),
        F.lit("Microsoft acquired GitHub."),
    ).otherwise(F.col("text"))
    s3 = (
        s2.withColumn("text", edit3)
        .filter(F.col("conv_id") != convs[0])
        .unionByName(readded)
    )

    store = GraphStore(spark, str(tmp_path / "torture"), n_buckets=4)
    res1 = run_pipeline(spark, s1, persist=False)
    store.upsert_nodes(res1.nodes)
    store.upsert_edges(res1.edges)
    fold(s1)
    check(store)

    for old, new in [(s1, s2), (s2, s3)]:
        aff, rem = expected_affected(old, new)
        report = incremental_update(spark, store, old, new)
        assert report.n_changed_convs == len(aff), (aff, report)
        assert report.n_removed_convs == len(rem), (rem, report)
        fold(new.join(new.sparkSession.createDataFrame([(c,) for c in aff], "conv_id string"), "conv_id", "leftsemi"))
        check(store)

    # the re-added conv_id carries its NEW content's triples...
    readded_triples = {
        (r.src, r.type, r.dst)
        for r in run_pipeline(spark, readded, persist=False).edges.collect()
    }
    store_edges = {(r.src, r.type, r.dst) for r in store.edges().collect()}
    assert readded_triples <= store_edges
    # ...and the step counts prove the prune: step 2 touched exactly
    # {victim (re-added), t-new (edited)} + removed {convs[0]}
    aff3, rem3 = expected_affected(s2, s3)
    assert victim in aff3 and "t-new" in aff3 and rem3 == [convs[0]]
