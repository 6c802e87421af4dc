"""The single-shuffle fused pipeline (kernel emits finished per-document
entities/triples/events) must be byte-identical to the relational operator
composition (fused=False: entity_stage -> candidate self-joins -> D1 window
-> V2 validation joins -> relational events). The fused path is how the
engine runs at scale; the relational path is the semantics oracle.

The graph stage builds edges without anchoring them against the node set
(operators/graph.py docstring): within one run_pipeline result every edge
endpoint is already a node name. The tests at the end pin that invariant
on both paths, keep the reference's anchored formula (the Neo4j
MATCH-miss: an edge whose endpoint is not a node is dropped) as the
oracle the unanchored edges must equal, and pin the plan shape so the
anchoring joins cannot come back unnoticed."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
from knowledge_graph_builder_spark.schema import TRANSCRIPTS
from knowledge_graph_builder_spark.sources.synth import golden_transcripts, synth_transcripts


def _ms(df, cols):
    return Counter(
        tuple(
            tuple(v) if isinstance(v, list) else (round(v, 9) if isinstance(v, float) else v)
            for v in row
        )
        for row in df.select(*cols).collect()
    )


ENT_COLS = ["conv_id", "text", "type", "start_char", "end_char", "context", "source_sentence", "is_forced"]
TRI_COLS = ["document_id", "source", "target", "type", "reason", "confidence", "verb", "source_sentence", "date", "amount"]
EV_COLS = ["document_id", "event_type", "name", "participants", "date", "location", "amount", "context", "confidence"]
NODE_COLS = ["name", "type", "session_id", "document_id", "source_sentence"]
EDGE_COLS = ["src", "type", "dst", "reason", "confidence", "verb", "date", "amount", "source_sentence", "document_id", "session_id"]


def _edge_rows(edges):
    """Edges in comparable form. INVOLVES dedup is ``dropDuplicates``,
    which keeps an arbitrary writer's ``document_id``, so that one column
    is blanked on INVOLVES rows; every other column is deterministic."""
    return edges.withColumn(
        "document_id", F.when(F.col("type") != "INVOLVES", F.col("document_id"))
    ).select(*EDGE_COLS)


def _assert_equal(spark, transcripts):
    fused = run_pipeline(spark, transcripts, fused=True, persist=False)
    rel = run_pipeline(spark, transcripts, fused=False, persist=False)
    for cols, f, r, what in (
        (ENT_COLS, fused.entities, rel.entities, "entities"),
        (TRI_COLS, fused.triples, rel.triples, "triples"),
        (EV_COLS, fused.events, rel.events, "events"),
        (NODE_COLS, fused.nodes, rel.nodes, "nodes"),
        (EDGE_COLS, _edge_rows(fused.edges), _edge_rows(rel.edges), "edges"),
    ):
        mf, mr = _ms(f, cols), _ms(r, cols)
        assert mf == mr, (
            f"{what}: only-fused={list((mf - mr).keys())[:3]} only-relational={list((mr - mf).keys())[:3]}"
        )
        assert sum(mf.values()) > 0 or what == "events"


def test_pipeline_parity_golden(spark):
    _assert_equal(spark, golden_transcripts(spark))


def test_pipeline_parity_synth(spark):
    _assert_equal(spark, synth_transcripts(spark, n_convs=40, seed=11))


# two turns of one conversation share turn_idx 0: both paths must join
# them in text order ("Apple ..." first), whatever the input row order
TIED_TURNS = ("Tim Cook is the CEO of Apple.", "Apple was founded in 1976 by Steve Jobs.")


@pytest.mark.parametrize("order", ["ab", "ba"])
def test_pipeline_parity_tied_turn_idx(spark, order):
    texts = TIED_TURNS if order == "ab" else TIED_TURNS[::-1]
    rows = [("tied", 0, "user", text, "", None) for text in texts]
    _assert_equal(spark, spark.createDataFrame(rows, schema=TRANSCRIPTS))


INPUTS = {
    "golden": golden_transcripts,
    "synth3": lambda spark: synth_transcripts(spark, n_convs=40, seed=3),
    "synth7": lambda spark: synth_transcripts(spark, n_convs=40, seed=7),
    "synth11": lambda spark: synth_transcripts(spark, n_convs=40, seed=11),
}


def _anchored_edges(res):
    """The anchored formula: D4 dedup, then semi-join both endpoints of
    every triple, and every INVOLVES participant, against the node names."""
    names = res.nodes.select("name").distinct()
    w = Window.partitionBy("source", "type", "target").orderBy(F.col("document_id").desc())
    triples = (
        res.triples.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .join(names.withColumnRenamed("name", "source"), "source", "left_semi")
        .join(names.withColumnRenamed("name", "target"), "target", "left_semi")
        .select(
            F.col("source").alias("src"),
            "type",
            F.col("target").alias("dst"),
            "reason",
            "confidence",
            "verb",
            "date",
            "amount",
            "source_sentence",
            "document_id",
            F.lit("batch").alias("session_id"),
        )
    )
    null = F.lit(None).cast("string")
    involves = (
        res.events.select("document_id", "name", F.explode("participants").alias("participant"))
        .join(names.withColumnRenamed("name", "participant"), "participant", "left_semi")
        .select(
            F.col("name").alias("src"),
            F.lit("INVOLVES").alias("type"),
            F.col("participant").alias("dst"),
            null.alias("reason"),
            F.lit(None).cast("double").alias("confidence"),
            null.alias("verb"),
            null.alias("date"),
            null.alias("amount"),
            null.alias("source_sentence"),
            "document_id",
            F.lit("batch").alias("session_id"),
        )
        .dropDuplicates(["src", "type", "dst"])
    )
    return triples.unionByName(involves)


@pytest.mark.parametrize("fused", [True, False], ids=["fused", "relational"])
@pytest.mark.parametrize("name", sorted(INPUTS))
def test_edges_equal_anchored_and_resolve(spark, name, fused):
    res = run_pipeline(spark, INPUTS[name](spark), fused=fused, persist=False)
    got = _ms(_edge_rows(res.edges), EDGE_COLS)
    want = _ms(_edge_rows(_anchored_edges(res)), EDGE_COLS)
    assert got == want, f"only-unanchored={list((got - want))[:3]} only-anchored={list((want - got))[:3]}"
    assert sum(got.values()) > 0

    names = res.nodes.select(F.col("name").alias("endpoint"))
    endpoints = res.edges.filter(F.col("type") != "INVOLVES").select(F.col("src").alias("endpoint")).unionByName(
        res.edges.select(F.col("dst").alias("endpoint"))
    )
    dangling = [r.endpoint for r in endpoints.join(names, "endpoint", "left_anti").distinct().collect()]
    assert not dangling, f"edge endpoints with no node: {dangling[:5]}"


def _plan_ops(df) -> list[str]:
    """Operator names of the optimized logical plan, one per tree node."""
    lines = df._jdf.queryExecution().optimizedPlan().treeString().splitlines()
    return [ln.lstrip(" :+-").split(" ")[0] for ln in lines if ln.strip()]


def test_edges_plan_has_no_join(spark):
    # fused path without persist: the whole plan from the transcripts scan
    # to the edge projection is visible, and nothing in it joins
    res = run_pipeline(spark, golden_transcripts(spark), fused=True, persist=False)
    ops = _plan_ops(res.edges)
    assert "Window" in ops and "Aggregate" in ops  # the D4 window and the INVOLVES dedup
    assert not [op for op in ops if op.startswith("Join")], ops
