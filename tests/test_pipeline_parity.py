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
    """Edges in comparable form: every column, INVOLVES ``document_id``
    included (INVOLVES edges keep the last writer like triple edges)."""
    return edges.select(*EDGE_COLS)


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
    every triple, and every INVOLVES participant, against the node names;
    INVOLVES edges keep the last writer by ``document_id``."""
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
    )
    return triples.unionByName(_keep_last(involves, ["src", "type", "dst"], ["document_id"]))


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
    assert ops.count("Window") == 1, ops  # one keep-last over triple and INVOLVES edges
    assert not [op for op in ops if "Aggregate" in op], ops
    assert not [op for op in ops if op.startswith("Join")], ops


# -- the post-kernel plan is SQL text; these Column-DSL copies are its oracle --


def _dsl_prelude(transcripts, partitions):
    t = transcripts.select(
        "conv_id", "text", F.coalesce("turn_idx", F.lit(-1)).alias("turn_idx")
    ).filter(F.col("conv_id").isNotNull())
    t = t.repartition(partitions, "conv_id").sortWithinPartitions("conv_id", "turn_idx", "text")
    return t.select("conv_id", "text")


def _dsl_entities(kr):
    return kr.filter(F.col("kind") == "entity").select(
        "conv_id", "text", F.col("label").alias("type"), "start_char", "end_char",
        F.col("reason").alias("context"), F.col("sentence").alias("source_sentence"),
        F.col("forced").alias("is_forced"),
    )


def _dsl_triples(kr):
    return kr.filter(F.col("kind") == "triple").select(
        F.col("conv_id").alias("document_id"), F.col("text").alias("source"),
        F.col("obj").alias("target"), F.col("label").alias("type"), "reason",
        F.col("conf").alias("confidence"), "verb", F.col("sentence").alias("source_sentence"),
        F.col("mdate").alias("date"), F.col("mamount").alias("amount"),
    )


def _dsl_events(kr):
    return kr.filter(F.col("kind") == "event").select(
        F.col("conv_id").alias("document_id"), F.col("label").alias("event_type"),
        F.col("text").alias("name"), F.col("parts").alias("participants"),
        F.col("mdate").alias("date"), "location", F.col("mamount").alias("amount"),
        F.col("sentence").alias("context"), F.col("conf").alias("confidence"),
    )


def _keep_last(df, keys, order):
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order])
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def _dsl_nodes(entities, session_id):
    return _keep_last(entities, ["text", "type"], ["conv_id", "is_forced", "start_char"]).select(
        F.col("text").alias("name"), "type", F.lit(session_id).alias("session_id"),
        F.col("conv_id").alias("document_id"), "source_sentence",
    )


def _dsl_edges(triples, events, session_id):
    null = F.lit(None).cast("string")
    triple_edges = triples.select(
        F.col("source").alias("src"), "type", F.col("target").alias("dst"), "reason",
        "confidence", "verb", "date", "amount", "source_sentence", "document_id",
    )
    involves = events.select(
        F.col("name").alias("src"), F.lit("INVOLVES").alias("type"),
        F.explode("participants").alias("dst"), null.alias("reason"),
        F.lit(None).cast("double").alias("confidence"), null.alias("verb"), null.alias("date"),
        null.alias("amount"), null.alias("source_sentence"), "document_id",
    )
    union = triple_edges.unionByName(involves)
    return _keep_last(union, ["src", "type", "dst"], ["document_id"]).withColumn(
        "session_id", F.lit(session_id)
    )


def _dsl_event_nodes(events, session_id):
    return _keep_last(events, ["name", "event_type"], ["document_id"]).select(
        "name", "event_type", "date", "location", "amount", "context", "document_id",
        "confidence", F.lit(session_id).alias("session_id"),
    )


EVENT_NODE_COLS = ["name", "event_type", "date", "location", "amount", "context", "document_id", "confidence", "session_id"]


def test_sql_text_plan_matches_column_dsl(spark):
    """The SQL-text prelude, kernel projections and graph stage give
    exactly the rows of the Column-DSL formulation they replaced,
    including session ids a naively quoted SQL literal would break."""
    from knowledge_graph_builder_spark.operators.extraction import (
        EMIT_GRAPH,
        _make_fused_kernel,
        entities_from_kernel,
        events_from_kernel,
        extract_from_transcripts,
        triples_from_kernel,
    )
    from knowledge_graph_builder_spark.operators.graph import build_edges, build_event_nodes, build_nodes
    from knowledge_graph_builder_spark.schema import KERNEL_ROWS

    transcripts = synth_transcripts(spark, n_convs=12, turns_per_conv=6, hot_conv_factor=3, seed=5)
    kr = extract_from_transcripts(transcripts, 3, emit=EMIT_GRAPH).cache()
    try:
        dsl_kr = _dsl_prelude(transcripts, 3).mapInArrow(_make_fused_kernel(EMIT_GRAPH), KERNEL_ROWS)
        assert _ms(kr, kr.columns) == _ms(dsl_kr, kr.columns)

        entities, triples, events = entities_from_kernel(kr), triples_from_kernel(kr), events_from_kernel(kr)
        for cols, got, want in (
            (ENT_COLS, entities, _dsl_entities(kr)),
            (TRI_COLS, triples, _dsl_triples(kr)),
            (EV_COLS, events, _dsl_events(kr)),
        ):
            assert got.columns == want.columns
            mg = _ms(got, cols)
            assert mg == _ms(want, cols) and sum(mg.values()) > 0

        for sid in ("batch", "it's", "a\\'b\\", "x' OR '1'='1", "日本", ""):
            for cols, got, want in (
                (NODE_COLS, build_nodes(entities, sid), _dsl_nodes(entities, sid)),
                (EDGE_COLS, build_edges(triples, events, sid), _dsl_edges(triples, events, sid)),
                (EVENT_NODE_COLS, build_event_nodes(events, sid), _dsl_event_nodes(events, sid)),
            ):
                assert got.columns == want.columns
                assert got.schema == want.schema
                mg = _ms(got, cols)
                assert mg == _ms(want, cols) and sum(mg.values()) > 0, sid
    finally:
        kr.unpersist()


PARTITION_SETTINGS = [(1, 1), (4, 4), (7, 13), (3, 2)]  # (kernel partitions, shuffle partitions)
TABLE_COLS = {"nodes": NODE_COLS, "edges": EDGE_COLS, "triples": TRI_COLS, "events": EV_COLS}


def test_outputs_invariant_under_partitioning(spark):
    """The same input gives the same four tables whatever the kernel and
    shuffle partition counts: every keep-last has a total order, and
    INVOLVES edges take the triple edges' keep-last rule."""
    transcripts = synth_transcripts(spark, n_convs=40, seed=11)
    default = spark.conf.get("spark.sql.shuffle.partitions")
    tables = []
    try:
        for kernel_parts, shuffle_parts in PARTITION_SETTINGS:
            spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_parts))
            res = run_pipeline(spark, transcripts, kernel_partitions=kernel_parts, persist=False)
            tables.append({name: _ms(getattr(res, name), cols) for name, cols in TABLE_COLS.items()})
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default)
    assert sum(tables[0]["edges"].values()) > 0
    for setting, got in zip(PARTITION_SETTINGS[1:], tables[1:]):
        for name in TABLE_COLS:
            only_here = list((got[name] - tables[0][name]).keys())[:3]
            assert got[name] == tables[0][name], f"{name} at {setting}: {only_here}"
