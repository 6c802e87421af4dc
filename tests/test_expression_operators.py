"""The pure-Catalyst expression forms of P2/P3/R1 (corrected_type_col,
normalized_name_col, role_relationship_from_positions) are the documented
column-level operator surface; the fused pipeline computes these in the
kernel. This parity suite keeps the expression forms honest against the
kernel implementations so neither can drift."""

from __future__ import annotations

from pyspark.sql import functions as F

from knowledge_graph_builder_spark import textkit
from knowledge_graph_builder_spark.operators.extraction import (
    corrected_type_col,
    normalized_name_col,
)
from knowledge_graph_builder_spark.operators.relationships import (
    role_relationship_from_positions,
)
from knowledge_graph_builder_spark.rules import (
    ROLE_INDICATOR_MAX_DISTANCE,
    ROLE_INDICATOR_PAIRS,
)

_NAMES = [
    ("Apple Inc.", "ORG"), ("Apple Inc", "ORG"), ("Acme LLC", "ORG"),
    ("Initech Corp.", "ORG"), ("Initech Corporation", "ORG"),
    ("Globex Ltd.", "GPE"), ("Globex Limited", "GPE"), ("Wayne Co.", "ORG"),
    ("U.S.", "GPE"), ("U.K.", "GPE"), ("U.S.A.", "GPE"),
    ("amazon", "GPE"), ("Kindle", "GPE"), ("alibaba", "GPE"),
    ("iPhone", "PRODUCT"), ("Tim Cook", "PERSON"), ("plain name", "ORG"),
    ("The Venetian Macao", "FAC"), ("Apple Inc. Co.", "ORG"),
]


def test_p2_p3_expression_parity(spark):
    df = spark.createDataFrame(_NAMES, ["text", "label"])
    out = df.select(
        "text",
        "label",
        corrected_type_col(F.col("text"), F.col("label")).alias("ctype"),
    ).withColumn("norm", normalized_name_col(F.col("text"), F.col("ctype")))
    for r in out.collect():
        ctype = textkit.correct_entity_type(r["text"], r["label"])
        norm = textkit.normalize_entity_name(r["text"], ctype)
        assert r["ctype"] == ctype, (r["text"], r["ctype"], ctype)
        assert r["norm"] == norm, (r["text"], r["norm"], norm)


_R1_CASES = [
    ("steve jobs founded apple in 1976.", "steve jobs", "apple"),
    ("tim cook is the ceo of apple.", "tim cook", "apple"),
    ("tim cook works at apple.", "tim cook", "apple"),
    ("tim cook and apple appeared at the event.", "tim cook", "apple"),
    ("jeff bezos acquired whole foods.", "jeff bezos", "whole foods"),
    # indicator present but far away (>80 chars from the person)
    ("steve jobs spoke. " + "x " * 45 + "the founder of apple presented apple.", "steve jobs", "apple"),
]


def test_r1_expression_parity(spark):
    df = spark.createDataFrame(_R1_CASES, ["sl", "p", "o"])
    sl = F.col("sl")
    # indicator positions as sentence_features builds them
    ind_pos = F.array(*[F.instr(sl, ind) - 1 for _, ind in ROLE_INDICATOR_PAIRS])
    out = df.select(
        "sl", "p", "o",
        role_relationship_from_positions(
            ind_pos,
            F.instr(sl, F.col("p")) - 1,
            F.instr(sl, F.col("o")) - 1,
        ).alias("rel"),
    )

    def py_r1(sl, p, o):
        pp, op = sl.find(p), sl.find(o)
        for rel_type, ind in ROLE_INDICATOR_PAIRS:
            ip = sl.find(ind)
            if ip < 0:
                continue
            if pp >= 0 and op >= 0 and max(abs(ip - pp), abs(ip - op)) < ROLE_INDICATOR_MAX_DISTANCE:
                return rel_type
        return None

    for r in out.collect():
        assert r["rel"] == py_r1(r["sl"], r["p"], r["o"]), (r["sl"], r["rel"])
