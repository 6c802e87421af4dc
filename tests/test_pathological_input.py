"""Fan-out guard regression: a document with NO sentence boundaries (one
giant 'sentence' with thousands of entity mentions) must stay bounded —
without rules.MAX_BUCKET_PER_SENTENCE the per-sentence pair rules go
quadratic (billions of pairs in one task) and the job effectively hangs.
Both formulations must stay pair-for-pair identical under the cap."""

from __future__ import annotations

from collections import Counter

from knowledge_graph_builder_spark import textkit
from knowledge_graph_builder_spark.operators.extraction import extract_from_transcripts
from knowledge_graph_builder_spark.operators.relationships import (
    candidate_relationships,
    candidates_from_kernel,
)
from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
from knowledge_graph_builder_spark.rules import MAX_BUCKET_PER_SENTENCE
from knowledge_graph_builder_spark.schema import TRANSCRIPTS


def _boundaryless_transcripts(spark, n_turns=3000):
    rows = [
        ("mono", i, "user", f"Apple released the iPhone in 2007 for $599 run {i}", "", None)
        for i in range(n_turns)
    ]
    return spark.createDataFrame(rows, TRANSCRIPTS)


def test_boundaryless_document_is_bounded(spark):
    tr = _boundaryless_transcripts(spark)
    res = run_pipeline(spark, tr, persist=False)
    triples = res.triples.collect()
    # dedup collapses the repeated pairings; the doc still yields its graph
    assert {(t.source, t.type, t.target) for t in triples} == {("Apple", "RELEASED", "iPhone")}
    # candidate volume is capped: <= bucket^2 per rule family + capped SVO
    n_cands = candidates_from_kernel(
        extract_from_transcripts(tr, 4)
    ).count()
    assert n_cands <= 3 * MAX_BUCKET_PER_SENTENCE**2


def test_capped_paths_stay_identical(spark):
    tr = _boundaryless_transcripts(spark, n_turns=400)
    kr = extract_from_transcripts(tr, 4)
    cols = ["conv_id", "sent_idx", "source", "target", "type", "confidence", "rule_pri", "ord_a", "ord_b"]
    kernel_side = Counter(tuple(r) for r in candidates_from_kernel(kr).select(*cols).collect())
    relational_side = Counter(tuple(r) for r in candidate_relationships(kr, persist=False).select(*cols).collect())
    assert kernel_side == relational_side and sum(kernel_side.values()) > 0


def test_bucket_cap_in_pure_kernel():
    text = " ".join(f"Apple released the iPhone in 2007 for $599 run {i}" for i in range(2000))
    an = textkit.analyze_document(text)
    assert len(an.sentences) == 1  # genuinely boundary-free
    per_rule = Counter(c.rule_pri for _si, c in an.candidates)
    assert per_rule.get(3, 0) <= MAX_BUCKET_PER_SENTENCE**2


def test_null_conv_id_and_turn_idx_contract(spark, tmp_path):
    """Malformed rows behave identically on both paths: NULL conv_id rows
    are dropped (no document to belong to), NULL turn_idx sorts first as
    -1. Written through parquet because createDataFrame enforces the
    declared non-nullability but file reads do not."""
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.transcripts import read_transcripts

    rows = [
        (None, 0, "user", "Apple was founded by Steve Jobs.", "", None),
        ("c1", None, "user", "Tim Cook is the CEO of Apple.", "", None),
        ("c1", 1, "user", "Microsoft competes with Apple.", "", None),
    ]
    p = str(tmp_path / "nulls")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).write.mode("overwrite").parquet(p)
    tr = read_transcripts(spark, p)
    expected = {
        ("c1", "Tim Cook", "CEO_OF", "Apple"),
        ("c1", "Microsoft", "COMPETES_WITH", "Apple"),
    }
    for fused in (True, False):
        res = run_pipeline(spark, tr, fused=fused, persist=False)
        got = {(r.document_id, r.source, r.type, r.target) for r in res.triples.collect()}
        assert got == expected, f"fused={fused}: {got}"


def test_lsh_degenerate_bucket_filtered_before_materialization(spark):
    """500 identical docs put every signature in one bucket: the count-first
    guard must drop it (no unbounded member-list aggregation) and the run
    must complete; distinct small groups still pair up."""
    from pyspark.sql import functions as F

    from knowledge_graph_builder_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )

    boiler = spark.range(500).selectExpr(
        "id AS doc_id",
        "'the same boilerplate text repeated across every single document here' AS text",
    )
    # two genuinely-similar docs that must still surface as a pair
    pair = spark.createDataFrame(
        [(1000, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (1001, "alpha beta gamma delta epsilon zeta eta theta iota lambda")],
        "doc_id long, text string",
    )
    docs = boiler.unionByName(pair)
    sigs = minhash_signatures(word_shingles(docs, "doc_id", "text", k=3), n_hashes=16)
    pairs = lsh_candidate_pairs(sigs, n_bands=4, max_bucket=200).collect()
    ids = {(r.a, r.b) for r in pairs}
    assert (1000, 1001) in ids  # the bounded bucket still yields its pair
    # the 500-doc bucket was dropped wholesale: no boilerplate pairs at all
    assert all(a >= 1000 for a, _ in ids)


def test_precap_byte_parity_and_reduction(spark):
    # a hot conversation whose turns exceed the document cap: precap must
    # (a) drop provably-non-contributing turns before the shuffle and
    # (b) leave the pipeline output byte-identical
    import random

    from pyspark.sql import functions as F

    from knowledge_graph_builder_spark.operators.assembly import (
        assemble_conversations,
        precap_transcripts,
    )
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline

    rng = random.Random(7)
    rows = [("hot", i, "user", f"turn {i} text padding {'x' * 30}", "", None) for i in range(2000)]
    rows += [("cold", i, "user", f"Apple acquired Beats for $3 billion in 2014. #{i}", "", None) for i in range(5)]
    rng.shuffle(rows)
    from knowledge_graph_builder_spark.schema import TRANSCRIPTS

    tr = spark.createDataFrame(rows, schema=TRANSCRIPTS)

    # operator-level: tiny cap, tiny buckets -> most turns provably dead
    capped = precap_transcripts(tr, max_chars=500, bucket=8)
    n_hot = capped.filter(F.col("conv_id") == "hot").count()
    assert n_hot < 2000 and n_hot >= 16  # dropped most, kept a safe prefix
    # conservative: assembled docs at the same cap are byte-identical
    full_docs = {r["conv_id"]: r["doc_text"] for r in assemble_conversations(tr, max_length=500).collect()}
    cap_docs = {r["conv_id"]: r["doc_text"] for r in assemble_conversations(capped, max_length=500).collect()}
    assert full_docs == cap_docs

    # pipeline-level parity at the real cap (nothing dropped here, plan
    # differs only by the pre-cap stages)
    base = run_pipeline(spark, tr, persist=False).triples.collect()
    pre = run_pipeline(spark, precap_transcripts(tr), persist=False).triples.collect()
    key = lambda r: (r["document_id"], r["source"], r["type"], r["target"], r["reason"])
    assert sorted(map(key, base)) == sorted(map(key, pre))
