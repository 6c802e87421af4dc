"""Relationship extraction R1-R9 + strategy-order dedup D1 (SURVEY.md
§2.4-2.5).

The reference's Strategy 1 iterates, per sentence, the cross products of
entity-type buckets (relationship_logic.py:276-291); here those are
self-joins of the per-sentence mention frame on (conv_id, sent_idx) with
type predicates — fan-out bounded by sentence entity counts, never a
global cross join.

Scale design — keep sentence STRINGS out of the pair-join shuffles:

* ``sentence_features`` computes, once per distinct (conv_id, sent_idx),
  every string-derived value the rules need: the 0-based first-occurrence
  position of each of the 40 role indicators, and the boolean phrase
  flags for R2/R3/R4/R5. ~200 bytes per sentence row.
* ``sentence_mentions`` carries each mention's own first-occurrence
  position (`find_pos`, == str.find semantics) and DROPS the sentence
  text, so every pair join / window below shuffles short fixed-width
  rows. The sentence string is re-attached (from the kernel frame, a
  co-partitioned join) only AFTER dedup + validation, when the surviving
  row count is smallest.
* every clustering key is (conv_id, …)-prefixed, so a single upstream
  hash(conv_id) repartition (plans/pipeline.py) satisfies all of them
  with no further exchanges — windows and joins reduce to in-partition
  sorts.

Ordering subtleties preserved from the reference:

* R1 indicator precedence — dict-then-list order; an indicator wins only
  if present AND within 80 chars of both entities, else the scan
  continues (relationship_logic.py:159-172).
* R5 directionality — the first org (by sentence position) competes with
  each later org (relationship_logic.py:414-426).
* D1 survivorship — first strategy to emit a (lower(src), lower(dst),
  type) key wins, where "first" means: all Strategy-1 rows in sentence
  order with per-sentence rule order R1<R2<R3<R4<R5 and nested-loop pair
  order, then all SVO rows (relationship_logic.py:428-440). Encoded as a
  row_number window over (strat_group, sent_idx, rule_pri, ord_a, ord_b).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.confidence import confidence_col
from ..rules import (
    MIN_CONFIDENCE_THRESHOLD,
    ROLE_INDICATOR_MAX_DISTANCE,
    ROLE_INDICATOR_PAIRS,
    VERB_TO_RELATIONSHIP,
)

# (flag column name, phrases) — a flag is true when any phrase occurs in
# the lowered sentence. Phrase sets lifted from relationship_logic.py
# R2:329-355, R3:360-389, R4:393-408, R5:410-426.
_PHRASE_FLAGS: list[tuple[str, list[str]]] = [
    ("f_hq", ["headquartered", "headquarters in", "headquartered in"]),
    ("f_based", ["based in", "located in"]),
    ("f_released", ["released", "launched"]),
    ("f_produced", ["produced", "manufactures"]),
    ("f_developed", ["developed", "created"]),
    ("f_list", ["such as", "including", "like"]),
    ("f_compete", ["competes with", "competitors like", "rivals like", "competing with"]),
]


def _contains_any(sent_lower: Column, phrases: list[str]) -> Column:
    cond = F.lit(False)
    for p in phrases:
        cond = cond | (F.instr(sent_lower, p) > 0)
    return cond


def sentence_features(kernel_rows: DataFrame) -> DataFrame:
    """One row per (conv_id, sent_idx): role-indicator positions + phrase
    flags. Each string scan happens once per SENTENCE here instead of
    once per candidate PAIR downstream."""
    sents = (
        kernel_rows.filter(F.col("kind") != "cand")  # cand rows carry no sentence text
        .groupBy("conv_id", "sent_idx")
        .agg(F.first("sentence").alias("sentence"))
    )
    sl = F.lower(F.col("sentence"))
    ind_pos = F.array(*[F.instr(sl, ind) - 1 for _, ind in ROLE_INDICATOR_PAIRS])
    return sents.select(
        "conv_id",
        "sent_idx",
        ind_pos.alias("ind_pos"),
        *[_contains_any(sl, phrases).alias(flag) for flag, phrases in _PHRASE_FLAGS],
    )


def sentence_texts(kernel_rows: DataFrame) -> DataFrame:
    """(conv_id, sent_idx) -> sentence dim, for re-attaching text."""
    return (
        kernel_rows.filter(F.col("kind") != "cand")
        .groupBy("conv_id", "sent_idx")
        .agg(F.first("sentence").alias("sentence"))
    )


def candidates_from_kernel(kernel_rows: DataFrame) -> DataFrame:
    """The kernel's sentence-local rule candidates, projected onto the
    same shape candidate_relationships() produces, so tests can pin the
    kernel's candidates to the relational path's output."""
    return kernel_rows.filter(F.col("kind") == "cand").select(
        "conv_id",
        "sent_idx",
        F.col("text").alias("source"),
        F.col("obj").alias("target"),
        F.col("label").alias("type"),
        "reason",
        F.col("conf").alias("confidence"),
        "verb",
        F.when(F.col("pri") == 6, F.lit(1)).otherwise(F.lit(0)).alias("strat_group"),
        F.col("pri").alias("rule_pri"),
        F.col("orda").alias("ord_a"),
        F.col("ordb").alias("ord_b"),
        F.col("attach").alias("attach_metadata"),
    )


def role_relationship_from_positions(ind_pos: Column, person_pos: Column, org_pos: Column) -> Column:
    """R1 (reference relationship_logic.py:149-174): first indicator, in
    dict-then-list order, that is present AND within 80 chars of both
    entity first-occurrence positions. The 0.5 co-occurrence fallback
    never survives the 0.6 threshold, so misses yield NULL."""
    chain: Column | None = None
    for i, (rel_type, _ind) in enumerate(ROLE_INDICATOR_PAIRS):
        p = F.element_at(ind_pos, i + 1)
        cond = (
            (p >= 0)
            & (person_pos >= 0)
            & (org_pos >= 0)
            & (F.greatest(F.abs(p - person_pos), F.abs(p - org_pos)) < ROLE_INDICATOR_MAX_DISTANCE)
        )
        chain = F.when(cond, F.lit(rel_type)) if chain is None else chain.when(cond, F.lit(rel_type))
    return chain.otherwise(F.lit(None))


def sentence_mentions(kernel_rows: DataFrame) -> DataFrame:
    """Per-sentence structural mentions with corrected types, a per-type
    occurrence rank (the reference's persons/orgs/gpes/products list
    positions, relationship_logic.py:276-291), and the mention's
    first-occurrence position in the lowered sentence (str.find
    semantics, used by R1). Raw (un-normalized) text — Strategy 1
    endpoints are raw `ent.text`, which is what makes suffix-carrying
    endpoints die in validation (SURVEY.md §2.6 V2). The sentence string
    itself is dropped to keep the pair joins narrow."""
    from ..rules import MAX_BUCKET_PER_SENTENCE

    m = kernel_rows.filter(F.col("kind") == "mention").filter(
        F.col("ctype").isin("PERSON", "ORG", "GPE", "PRODUCT", "EVENT")
    )
    rank_w = Window.partitionBy("conv_id", "sent_idx", "ctype").orderBy("start_char")
    return (
        m.select(
            "conv_id",
            "sent_idx",
            "text",
            "ctype",
            "start_char",
            (F.instr(F.lower(F.col("sentence")), F.lower(F.col("text"))) - 1).alias("find_pos"),
        )
        .withColumn("type_rank", F.row_number().over(rank_w))
        # fan-out guard, mirrored from the kernel path (rules.py) so the
        # two formulations stay pair-for-pair identical
        .filter(F.col("type_rank") <= MAX_BUCKET_PER_SENTENCE)
    )


def _typed(mentions: DataFrame, ctype: str, alias: str) -> DataFrame:
    return mentions.filter(F.col("ctype") == ctype).select(
        "conv_id",
        "sent_idx",
        F.col("text").alias(f"{alias}_text"),
        F.col("type_rank").alias(f"{alias}_rank"),
        F.col("find_pos").alias(f"{alias}_pos"),
    )


def candidate_relationships(kernel_rows: DataFrame, persist: bool = True) -> DataFrame:
    """All rule candidates (pre-dedup, pre-validation), threshold applied.

    The ranked mention frame feeds five rule branches; persisting it
    avoids re-running its rank-window per branch."""
    mentions = sentence_mentions(kernel_rows)
    features = sentence_features(kernel_rows)
    if persist:
        from pyspark import StorageLevel

        mentions = mentions.persist(StorageLevel.MEMORY_AND_DISK)
        # five branch joins read the feature frame; without reuse each
        # would redo the per-sentence 40-indicator scan
        features = features.persist(StorageLevel.MEMORY_AND_DISK)
    persons = _typed(mentions, "PERSON", "p")
    orgs = _typed(mentions, "ORG", "o")
    gpes = _typed(mentions, "GPE", "g")
    products = _typed(mentions, "PRODUCT", "pr")
    jk = ["conv_id", "sent_idx"]

    # R1 — role-based detection over persons x orgs
    # (relationship_logic.py:308-327). 0.95 on indicator hit.
    r1_type = role_relationship_from_positions(F.col("ind_pos"), F.col("p_pos"), F.col("o_pos"))
    r1 = (
        persons.join(orgs, jk)
        .join(features.select(*jk, "ind_pos"), jk)
        .withColumn("type", r1_type)
        .filter(F.col("type").isNotNull())
        .select(
            *jk,
            F.col("p_text").alias("source"),
            F.col("o_text").alias("target"),
            "type",
            F.concat(F.lit("Role-based detection: "), F.col("p_text"), F.lit(" → "), F.col("type"), F.lit(" → "), F.col("o_text")).alias("reason"),
            F.lit(0.95).alias("confidence"),
            F.lit(None).cast("string").alias("verb"),
            F.lit(0).alias("strat_group"),
            F.lit(1).alias("rule_pri"),
            F.col("p_rank").alias("ord_a"),
            F.col("o_rank").alias("ord_b"),
            F.lit(True).alias("attach_metadata"),
        )
    )

    # R2 — location detection over orgs x gpes (relationship_logic.py:329-355).
    r2 = (
        orgs.join(gpes, jk)
        .join(features.select(*jk, "f_hq", "f_based"), jk)
        .select(
            *jk,
            F.col("o_text").alias("source"),
            F.col("g_text").alias("target"),
            F.when(F.col("f_hq"), F.lit("HEADQUARTERED_IN")).otherwise(F.lit("LOCATED_IN")).alias("type"),
            F.when(F.col("f_hq"), F.lit(0.95)).when(F.col("f_based"), F.lit(0.85)).otherwise(F.lit(0.65)).alias("confidence"),
            F.lit(None).cast("string").alias("verb"),
            F.lit(0).alias("strat_group"),
            F.lit(2).alias("rule_pri"),
            F.col("o_rank").alias("ord_a"),
            F.col("g_rank").alias("ord_b"),
            F.lit(False).alias("attach_metadata"),
        )
        .withColumn(
            "reason",
            F.concat(F.lit("Location detection: "), F.col("source"), F.lit(" → "), F.col("type"), F.lit(" → "), F.col("target")),
        )
    )

    # R3 — production detection over orgs x products
    # (relationship_logic.py:360-389).
    r3_base = orgs.join(products, jk).join(
        features.select(*jk, "f_released", "f_produced", "f_developed", "f_list"), jk
    )
    r3 = r3_base.select(
        *jk,
        F.col("o_text").alias("source"),
        F.col("pr_text").alias("target"),
        F.when(F.col("f_released"), F.lit("RELEASED"))
        .when(F.col("f_produced"), F.lit("PRODUCES"))
        .when(F.col("f_developed"), F.lit("DEVELOPS"))
        .otherwise(F.lit("PRODUCES"))
        .alias("type"),
        F.when(F.col("f_released"), F.lit(0.9))
        .when(F.col("f_produced"), F.lit(0.9))
        .when(F.col("f_developed"), F.lit(0.85))
        .otherwise(F.lit(0.65))
        .alias("confidence"),
        F.lit(None).cast("string").alias("verb"),
        F.lit(0).alias("strat_group"),
        F.lit(3).alias("rule_pri"),
        F.col("o_rank").alias("ord_a"),
        F.col("pr_rank").alias("ord_b"),
        F.lit(True).alias("attach_metadata"),
    ).withColumn(
        "reason",
        F.concat(F.lit("Production detection: "), F.col("source"), F.lit(" → "), F.col("type"), F.lit(" → "), F.col("target")),
    )

    # R4 — list-pattern PRODUCES (relationship_logic.py:393-408).
    r4 = r3_base.filter(F.col("f_list")).select(
        *jk,
        F.col("o_text").alias("source"),
        F.col("pr_text").alias("target"),
        F.lit("PRODUCES").alias("type"),
        F.concat(F.lit("List-based production: "), F.col("o_text"), F.lit(" → PRODUCES → "), F.col("pr_text")).alias("reason"),
        F.lit(0.85).alias("confidence"),
        F.lit(None).cast("string").alias("verb"),
        F.lit(0).alias("strat_group"),
        F.lit(4).alias("rule_pri"),
        F.col("o_rank").alias("ord_a"),
        F.col("pr_rank").alias("ord_b"),
        F.lit(True).alias("attach_metadata"),
    )

    # R5 — competition lists (relationship_logic.py:410-426): first org
    # (sentence position) competes with each later org; directional.
    primary = orgs.filter(F.col("o_rank") == 1).select(
        "conv_id", "sent_idx", F.col("o_text").alias("primary_text")
    )
    others = orgs.filter(F.col("o_rank") >= 2)
    r5 = (
        primary.join(others, jk)
        .join(features.select(*jk, "f_compete"), jk)
        .filter(F.col("f_compete"))
        .select(
            *jk,
            F.col("primary_text").alias("source"),
            F.col("o_text").alias("target"),
            F.lit("COMPETES_WITH").alias("type"),
            F.concat(F.lit("Competition detection: "), F.col("primary_text"), F.lit(" ← → COMPETES_WITH → "), F.col("o_text")).alias("reason"),
            F.lit(0.85).alias("confidence"),
            F.lit(None).cast("string").alias("verb"),
            F.lit(0).alias("strat_group"),
            F.lit(5).alias("rule_pri"),
            F.col("o_rank").alias("ord_a"),
            F.lit(0).alias("ord_b"),
            F.lit(False).alias("attach_metadata"),
        )
    )

    # R6/R7/R8 — SVO candidates (relationship_logic.py:176-256): verb
    # lemma through the broadcast map, confidence-scored, thresholded.
    # SVO rows still carry their sentence (needed by R7's indicator and
    # distance terms); it is dropped from the emitted candidate row.
    verb_map = F.create_map(*[F.lit(x) for kv in VERB_TO_RELATIONSHIP.items() for x in kv])
    svo = (
        kernel_rows.filter(F.col("kind") == "svo")
        .withColumn("type", verb_map[F.col("label")])
        .filter(F.col("type").isNotNull())
        .withColumn("confidence", confidence_col(F.col("text"), F.col("obj"), F.col("label"), F.col("sentence")))
        .filter(F.col("confidence") >= MIN_CONFIDENCE_THRESHOLD)
        .select(
            *jk,
            F.col("text").alias("source"),
            F.col("obj").alias("target"),
            "type",
            F.concat(F.lit("SVO pattern: '"), F.col("text"), F.lit("' "), F.col("label"), F.lit(" '"), F.col("obj"), F.lit("'")).alias("reason"),
            "confidence",
            F.col("label").alias("verb"),
            F.lit(1).alias("strat_group"),
            F.lit(6).alias("rule_pri"),
            F.col("svo_ord").alias("ord_a"),
            F.lit(0).alias("ord_b"),
            F.lit(True).alias("attach_metadata"),
        )
    )

    out = r1
    for part in (r2, r3, r4, r5, svo):
        out = out.unionByName(part)
    # R8 — confidence floor (already structural for R1/R5/SVO; applies to
    # nothing else since all Strategy-1 confidences are >= 0.65).
    return out.filter(F.col("confidence") >= MIN_CONFIDENCE_THRESHOLD)


def dedup_relationships(candidates: DataFrame) -> DataFrame:
    """D1 — first-seen wins on (lower(source), lower(target), type) in
    strategy emission order (relationship_logic.py:432-440). The
    survivor's reason/confidence/metadata come from the first strategy."""
    w = Window.partitionBy(
        "conv_id", F.lower(F.col("source")), F.lower(F.col("target")), "type"
    ).orderBy("strat_group", "sent_idx", "rule_pri", "ord_a", "ord_b")
    return candidates.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def attach_sentence_and_metadata(
    relationships: DataFrame, kernel_rows: DataFrame, sentence_metadata: DataFrame
) -> DataFrame:
    """Re-attach the sentence text, then R9 — the sentence's first
    date/amount where the emitting rule attaches metadata
    (relationship_logic.py:296-306, 231-242). The metadata join is by
    sentence STRING equality (duplicate sentence strings share
    enrichment), exactly like the reference."""
    with_sent = relationships.join(sentence_texts(kernel_rows), ["conv_id", "sent_idx"], "left")
    joined = with_sent.join(sentence_metadata, ["conv_id", "sentence"], "left")
    return joined.select(
        with_sent["*"],
        F.when(F.col("attach_metadata"), F.col("date")).alias("date"),
        F.when(F.col("attach_metadata"), F.col("amount")).alias("amount"),
    )
