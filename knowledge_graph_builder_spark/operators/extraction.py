"""One-pass vectorized extraction kernel + the entity stage (SURVEY.md
§2.2-2.3: P1-P6, E1-E4, metadata E3).

The reference parsed every document with spaCy FOUR times per request
(entity stage, strategy-1, SVO, event stage — SURVEY.md §3.1). Here the
document is parsed ONCE inside an Arrow-batched ``mapInArrow`` kernel
that emits sentence-indexed mention and SVO rows; everything downstream
is relational and shares this single parse, which also guarantees the
sentence-string-equality joins (metadata R9, events EV2) are exact.

Two entry points share one kernel (``_make_fused_kernel``):
* ``extract_kernel(documents)`` — kernel over assembled documents.
* ``extract_from_transcripts(transcripts)`` — the fused scale path:
  one shuffle (repartition by conv_id) + sortWithinPartitions + a single
  streaming mapInArrow that assembles each conversation from its ordered
  turns and parses it without ever materializing a documents table. At
  10^12 turns this halves the shuffled bytes vs assemble-then-extract.
  A table bucketed on conv_id and read with ``partitions`` equal to its
  bucket count needs no shuffle at all: Spark drops the repartition.

Per-row Python is never used; the kernel reads and writes Arrow batches.
"""

from __future__ import annotations

import warnings
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import textkit
from ..rules import (
    FORCE_DETECT_PRODUCTS,
    GPE_ABBREVIATIONS,
    KNOWN_COMPANIES,
    KNOWN_PRODUCTS,
    MAX_TEXT_LENGTH,
    METADATA_LABELS,
    ORG_SUFFIXES,
    SPACY_TO_NORMALIZED,
    STRUCTURAL_TYPES,
)
from ..schema import KERNEL_ROWS
from .assembly import TURN_SEPARATOR

_KERNEL_COLS = [f.name for f in KERNEL_ROWS.fields]


def _pa_schema():
    """KERNEL_ROWS as a PyArrow schema (for mapInArrow emission)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(KERNEL_ROWS)


def _rows_to_batch(rows: list[tuple]):
    """Columnar RecordBatch from buffered row tuples — no pandas block
    consolidation, ~3x cheaper than DataFrame construction at 24 columns."""
    import pyarrow as pa

    schema = _pa_schema()
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    arrays = [pa.array(col, type=f.type) for col, f in zip(cols, schema)]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


# Arrow string columns use int32 offsets (2 GB hard cap per array). Rows
# from documents with huge sentences repeat the sentence string per
# mention, so batches must be split by BYTE budget, not only row count —
# a row-count-only cap overflows on one pathological document.
_EMIT_BYTES = 256 << 20


def _rows_to_batches(rows: list[tuple]):
    """Split buffered rows into RecordBatches whose string volume stays
    far under Arrow's 2 GB per-column offset limit."""
    out = []
    start = 0
    b = 0
    for i, r in enumerate(rows):
        b += len(r[2] or "") + len(r[4] or "") + 64  # sentence + text dominate
        if b >= _EMIT_BYTES:
            out.append(_rows_to_batch(rows[start : i + 1]))
            start, b = i + 1, 0
    if start < len(rows) or not out:
        out.append(_rows_to_batch(rows[start:]))
    return out


# Emission sets for the kernel. ANALYSIS = parse artifacts consumed by the
# relational operator path; GRAPH = finished per-document outputs consumed
# by the single-shuffle fast path (plans/pipeline.py).
EMIT_ANALYSIS = frozenset({"mention", "svo", "cand"})
EMIT_GRAPH = frozenset({"entity", "triple", "event"})
EMIT_ALL = EMIT_ANALYSIS | EMIT_GRAPH

def _rows_for_document(conv_id: str, text: str, emit: frozenset = EMIT_ALL) -> Iterator[tuple]:
    an = textkit.analyze_document(text or "", MAX_TEXT_LENGTH)
    sent_text = {i: s for i, (s, _start) in enumerate(an.sentences)}
    if "mention" in emit:
        for sent_idx, m in an.mentions:
            ctype = textkit.correct_entity_type(m.text, m.label)
            norm = textkit.normalize_entity_name(m.text, ctype)
            yield (conv_id, sent_idx, sent_text[sent_idx], "mention", m.text, m.label, ctype, norm,
                   None, None, m.start, m.end) + (None,) * 12
    if "svo" in emit:
        for sent_idx, s in an.svos:
            yield (conv_id, sent_idx, sent_text[sent_idx], "svo", s.subj, s.verb_lemma, None, None,
                   s.obj, s.order) + (None,) * 14
    if "cand" in emit:
        # sentence='' keeps candidate rows narrow; consumers re-attach
        # text via (conv_id, sent_idx).
        for sent_idx, c in an.candidates:
            yield (conv_id, sent_idx, "", "cand", c.source, c.rtype, None, None,
                   c.target, None, None, None, c.confidence, c.reason, c.verb,
                   c.rule_pri, c.ord_a, c.ord_b, c.attach_metadata) + (None,) * 5
    if "entity" in emit:
        for e in an.graph.entities:
            yield (conv_id, e.sent_idx, e.source_sentence, "entity", e.text, e.etype, None, None,
                   None, None, e.start, e.end, None, e.context, None, None, None, None, None,
                   e.is_forced, None, None, None, None)
    if "triple" in emit:
        for t in an.graph.triples:
            yield (conv_id, t.sent_idx, t.sentence, "triple", t.source, t.rtype, None, None,
                   t.target, None, None, None, t.confidence, t.reason, t.verb, None, None, None,
                   None, None, t.date, t.amount, None, None)
    if "event" in emit:
        for ev in an.graph.events:
            yield (conv_id, ev.sent_idx, ev.context, "event", ev.name, ev.event_type, None, None,
                   None, None, None, None, ev.confidence, None, None, None, None, None, None,
                   None, ev.date, ev.amount, ev.location, ev.participants)


def extract_kernel(
    documents: DataFrame, parallelism: int | None = None, emit: frozenset = EMIT_ALL
) -> DataFrame:
    """documents(conv_id, doc_text) -> kernel rows.

    ``repartition`` before the kernel spreads documents evenly across
    executors regardless of upstream partitioning (conversation sizes are
    skewed; round-robin on rows is the cheapest skew fix since each row is
    one whole document). Each document row is a run of one row for the
    shared kernel, whose assembly then leaves its text unchanged
    (``assemble_conversations`` emits one row per conv_id, already capped
    at MAX_TEXT_LENGTH).
    """
    docs = documents.select("conv_id", "doc_text")
    if parallelism:
        docs = docs.repartition(parallelism)
    return docs.mapInArrow(_make_fused_kernel(emit), schema=KERNEL_ROWS)


_EMIT_EVERY = 50_000  # kernel rows buffered before an Arrow batch is emitted


def _make_fused_kernel(emit: frozenset):
    def _fused_kernel(batches) -> Iterator:
        """Streaming group-by over (conv_id)-clustered, turn-ordered Arrow
        batches (mapInArrow — no pandas on either side of the kernel).

        Rows arrive sorted by (conv_id, turn_idx, text) within the
        partition, so a conversation is a run of consecutive rows; runs can
        span Arrow batch boundaries, hence the carry buffer. Output rows accumulate
        in one flat tuple buffer and are emitted as large columnar
        RecordBatches.
        """
        cur_conv: str | None = None
        cur_parts: list[str] = []
        cur_len = 0
        rows: list[tuple] = []

        def flush() -> None:
            # slice at the RAW joined length so truncation is char-exact
            # with assemble_conversations' substring(raw, 1, MAX) — the
            # parity contract between the fused and relational paths holds
            # even for >MAX-char conversations
            text = TURN_SEPARATOR.join(cur_parts)[:MAX_TEXT_LENGTH]
            rows.extend(_rows_for_document(cur_conv, text, emit))

        for rb in batches:
            conv_col = rb.column(0).to_pylist()
            text_col = rb.column(1).to_pylist()
            for conv_id, text in zip(conv_col, text_col):
                if conv_id != cur_conv:
                    if cur_conv is not None:
                        flush()
                    cur_conv, cur_parts, cur_len = conv_id, [], 0
                if cur_len < MAX_TEXT_LENGTH:  # document guard, applied during assembly
                    if cur_parts:
                        cur_len += len(TURN_SEPARATOR)
                    cur_parts.append(text or "")
                    cur_len += len(text or "")
            if len(rows) >= _EMIT_EVERY:
                yield from _rows_to_batches(rows)
                rows = []
        if cur_conv is not None:
            flush()
        if rows:
            yield from _rows_to_batches(rows)

    return _fused_kernel


def extract_from_transcripts(
    transcripts: DataFrame,
    partitions: int | None = None,
    emit: frozenset = EMIT_ALL,
) -> DataFrame:
    """Fused assembly+extraction: transcripts -> kernel rows, at most one
    shuffle.

    The repartition on conv_id is the pipeline's ONE wide operation, and
    Spark drops it by itself when the input is already hash-bucketed on
    conv_id into the same number of partitions: a table written with
    ``write_transcripts_bucketed`` and read with ``partitions`` equal to
    its bucket count (or with ``partitions=None`` and
    ``spark.sql.shuffle.partitions`` equal to it) runs the kernel
    SHUFFLE-FREE on the scan partitions (only the per-partition sort
    remains; pinned by a no-Exchange plan assertion in tests). At the
    SCALE.md design point that removes the 100 TB shuffle. Any other
    layout keeps its Exchange, so the output never depends on how the
    input happens to be partitioned."""
    # Once the planner drops the Exchange, Spark 4's
    # DisableUnnecessaryBucketedScan may still demote the bucketed scan to
    # size-based file splits — correct plans on tiny files, conversations
    # split across partitions (duplicate partial documents) once files are
    # big enough to split. The flag is consulted at PLANNING time, so a
    # set/restore around this (lazy) builder would be a no-op; it must
    # stay off until the caller's action runs. get_spark sessions already
    # pin it off; for sessions built elsewhere we pin it here and say so
    # out loud rather than silently reconfiguring the caller's planner.
    conf = transcripts.sparkSession.conf
    flag = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    if conf.get(flag, "true") != "false":
        warnings.warn(
            f"extract_from_transcripts set {flag}=false for this SparkSession "
            "(session-global): bucketed-scan demotion would split conversations "
            "across partitions and corrupt results. Build sessions with "
            "knowledge_graph_builder_spark.session.get_spark to pre-pin it.",
            stacklevel=2,
        )
        conf.set(flag, "false")
    # malformed-row contract (shared with assemble_conversations): a NULL
    # conv_id has no document to belong to -> dropped; a NULL turn_idx
    # sorts first deterministically as -1
    t = transcripts.selectExpr(
        "conv_id", "text", "coalesce(turn_idx, -1) AS turn_idx"
    ).filter("conv_id IS NOT NULL")
    t = t.repartition(partitions, t["conv_id"]) if partitions else t.repartition(t["conv_id"])
    # text breaks turn_idx ties, as in assemble_conversations; t[name] is
    # one py4j call where a bare name costs a dozen
    t = t.sortWithinPartitions(t["conv_id"], t["turn_idx"], t["text"])
    t = t.selectExpr("conv_id", "text")  # column order contract with the kernel
    return t.mapInArrow(_make_fused_kernel(emit), schema=KERNEL_ROWS)


# ---------------------------------------------------------------------------
# Projections of the kernel's FINAL per-document rows onto the public
# table schemas (fast path: zero joins, zero windows downstream), as SQL
# text: a few py4j calls per operator instead of several per Column.
# ---------------------------------------------------------------------------


def entities_from_kernel(kernel_rows: DataFrame) -> DataFrame:
    return kernel_rows.filter("kind = 'entity'").selectExpr(
        "conv_id", "text", "label AS type", "start_char", "end_char", "reason AS context",
        "sentence AS source_sentence", "forced AS is_forced",
    )


def triples_from_kernel(kernel_rows: DataFrame) -> DataFrame:
    return kernel_rows.filter("kind = 'triple'").selectExpr(
        "conv_id AS document_id", "text AS source", "obj AS target", "label AS type", "reason",
        "conf AS confidence", "verb", "sentence AS source_sentence", "mdate AS date",
        "mamount AS amount",
    )


def events_from_kernel(kernel_rows: DataFrame) -> DataFrame:
    return kernel_rows.filter("kind = 'event'").selectExpr(
        "conv_id AS document_id", "label AS event_type", "text AS name",
        "parts AS participants", "mdate AS date", "location", "mamount AS amount",
        "sentence AS context", "conf AS confidence",
    )


# ---------------------------------------------------------------------------
# Entity stage — pure column expressions (whole-stage codegen'd)
# ---------------------------------------------------------------------------


def corrected_type_col(text: Column, label: Column) -> Column:
    """P3 type correction (reference nlp_engine.py:55-101): the product
    lexicon wins over the company lexicon; company correction only applies
    to GPE-labelled spans."""
    key = F.lower(F.trim(text))
    return (
        F.when(key.isin(KNOWN_PRODUCTS), F.lit("PRODUCT"))
        .when((label == "GPE") & key.isin(KNOWN_COMPANIES), F.lit("ORG"))
        .otherwise(label)
    )


def normalized_name_col(text: Column, ctype: Column) -> Column:
    """P2 name normalization (reference nlp_engine.py:29-53): sequential
    suffix strip for ORG/GPE (each suffix tested against the result of the
    previous strip, case-sensitive endswith), then GPE abbreviation
    expansion.

    Implemented as a linear chain of end-anchored regexp_replace calls —
    an unconditional replace IS the conditional strip, and unlike nested
    `when(endswith)` expressions it keeps the Catalyst tree linear (each
    step references its predecessor once, not three times)."""
    import re as _re

    name = F.trim(text)
    for suffix in ORG_SUFFIXES:
        name = F.trim(F.regexp_replace(name, _re.escape(suffix) + "$", ""))
    abbrev_keys = list(GPE_ABBREVIATIONS)
    expanded = F.when(
        name.isin(abbrev_keys),
        F.element_at(
            F.create_map(*[F.lit(x) for kv in GPE_ABBREVIATIONS.items() for x in kv]), name
        ),
    ).otherwise(name)
    # suffix strip applies to ORG/GPE; abbreviation expansion to GPE only
    return (
        F.when(ctype == "GPE", expanded)
        .when(ctype == "ORG", name)
        .otherwise(F.trim(text))
    )


def force_detect_hits_from_documents(documents: DataFrame) -> DataFrame:
    """P6 presence scan over assembled documents (exact reference offsets;
    used by the non-fused path and tests). Scans the CLEANED document —
    the reference (nlp_engine.py:197-214) and the kernel both search
    post-clean_text text, so offsets agree even when turns contain
    whitespace runs."""
    cleaned = F.trim(F.regexp_replace(F.col("doc_text"), r"\s+", " "))
    prods = F.explode(F.array(*[F.lit(p) for p in FORCE_DETECT_PRODUCTS])).alias("product")
    cand = documents.select("conv_id", F.lower(cleaned).alias("_lt")).select(
        "conv_id", "_lt", prods
    )
    return (
        cand.withColumn("pos", F.instr(F.col("_lt"), F.col("product")))
        .filter(F.col("pos") > 0)
        .select("conv_id", "product", (F.col("pos") - 1).cast("int").alias("start_char"))
    )


def entity_stage(kernel_rows: DataFrame, force_hits: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Kernel rows -> (entities, metadata).

    entities: E1 structural filter -> P3 correction -> P2 normalization ->
    E2 first-seen dedup -> P6 force-detect -> E4 whitelist filter.
    metadata: E3 — DATE/MONEY/PERCENT/CARDINAL/ORDINAL rows bucketed with
    their enclosing sentence (reference nlp_engine.py:103-134).

    ``force_hits``: output of force_detect_hits_from_documents(documents).
    """
    mentions = kernel_rows.filter(F.col("kind") == "mention")

    # E1 structural filter; P3/P2 (type correction + name normalization)
    # arrive precomputed from the kernel as ctype/norm_text — plain column
    # reads, evaluated zero times JVM-side.
    named = mentions.filter(F.col("label").isin(STRUCTURAL_TYPES)).withColumn(
        "type", F.col("ctype")
    )

    # P6 candidate-name set, taken BEFORE the E2 window: dedup keeps first
    # occurrences but never changes the per-document name SET, and an
    # anti-join ignores duplicates — so reading names pre-window matches
    # the reference's "check against pre-whitelist entity list"
    # (nlp_engine.py:205-208) while sparing a second window shuffle over
    # the whole mention frame.
    existing_names = named.select(
        F.col("conv_id").alias("_ec"), F.lower(F.col("norm_text")).alias("_lc")
    )

    # E4 type whitelist applied BEFORE the dedup window: dedup groups are
    # keyed by type, so dropping whole type-groups commutes with E2 —
    # identical output, ~40% fewer rows through the shuffle.
    whitelisted = named.filter(F.col("type").isin(list(SPACY_TO_NORMALIZED)))

    # E2 — first-seen wins on (lower(normalized), corrected_type) per doc,
    # "first" = document order (reference nlp_engine.py:164-192).
    dedup_w = Window.partitionBy("conv_id", F.lower(F.col("norm_text")), "type").orderBy("start_char")
    entities_pre = (
        whitelisted.withColumn("_rn", F.row_number().over(dedup_w))
        .filter(F.col("_rn") == 1)
        .select(
            "conv_id",
            F.col("norm_text").alias("text"),
            "type",
            "start_char",
            "end_char",
            F.substring("sentence", 1, 200).alias("context"),
            F.col("sentence").alias("source_sentence"),
            F.lit(False).alias("is_forced"),
        )
    )
    forced = (
        force_hits.join(
            existing_names,
            on=[force_hits["conv_id"] == existing_names["_ec"], force_hits["product"] == existing_names["_lc"]],
            how="left_anti",
        )
        .select(
            "conv_id",
            F.initcap(F.col("product")).alias("text"),
            F.lit("PRODUCT").alias("type"),
            F.col("start_char"),
            (F.col("start_char") + F.length("product")).cast("int").alias("end_char"),
            F.concat(F.lit("Force-detected product: "), F.col("product")).alias("context"),
            F.lit("").alias("source_sentence"),
            F.lit(True).alias("is_forced"),
        )
    )

    # forced rows are PRODUCT-typed, so the E4 whitelist (already applied
    # above) holds for the union by construction.
    entities = entities_pre.unionByName(forced)

    # E3 — metadata rows with their sentences.
    kind_map = {"DATE": "date", "MONEY": "money", "PERCENT": "percentage", "CARDINAL": "quantity", "ORDINAL": "quantity"}
    kind_col = F.col("label")
    for raw, bucket in kind_map.items():
        kind_col = F.when(F.col("label") == raw, F.lit(bucket)).otherwise(kind_col)
    metadata = (
        mentions.filter(F.col("label").isin(METADATA_LABELS))
        .select(
            "conv_id",
            "sent_idx",
            "sentence",
            kind_col.alias("mkind"),
            F.col("text").alias("value"),
            "start_char",
        )
    )
    return entities, metadata


def first_metadata_per_sentence(metadata: DataFrame) -> DataFrame:
    """R9/EV6 helper: the first date and first money whose recorded
    sentence STRING equals the current sentence (reference
    relationship_logic.py:296-306 — string equality, so equal sentences at
    different positions share enrichment). One row per (conv_id, sentence)
    with `date` and `amount` columns.
    """
    w = Window.partitionBy("conv_id", "sentence", "mkind").orderBy("sent_idx", "start_char")
    firsts = (
        metadata.filter(F.col("mkind").isin("date", "money"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    return (
        firsts.groupBy("conv_id", "sentence")
        .pivot("mkind", ["date", "money"])
        .agg(F.first("value"))
        .withColumnRenamed("money", "amount")
    )
