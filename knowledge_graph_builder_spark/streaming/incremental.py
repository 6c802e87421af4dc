"""Structured Streaming front-ends for the KG pipeline.

The reference processes one HTTP request per document (SURVEY.md §3.1) —
a natural micro-batch. Two streaming translations:

* ``stream_kg_foreachbatch`` — each micro-batch is a set of COMPLETE
  conversations (the request-per-document analog). The fused batch
  pipeline runs inside ``foreachBatch`` and appends to the graph tables;
  exactly-once bookkeeping comes from the sink's idempotent overwrite of
  per-batch output paths + the streaming checkpoint.

* ``stream_kg_stateful`` — turns arrive INCOMPLETE and out of order
  across micro-batches. Conversations assemble in keyed state
  (``applyInPandasWithState`` over conv_id); a conversation is parsed and
  its graph rows emitted when it goes quiet for ``quiet_ms`` (processing-
  time timeout). This is the custom stateful operator path for true
  10^12-turn streams: state per in-flight conversation only, output is
  the same KERNEL_ROWS frame the batch pipeline uses.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.assembly import TURN_SEPARATOR
from ..operators.extraction import EMIT_GRAPH, _rows_for_document, _KERNEL_COLS
from ..operators.joins import block_pairs
from ..rules import MAX_TEXT_LENGTH
from ..plans.pipeline import run_pipeline
from ..schema import KERNEL_ROWS, TRANSCRIPTS
from ..sources.fsio import io_for
from ..sources.graph_store import BatchLedger, GraphStore


def _reset_stale_partials(io, store_root: str, lineage: str, subdirs: tuple) -> None:
    """Round-4 advice fix: per-batch partial stores are keyed batch=N,
    but N is only meaningful under ONE checkpoint lineage. Re-ingesting
    into an existing store_root with a FRESH checkpoint (different batch
    partitioning — fewer/more files per trigger) would leave a prior
    run's batch=N dirs behind, and the read-time accumulation would
    double-count them. If this lineage has no ledger yet but the store
    has partials, the store belongs to a dead lineage: clear it so the
    new stream repopulates from scratch (the re-delivery equality pin is
    exactly this scenario). Resuming the SAME checkpoint (ledger dir
    exists) never clears.

    Only the DATA subdirs are cleared — ledger dirs under
    `_applied_batches` are left alone. The double-count hazard lives
    entirely in stale batch=N data dirs (read-time accumulation sums
    them); ledgers are consulted per-lineage and are harmless at read
    time. Deleting other lineages' ledgers would make a later re-run of
    an OLD checkpoint look fresh (its ledger gone, its checkpoint
    offsets intact), so it would wipe the live lineage's data and then
    re-deliver nothing — a silent-empty store. Keeping ledgers makes
    takeover one-directional and idempotent."""
    if io.exists(f"{store_root}/_applied_batches/{lineage}"):
        return
    for sub in subdirs:
        io.rmtree(f"{store_root}/{sub}")


def _lineage_ledger(io, store_root: str, checkpoint_dir: str, partials: tuple = ()) -> BatchLedger:
    """The applied-batch ledger of ``checkpoint_dir``'s lineage. Batch
    ids restart at 0 in a NEW checkpoint, so the ledger is namespaced per
    lineage: skipping "batch 0" of a new stream because an old stream
    applied its own batch 0 would lose data. ``partials`` are the per-batch
    data subdirs a new lineage clears first (``_reset_stale_partials``)."""
    lineage = hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]
    _reset_stale_partials(io, store_root, lineage, partials)
    return BatchLedger(f"{store_root}/_applied_batches/{lineage}", io=io)


def _batch_dirs(io, root: str, exclude: int | None = None) -> list[str]:
    """The ``batch=N`` directories under ``root`` (none when ``root`` does
    not exist yet), leaving out ``batch=<exclude>``."""
    if not io.isdir(root):
        return []
    return [
        f"{root}/{d}"
        for d in io.listdir(root)
        if d.startswith("batch=") and d != f"batch={exclude}"
    ]


def _start_foreach_batch(stream: DataFrame, process, checkpoint_dir: str, available_now: bool):
    """Start ``stream`` with ``process`` as its foreachBatch sink."""
    writer = stream.writeStream.foreachBatch(process).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_transcript_stream(spark: SparkSession, input_path: str, max_files: int = 16) -> DataFrame:
    """File-source transcript stream with the declared schema."""
    return (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_path)
    )


def stream_kg_foreachbatch(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Micro-batch = complete conversations. Returns the started query."""
    stream = read_transcript_stream(spark, input_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # persist holds the kernel output: three table writes otherwise
        # re-run the extraction (the dominant cost) once each
        res = run_pipeline(spark, batch_df, persist=True)
        try:
            # per-batch subdirectories make retries idempotent (overwrite
            # of the same batch id rewrites, never duplicates)
            res.triples.write.mode("overwrite").parquet(f"{output_dir}/triples/batch={batch_id}")
            res.entities.write.mode("overwrite").parquet(f"{output_dir}/entities/batch={batch_id}")
            res.events.write.mode("overwrite").parquet(f"{output_dir}/events/batch={batch_id}")
        finally:
            res.kernel_rows.unpersist()

    return _start_foreach_batch(stream, process, checkpoint_dir, available_now)


def stream_kg_to_store(
    spark: SparkSession,
    input_path: str,
    store_root: str,
    checkpoint_dir: str,
    session_id: str = "stream",
    available_now: bool = True,
):
    """Micro-batches MERGE into the durable GraphStore (Neo4j-MERGE
    semantics) with exactly-once OBSERVABLE state: foreachBatch delivers a
    stable batch_id; an applied-batch ledger (marked after both upserts)
    skips cleanly-retried batches, and a crash between upsert and mark
    re-merges the same content, which the keyed last-writer dedup makes
    value-idempotent. Streaming analog of the reference's per-request
    save_graph_data transaction (graph_db.py:49-72). Superseded commit
    directories are vacuumed after every batch. Returns the query."""
    stream = read_transcript_stream(spark, input_path)
    store = GraphStore(spark, store_root)
    # no stale-partials reset here: the GraphStore MERGE is cumulative
    # across lineages BY DESIGN (a new stream continues the same graph);
    # the ledger only guards batch-id replay within one lineage
    ledger = _lineage_ledger(store.io, store_root, checkpoint_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if ledger.applied(batch_id):
            return
        res = run_pipeline(spark, batch_df, session_id=session_id, persist=True)
        try:
            store.upsert_nodes(res.nodes)
            store.upsert_edges(res.edges)
        finally:
            res.kernel_rows.unpersist()
        ledger.mark(batch_id)
        # each batch's commit supersedes the touched buckets' old commit
        # dirs; reclaiming them here keeps the store the size of the graph,
        # not of the number of batches. A crash before this line leaves
        # orphans the next batch's vacuum removes.
        store.vacuum("nodes")
        store.vacuum("edges")

    return _start_foreach_batch(stream, process, checkpoint_dir, available_now)


# ---------------------------------------------------------------------------
# Stateful conversation assembly
# ---------------------------------------------------------------------------

# state: accumulated (turn_idx, text) pairs for one in-flight conversation
_STATE_SCHEMA = "turn_idxs array<int>, texts array<string>"


def _assemble_and_extract(conv_id: str, turn_idxs: list[int], texts: list[str]) -> pd.DataFrame:
    ordered = sorted(zip(turn_idxs, texts))
    # slice the RAW joined text exactly like assemble_conversations /
    # the fused kernel, so streamed output is byte-identical to batch
    # for over-cap conversations
    doc = TURN_SEPARATOR.join(t or "" for _, t in ordered)[:MAX_TEXT_LENGTH]
    return pd.DataFrame(list(_rows_for_document(conv_id, doc, EMIT_GRAPH)), columns=_KERNEL_COLS)


def make_stateful_update(quiet_ms: int):
    """Build the update function with the configured quiet period."""

    def update(key, pdfs, state: GroupState):
        (conv_id,) = key
        if state.hasTimedOut:
            turn_idxs, texts = state.get
            state.remove()
            yield _assemble_and_extract(conv_id, list(turn_idxs), list(texts))
            return
        pairs: list[tuple[int, str]] = []
        if state.exists:
            old = state.get
            pairs = list(zip(old[0], old[1]))
        # state-size cap: the kernel discards everything past
        # MAX_TEXT_LENGTH anyway, so a hot conversation must not grow
        # keyed state (and state-store I/O) without bound. The cap keeps
        # the LOWEST-turn_idx turns (sorted, ties by text — the same order
        # batch assembly sorts by), retaining exactly the prefix the batch
        # slice reads, so streamed output stays byte-identical to batch
        # even when a low-idx turn arrives AFTER the cap was first hit.
        grew = False
        for pdf in pdfs:
            for i, t in zip(pdf["turn_idx"], pdf["text"]):
                pairs.append((int(i), "" if t is None else str(t)))
                grew = True
        if grew:
            pairs.sort()
            kept_idx: list[int] = []
            kept_txt: list[str] = []
            held = 0
            for i, t in pairs:
                if held > MAX_TEXT_LENGTH:
                    break  # the turn CROSSING the cap is kept (partial slice)
                kept_idx.append(i)
                kept_txt.append(t)
                held += len(t) + 1
            state.update((kept_idx, kept_txt))
        state.setTimeoutDuration(quiet_ms)
        yield pd.DataFrame(columns=_KERNEL_COLS)

    return update


def stream_turn_stats(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    approx_distinct: bool = True,
):
    """Event-time windowed turn statistics with a watermark for late data:
    per (window, role) turn counts and text-length stats, appended once the
    watermark passes the window end. The monitoring side-channel of the
    streaming pipeline (and the engine's windowed-agg + watermark
    exemplar). ``approx_distinct=False`` swaps the HLL conversation count
    for an exact max-length — every remaining aggregate is then
    order-independent and engine-exact, which is what lets the driver
    contract hold this stream to a DuckDB value oracle."""
    stream = read_transcript_stream(spark, input_path)
    metrics = [
        F.count("*").alias("n_turns"),
        F.sum(F.length("text")).alias("sum_len"),
        F.avg(F.length("text")).alias("avg_len"),
    ]
    metrics.append(
        F.approx_count_distinct("conv_id").alias("n_convs")
        if approx_distinct
        else F.max(F.length("text")).alias("max_len")
    )
    metric_names = ["n_turns", "sum_len", "avg_len", "n_convs" if approx_distinct else "max_len"]
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "role")
        .agg(*metrics)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            *[F.col(c) for c in metric_names],
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", f"{output_dir}/turn_stats")
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_kg_stateful(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    checkpoint_dir: str,
    quiet_ms: int = 2000,
    max_files: int = 1,
):
    """Turns may arrive split/out-of-order across micro-batches; keyed
    state assembles each conversation and emits its graph rows once no new
    turns arrive for ``quiet_ms``. Returns the started query."""
    stream = read_transcript_stream(spark, input_path, max_files=max_files).select(
        "conv_id", "turn_idx", "text"
    )
    out = stream.groupBy("conv_id").applyInPandasWithState(
        make_stateful_update(quiet_ms),
        outputStructType=KERNEL_ROWS,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
    return (
        out.writeStream.format("parquet")
        .option("path", f"{output_dir}/kernel_rows")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="1 second")
        .start()
    )


def stream_sessionize(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
):
    """Streaming gap-based sessionization via the native ``session_window``
    operator: per conv_id, an event joins the open session while it falls
    before the session's current end (last event ts + ``gap``); otherwise
    it opens a new one. Append mode emits each session EXACTLY ONCE — when
    the watermark passes its end — as (conv_id, session_start, session_end,
    n_turns, sum_len). The streaming twin of ``operators.joins.sessionize``
    (batch assigns ids with a lag/sum window): session_window's merge test
    is INCLUSIVE of the session end (an event at exactly last_ts + gap
    still merges), which is the same boundary as batch's "new session only
    when the gap EXCEEDS gap_seconds" — verified pairwise in
    test_stream_sessionize_matches_batch.

    Scale: state holds OPEN sessions only — a session's state retires the
    moment the watermark passes its end, so state size is bounded by the
    number of keys active inside one watermark horizon, not stream history.
    The aggregates are partial-aggregable (count/sum), so the session merge
    is map-side combinable before the keyed state update.
    """
    stream = read_transcript_stream(spark, input_path)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text")).alias("sum_len"),
        )
        .select(
            "conv_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_turns",
            "sum_len",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", f"{output_dir}/sessions")
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_turns(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
):
    """In-flight exact deduplication of replayed turns: emit each
    (conv_id, turn_idx) once, dropping re-deliveries that arrive within
    the watermark horizon. This is the streaming twin of the batch
    exact-dedup operator — at-least-once upstream delivery (Kafka
    replays, file re-lists) becomes effectively-once downstream.

    ``dropDuplicatesWithinWatermark`` keys state by (conv_id, turn_idx)
    and expires each key once the watermark passes its arrival time, so
    state is bounded by the duplicate-arrival horizon rather than the
    stream's full history — the property that keeps this viable on an
    unbounded 10^12-turn stream, where an unexpired dedup state would
    grow without limit.
    """
    stream = read_transcript_stream(spark, input_path)
    deduped = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", f"{output_dir}/deduped_turns")
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_neardup_minhash(
    spark: SparkSession,
    input_path: str,
    store_root: str,
    checkpoint_dir: str,
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.7,
    max_bucket: int = 200,
    available_now: bool = True,
):
    """Incremental MinHash near-duplicate detection over a DOCUMENT stream
    — the curation chain running in flight instead of as a batch sweep.

    Per micro-batch of (doc_id, text):

    1. fingerprint the new docs (shingle -> minhash) and append their
       signatures to a durable signature store (per-batch directory, so a
       retried batch OVERWRITES its own output instead of duplicating);
    2. candidate pairs = banded-bucket join of the new signatures against
       the ACCUMULATED store (old-new and new-new; old-old pairs were
       emitted by earlier batches) — per-batch cost is O(batch + collisions),
       never O(corpus^2); hot buckets are count-capped like the batch path;
    3. exact-Jaccard verify the candidates, reading shingles ONLY for the
       pair members (semi-join pruned read of the doc store);
    4. append verified pairs (a, b, jaccard) to the pair store.

    Exactly-once: foreachBatch's stable batch_id + the BatchLedger —
    identical machinery to ``stream_kg_to_store``. A crash between the
    writes and the mark re-runs the batch, whose per-batch-directory
    writes are overwrite-idempotent. After any prefix of batches, the
    union of emitted pairs equals the BATCH ``minhash_near_duplicates``
    over the documents delivered so far (pinned by test), with ONE
    deliberate divergence: the hot-bucket cap is evaluated against the
    ACCUMULATED store at each batch, so a bucket that crosses
    ``max_bucket`` mid-stream keeps the (verified, correct) pairs it
    emitted while still under the cap, whereas the batch path drops the
    whole hot bucket. Streaming output is therefore a SUPERSET of batch
    on corpora where a bucket crosses the cap after emitting pairs —
    every extra pair is still exact-Jaccard-verified, so this errs toward
    recall, never precision. Exact equality holds whenever no bucket
    crosses the cap mid-stream (the tested regime).

    State at 10^12 docs: the signature store is (doc_id, sig) — tiny rows,
    bucketable; the doc store is the corpus the pipeline lands anyway. No
    Spark keyed state is used at all, so restart cost is the checkpoint's,
    not a state-store rebuild. The per-batch store layout is listed
    through the ``fsio`` shim (POSIX locally, Hadoop FileSystem for
    hdfs://s3a://gs:// roots), so the store runs where the data lives;
    an object-store deployment can alternatively keep the batch index in
    a manifest — the GraphStore manifest protocol is the pattern to reuse.
    """
    from ..operators.dedup import (
        band_keys,
        jaccard_verify,
        minhash_signatures,
        word_shingles,
    )

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(input_path)
    )
    io = io_for(store_root, spark)
    ledger = _lineage_ledger(io, store_root, checkpoint_dir, ("docs", "sigs", "pairs"))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if ledger.applied(batch_id):
            return
        docs = batch_df.select("doc_id", "text")
        docs.write.mode("overwrite").parquet(f"{store_root}/docs/batch={batch_id}")
        sh_new = word_shingles(docs, "doc_id", "text", k)
        sigs_new = minhash_signatures(sh_new, n_hashes)
        sigs_new.write.mode("overwrite").parquet(f"{store_root}/sigs/batch={batch_id}")

        # accumulated signatures INCLUDING this batch (so new-new pairs
        # form). Explicit schemas on every store read: a batch with zero
        # output rows leaves a directory whose schema can't be inferred.
        all_sigs = spark.read.schema("doc_id bigint, sig array<bigint>").parquet(
            *_batch_dirs(io, f"{store_root}/sigs")
        )
        all_bands = band_keys(all_sigs.select("doc_id", "sig"), n_bands)
        new_bands = band_keys(sigs_new, n_bands)
        pairs = (
            block_pairs(all_bands, "bucket", "doc_id", max_bucket, probe=new_bands)
            .select("a", "b")
            .distinct()
        )
        # drop pairs already emitted by an earlier batch (both members old):
        # y is always new, so only re-delivered doc_ids could resurface an
        # old pair; an anti-join against the pair store keeps emission
        # exactly-once per pair even then
        prior_dirs = _batch_dirs(io, f"{store_root}/pairs", exclude=batch_id)
        if prior_dirs:
            prior = spark.read.schema("a bigint, b bigint, jaccard double").parquet(
                *prior_dirs
            )
            pairs = pairs.join(prior.select("a", "b"), ["a", "b"], "left_anti")

        # Jaccard verification reads shingles ONLY for pair members
        members = pairs.select(F.col("a").alias("doc_id")).unionByName(
            pairs.select(F.col("b").alias("doc_id"))
        ).distinct()
        corpus = spark.read.schema("doc_id bigint, text string").parquet(
            *_batch_dirs(io, f"{store_root}/docs")
        )
        needed = corpus.join(members, "doc_id", "semi").select("doc_id", "text")
        sh_needed = word_shingles(needed, "doc_id", "text", k)
        verified = jaccard_verify(pairs, sh_needed, threshold)
        verified.write.mode("overwrite").parquet(f"{store_root}/pairs/batch={batch_id}")
        ledger.mark(batch_id)

    return _start_foreach_batch(stream, process, checkpoint_dir, available_now)


def stream_dsir(
    spark: SparkSession,
    input_path: str,
    store_root: str,
    checkpoint_dir: str,
    target_lang: str = "en",
    n_buckets: int = 64,
    available_now: bool = True,
):
    """Incremental DSIR (round-3 verdict ask #8): the importance-weight
    curation step running per micro-batch instead of as a batch sweep.

    DSIR scores depend on the GLOBAL bucket distribution, so a truly
    incremental design splits the operator at its partial-aggregable
    seam:

    * per batch (O(batch) work, exactly-once via the BatchLedger):
      featurize the new docs (shared ``dsir_features`` kernel — hash
      parity with the batch operator is what makes the drain pin
      meaningful) and append TWO partial stores: per-doc bucket counts
      (doc_id, bucket, cnt) and the batch's bucket-distribution partial
      (bucket, q_cnt, p_cnt);
    * at read time (``read_dsir_weights``): sum the distribution partials
      (n_buckets rows per batch — tiny) and score the accumulated per-doc
      counts with the shared ``dsir_score``.

    After any prefix of batches, ``read_dsir_weights`` equals the batch
    ``dsir_importance`` over the documents delivered so far (pinned by
    test, including after a fresh-checkpoint full re-delivery) — the
    scores of EARLIER docs legitimately change as later batches shift the
    corpus distribution, which is exactly why the rescore lives at read
    time rather than in the per-batch write.

    Input schema: (doc_id bigint, text string, lang string); the target
    subset is lang == ``target_lang`` (same shape as the driver query's
    batch oracle). Store layout matches ``stream_neardup_minhash`` (per-
    batch directories, overwrite-idempotent, driver-listable filesystem).
    """
    from ..operators.curation import dsir_features

    stream = (
        spark.readStream.schema("doc_id bigint, text string, lang string")
        .option("maxFilesPerTrigger", 1)
        .parquet(input_path)
    )
    io = io_for(store_root, spark)
    ledger = _lineage_ledger(io, store_root, checkpoint_dir, ("doc_buckets", "dist"))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if ledger.applied(batch_id):
            return
        feats = dsir_features(
            batch_df, F.col("lang") == target_lang, n_buckets=n_buckets
        )
        # one explode per batch (same restructure as dsir_importance):
        # aggregate to narrow (doc, is_target, bucket, cnt) rows once,
        # derive the distribution partial from them
        per_key = (
            feats.groupBy("doc_id", "is_target", "bucket")
            .agg(F.count("*").alias("cnt"))
            .localCheckpoint(eager=False)
        )
        per_key.select("doc_id", "bucket", "cnt").write.mode("overwrite").parquet(
            f"{store_root}/doc_buckets/batch={batch_id}"
        )
        dist = per_key.groupBy("bucket").agg(
            F.sum("cnt").alias("q_cnt"),
            F.sum(F.when(F.col("is_target"), F.col("cnt")).otherwise(0)).alias("p_cnt"),
        )
        dist.write.mode("overwrite").parquet(f"{store_root}/dist/batch={batch_id}")
        ledger.mark(batch_id)

    return _start_foreach_batch(stream, process, checkpoint_dir, available_now)


def read_dsir_weights(
    spark: SparkSession, store_root: str, n_buckets: int = 64, smoothing: float = 1.0
) -> DataFrame:
    """Current DSIR weights over everything ``stream_dsir`` has ingested:
    sum the per-batch distribution partials, score the accumulated
    per-doc bucket counts (shared ``dsir_score``)."""
    from ..operators.curation import dsir_score

    io = io_for(store_root, spark)
    doc_dirs = _batch_dirs(io, f"{store_root}/doc_buckets")
    dist_dirs = _batch_dirs(io, f"{store_root}/dist")
    if not doc_dirs or not dist_dirs:
        return spark.createDataFrame([], "doc_id bigint, n_feats int, log_weight double")
    per_doc = spark.read.schema("doc_id bigint, bucket bigint, cnt bigint").parquet(
        *doc_dirs
    )
    dist = (
        spark.read.schema("bucket bigint, q_cnt bigint, p_cnt bigint")
        .parquet(*dist_dirs)
        .groupBy("bucket")
        .agg(F.sum("q_cnt").alias("q_cnt"), F.sum("p_cnt").alias("p_cnt"))
    )
    return dsir_score(per_doc, dist, n_buckets, smoothing)


def read_neardup_pairs(spark: SparkSession, store_root: str) -> DataFrame:
    """All verified near-dup pairs the stream has emitted so far."""
    dirs = _batch_dirs(io_for(store_root, spark), f"{store_root}/pairs")
    schema = "a bigint, b bigint, jaccard double"
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*dirs)


def stream_enrich_join(
    spark: SparkSession,
    turns_path: str,
    flags_path: str,
    output_dir: str,
    checkpoint_dir: str,
    horizon: str = "1 hour",
    watermark: str = "1 hour",
):
    """Stream-stream INNER join: each flag row (conv_id, flag, ts) attaches
    to every turn of the same conversation in the ``horizon`` window ending
    at the flag (turn.ts in [flag.ts - horizon, flag.ts]) — the streaming
    enrichment pattern (moderation flags, quality labels, abuse signals
    arriving on their own feed and joining the turn stream in flight).

    Scale/state shape: BOTH sides carry watermarks and the join condition
    carries an explicit event-time range, which is what lets Spark expire
    buffered rows — each side's state holds only rows newer than
    (watermark - horizon), not stream history. Inner-join emission is
    monotone (a match emits exactly once, when both sides have arrived),
    so the final emitted set is independent of how files batch into
    micro-batches — the property the driver's value oracle relies on.
    """
    turns = (
        read_transcript_stream(spark, turns_path)
        .select("conv_id", "turn_idx", "text", F.col("ts").alias("turn_ts"))
        .withWatermark("turn_ts", watermark)
    )
    flags = (
        spark.readStream.schema("conv_id string, flag string, flag_ts timestamp")
        .parquet(flags_path)
        .withWatermark("flag_ts", watermark)
    )
    joined = turns.join(
        flags,
        (turns["conv_id"] == flags["conv_id"])
        & (F.col("turn_ts") >= F.col("flag_ts") - F.expr(f"INTERVAL {horizon}"))
        & (F.col("turn_ts") <= F.col("flag_ts")),
        "inner",
    ).select(turns["conv_id"], "turn_idx", "flag", "turn_ts", "flag_ts")
    return (
        joined.writeStream.format("parquet")
        .option("path", f"{output_dir}/enriched")
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
