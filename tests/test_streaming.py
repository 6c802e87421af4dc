"""Structured Streaming front-ends: the foreachBatch micro-batch pipeline
must produce the same triples as the batch pipeline on the same turns, and
the stateful assembler must produce correct documents even when one
conversation's turns are split across micro-batches (files)."""

from __future__ import annotations

import time

import pytest

from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
from knowledge_graph_builder_spark.sources.synth import golden_transcripts
from knowledge_graph_builder_spark.streaming.incremental import (
    stream_kg_foreachbatch,
    stream_kg_stateful,
    stream_turn_stats,
)


def test_watermarked_turn_stats(spark, tmp_path):
    import datetime as dt

    from knowledge_graph_builder_spark.schema import TRANSCRIPTS

    # one turn per minute for 10 minutes: append-mode windows close only
    # once the watermark (max event time) passes their end, so the final
    # minute's window correctly stays open and unemitted.
    base = dt.datetime(2024, 1, 1)
    rows = [
        (f"c{i}", 0, "user", f"turn {i}", "", base + dt.timedelta(minutes=i, seconds=1))
        for i in range(10)
    ]
    tr = spark.createDataFrame(rows, TRANSCRIPTS)
    inp = str(tmp_path / "win")
    tr.repartition(2).write.parquet(inp)
    out, ckpt = str(tmp_path / "wout"), str(tmp_path / "wckpt")
    q = stream_turn_stats(spark, inp, out, ckpt, window="1 minute", watermark="0 seconds")
    q.awaitTermination(120)
    got = spark.read.parquet(f"{out}/turn_stats").collect()
    # windows 0..8 closed (watermark reaches 9min01s); window 9 still open
    assert sum(r.n_turns for r in got) == 9
    assert all(r.role == "user" and r.n_turns == 1 and r.avg_len > 0 for r in got)


def test_foreachbatch_matches_batch(spark, tmp_path):
    tr = golden_transcripts(spark)
    inp = str(tmp_path / "in")
    tr.repartition(2).write.parquet(inp)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_kg_foreachbatch(spark, inp, out, ckpt, available_now=True)
    q.awaitTermination(120)

    streamed = {
        tuple(r)
        for r in spark.read.parquet(f"{out}/triples/batch=*")
        .select("document_id", "source", "type", "target")
        .collect()
    }
    batch = {
        tuple(r)
        for r in run_pipeline(spark, tr).triples.select("document_id", "source", "type", "target").collect()
    }
    from knowledge_graph_builder_spark.sources.synth import GOLDEN_EXPECTED_TRIPLES

    assert streamed == batch and len(batch) == len(GOLDEN_EXPECTED_TRIPLES)


def test_stateful_assembly_across_batches(spark, tmp_path):
    # split g2's turns across two files written BEFORE the stream starts;
    # maxFilesPerTrigger=1 forces them into separate micro-batches, so
    # only keyed state can reunite the conversation.
    tr = golden_transcripts(spark, shuffled=False).filter("conv_id = 'g2'").collect()
    assert len(tr) >= 2
    inp = str(tmp_path / "sin")
    spark.createDataFrame(tr[: len(tr) // 2], schema=golden_transcripts(spark).schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    spark.createDataFrame(tr[len(tr) // 2 :], schema=golden_transcripts(spark).schema).coalesce(1).write.mode(
        "append"
    ).parquet(inp)

    out, ckpt = str(tmp_path / "sout"), str(tmp_path / "sckpt")
    q = stream_kg_stateful(spark, inp, out, ckpt, quiet_ms=1500)
    try:
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            time.sleep(3)
            try:
                rows = (
                    spark.read.schema(
                        __import__("knowledge_graph_builder_spark.schema", fromlist=["KERNEL_ROWS"]).KERNEL_ROWS
                    )
                    .parquet(f"{out}/kernel_rows")
                    .filter("kind = 'triple'")
                    .collect()
                )
            except Exception:
                rows = []
            if rows:
                break
    finally:
        q.stop()

    got = {(r.text, r.label, r.obj) for r in rows}
    expected = {
        ("Steve Jobs", "FOUNDED", "Apple"),
        ("Apple", "RELEASED", "iPhone"),
        ("Tim Cook", "CEO_OF", "Apple"),
        ("Microsoft", "COMPETES_WITH", "Apple"),
    }
    assert got == expected, got


def test_stream_to_store_merge_and_restart(spark, tmp_path):
    """Streaming MERGE into the durable GraphStore: node/edge tables carry
    Neo4j-MERGE semantics after the stream, and re-running the stream over
    the same input with a FRESH checkpoint (new lineage => own ledger =>
    batches re-merged) leaves the store unchanged — the keyed last-writer
    merge is value-idempotent."""
    from knowledge_graph_builder_spark.sources.graph_store import GraphStore
    from knowledge_graph_builder_spark.streaming.incremental import stream_kg_to_store

    inp = str(tmp_path / "in")
    golden_transcripts(spark).repartition(3).write.parquet(inp)
    store_root = str(tmp_path / "store")

    q = stream_kg_to_store(spark, inp, store_root, str(tmp_path / "ck1"))
    q.awaitTermination(180)
    store = GraphStore(spark, store_root)
    nodes1 = {(r.name, r.type) for r in store.nodes().collect()}
    edges1 = {(r.src, r.type, r.dst) for r in store.edges().collect()}
    assert ("Apple", "ORG") in nodes1 and len(edges1) > 0
    # MERGE key uniqueness
    assert len(nodes1) == store.nodes().count()
    assert len(edges1) == store.edges().count()

    # restart with a fresh checkpoint: every batch re-delivered with the
    # same content; keyed last-writer merge must leave the store identical
    q2 = stream_kg_to_store(spark, inp, store_root, str(tmp_path / "ck2"))
    q2.awaitTermination(180)
    nodes2 = {(r.name, r.type) for r in store.nodes().collect()}
    edges2 = {(r.src, r.type, r.dst) for r in store.edges().collect()}
    assert nodes2 == nodes1 and edges2 == edges1
    assert store.nodes().count() == len(nodes1)


def test_stream_to_store_vacuums_superseded_commits(spark, tmp_path):
    """A long-running stream must not keep a copy of the touched buckets
    for every micro-batch: after each batch, each <table>._commits holds
    only the commit dirs its manifest names. Batch 1 replays batch 0's
    turns, so it supersedes every bucket batch 0 wrote."""
    import json
    import os

    from knowledge_graph_builder_spark.sources.graph_store import GraphStore
    from knowledge_graph_builder_spark.streaming.incremental import stream_kg_to_store

    inp = str(tmp_path / "in")
    store_root, ckpt = str(tmp_path / "store"), str(tmp_path / "ck")
    golden_transcripts(spark).coalesce(1).write.parquet(inp)
    stream_kg_to_store(spark, inp, store_root, ckpt).awaitTermination(180)
    state0 = {(r.name, r.type) for r in GraphStore(spark, store_root).nodes().collect()}

    # same checkpoint, new file: the restarted query delivers it as batch 1
    golden_transcripts(spark).coalesce(1).write.mode("append").parquet(inp)
    stream_kg_to_store(spark, inp, store_root, ckpt).awaitTermination(180)

    for table in ("nodes", "edges"):
        with open(f"{store_root}/{table}.manifest.json") as fh:
            manifest = json.load(fh)
        assert manifest["seq"] == 1  # both batches committed
        live = set(manifest["buckets"].values())
        assert set(os.listdir(f"{store_root}/{table}._commits")) == live
    store = GraphStore(spark, store_root)
    assert {(r.name, r.type) for r in store.nodes().collect()} == state0
    assert store.nodes().count() == len(state0)


def test_streaming_stats_equal_batch_aggregate(spark):
    # the sentinel-flush contract: the availableNow stream's APPEND-mode
    # output must equal the plain batch windowed aggregate (this is the
    # invariant the driver's DuckDB oracle for streaming_turn_stats
    # encodes)
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    got = {tuple(r) for r in entry._q_streaming_stats(spark, "/root/testdata/sf0.001").collect()}
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    exp = {
        tuple(r)
        for r in ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("window_start"),
            F.col("event_type").alias("role"),
        )
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("props")).alias("sum_len"),
            F.round(F.avg(F.length("props")), 4).alias("avg_len"),
            F.max(F.length("props")).alias("max_len"),
        )
        .collect()
    }
    assert got == exp and len(got) > 0


def test_stream_dedup_drops_replayed_turns(spark, tmp_path):
    import datetime as dt

    from knowledge_graph_builder_spark.schema import TRANSCRIPTS
    from knowledge_graph_builder_spark.streaming.incremental import stream_dedup_turns

    base = dt.datetime(2024, 1, 1)
    originals = [
        ("c1", 0, "user", "hello", "", base),
        ("c1", 1, "assistant", "hi", "", base + dt.timedelta(seconds=10)),
        ("c2", 0, "user", "other", "", base + dt.timedelta(seconds=20)),
    ]
    # replay two of the turns (same keys, later ts) in a SECOND file so
    # the duplicates arrive in a different micro-batch than the originals
    replays = [
        ("c1", 0, "user", "hello", "", base + dt.timedelta(seconds=30)),
        ("c2", 0, "user", "other", "", base + dt.timedelta(seconds=40)),
    ]
    inp = str(tmp_path / "din")
    spark.createDataFrame(originals, TRANSCRIPTS).coalesce(1).write.parquet(inp)
    spark.createDataFrame(replays, TRANSCRIPTS).coalesce(1).write.mode("append").parquet(inp)
    out, ckpt = str(tmp_path / "dout"), str(tmp_path / "dckpt")
    q = stream_dedup_turns(spark, inp, out, ckpt, watermark="10 minutes")
    q.awaitTermination(120)
    got = spark.read.parquet(f"{out}/deduped_turns").collect()
    keys = sorted((r.conv_id, r.turn_idx) for r in got)
    assert keys == [("c1", 0), ("c1", 1), ("c2", 0)]
    # restart over the same input re-emits nothing (checkpointed offsets)
    q2 = stream_dedup_turns(spark, inp, out, ckpt, watermark="10 minutes")
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{out}/deduped_turns").count() == 3


def test_stream_sessionize_matches_batch(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    from knowledge_graph_builder_spark.operators.joins import sessionize
    from knowledge_graph_builder_spark.schema import TRANSCRIPTS
    from knowledge_graph_builder_spark.streaming.incremental import stream_sessionize

    base = dt.datetime(2024, 1, 1)
    gap = 1800  # 30 minutes

    def turn(conv, idx, offset_s, text):
        return (conv, idx, "user", text, "", base + dt.timedelta(seconds=offset_s))

    # c1: two sessions — delta == gap MERGES (session_window's end is
    # inclusive for the merge test, same as batch sessionize's "new only
    # when gap > gap_seconds"), delta > gap splits; c2: one session whose
    # turns arrive in DIFFERENT files (micro-batches), so the session
    # must merge across state updates
    file1 = [
        turn("c1", 0, 0, "aa"),
        turn("c1", 1, 60, "bbb"),
        turn("c1", 2, 60 + gap, "c"),  # delta == gap: merges
        turn("c2", 0, 0, "dd"),
    ]
    file2 = [
        turn("c1", 3, 60 + gap + gap + 1, "ee"),  # delta > gap: NEW session
        turn("c2", 1, 600, "ffff"),  # merges into c2's open session
        # sentinel far in the future: pushes the final watermark past
        # every real session end so append mode flushes them all
        turn("sentinel", 0, 10 * 86400, ""),
    ]
    inp = str(tmp_path / "sin")
    spark.createDataFrame(file1, TRANSCRIPTS).coalesce(1).write.parquet(inp)
    spark.createDataFrame(file2, TRANSCRIPTS).coalesce(1).write.mode("append").parquet(inp)

    out, ckpt = str(tmp_path / "sout"), str(tmp_path / "sckpt")
    q = stream_sessionize(spark, inp, out, ckpt, gap="30 minutes", watermark="1 hour")
    q.awaitTermination(120)
    got = {
        tuple(r)
        for r in spark.read.parquet(f"{out}/sessions")
        .filter(F.col("conv_id") != "sentinel")
        .collect()
    }

    # batch twin: lag/sum sessionize, grouped to (start, last+gap, count, sum)
    tr = spark.createDataFrame(file1 + file2, TRANSCRIPTS).filter(F.col("conv_id") != "sentinel")
    exp = {
        tuple(r)
        for r in sessionize(tr, "conv_id", "ts", gap_seconds=gap)
        .groupBy("conv_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
            F.count("*").alias("n_turns"),
            F.sum(F.length("text")).alias("sum_len"),
        )
        .drop("session_id")
        .collect()
    }
    assert got == exp
    assert len(got) == 3  # c1 x2 + c2 x1


def test_stream_enrich_join_matches_batch(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    from knowledge_graph_builder_spark.schema import TRANSCRIPTS
    from knowledge_graph_builder_spark.streaming.incremental import stream_enrich_join

    base = dt.datetime(2024, 1, 1)

    def turn(conv, idx, offset_s):
        return (conv, idx, "user", f"t{idx}", "", base + dt.timedelta(seconds=offset_s))

    turns = [
        turn("c1", 0, 0),
        turn("c1", 1, 1800),  # inside the 1h window before the c1 flag
        turn("c1", 2, 7200),  # after the flag: no match
        turn("c2", 0, 0),  # different conversation: no match
    ]
    flags = [("c1", "review", base + dt.timedelta(seconds=3600))]
    tin, fin = str(tmp_path / "tin"), str(tmp_path / "fin")
    # turns split across two files so the join must buffer across batches
    spark.createDataFrame(turns[:2], TRANSCRIPTS).coalesce(1).write.parquet(tin)
    spark.createDataFrame(turns[2:], TRANSCRIPTS).coalesce(1).write.mode("append").parquet(tin)
    spark.createDataFrame(flags, "conv_id string, flag string, flag_ts timestamp").write.parquet(fin)

    out, ckpt = str(tmp_path / "eout"), str(tmp_path / "eckpt")
    q = stream_enrich_join(spark, tin, fin, out, ckpt, horizon="1 hour", watermark="1 day")
    q.awaitTermination(120)
    got = {
        (r.conv_id, r.turn_idx, r.flag)
        for r in spark.read.parquet(f"{out}/enriched").collect()
    }
    assert got == {("c1", 0, "review"), ("c1", 1, "review")}


def test_stream_neardup_matches_batch_and_restarts(spark, tmp_path):
    """Incremental MinHash near-dup: after the stream drains, the emitted
    pair set equals the BATCH minhash_near_duplicates over the same docs
    (streaming adds incrementality, not approximation); and re-running the
    whole stream with a fresh checkpoint (every batch re-delivered) leaves
    the pair set identical — per-batch overwrite + the prior-pair anti-join
    make emission idempotent."""
    from knowledge_graph_builder_spark.operators.dedup import minhash_near_duplicates
    from knowledge_graph_builder_spark.streaming.incremental import (
        read_neardup_pairs,
        stream_neardup_minhash,
    )

    base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    batches = [
        [(1, base), (2, base + " indeed")],
        [(3, "completely different text about spark shuffle partition sizing and skew"),
         (4, base + " truly")],
        [(5, "another unrelated document talking about watermark semantics in streams"),
         (6, base)],
    ]
    inp = str(tmp_path / "docs_in")
    for rows in batches:  # one file per append -> one micro-batch per file
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(1).write.mode(
            "append"
        ).parquet(inp)

    store = str(tmp_path / "ndstore")
    q = stream_neardup_minhash(spark, inp, store, str(tmp_path / "ck1"), threshold=0.5)
    q.awaitTermination(180)

    def pairset():
        return {
            (r.a, r.b, round(r.jaccard, 6))
            for r in read_neardup_pairs(spark, store).collect()
        }

    all_docs = spark.createDataFrame(
        [r for b in batches for r in b], "doc_id bigint, text string"
    )
    expected = {
        (r.a, r.b, round(r.jaccard, 6))
        for r in minhash_near_duplicates(all_docs, threshold=0.5).collect()
    }
    got = pairset()
    assert expected  # the corpus genuinely contains near-dups
    assert got == expected, (got, expected)
    # cross-batch pair present: doc 4 (batch 1) near-dups doc 1 (batch 0)
    assert any(a == 1 and b == 4 for a, b, _ in got)

    # full re-delivery with a fresh checkpoint lineage
    q2 = stream_neardup_minhash(spark, inp, store, str(tmp_path / "ck2"), threshold=0.5)
    q2.awaitTermination(180)
    assert pairset() == expected


def test_stream_dsir_matches_batch_and_redelivery(spark, tmp_path):
    """Incremental DSIR: after the stream drains, read_dsir_weights over
    the accumulated partial stores equals batch dsir_importance on the
    same docs — INCLUDING earlier docs whose scores shifted when later
    batches changed the corpus distribution. A full re-delivery with a
    fresh checkpoint (every batch re-sent) leaves the weights identical
    (per-batch overwrite + BatchLedger idempotence)."""
    from knowledge_graph_builder_spark.operators.curation import dsir_importance
    from knowledge_graph_builder_spark.streaming.incremental import (
        read_dsir_weights,
        stream_dsir,
    )
    from pyspark.sql import functions as F

    batches = [
        [(1, "the quick brown fox jumps over the lazy dog", "en"),
         (2, "der schnelle braune fuchs springt", "de")],
        [(3, "a quiet river bank in the morning light", "en"),
         (4, "le renard brun rapide saute", "fr")],
        [(5, "the lazy dog sleeps near the river bank", "en")],
    ]
    inp = str(tmp_path / "dsir_in")
    for rows in batches:
        spark.createDataFrame(
            rows, "doc_id bigint, text string, lang string"
        ).coalesce(1).write.mode("append").parquet(inp)

    store = str(tmp_path / "dsir_store")
    q = stream_dsir(spark, inp, store, str(tmp_path / "dck1"), n_buckets=32)
    q.awaitTermination(180)

    def weights():
        return {
            r.doc_id: (r.n_feats, round(r.log_weight, 6))
            for r in read_dsir_weights(spark, store, n_buckets=32).collect()
        }

    all_docs = spark.createDataFrame(
        [r for b in batches for r in b], "doc_id bigint, text string, lang string"
    )
    expected = {
        r.doc_id: (r.n_feats, round(r.log_weight, 6))
        for r in dsir_importance(
            all_docs, F.col("lang") == "en", n_buckets=32
        ).collect()
    }
    got = weights()
    assert got == expected, (got, expected)
    # the target/non-target split genuinely separates: every English doc
    # outweighs every non-English one on this corpus
    en = {1, 3, 5}
    assert min(got[d][1] for d in en) > max(got[d][1] for d in got if d not in en)

    # full re-delivery with a fresh checkpoint lineage
    q2 = stream_dsir(spark, inp, store, str(tmp_path / "dck2"), n_buckets=32)
    q2.awaitTermination(180)
    assert weights() == expected


def test_old_lineage_rerun_cannot_wipe_live_lineage(spark, tmp_path):
    """Regression (round-5 review): _reset_stale_partials must clear only
    the DATA subdirs of a dead lineage, never other lineages' ledgers.
    If lineage A's ledger were deleted when lineage B takes over, a later
    re-run of A would look fresh (ledger gone, checkpoint offsets
    intact): it would wipe B's data and then re-deliver nothing — a
    silent-empty store. Sequence: drain via ckptA, re-deliver via ckptB
    (takeover), then re-run ckptA — weights must still equal batch."""
    from pyspark.sql import functions as F

    from knowledge_graph_builder_spark.operators.curation import dsir_importance
    from knowledge_graph_builder_spark.streaming.incremental import (
        read_dsir_weights,
        stream_dsir,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "der schnelle braune fuchs springt", "de"),
        (3, "a quiet river bank in the morning light", "en"),
    ]
    inp = str(tmp_path / "in")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string"
    ).coalesce(1).write.parquet(inp)
    store = str(tmp_path / "store")

    expected = {
        r.doc_id: (r.n_feats, round(r.log_weight, 6))
        for r in dsir_importance(
            spark.createDataFrame(rows, "doc_id bigint, text string, lang string"),
            F.col("lang") == "en",
            n_buckets=32,
        ).collect()
    }

    def weights():
        return {
            r.doc_id: (r.n_feats, round(r.log_weight, 6))
            for r in read_dsir_weights(spark, store, n_buckets=32).collect()
        }

    stream_dsir(spark, inp, store, str(tmp_path / "ckptA"), n_buckets=32).awaitTermination(180)
    assert weights() == expected
    # fresh-checkpoint takeover (lineage B): wipes A's stale data, not A's ledger
    stream_dsir(spark, inp, store, str(tmp_path / "ckptB"), n_buckets=32).awaitTermination(180)
    assert weights() == expected
    # re-run of the ORIGINAL checkpoint: its ledger must have survived, so
    # this resumes (no wipe) and re-delivers nothing — store stays intact
    stream_dsir(spark, inp, store, str(tmp_path / "ckptA"), n_buckets=32).awaitTermination(180)
    assert weights() == expected


def test_reset_stale_partials_preserves_ledgers(tmp_path):
    """Unit pin for the same fix: B's reset clears data subdirs only; A's
    subsequent reset early-returns because A's ledger survived."""
    from knowledge_graph_builder_spark.sources.fsio import PosixFileIO
    from knowledge_graph_builder_spark.streaming.incremental import (
        _reset_stale_partials,
    )

    io = PosixFileIO()
    root = str(tmp_path / "store")
    for p in (f"{root}/dist/batch=0", f"{root}/_applied_batches/lineageA"):
        io.makedirs(p)
    io.write_text_atomic(f"{root}/_applied_batches/lineageA/0", "done")

    _reset_stale_partials(io, root, "lineageB", ("dist",))
    assert not io.exists(f"{root}/dist/batch=0")
    assert io.exists(f"{root}/_applied_batches/lineageA/0")

    io.makedirs(f"{root}/dist/batch=0")  # lineage B's new data
    _reset_stale_partials(io, root, "lineageA", ("dist",))
    assert io.exists(f"{root}/dist/batch=0"), "A's re-run must not wipe B's data"
