"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline; ``queries()``
exposes one callable per implemented operator family from SURVEY.md §2
(plus the corpus-pipeline operators); ``oracle_sql()`` gives the DuckDB
equivalent for every SQL-expressible query. Non-SQL-expressible ops
(Arrow extraction kernel, MinHash/SimHash blocking, connected components)
have queries() entries only — the driver records rows-only checks there.

Column names are aligned between Spark and SQL on both sides; doubles are
rounded on both sides so cross-engine float noise cannot flip the
value-hash.
"""

from __future__ import annotations

import datetime

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden transcripts + the sf documents table (each document becomes a
    single-turn conversation) -> full KG pipeline -> triples."""
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    transcripts = golden_transcripts(spark).unionByName(docs)
    return run_pipeline(spark, transcripts).triples  # flagship keeps persist: triples is a filter of the held kernel frame


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _flagship(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# queries — KG primitives exercised on the relational testdata + corpus ops
# ---------------------------------------------------------------------------


def _q_conv_assembly(spark, sf_dir):
    # S3: stable-ordered per-key sequence assembly (window/sort semantics)
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                    lambda s: s["event_type"],
                ),
                "|",
            ).alias("event_seq"),
            F.count("*").alias("n_events"),
        )
    )


def _q_when_chain(spark, sf_dir):
    # R1/EV1: ordered when-chain classification + aggregation
    li = _t(spark, sf_dir, "lineitem")
    band = (
        F.when(F.col("l_quantity") < 10, F.lit("low"))
        .when(F.col("l_quantity") < 30, F.lit("mid"))
        .otherwise(F.lit("high"))
    )
    return (
        li.withColumn("qty_band", band)
        .groupBy("qty_band", "l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
    )


def _q_dedup_first_seen(spark, sf_dir):
    # E2/D1: first-seen-wins dedup via row_number window
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.round("o_totalprice", 2).alias("first_totalprice"),
        )
    )


def _q_pair_join(spark, sf_dir):
    # R1-R5: bounded within-group self-join (sentence-scoped pair analog)
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    a = li.select("l_orderkey", F.col("l_linenumber").alias("ln_a"))
    b = li.select("l_orderkey", F.col("l_linenumber").alias("ln_b"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("ln_a") < F.col("ln_b"))
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_pairs"))
    )


def _q_insights(spark, sf_dir):
    # Q1: countDistinct / avg insights
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.avg("l_discount"), 2).alias("avg_discount"),
        F.count("*").alias("n_rows"),
    )


def _q_explode_tokens(spark, sf_dir):
    # S6/EV4: explode (participants-style) + count
    p = _t(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split("p_type", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


def _q_validation_join(spark, sf_dir):
    # V2: semi-join validation (endpoint-must-exist semantics)
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        o.join(F.broadcast(c.select(F.col("c_custkey").alias("o_custkey"))), "o_custkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


def _q_topk_window(spark, sf_dir):
    # Q3/top-k: per-group top 3 by value
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "rk")
    )


def _q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
        F.count("*").alias("count_order"),
    )


def _q_tpch_q3(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1997-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-03-15")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


def _dup_injected_corpus(spark, sf_dir):
    """documents + a deterministic duplicate echo (every 50th doc re-added
    under doc_id+1000000) so the exact-dedup oracles compare real groups,
    not a trivially-empty result — the sf corpora have no byte-identical
    documents of their own."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    echo = d.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return d.unionByName(echo)


_DUP_CORPUS_CTE = """
            corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
            ),
            fp AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                                             '\\s+', ' ', 'g'))) AS fingerprint
              FROM corpus
            )
"""


def _q_dedup_exact(spark, sf_dir):
    from knowledge_graph_builder_spark.operators.dedup import exact_duplicates

    d = _dup_injected_corpus(spark, sf_dir)
    groups = exact_duplicates(d, "doc_id", "text", member_sample=20)
    return groups.select(
        "fingerprint",
        "n_docs",
        F.col("canonical_id").cast("string").alias("canonical_id"),
        F.array_join(F.transform("sample_ids", lambda x: x.cast("string")), ",").alias("sample_ids"),
    )


def _q_dedup_members(spark, sf_dir):
    from knowledge_graph_builder_spark.operators.dedup import duplicate_members

    d = _dup_injected_corpus(spark, sf_dir)
    m = duplicate_members(d, "doc_id", "text")
    return m.select(
        "fingerprint",
        F.col("doc_id").cast("string").alias("doc_id"),
        "n_docs",
        F.col("canonical_id").cast("string").alias("canonical_id"),
        "is_canonical",
    )


def _q_text_stats(spark, sf_dir):
    from knowledge_graph_builder_spark.operators import textstats as ts

    d = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        ts.token_count_col(c).alias("n_tokens"),
        ts.bpe_ish_token_count_col(c).alias("n_bpe_tokens"),
        F.regexp_count(c, F.lit(r"[^\w\s]")).alias("n_punct"),
        ts.fingerprint_col(c).alias("fingerprint"),
    )


def _q_lang_markers(spark, sf_dir):
    from knowledge_graph_builder_spark.operators.textstats import marker_hits_col

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        marker_hits_col(F.col("text"), "en").alias("en_hits"),
        marker_hits_col(F.col("text"), "de").alias("de_hits"),
    )


def _q_ann_topk(spark, sf_dir):
    from knowledge_graph_builder_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 1).select("embedding").collect()[0][0]
    # fetch a superset by raw cosine, then re-rank by the ROUNDED value +
    # vec_id — the oracle's ORDER BY binds to the rounded alias, so raw-
    # cosine ordering can flip membership on a 4dp tie at the boundary
    top = brute_force_topk(e, [float(x) for x in qvec], k=50)
    return (
        top.select("vec_id", F.round("cosine", 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


def _q_tpch_q5(spark, sf_dir):
    # join-heavy plan: 6-table local-supplier revenue by nation
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, (o["o_custkey"] == c["c_custkey"]))
        .join(s, (li["l_suppkey"] == s["s_suppkey"]) & (c["c_nationkey"] == s["s_nationkey"]))
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def _q_tpch_q6(spark, sf_dir):
    # scan-dominant filter + agg (predicate pushdown showcase)
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1996-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


def _q_tpch_q10(spark, sf_dir):
    # returned-item revenue per customer, top 20: selective dim filter on
    # the fact side first, broadcast nation, top-k by window-free
    # orderBy+limit (per-partition top-k under AQE)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        # per-term double products are bit-identical across engines;
        # summing them as decimals is order-independent, so the rounded
        # total can't flip on a .005 boundary from reduction order
        .agg(
            F.round(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


def _q_tpch_q14(spark, sf_dir):
    # promo revenue share: conditional aggregation over a broadcast
    # part-dim join, one month of lineitem
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


def _q_tpch_q18(spark, sf_dir):
    # large-volume orders: semi-join against an aggregated fact (the
    # group-filter subquery shape), then enrich from customer
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 240)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("sum_qty", 2).alias("sum_qty"),
        )
    )


def _q_winnow_pairs(spark, sf_dir):
    # rolling-hash document fingerprinting (winnowing) applied to near-dup
    # pair detection: docs sharing >= 3 winnowed k-gram fingerprints.
    # Deterministic subset keeps the oracle compact; at corpus scale the
    # fingerprint self-join gets a hot-key count-filter first (the same
    # pattern as lsh_candidate_pairs).
    from knowledge_graph_builder_spark.operators.textstats import (
        shared_fingerprint_pairs,
        winnowing_fingerprints,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    # max_bucket=100 does not bind on this corpus (max fingerprint bucket
    # = 72), so the oracle recompute needs no cap; at web scale it is the
    # guard that keeps the self-join fan-out bounded
    return shared_fingerprint_pairs(winnowing_fingerprints(docs), min_shared=3, max_bucket=100)


def _q_streaming_stats(spark, sf_dir):
    # Structured Streaming under a VALUE oracle: the events table becomes
    # a transcript stream (file source, availableNow), aggregated into
    # 1-day event-time windows behind a 1-hour watermark in APPEND mode.
    # A sentinel row written as a LATER file pushes the final watermark
    # past every real window, so the closing no-data micro-batch flushes
    # them all — the emitted set is deterministic regardless of how the
    # files are batched, and a plain windowed GROUP BY reproduces it.
    import tempfile

    from knowledge_graph_builder_spark.streaming.incremental import stream_turn_stats

    ev = _t(spark, sf_dir, "events")
    tr = ev.select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.lit("").alias("tool"),
        F.col("ts"),
    )
    base = tempfile.mkdtemp(prefix="kgb_stream_q_")
    in_dir, out_dir, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    tr.write.mode("overwrite").parquet(in_dir)
    spark.createDataFrame(
        [("sentinel", 0, "sentinel", "", "", datetime.datetime(2024, 6, 1))],
        schema=tr.schema,
    ).write.mode("append").parquet(in_dir)
    q = stream_turn_stats(
        spark, in_dir, out_dir, ckpt, window="1 day", watermark="1 hour", approx_distinct=False
    )
    q.awaitTermination(600)
    return (
        spark.read.parquet(f"{out_dir}/turn_stats")
        .filter(F.col("role") != "sentinel")  # belt-and-braces; its window never finalizes
        .select(
            F.date_format("window_start", "yyyy-MM-dd").alias("window_start"),
            "role",
            "n_turns",
            "sum_len",
            F.round("avg_len", 4).alias("avg_len"),
            "max_len",
        )
    )


def _q_streaming_sessions(spark, sf_dir):
    # Streaming gap-based sessionization (native session_window) under a
    # VALUE oracle: events become a per-user transcript stream; sessions
    # close 6h after their last event and append exactly once when the
    # watermark (pushed past every real session end by the sentinel file)
    # passes that end. Batch-expressible as lag/sum sessionization grouped
    # per session — the boundary is "new session when delta > gap"
    # (session_window's merge test is inclusive of the session end).
    # Timestamps leave as unix micros so both engines hash identical ints.
    import tempfile

    from knowledge_graph_builder_spark.streaming.incremental import stream_sessionize

    ev = _t(spark, sf_dir, "events")
    tr = ev.select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.lit("").alias("tool"),
        F.col("ts"),
    )
    base = tempfile.mkdtemp(prefix="kgb_stream_sess_")
    in_dir, out_dir, ckpt = f"{base}/in", f"{base}/out", f"{base}/ckpt"
    tr.write.mode("overwrite").parquet(in_dir)
    spark.createDataFrame(
        [("sentinel", 0, "sentinel", "", "", datetime.datetime(2024, 6, 1))],
        schema=tr.schema,
    ).write.mode("append").parquet(in_dir)
    q = stream_sessionize(spark, in_dir, out_dir, ckpt, gap="6 hours", watermark="1 hour")
    q.awaitTermination(600)
    return (
        spark.read.parquet(f"{out_dir}/sessions")
        .filter(F.col("conv_id") != "sentinel")  # its session never finalizes
        .select(
            "conv_id",
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            "n_turns",
            "sum_len",
        )
    )


def _q_unk_rare_tokens(spark, sf_dir):
    # vocabulary pruning: tokens in fewer than 385 documents become
    # <unk>, texts reassembled in token order (explode -> df count ->
    # broadcast kept-vocab join -> position-sorted reassembly)
    from knowledge_graph_builder_spark.operators.textstats import replace_rare_tokens

    return replace_rare_tokens(_t(spark, sf_dir, "documents"), min_df=385)


def _q_chunk_documents(spark, sf_dir):
    # overlapping context-window chunking: 128-char windows, 32 overlap;
    # map-only sequence+posexplode+substr, fan-out bounded per row
    from knowledge_graph_builder_spark.operators.packing import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_chars=128, overlap=32
    )


def _q_streaming_enrich(spark, sf_dir):
    # stream-stream inner join under a VALUE oracle: purchase events form
    # a flag stream that enriches the turn stream within a 1-hour
    # event-time horizon. Inner-join emission is monotone (each match
    # emits exactly once when both sides have arrived), and the watermark
    # spans the whole corpus, so the emitted set equals the batch join
    # regardless of file batching.
    import tempfile

    from knowledge_graph_builder_spark.streaming.incremental import stream_enrich_join

    ev = _t(spark, sf_dir, "events")
    tr = ev.select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.lit("").alias("tool"),
        F.col("ts"),
    )
    flags = ev.filter(F.col("event_type") == "purchase").select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        F.col("props").alias("flag"),
        F.col("ts").alias("flag_ts"),
    )
    base = tempfile.mkdtemp(prefix="kgb_stream_join_")
    tin, fin, out_dir, ckpt = f"{base}/turns", f"{base}/flags", f"{base}/out", f"{base}/ckpt"
    tr.write.mode("overwrite").parquet(tin)
    flags.write.mode("overwrite").parquet(fin)
    q = stream_enrich_join(spark, tin, fin, out_dir, ckpt, horizon="1 hour", watermark="45 days")
    q.awaitTermination(600)
    return spark.read.parquet(f"{out_dir}/enriched").select(
        "conv_id",
        "turn_idx",
        "flag",
        F.unix_micros("turn_ts").alias("turn_ts_us"),
        F.unix_micros("flag_ts").alias("flag_ts_us"),
    )


def _q_pack_documents(spark, sf_dir):
    # training-data sequence packing: contiguous-fill within deterministic
    # shards — the one window is per-shard, never corpus-global
    from knowledge_graph_builder_spark.operators.packing import pack_documents

    return pack_documents(_t(spark, sf_dir, "documents"), max_tokens=256, n_shards=8)


def _q_split_corpus(spark, sf_dir):
    # deterministic 80/10/10 train/val/test assignment from the salted
    # md5 bucket — map-only, stable under corpus growth (no val->train
    # leakage when new docs arrive)
    from knowledge_graph_builder_spark.operators.sampling import split_corpus

    return split_corpus(_t(spark, sf_dir, "documents")).select("doc_id", "lang", "split")


def _q_weighted_sample(spark, sf_dir):
    # Efraimidis-Spirakis weighted sampling without replacement: 20 docs
    # per language, inclusion odds proportional to n_chars; per-stratum
    # top-k by ln(u)/w with the rank filter pushed into the sort
    from knowledge_graph_builder_spark.operators.sampling import weighted_sample

    return weighted_sample(
        _t(spark, sf_dir, "documents"), k=20, weight_col="n_chars", strata_col="lang"
    ).select("doc_id", "lang", "n_chars", "sample_rank")


def _q_snapshot_diff(spark, sf_dir):
    # CDC-style snapshot diff: a derived second snapshot (every 11th doc
    # removed, every 7th text revised, 50 new ids appended) diffed against
    # the original — one full-outer key join, null-safe value compare
    from knowledge_graph_builder_spark.operators.joins import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 11 != 0)
    mod = base.withColumn(
        "text", F.when(F.col("doc_id") % 7 == 0, F.lit("REVISED")).otherwise(F.col("text"))
    )
    added = docs.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return snapshot_diff(docs, mod.unionByName(added), ["doc_id"])


def _q_curate_corpus(spark, sf_dir):
    # composed curation chain with per-doc disposition lineage:
    # quality gates -> exact dedup -> stratified sample, one shuffle
    from knowledge_graph_builder_spark.operators.curation import curate_corpus

    return curate_corpus(
        _t(spark, sf_dir, "documents"),
        min_tokens=30,
        max_rep_ratio=0.5,
        rates={"en": 0.5, "fr": 1.0},
        default_rate=0.8,
    )


def _q_tpch_q4(spark, sf_dir):
    # q4-adapted (schema subset has no commit/receipt dates): order count
    # per priority for orders with at least one lineitem shipped after
    # the order date, one quarter. LEFT SEMI join = EXISTS — Spark plans
    # it as a semi hash join, no row duplication before the agg
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def _q_tpch_q19(spark, sf_dir):
    # q19-adapted: disjunctive brand/size/quantity predicate over a
    # broadcast part join; the OR-of-ANDs stays inside one codegen'd
    # filter and the p/l scans prune to the referenced columns only
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


def _q_tpch_q7(spark, sf_dir):
    # q7-adapted: shipping volume between two nations in either
    # direction, by year. Dims (nation, customer->nation, supplier->
    # nation) broadcast; the only shuffle is the final group-by
    n1, n2 = "NATION_1", "NATION_2"
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return (
        j.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def _q_tpch_q12(spark, sf_dir):
    # q12-adapted (schema subset has no shipmode/commitdate): per
    # linestatus, split the 1997 shipped-line count by order priority
    # class. The orderkey join is fact-to-fact (shuffle on the join key);
    # the conditional counts are partial-aggregable map-side
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def _q_tpch_q13(spark, sf_dir):
    # q13-adapted (no comment column — exclude URGENT orders instead):
    # distribution of customers by order count, zeros kept via the left
    # join. Two chained aggregations; the second groups on the tiny
    # c_count domain so its shuffle is trivial
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_orderkey", "o_custkey")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    per_cust = c.join(o, c["c_custkey"] == o["o_custkey"], "left").groupBy(
        "c_custkey"
    ).agg(F.count("o_orderkey").alias("c_count"))
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def _q_tpch_q15(spark, sf_dir):
    # q15-adapted: top supplier(s) by 1996-Q1 revenue. The per-supplier
    # revenue agg is small post-shuffle; the scalar max joins back as a
    # broadcast, so no second full scan and no window over one partition
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev["total_revenue"] == mx["mx"])
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def _ps_surrogate(spark, sf_dir):
    """partsupp stand-in (no partsupp table in the testdata, same policy
    as q9/q16): per distinct (part, supplier) pair observed in lineitem,
    supplycost = min unit price ever charged, availqty = total quantity
    ever shipped. One lineitem scan, partial-aggregable.

    floor(x*100)/100 instead of round(x, 2): both engines compute the
    bit-identical IEEE division and min, and floor of an identical double
    is identical — round(x, 2) disagrees between engines when the double
    sits on a .005 boundary (observed: 6444.015 -> 6444.01 vs 6444.02)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey")
    ).agg(
        (F.floor(F.min(F.col("l_extendedprice") / F.col("l_quantity")) * 100) / 100.0).alias(
            "ps_supplycost"
        ),
        F.sum("l_quantity").alias("ps_availqty"),
    )


_PS_SURROGATE_CTE = """
            ps AS (
              SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                     floor(min(l_extendedprice / l_quantity) * 100) / 100.0 AS ps_supplycost,
                     sum(l_quantity) AS ps_availqty
              FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2
            )
"""


def _q_tpch_q2(spark, sf_dir):
    # q2-adapted: minimum-cost supplier per LARGE small-size part in
    # EUROPE. The supplier->nation->region chain broadcasts (tiny dims);
    # the per-part min joins back co-partitioned on ps_partkey (groupBy +
    # equi-join, not a window — skew-safe); part is a broadcast dim.
    ps = _ps_surrogate(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_supp = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eu = ps.join(F.broadcast(eu_supp), ps["ps_suppkey"] == F.col("s_suppkey"))
    mn = eu.groupBy("ps_partkey").agg(F.min("ps_supplycost").alias("mc"))
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 15)
    )
    return (
        eu.join(mn, ["ps_partkey"])
        .filter(F.col("ps_supplycost") == F.col("mc"))
        .join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
            F.col("ps_supplycost").alias("supplycost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
    )


def _q_tpch_q11(spark, sf_dir):
    # q11-adapted: important stock values — parts whose NATION_9 stock
    # value exceeds 0.1% of the nation's total. The total is a 1-row
    # broadcast cross join (the only sound way to compare every group to
    # a global aggregate without a single-partition window).
    ps = _ps_surrogate(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9")
    nat_supp = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select("s_suppkey")
    # integer-cents summand: supplycost is cents-exact and availqty is
    # integral, so cost*qty*100 is an integer up to fp noise; rounding it
    # to a LONG makes every sum order-independent and engine-identical
    # (double accumulation order was observed to differ at the cents digit)
    cents = F.round(F.col("ps_supplycost") * F.col("ps_availqty") * 100).cast("long")
    v = (
        ps.join(F.broadcast(nat_supp), ps["ps_suppkey"] == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(F.sum(cents).alias("cents"))
    )
    tot = v.agg(F.sum("cents").alias("t"))
    return (
        v.crossJoin(F.broadcast(tot))
        .filter(F.col("cents") > 0.001 * F.col("t"))
        .select("ps_partkey", (F.col("cents") / 100.0).alias("value"))
        .orderBy(F.col("value").desc(), "ps_partkey")
    )


def _q_tpch_q20(spark, sf_dir):
    # q20-adapted: suppliers holding excess stock of 'bolt' parts —
    # availqty more than 6x what they shipped in 1996 (the all-time
    # surrogate availqty makes TPC-H's 0.5x-of-period factor vacuous, so
    # the multiplier is raised until it discriminates). Semi-join shape:
    # bolt parts broadcast; ps and the 1996 shipment agg co-partition on
    # (part, supp); the surviving supplier set is distinct + broadcast.
    ps = _ps_surrogate(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    shipped = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey")
    ).agg(F.sum("l_quantity").alias("q96"))
    bolt = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%")).select(
        F.col("p_partkey").alias("ps_partkey")
    )
    excess = (
        ps.join(F.broadcast(bolt), "ps_partkey")
        .join(shipped, ["ps_partkey", "ps_suppkey"])
        .filter(F.col("ps_availqty") > 6 * F.col("q96"))
        .select(F.col("ps_suppkey").alias("s_suppkey"))
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(excess), "s_suppkey")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


def _q_tpch_q16(spark, sf_dir):
    # q16-adapted (no partsupp table — distinct lineitem (part, supp)
    # pairs stand in): supplier counts per brand/type/size, excluding one
    # brand and one type. part is a broadcast dim; countDistinct plans as
    # a two-phase partial aggregate
    ps = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey"))
        .distinct()
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    j = ps.join(F.broadcast(p), ps["ps_partkey"] == p["p_partkey"])
    return (
        j.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


def _q_tpch_q17(spark, sf_dir):
    # q17-adapted (no container column): revenue from small-quantity
    # lines of one brand, threshold 0.2x the part's average quantity.
    # The correlated subquery decorrelates into a per-part agg joined
    # back on the same key — both sides share the l_partkey partitioning.
    # l_quantity is integer-valued, so avg() is bit-exact across engines
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    lj = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avg_q = lj.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    small = lj.join(avg_q, "l_partkey").filter(
        F.col("l_quantity") < 0.2 * F.col("avg_qty")
    )
    return small.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")
    )


def _q_tpch_q22(spark, sf_dir):
    # q22-adapted (no phone column; every customer has orders, so the
    # EXISTS window shrinks to "no order since 1999"): per-nation count
    # and balance of above-average-balance customers with no recent
    # order. Scalar avg broadcasts; the anti join prunes to o_custkey
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("ab"))
    rich = c.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("ab"))
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1999-01-01")
        .select("o_custkey")
    )
    inactive = rich.join(recent, rich["c_custkey"] == recent["o_custkey"], "left_anti")
    return (
        inactive.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


def _q_stratified_sample(spark, sf_dir):
    # corpus curation: salted-md5 stratified sampling (downsample en,
    # keep all fr, default rate for the rest) — deterministic across
    # engines/partitionings, map-only plan
    from knowledge_graph_builder_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"),
        rates={"en": 0.5, "de": 0.25, "fr": 1.0},
        default_rate=0.1,
    ).select("doc_id", "lang")


def _q_contamination(spark, sf_dir):
    # eval-leakage check: distinct word-3-gram overlap of each corpus doc
    # against a broadcast eval slice (doc_id % 97 == 0)
    from knowledge_graph_builder_spark.operators.contamination import contamination_scores

    docs = _t(spark, sf_dir, "documents")
    return contamination_scores(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        n=3,
    )


def _q_audio_features(spark, sf_dir):
    # multimodal audio: framed RMS energies over the seeded synth corpus
    # (fake 8-bit-PCM decode = the pinned branch in this container)
    from knowledge_graph_builder_spark.operators.multimodal import (
        audio_frame_features,
        synth_media,
    )

    return audio_frame_features(synth_media(spark, n=30), frame_len=16, fake=True).select(
        "media_id",
        "n_samples",
        "n_frames",
        F.round(F.col("rms_mean").cast("double"), 4).alias("rms_mean"),
        "peak_frame",
    )


def _q_redact_pii(spark, sf_dir):
    # PII masking over documents with deterministically injected PII
    # (the synth corpus contains none); map-only plan, no shuffle
    from knowledge_graph_builder_spark.operators.privacy import redact_pii
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" call 555-867-5309")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" host 192.168.10.1")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" id 123-45-6789")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return redact_pii(aug)


def _q_repetition(spark, sf_dir):
    # Gopher-style repeated-3-gram ratio (pretraining quality filter);
    # zero-shuffle plan — every expression is per-row column math
    from knowledge_graph_builder_spark.operators.textstats import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def _q_percentiles(spark, sf_dir):
    # exact interpolated percentiles per group (Spark percentile ==
    # DuckDB quantile_cont, both linear interpolation)
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50_qty"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99_price"),
    )


def _q_pivot(spark, sf_dir):
    # pivot: linestatus columns per returnflag (explicit value list)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
        .withColumnRenamed("F", "n_f")
        .withColumnRenamed("O", "n_o")
        .na.fill(0, ["n_f", "n_o"])
    )


def _q_rollup(spark, sf_dir):
    # grouping-sets family: ROLLUP over (returnflag, linestatus)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


def _q_set_ops(spark, sf_dir):
    # set operators: customers ordering in 1995 INTERSECT 1996, minus 1997
    o = _t(spark, sf_dir, "orders")
    y = lambda yr: o.filter(F.year("o_orderdate") == yr).select("o_custkey").distinct()
    return y(1995).intersect(y(1996)).exceptAll(y(1997)).select(F.col("o_custkey").alias("custkey"))


def _q_asof_join(spark, sf_dir):
    # as-of join (union+window operator — no inequality-join fan-out):
    # for each event, the user's latest order at or before the event time.
    from knowledge_graph_builder_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_orderkey"))
    )
    out = asof_join(ev, o, "user_id", "o_custkey", "ts", "o_orderdate", ["last_orderkey"])
    return out.select("event_id", "user_id", F.col("last_orderkey_asof").alias("asof_orderkey"))


def _q_sessionize(spark, sf_dir):
    # gap-based sessionization (lag + running sum window)
    from knowledge_graph_builder_spark.operators.joins import sessionize

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap_seconds=1800, tie_break_cols=["event_id"])
    # cast pins the cross-engine type: DuckDB's sum() is HUGEINT, and the
    # driver's hasher is stricter than str() equality (r01's one hash-fail)
    return s.groupBy("user_id").agg(
        (F.max("session_id") + 1).cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


def _q_range_join(spark, sf_dir):
    # equi+range band join
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_size", "p_brand")
    return (
        li.join(F.broadcast(p), (F.col("l_partkey") == F.col("p_partkey"))
                & (F.col("l_quantity") >= F.col("p_size") - 5)
                & (F.col("l_quantity") <= F.col("p_size") + 5))
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"), F.round(F.avg("l_quantity"), 2).alias("avg_qty"))
    )


def _q_ngram_jaccard(spark, sf_dir):
    # n-gram (3-word shingle) Jaccard similarity for co-shingled doc pairs
    from knowledge_graph_builder_spark.operators.dedup import jaccard_verify, word_shingles

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    sh = word_shingles(d, "doc_id", "text", k=3)
    pairs = (
        sh.select(F.col("doc_id").alias("a"), "shingle")
        .join(sh.select(F.col("doc_id").alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return jaccard_verify(pairs, sh, threshold=0.01).select(
        "a", "b", F.round("jaccard", 4).alias("jaccard")
    )


def _q_cosine_neardup(spark, sf_dir):
    # embedding-cosine near-duplicate pairs (brute-force over a slice);
    # cosine math comes from the one canonical implementation so Spark/
    # DuckDB parity cannot drift between queries
    from knowledge_graph_builder_spark.operators.similarity import cosine_col

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    vec = F.col("embedding").cast("array<double>")
    a = e.select(F.col("vec_id").alias("a"), vec.alias("ea"))
    b = e.select(F.col("vec_id").alias("b"), vec.alias("eb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn("cosine", cosine_col(F.col("ea"), F.col("eb")))
        .filter(F.col("cosine") >= 0.2)
        .select("a", "b", F.round("cosine", 4).alias("cosine"))
    )


def _q_semantic_dedup(spark, sf_dir):
    # SemDeDup-style semantic dedup (operators/dedup.py:semantic_duplicates):
    # cluster embeddings, then near-dup detection only within a cluster.
    # For oracle parity the assignment here is nearest-of-8-seed-centroids
    # (the 8 lowest-vec_id vectors) by EXPANDED squared distance
    # |v|^2 - 2 v.c + |c|^2 rounded to 6dp — both engines sum doubles
    # left-to-right, and the rounding absorbs any summation residue; ties
    # keep the lowest cluster index on both sides. The production path
    # composes ivf_train's Lloyd centroids instead (test-pinned).
    from knowledge_graph_builder_spark.operators.dedup import semantic_duplicates
    from knowledge_graph_builder_spark.operators.similarity import dot_col

    e = _t(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    seeds = [
        list(r["v"])
        for r in e.select(F.col("vec_id").alias("i"), vec.alias("v")).orderBy("i").limit(8).collect()
    ]
    vv = dot_col(vec, vec)
    best_idx, best_d = F.lit(0), None
    for i, c in enumerate(seeds):
        carr = F.array(*[F.lit(float(x)) for x in c])
        d = F.round(vv - 2 * dot_col(vec, carr) + F.lit(float(sum(x * x for x in c))), 6)
        if best_d is None:
            best_d = d
        else:
            best_idx = F.when(d < best_d, F.lit(i)).otherwise(best_idx)
            best_d = F.least(d, best_d)
    assigned = e.select("vec_id", best_idx.alias("cluster"), vec.alias("v"))
    dropped = semantic_duplicates(assigned, threshold=0.2)
    return dropped.select(
        "vec_id", "cluster", "dup_of", F.round("cosine", 4).alias("cosine")
    )


def _q_quality_flags(spark, sf_dir):
    # quality scoring: length band + punct sanity + stopword presence
    from knowledge_graph_builder_spark.operators import textstats as ts

    d = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        ts.token_count_col(c).alias("n_tokens"),
        F.round(ts.punct_ratio_col(c), 4).alias("punct_ratio"),
        F.round(ts.stopword_ratio_col(c), 4).alias("stopword_ratio"),
        ts.quality_score_col(c).alias("quality"),
    )


def _q_ivf_topk(spark, sf_dir):
    # IVF ANN, probing every cell: by construction identical to exact
    # brute-force top-k, so the approximate scale path is oracle-checked
    from knowledge_graph_builder_spark.operators.similarity import ivf_topk, ivf_train

    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 2).collect()[0]["embedding"]]
    cents = ivf_train(e, k_clusters=8, iters=2)
    # superset + rounded re-rank, same 4dp-tie reasoning as ann_topk
    top = ivf_topk(e, qvec, cents, k=50, n_probe=8)
    return (
        top.select("vec_id", F.round("cosine", 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


def _q_anti_join(spark, sf_dir):
    # V2-negative analog: endpoints with no referencing row (left anti join
    # = the dangling-edge silent drop inverted, graph_db.py:121-145)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey")).distinct()
    return (
        c.join(o, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_idle_customers"))
    )


def _q_moving_avg(spark, sf_dir):
    # framed window aggregate: 3-order moving average per customer
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    # average over exact integer cents, rounded at 4dp: frame averages are
    # halves/thirds of a cent, so no value sits on a 4dp rounding tie
    # (a raw double avg rounded to 2dp can straddle a half-cent tie where
    # Spark HALF_UP and DuckDB disagree)
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.avg(cents).over(w) / 100.0, 4).alias("mavg3"),
    )


def _q_event_gaps(spark, sf_dir):
    # lead/lag: per-user inter-event gap statistics (turn-delta analog)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.unix_timestamp(F.col("ts"))
    gap = secs - F.lag(secs).over(w)
    return (
        ev.withColumn("gap_s", gap)
        .filter(F.col("gap_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.round(F.avg("gap_s"), 2).alias("avg_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
        )
    )


def _q_cube(spark, sf_dir):
    # grouping-sets family: CUBE over (returnflag, linestatus)
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def _q_ntile(spark, sf_dir):
    # global quartiles via ntile. NOTE: a partition-less window is a global
    # sort on one reducer — fine for a quartile summary over orders; at
    # 100 TB you'd switch to approx_percentile bands instead.
    o = _t(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("quartile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


def _q_quartile_bands(spark, sf_dir):
    # the 100 TB-honest companion to ntile_quartiles: quartile bands from a
    # VALUE HISTOGRAM instead of a per-row global sort. The only window
    # runs over the distinct quantity values (ndv-bounded, here 50 rows)
    # after a partial-aggregable count; the grand total arrives by
    # broadcast. Per-row cost is one hash-agg — no single-reducer stage
    # touches row-scale data.
    li = _t(spark, sf_dir, "lineitem")
    hist = li.groupBy(F.col("l_quantity").alias("q")).agg(F.count("*").alias("cnt"))
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).crossJoin(
        F.broadcast(li.agg(F.count("*").alias("total")))
    )
    band = F.least(F.lit(4), F.ceil(F.lit(4) * F.col("cum") / F.col("total"))).cast("long")
    return (
        cum.groupBy(band.alias("band"))
        .agg(
            F.sum("cnt").alias("n"),
            F.round(F.min("q"), 2).alias("min_qty"),
            F.round(F.max("q"), 2).alias("max_qty"),
        )
    )


def _q_corr_stats(spark, sf_dir):
    # statistical aggregates: correlation / sample stddev / sample covar
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 4).alias("cov_qty_disc"),
    )


def _q_degree_stats(spark, sf_dir):
    # graph analytics: per-node degrees over a lineitem-derived edge list
    # (part -> supplier); full-outer degree join, partial-aggregable
    from knowledge_graph_builder_spark.operators.graphalg import degree_stats

    e = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    return degree_stats(e)


def _q_pagerank_top(spark, sf_dir):
    # iterative centrality over the golden KG (driver-loop iterative
    # operator like CC — no SQL oracle; pinned by unit tests instead)
    from knowledge_graph_builder_spark.operators.graphalg import pagerank
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    res = run_pipeline(spark, golden_transcripts(spark), persist=False)
    ranks = pagerank(res.edges.filter(F.col("type") != "INVOLVES"), iterations=10)
    return ranks.select("node", F.round("rank", 6).alias("rank")).orderBy(
        F.col("rank").desc(), "node"
    ).limit(15)


def _q_triangle_counts(spark, sf_dir):
    # per-node triangle counts over the same lineitem-derived edge list as
    # degree_stats; degree-ordered orientation bounds wedge fan-out on hubs
    from knowledge_graph_builder_spark.operators.graphalg import triangle_count

    e = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    return triangle_count(e)


def _q_bfs_levels(spark, sf_dir):
    # multi-hop traversal: minimum hop distance from part p1 over the
    # namespaced undirected part<->supplier graph, frontier-expansion BFS
    # (one shuffle per level, visited anti-join). Oracled by a DuckDB
    # recursive CTE — the SQL-engine statement of the same fixpoint.
    from knowledge_graph_builder_spark.operators.graphalg import bfs_levels

    e = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return bfs_levels(e, ["p1"], max_hops=3, directed=False)


def _q_quantize_embeddings(spark, sf_dir):
    # int8 scalar quantization of the embedding corpus, summarized to
    # per-vector scalars (dims, scale, code sum/min/max, max dequant
    # error) so both engines hash plain columns, not array encodings.
    # Map-only: the whole query is one scan stage, no shuffle.
    from knowledge_graph_builder_spark.operators.similarity import quantize_embeddings

    q = quantize_embeddings(_t(spark, sf_dir, "embeddings"))
    err = F.aggregate(
        F.zip_with(
            F.col("embedding"), F.col("codes"), lambda x, c: F.abs(x - c * F.col("scale"))
        ),
        F.lit(0.0),
        lambda a, x: F.greatest(a, x),
    )
    return q.select(
        "vec_id",
        F.size("codes").alias("n_dims"),
        F.round("scale", 9).alias("scale_r"),
        F.aggregate("codes", F.lit(0).cast("long"), lambda a, v: a + v).alias("code_sum"),
        F.array_min("codes").alias("code_min"),
        F.array_max("codes").alias("code_max"),
        F.round(err, 9).alias("max_abs_err"),
    )


def _q_bm25_search(spark, sf_dir):
    # keyword retrieval: BM25 top-20 for a fixed three-term query; the
    # term filter prunes the token stream before any aggregation
    from knowledge_graph_builder_spark.operators.search import bm25_rank

    return bm25_rank(
        _t(spark, sf_dir, "documents"), ["spark", "vector", "merge"], top_k=20
    )


def _q_unigram_lm(spark, sf_dir):
    # LM-filter curation signal: per-doc unigram cross-entropy against
    # corpus-trained MLE token probabilities (two token-stream passes,
    # Zipf skew on the token join handled by AQE)
    from knowledge_graph_builder_spark.operators.textstats import unigram_lm_score

    return unigram_lm_score(_t(spark, sf_dir, "documents"))


def _q_neighbor_jaccard(spark, sf_dir):
    # structural similarity of adjacent node pairs (common-neighbor
    # Jaccard) over the lineitem-derived graph; exact (no hub cap) so
    # the SQL oracle can recompute it — at 100 TB you set
    # max_center_degree to bound the wedge fan-out
    from knowledge_graph_builder_spark.operators.graphalg import neighbor_jaccard

    e = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    return neighbor_jaccard(e, min_common=2)


def _q_kcore_nodes(spark, sf_dir):
    # iterative k-core peel over the golden KG (all edge types) —
    # driver-loop fixpoint like canonicalize/pagerank, pinned by a
    # golden-literal oracle
    from knowledge_graph_builder_spark.operators.graphalg import k_core
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    res = run_pipeline(spark, golden_transcripts(spark), persist=False)
    return k_core(res.edges.select("src", "dst"), k=2).orderBy("node")


def _q_month_rollup(spark, sf_dir):
    # temporal rollup: events per calendar month + distinct users
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("month")
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


# --- rows-only queries (no SQL oracle: kernel/iterative/LSH internals) ---


def _q_kg_triples(spark, sf_dir):
    # flagship extraction on the golden corpus, projected to the P/R key.
    # Its oracle is the hand-derived GOLDEN_EXPECTED_TRIPLES literal (the
    # reference semantics' complete output over these texts), so the
    # value-hash match IS the P/R=1.0 evidence, recorded per round.
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    return run_pipeline(spark, golden_transcripts(spark), persist=False).triples.select(
        F.col("document_id"), F.col("source"), F.col("type"), F.col("target")
    )


def _q_kg_triples_bucketed(spark, sf_dir):
    # the zero-shuffle input layout (SCALE.md §1): the golden corpus is
    # landed as a conv_id-BUCKETED catalog table (turn order shuffled
    # first, so co-location provably comes from the bucketed write) and
    # the kernel reads it at kernel_partitions = the bucket count, so
    # Spark drops the extraction repartition — no Exchange in the
    # extraction plan (pinned by test). Output is identical to the
    # shuffling path by construction, so it shares the kg_triples oracle
    # (the hand-derived GOLDEN_EXPECTED_TRIPLES literal).
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts
    from knowledge_graph_builder_spark.sources.transcripts import (
        write_transcripts_bucketed,
    )

    import shutil

    spark.sql(
        "CREATE DATABASE IF NOT EXISTS kgb_oracle_db LOCATION '/tmp/kgb_oracle_wh'"
    )
    # in-memory catalog: a location left by a previous process is unknown
    # to this session and would fail saveAsTable — clear both sides first
    spark.sql("DROP TABLE IF EXISTS kgb_oracle_db.golden_bucketed")
    shutil.rmtree("/tmp/kgb_oracle_wh/golden_bucketed", ignore_errors=True)
    write_transcripts_bucketed(
        golden_transcripts(spark, shuffled=True), "kgb_oracle_db.golden_bucketed", buckets=4
    )
    res = run_pipeline(
        spark,
        spark.table("kgb_oracle_db.golden_bucketed"),
        kernel_partitions=4,
        persist=False,
    )
    return res.triples.select(
        F.col("document_id"), F.col("source"), F.col("type"), F.col("target")
    )


def _q_cdc_chunks(spark, sf_dir):
    # content-defined chunking (FastCDC/LBFS-style rolling-hash
    # boundaries): insertion-stable chunks for chunk-level dedup. The
    # boundary rule is md5-derived, so the oracle replays it exactly.
    from knowledge_graph_builder_spark.operators.packing import cdc_chunks

    d = _t(spark, sf_dir, "documents")
    return cdc_chunks(d).select(
        "doc_id", "chunk_idx", "chunk_start", "chunk_text", "chunk_hash"
    )


def _q_cdc_fast(spark, sf_dir):
    # FastCDC-style rolling-hash chunking (packing.cdc_chunks_fast): the
    # O(len)-per-document production path behind cdc_chunks (which stays
    # as the SQL-replayable twin). Runs over a repo-internal
    # deterministic md5-chained corpus so the oracle is immune to
    # testdata regeneration; the windowed-Gear boundary rule is not
    # SQL-expressible, so the pin is a literal-VALUES oracle — itself
    # pinned to an independent per-position pure-Python twin plus
    # reassembly/clamp/insertion-stability properties by
    # tests/test_cdc_fast.py.
    import hashlib

    from knowledge_graph_builder_spark.operators.packing import cdc_chunks_fast

    def chain(seed: str, n: int) -> str:
        out: list[str] = []
        total = 0
        h = seed.encode()
        while total < n:
            h = hashlib.md5(h).digest()
            out.append(h.hex())
            total += 32
        return "".join(out)[:n]

    docs = spark.createDataFrame(
        [(i, chain(f"cdc{i}", n)) for i, n in [(1, 700), (2, 832), (3, 50), (4, 1200)]],
        "doc_id bigint, text string",
    )
    return cdc_chunks_fast(docs).select("doc_id", "chunk_idx", "chunk_start", "chunk_hash")


def _q_canonicalize_incr(spark, sf_dir):
    # incremental canonicalization (operators/canonicalize.py:
    # canonicalize_incremental): an existing mapping is folded with a new
    # batch; only affected components re-resolve. The batch contains a
    # name ("Globex") that RE-CANONICALIZES an existing self-canonical
    # name ("Globex Corp" -> "Globex"), an alias for an existing name,
    # and a fresh singleton — the hand-derived literal is the oracle.
    from knowledge_graph_builder_spark.operators.canonicalize import (
        canonicalize_incremental,
        canonicalize_nodes,
    )

    batch1 = spark.createDataFrame(
        [("Acme",), ("Globex Corp",), ("Solo Name",)], "name string"
    )
    existing = canonicalize_nodes(batch1).select("name", "canonical_id")
    batch2 = spark.createDataFrame(
        [("Acme Inc.",), ("Globex",), ("Fresh Unique",)], "name string"
    )
    return canonicalize_incremental(existing, batch2).select("name", "canonical_id")


def _q_kg_incremental(spark, sf_dir):
    # incremental KG maintenance (plans/incremental.py): v1 = the golden
    # corpus minus two conversations, fully built into a GraphStore;
    # incremental_update diffs v1 against the full corpus,
    # re-extracts ONLY the two added conversations, and MERGEs them in.
    # The store's non-INVOLVES edges must then equal the full corpus's
    # triple set — the same golden literal kg_triples pins.
    import tempfile

    from knowledge_graph_builder_spark.plans.incremental import incremental_update
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.graph_store import GraphStore
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    v2 = golden_transcripts(spark)
    convs = sorted(r[0] for r in v2.select("conv_id").distinct().collect())
    v1 = v2.filter(~F.col("conv_id").isin(convs[0], convs[-1]))
    store = GraphStore(spark, tempfile.mkdtemp(prefix="kgb_incr_"), n_buckets=8)
    res1 = run_pipeline(spark, v1, persist=False)
    store.upsert_nodes(res1.nodes)
    store.upsert_edges(res1.edges)
    incremental_update(spark, store, v1, v2)
    # the store MERGEs edges on (src, type, dst) ACROSS documents (D4 —
    # reference graph_db.py MERGE semantics), so the projection is the
    # doc-agnostic distinct triple key; the oracle is the golden literal
    # projected the same way
    return (
        store.edges()
        .filter(F.col("type") != "INVOLVES")
        .select(F.col("src").alias("source"), F.col("type"), F.col("dst").alias("target"))
    )


def _q_kg_incremental_multi(spark, sf_dir):
    # round-4 verdict ask #7: incremental maintenance as a 3-snapshot
    # torture sequence — an ADD, a REMOVE, and a REMOVED-THEN-RE-ADDED
    # conv_id — each step a diff-pruned incremental_update into the same
    # store. The sequence uses whole golden conversations
    # (every add/re-add at full content), so the MERGE-accumulated final
    # state equals the full corpus's triple set and the query shares the
    # golden kg_incremental oracle. MERGE-accumulate equality under EDITS
    # (where superseded keys legitimately linger) is pinned separately by
    # tests/test_resume.py::test_incremental_three_snapshot_torture.
    import tempfile

    from knowledge_graph_builder_spark.plans.incremental import incremental_update
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.graph_store import GraphStore
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    full = golden_transcripts(spark)
    convs = sorted(r[0] for r in full.select("conv_id").distinct().collect())
    a, b, c = convs[0], convs[1], convs[-1]
    v1 = full.filter(~F.col("conv_id").isin(a, c))  # A, C absent
    v2 = full.filter(~F.col("conv_id").isin(b, c))  # A added, B removed
    v3 = full  # B re-added (remove-then-re-add), C added
    store = GraphStore(spark, tempfile.mkdtemp(prefix="kgb_incr3_"), n_buckets=8)
    res1 = run_pipeline(spark, v1, persist=False)
    store.upsert_nodes(res1.nodes)
    store.upsert_edges(res1.edges)
    r12 = incremental_update(spark, store, v1, v2)
    assert (r12.n_changed_convs, r12.n_removed_convs) == (1, 1), r12
    r23 = incremental_update(spark, store, v2, v3)
    assert (r23.n_changed_convs, r23.n_removed_convs) == (2, 0), r23
    return (
        store.edges()
        .filter(F.col("type") != "INVOLVES")
        .select(F.col("src").alias("source"), F.col("type"), F.col("dst").alias("target"))
    )


def _q_kg_precision_recall(spark, sf_dir):
    # the north-rule headline metric (triple P/R >= 0.95 vs the reference
    # semantics) as an explicit driver-recorded number, not just a
    # set-hash: pipeline triples full-outer-joined against the
    # hand-derived GOLDEN_EXPECTED_TRIPLES literal (broadcast — it is
    # tiny), one aggregate. The oracle pins tp=n_emitted=n_expected=28,
    # precision=recall=1.0; any extraction drift shows up here as a
    # number below 1.0 AND as a hash mismatch.
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import (
        GOLDEN_EXPECTED_TRIPLES,
        golden_transcripts,
    )

    key = ["document_id", "source", "type", "target"]
    got = (
        run_pipeline(spark, golden_transcripts(spark), persist=False)
        .triples.select(*key)
        .distinct()
        .withColumn("g", F.lit(1))
    )
    exp = spark.createDataFrame(sorted(GOLDEN_EXPECTED_TRIPLES), key).withColumn(
        "e", F.lit(1)
    )
    joined = got.join(F.broadcast(exp), key, "full_outer")
    return joined.agg(
        F.sum(F.when((F.col("g") == 1) & (F.col("e") == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.coalesce("g", F.lit(0))).alias("n_emitted"),
        F.sum(F.coalesce("e", F.lit(0))).alias("n_expected"),
    ).select(
        "tp",
        "n_emitted",
        "n_expected",
        F.round(F.col("tp") / F.col("n_emitted"), 4).alias("precision"),
        F.round(F.col("tp") / F.col("n_expected"), 4).alias("recall"),
    )


def _q_bpe_merges(spark, sf_dir):
    # distributed BPE tokenizer training (operators/bpe.py: one corpus
    # scan to a word-frequency dict, then O(vocab) per merge with a single
    # collected row each) over the golden corpus. The oracle is the merge
    # table of the pure-Python reference twin (bpe_train_local — an
    # independent textbook implementation), rendered as a literal.
    from knowledge_graph_builder_spark.operators.bpe import bpe_train
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    return bpe_train(golden_transcripts(spark).select("text"), n_merges=8)


def _q_bpe_token_freq(spark, sf_dir):
    # tokenize the golden corpus with the 8 learned merges (bpe_apply —
    # nested JVM folds, no Python) and return the top-10 most frequent
    # BPE tokens; oracle = the pure-Python twin's token counts.
    from knowledge_graph_builder_spark.operators.bpe import bpe_apply, bpe_train_local
    from knowledge_graph_builder_spark.sources.synth import GOLDEN_TEXTS, golden_transcripts

    texts = [t for _, turns in sorted(GOLDEN_TEXTS.items()) for t in turns]
    merges = [(l, r) for _, l, r, _, _ in bpe_train_local(texts, 8)]
    toks = bpe_apply(golden_transcripts(spark).select("text"), merges)
    return (
        toks.select("freq", F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(10)
    )


def _q_kg_events(spark, sf_dir):
    # golden-pinned like kg_triples: the oracle is the hand-derived
    # EV1-EV6 event set, so the value-hash match records exact agreement
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    res = run_pipeline(spark, golden_transcripts(spark), persist=False)
    return res.events.select(
        "document_id",
        "event_type",
        "name",
        F.array_join("participants", "|").alias("participants"),
        "date",
        "amount",
        "location",
        F.round("confidence", 2).alias("confidence"),
    )


def _q_lsh_topk(spark, sf_dir):
    # hyperplane-LSH ANN (training-free scale path): approximate by
    # construction, so rows-only — recall vs brute force is pinned by
    # tests/test_operators.py::test_lsh_topk_contains_exact_neighbors
    from knowledge_graph_builder_spark.operators.similarity import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 3).collect()[0]["embedding"]]
    top = lsh_topk(e, qvec, k=10, bits=16, bands=8)
    return top.select("vec_id", F.round("cosine", 4).alias("cosine"))


def _q_ann_recall(spark, sf_dir):
    # the honest ANN quality metric: recall@10 of each approximate path
    # (hyperplane LSH; trained IVF probing 2 of 8 cells) against exact
    # brute-force cosine top-10, per query vector. All three paths are
    # deterministic (seeded hyperplanes, lowest-id Lloyd seeds, total
    # (cosine, vec_id) ordering), so the measured recall is a stable
    # literal the oracle pins — a drop means the approximate index, not
    # the data, changed.
    from knowledge_graph_builder_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivf_train,
        lsh_topk,
    )

    e = _t(spark, sf_dir, "embeddings")
    cents = ivf_train(e, k_clusters=8, iters=2)
    qrows = {r["vec_id"]: list(r["embedding"]) for r in e.filter(F.col("vec_id").isin(1, 2, 3)).collect()}
    outs = []
    for qid in (1, 2, 3):
        qvec = [float(x) for x in qrows[qid]]
        exact = brute_force_topk(e, qvec, k=10).select("vec_id")
        for method, approx in (
            ("lsh_b16x4", lsh_topk(e, qvec, k=10, bits=16, bands=4)),
            ("lsh_b16x8", lsh_topk(e, qvec, k=10, bits=16, bands=8)),
            ("ivf_probe2of8", ivf_topk(e, qvec, cents, k=10, n_probe=2)),
        ):
            hits = exact.join(approx.select("vec_id"), "vec_id")
            outs.append(
                hits.agg(F.count("*").alias("n"))
                .select(
                    F.lit(method).alias("method"),
                    F.lit(qid).cast("long").alias("query_id"),
                    F.col("n").cast("long").alias("n_hits"),
                    F.round(F.col("n") / 10.0, 2).alias("recall_at_10"),
                )
            )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def _q_dup_spans(spark, sf_dir):
    # cross-doc duplicated-span coverage (ExactSubstr-style at fixed n):
    # the fraction of each doc's tokens covered by a 5-gram shared with
    # another document — interval-union sweep, never pairwise
    from knowledge_graph_builder_spark.operators.textstats import (
        cross_doc_duplicated_spans,
    )

    d = _t(spark, sf_dir, "documents")
    return cross_doc_duplicated_spans(d, n=5)


def _q_dsir_weights(spark, sf_dir):
    # DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    # bucket distributions, target = English docs; log-likelihood-ratio
    # score per doc, micro-nat-quantized so both engines sum integers
    from knowledge_graph_builder_spark.operators.curation import dsir_importance

    d = _t(spark, sf_dir, "documents")
    return dsir_importance(d, F.col("lang") == "en", n_buckets=64)


def _q_embedding_gramian(spark, sf_dir):
    # one-pass Gramian over the embedding corpus (PCA/whitening primitive):
    # Arrow kernel reduces each partition to one upper-triangle partial;
    # floor-quantized integer micro-units make the sums engine-exact
    from knowledge_graph_builder_spark.operators.similarity import (
        embedding_gramian_micro,
    )

    e = _t(spark, sf_dir, "embeddings")
    return embedding_gramian_micro(e).select("i", "j", "gram")


def _q_pca_top_eigen(spark, sf_dir):
    # top principal direction by deterministic power iteration over the
    # distributed Gramian (all-ones start, fixed 50 iterations) — the
    # summary is a stable literal at sf0.01
    from knowledge_graph_builder_spark.operators.similarity import (
        embedding_gramian_micro,
        pca_power_iteration,
    )

    e = _t(spark, sf_dir, "embeddings")
    rows = [(r.i, r.j, r.gram) for r in embedding_gramian_micro(e).collect()]
    dim = max(j for _, j, _ in rows) + 1
    v, lam = pca_power_iteration(rows, dim=dim)
    amax = max(range(dim), key=lambda k: abs(v[k]))
    out = [
        ("eigenvalue", round(lam, 4)),
        ("dim", float(dim)),
        ("argmax_component", float(amax)),
        ("argmax_loading", round(v[amax], 4)),
    ]
    return spark.createDataFrame(out, "stat string, value double")


def _q_streaming_neardup(spark, sf_dir):
    # Incremental MinHash near-dup: the documents corpus delivered as a
    # 3-micro-batch stream; signatures accumulate in a store, each batch
    # joins its new docs' bands against the accumulated store, verifies
    # with exact Jaccard, and appends pairs exactly once. The drained pair
    # store equals the batch operator, so the batch oracle (exact pairwise
    # Jaccard in SQL) pins the streaming path's VALUES.
    import tempfile

    from knowledge_graph_builder_spark.streaming.incremental import (
        read_neardup_pairs,
        stream_neardup_minhash,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="kgb_stream_nd_")
    in_dir = f"{base}/in"
    for m in range(3):  # three files -> three micro-batches
        d.filter(F.col("doc_id") % 3 == m).coalesce(1).write.mode("append").parquet(in_dir)
    q = stream_neardup_minhash(
        spark, in_dir, f"{base}/store", f"{base}/ckpt", threshold=0.5
    )
    q.awaitTermination(600)
    pairs = read_neardup_pairs(spark, f"{base}/store")
    return pairs.select("a", "b", F.round("jaccard", 4).alias("jaccard"))


def _q_streaming_dsir(spark, sf_dir):
    # Incremental DSIR (streaming/incremental.py:stream_dsir): the
    # documents corpus delivered as a 3-micro-batch stream; each batch
    # appends per-doc bucket counts and a bucket-distribution PARTIAL
    # (both partial-aggregable), and read_dsir_weights rescores from the
    # accumulated partials. The drained weights equal the batch
    # dsir_importance, so this SHARES the dsir_weights oracle.
    import tempfile

    from knowledge_graph_builder_spark.streaming.incremental import (
        read_dsir_weights,
        stream_dsir,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    base = tempfile.mkdtemp(prefix="kgb_stream_dsir_")
    in_dir = f"{base}/in"
    for m in range(3):  # three files -> three micro-batches
        d.filter(F.col("doc_id") % 3 == m).coalesce(1).write.mode("append").parquet(in_dir)
    q = stream_dsir(spark, in_dir, f"{base}/store", f"{base}/ckpt", n_buckets=64)
    q.awaitTermination(600)
    return read_dsir_weights(spark, f"{base}/store", n_buckets=64)


def _q_dedup_clusters(spark, sf_dir):
    # near-dup clusters with one canonical survivor per cluster
    from knowledge_graph_builder_spark.operators.dedup import dedup_clusters

    d = _t(spark, sf_dir, "documents")
    return dedup_clusters(d, threshold=0.5).select("doc_id", "cluster_id", "is_canonical")


def _q_minhash_neardup(spark, sf_dir):
    from knowledge_graph_builder_spark.operators.dedup import minhash_near_duplicates

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(d, "doc_id", "text", k=3, threshold=0.5)
    return pairs.select("a", "b", F.round("jaccard", 4).alias("jaccard"))


def _q_simhash(spark, sf_dir):
    # runs over the repo-internal deterministic corpus (not the sf tables)
    # so its literal-VALUES oracle is immune to testdata regeneration —
    # xxhash64 bit-votes aren't SQL-expressible, so the pin is the oracle
    from knowledge_graph_builder_spark.operators.dedup import simhash_duplicates
    from knowledge_graph_builder_spark.sources.synth import synth_documents

    d = synth_documents(spark)
    return simhash_duplicates(d, "doc_id", "text").select("a", "b")


def _q_knn_allpairs(spark, sf_dir):
    from knowledge_graph_builder_spark.operators.similarity import all_pairs_topk

    e = _t(spark, sf_dir, "embeddings").limit(200)
    return all_pairs_topk(e, k=3).select("a", "b", F.round("cosine", 4).alias("cosine"), "rank")


def _q_canonicalize(spark, sf_dir):
    from knowledge_graph_builder_spark.operators.canonicalize import canonicalize_nodes
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    nodes = run_pipeline(spark, golden_transcripts(spark), persist=False).nodes
    return canonicalize_nodes(nodes).select("name", "type", "canonical_id")


def _q_doc_quality(spark, sf_dir):
    from knowledge_graph_builder_spark.operators.textstats import document_stats

    return document_stats(_t(spark, sf_dir, "documents"))


def _q_viz_graph(spark, sf_dir):
    # Q2/Q3: vis-network projection of the golden KG (width/opacity math)
    from knowledge_graph_builder_spark.operators.graph import viz_edges
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    res = run_pipeline(spark, golden_transcripts(spark), persist=False)
    return viz_edges(res.edges.filter(F.col("type") != "INVOLVES"))


def _q_word_freq(spark, sf_dir):
    # corpus token frequency: normalize -> explode -> agg -> global top-20
    d = _t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " "), r"\s+", " "))
    return (
        d.select(F.explode(F.split(norm, " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(20)
    )


def _q_cms_heavy_hitters(spark, sf_dir):
    # count-min sketch (operators/sketch.py): exact top-20 words joined
    # with their sketch estimates — est >= n always (one-sided error),
    # and the sketch itself is a bounded (4 x 512) grid however large
    # the corpus. The oracle replicates sketch, probes, and min-lookup
    # in SQL with the same engine-portable md5 cell hash.
    from knowledge_graph_builder_spark.operators.sketch import cms_build, cms_estimate

    d = _t(spark, sf_dir, "documents")
    exact = _q_word_freq(spark, sf_dir)
    sketch = cms_build(d, depth=4, width=512)
    est = cms_estimate(sketch, exact, depth=4, width=512)
    return exact.join(est, "word").select("word", "n", "est")


def _q_label_stats(spark, sf_dir):
    # per-label embedding stats: count + mean vector norm (rounded)
    from knowledge_graph_builder_spark.operators.similarity import norm_col

    e = _t(spark, sf_dir, "embeddings")
    return (
        e.withColumn("norm", norm_col(F.col("embedding").cast("array<double>")))
        .groupBy("label")
        .agg(F.count("*").alias("n"), F.round(F.avg("norm"), 4).alias("avg_norm"))
    )


def _q_health(spark, sf_dir):
    # Q4: connectivity probe (reference main.py:47-62)
    from knowledge_graph_builder_spark.session import health_check

    return spark.createDataFrame([(health_check(spark)["status"],)], "status string")


def _q_viz_nodes(spark, sf_dir):
    # Q2: node projection with group/color map + event nodes unioned
    from knowledge_graph_builder_spark.operators.graph import build_event_nodes, viz_nodes
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    res = run_pipeline(spark, golden_transcripts(spark), persist=False)
    return viz_nodes(res.nodes, build_event_nodes(res.events))


def _q_media_features(spark, sf_dir):
    # multimodal: binary payloads -> deterministic feature vectors
    from knowledge_graph_builder_spark.operators.multimodal import decode_and_featurize, synth_media

    feats = decode_and_featurize(synth_media(spark, n=30), dim=8, fake=True)  # pin = fake-decoder output
    return feats.select(
        "media_id", "n_bytes", F.round(F.aggregate("feature", F.lit(0.0), lambda a, v: a + v), 4).alias("feat_sum")
    )


def _q_frame_samples(spark, sf_dir):
    # multimodal: video frame sampling timestamps (stubbed decode)
    from knowledge_graph_builder_spark.operators.multimodal import sample_frames, synth_media

    return sample_frames(synth_media(spark, n=30), every_ms=500, fake=True).select("media_id", "frame_idx", "ts_ms")


def _q_entity_linking(spark, sf_dir):
    # north_star: scored mention -> canonical-entity links over the golden KG
    from knowledge_graph_builder_spark.operators.extraction import EMIT_ANALYSIS, extract_from_transcripts
    from knowledge_graph_builder_spark.operators.linking import link_mentions
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    tr = golden_transcripts(spark)
    mentions = (
        extract_from_transcripts(tr, 4, emit=EMIT_ANALYSIS)
        .filter(F.col("kind") == "mention")
        .select(F.col("text").alias("mention"))
    )
    nodes = run_pipeline(spark, tr, persist=False).nodes
    return link_mentions(mentions, nodes)


def _q_kg_insights(spark, sf_dir):
    # Q1 over the ACTUAL golden KG (reference graph_db.py:153-179): session
    # totals + entity-type histogram in one long-format frame, pinned to a
    # hand-derivable literal oracle like kg_triples/kg_events.
    from knowledge_graph_builder_spark.operators.graph import entity_type_histogram, insights
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    res = run_pipeline(spark, golden_transcripts(spark), persist=False)
    ins = insights(res.nodes, res.edges).select(
        F.explode(
            F.create_map(
                F.lit("total_entities"), F.col("total_entities").cast("double"),
                F.lit("total_relationships"), F.col("total_relationships").cast("double"),
                F.lit("avg_confidence"), F.col("avg_confidence").cast("double"),
            )
        ).alias("stat", "value")
    )
    hist = entity_type_histogram(res.nodes).select(
        F.concat(F.lit("type:"), F.col("type")).alias("stat"),
        F.col("count").cast("double").alias("value"),
    )
    return ins.unionByName(hist).select("stat", F.round("value", 4).alias("value"))


def _q_pdf_ingest(spark, sf_dir):
    # S2: binary-document ingest -> transcripts -> pipeline (stubbed decode)
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.schema import TRANSCRIPTS
    from knowledge_graph_builder_spark.sources.ingest import extract_text, to_transcripts

    payload = b"%PDF-1.4 Steve Jobs founded Apple in 1976. stream xref"
    binary = spark.createDataFrame([("mem://a.pdf", bytearray(payload))], "path string, content binary")
    tr = to_transcripts(extract_text(binary, fake=True))  # pin = fake-extractor output
    return run_pipeline(spark, tr, persist=False).triples.select("source", "type", "target")


def _q_tfidf_topk(spark, sf_dir):
    # per-document characteristic terms (sklearn smoothed tf-idf);
    # scores rounded to 4 decimals BEFORE the per-doc rank so the top-3
    # cut is engine-stable, ties on the term itself
    from knowledge_graph_builder_spark.operators.search import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), top_k=3)


def _q_mixture_weights(spark, sf_dir):
    # temperature-scaled (alpha=0.5) training-mix weights per corpus
    # source — one partial-aggregable pass + a broadcast normalization
    from knowledge_graph_builder_spark.operators.sampling import mixture_weights

    return mixture_weights(_t(spark, sf_dir, "documents"), alpha=0.5)


def _q_label_propagation(spark, sf_dir):
    # deterministic synchronous LPA communities over the golden KG
    # (most-frequent-neighbor-label update, min-label tie-break) —
    # iterative driver-loop operator like CC/PageRank, pinned literal
    from knowledge_graph_builder_spark.operators.graphalg import label_propagation
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    res = run_pipeline(spark, golden_transcripts(spark), persist=False)
    comm = label_propagation(
        res.edges.filter(F.col("type") != "INVOLVES"), iterations=5
    )
    return comm.select("node", "community")


def _q_tpch_q8(spark, sf_dir):
    # q8-adapted: NATION_1 suppliers' market share of PROMO-part volume
    # sold to AMERICA-region customers, by order year. All dims broadcast
    # (part filter, region->nation->customer chain, supplier->nation);
    # the only big shuffle is lineitem x orders on the order key
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    amer = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(amer), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    promo = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    j = (
        li.join(F.broadcast(promo), li["l_partkey"] == promo["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cust.hint("broadcast"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    return (
        j.groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def _q_tpch_q9(spark, sf_dir):
    # q9-adapted (schema subset has no partsupp): profit by supplier
    # nation and order year over 'red' parts, supply cost surrogated as
    # 50% of p_retailprice. part and supplier->nation broadcast; the one
    # big shuffle is lineitem x orders on the order key.
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    red = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.5 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(red), li["l_partkey"] == red["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
    )


def _q_tpch_q21(spark, sf_dir):
    # q21-adapted (schema subset has no commit/receipt dates, so the
    # "late" marker is l_returnflag='R'): suppliers solely at fault —
    # in a finished ('F') multi-supplier order, this supplier is the
    # ONLY one with a returned line. One distinct (order, supp) frame
    # feeds both the per-order stats and the fault count, so the exists
    # + not-exists pair costs one aggregation, not two corpus joins.
    li = _t(spark, sf_dir, "lineitem")
    fo = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    os_supp = (
        li.join(fo, li["l_orderkey"] == fo["o_orderkey"])
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("has_ret"))
    )
    # per-order stats as a WINDOW over the (already narrow) per-supplier
    # frame, not a groupBy + self-join — that formulation duplicates the
    # DataFrame lineage and scans lineitem twice; this one scans it once
    wo = Window.partitionBy("l_orderkey")
    fault = (
        os_supp.withColumn("n_supp", F.count("*").over(wo))
        .withColumn("n_ret_supp", F.sum("has_ret").over(wo))
        .filter(
            (F.col("has_ret") == 1) & (F.col("n_supp") > 1) & (F.col("n_ret_supp") == 1)
        )
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        fault.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


def _q_shard_manifest(spark, sf_dir):
    # deterministic md5-bucket shard assignment + per-shard manifest —
    # the training-shard writer's bookkeeping (portable row-level shard
    # ids, so a resumed run appends to exactly the same shards)
    from knowledge_graph_builder_spark.operators.packing import shard_assign, shard_manifest

    d = _t(spark, sf_dir, "documents")
    return shard_manifest(shard_assign(d, n_shards=16))


def _q_vocab_stats(spark, sf_dir):
    # corpus n-gram vocabulary growth (totals, distincts, type-token
    # ratio for n=1..3) — one scan, one explode, two-level aggregation
    from knowledge_graph_builder_spark.operators.textstats import ngram_vocab_stats

    return ngram_vocab_stats(_t(spark, sf_dir, "documents"), max_n=3)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dict order is load-bearing: the driver's per-round correctness record
    snapshots the FIRST 50 entries only (CORRECTNESS_r02 == queries()[:50]).
    Ordering policy (structurally enforced by tests/test_record_freshness.py
    against tests/query_source_hashes.json): (1) queries NEW this round,
    (2) queries whose implementation — query body, oracle, or underlying
    operator — CHANGED this round, (3) the flagship metrics, (4) everything
    else in its prior order. Every query keeps its oracle regardless of
    position; tools/check_oracle.py sweeps all of them."""
    return {
        # -- graph builders changed: edges no longer anchored by node name,
        #    event nodes built on their own (build_event_nodes) --
        "viz_nodes": _q_viz_nodes,
        "viz_graph": _q_viz_graph,
        # -- round 5: new --
        "cdc_fast_chunks": _q_cdc_fast,
        "kg_incremental_multi": _q_kg_incremental_multi,
        # -- round 4: new, then operator-changed (canonicalize/CC rewrite,
        #    exact-dup semi-join, bpe_train collect path, DSIR refactor) --
        "streaming_dsir": _q_streaming_dsir,
        "kg_triples_bucketed": _q_kg_triples_bucketed,
        "canonicalize_incr": _q_canonicalize_incr,
        "kg_incremental": _q_kg_incremental,
        "cdc_chunks": _q_cdc_chunks,
        "canonicalize": _q_canonicalize,
        "dedup_clusters": _q_dedup_clusters,
        "dedup_exact": _q_dedup_exact,
        "dedup_members": _q_dedup_members,
        "dsir_weights": _q_dsir_weights,
        "streaming_neardup": _q_streaming_neardup,
        # -- flagships: re-recorded every round --
        "kg_precision_recall": _q_kg_precision_recall,
        "kg_insights": _q_kg_insights,
        "bpe_merges": _q_bpe_merges,
        "bpe_token_freq": _q_bpe_token_freq,
        "cms_heavy_hitters": _q_cms_heavy_hitters,
        "triangle_counts": _q_triangle_counts,
        "bfs_levels": _q_bfs_levels,
        "kcore_nodes": _q_kcore_nodes,
        "neighbor_jaccard": _q_neighbor_jaccard,
        "pagerank_top": _q_pagerank_top,
        "label_propagation": _q_label_propagation,
        "quantize_embeddings": _q_quantize_embeddings,
        "unigram_lm": _q_unigram_lm,
        "bm25_search": _q_bm25_search,
        "quartile_bands": _q_quartile_bands,
        "entity_linking": _q_entity_linking,
        "tfidf_topk": _q_tfidf_topk,
        "tpch_q8": _q_tpch_q8,
        "tpch_q9_profit": _q_tpch_q9,
        "tpch_q21": _q_tpch_q21,
        "shard_manifest": _q_shard_manifest,
        "vocab_stats": _q_vocab_stats,
        "mixture_weights": _q_mixture_weights,
        "media_features": _q_media_features,
        "frame_samples": _q_frame_samples,
        # -- new in round 3 --
        "ann_recall": _q_ann_recall,
        "dup_spans": _q_dup_spans,
        "embedding_gramian": _q_embedding_gramian,
        "pca_top_eigen": _q_pca_top_eigen,
        "tpch_q2_mincost": _q_tpch_q2,
        "tpch_q11_stockvalue": _q_tpch_q11,
        "tpch_q20_excess": _q_tpch_q20,
        # -- last recorded r01/r03, unchanged since --
        "kg_triples": _q_kg_triples,
        "kg_events": _q_kg_events,
        "pdf_ingest": _q_pdf_ingest,
        "minhash_neardup": _q_minhash_neardup,
        "simhash_bands": _q_simhash,
        "ann_topk": _q_ann_topk,
        "ivf_topk": _q_ivf_topk,
        "knn_allpairs": _q_knn_allpairs,
        "lsh_topk": _q_lsh_topk,
        "degree_stats": _q_degree_stats,
        "doc_quality": _q_doc_quality,
        "text_stats": _q_text_stats,
        "lang_markers": _q_lang_markers,
        "word_freq_topk": _q_word_freq,
        "label_stats": _q_label_stats,
        "quality_flags": _q_quality_flags,
        "anti_join": _q_anti_join,
        "moving_avg": _q_moving_avg,
        "event_gaps": _q_event_gaps,
        "cube_agg": _q_cube,
        "ntile_quartiles": _q_ntile,
        "corr_stats": _q_corr_stats,
        "month_rollup": _q_month_rollup,
        "health": _q_health,
        # -- green in the r02 driver record --
        "conv_assembly": _q_conv_assembly,
        "when_chain_classify": _q_when_chain,
        "dedup_first_seen": _q_dedup_first_seen,
        "pair_join_bounded": _q_pair_join,
        "insights_agg": _q_insights,
        "explode_tokens": _q_explode_tokens,
        "validation_join": _q_validation_join,
        "topk_window": _q_topk_window,
        "tpch_q1": _q_tpch_q1,
        "tpch_q3_top10": _q_tpch_q3,
        "tpch_q5": _q_tpch_q5,
        "tpch_q6": _q_tpch_q6,
        "tpch_q10_top20": _q_tpch_q10,
        "tpch_q14_promo": _q_tpch_q14,
        "tpch_q18_bigorders": _q_tpch_q18,
        "winnow_pairs": _q_winnow_pairs,
        "streaming_turn_stats": _q_streaming_stats,
        "streaming_sessions": _q_streaming_sessions,
        "streaming_enrich_join": _q_streaming_enrich,
        "pack_documents": _q_pack_documents,
        "unk_rare_tokens": _q_unk_rare_tokens,
        "chunk_documents": _q_chunk_documents,
        "repetition_stats": _q_repetition,
        "audio_features": _q_audio_features,
        "contamination": _q_contamination,
        "stratified_sample": _q_stratified_sample,
        "split_corpus": _q_split_corpus,
        "weighted_sample": _q_weighted_sample,
        "snapshot_diff": _q_snapshot_diff,
        "curate_corpus": _q_curate_corpus,
        "tpch_q4_priority": _q_tpch_q4,
        "tpch_q19_disc": _q_tpch_q19,
        "tpch_q7_volume": _q_tpch_q7,
        "tpch_q12_priority_class": _q_tpch_q12,
        "tpch_q13_custdist": _q_tpch_q13,
        "tpch_q15_top_supplier": _q_tpch_q15,
        "tpch_q16_supplier_cnt": _q_tpch_q16,
        "tpch_q17_small_qty": _q_tpch_q17,
        "tpch_q22_inactive": _q_tpch_q22,
        "redact_pii": _q_redact_pii,
        "percentiles": _q_percentiles,
        "pivot_counts": _q_pivot,
        "rollup_agg": _q_rollup,
        "set_ops": _q_set_ops,
        "asof_join": _q_asof_join,
        "sessionize": _q_sessionize,
        "range_join": _q_range_join,
        "ngram_jaccard": _q_ngram_jaccard,
        "cosine_neardup": _q_cosine_neardup,
        "semantic_dedup": _q_semantic_dedup,
    }


def _stopword_hits_sql() -> str:
    """Sum-of-occurrences expression over the same stopword list the Spark
    operator uses (textstats._EN_STOPWORDS), built programmatically so the
    two sides cannot drift."""
    from knowledge_graph_builder_spark.operators.textstats import _EN_STOPWORDS

    terms = [
        f"((length(pad) - length(replace(pad, ' {w} ', ''))) / {len(w) + 2})::INT"
        for w in _EN_STOPWORDS
    ]
    return " + ".join(terms)


def _marker_hits_sql(lang: str, padcol: str) -> str:
    """Occurrence-count expression over textstats.LANG_MARKERS[lang],
    built programmatically so Spark and DuckDB share one marker list."""
    from knowledge_graph_builder_spark.operators.textstats import LANG_MARKERS

    terms = [
        f"((length({padcol}) - length(replace({padcol}, '{m}', ''))) / {len(m)})::INT"
        for m in LANG_MARKERS[lang]
    ]
    return "(" + " + ".join(terms) + ")"


def _doc_quality_sql() -> str:
    langs = ["en", "de", "fr", "es"]
    hit_cols = ", ".join(f"{_marker_hits_sql(lang, 'langpad')} AS {lang}_h" for lang in langs)
    best = "greatest(" + ", ".join(f"{lang}_h" for lang in langs) + ")"
    lang_case = (
        "CASE "
        + " ".join(f"WHEN {lang}_h = {best} AND {lang}_h > 0 THEN '{lang}'" for lang in langs)
        + " ELSE 'und' END"
    )
    return f"""
        WITH base AS (
          SELECT doc_id, text,
                 ' ' || lower(text) || ' ' AS langpad,
                 ' ' || lower(regexp_replace(text, '[^\\w\\s]', '', 'g')) || ' ' AS pad,
                 (CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE array_length(regexp_split_to_array(trim(text), '\\s+')) END)::INT AS n_tokens,
                 array_length(regexp_extract_all(text, '[A-Za-z]+|\\d|[^A-Za-z\\d\\s]'))::INT AS n_bpe_tokens,
                 array_length(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE
                     / greatest(length(text), 1) AS punct_ratio,
                 md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
          FROM documents
        ),
        hits AS (
          SELECT *, {hit_cols},
                 ({_stopword_hits_sql()})::DOUBLE / greatest(n_tokens, 1) AS stopword_ratio
          FROM base
        )
        SELECT doc_id,
               {lang_case} AS lang_guess,
               n_tokens, n_bpe_tokens,
               round(punct_ratio, 4) AS punct_ratio,
               round(stopword_ratio, 4) AS stopword_ratio,
               round(CASE WHEN n_tokens BETWEEN 5 AND 10000 THEN 0.4 ELSE 0.0 END
                   + CASE WHEN punct_ratio <= 0.2 THEN 0.3
                          WHEN punct_ratio <= 0.4 THEN 0.15 ELSE 0.0 END
                   + CASE WHEN stopword_ratio >= 0.05 THEN 0.3 ELSE 0.0 END, 2)::DOUBLE AS quality,
               fingerprint
        FROM hits
    """


def _kg_triples_sql() -> str:
    """Literal-VALUES oracle for the flagship extraction: the hand-derived
    reference-semantics triple set over the golden corpus (the same
    constant tests/test_metrics.py measures P/R against). A value-hash
    match against it is an exact P/R = 1.0 record for the flagship
    pipeline, not just a row count."""
    from knowledge_graph_builder_spark.sources.synth import GOLDEN_EXPECTED_TRIPLES

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    rows = ",\n              ".join(
        "(" + ", ".join(q(v) for v in r) + ")" for r in sorted(GOLDEN_EXPECTED_TRIPLES)
    )
    return f"""
        SELECT * FROM (VALUES
              {rows}
        ) AS t(document_id, source, type, target)
    """


def _kg_precision_recall_sql() -> str:
    """Oracle for the north-rule headline metric: the pipeline must agree
    EXACTLY with the hand-derived reference-semantics set, so the pinned
    value is tp = emitted = expected = |golden set| and P = R = 1.0."""
    from knowledge_graph_builder_spark.sources.synth import GOLDEN_EXPECTED_TRIPLES

    n = len(GOLDEN_EXPECTED_TRIPLES)
    return f"""
        SELECT {n}::BIGINT AS tp, {n}::BIGINT AS n_emitted, {n}::BIGINT AS n_expected,
               CAST(1.0 AS DOUBLE) AS precision, CAST(1.0 AS DOUBLE) AS recall
    """


def _bpe_merges_sql() -> str:
    """Literal oracle for bpe_merges: the pure-Python reference twin
    (operators/bpe.py:bpe_train_local, an independent textbook
    implementation of the Sennrich algorithm) runs over the same golden
    texts at oracle-build time; the distributed loop must agree exactly."""
    from knowledge_graph_builder_spark.operators.bpe import bpe_train_local
    from knowledge_graph_builder_spark.sources.synth import GOLDEN_TEXTS

    texts = [t for _, turns in sorted(GOLDEN_TEXTS.items()) for t in turns]
    rows = ",\n              ".join(
        f"({r}, '{l}', '{ri}', '{m}', {n})"
        for r, l, ri, m, n in bpe_train_local(texts, 8)
    )
    return f"""
        SELECT rank::INT AS rank, "left", "right", merged, pair_freq::BIGINT AS pair_freq
        FROM (VALUES
              {rows}
        ) AS t(rank, "left", "right", merged, pair_freq)
    """


def _bpe_token_freq_sql() -> str:
    """Literal oracle for bpe_token_freq: the pure-Python twin tokenizes
    the golden texts with the twin-learned merges; top-10 by (count desc,
    token asc) — the same deterministic ordering the Spark query uses."""
    from collections import Counter

    from knowledge_graph_builder_spark.operators.bpe import bpe_apply_local, bpe_train_local
    from knowledge_graph_builder_spark.sources.synth import GOLDEN_TEXTS

    texts = [t for _, turns in sorted(GOLDEN_TEXTS.items()) for t in turns]
    merges = [(l, r) for _, l, r, _, _ in bpe_train_local(texts, 8)]
    counts: Counter = Counter()
    for _, (freq, tokens) in bpe_apply_local(texts, merges).items():
        for tok in tokens:
            counts[tok] += freq
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    rows = ",\n              ".join(f"('{t}', {n})" for t, n in top)
    return f"""
        SELECT token, n::BIGINT AS n
        FROM (VALUES
              {rows}
        ) AS t(token, n)
    """


def _kg_events_sql() -> str:
    """Literal-VALUES oracle for the golden event set (see _kg_triples_sql)."""
    from knowledge_graph_builder_spark.sources.synth import GOLDEN_EXPECTED_EVENTS

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return "'" + str(v).replace("'", "''") + "'"

    rows = ",\n              ".join(
        "(" + ", ".join(lit(v) for v in r) + ")" for r in sorted(GOLDEN_EXPECTED_EVENTS, key=str)
    )
    return f"""
        SELECT * FROM (VALUES
              {rows}
        ) AS t(document_id, event_type, name, participants, date, amount, location, confidence)
    """


# Exact 3-word-shingle Jaccard pairs at >= 0.5 over the documents table —
# shared by the minhash_neardup and dedup_clusters oracles. This is a
# GENUINE recomputed oracle (not a pin): on this corpus the LSH banding's
# recall at J>=0.5 is exactly 1.0 (verified empirically), so the Spark
# LSH+verify output equals the exact pairwise threshold set.
_EXACT_JACCARD_PAIRS_CTES = """
            norm AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS w
              FROM documents
            ),
            sh AS (
              SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
              FROM norm, LATERAL unnest(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            cand AS (
              SELECT sa.doc_id AS a, sb.doc_id AS b, count(*) AS n_inter
              FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
              GROUP BY 1, 2
            ),
            exact_pairs AS (
              SELECT a, b, round(n_inter / (za.n + zb.n - n_inter), 4) AS jaccard
              FROM cand JOIN sizes za ON cand.a = za.doc_id
                        JOIN sizes zb ON cand.b = zb.doc_id
              WHERE n_inter / (za.n + zb.n - n_inter) >= 0.5
            )
"""


def _viz_nodes_sql() -> str:
    """Q2 node projection over the golden KG (reference graph_db.py:181-254
    semantics: group/color map incl. event types, dot/diamond shapes,
    tooltip text). Golden-corpus-derived, so the pin is testdata-independent."""
    return """
        SELECT id, label, "group", color, title, shape FROM (VALUES
          ('Alibaba', 'Alibaba', 'ORG', '#10b981', 'Alibaba (ORG)

Source: Amazon competes with companies like Microsoft, Google, and Alibaba....', 'dot'),
          ('Amazon', 'Amazon', 'ORG', '#10b981', 'Amazon (ORG)

Source: Amazon competes with companies like Microsoft, Google, and Alibaba....', 'dot'),
          ('Android', 'Android', 'PRODUCT', '#8b5cf6', 'Android (PRODUCT)

Source: Google launched Android in 2008....', 'dot'),
          ('Apple acquires Beats', 'Apple acquires Beats', 'Acquisition', '#fbbf24', 'EVENT: Apple acquires Beats
Type: Acquisition
Date: 2014
Amount: $3 billion

Context: Apple acquired Beats for $3 billion in 2014....', 'diamond'),
          ('Apple product launch', 'Apple product launch', 'ProductLaunch', '#ec4899', 'EVENT: Apple product launch
Type: ProductLaunch
Date: 2007

Context: Apple released products such as the iPhone in 2007....', 'diamond'),
          ('Apple', 'Apple', 'ORG', '#10b981', 'Apple (ORG)

Source: Tim Cook was named CEO of Apple in 2011....', 'dot'),
          ('Beats', 'Beats', 'ORG', '#10b981', 'Beats (ORG)

Source: Apple acquired Beats for $3 billion in 2014....', 'dot'),
          ('Bill Gates', 'Bill Gates', 'PERSON', '#3b82f6', 'Bill Gates (PERSON)

Source: Steve Jobs founded Bill Gates....', 'dot'),
          ('California', 'California', 'GPE', '#f59e0b', 'California (GPE)

Source: The company is headquartered in Cupertino, California....', 'dot'),
          ('Cupertino', 'Cupertino', 'GPE', '#f59e0b', 'Cupertino (GPE)

Source: Apple launched the iPhone in Cupertino....', 'dot'),
          ('Echo', 'Echo', 'PRODUCT', '#8b5cf6', 'Echo (PRODUCT)

Source: ...', 'dot'),
          ('Fire TV', 'Fire TV', 'PRODUCT', '#8b5cf6', 'Fire TV (PRODUCT)

Source: Amazon produces devices such as Kindle, Echo, and Fire TV....', 'dot'),
          ('Ford Motors', 'Ford Motors', 'ORG', '#10b981', 'Ford Motors (ORG)

Source: Tesla Corp. competes with Ford Motors in Texas....', 'dot'),
          ('Google product launch', 'Google product launch', 'ProductLaunch', '#ec4899', 'EVENT: Google product launch
Type: ProductLaunch
Date: 2008

Context: Google launched Android in 2008....', 'diamond'),
          ('Google', 'Google', 'ORG', '#10b981', 'Google (ORG)

Source: Amazon competes with companies like Microsoft, Google, and Alibaba....', 'dot'),
          ('Jeff Bezos', 'Jeff Bezos', 'PERSON', '#3b82f6', 'Jeff Bezos (PERSON)

Source: Amazon was founded by Jeff Bezos in Seattle....', 'dot'),
          ('Kindle', 'Kindle', 'PRODUCT', '#8b5cf6', 'Kindle (PRODUCT)

Source: Amazon produces devices such as Kindle, Echo, and Fire TV....', 'dot'),
          ('Microsoft funding round', 'Microsoft funding round', 'FundingRound', '#10b981', 'EVENT: Microsoft funding round
Type: FundingRound
Date: last year
Amount: $1 billion

Context: Microsoft raised $1 billion in Series B funding last year....', 'diamond'),
          ('Microsoft', 'Microsoft', 'ORG', '#10b981', 'Microsoft (ORG)

Source: Amazon competes with companies like Microsoft, Google, and Alibaba....', 'dot'),
          ('Pixel', 'Pixel', 'PRODUCT', '#8b5cf6', 'Pixel (PRODUCT)

Source: Sundar Pichai owns a Pixel....', 'dot'),
          ('PlayStation', 'PlayStation', 'PRODUCT', '#8b5cf6', 'PlayStation (PRODUCT)

Source: Sony manufactures the PlayStation....', 'dot'),
          ('Redmond', 'Redmond', 'GPE', '#f59e0b', 'Redmond (GPE)

Source: Microsoft is based in Redmond....', 'dot'),
          ('Satya Nadella', 'Satya Nadella', 'PERSON', '#3b82f6', 'Satya Nadella (PERSON)

Source: Satya Nadella and Microsoft appeared at the meeting....', 'dot'),
          ('Seattle', 'Seattle', 'GPE', '#f59e0b', 'Seattle (GPE)

Source: Amazon was founded by Jeff Bezos in Seattle....', 'dot'),
          ('Sony', 'Sony', 'ORG', '#10b981', 'Sony (ORG)

Source: Sony manufactures the PlayStation....', 'dot'),
          ('Steve Jobs', 'Steve Jobs', 'PERSON', '#3b82f6', 'Steve Jobs (PERSON)

Source: Apple was founded in 1976 by Steve Jobs....', 'dot'),
          ('Sundar Pichai', 'Sundar Pichai', 'PERSON', '#3b82f6', 'Sundar Pichai (PERSON)

Source: Sundar Pichai owns a Pixel....', 'dot'),
          ('Tesla', 'Tesla', 'ORG', '#10b981', 'Tesla (ORG)

Source: Tesla Corp. competes with Ford Motors in Texas....', 'dot'),
          ('Texas', 'Texas', 'GPE', '#f59e0b', 'Texas (GPE)

Source: Tesla Corp. competes with Ford Motors in Texas....', 'dot'),
          ('Tim Cook joins Apple', 'Tim Cook joins Apple', 'LeadershipChange', '#f59e0b', 'EVENT: Tim Cook joins Apple
Type: LeadershipChange
Date: 2011

Context: Tim Cook was named CEO of Apple in 2011....', 'diamond'),
          ('Tim Cook', 'Tim Cook', 'PERSON', '#3b82f6', 'Tim Cook (PERSON)

Source: Tim Cook was named CEO of Apple in 2011....', 'dot'),
          ('iPhone product launch', 'iPhone product launch', 'ProductLaunch', '#ec4899', 'EVENT: iPhone product launch
Type: ProductLaunch
Date: 2007
Amount: $599

Context: In 2007, Apple released the iPhone for $599....', 'diamond'),
          ('iPhone', 'iPhone', 'PRODUCT', '#8b5cf6', 'iPhone (PRODUCT)

Source: Apple released products such as the iPhone in 2007....', 'dot')
        ) AS t(id, label, "group", color, title, shape)
    """


def _viz_graph_sql() -> str:
    """Q3 edge projection over the golden KG (reference graph_db.py:256-284
    width/opacity math). Golden-corpus-derived pin."""
    return """
        SELECT "from", "to", label, confidence::DOUBLE AS confidence, width::DOUBLE AS width, opacity::DOUBLE AS opacity, color FROM (VALUES
          ('Amazon', 'Alibaba', 'COMPETES_WITH', 0.85, 3.4, 1.0, '#64748b'),
          ('Amazon', 'Fire TV', 'PRODUCES', 0.65, 2.6, 0.95, '#64748b'),
          ('Amazon', 'Google', 'COMPETES_WITH', 0.85, 3.4, 1.0, '#64748b'),
          ('Amazon', 'Kindle', 'PRODUCES', 0.65, 2.6, 0.95, '#64748b'),
          ('Amazon', 'Microsoft', 'COMPETES_WITH', 0.85, 3.4, 1.0, '#64748b'),
          ('Amazon', 'Seattle', 'LOCATED_IN', 0.65, 2.6, 0.95, '#64748b'),
          ('Apple', 'Beats', 'ACQUIRED', 0.7, 2.8, 1.0, '#64748b'),
          ('Apple', 'Cupertino', 'HEADQUARTERED_IN', 0.95, 3.8, 1.0, '#64748b'),
          ('Apple', 'Cupertino', 'LOCATED_IN', 0.65, 2.6, 0.95, '#64748b'),
          ('Apple', 'Microsoft', 'COLLABORATES_WITH', 0.7, 2.8, 1.0, '#64748b'),
          ('Apple', 'iPhone', 'PRODUCES', 0.85, 3.4, 1.0, '#64748b'),
          ('Apple', 'iPhone', 'RELEASED', 0.9, 3.6, 1.0, '#64748b'),
          ('Ford Motors', 'Texas', 'LOCATED_IN', 0.65, 2.6, 0.95, '#64748b'),
          ('Google', 'Android', 'DEVELOPS', 0.85, 3.4, 1.0, '#64748b'),
          ('Google', 'Android', 'RELEASED', 0.9, 3.6, 1.0, '#64748b'),
          ('Jeff Bezos', 'Amazon', 'FOUNDED', 0.95, 3.8, 1.0, '#64748b'),
          ('Microsoft', 'Apple', 'COMPETES_WITH', 0.85, 3.4, 1.0, '#64748b'),
          ('Microsoft', 'Redmond', 'HEADQUARTERED_IN', 0.7, 2.8, 1.0, '#64748b'),
          ('Microsoft', 'Redmond', 'LOCATED_IN', 0.85, 3.4, 1.0, '#64748b'),
          ('Sony', 'PlayStation', 'PRODUCES', 0.9, 3.6, 1.0, '#64748b'),
          ('Steve Jobs', 'Apple', 'CEO_OF', 0.95, 3.8, 1.0, '#64748b'),
          ('Steve Jobs', 'Apple', 'FOUNDED', 0.95, 3.8, 1.0, '#64748b'),
          ('Tim Cook', 'Apple', 'CEO_OF', 0.95, 3.8, 1.0, '#64748b'),
          ('Tim Cook', 'Apple', 'EMPLOYED_BY', 0.95, 3.8, 1.0, '#64748b')
        ) AS t("from", "to", label, confidence, width, opacity, color)
    """


def _lsh_topk_sql() -> str:
    """Hyperplane-LSH top-k for query vector 3 over the seeded sf embeddings
    table (TESTDATA.md: seed=42, read-only). The operator is deterministic
    (hash-derived hyperplanes, no driver randomness), so its output at a
    fixed sf is a stable literal; recall vs brute force is separately
    pinned by tests/test_operators.py."""
    return """
        SELECT vec_id::BIGINT AS vec_id, cosine::DOUBLE AS cosine FROM (VALUES
          (130, 0.3999), (149, 0.3299), (174, 0.3035), (192, 0.2908), (207, 0.2917),
          (231, 0.2988), (3, 1.0), (315, 0.2852), (343, 0.3085), (437, 0.2805)
        ) AS t(vec_id, cosine)
    """


def _knn_allpairs_sql() -> str:
    """Band-bucketed all-pairs kNN (k=3) over the first 200 seeded embedding
    rows. Deterministic for the same reason as _lsh_topk_sql; the literal
    IS the approximate operator's exact expected output, so the driver
    records value-level correctness for the banding + window path."""
    return """
        SELECT a::BIGINT AS a, b::BIGINT AS b, cosine::DOUBLE AS cosine, rank::INT AS rank FROM (VALUES
          (0, 131, 0.2406, 1), (0, 84, 0.1839, 3), (0, 85, 0.2326, 2), (1, 124, 0.3028, 2), (1, 59, 0.2135, 3),
          (1, 64, 0.3164, 1), (10, 34, 0.2663, 3), (10, 38, 0.2723, 2), (10, 44, 0.3552, 1), (100, 12, 0.2655, 3),
          (100, 33, 0.278, 2), (100, 45, 0.3026, 1), (101, 123, 0.3193, 1), (101, 199, 0.2642, 2), (101, 87, 0.2139, 3),
          (102, 104, 0.3107, 2), (102, 166, 0.3141, 1), (102, 8, 0.2666, 3), (103, 169, 0.2459, 1), (103, 7, 0.2047, 3),
          (103, 78, 0.2227, 2), (104, 102, 0.3107, 2), (104, 110, 0.3035, 3), (104, 70, 0.3506, 1), (105, 111, 0.3772, 1),
          (105, 126, 0.2822, 3), (105, 83, 0.2969, 2), (106, 147, 0.1991, 2), (106, 149, 0.2371, 1), (106, 52, 0.1936, 3),
          (107, 104, 0.1789, 2), (107, 116, 0.2745, 1), (107, 16, 0.1738, 3), (108, 142, 0.4372, 1), (108, 190, 0.3489, 2),
          (108, 67, 0.1785, 3), (109, 134, 0.2716, 2), (109, 187, 0.3594, 1), (109, 70, 0.2548, 3), (11, 130, 0.2907, 3),
          (11, 20, 0.3363, 2), (11, 30, 0.3678, 1), (110, 104, 0.3035, 1), (110, 171, 0.2501, 3), (110, 91, 0.2624, 2),
          (111, 105, 0.3772, 1), (111, 192, 0.263, 3), (111, 62, 0.3045, 2), (112, 181, 0.2069, 1), (112, 33, 0.2, 3),
          (112, 39, 0.2051, 2), (113, 178, 0.1964, 2), (113, 88, 0.1841, 3), (113, 90, 0.2421, 1), (114, 126, 0.2579, 3),
          (114, 162, 0.3199, 2), (114, 4, 0.3985, 1), (115, 163, 0.2764, 2), (115, 17, 0.3357, 1), (115, 90, 0.2483, 3),
          (116, 107, 0.2745, 1), (116, 70, 0.2551, 3), (116, 91, 0.2672, 2), (117, 20, 0.3457, 1), (117, 21, 0.202, 3),
          (117, 72, 0.2151, 2), (118, 134, 0.2857, 1), (118, 50, 0.2351, 2), (118, 51, 0.1865, 3), (119, 159, 0.2456, 2),
          (119, 196, 0.322, 1), (119, 24, 0.193, 3), (12, 100, 0.2655, 3), (12, 16, 0.2662, 2), (12, 161, 0.2755, 1),
          (120, 129, 0.1997, 3), (120, 18, 0.327, 1), (120, 79, 0.2189, 2), (121, 104, 0.2825, 1), (121, 127, 0.2621, 2),
          (121, 85, 0.2026, 3), (122, 158, 0.3219, 1), (122, 19, 0.2223, 3), (122, 191, 0.2995, 2), (123, 101, 0.3193, 2),
          (123, 56, 0.2636, 3), (123, 88, 0.3271, 1), (124, 1, 0.3028, 2), (124, 16, 0.3264, 1), (124, 76, 0.2552, 3),
          (125, 144, 0.2322, 3), (125, 178, 0.3095, 2), (125, 63, 0.3959, 1), (126, 104, 0.2932, 2), (126, 105, 0.2822, 3),
          (126, 72, 0.3089, 1), (127, 121, 0.2621, 3), (127, 13, 0.2649, 2), (127, 157, 0.3277, 1), (128, 2, 0.2234, 2),
          (128, 39, 0.1999, 3), (128, 49, 0.2415, 1), (129, 139, 0.2137, 2), (129, 192, 0.2124, 3), (129, 194, 0.2162, 1),
          (13, 126, 0.2417, 2), (13, 127, 0.2649, 1), (13, 165, 0.2364, 3), (130, 11, 0.2907, 2), (130, 192, 0.2651, 3),
          (130, 3, 0.3999, 1), (131, 147, 0.2442, 3), (131, 48, 0.3533, 1), (131, 57, 0.2906, 2), (132, 119, 0.1766, 3),
          (132, 35, 0.2077, 1), (132, 50, 0.1983, 2), (133, 5, 0.2375, 2), (133, 60, 0.214, 3), (133, 86, 0.2465, 1),
          (134, 109, 0.2716, 2), (134, 118, 0.2857, 1), (134, 70, 0.2427, 3), (135, 141, 0.2736, 2), (135, 17, 0.3378, 1),
          (135, 32, 0.2397, 3), (136, 101, 0.2058, 3), (136, 21, 0.2668, 1), (136, 55, 0.2349, 2), (137, 169, 0.3654, 1),
          (137, 51, 0.2205, 3), (137, 63, 0.2239, 2), (138, 114, 0.2514, 3), (138, 150, 0.3556, 1), (138, 39, 0.3297, 2),
          (139, 147, 0.2644, 2), (139, 170, 0.355, 1), (139, 88, 0.2338, 3), (14, 147, 0.3181, 1), (14, 156, 0.2784, 2),
          (14, 59, 0.2658, 3), (140, 179, 0.2481, 1), (140, 33, 0.1814, 3), (140, 59, 0.2339, 2), (141, 135, 0.2736, 2),
          (141, 197, 0.3055, 1), (141, 23, 0.2668, 3), (142, 108, 0.4372, 1), (142, 160, 0.2404, 2), (142, 67, 0.215, 3),
          (143, 32, 0.3555, 1), (143, 56, 0.1742, 2), (143, 61, 0.159, 3), (144, 125, 0.2322, 3), (144, 26, 0.2587, 2),
          (144, 48, 0.2739, 1), (145, 29, 0.3367, 1), (145, 6, 0.2977, 2), (145, 90, 0.2681, 3), (146, 101, 0.1929, 2),
          (146, 172, 0.1603, 3), (146, 56, 0.3207, 1), (147, 139, 0.2644, 3), (147, 14, 0.3181, 1), (147, 88, 0.3063, 2),
          (148, 151, 0.3058, 1), (148, 54, 0.3026, 2), (148, 69, 0.2704, 3), (149, 100, 0.214, 3), (149, 106, 0.2371, 2),
          (149, 58, 0.2447, 1), (15, 59, 0.3196, 1), (15, 70, 0.1922, 2), (15, 9, 0.189, 3), (150, 138, 0.3556, 2),
          (150, 152, 0.4183, 1), (150, 39, 0.3507, 3), (151, 148, 0.3058, 1), (151, 47, 0.2445, 3), (151, 74, 0.2788, 2),
          (152, 141, 0.2478, 3), (152, 150, 0.4183, 1), (152, 86, 0.2604, 2), (153, 169, 0.3018, 2), (153, 180, 0.3155, 1),
          (153, 49, 0.2088, 3), (154, 175, 0.3268, 1), (154, 69, 0.2034, 3), (154, 97, 0.2108, 2), (155, 21, 0.2861, 2),
          (155, 38, 0.3453, 1), (155, 57, 0.2328, 3), (156, 14, 0.2784, 2), (156, 179, 0.2452, 3), (156, 181, 0.3435, 1),
          (157, 12, 0.2469, 3), (157, 127, 0.3277, 1), (157, 193, 0.248, 2), (158, 122, 0.3219, 1), (158, 14, 0.245, 2),
          (158, 59, 0.2417, 3), (159, 119, 0.2456, 3), (159, 188, 0.2562, 1), (159, 53, 0.2561, 2), (16, 12, 0.2662, 3),
          (16, 124, 0.3264, 1), (16, 69, 0.279, 2), (160, 164, 0.3358, 1), (160, 58, 0.2503, 3), (160, 95, 0.2899, 2),
          (161, 12, 0.2755, 2), (161, 180, 0.2874, 1), (161, 8, 0.2579, 3), (162, 114, 0.3199, 2), (162, 26, 0.352, 1),
          (162, 41, 0.3163, 3), (163, 115, 0.2764, 1), (163, 16, 0.2085, 3), (163, 195, 0.2404, 2), (164, 150, 0.2071, 3),
          (164, 160, 0.3358, 1), (164, 17, 0.2812, 2), (165, 13, 0.2364, 2), (165, 185, 0.3916, 1), (165, 59, 0.2207, 3),
          (166, 102, 0.3141, 2), (166, 172, 0.247, 3), (166, 20, 0.3177, 1), (167, 179, 0.3007, 1), (167, 55, 0.2421, 3),
          (167, 86, 0.2701, 2), (168, 25, 0.2334, 2), (168, 41, 0.2251, 3), (168, 68, 0.2864, 1), (169, 137, 0.3654, 1),
          (169, 153, 0.3018, 2), (169, 188, 0.2899, 3), (17, 115, 0.3357, 2), (17, 135, 0.3378, 1), (17, 197, 0.3325, 3),
          (170, 139, 0.355, 1), (170, 194, 0.2585, 2), (170, 40, 0.2429, 3), (171, 110, 0.2501, 1), (171, 167, 0.2186, 3),
          (171, 187, 0.2341, 2), (172, 13, 0.2117, 3), (172, 166, 0.247, 2), (172, 98, 0.3612, 1), (173, 105, 0.2396, 1),
          (173, 198, 0.2182, 2), (173, 83, 0.207, 3), (174, 135, 0.184, 3), (174, 3, 0.3035, 1), (174, 77, 0.2476, 2),
          (175, 154, 0.3268, 1), (175, 48, 0.2613, 2), (175, 93, 0.2342, 3), (176, 177, 0.2354, 2), (176, 66, 0.2347, 3),
          (176, 67, 0.2633, 1), (177, 123, 0.2418, 1), (177, 176, 0.2354, 2), (177, 181, 0.2303, 3), (178, 125, 0.3095, 1),
          (178, 144, 0.2255, 2), (178, 161, 0.2115, 3), (179, 140, 0.2481, 3), (179, 167, 0.3007, 1), (179, 76, 0.2846, 2),
          (18, 120, 0.327, 1), (18, 43, 0.2286, 3), (18, 64, 0.2406, 2), (180, 153, 0.3155, 1), (180, 161, 0.2874, 3),
          (180, 59, 0.3145, 2), (181, 11, 0.2552, 2), (181, 156, 0.3435, 1), (181, 177, 0.2303, 3), (182, 26, 0.2518, 2),
          (182, 75, 0.2153, 3), (182, 89, 0.2775, 1), (183, 120, 0.1933, 2), (183, 53, 0.2514, 1), (183, 64, 0.1795, 3),
          (184, 114, 0.1711, 2), (184, 3, 0.1689, 3), (184, 49, 0.2219, 1), (185, 165, 0.3916, 1), (185, 33, 0.2427, 2),
          (185, 86, 0.2306, 3), (186, 166, 0.2092, 3), (186, 82, 0.2388, 1), (186, 9, 0.2161, 2), (187, 109, 0.3594, 1),
          (187, 193, 0.2825, 2), (187, 23, 0.2488, 3), (188, 159, 0.2562, 2), (188, 169, 0.2899, 1), (188, 42, 0.2282, 3),
          (189, 10, 0.1926, 2), (189, 40, 0.1493, 3), (189, 60, 0.3374, 1), (19, 46, 0.2669, 3), (19, 52, 0.2929, 2),
          (19, 87, 0.4032, 1), (190, 108, 0.3489, 1), (190, 194, 0.2746, 3), (190, 24, 0.2981, 2), (191, 122, 0.2995, 1),
          (191, 86, 0.2031, 3), (191, 94, 0.2565, 2), (192, 111, 0.263, 3), (192, 130, 0.2651, 2), (192, 3, 0.2908, 1),
          (193, 109, 0.238, 3), (193, 157, 0.248, 2), (193, 187, 0.2825, 1), (194, 129, 0.2162, 3), (194, 170, 0.2585, 2),
          (194, 190, 0.2746, 1), (195, 163, 0.2404, 2), (195, 31, 0.2256, 3), (195, 80, 0.2802, 1), (196, 119, 0.322, 1),
          (196, 8, 0.2615, 2), (196, 96, 0.2445, 3), (197, 141, 0.3055, 3), (197, 17, 0.3325, 1), (197, 82, 0.3228, 2),
          (198, 173, 0.2182, 3), (198, 73, 0.2461, 1), (198, 85, 0.2246, 2), (199, 101, 0.2642, 1), (199, 136, 0.2003, 3),
          (199, 196, 0.2197, 2), (2, 128, 0.2234, 3), (2, 197, 0.2331, 1), (2, 97, 0.225, 2), (20, 11, 0.3363, 2),
          (20, 117, 0.3457, 1), (20, 166, 0.3177, 3), (21, 155, 0.2861, 3), (21, 24, 0.302, 2), (21, 94, 0.3089, 1),
          (22, 151, 0.2203, 3), (22, 36, 0.2524, 1), (22, 60, 0.241, 2), (23, 141, 0.2668, 1), (23, 187, 0.2488, 3),
          (23, 32, 0.2587, 2), (24, 190, 0.2981, 2), (24, 21, 0.302, 1), (24, 75, 0.2356, 3), (25, 162, 0.3023, 1),
          (25, 52, 0.2657, 3), (25, 92, 0.2775, 2), (26, 162, 0.352, 1), (26, 45, 0.2675, 3), (26, 88, 0.2957, 2),
          (27, 150, 0.2165, 3), (27, 63, 0.347, 1), (27, 89, 0.2525, 2), (28, 193, 0.2115, 2), (28, 41, 0.2021, 3),
          (28, 55, 0.2127, 1), (29, 145, 0.3367, 2), (29, 192, 0.2527, 3), (29, 32, 0.3655, 1), (3, 130, 0.3999, 1),
          (3, 174, 0.3035, 2), (3, 192, 0.2908, 3), (30, 11, 0.3678, 1), (30, 111, 0.1986, 3), (30, 38, 0.2299, 2),
          (31, 15, 0.1882, 3), (31, 195, 0.2256, 1), (31, 80, 0.2159, 2), (32, 143, 0.3555, 2), (32, 23, 0.2587, 3),
          (32, 29, 0.3655, 1), (33, 100, 0.278, 2), (33, 17, 0.2534, 3), (33, 5, 0.311, 1), (34, 10, 0.2663, 1),
          (34, 100, 0.1986, 3), (34, 182, 0.1995, 2), (35, 132, 0.2077, 2), (35, 14, 0.2011, 3), (35, 8, 0.2326, 1),
          (36, 22, 0.2524, 1), (36, 7, 0.2261, 2), (36, 95, 0.2165, 3), (37, 142, 0.1887, 1), (37, 149, 0.1816, 3),
          (37, 166, 0.1864, 2), (38, 10, 0.2723, 2), (38, 155, 0.3453, 1), (38, 30, 0.2299, 3), (39, 138, 0.3297, 3),
          (39, 150, 0.3507, 2), (39, 8, 0.3847, 1), (4, 114, 0.3985, 1), (4, 89, 0.266, 2), (4, 92, 0.2133, 3),
          (40, 170, 0.2429, 1), (40, 197, 0.213, 2), (40, 91, 0.1965, 3), (41, 158, 0.2311, 2), (41, 162, 0.3163, 1),
          (41, 168, 0.2251, 3), (42, 141, 0.2419, 2), (42, 188, 0.2282, 3), (42, 69, 0.2534, 1), (43, 18, 0.2286, 2),
          (43, 21, 0.1982, 3), (43, 92, 0.2288, 1), (44, 10, 0.3552, 1), (44, 124, 0.2033, 3), (44, 8, 0.2632, 2),
          (45, 100, 0.3026, 1), (45, 26, 0.2675, 3), (45, 75, 0.2816, 2), (46, 121, 0.1946, 3), (46, 150, 0.2246, 2),
          (46, 19, 0.2669, 1), (47, 104, 0.2964, 1), (47, 151, 0.2445, 3), (47, 74, 0.2914, 2), (48, 131, 0.3533, 1),
          (48, 144, 0.2739, 3), (48, 162, 0.3037, 2), (49, 128, 0.2415, 2), (49, 184, 0.2219, 3), (49, 60, 0.3019, 1),
          (5, 133, 0.2375, 2), (5, 33, 0.311, 1), (5, 92, 0.2374, 3), (50, 118, 0.2351, 3), (50, 82, 0.3133, 2),
          (50, 91, 0.3481, 1), (51, 137, 0.2205, 3), (51, 47, 0.2353, 2), (51, 73, 0.3443, 1), (52, 19, 0.2929, 1),
          (52, 193, 0.2173, 3), (52, 25, 0.2657, 2), (53, 159, 0.2561, 2), (53, 183, 0.2514, 3), (53, 82, 0.2701, 1),
          (54, 148, 0.3026, 2), (54, 78, 0.3378, 1), (54, 97, 0.2606, 3), (55, 136, 0.2349, 2), (55, 167, 0.2421, 1),
          (55, 67, 0.229, 3), (56, 123, 0.2636, 2), (56, 14, 0.2503, 3), (56, 146, 0.3207, 1), (57, 131, 0.2906, 1),
          (57, 155, 0.2328, 3), (57, 75, 0.256, 2), (58, 149, 0.2447, 3), (58, 160, 0.2503, 1), (58, 93, 0.2497, 2),
          (59, 15, 0.3196, 1), (59, 180, 0.3145, 2), (59, 7, 0.2702, 3), (6, 11, 0.2359, 2), (6, 145, 0.2977, 1),
          (6, 88, 0.2039, 3), (60, 189, 0.3374, 1), (60, 49, 0.3019, 2), (60, 97, 0.2982, 3), (61, 160, 0.2053, 2),
          (61, 50, 0.1844, 3), (61, 8, 0.2437, 1), (62, 111, 0.3045, 1), (62, 114, 0.2578, 2), (62, 190, 0.2204, 3),
          (63, 125, 0.3959, 1), (63, 27, 0.347, 2), (63, 89, 0.2744, 3), (64, 1, 0.3164, 1), (64, 156, 0.2373, 3),
          (64, 18, 0.2406, 2), (65, 20, 0.1966, 3), (65, 22, 0.2098, 1), (65, 79, 0.2045, 2), (66, 176, 0.2347, 2),
          (66, 180, 0.207, 3), (66, 59, 0.2415, 1), (67, 176, 0.2633, 1), (67, 45, 0.262, 2), (67, 55, 0.229, 3),
          (68, 150, 0.2335, 3), (68, 168, 0.2864, 2), (68, 95, 0.3351, 1), (69, 148, 0.2704, 2), (69, 16, 0.279, 1),
          (69, 42, 0.2534, 3), (7, 36, 0.2261, 2), (7, 59, 0.2702, 1), (7, 9, 0.2084, 3), (70, 104, 0.3506, 1),
          (70, 116, 0.2551, 3), (70, 17, 0.2892, 2), (71, 26, 0.2394, 1), (71, 50, 0.1797, 2), (71, 60, 0.178, 3),
          (72, 126, 0.3089, 1), (72, 17, 0.2794, 2), (72, 79, 0.2558, 3), (73, 151, 0.238, 3), (73, 198, 0.2461, 2),
          (73, 51, 0.3443, 1), (74, 104, 0.2367, 3), (74, 151, 0.2788, 2), (74, 47, 0.2914, 1), (75, 24, 0.2356, 3),
          (75, 45, 0.2816, 1), (75, 57, 0.256, 2), (76, 124, 0.2552, 2), (76, 179, 0.2846, 1), (76, 95, 0.1881, 3),
          (77, 110, 0.1914, 3), (77, 174, 0.2476, 1), (77, 20, 0.2232, 2), (78, 14, 0.2308, 3), (78, 157, 0.244, 2),
          (78, 54, 0.3378, 1), (79, 120, 0.2189, 3), (79, 126, 0.2287, 2), (79, 72, 0.2558, 1), (8, 102, 0.2666, 2),
          (8, 39, 0.3847, 1), (8, 44, 0.2632, 3), (80, 195, 0.2802, 1), (80, 31, 0.2159, 3), (80, 92, 0.2282, 2),
          (81, 186, 0.1703, 3), (81, 96, 0.2909, 1), (81, 97, 0.2011, 2), (82, 197, 0.3228, 1), (82, 50, 0.3133, 2),
          (82, 53, 0.2701, 3), (83, 104, 0.2427, 3), (83, 105, 0.2969, 1), (83, 110, 0.2473, 2), (84, 0, 0.1839, 3),
          (84, 100, 0.1976, 2), (84, 169, 0.2156, 1), (85, 0, 0.2326, 1), (85, 130, 0.2071, 3), (85, 198, 0.2246, 2),
          (86, 133, 0.2465, 3), (86, 152, 0.2604, 2), (86, 167, 0.2701, 1), (87, 101, 0.2139, 2), (87, 149, 0.2064, 3),
          (87, 19, 0.4032, 1), (88, 123, 0.3271, 1), (88, 147, 0.3063, 2), (88, 26, 0.2957, 3), (89, 182, 0.2775, 1),
          (89, 4, 0.266, 3), (89, 63, 0.2744, 2), (9, 186, 0.2161, 1), (9, 20, 0.2098, 2), (9, 7, 0.2084, 3),
          (90, 113, 0.2421, 3), (90, 115, 0.2483, 2), (90, 145, 0.2681, 1), (91, 110, 0.2624, 3), (91, 116, 0.2672, 2),
          (91, 50, 0.3481, 1), (92, 162, 0.2859, 1), (92, 25, 0.2775, 2), (92, 5, 0.2374, 3), (93, 123, 0.2519, 1),
          (93, 126, 0.2453, 3), (93, 58, 0.2497, 2), (94, 191, 0.2565, 2), (94, 21, 0.3089, 1), (94, 42, 0.2013, 3),
          (95, 160, 0.2899, 2), (95, 170, 0.2393, 3), (95, 68, 0.3351, 1), (96, 150, 0.2457, 2), (96, 196, 0.2445, 3),
          (96, 81, 0.2909, 1), (97, 141, 0.2365, 3), (97, 54, 0.2606, 2), (97, 60, 0.2982, 1), (98, 159, 0.1715, 3),
          (98, 172, 0.3612, 1), (98, 3, 0.188, 2), (99, 137, 0.183, 2), (99, 174, 0.1377, 3), (99, 197, 0.2098, 1)
        ) AS t(a, b, cosine, rank)
    """


def oracle_sql() -> dict[str, str]:
    out = {
        "kg_triples": _kg_triples_sql(),
        "kg_precision_recall": _kg_precision_recall_sql(),
        "bpe_merges": _bpe_merges_sql(),
        "bpe_token_freq": _bpe_token_freq_sql(),
        "kg_events": _kg_events_sql(),
        "minhash_neardup": f"""
            WITH {_EXACT_JACCARD_PAIRS_CTES}
            SELECT a, b, jaccard FROM exact_pairs
        """,
        # the streaming path is pinned to equal the batch operator (by the
        # restart-idempotence test), so it shares the batch oracle
        "streaming_neardup": f"""
            WITH {_EXACT_JACCARD_PAIRS_CTES}
            SELECT a, b, jaccard FROM exact_pairs
        """,
        "dup_spans": """
            WITH norm AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS w
              FROM documents
            ),
            sized AS (
              SELECT doc_id, w,
                     CASE WHEN array_to_string(w, '') = '' THEN 0 ELSE len(w) END AS n_tokens
              FROM norm
            ),
            grams AS (
              SELECT doc_id, i AS start, i + 4 AS e,
                     md5(array_to_string(w[i:i+4], ' ')) AS gram
              FROM sized, LATERAL unnest(generate_series(1, n_tokens - 4)) AS t(i)
              WHERE n_tokens >= 5
            ),
            dup AS (
              SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM grams)
              GROUP BY gram HAVING count(*) >= 2
            ),
            spans AS (SELECT doc_id, start, e FROM grams JOIN dup USING (gram)),
            cov AS (
              SELECT doc_id,
                     sum(greatest(e - greatest(coalesce(pe, 0), start - 1), 0)) AS n_dup
              FROM (
                SELECT doc_id, start, e,
                       max(e) OVER (PARTITION BY doc_id ORDER BY start
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
                FROM spans
              )
              GROUP BY doc_id
            )
            SELECT s.doc_id, s.n_tokens::INT AS n_tokens,
                   coalesce(c.n_dup, 0)::INT AS n_dup_positions,
                   CASE WHEN s.n_tokens = 0 THEN 0.0
                        ELSE round(coalesce(c.n_dup, 0) / s.n_tokens, 4) END AS dup_token_fraction
            FROM sized s LEFT JOIN cov c ON s.doc_id = c.doc_id
        """,
        "dsir_weights": """
            WITH norm AS (
              SELECT doc_id, lang,
                     list_filter(string_split(trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' '),
                                 x -> x != '') AS w
              FROM documents
            ),
            uni AS (SELECT doc_id, lang, unnest(w) AS gram FROM norm),
            bi AS (
              SELECT doc_id, lang, array_to_string(w[i:i+1], ' ') AS gram
              FROM norm, LATERAL unnest(generate_series(1, len(w) - 1)) AS t(i)
              WHERE len(w) >= 2
            ),
            feats AS (
              SELECT doc_id, lang = 'en' AS is_target,
                     (('0x' || substring(md5(gram), 1, 8))::UBIGINT % 64)::BIGINT AS bucket
              FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
            ),
            pdb AS (SELECT doc_id, bucket, count(*) AS cnt FROM feats GROUP BY 1, 2),
            dist AS (
              SELECT bucket, count(*) AS q_cnt,
                     sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS p_cnt
              FROM feats GROUP BY 1
            ),
            tot AS (SELECT sum(q_cnt) AS q_tot, sum(p_cnt) AS p_tot FROM dist),
            wts AS (
              SELECT bucket,
                     round((ln((p_cnt + 1.0) / (p_tot + 64.0))
                          - ln((q_cnt + 1.0) / (q_tot + 64.0))) * 1e6)::BIGINT AS dm
              FROM dist, tot
            )
            SELECT doc_id, sum(cnt)::INT AS n_feats, sum(cnt * dm) / 1e6 AS log_weight
            FROM pdb JOIN wts USING (bucket) GROUP BY 1
        """,
        "embedding_gramian": """
            WITH ev AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
            idx AS (SELECT unnest(generate_series(0, 63)) AS i),
            g AS (
              SELECT a.i AS i, b.i AS j,
                     sum(floor(v[a.i + 1] * v[b.i + 1] * 1e6)::BIGINT) AS micro
              FROM ev, idx a, idx b
              WHERE b.i >= a.i
              GROUP BY 1, 2
            )
            SELECT i::INT AS i, j::INT AS j, micro / 1e6 AS gram FROM g
        """,
        # deterministic power iteration (all-ones start, 50 iters) over the
        # oracled Gramian — the summary is a stable literal at sf0.01
        "pca_top_eigen": """
            SELECT stat, value::DOUBLE AS value FROM (VALUES
              ('eigenvalue', 13.7814), ('dim', 64.0),
              ('argmax_component', 7.0), ('argmax_loading', -0.3846)
            ) AS t(stat, value)
        """,
        "tpch_q2_mincost": f"""
            WITH {_PS_SURROGATE_CTE},
            eu AS (
              SELECT ps.*, s_name, s_acctbal, n_name FROM ps
              JOIN supplier ON ps_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
            ),
            mn AS (SELECT ps_partkey, min(ps_supplycost) AS mc FROM eu GROUP BY 1)
            SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
                   ps_supplycost AS supplycost
            FROM eu JOIN mn ON eu.ps_partkey = mn.ps_partkey AND ps_supplycost = mc
            JOIN part ON eu.ps_partkey = p_partkey AND p_type = 'LARGE' AND p_size <= 15
        """,
        "tpch_q11_stockvalue": f"""
            WITH {_PS_SURROGATE_CTE},
            nps AS (
              SELECT ps.* FROM ps
              JOIN supplier ON ps_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_9'
            ),
            v AS (
              SELECT ps_partkey,
                     sum(round(ps_supplycost * ps_availqty * 100)::BIGINT) AS cents
              FROM nps GROUP BY 1
            ),
            tot AS (SELECT sum(cents) AS t FROM v)
            SELECT ps_partkey, cents / 100.0 AS value
            FROM v, tot WHERE cents > 0.001 * t
        """,
        "tpch_q20_excess": f"""
            WITH {_PS_SURROGATE_CTE},
            shipped AS (
              SELECT l_partkey, l_suppkey, sum(l_quantity) AS q96 FROM lineitem
              WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
              GROUP BY 1, 2
            ),
            excess AS (
              SELECT DISTINCT ps_suppkey FROM ps
              JOIN part ON ps_partkey = p_partkey AND p_name LIKE '%bolt%'
              JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
              WHERE ps_availqty > 6 * q96
            )
            SELECT s_suppkey, s_name, s_acctbal
            FROM supplier JOIN excess ON s_suppkey = ps_suppkey
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {_EXACT_JACCARD_PAIRS_CTES},
            e AS (SELECT a, b FROM exact_pairs UNION SELECT b, a FROM exact_pairs),
            reach(x, y) AS (
              SELECT a, b FROM e
              UNION
              SELECT r.x, e.b FROM reach r JOIN e ON r.y = e.a
            ),
            comp AS (SELECT x AS doc_id, min(y) AS mn FROM reach GROUP BY x)
            SELECT d.doc_id,
                   coalesce(least(c.mn, d.doc_id), d.doc_id) AS cluster_id,
                   (coalesce(least(c.mn, d.doc_id), d.doc_id) = d.doc_id) AS is_canonical
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        """,
        # pinned: simhash bit-votes need xxhash64 (not SQL-expressible); the
        # query runs over the repo-internal synth_documents corpus, so this
        # literal set is testdata-independent (derivation: each even-indexed
        # golden doc pairs with its one-word variant, doc 0 with its exact
        # dup 44, and variant 22 with that dup; docs 10/12's variants land
        # outside every 16-bit band)
        # measured recall@10 of the deterministic approximate-ANN paths vs
        # exact brute force at sf0.01 (all three paths are seeded/total-
        # ordered, so these are stable literals; a mismatch means the index
        # construction changed, not the data)
        "ann_recall": """
            SELECT method, query_id::BIGINT AS query_id, n_hits::BIGINT AS n_hits,
                   recall_at_10::DOUBLE AS recall_at_10
            FROM (VALUES
              ('lsh_b16x4', 1, 6, 0.6), ('lsh_b16x8', 1, 9, 0.9), ('ivf_probe2of8', 1, 10, 1.0),
              ('lsh_b16x4', 2, 2, 0.2), ('lsh_b16x8', 2, 10, 1.0), ('ivf_probe2of8', 2, 7, 0.7),
              ('lsh_b16x4', 3, 6, 0.6), ('lsh_b16x8', 3, 10, 1.0), ('ivf_probe2of8', 3, 9, 0.9)
            ) AS t(method, query_id, n_hits, recall_at_10)
        """,
        # pinned: FastCDC rolling-hash chunking over the deterministic
        # md5-chained corpus — the Gear boundary rule is not SQL-
        # expressible; the literal is generated from the pure-Python twin
        # that tests/test_cdc_fast.py pins the kernel against
        "cdc_fast_chunks": """
            SELECT doc_id::BIGINT AS doc_id, chunk_idx::INT AS chunk_idx,
                   chunk_start::INT AS chunk_start, chunk_hash
            FROM (VALUES
              (1, 0, 0, '6a2a7d340a4019d247cf58f625c6f575'),
              (1, 1, 16, '2aa255c1054625545ace4aa580f39044'),
              (1, 2, 191, '3b6721122b0b08806b8cf1d42d9fa608'),
              (1, 3, 296, '61ea4bef630acfdc46e0d25bd14fd577'),
              (1, 4, 353, '475953924231836d8966ed1adee5059a'),
              (1, 5, 551, 'd69e5bd24355c928d35d031088a480c8'),
              (2, 0, 0, 'aeb4ca8e8bf48000b4683efc4882e4ac'),
              (2, 1, 35, '0a02b861dbc70d7315bbb3bf73361497'),
              (2, 2, 63, '748b1ddfdc1c702ae9f20364fb36ada7'),
              (2, 3, 117, 'a7f5c42da99a173aefdd80c1c47c2245'),
              (2, 4, 141, '6896df5735c144fef047c1a4c1f66e01'),
              (2, 5, 187, '24b574e08e65220a21b9b9cae8884bb3'),
              (2, 6, 227, '89b9aa0065f613fb4e3e261f940119f1'),
              (2, 7, 283, '05642b449b74a187f7ef629c022bb51f'),
              (2, 8, 316, '65766c7b76e3b70d9c6252b8a5327721'),
              (2, 9, 334, '95bf75b425e71ed512b1603e3713725d'),
              (2, 10, 392, '10c9954d48d0e3b67ea86be41acf5de5'),
              (2, 11, 488, '3086a418e350b476e8b4daa6521deef9'),
              (2, 12, 507, '25d3ac0026ae7d4b380c2c3ec3fe4867'),
              (2, 13, 570, '2cde5722ca3570881ac050a43137cd38'),
              (2, 14, 602, 'e3857153c6c6f13a23151136e971d36c'),
              (3, 0, 0, '056079c0c3ade78f95626d91a838a164'),
              (4, 0, 0, '224fd52be12a2303260f0680e20e3fdf'),
              (4, 1, 19, '85a0d215a10a7af565eeed59a68d9745'),
              (4, 2, 203, 'a01e24c7efca321464c9e93709988b57'),
              (4, 3, 307, '0a305d216ccd1add49294a638e940f86'),
              (4, 4, 563, 'adee68b41efc1c2fe6691ffd05e78bc8'),
              (4, 5, 581, '4de213dc241cd59c51406bf1511dd763'),
              (4, 6, 605, '691edf4222e4dd26aefcb209ebe9ed90'),
              (4, 7, 659, '3b03a5d6caebaaf3341fe8c536831354'),
              (4, 8, 738, 'c29d5ebd4c34c077e072b6f52c054a53'),
              (4, 9, 790, '4fd6ba101230295d66ca901a3623477b'),
              (4, 10, 807, '1e11646f4cba45e45a8752d44e2e2d1c'),
              (4, 11, 907, 'edfd817cb78b87970d7d97fd704790ba'),
              (4, 12, 1132, '6f5e2364a96840e0b0bf97b0b4e83c63')
            ) AS t(doc_id, chunk_idx, chunk_start, chunk_hash)
        """,
        "simhash_bands": """
            SELECT a::BIGINT AS a, b::BIGINT AS b FROM (VALUES
              (0, 22), (0, 44), (2, 24), (4, 26), (6, 28), (8, 30),
              (14, 36), (16, 38), (18, 40), (20, 42), (22, 44)
            ) AS t(a, b)
        """,
        # pinned Q1 over the golden KG (hand-checkable: 27 entity nodes of
        # 4 types, 34 deduped edges incl. INVOLVES, avg confidence over the
        # 24 non-INVOLVES edges = 0.82 — reference graph_db.py:153-179)
        "kg_insights": """
            SELECT stat, value::DOUBLE AS value FROM (VALUES
              ('avg_confidence', 0.82), ('total_entities', 27.0),
              ('total_relationships', 34.0), ('type:GPE', 5.0),
              ('type:ORG', 9.0), ('type:PERSON', 6.0), ('type:PRODUCT', 7.0)
            ) AS t(stat, value)
        """,
        # pinned: canonicalization over the golden node set — the two
        # suffix aliases collapse ("Apple Inc."->"Apple", "Tesla Corp."->
        # "Tesla"); every other name is its own canonical id
        "canonicalize": """
            SELECT * FROM (VALUES
              ('Alibaba', 'ORG', 'Alibaba'), ('Amazon', 'ORG', 'Amazon'),
              ('Android', 'PRODUCT', 'Android'), ('Apple', 'ORG', 'Apple'),
              ('Beats', 'ORG', 'Beats'), ('Bill Gates', 'PERSON', 'Bill Gates'),
              ('California', 'GPE', 'California'), ('Cupertino', 'GPE', 'Cupertino'),
              ('Echo', 'PRODUCT', 'Echo'), ('Fire TV', 'PRODUCT', 'Fire TV'),
              ('Ford Motors', 'ORG', 'Ford Motors'), ('Google', 'ORG', 'Google'),
              ('Jeff Bezos', 'PERSON', 'Jeff Bezos'), ('Kindle', 'PRODUCT', 'Kindle'),
              ('Microsoft', 'ORG', 'Microsoft'), ('Pixel', 'PRODUCT', 'Pixel'),
              ('PlayStation', 'PRODUCT', 'PlayStation'), ('Redmond', 'GPE', 'Redmond'),
              ('Satya Nadella', 'PERSON', 'Satya Nadella'), ('Seattle', 'GPE', 'Seattle'),
              ('Sony', 'ORG', 'Sony'), ('Steve Jobs', 'PERSON', 'Steve Jobs'),
              ('Sundar Pichai', 'PERSON', 'Sundar Pichai'), ('Tesla', 'ORG', 'Tesla'),
              ('Texas', 'GPE', 'Texas'), ('Tim Cook', 'PERSON', 'Tim Cook'),
              ('iPhone', 'PRODUCT', 'iPhone')
            ) AS t(name, type, canonical_id)
        """,
        # pinned: 10-iteration damped PageRank over the golden KG's 24
        # non-INVOLVES edges (deterministic driver loop, 6dp)
        "pagerank_top": """
            SELECT node, rank::DOUBLE AS rank FROM (VALUES
              ('Apple', 0.112462), ('Android', 0.065522), ('Microsoft', 0.063794),
              ('Redmond', 0.058723), ('Amazon', 0.05848), ('PlayStation', 0.05848),
              ('Texas', 0.05848), ('Beats', 0.055509), ('Cupertino', 0.055509),
              ('iPhone', 0.055509), ('Alibaba', 0.039896), ('Fire TV', 0.039896),
              ('Google', 0.039896), ('Kindle', 0.039896), ('Seattle', 0.039896)
            ) AS t(node, rank)
        """,
        "tpch_q9_profit": """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INT) AS o_year,
                   round(sum(l_extendedprice * (1 - l_discount)
                             - 0.5 * p_retailprice * l_quantity), 2) AS sum_profit
            FROM lineitem
            JOIN part ON p_partkey = l_partkey AND p_name LIKE '%red%'
            JOIN orders ON o_orderkey = l_orderkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation ON n_nationkey = s_nationkey
            GROUP BY 1, 2
        """,
        "tpch_q8": """
            WITH amer_cust AS (
              SELECT c_custkey FROM customer
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey AND r_name = 'AMERICA'
            )
            SELECT year(o_orderdate)::INT AS o_year,
                   round(sum(CASE WHEN n.n_name = 'NATION_1'
                             THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                         / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
            JOIN orders ON l_orderkey = o_orderkey
            JOIN amer_cust ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n ON s_nationkey = n.n_nationkey
            WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1997-01-01'
            GROUP BY o_year ORDER BY o_year
        """,
        "tpch_q21": """
            WITH os_supp AS (
              SELECT l_orderkey, l_suppkey,
                     max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_ret
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
              GROUP BY l_orderkey, l_suppkey
            ), per_order AS (
              SELECT l_orderkey, count(*) AS n_supp, sum(has_ret) AS n_ret_supp
              FROM os_supp GROUP BY l_orderkey
            )
            SELECT s_name, count(*) AS numwait
            FROM os_supp
            JOIN per_order USING (l_orderkey)
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE has_ret = 1 AND n_supp > 1 AND n_ret_supp = 1
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 20
        """,
        "shard_manifest": """
            WITH sh AS (
              SELECT (('0x' || substring(md5(doc_id::VARCHAR || ':kgb'), 1, 8))::BIGINT
                      % 16)::INT AS shard,
                     text
              FROM documents
            )
            SELECT shard, count(*) AS n_docs,
                   sum(length(text))::BIGINT AS n_chars,
                   sum(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE array_length(regexp_split_to_array(trim(text), '\\s+'))
                       END)::BIGINT AS n_tokens
            FROM sh GROUP BY shard
        """,
        "vocab_stats": """
            WITH d AS (
              SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 x -> x <> '') AS ws
              FROM documents WHERE length(trim(text)) > 0
            ), pos AS (
              SELECT n.n AS n, ws, unnest(range(1, len(ws) - n.n + 2)) AS i
              FROM d CROSS JOIN (VALUES (1), (2), (3)) n(n)
            ), g AS (
              SELECT n, array_to_string(list_slice(ws, i, i + n - 1), ' ') AS gram
              FROM pos
            )
            SELECT n::INT AS n, count(*) AS total_grams,
                   count(DISTINCT gram) AS distinct_grams,
                   round(count(DISTINCT gram)::DOUBLE / count(*), 6) AS ttr
            FROM g GROUP BY n ORDER BY n
        """,
        "tfidf_topk": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
              FROM documents WHERE length(trim(text)) > 0
            ), tf AS (
              SELECT doc_id, tok, count(*) AS tf
              FROM toks WHERE tok <> '' GROUP BY doc_id, tok
            ), dfreq AS (
              SELECT tok, count(*) AS df FROM tf GROUP BY tok
            ), nd AS (
              SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs FROM tf
            ), scored AS (
              SELECT tf.doc_id, tf.tok AS term,
                     round(tf.tf * (ln((1 + nd.n_docs) / (1 + dfreq.df)) + 1), 4) AS score
              FROM tf JOIN dfreq USING (tok) CROSS JOIN nd
            )
            SELECT doc_id, term, score, rnk::INT AS rnk
            FROM (
              SELECT *, row_number() OVER (
                       PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
              FROM scored
            ) WHERE rnk <= 3
        """,
        "mixture_weights": """
            WITH per_source AS (
              SELECT source, count(*) AS n_docs,
                     sum(length(text))::BIGINT AS n_chars
              FROM documents GROUP BY source
            ), tot AS (
              SELECT sum(n_docs)::DOUBLE AS tot_docs,
                     sum(pow(n_docs, 0.5)) AS tot_pow
              FROM per_source
            )
            SELECT source, n_docs, n_chars,
                   round(n_docs / tot_docs, 6) AS share,
                   round(pow(n_docs, 0.5) / tot_pow, 6) AS weight,
                   round((pow(n_docs, 0.5) / tot_pow) / (n_docs / tot_docs), 6) AS boost
            FROM per_source CROSS JOIN tot
        """,
        # pinned: 5-round self-vote-damped synchronous LPA over the golden
        # KG (most-frequent neighbor label, min-label tie-break)
        "label_propagation": """
            SELECT node, community FROM (VALUES
              ('Alibaba', 'Alibaba'), ('Amazon', 'Alibaba'),
              ('Android', 'Alibaba'), ('Apple', 'Apple'),
              ('Beats', 'Apple'), ('Cupertino', 'Apple'),
              ('Fire TV', 'Alibaba'), ('Ford Motors', 'Ford Motors'),
              ('Google', 'Alibaba'), ('Jeff Bezos', 'Alibaba'),
              ('Kindle', 'Alibaba'), ('Microsoft', 'Alibaba'),
              ('PlayStation', 'PlayStation'), ('Redmond', 'Alibaba'),
              ('Seattle', 'Alibaba'), ('Sony', 'PlayStation'),
              ('Steve Jobs', 'Apple'), ('Texas', 'Ford Motors'),
              ('Tim Cook', 'Apple'), ('iPhone', 'Apple')
            ) AS t(node, community)
        """,
        # pinned: mention->entity link scores over the golden KG (exact
        # self-links score 0.5*1+0.3*1+0.2*1=1.0; the two suffixed aliases
        # score 0.5*0.5+0.3*0+0.2*1=0.45 against their bare-name entity)
        "entity_linking": """
            SELECT mention, entity, link_score::DOUBLE AS link_score FROM (VALUES
              ('Alibaba', 'Alibaba', 1.0), ('Amazon', 'Amazon', 1.0),
              ('Android', 'Android', 1.0), ('Apple', 'Apple', 1.0),
              ('Apple Inc.', 'Apple', 0.45), ('Beats', 'Beats', 1.0),
              ('Bill Gates', 'Bill Gates', 1.0), ('California', 'California', 1.0),
              ('Cupertino', 'Cupertino', 1.0), ('Fire TV', 'Fire TV', 1.0),
              ('Ford Motors', 'Ford Motors', 1.0), ('Google', 'Google', 1.0),
              ('Jeff Bezos', 'Jeff Bezos', 1.0), ('Kindle', 'Kindle', 1.0),
              ('Microsoft', 'Microsoft', 1.0), ('Pixel', 'Pixel', 1.0),
              ('PlayStation', 'PlayStation', 1.0), ('Redmond', 'Redmond', 1.0),
              ('Satya Nadella', 'Satya Nadella', 1.0), ('Seattle', 'Seattle', 1.0),
              ('Sony', 'Sony', 1.0), ('Steve Jobs', 'Steve Jobs', 1.0),
              ('Sundar Pichai', 'Sundar Pichai', 1.0), ('Tesla Corp.', 'Tesla', 0.45),
              ('Texas', 'Texas', 1.0), ('Tim Cook', 'Tim Cook', 1.0),
              ('iPhone', 'iPhone', 1.0)
            ) AS t(mention, entity, link_score)
        """,
        # derived, not pinned: synth_media is seeded-deterministic — images
        # are ids 0,3,..,27 with payload length 64+(id%5)*32, and the fake
        # feature vector is normalized so it sums to exactly 1
        "media_features": """
            SELECT id AS media_id, (64 + (id % 5) * 32)::INT AS n_bytes,
                   1.0::DOUBLE AS feat_sum
            FROM generate_series(0, 27, 3) AS t(id)
        """,
        # derived: videos are ids 2,5,..,29 with duration 3000ms; sampling
        # every 500ms gives frames 0..5 at ts = idx*500
        "frame_samples": """
            SELECT id AS media_id, f::INT AS frame_idx, (f * 500)::INT AS ts_ms
            FROM generate_series(2, 29, 3) AS t(id),
                 generate_series(0, 5) AS g(f)
        """,
        # golden-pinned (hand derivation: "Steve Jobs founded Apple" ->
        # R1 FOUNDED indicator at 0.95 survives D1 over the SVO duplicate,
        # PERSON-FOUNDED->COMPANY passes V1/V2)
        "pdf_ingest": """
            SELECT * FROM (VALUES ('Steve Jobs', 'FOUNDED', 'Apple'))
            AS t(source, type, target)
        """,
        "anti_join": """
            SELECT c_nationkey, count(*) AS n_idle_customers
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            GROUP BY c_nationkey
        """,
        "moving_avg": """
            SELECT o_custkey, o_orderkey,
                   round(avg(round(o_totalprice * 100)::BIGINT) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 100.0, 4) AS mavg3
            FROM orders WHERE o_custkey < 300
        """,
        "event_gaps": """
            WITH lagged AS (
              SELECT user_id,
                     floor(epoch(ts))::BIGINT - lag(floor(epoch(ts))::BIGINT)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
              FROM events
            )
            SELECT user_id, count(*) AS n_gaps,
                   round(avg(gap_s), 2) AS avg_gap_s,
                   max(gap_s) AS max_gap_s
            FROM lagged WHERE gap_s IS NOT NULL GROUP BY user_id
        """,
        "cube_agg": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "ntile_quartiles": """
            SELECT quartile, count(*) AS n,
                   round(min(o_totalprice), 2) AS min_price,
                   round(max(o_totalprice), 2) AS max_price
            FROM (
              SELECT o_totalprice,
                     (ntile(4) OVER (ORDER BY o_totalprice DESC, o_orderkey))::INT AS quartile
              FROM orders
            )
            GROUP BY quartile
        """,
        "quartile_bands": """
            WITH h AS (
              SELECT l_quantity AS q, count(*) AS cnt FROM lineitem GROUP BY 1
            ),
            c AS (
              SELECT q, cnt,
                     sum(cnt) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS cum,
                     (SELECT count(*) FROM lineitem) AS total
              FROM h
            )
            SELECT least(4, ceil(4.0 * cum / total))::BIGINT AS band,
                   sum(cnt)::BIGINT AS n,
                   round(min(q), 2) AS min_qty,
                   round(max(q), 2) AS max_qty
            FROM c GROUP BY 1
        """,
        "corr_stats": """
            SELECT l_returnflag,
                   round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
                   round(stddev_samp(l_quantity), 4) AS sd_qty,
                   round(covar_samp(l_quantity, l_discount), 4) AS cov_qty_disc
            FROM lineitem GROUP BY l_returnflag
        """,
        "month_rollup": """
            SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1
        """,
        # BFS fixpoint as a recursive CTE; UNION (not UNION ALL) dedups
        # (node, hops) pairs so recursion terminates, min(hops) = distance
        # int8 quantization recomputed in list lambdas; scale forced to
        # DOUBLE so both engines round identical IEEE quotients
        "quantize_embeddings": """
            WITH q AS (
              SELECT vec_id, embedding,
                     list_max(list_transform(embedding, x -> abs(x)))::DOUBLE / 127.0 AS scale
              FROM embeddings
            ),
            c AS (
              SELECT vec_id, embedding, scale,
                     CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
                          ELSE list_transform(embedding,
                                              x -> round(x::DOUBLE / scale)::INT)
                     END AS codes
              FROM q
            )
            SELECT vec_id,
                   len(codes)::INT AS n_dims,
                   round(scale, 9) AS scale_r,
                   list_sum(codes)::BIGINT AS code_sum,
                   list_min(codes)::INT AS code_min,
                   list_max(codes)::INT AS code_max,
                   round(CASE WHEN scale = 0 THEN 0.0
                              ELSE list_max(list_transform(embedding,
                                   x -> abs(x::DOUBLE - round(x::DOUBLE / scale) * scale)))
                         END, 9) AS max_abs_err
            FROM c
        """,
        "bfs_levels": """
            WITH RECURSIVE e AS (
              SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS s,
                              's' || CAST(l_suppkey AS VARCHAR) AS d
              FROM lineitem
            ),
            u AS (SELECT s, d FROM e UNION SELECT d, s FROM e),
            bfs(node, hops) AS (
              SELECT 'p1', 0
              UNION
              SELECT u.d, b.hops + 1 FROM bfs b JOIN u ON u.s = b.node
              WHERE b.hops < 3
            )
            SELECT node, CAST(min(hops) AS INT) AS hops FROM bfs GROUP BY node
        """,
        "degree_stats": """
            WITH e AS (SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem),
            o AS (SELECT src AS node, count(*) AS out_degree FROM e GROUP BY 1),
            i AS (SELECT dst AS node, count(*) AS in_degree FROM e GROUP BY 1)
            SELECT coalesce(o.node, i.node) AS node,
                   coalesce(out_degree, 0) AS out_degree,
                   coalesce(in_degree, 0) AS in_degree,
                   coalesce(out_degree, 0) + coalesce(in_degree, 0) AS degree
            FROM o FULL OUTER JOIN i ON o.node = i.node
        """,
        "triangle_counts": """
            WITH e AS (SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem),
            und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                    FROM e WHERE src <> dst),
            tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                    FROM und e1
                    JOIN und e2 ON e2.a = e1.b
                    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
            SELECT node, count(*) AS n_triangles FROM (
                SELECT x AS node FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri
            ) GROUP BY node
        """,
        "bm25_search": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
              FROM documents WHERE length(trim(text)) > 0
            ),
            toks2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
            dl AS (SELECT doc_id, count(*) AS dl FROM toks2 GROUP BY doc_id),
            corpus AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
            tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks2
                   WHERE tok IN ('merge', 'spark', 'vector')
                   GROUP BY doc_id, tok),
            df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
            SELECT tf.doc_id,
                   round(sum(
                     ln(1.0 + (c.n_docs - df.df + 0.5) / (df.df + 0.5))
                     * tf.tf * 2.2
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / c.avgdl))
                   ), 4) AS score
            FROM tf
            JOIN df ON tf.tok = df.tok
            JOIN dl ON tf.doc_id = dl.doc_id
            CROSS JOIN corpus c
            GROUP BY tf.doc_id
            ORDER BY score DESC, tf.doc_id
            LIMIT 20
        """,
        "unigram_lm": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
              FROM documents WHERE length(trim(text)) > 0
            ),
            toks2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
            tf AS (SELECT tok, count(*) AS c FROM toks2 GROUP BY tok),
            tot AS (SELECT sum(c)::DOUBLE AS t FROM tf)
            SELECT d.doc_id,
                   count(*) AS n_tokens,
                   round(-sum(ln(tf.c / (SELECT t FROM tot))) / count(*), 4) AS xent
            FROM toks2 d JOIN tf ON d.tok = tf.tok
            GROUP BY d.doc_id
        """,
        "neighbor_jaccard": """
            WITH e AS (SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem),
            und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                    FROM e WHERE src <> dst),
            adj AS (SELECT a AS node, b AS nbr FROM und
                    UNION ALL SELECT b AS node, a AS nbr FROM und),
            deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY node),
            common AS (
              SELECT l.nbr AS a, r.nbr AS b, count(*) AS common
              FROM adj l JOIN adj r ON l.node = r.node AND l.nbr < r.nbr
              GROUP BY 1, 2 HAVING count(*) >= 2
            ),
            pairs AS (SELECT c.a, c.b, c.common
                      FROM common c JOIN und u ON c.a = u.a AND c.b = u.b)
            SELECT p.a, p.b, p.common,
                   round(p.common::DOUBLE / (da.deg + db.deg - p.common), 6) AS jaccard
            FROM pairs p
            JOIN deg da ON p.a = da.node
            JOIN deg db ON p.b = db.node
        """,
        "kcore_nodes": """
            SELECT node, core_degree::BIGINT AS core_degree FROM (VALUES
              ('Amazon', 2), ('Android', 2), ('Apple', 7),
              ('Apple acquires Beats', 2), ('Apple product launch', 2),
              ('Beats', 2), ('Google', 3), ('Google product launch', 2),
              ('Microsoft', 2), ('Tim Cook', 2), ('Tim Cook joins Apple', 2),
              ('iPhone', 2)
            ) AS t(node, core_degree)
        """,
        "doc_quality": _doc_quality_sql(),
        "ivf_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 2)
            SELECT vec_id,
                   round(
                     list_dot_product(embedding::DOUBLE[], (SELECT qe FROM q))
                     / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                        * (SELECT sqrt(list_dot_product(qe, qe)) FROM q)),
                     4) AS cosine
            FROM embeddings
            ORDER BY cosine DESC, vec_id
            LIMIT 10
        """,
        "percentiles": """
            SELECT l_returnflag,
                   round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
                   round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
                   round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price
            FROM lineitem GROUP BY l_returnflag
        """,
        "pivot_counts": """
            SELECT l_returnflag,
                   count(*) FILTER (WHERE l_linestatus = 'F') AS n_f,
                   count(*) FILTER (WHERE l_linestatus = 'O') AS n_o
            FROM lineitem GROUP BY l_returnflag
        """,
        "rollup_agg": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "set_ops": """
            SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995
            INTERSECT
            SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
            EXCEPT
            SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        """,
        "asof_join": """
            WITH o AS (
              SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_orderkey
              FROM orders GROUP BY 1, 2
            )
            SELECT e.event_id, e.user_id, o.last_orderkey AS asof_orderkey
            FROM events e
            ASOF JOIN o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        """,
        "sessionize": """
            WITH lagged AS (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT > 1800
                          THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id, sum(is_new)::BIGINT AS n_sessions, count(*) AS n_events
            FROM lagged GROUP BY user_id
        """,
        "range_join": """
            SELECT p_brand, count(*) AS n, round(avg(l_quantity), 2) AS avg_qty
            FROM lineitem JOIN part
              ON l_partkey = p_partkey
             AND l_quantity BETWEEN p_size - 5 AND p_size + 5
            GROUP BY p_brand
        """,
        "ngram_jaccard": """
            WITH norm AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS w
              FROM documents WHERE doc_id < 120
            ),
            sh AS (
              SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
              FROM norm, LATERAL unnest(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            pairs AS (
              SELECT sa.doc_id AS a, sb.doc_id AS b, count(*) AS n_inter
              FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
              GROUP BY 1, 2
            )
            SELECT a, b, round(n_inter / (za.n + zb.n - n_inter), 4) AS jaccard
            FROM pairs JOIN sizes za ON pairs.a = za.doc_id
                       JOIN sizes zb ON pairs.b = zb.doc_id
            WHERE n_inter / (za.n + zb.n - n_inter) >= 0.01
        """,
        "cosine_neardup": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE vec_id < 150)
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round(list_dot_product(a.emb, b.emb)
                         / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 4) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.emb, b.emb)
                  / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))) >= 0.2
        """,
        "semantic_dedup": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            seeds AS (
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, emb
                FROM e ORDER BY vec_id LIMIT 8
            ),
            dist AS (
                SELECT e.vec_id, s.cluster,
                       round(list_dot_product(e.emb, e.emb)
                             - 2 * list_dot_product(e.emb, s.emb)
                             + list_dot_product(s.emb, s.emb), 6) AS d
                FROM e CROSS JOIN seeds s
            ),
            assigned AS (
                SELECT vec_id, cluster FROM (
                    SELECT vec_id, cluster,
                           row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
                    FROM dist) WHERE rn = 1
            ),
            m AS (SELECT a.vec_id, a.cluster, e.emb FROM assigned a JOIN e USING (vec_id)),
            pairs AS (
                SELECT x.vec_id AS a, y.vec_id AS b, x.cluster,
                       list_dot_product(x.emb, y.emb)
                       / (sqrt(list_dot_product(x.emb, x.emb))
                          * sqrt(list_dot_product(y.emb, y.emb))) AS cos_raw
                FROM m x JOIN m y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
            )
            SELECT b AS vec_id, cluster, min(a) AS dup_of,
                   round(arg_min(cos_raw, a), 4) AS cosine
            FROM pairs WHERE cos_raw >= 0.2
            GROUP BY b, cluster
        """,
        "quality_flags": f"""
            WITH base AS (
              SELECT doc_id, text,
                     (CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE array_length(regexp_split_to_array(trim(text), '\\s+')) END)::INT AS n_tokens,
                     array_length(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE
                         / greatest(length(text), 1) AS punct_ratio,
                     ' ' || lower(regexp_replace(text, '[^\\w\\s]', '', 'g')) || ' ' AS pad
              FROM documents
            ),
            scored AS (
              SELECT doc_id, n_tokens, punct_ratio,
                     ({_stopword_hits_sql()})::DOUBLE / greatest(n_tokens, 1) AS stopword_ratio
              FROM base
            )
            SELECT doc_id, n_tokens,
                   round(punct_ratio, 4) AS punct_ratio,
                   round(stopword_ratio, 4) AS stopword_ratio,
                   round(CASE WHEN n_tokens BETWEEN 5 AND 10000 THEN 0.4 ELSE 0.0 END
                       + CASE WHEN punct_ratio <= 0.2 THEN 0.3
                              WHEN punct_ratio <= 0.4 THEN 0.15 ELSE 0.0 END
                       + CASE WHEN stopword_ratio >= 0.05 THEN 0.3 ELSE 0.0 END, 2)::DOUBLE AS quality
            FROM scored
        """,
        "conv_assembly": """
            SELECT user_id,
                   string_agg(event_type, '|' ORDER BY ts, event_id) AS event_seq,
                   count(*) AS n_events
            FROM events GROUP BY user_id
        """,
        "when_chain_classify": """
            SELECT CASE WHEN l_quantity < 10 THEN 'low'
                        WHEN l_quantity < 30 THEN 'mid'
                        ELSE 'high' END AS qty_band,
                   l_returnflag,
                   count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem GROUP BY 1, 2
        """,
        "dedup_first_seen": """
            SELECT o_custkey,
                   o_orderkey AS first_orderkey,
                   round(o_totalprice, 2) AS first_totalprice
            FROM orders
            QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1
        """,
        "pair_join_bounded": """
            SELECT a.l_orderkey, count(*) AS n_pairs
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
            GROUP BY a.l_orderkey
        """,
        "insights_agg": """
            SELECT l_returnflag,
                   count(DISTINCT l_orderkey) AS n_orders,
                   round(avg(l_discount), 2) AS avg_discount,
                   count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        """,
        "explode_tokens": """
            SELECT token, count(*) AS n
            FROM (SELECT unnest(string_split(p_type, ' ')) AS token FROM part)
            GROUP BY token
        """,
        "validation_join": """
            SELECT o_orderpriority, count(*) AS n
            FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
            GROUP BY o_orderpriority
        """,
        "topk_window": """
            SELECT o_orderpriority, o_orderkey,
                   round(o_totalprice, 2) AS totalprice,
                   (row_number() OVER (PARTITION BY o_orderpriority
                                       ORDER BY o_totalprice DESC, o_orderkey))::INT AS rk
            FROM orders
            QUALIFY rk <= 3
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 2) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q5": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name
        """,
        "tpch_q6": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "tpch_q10_top20": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2)::DOUBLE AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "tpch_q14_promo": """
            SELECT round(
                     100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4
                   ) AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        """,
        "tpch_q18_bigorders": """
            WITH big AS (
              SELECT l_orderkey, sum(l_quantity) AS sum_qty
              FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 240
            )
            SELECT c_name, c_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   round(o_totalprice, 2) AS o_totalprice,
                   round(sum_qty, 2) AS sum_qty
            FROM orders
            JOIN big      ON o_orderkey = big.l_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        # winnowing (Schleimer et al.) recomputed exactly: char-8-gram md5
        # at every position of the normalized text, min per 4-gram window,
        # distinct per doc, then pairs sharing >= 3 fingerprints
        "winnow_pairs": """
            WITH d AS (
              SELECT doc_id,
                     trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
              FROM documents WHERE doc_id % 5 = 0
            ),
            g AS (
              SELECT doc_id, i AS pos, md5(substr(t, i, 8)) AS h
              FROM d, LATERAL unnest(generate_series(1, greatest(length(t) - 7, 1))) AS u(i)
            ),
            w AS (
              SELECT DISTINCT doc_id,
                     min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
              FROM g
            )
            SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS shared
            FROM w x JOIN w y ON x.fp = y.fp AND x.doc_id < y.doc_id
            GROUP BY 1, 2
            HAVING count(*) >= 3
        """,
        # the streaming query's emitted set == all real windows (sentinel
        # advances the watermark past them; its own window never closes),
        # so the oracle is the plain windowed aggregate
        "streaming_turn_stats": """
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS window_start,
                   event_type AS role,
                   count(*)::BIGINT AS n_turns,
                   sum(length(props))::BIGINT AS sum_len,
                   round(avg(length(props)), 4) AS avg_len,
                   max(length(props))::INT AS max_len
            FROM events
            GROUP BY 1, 2
        """,
        # stream-stream inner join twin: the plain time-range batch join
        "streaming_enrich_join": """
            WITH tr AS (
              SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id,
                     event_id::INT AS turn_idx, ts AS turn_ts
              FROM events
            ),
            fl AS (
              SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id,
                     props AS flag, ts AS flag_ts
              FROM events WHERE event_type = 'purchase'
            )
            SELECT tr.conv_id, tr.turn_idx, fl.flag,
                   epoch_us(tr.turn_ts) AS turn_ts_us,
                   epoch_us(fl.flag_ts) AS flag_ts_us
            FROM tr JOIN fl ON tr.conv_id = fl.conv_id
                           AND tr.turn_ts >= fl.flag_ts - INTERVAL 1 HOUR
                           AND tr.turn_ts <= fl.flag_ts
        """,
        # streaming session_window twin: lag/sum sessionization, one row
        # per (conv_id, session); new session when the gap since the
        # key's previous event EXCEEDS 6h (the inclusive-end merge rule)
        "streaming_sessions": """
            WITH tr AS (
              SELECT 'c' || CAST(user_id AS VARCHAR) AS conv_id, ts,
                     length(props) AS len
              FROM events
            ),
            f AS (
              SELECT conv_id, ts, len,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
                          THEN 1 ELSE 0 END AS is_new
              FROM tr
              WINDOW w AS (PARTITION BY conv_id ORDER BY ts)
            ),
            s AS (
              SELECT conv_id, ts, len,
                     sum(is_new) OVER (PARTITION BY conv_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
              FROM f
            )
            SELECT conv_id,
                   epoch_us(min(ts)) AS session_start_us,
                   epoch_us(max(ts) + INTERVAL 6 HOUR) AS session_end_us,
                   count(*)::BIGINT AS n_turns,
                   sum(len)::BIGINT AS sum_len
            FROM s
            GROUP BY conv_id, sid
        """,
        "unk_rare_tokens": """
            WITH arrs AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
              FROM documents WHERE length(trim(text)) > 0
            ),
            tok AS (
              SELECT doc_id, gs AS pos, arr[gs] AS tok
              FROM arrs, LATERAL unnest(generate_series(1, len(arr))) AS t(gs)
            ),
            kept AS (
              SELECT tok FROM tok GROUP BY tok
              HAVING count(DISTINCT doc_id) >= 385
            ),
            rep AS (
              SELECT t.doc_id, t.pos,
                     CASE WHEN k.tok IS NOT NULL THEN t.tok ELSE '<unk>' END AS tok2
              FROM tok t LEFT JOIN kept k ON t.tok = k.tok
            )
            SELECT doc_id,
                   string_agg(tok2, ' ' ORDER BY pos) AS pruned_text,
                   count(*)::BIGINT AS n_tokens,
                   sum(CASE WHEN tok2 = '<unk>' THEN 1 ELSE 0 END)::BIGINT AS n_unk
            FROM rep GROUP BY doc_id
        """,
        "chunk_documents": """
            SELECT doc_id,
                   ((gs - 1) / 96)::INT AS chunk_idx,
                   (gs - 1)::INT AS chunk_start,
                   substring(text, gs, 128) AS chunk_text
            FROM documents,
                 LATERAL unnest(generate_series(1, length(text), 96)) AS t(gs)
            WHERE text IS NOT NULL AND length(text) > 0
        """,
        "pack_documents": """
            WITH t AS (
              SELECT doc_id,
                     (CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE array_length(regexp_split_to_array(trim(text), '\\s+')) END)::INT AS n_tokens,
                     (doc_id % 8)::INT AS shard
              FROM documents
            ),
            c AS (
              SELECT shard, doc_id, n_tokens,
                     coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
              FROM t
            )
            SELECT shard, floor(before / 256.0)::BIGINT AS bin, doc_id, n_tokens,
                   (before % 256)::BIGINT AS bin_offset
            FROM c
        """,
        "curate_corpus": """
            WITH w AS (
              SELECT doc_id, lang, text,
                     CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS ws,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
              FROM documents
            ),
            g AS (
              SELECT doc_id, lang, text, n_tokens,
                     CASE WHEN len(ws) >= 3
                          THEN [array_to_string(ws[i:i+2], ' ')
                                FOR i IN generate_series(1, len(ws) - 2)]
                          ELSE []::VARCHAR[] END AS grams
              FROM w
            ),
            base AS (
              SELECT doc_id, lang, n_tokens,
                     CASE WHEN len(grams) = 0 THEN 0.0
                          ELSE 1.0 - len(list_distinct(grams)) / len(grams) END AS rep_ratio,
                     md5(trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))) AS fp,
                     substring(md5(doc_id::VARCHAR || ':kgb'), 1, 8) AS bucket
              FROM g
            ),
            canon AS (SELECT fp, min(doc_id) AS canon_id FROM base GROUP BY fp)
            SELECT b.doc_id, b.lang, b.n_tokens,
                   CASE WHEN b.n_tokens < 30 THEN 'too_short'
                        WHEN b.rep_ratio > 0.5 THEN 'repetitive'
                        WHEN b.doc_id <> c.canon_id THEN 'duplicate'
                        WHEN b.bucket >= CASE b.lang WHEN 'en' THEN '80000000'
                                                     WHEN 'fr' THEN 'g'
                                                     ELSE 'cccccccc' END
                             THEN 'sampled_out'
                        ELSE 'kept' END AS decision
            FROM base b JOIN canon c USING (fp)
        """,
        "tpch_q4_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1996-04-01'
              AND EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
              )
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "tpch_q19_disc": """
            SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
                   count(*) AS n_lines
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
                   AND l.l_quantity BETWEEN 1 AND 11)
               OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
                   AND l.l_quantity BETWEEN 10 AND 20)
               OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 50
                   AND l.l_quantity BETWEEN 20 AND 30)
        """,
        "tpch_q7_volume": """
            SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                   year(l.l_shipdate)::INT AS l_year,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey
            WHERE l.l_shipdate >= '1995-01-01' AND l.l_shipdate < '1997-01-01'
              AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
                OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
            GROUP BY 1, 2, 3
            ORDER BY 1, 2, 3
        """,
        "tpch_q12_priority_class": """
            SELECT l.l_linestatus,
                   count(*) FILTER (WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
                     AS high_line_count,
                   count(*) FILTER (WHERE o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
                     AS low_line_count
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate >= '1997-01-01' AND l.l_shipdate < '1998-01-01'
            GROUP BY l.l_linestatus
            ORDER BY l.l_linestatus
        """,
        "tpch_q13_custdist": """
            WITH per_cust AS (
              SELECT c.c_custkey, count(o.o_orderkey) AS c_count
              FROM customer c
              LEFT JOIN (SELECT o_orderkey, o_custkey FROM orders
                         WHERE o_orderpriority <> '1-URGENT') o
                ON c.c_custkey = o.o_custkey
              GROUP BY c.c_custkey
            )
            SELECT c_count, count(*) AS custdist
            FROM per_cust GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "tpch_q15_top_supplier": """
            WITH rev AS (
              SELECT l_suppkey AS supplier_no,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
              GROUP BY l_suppkey
            )
            SELECT s.s_suppkey, s.s_name, rev.total_revenue
            FROM rev JOIN supplier s ON rev.supplier_no = s.s_suppkey
            WHERE rev.total_revenue = (SELECT max(total_revenue) FROM rev)
            ORDER BY s.s_suppkey
        """,
        "tpch_q16_supplier_cnt": """
            WITH ps AS (SELECT DISTINCT l_partkey AS ps_partkey,
                                        l_suppkey AS ps_suppkey FROM lineitem)
            SELECT p.p_brand, p.p_type, p.p_size,
                   count(DISTINCT ps.ps_suppkey) AS supplier_cnt
            FROM ps JOIN part p ON ps.ps_partkey = p.p_partkey
            WHERE p.p_brand <> 'Brand#45' AND p.p_type <> 'PROMO'
              AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
            GROUP BY p.p_brand, p.p_type, p.p_size
            ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
        """,
        "tpch_q17_small_qty": """
            WITH lj AS (
              SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              WHERE p.p_brand = 'Brand#23'
            ),
            avg_q AS (SELECT l_partkey, avg(l_quantity) AS avg_qty
                      FROM lj GROUP BY l_partkey)
            SELECT round(sum(lj.l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM lj JOIN avg_q ON lj.l_partkey = avg_q.l_partkey
            WHERE lj.l_quantity < 0.2 * avg_q.avg_qty
        """,
        "tpch_q22_inactive": """
            SELECT c.c_nationkey,
                   count(*) AS numcust,
                   round(sum(c.c_acctbal), 2) AS totacctbal
            FROM customer c
            WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer
                                 WHERE c_acctbal > 0.0)
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >= '1999-01-01')
            GROUP BY c.c_nationkey
            ORDER BY c.c_nationkey
        """,
        "stratified_sample": """
            SELECT doc_id, lang
            FROM documents
            WHERE substring(md5(doc_id::VARCHAR || ':kgb'), 1, 8) <
                  CASE lang
                    WHEN 'de' THEN '40000000'
                    WHEN 'en' THEN '80000000'
                    WHEN 'fr' THEN 'g'
                    ELSE '19999999'
                  END
        """,
        # A-ES key ln(u)/w with u = (md5 bucket + 0.5) / 2^32 — identical
        # IEEE doubles in both engines, so ranks agree
        "weighted_sample": """
            WITH s AS (
              SELECT doc_id, lang, n_chars,
                     ln((('0x' || substring(md5(doc_id::VARCHAR || ':es-v1'), 1, 8))::UBIGINT
                         + 0.5) / 4294967296.0) / n_chars AS es_key
              FROM documents WHERE n_chars > 0
            ),
            r AS (
              SELECT doc_id, lang, n_chars,
                     row_number() OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id)::INT
                       AS sample_rank
              FROM s
            )
            SELECT doc_id, lang, n_chars, sample_rank FROM r WHERE sample_rank <= 20
        """,
        "snapshot_diff": """
            WITH newsnap AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN 'REVISED' ELSE text END AS text,
                     lang, source, n_chars
              FROM documents WHERE doc_id % 11 <> 0
              UNION ALL
              SELECT doc_id + 1000000, text, lang, source, n_chars
              FROM documents WHERE doc_id < 50
            ),
            d AS (
              SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
                     CASE WHEN o.doc_id IS NULL THEN 'added'
                          WHEN n.doc_id IS NULL THEN 'removed'
                          WHEN (n.text IS DISTINCT FROM o.text)
                               OR (n.lang IS DISTINCT FROM o.lang)
                               OR (n.source IS DISTINCT FROM o.source)
                               OR (n.n_chars IS DISTINCT FROM o.n_chars)
                          THEN 'changed' END AS change
              FROM newsnap n FULL OUTER JOIN documents o ON n.doc_id = o.doc_id
            )
            SELECT doc_id, change FROM d WHERE change IS NOT NULL
        """,
        # cumulative thresholds: 0.8*2^32 = 0xcccccccc, 0.9*2^32 = 0xe6666666
        "split_corpus": """
            SELECT doc_id, lang,
                   CASE WHEN substring(md5(doc_id::VARCHAR || ':split-v1'), 1, 8) < 'cccccccc'
                             THEN 'train'
                        WHEN substring(md5(doc_id::VARCHAR || ':split-v1'), 1, 8) < 'e6666666'
                             THEN 'val'
                        ELSE 'test'
                   END AS split
            FROM documents
        """,
        "contamination": """
            WITH w AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS ws
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(ws) >= 3
                          THEN list_distinct([array_to_string(ws[i:i+2], ' ')
                                              FOR i IN generate_series(1, len(ws) - 2)])
                          ELSE []::VARCHAR[] END AS grams
              FROM w
            ),
            eg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
            c AS (SELECT doc_id, grams FROM g WHERE doc_id % 97 <> 0),
            ex AS (SELECT doc_id, unnest(grams) AS gram FROM c),
            m AS (SELECT ex.doc_id, count(*) AS n_matched
                  FROM ex JOIN eg USING (gram) GROUP BY ex.doc_id)
            SELECT c.doc_id, len(c.grams)::INT AS n_grams,
                   coalesce(m.n_matched, 0)::INT AS n_matched,
                   CASE WHEN len(c.grams) = 0 THEN 0.0
                        ELSE round(coalesce(m.n_matched, 0) / len(c.grams), 4)
                   END AS contamination
            FROM c LEFT JOIN m USING (doc_id)
        """,
        "audio_features": """
            SELECT media_id, n_samples, n_frames, rms_mean::DOUBLE AS rms_mean,
                   peak_frame
            FROM (VALUES
              (1::BIGINT, 96, 6, 72.1697, 5),
              (4::BIGINT, 192, 12, 72.1411, 2),
              (7::BIGINT, 128, 8, 73.6311, 1),
              (10::BIGINT, 64, 4, 64.7825, 2),
              (13::BIGINT, 160, 10, 73.1948, 5),
              (16::BIGINT, 96, 6, 69.4635, 4),
              (19::BIGINT, 192, 12, 72.8814, 9),
              (22::BIGINT, 128, 8, 72.6991, 7),
              (25::BIGINT, 64, 4, 66.226, 2),
              (28::BIGINT, 160, 10, 72.9655, 0)
            ) AS t(media_id, n_samples, n_frames, rms_mean, peak_frame)
        """,
        "redact_pii": """
            WITH aug AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 3 = 0
                             THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                             ELSE '' END
                     || CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-5309' ELSE '' END
                     || CASE WHEN doc_id % 7 = 0 THEN ' host 192.168.10.1' ELSE '' END
                     || CASE WHEN doc_id % 11 = 0 THEN ' id 123-45-6789' ELSE '' END
                     AS text
              FROM documents
            ),
            s0 AS (
              SELECT doc_id, text,
                     len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::INT AS n_email,
                     regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
              FROM aug
            ),
            s1 AS (
              SELECT *, len(regexp_extract_all(t1, '\\b\\d{3}-\\d{2}-\\d{4}\\b'))::INT AS n_ssn,
                     regexp_replace(t1, '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<ID>', 'g') AS t2
              FROM s0
            ),
            s2 AS (
              SELECT *, len(regexp_extract_all(t2, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b'))::INT AS n_phone,
                     regexp_replace(t2, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g') AS t3
              FROM s1
            ),
            s3 AS (
              SELECT *, len(regexp_extract_all(t3, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::INT AS n_ipv4,
                     regexp_replace(t3, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS t4
              FROM s2
            )
            SELECT doc_id, t4 AS redacted, n_email, n_ssn, n_phone, n_ipv4,
                   (n_email + n_ssn + n_phone + n_ipv4)::INT AS n_pii
            FROM s3
        """,
        "repetition_stats": """
            WITH w AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS ws
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(ws) >= 3
                          THEN [array_to_string(ws[i:i+2], ' ')
                                FOR i IN generate_series(1, len(ws) - 2)]
                          ELSE []::VARCHAR[] END AS grams
              FROM w
            )
            SELECT doc_id,
                   len(grams)::INT AS n_grams,
                   len(list_distinct(grams))::INT AS n_distinct,
                   CASE WHEN len(grams) = 0 THEN 0.0
                        ELSE round(1.0 - len(list_distinct(grams)) / len(grams), 4)
                   END AS rep_ratio
            FROM g
        """,
        "tpch_q3_top10": """
            SELECT l.l_orderkey,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
              AND l.l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
            GROUP BY l.l_orderkey
            ORDER BY revenue DESC, l.l_orderkey
            LIMIT 10
        """,
        "health": "SELECT 'healthy' AS status",
        "cms_heavy_hitters": r"""
            WITH w2 AS (
              SELECT word FROM (
                SELECT unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
                           '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS word
                FROM documents
              ) WHERE length(word) >= 2
            ),
            rows_ AS (SELECT unnest(range(4)) AS row),
            sketch AS (
              SELECT row, cell, count(*) AS n FROM (
                SELECT r.row,
                       ('0x' || substring(md5('cms-' || r.row || ':' || word), 1, 7))::BIGINT % 512 AS cell
                FROM w2 CROSS JOIN rows_ r
              ) GROUP BY row, cell
            ),
            exact AS (
              SELECT word, count(*) AS n FROM w2 GROUP BY word ORDER BY n DESC, word LIMIT 20
            ),
            probes AS (
              SELECT e.word, r.row,
                     ('0x' || substring(md5('cms-' || r.row || ':' || e.word), 1, 7))::BIGINT % 512 AS cell
              FROM exact e CROSS JOIN rows_ r
            )
            SELECT e.word, e.n, min(coalesce(s.n, 0))::BIGINT AS est
            FROM exact e
            JOIN probes p USING (word)
            LEFT JOIN sketch s ON s.row = p.row AND s.cell = p.cell
            GROUP BY e.word, e.n
        """,
        "word_freq_topk": """
            SELECT word, count(*) AS n
            FROM (
              SELECT unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')) AS word
              FROM documents
            )
            WHERE length(word) >= 2
            GROUP BY word
            ORDER BY n DESC, word
            LIMIT 20
        """,
        "label_stats": """
            SELECT label, count(*) AS n,
                   round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4) AS avg_norm
            FROM embeddings GROUP BY label
        """,
        "dedup_exact": f"""
            WITH {_DUP_CORPUS_CTE},
            g AS (
              SELECT fingerprint, count(*) AS n_docs, min(doc_id)::VARCHAR AS canonical_id
              FROM fp GROUP BY fingerprint HAVING count(*) >= 2
            ),
            r AS (
              SELECT fingerprint, doc_id,
                     row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
              FROM fp
            ),
            s AS (
              SELECT fingerprint, string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS sample_ids
              FROM r WHERE rn <= 20 GROUP BY fingerprint
            )
            SELECT g.fingerprint, g.n_docs, g.canonical_id, s.sample_ids
            FROM g JOIN s USING (fingerprint)
        """,
        "dedup_members": f"""
            WITH {_DUP_CORPUS_CTE},
            g AS (
              SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS canonical_id
              FROM fp GROUP BY fingerprint HAVING count(*) >= 2
            )
            SELECT fp.fingerprint,
                   fp.doc_id::VARCHAR AS doc_id,
                   g.n_docs,
                   g.canonical_id::VARCHAR AS canonical_id,
                   fp.doc_id = g.canonical_id AS is_canonical
            FROM fp JOIN g USING (fingerprint)
        """,
        "text_stats": """
            SELECT doc_id,
                   (CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE array_length(regexp_split_to_array(trim(text), '\\s+')) END)::INT AS n_tokens,
                   array_length(regexp_extract_all(text, '[A-Za-z]+|\\d|[^A-Za-z\\d\\s]'))::INT AS n_bpe_tokens,
                   array_length(regexp_extract_all(text, '[^\\w\\s]'))::INT AS n_punct,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
            FROM documents
        """,
        "lang_markers": """
            SELECT doc_id,
                   (
                     (length(pad) - length(replace(pad, ' the ', ''))) / 5
                   + (length(pad) - length(replace(pad, ' and ', ''))) / 5
                   + (length(pad) - length(replace(pad, ' of ', ''))) / 4
                   + (length(pad) - length(replace(pad, ' to ', ''))) / 4
                   + (length(pad) - length(replace(pad, ' is ', ''))) / 4
                   )::INT AS en_hits,
                   (
                     (length(pad) - length(replace(pad, ' der ', ''))) / 5
                   + (length(pad) - length(replace(pad, ' die ', ''))) / 5
                   + (length(pad) - length(replace(pad, ' und ', ''))) / 5
                   + (length(pad) - length(replace(pad, ' ist ', ''))) / 5
                   + (length(pad) - length(replace(pad, ' nicht ', ''))) / 7
                   )::INT AS de_hits
            FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS pad FROM documents)
        """,
        "ann_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 1)
            SELECT vec_id,
                   round(
                     list_dot_product(embedding::DOUBLE[], (SELECT qe FROM q))
                     / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                        * (SELECT sqrt(list_dot_product(qe, qe)) FROM q)),
                     4) AS cosine
            FROM embeddings
            ORDER BY cosine DESC, vec_id
            LIMIT 10
        """,
        # literal pins for the last four previously rows-only queries
        # (golden-KG viz projections; deterministic LSH outputs at the
        # seeded, read-only sf tables):
        "viz_nodes": _viz_nodes_sql(),
        "viz_graph": _viz_graph_sql(),
        "lsh_topk": _lsh_topk_sql(),
        "knn_allpairs": _knn_allpairs_sql(),
    }
    # the drained incremental-DSIR weights equal the batch operator
    # (pinned by test_stream_dsir_matches_batch_and_redelivery), so the
    # streaming query shares the batch oracle verbatim
    out["streaming_dsir"] = out["dsir_weights"]
    # the bucketed-input pipeline emits the identical triple set (zero-
    # Exchange plan pinned by test), so it shares the golden literal
    out["kg_triples_bucketed"] = out["kg_triples"]
    # incremental maintenance converges the store to the full corpus's
    # triple set; the store MERGEs on (src, type, dst) across documents,
    # so both sides project the doc-agnostic distinct key
    out["kg_incremental"] = (
        "SELECT DISTINCT source, type, target FROM (" + out["kg_triples"] + ") t"
    )
    # the 3-snapshot torture sequence adds/re-adds whole conversations at
    # full content only, so its MERGE-accumulated final state is the same
    # full-corpus distinct triple set
    out["kg_incremental_multi"] = out["kg_incremental"]
    # content-defined chunking: replay the rolling md5 boundary rule
    # (boundary at 1-indexed end position i when the md5-bucket of the
    # trailing 16-char window is 0 mod 64), rebuild chunk spans with a
    # lag window plus the per-doc final chunk, drop the trailing empty
    # pseudo-chunk (s > e)
    out["cdc_chunks"] = """
        WITH d AS (
          SELECT doc_id, text FROM documents
          WHERE text IS NOT NULL AND length(text) > 0
        ),
        b AS (
          SELECT doc_id, i::INT AS i
          FROM d, LATERAL unnest(generate_series(16, length(text))) t(i)
          WHERE ('0x' || substring(md5(substring(text, i::INT - 15, 16)), 1, 8))::UBIGINT % 64 = 0
        ),
        se AS (
          SELECT doc_id,
                 (coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1)::INT AS s,
                 i AS e
          FROM b
          UNION ALL
          SELECT d.doc_id, (coalesce(mx.m, 0) + 1)::INT AS s, length(d.text)::INT AS e
          FROM d LEFT JOIN (SELECT doc_id, max(i) AS m FROM b GROUP BY 1) mx USING (doc_id)
        ),
        c AS (
          SELECT doc_id, s, e,
                 (row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1)::INT AS chunk_idx
          FROM se WHERE e >= s
        )
        SELECT c.doc_id, chunk_idx, (s - 1)::INT AS chunk_start,
               substring(d.text, s, e - s + 1) AS chunk_text,
               md5(substring(d.text, s, e - s + 1)) AS chunk_hash
        FROM c JOIN d USING (doc_id)
    """
    # incremental canonicalization: hand-derived final mapping ("Globex"
    # arriving re-canonicalizes the previously self-canonical "Globex
    # Corp"; "Acme Inc." aliases onto "Acme"; singletons stay themselves)
    out["canonicalize_incr"] = """
        SELECT * FROM (VALUES
          ('Acme', 'Acme'), ('Acme Inc.', 'Acme'),
          ('Fresh Unique', 'Fresh Unique'),
          ('Globex', 'Globex'), ('Globex Corp', 'Globex'),
          ('Solo Name', 'Solo Name')
        ) AS t(name, canonical_id)
    """
    return out
