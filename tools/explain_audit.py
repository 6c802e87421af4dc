"""Plan-quality audit: run `.explain` over the headline queries and assert
the physical properties the 100-TB design depends on:

* parquet scans carry PushedFilters / pruned ReadSchema where expected;
* scalar logic sits inside WholeStageCodegen spans;
* dimension joins (nation/region/customer-BUILDING) are broadcast;
* the fused pipeline contains exactly ONE exchange up to the kernel.

Usage: python tools/explain_audit.py [sf_dir]
Prints one PASS/FAIL line per check and exits non-zero on failure.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def plan_of(df, execute: bool = False) -> str:
    if execute:
        df.collect()  # finalize AQE so codegen stages are visible
    return df._jdf.queryExecution().executedPlan().toString()


def fmt_plan_of(df) -> str:
    """explain("formatted") as a string — the only rendering that shows
    the bucketed-scan decision ('Bucketed: true' vs 'Bucketed: false
    (disabled by query planner)'), which the operator-tree string hides."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def main(sf_dir: str) -> int:
    import __spark_entry__ as entry
    from knowledge_graph_builder_spark.session import get_spark
    from knowledge_graph_builder_spark.operators.extraction import EMIT_GRAPH, extract_from_transcripts
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.sources.synth import golden_transcripts

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    failures = []

    def check(name: str, ok: bool, detail: str = ""):
        print(f"[{'PASS' if ok else 'FAIL'}] {name}{(' — ' + detail) if detail and not ok else ''}")
        if not ok:
            failures.append(name)

    # 1) predicate pushdown + column pruning on the scan-dominant query
    q6 = entry.queries()["tpch_q6"](spark, sf_dir)
    p6 = plan_of(q6, execute=True)
    check("q6 pushed filters reach parquet", "PushedFilters: [" in p6 and "IsNotNull(l_shipdate)" in p6, p6[:400])
    # l_tax and l_returnflag EXIST in the table but are unused by q6 — a
    # pruning regression would put them in ReadSchema (a nonexistent
    # column like l_comment would make this check vacuous)
    check("q6 column pruning (no l_tax/l_returnflag)", "l_tax" not in p6 and "l_returnflag" not in p6)
    # codegen'd operators print as "*(n) Op" in the finalized plan
    check("q6 whole-stage codegen", "WholeStageCodegen" in p6 or "*(" in p6, p6[:600])

    # 2) broadcast joins on dimension tables
    p5 = plan_of(entry.queries()["tpch_q5"](spark, sf_dir))
    check("q5 broadcasts nation/region", p5.count("BroadcastHashJoin") >= 2, p5[:400])
    p3 = plan_of(entry.queries()["tpch_q3_top10"](spark, sf_dir))
    check("q3 broadcasts customer dim", "BroadcastHashJoin" in p3)
    check("q3 top-k avoids global sort", "TakeOrderedAndProject" in p3)

    # 3) fused pipeline: exactly one exchange up to the kernel
    kr = extract_from_transcripts(golden_transcripts(spark), 8, emit=EMIT_GRAPH)
    pk = plan_of(kr)
    n_ex = pk.count("Exchange ")
    check("fused kernel has exactly one exchange", n_ex == 1, f"found {n_ex}")
    check("fused kernel is Arrow-evaluated", "MapInArrow" in pk, pk[:400])
    # the relational path runs the same Arrow kernel over assembled documents
    prk = plan_of(run_pipeline(spark, golden_transcripts(spark), fused=False, persist=False).kernel_rows)
    check("relational kernel is the same Arrow kernel (no pandas emission)",
          "MapInArrow" in prk and "MapInPandas" not in prk, prk[:400])
    # triple and INVOLVES edges share ONE keep-last window; no aggregate
    pe = plan_of(run_pipeline(spark, golden_transcripts(spark), persist=False).edges)
    check("fused edges dedup is one Window and no Aggregate",
          pe.count("Window [") == 1 and "Aggregate" not in pe, pe[:600])

    # 4) round-2 additions
    p10 = plan_of(entry.queries()["tpch_q10_top20"](spark, sf_dir))
    check("q10 broadcasts nation dim", "BroadcastHashJoin" in p10)
    check("q10 pushes returnflag filter", "l_returnflag" in p10 and "PushedFilters" in p10)
    check("q10 top-k avoids global sort", "TakeOrderedAndProject" in p10)

    pq = plan_of(entry.queries()["quartile_bands"](spark, sf_dir))
    check("quartile_bands prunes to l_quantity", "ReadSchema: struct<l_quantity:double>" in pq, pq[:400])
    check("quartile_bands has exactly one window (over the histogram)", pq.count("Window") == 1)
    check("quartile_bands broadcasts the total", "BroadcastNestedLoopJoin" in pq or "BroadcastExchange" in pq)

    pw = plan_of(entry.queries()["winnow_pairs"](spark, sf_dir))
    check("winnow window is per-document", "windowspecdefinition(doc_id" in pw, pw[:400])
    check("winnow pair join is hash, not nested-loop", "CartesianProduct" not in pw)
    pmh = plan_of(entry.queries()["minhash_neardup"](spark, sf_dir))
    check("minhash_neardup pair join is hash, not nested-loop",
          "CartesianProduct" not in pmh and "BroadcastNestedLoopJoin" not in pmh, pmh[:400])

    # 5) round-2 curation surface
    pr = plan_of(entry.queries()["redact_pii"](spark, sf_dir))
    check("redact_pii is map-only (no exchange)", "Exchange" not in pr, pr[:400])
    prs = plan_of(entry.queries()["repetition_stats"](spark, sf_dir))
    check("repetition_stats is map-only (no exchange)", "Exchange" not in prs)
    pss = plan_of(entry.queries()["stratified_sample"](spark, sf_dir))
    check("stratified_sample is map-only (no exchange)", "Exchange" not in pss)
    pc = plan_of(entry.queries()["contamination"](spark, sf_dir))
    check("contamination broadcasts the eval gram set", "BroadcastHashJoin" in pc, pc[:400])
    check("contamination avoids nested-loop joins", "CartesianProduct" not in pc and "BroadcastNestedLoopJoin" not in pc)
    pcc = plan_of(entry.queries()["curate_corpus"](spark, sf_dir))
    check("curate_corpus scans the corpus once", pcc.count("Scan parquet") == 1, pcc[:400])
    check("curate_corpus shuffles only the fp window", pcc.count("Exchange hashpartitioning") == 1)

    # 6) late-round-2 additions
    p8 = plan_of(entry.queries()["tpch_q8"](spark, sf_dir))
    check("q8 broadcasts every dim (part/region/nation/cust/supp)", p8.count("BroadcastHashJoin") >= 5, p8[:400])
    check("q8 shuffles once (lineitem x orders)", p8.count("Exchange hashpartitioning") <= 2)
    p21 = plan_of(entry.queries()["tpch_q21"](spark, sf_dir))
    check("q21 scans lineitem once (window, not self-join)", p21.count("Scan parquet") <= 3, p21[:400])
    psh = plan_of(entry.queries()["shard_manifest"](spark, sf_dir))
    check("shard_manifest is one scan + one exchange", psh.count("Scan parquet") == 1 and psh.count("Exchange hashpartitioning") == 1, psh[:400])
    pv = plan_of(entry.queries()["vocab_stats"](spark, sf_dir))
    check("vocab_stats scans the corpus once for all n-gram orders", pv.count("Scan parquet") == 1, pv[:400])
    pt = plan_of(entry.queries()["tfidf_topk"](spark, sf_dir))
    check("tfidf df via window, not a corpus re-aggregation", pt.count("Scan parquet") <= 2, pt[:400])
    check("tfidf has no cartesian product", "CartesianProduct" not in pt)
    pm = plan_of(entry.queries()["mixture_weights"](spark, sf_dir))
    check("mixture_weights aggregates the corpus once", pm.count("Scan parquet") == 1, pm[:400])

    # 7) this session's curation/graph/quantization additions
    pch = plan_of(entry.queries()["chunk_documents"](spark, sf_dir))
    check("chunk_documents is map-only (no exchange)", "Exchange" not in pch, pch[:400])
    psp = plan_of(entry.queries()["split_corpus"](spark, sf_dir))
    check("split_corpus is map-only (no exchange)", "Exchange" not in psp)
    pqe = plan_of(entry.queries()["quantize_embeddings"](spark, sf_dir))
    check("quantize_embeddings is map-only (no exchange)", "Exchange" not in pqe, pqe[:400])
    pun = plan_of(entry.queries()["unk_rare_tokens"](spark, sf_dir))
    check("unk_rare_tokens broadcasts the kept vocab", "BroadcastHashJoin" in pun, pun[:400])
    check("unk_rare_tokens has no nested-loop join", "CartesianProduct" not in pun)
    p9 = plan_of(entry.queries()["tpch_q9_profit"](spark, sf_dir))
    check("q9 broadcasts part + supplier dims", p9.count("BroadcastHashJoin") >= 2, p9[:400])
    check("q9 has no cartesian product", "CartesianProduct" not in p9)
    pws = plan_of(entry.queries()["weighted_sample"](spark, sf_dir))
    check("weighted_sample pushes rank<=k into the sort (WindowGroupLimit)",
          "WindowGroupLimit" in pws, pws[:400])
    check("weighted_sample shuffles once (stratum window)",
          pws.count("Exchange hashpartitioning") == 1)
    psd = plan_of(entry.queries()["snapshot_diff"](spark, sf_dir))
    check("snapshot_diff joins hash-wise, not nested-loop",
          "CartesianProduct" not in psd and "BroadcastNestedLoopJoin" not in psd, psd[:400])
    psem = plan_of(entry.queries()["semantic_dedup"](spark, sf_dir))
    check("semantic_dedup broadcasts the cluster-size guard",
          "BroadcastHashJoin" in psem, psem[:400])
    check("semantic_dedup pair join is hash on cluster, not nested-loop",
          "CartesianProduct" not in psem and psem.count("BroadcastNestedLoopJoin") == 0)

    # 8) round-3 additions
    pde = plan_of(entry.queries()["dedup_exact"](spark, sf_dir))
    check("dedup_exact rank-caps the member sample (WindowGroupLimit)",
          "WindowGroupLimit" in pde, pde[:400])
    check("dedup_exact has no nested-loop join", "CartesianProduct" not in pde)
    pds = plan_of(entry.queries()["dup_spans"](spark, sf_dir))
    check("dup_spans joins duplicated grams hash-wise",
          "CartesianProduct" not in pds and "BroadcastNestedLoopJoin" not in pds, pds[:400])
    check("dup_spans coverage sweep is one per-doc window", pds.count("Window") == 1)
    pdw = plan_of(entry.queries()["dsir_weights"](spark, sf_dir))
    check("dsir bucket weights broadcast back to doc features",
          "BroadcastHashJoin" in pdw, pdw[:400])
    check("dsir totals are a broadcast 1-row cross join",
          pdw.count("BroadcastNestedLoopJoin") <= 1)
    pg = plan_of(entry.queries()["embedding_gramian"](spark, sf_dir))
    check("gramian kernel is Arrow-evaluated", "MapInArrow" in pg, pg[:400])
    check("gramian shuffles only d^2 partial rows",
          pg.count("Exchange hashpartitioning") == 1)
    p2 = plan_of(entry.queries()["tpch_q2_mincost"](spark, sf_dir))
    check("q2 broadcasts supplier-chain and part dims",
          p2.count("BroadcastHashJoin") >= 2, p2[:400])
    check("q2 per-part min joins hash-wise (no window over parts)",
          "CartesianProduct" not in p2)
    p11 = plan_of(entry.queries()["tpch_q11_stockvalue"](spark, sf_dir))
    check("q11 total is a broadcast 1-row cross join",
          "BroadcastNestedLoopJoin" in p11 or "BroadcastExchange" in p11, p11[:400])
    p20 = plan_of(entry.queries()["tpch_q20_excess"](spark, sf_dir))
    check("q20 broadcasts the part filter and supplier set",
          p20.count("BroadcastHashJoin") >= 2, p20[:400])
    check("q20 has no cartesian product", "CartesianProduct" not in p20)

    # round-4 additions
    qkb = entry.queries()["kg_triples_bucketed"](spark, sf_dir)
    pkb = plan_of(qkb)
    check("bucketed pipeline plans ZERO exchanges (clustered scan -> kernel)",
          "Exchange" not in pkb, pkb[:600])
    check("bucketed pipeline kernel is Arrow-evaluated", "MapInArrow" in pkb, pkb[:400])
    # zero-Exchange is necessary but not sufficient: Spark 4's
    # DisableUnnecessaryBucketedScan can DEMOTE the scan to size-based file
    # splits (breaking conversation co-location at production file sizes)
    # without adding an Exchange. Assert the scan is actually bucketed and
    # reads exactly one partition per bucket (the table is written with 4).
    fkb = fmt_plan_of(qkb)
    check("bucketed pipeline scan is ACTUALLY bucketed (not planner-demoted)",
          "Bucketed: true" in fkb and "disabled by query planner" not in fkb,
          fkb[:800])
    check("bucketed pipeline reads one partition per bucket",
          qkb.rdd.getNumPartitions() == 4,
          f"partitions={qkb.rdd.getNumPartitions()}")
    # Spark drops the repartition only when the partition count matches
    # the bucket count: read the same 4-bucket table at 8 and it shuffles
    p8 = plan_of(extract_from_transcripts(spark.table("kgb_oracle_db.golden_bucketed"), 8, emit=EMIT_GRAPH))
    check("bucketed table read at 8 partitions (4 buckets) plans exactly one exchange",
          p8.count("Exchange ") == 1, p8[:600])
    pci =plan_of(entry.queries()["canonicalize_incr"](spark, sf_dir))
    check("incremental canonicalize has no cartesian product",
          "CartesianProduct" not in pci, pci[:400])
    # the small-graph CC path hands its components back as an Arrow-backed
    # local relation (here empty, so the optimizer drops the join): no
    # Python-RDD scan, the only ExistingRDD is the transcripts' own input
    pcn = plan_of(entry.queries()["canonicalize"](spark, sf_dir))
    pin = plan_of(run_pipeline(spark, golden_transcripts(spark), persist=False).nodes)
    check("canonicalize components come back without a Python RDD",
          pcn.count("ExistingRDD") == pin.count("ExistingRDD"), pcn[-600:])

    spark.stop()
    print(f"\n{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"))
