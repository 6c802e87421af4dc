"""Transcript source formats (parquet / JSON-lines / CSV) must feed the
pipeline identically, and the streaming foreachBatch checkpoint must make
restarts idempotent (a restart with the same checkpoint reprocesses
nothing; new files process exactly once)."""

from __future__ import annotations

import pytest

from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
from knowledge_graph_builder_spark.sources.synth import golden_transcripts
from knowledge_graph_builder_spark.sources.transcripts import read_transcripts
from knowledge_graph_builder_spark.streaming.incremental import stream_kg_foreachbatch


def _triple_set(spark, tr):
    return {
        tuple(r)
        for r in run_pipeline(spark, tr, persist=False)
        .triples.select("document_id", "source", "type", "target")
        .collect()
    }


def test_json_and_csv_sources_match_parquet(spark, tmp_path):
    tr = golden_transcripts(spark)
    base = _triple_set(spark, tr)

    pq = str(tmp_path / "t_parquet")
    tr.write.parquet(pq)
    assert _triple_set(spark, read_transcripts(spark, pq)) == base

    js = str(tmp_path / "t.jsonl")
    tr.write.json(js)
    assert _triple_set(spark, read_transcripts(spark, js, fmt="json")) == base

    cs = str(tmp_path / "t.csv")
    tr.write.option("header", "true").csv(cs)
    assert _triple_set(spark, read_transcripts(spark, cs, fmt="csv")) == base


def test_streaming_restart_is_idempotent(spark, tmp_path):
    tr = golden_transcripts(spark)
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    tr.filter("conv_id <= 'g5'").repartition(1).write.mode("append").parquet(inp)

    q1 = stream_kg_foreachbatch(spark, inp, out, ckpt, available_now=True)
    q1.awaitTermination(120)
    first = spark.read.parquet(f"{out}/triples/batch=*").count()
    assert first > 0

    # restart with the SAME checkpoint and no new data: nothing reprocessed
    q2 = stream_kg_foreachbatch(spark, inp, out, ckpt, available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{out}/triples/batch=*").count() == first

    # add the remaining conversations; restart processes exactly the delta
    tr.filter("conv_id > 'g5'").repartition(1).write.mode("append").parquet(inp)
    q3 = stream_kg_foreachbatch(spark, inp, out, ckpt, available_now=True)
    q3.awaitTermination(120)
    streamed = {
        tuple(r)
        for r in spark.read.parquet(f"{out}/triples/batch=*")
        .select("document_id", "source", "type", "target")
        .collect()
    }
    assert streamed == _triple_set(spark, tr)


def test_compact_parquet_preserves_rows_and_untouched_partitions(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from knowledge_graph_builder_spark.operators.compact import (
        _data_files,
        compact_parquet,
    )

    root = str(tmp_path / "tbl")
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 3).alias("part"), F.md5(F.col("id").cast("string")).alias("v")
    )
    # fragment partitions 0/1 into many tiny files; partition 2 single-file
    df.filter("part < 2").repartition(16).write.partitionBy("part").parquet(root)
    df.filter("part = 2").coalesce(1).write.mode("append").partitionBy("part").parquet(root)

    p2 = os.path.join(root, "part=2")
    sig_before = sorted(
        (os.path.basename(f), os.path.getsize(f)) for f in _data_files(p2)
    )
    before_rows = sorted(tuple(r) for r in spark.read.parquet(root).collect())

    rep = compact_parquet(spark, root, target_file_bytes=64 * 1024 * 1024)
    assert rep.partitions_seen == 3
    assert rep.partitions_compacted == 2          # part=2 already compact
    assert rep.files_after < rep.files_before
    assert len(_data_files(os.path.join(root, "part=0"))) == 1

    # untouched partition files byte-identical (same names, same sizes)
    sig_after = sorted(
        (os.path.basename(f), os.path.getsize(f)) for f in _data_files(p2)
    )
    assert sig_after == sig_before
    # value-identical table after compaction
    after_rows = sorted(tuple(r) for r in spark.read.parquet(root).collect())
    assert after_rows == before_rows
    # idempotent: second sweep is a no-op
    rep2 = compact_parquet(spark, root, target_file_bytes=64 * 1024 * 1024)
    assert rep2.partitions_compacted == 0


def _formatted_plan(df) -> str:
    """explain("formatted"): the only rendering that shows the bucketed-
    scan decision ('Bucketed: true' vs '... disabled by query planner')."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _kernel_triples(kernel_rows):
    """Triple rows as a multiset: a conversation split across partitions
    repeats triples rather than inventing new ones."""
    from collections import Counter

    return Counter(
        (r.conv_id, r.text, r.label, r.obj, r.reason)
        for r in kernel_rows.filter(kernel_rows.kind == "triple").collect()
    )


def test_bucketed_transcripts_run_kernel_shuffle_free(spark, tmp_path):
    """SCALE.md §1 input layout: transcripts landed via
    write_transcripts_bucketed and read at as many partitions as buckets
    plan ZERO Exchange operators — Spark drops the kernel's repartition on
    its own, no caller switch — while producing the identical triple set
    to the unbucketed input, whose plan keeps its one Exchange."""
    import inspect

    from knowledge_graph_builder_spark.operators.extraction import (
        EMIT_GRAPH,
        extract_from_transcripts,
    )
    from knowledge_graph_builder_spark.sources.transcripts import (
        write_transcripts_bucketed,
    )

    # no caller can promise a clustering the planner cannot see: the
    # shuffle decision is Spark's alone, and the only layout knob is the
    # partition count
    assert list(inspect.signature(extract_from_transcripts).parameters) == [
        "transcripts", "partitions", "emit",
    ]

    spark.sql(f"CREATE DATABASE IF NOT EXISTS convdb LOCATION '{tmp_path}/wh'")
    try:
        # shuffled input order: co-location must come from the BUCKETED
        # WRITE, not from the synth source happening to be sorted
        raw = golden_transcripts(spark, shuffled=True)
        write_transcripts_bucketed(raw.repartition(7), "convdb.transcripts", buckets=4)
        bucketed = spark.table("convdb.transcripts")

        # the tier-1 session runs 4 shuffle partitions = the bucket count
        fast = extract_from_transcripts(bucketed, emit=EMIT_GRAPH)
        plan = fast._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:800]
        # no-Exchange alone cannot see a DEMOTED bucketed scan (Spark 4's
        # DisableUnnecessaryBucketedScan re-splits files by size when no
        # operator requires the distribution — at production file sizes
        # that breaks conversation co-location silently). Assert the scan
        # is ACTUALLY bucketed and reads one partition per bucket; the
        # session pins autoBucketedScan.enabled=false to make it so.
        fmt = _formatted_plan(fast)
        assert "Bucketed: true" in fmt, fmt[:1200]
        assert "disabled by query planner" not in fmt, fmt[:1200]
        assert fast.rdd.getNumPartitions() == 4

        # control: the unbucketed source pays exactly one Exchange
        control = extract_from_transcripts(raw, emit=EMIT_GRAPH)
        cplan = control._jdf.queryExecution().executedPlan().toString()
        assert cplan.count("Exchange ") == 1, cplan[:800]
        assert _kernel_triples(fast) == _kernel_triples(control)
        assert len(_kernel_triples(fast)) > 0
    finally:
        spark.sql("DROP DATABASE IF EXISTS convdb CASCADE")


def test_bucketed_scan_guarded_without_session_pin(spark, tmp_path):
    """A session that keeps Spark's default autoBucketedScan.enabled=true
    and splits files small: once Spark drops the kernel's repartition it
    would demote the bucketed scan to size-based splits, spreading each
    conversation over several tasks (duplicate partial documents). The
    guard pins the flag off, says so, and the output equals the
    unbucketed source's."""
    from knowledge_graph_builder_spark.operators.extraction import (
        EMIT_GRAPH,
        extract_from_transcripts,
    )
    from knowledge_graph_builder_spark.sources.synth import synth_transcripts
    from knowledge_graph_builder_spark.sources.transcripts import (
        write_transcripts_bucketed,
    )

    auto = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    split = "spark.sql.files.maxPartitionBytes"
    saved = {k: spark.conf.get(k) for k in (auto, split)}
    spark.sql(f"CREATE DATABASE IF NOT EXISTS guarddb LOCATION '{tmp_path}/wh'")
    try:
        raw = synth_transcripts(spark, n_convs=60, seed=7)
        reference = _kernel_triples(extract_from_transcripts(raw, emit=EMIT_GRAPH))
        write_transcripts_bucketed(raw, "guarddb.transcripts", buckets=4)
        spark.conf.set(auto, "true")
        spark.conf.set(split, "1k")

        with pytest.warns(UserWarning, match="autoBucketedScan"):
            kr = extract_from_transcripts(spark.table("guarddb.transcripts"), emit=EMIT_GRAPH)
        fmt = _formatted_plan(kr)
        assert "Bucketed: true" in fmt, fmt[:1200]
        assert "disabled by query planner" not in fmt, fmt[:1200]
        assert _kernel_triples(kr) == reference
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        spark.sql("DROP DATABASE IF EXISTS guarddb CASCADE")


def test_cli_table_reads_catalog_table(spark, tmp_path, monkeypatch, capsys):
    """``--table`` reads a catalog table through ``spark.table``: the
    bucketed layout of SCALE.md §1, read at its bucket count, counts the
    same rows as ``--input`` over the same transcripts."""
    import json

    from knowledge_graph_builder_spark import session
    from knowledge_graph_builder_spark.__main__ import main
    from knowledge_graph_builder_spark.sources.transcripts import (
        write_transcripts_bucketed,
    )

    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    inp = str(tmp_path / "in")
    golden_transcripts(spark, shuffled=True).write.parquet(inp)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS clidb LOCATION '{tmp_path}/wh'")
    try:
        write_transcripts_bucketed(read_transcripts(spark, inp), "clidb.transcripts", buckets=4)
        runs = {}
        for name, src in (("input", ["--input", inp]),
                          ("table", ["--table", "clidb.transcripts", "--partitions", "4"])):
            capsys.readouterr()
            assert main([*src, "--output", str(tmp_path / name)]) == 0
            runs[name] = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["counts"]
    finally:
        spark.sql("DROP DATABASE IF EXISTS clidb CASCADE")
    assert runs["table"] == runs["input"]
    assert runs["input"]["triples"] == 28
