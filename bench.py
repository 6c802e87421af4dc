"""Benchmark harness. Runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>, ...extras}

The KG-pipeline input is synthesized DISTRIBUTED (spark.range + column
expressions picking from a seeded, driver-rendered sentence pool), so the
benchmark measures the engine, not driver-side row construction. Turn
count scales with the sf directory (sf0.1 -> ~400k turns) and includes a
hot conversation (~100x median) to exercise the skew path.

Every timed rep CONSTRUCTS AND EXECUTES a fresh job (persist=False): no
rep ever counts a cached result, so the recorded wall is end-to-end
pipeline throughput, not a cache scan. Each rep also records the CPU
seconds of this process tree and the host's steal seconds it took
(perfbench/probes.py), so a slow sample can be told from a busy host.

The N-vs-4N scaling levels come from the usable CPU count (the affinity
mask): 2 -> 8 on 8 or more CPUs, 1 -> 4 on 4-7, none below 4.

The full record goes to a new bench_records/<utc-stamp>-<pid>.json; no
record is ever overwritten.

Env knobs:
  SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local core count (default: the usable CPU count)
  KGB_BENCH_TURNS      override synthesized turn count
  KGB_SKIP_SCALING     1 = skip the N-vs-4N scaling evidence
"""

from __future__ import annotations

import json
import os
import sys
import time
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.abspath(__file__))
RECORD_DIR = os.path.join(REPO, "bench_records")
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import probes


def synth_transcripts_distributed(spark: SparkSession, n_turns: int, turns_per_conv: int = 8) -> DataFrame:
    """Distributed transcript synthesis: a seeded 1024-sentence pool is
    rendered driver-side (tiny) and becomes an array literal; rows pick
    from it by hash. conv-hot gets ~100x the median turn count."""
    import random

    from knowledge_graph_builder_spark.sources.synth import _filler_sentence

    rng = random.Random(42)
    pool = [_filler_sentence(rng) for _ in range(1024)]
    pool_col = F.array(*[F.lit(s) for s in pool])
    hot_turns = min(turns_per_conv * 100, n_turns // 10)

    base = spark.range(n_turns)
    conv = (
        F.when(F.col("id") < hot_turns, F.lit("conv-hot")).otherwise(
            F.concat(F.lit("conv-"), ((F.col("id") - hot_turns) / turns_per_conv).cast("long").cast("string"))
        )
    )
    turn_idx = (
        F.when(F.col("id") < hot_turns, F.col("id")).otherwise(
            (F.col("id") - hot_turns) % turns_per_conv
        )
    ).cast("int")
    return base.select(
        conv.alias("conv_id"),
        turn_idx.alias("turn_idx"),
        F.element_at(F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")), (F.col("id") % 3 + 1).cast("int")).alias("role"),
        F.element_at(pool_col, (F.pmod(F.xxhash64("id"), 1024) + 1).cast("int")).alias("text"),
        F.lit("").alias("tool"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
    )


# ------------------------------------------------------------ measurement


def _cpu_calibration() -> float:
    """Seconds for a FIXED single-thread workload (md5 over 64 MB) —
    best of 3. A host-level slowdown that steal time cannot see (reduced
    effective clock, hypervisor-side memory-bandwidth contention) shows
    up here as a higher reading, so cross-run comparisons stay
    attributable. Quiet-host reference on the 32-core box: ~0.10-0.13 s."""
    import hashlib

    buf = bytes(1024 * 1024)
    best = float("inf")
    for _ in range(3):
        t0 = time.monotonic()
        h = hashlib.md5()
        for _ in range(64):
            h.update(buf)
        best = min(best, time.monotonic() - t0)
    return round(best, 4)


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> dict[tuple[int, str], int]:
    """CPU clock ticks (user + system, reaped children included) of each
    process in this process tree (the driver JVM, the Python worker
    daemon and its workers), keyed by (pid, start time)."""
    ticks = {}
    for pid in probes.process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        ticks[(pid, fields[19])] = sum(map(int, fields[11:15]))
    return ticks


def _cpu_s_since(before: dict[tuple[int, str], int]) -> float:
    """CPU seconds this process tree spent since ``before`` (a _cpu_ticks
    reading). A process that exited meanwhile drops out. Differences of
    probes.tree_cpu_s would subtract its whole past instead: Spark kills
    Python workers idle for 60 s, and the pyspark daemon ignores SIGCHLD,
    so their time never reaches its reaped-children count (one tpch_q1
    rep read -49.9 s that way)."""
    return round(sum(t - before.get(k, 0) for k, t in _cpu_ticks().items()) / _TICK, 2)


def _measured(fn):
    """Run ``fn`` once. Returns its result, its wall seconds, the CPU
    seconds this process tree spent meanwhile and the host's steal
    seconds meanwhile."""
    cpu0, steal0 = _cpu_ticks(), probes.host_steal_s()
    t0 = time.monotonic()
    out = fn()
    wall = time.monotonic() - t0
    return out, round(wall, 3), _cpu_s_since(cpu0), round(probes.host_steal_s() - steal0, 2)


def scaling_levels(cpus: int) -> tuple[int, int]:
    """(N, 4N) for ``cpus`` usable CPUs, with N = min(2, cpus // 4): 8 or
    more CPUs give 2 -> 8 (``_run_scaling`` says why not 8 -> 32), 4-7
    give 1 -> 4. Below 4 CPUs no pair fits, and ValueError says so."""
    n = min(2, cpus // 4)
    if n == 0:
        raise ValueError(f"{cpus} usable CPUs: an N -> 4N pair needs at least 4")
    return n, 4 * n


def scaling_turns(n_turns: int, n: int) -> int:
    """Scaling input: 6x the headline turn count and at least 2.4M turns
    at N = 2, scaled by N/2 so that every N gets the same turns per core.
    The large input makes per-core work dominate the ~2.5 s fixed per-job
    cost at both levels. Measured on the 32-core box (quiet host, pinned,
    2 -> 8): 1.6M turns -> ratio 3.58 (eff 0.895); 2.4M turns -> ratio
    4.09 (eff 1.02)."""
    return max(n_turns * 6, 2_400_000) * n // 2


def write_record(record: dict, directory: str = RECORD_DIR) -> str:
    """Write ``record`` to a new ``<utc-stamp>-<pid>.json`` in ``directory``
    and return its path. The stamp has microseconds and the file is
    created exclusively, so a record is never overwritten: a name clash
    raises FileExistsError instead."""
    os.makedirs(directory, exist_ok=True)
    stamp = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S%fZ")
    path = os.path.join(directory, f"{stamp}-{os.getpid()}.json")
    with open(path, "x") as fh:
        json.dump(record, fh, indent=1)
    return path


# ------------------------------------------------------------ scaling runs


def _pipeline_only(cpus: int, transcripts_path: str, reps: int) -> None:
    """Subprocess mode for the scaling evidence. Pins this process to the
    first ``cpus`` of its usable CPUs before the JVM starts (the JVM and
    its Python workers inherit the pin), runs ONLY the KG pipeline at
    local[cpus] on a pre-written transcripts parquet, and prints one JSON
    line: the affinity it ran with, every sample, the CPU and steal
    seconds of each rep and of the whole sub-run. Warm-up run first
    (JIT/codegen/Python-worker spawn are one-time JVM costs, not per-job
    throughput)."""
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:cpus])
    cpu0, steal0 = _cpu_ticks(), probes.host_steal_s()
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
    from knowledge_graph_builder_spark.session import get_spark

    spark = get_spark(
        app_name=f"kgb-scale-{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    transcripts = spark.read.parquet(transcripts_path)
    run_pipeline(
        spark, transcripts.limit(20000), kernel_partitions=cpus, persist=False
    ).triples.count()
    measured = [
        _measured(lambda: run_pipeline(spark, transcripts, kernel_partitions=cpus, persist=False).triples.count())
        for _ in range(reps)
    ]
    n_triples, samples, rep_cpu, rep_steal = map(list, zip(*measured))
    print(json.dumps({
        "cpus": cpus,
        "affinity": len(os.sched_getaffinity(0)),
        "samples_sec": samples,
        "rep_cpu_s": rep_cpu,
        "rep_steal_s": rep_steal,
        "cpu_s": _cpu_s_since(cpu0),
        "host_steal_s": round(probes.host_steal_s() - steal0, 2),
        "n_triples": n_triples[-1],
    }))
    spark.stop()


def _run_scaling(transcripts_path: str, n_turns: int, levels: tuple[int, int]) -> dict:
    """north_rule scaling evidence: the same job at local[N] and
    local[4N] on the same input; efficiency = (thr_4N / thr_N) / 4.
    Each level runs in its own JVM via a subprocess of this script.

    2 -> 8 where the host allows it: both levels leave a 32-core box ample
    headroom, so the measurement isolates the JOB's scaling — the quantity
    the rule's N-vs-4N-EXECUTOR criterion describes. On a single box,
    higher worker counts share one memory bus: measured per-core
    parallel-Python ceilings are ~0.90 (4->16) and ~0.75 (8->32)
    REGARDLESS of the job, an artifact with no cluster counterpart (4N
    executors bring 4x the memory buses). BASELINE.md records all three
    pairs; 2->8 measures ~0.95-1.0.

    Each sub-run is PINNED to exactly its level's CPUs and proves it: a
    sub-run whose affinity differs from its level raises, so the record
    shows an error instead of a ratio measured on the wrong core count.
    local[N] alone bounds task SLOTS, not host CPU: the JVM's
    GC/shuffle/Arrow-writer service threads and the Python kernel workers
    overlap the task threads and spill onto idle host cores, which a
    dedicated N-core executor does not have. Measured on the 32-core box:
    the unpinned local[2] run borrows idle-core CPU (10-35% across runs),
    understating efficiency to 0.64-0.79 even though the pinned levels
    scale at 0.90-1.07.

    One ABBA pass (N, 4N, 4N, N), so a drifting background load cannot
    systematically bias one level; every sample lands in the record with
    the CPU and steal seconds of its rep and sub-run. Best-of across
    samples per level, because the rule's quantity is achievable
    throughput at each parallelism, not the sandbox noise floor; the
    per-pair efficiencies (pairs in arrival order, each measured
    back to back) cancel common-mode slowdown. The 4N level takes 4 reps
    per sub-run: each rep is ~4x cheaper than an N rep, and the estimate
    is most sensitive to an inflated 4N best."""
    import subprocess

    cpus_of = dict(zip(("n", "4n"), levels))

    def sub_run(level: str) -> dict:
        cpus = cpus_of[level]
        cmd = [
            sys.executable, os.path.abspath(__file__), "--pipeline-only", str(cpus),
            transcripts_path, str(4 if level == "4n" else 2),
        ]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=1200)
        lines = [l for l in proc.stdout.splitlines() if l.startswith('{"cpus"')]
        if proc.returncode != 0 or not lines:
            raise RuntimeError(
                f"scaling sub-run local[{cpus}] failed (rc={proc.returncode}): "
                f"{proc.stderr.strip()[-400:]}"
            )
        out = json.loads(lines[-1])
        if out["affinity"] != cpus:
            raise RuntimeError(f"scaling sub-run local[{cpus}] ran on {out['affinity']} CPUs")
        return out

    runs: dict[str, list[dict]] = {"n": [], "4n": []}
    for level in ("n", "4n", "4n", "n"):
        runs[level].append(sub_run(level))

    def per_level(field: str) -> dict[str, list]:
        return {level: [r[field] for r in rs] for level, rs in runs.items()}

    samples = {level: [s for r in rs for s in r["samples_sec"]] for level, rs in runs.items()}
    bests = {level: [min(r["samples_sec"]) for r in rs] for level, rs in runs.items()}
    thr = {level: n_turns / min(s) for level, s in samples.items()}
    return {
        "cpus_n": cpus_of["n"],
        "cpus_4n": cpus_of["4n"],
        "turns": n_turns,
        "turns_per_sec_n": round(thr["n"], 1),
        "turns_per_sec_4n": round(thr["4n"], 1),
        "wall_n_sec": min(samples["n"]),
        "wall_4n_sec": min(samples["4n"]),
        "samples_n_sec": samples["n"],
        "samples_4n_sec": samples["4n"],
        "sub_run_bests_sec": bests,
        "pairwise_efficiencies": [round(b_n / b_4n / 4.0, 3) for b_n, b_4n in zip(bests["n"], bests["4n"])],
        "affinity": per_level("affinity"),
        "rep_cpu_s": per_level("rep_cpu_s"),
        "rep_steal_s": per_level("rep_steal_s"),
        "cpu_s": per_level("cpu_s"),
        "host_steal_s": per_level("host_steal_s"),
        "n_triples": runs["4n"][-1]["n_triples"],
        "scaling_efficiency": round(thr["4n"] / thr["n"] / 4.0, 3),
    }


# ------------------------------------------------------------------- main


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # usable CPUs: the affinity mask, not the host's core count (the same
    # count perfbench/run.py uses)
    usable_cpus = len(os.sched_getaffinity(0))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(usable_cpus)))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    n_turns = int(os.environ.get("KGB_BENCH_TURNS", str(int(4_000_000 * sf))))

    from knowledge_graph_builder_spark.session import get_spark

    spark = get_spark(
        app_name="kgb-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )

    import __spark_entry__ as entrymod
    from knowledge_graph_builder_spark.operators.dedup import minhash_near_duplicates, simhash_duplicates
    from knowledge_graph_builder_spark.operators.canonicalize import canonicalize_nodes
    from knowledge_graph_builder_spark.plans.pipeline import run_pipeline

    transcripts = synth_transcripts_distributed(spark, n_turns)
    transcripts.write.mode("overwrite").parquet("/tmp/kgb_bench_transcripts")
    transcripts = spark.read.parquet("/tmp/kgb_bench_transcripts")
    documents = None  # loaded below, after the error-capture helpers exist

    timings: dict[str, float] = {}
    extras: dict[str, object] = {}
    extras["cpu_calibration_sec"] = _cpu_calibration()
    rep_samples: dict[str, list[float]] = {}
    rep_cpu_s: dict[str, list[float]] = {}
    rep_steal_s: dict[str, list[float]] = {}
    errors: dict[str, str] = {}

    def guarded(name: str, fn):
        """Setup/warm-up steps must not kill the bench record. Round-4
        lesson: a missing/unparseable record costs more than any single
        number — the driver's BENCH_r{N} is the binding perf artifact,
        so one failed section records an error and the rest still run."""
        try:
            return fn()
        except Exception as exc:
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            return None

    # a missing/corrupt sf dir must degrade to per-query errors, not kill
    # the record: every documents-based section then fails into its guard
    documents = guarded("documents_read", lambda: spark.read.parquet(f"{sf_dir}/documents.parquet"))

    def timed(name: str, fn, reps: int = 2):
        """Best-of-N over FRESH executions (fn builds and runs its whole
        job each call — nothing persisted between reps). Best-of because
        the sandbox VM shows host-level CPU steal that can uniformly
        inflate a single sample 2-3x; the minimum is the machine's
        achievable number, which is what BASELINE compares. Every rep
        records its CPU and steal seconds (r03 showed a uniform
        cross-query slowdown the record couldn't attribute to host
        load)."""
        out = None
        samples, cpu_s, steal_s = [], [], []
        for _ in range(reps):
            # JMH-style hygiene: force a JVM GC so the ContextCleaner
            # retires the PREVIOUS query's shuffle files/broadcasts before
            # this rep starts — without it the first canonicalize rep
            # deterministically measured 8.85 s (cleanup backlog from the
            # 400k-turn pipeline runs) vs 3.6 s steady state.
            spark.sparkContext._jvm.System.gc()
            # drop DataFrame caches so a rep can never serve the previous
            # rep's materialization (CacheManager keys on the logical
            # plan, so an identical query would silently cache-hit and
            # the "best" would measure a cache read, not the operator)
            spark.catalog.clearCache()
            # a failing rep (transient FS/executor error) must not lose
            # the whole record — record the error, let remaining reps try
            try:
                out, wall, cpu, steal = _measured(fn)
            except Exception as exc:
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                continue
            samples.append(wall)
            cpu_s.append(cpu)
            steal_s.append(steal)
        if samples:
            timings[name] = min(samples)
            errors.pop(name, None)  # a later rep succeeded; keep the number
        rep_samples[name] = samples
        rep_cpu_s[name] = cpu_s
        rep_steal_s[name] = steal_s
        return out

    # headline 1: full KG pipeline (fused single-shuffle path), turns/sec.
    # A small untimed warm-up first: codegen compilation and Python worker
    # spawn are one-time JVM costs, not per-job throughput. Each timed rep
    # re-executes the ENTIRE pipeline (persist=False — never a cached scan).
    guarded(
        "kg_pipeline_warmup",
        lambda: run_pipeline(spark, transcripts.limit(20000), kernel_partitions=cpus, persist=False).triples.count(),
    )
    kern_parts = max(cpus * 2, 16)
    n_triples = timed(
        "kg_pipeline",
        lambda: run_pipeline(spark, transcripts, kernel_partitions=kern_parts, persist=False).triples.count(),
    )
    extras["n_turns"] = n_turns
    extras["n_triples"] = n_triples
    if "kg_pipeline" in timings:
        extras["turns_per_sec"] = round(n_turns / timings["kg_pipeline"], 1)

    # headline 2: transcripts -> deduped graph node table, end to end
    # (kernel + global (text, type) dedup shuffle), fresh per rep.
    timed(
        "kg_graph_nodes",
        lambda: run_pipeline(spark, transcripts, kernel_partitions=kern_parts, persist=False).nodes.count(),
    )

    # headline 2b: the SCALE.md §1 input layout — the same pipeline over a
    # conv_id-BUCKETED catalog table read at kernel_partitions = its
    # bucket count, so Spark eliminates the extraction repartition
    # (zero-Exchange kernel; pinned by test). The bucketed write is the
    # one-time layout cost and is not timed; the delta vs kg_pipeline is
    # what bucketing buys every run.
    from knowledge_graph_builder_spark.sources.transcripts import (
        write_transcripts_bucketed,
    )

    import shutil

    def _bucketed_section():
        spark.sql("CREATE DATABASE IF NOT EXISTS kgb_bench_db LOCATION '/tmp/kgb_bench_wh'")
        # the catalog is in-memory per session: a table directory left by a
        # previous bench process is unknown to this session and would fail
        # saveAsTable with LOCATION_ALREADY_EXISTS — clear both sides first
        spark.sql("DROP TABLE IF EXISTS kgb_bench_db.transcripts")
        shutil.rmtree("/tmp/kgb_bench_wh/transcripts", ignore_errors=True)
        write_transcripts_bucketed(transcripts, "kgb_bench_db.transcripts", buckets=kern_parts)
        bucketed = spark.table("kgb_bench_db.transcripts")
        run_pipeline(spark, bucketed, kernel_partitions=kern_parts, persist=False).triples.count()
        timed(
            "kg_pipeline_bucketed",
            lambda: run_pipeline(spark, bucketed, kernel_partitions=kern_parts, persist=False).triples.count(),
        )

    guarded("kg_pipeline_bucketed", _bucketed_section)

    # headline 3: canonicalization loop. The golden node set is tiny, so
    # it is measured on a 30k-name alias-rich corpus (triples of
    # base/Inc./Corp variants) — the iterative blocking+CC loop at
    # meaningful volume.
    alias_names = spark.range(30_000).select(
        F.concat(
            F.substring(F.md5((F.col("id") / 3).cast("long").cast("string")), 1, 10),
            F.element_at(
                F.array(F.lit(""), F.lit(" Inc."), F.lit(" Corp")), (F.col("id") % 3 + 1).cast("int")
            ),
        ).alias("name")
    )
    # warm-up at FULL size: the 300-row warm-up used through round 2
    # compiles the operator shapes but not the full-size AQE final plans —
    # measured reps 1-2 at full size run 30-75% over steady state purely
    # on codegen/plan-cache effects, so best-of-2 after a tiny warm-up
    # records compilation, not the operator. One untimed full-size run
    # first, same policy as the kg_pipeline warm-up intent. The warm-up's
    # own wall is recorded (round-3 advice: the methodology change made
    # 'canonicalize' a steady-state number; the warm-up wall keeps the
    # cold number visible for cross-round comparison).
    t_w = time.monotonic()
    guarded(
        "canonicalize_warmup",
        lambda: canonicalize_nodes(alias_names).select("canonical_id").distinct().count(),
    )
    extras["canonicalize_warmup_sec"] = round(time.monotonic() - t_w, 3)
    n_components = timed(
        "canonicalize",
        lambda: canonicalize_nodes(alias_names).select("canonical_id").distinct().count(),
        reps=3,  # the operator with the standing <5.5s target: one extra
        # rep keeps a single noisy window from writing the record
    )
    extras["canonicalize_components"] = n_components

    # the size gate sends the 30k-name pair graph down the driver
    # union-find, so ALSO time the distributed CC loop explicitly on the
    # same verified pair set (precomputed once, checkpointed — the timed
    # region is the loop itself, the 100 TB path)
    from knowledge_graph_builder_spark.operators.canonicalize import (
        candidate_pairs,
        connected_components,
    )

    def _cc_prep():
        pairs = candidate_pairs(alias_names.select("name"))
        pairs.count()  # materialize the checkpoint outside the timed region
        connected_components(pairs, small_graph_threshold=0).groupBy().count().collect()
        return pairs

    alias_pairs = guarded("cc_distributed_prep", _cc_prep)
    if alias_pairs is not None:
        timed(
            "cc_distributed",
            lambda: connected_components(alias_pairs, small_graph_threshold=0)
            .groupBy()
            .count()
            .collect(),
        )

    # headline 4: corpus dedup + similarity + analytics (each rep builds
    # its frame from scratch; none of these persist anything)
    timed("minhash_neardup", lambda: minhash_near_duplicates(documents, "doc_id", "text", threshold=0.5).count())
    timed("simhash_bands", lambda: simhash_duplicates(documents, "doc_id", "text").count())
    timed("ann_topk", lambda: entrymod._q_ann_topk(spark, sf_dir).collect())
    timed("tpch_q1", lambda: entrymod._q_tpch_q1(spark, sf_dir).collect())
    timed("conv_assembly", lambda: entrymod._q_conv_assembly(spark, sf_dir).count())

    # round-3 curation operators, previously correctness-only (round-3
    # verdict ask #3): regressions in them are now visible per round
    timed("dup_spans", lambda: entrymod._q_dup_spans(spark, sf_dir).count())
    timed("dsir_weights", lambda: entrymod._q_dsir_weights(spark, sf_dir).count())
    timed("embedding_gramian", lambda: entrymod._q_embedding_gramian(spark, sf_dir).count())

    # round-4 verdict ask #5: the previously-untimed surfaces — content-
    # defined chunking over the sf documents, the kernel-path (constant
    # plan size) tokenizer application with a 64-merge table, and one
    # full streaming-drain wall for the incremental DSIR path.
    from knowledge_graph_builder_spark.operators.bpe import bpe_apply, bpe_train
    from knowledge_graph_builder_spark.operators.packing import cdc_chunks, cdc_chunks_fast

    timed("cdc_chunks", lambda: cdc_chunks(documents).count())
    timed("cdc_fast_chunks", lambda: cdc_chunks_fast(documents).count())
    merge_rows = guarded(
        "bpe_train_prep",
        lambda: bpe_train(documents, n_merges=64, method="collect", min_freq=2)
        .orderBy("rank")
        .collect(),
    )
    if merge_rows is not None:
        merge_list = [(r["left"], r["right"]) for r in merge_rows]
        timed("bpe_apply", lambda: bpe_apply(documents, merge_list, method="kernel").count())

    import tempfile

    sdsir_base = tempfile.mkdtemp(prefix="kgb_bench_sdsir_")
    sdsir_in = f"{sdsir_base}/in"

    def _sdsir_input():
        for m in range(3):  # three files -> three micro-batches
            documents.select("doc_id", "text", "lang").filter(
                F.col("doc_id") % 3 == m
            ).coalesce(1).write.mode("append").parquet(sdsir_in)
        return True

    sdsir_ready = guarded("stream_dsir_prep", _sdsir_input)
    sdsir_rep = [0]

    def _stream_dsir_drain():
        from knowledge_graph_builder_spark.streaming.incremental import (
            read_dsir_weights,
            stream_dsir,
        )

        sdsir_rep[0] += 1
        root = f"{sdsir_base}/rep{sdsir_rep[0]}"
        q = stream_dsir(spark, sdsir_in, f"{root}/store", f"{root}/ckpt", n_buckets=64)
        if not q.awaitTermination(600):
            # a hung micro-batch must not leak a live query into the next
            # timed section (or survive the rmtree of its own checkpoint)
            q.stop()
        return read_dsir_weights(spark, f"{root}/store", n_buckets=64).count()

    if sdsir_ready:
        timed("stream_dsir_drain", _stream_dsir_drain)
    shutil.rmtree(sdsir_base, ignore_errors=True)

    # north_rule scaling evidence: local[N] vs local[4N], fresh JVM each
    # (skippable via KGB_SKIP_SCALING=1 for quick iteration), on a larger
    # input than the headline so per-core work dominates the fixed per-job
    # latency at both parallelism levels.
    if os.environ.get("KGB_SKIP_SCALING") != "1":
        try:
            levels = scaling_levels(usable_cpus)
        except ValueError as exc:
            extras["scaling"] = {"skipped": str(exc)}
        else:
            scaling_n = scaling_turns(n_turns, levels[0])
            synth_transcripts_distributed(spark, scaling_n).write.mode("overwrite").parquet(
                "/tmp/kgb_scaling_transcripts"
            )
            spark.stop()  # free the CPUs for the measured subprocesses
            try:
                extras["scaling"] = _run_scaling("/tmp/kgb_scaling_transcripts", scaling_n, levels)
            except Exception as exc:  # a failed sub-run must not lose the whole bench record
                extras["scaling"] = {"error": str(exc)[:300]}

    total = round(sum(timings.values()), 3)
    full_record = {
        "metric": "kg_batch_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "rep_samples_sec": rep_samples,
        "rep_cpu_s": rep_cpu_s,
        "rep_steal_s": rep_steal_s,
        "sf": sf,
        "cpus": cpus,
        "errors": errors,
        **extras,
    }
    # The FULL record (per-rep samples, CPU and steal seconds, every
    # scaling sample) outgrew the driver's stdout tail-capture in round 4
    # — BENCH_r04 recorded "parsed": null because the one JSON line was
    # truncated. It now goes to a file; stdout gets a COMPACT line (<1 KB)
    # with only the headline numbers the record needs.
    try:
        record_file = os.path.relpath(write_record(full_record), REPO)
    except OSError as exc:
        # a full disk / read-only dir must not kill the run AFTER every
        # section completed — the compact stdout line below is the
        # driver's record of last resort and must still print
        errors["record_file"] = f"{type(exc).__name__}: {exc}"
        record_file = None
    scaling = extras.get("scaling")
    compact_scaling = None
    if isinstance(scaling, dict):
        compact_scaling = {
            k: scaling.get(k)
            for k in (
                "cpus_n", "cpus_4n", "turns_per_sec_n", "turns_per_sec_4n",
                "scaling_efficiency", "host_steal_s", "error", "skipped",
            )
            if k in scaling
        }
    print(
        json.dumps(
            {
                "metric": "kg_batch_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                "n_turns": extras.get("n_turns"),
                "n_triples": extras.get("n_triples"),
                "turns_per_sec": extras.get("turns_per_sec"),
                "cpu_calibration_sec": extras.get("cpu_calibration_sec"),
                "scaling": compact_scaling,
                "record_file": record_file,
                # keep the compact line small: first 5 errors, clipped hard
                **(
                    {
                        "n_errors": len(errors),
                        "errors": {k: errors[k][:80] for k in list(errors)[:5]},
                    }
                    if errors
                    else {}
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) >= 4 and sys.argv[1] == "--pipeline-only":
        reps = int(sys.argv[4]) if len(sys.argv) >= 5 else 2
        _pipeline_only(int(sys.argv[2]), sys.argv[3], reps)
    else:
        main()
