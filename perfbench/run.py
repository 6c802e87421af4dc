"""The repository benchmark: one closed-loop driver, three workloads.

    python3 perfbench/run.py --workload build --seed 1 --seconds 15 --trace 0

Run from the repository root. One process starts one local Spark session
sized to the host (``local[N]`` with N usable CPUs), builds the workload's
inputs from ``--seed``, warms up, then runs one operation at a time until
``--seconds`` have passed and the workload's minimum count of operations
ran. Every operation's output is checked outside the timed region. The
last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced operations and reports the per-layer metrics, plus the
tracing overhead (median traced minus median untraced operation time).
Each run also leaves its full record, with every sample, in
``perfbench/records/``; records are never overwritten.

Workloads (see README.md for why each exists, and why BENCHMARK.json
bounds only ``build`` and ``canon``):

* ``build`` — what ``python -m knowledge_graph_builder_spark --input ...
  --output ...`` does: read transcripts, ``run_pipeline``, write nodes,
  edges, triples and events.
* ``incremental`` — one ``plans.incremental.incremental_update`` against a
  manifest-mode ``GraphStore``; each snapshot appends a turn to 1% of the
  conversations.
* ``canon`` — ``operators.canonicalize.canonicalize_nodes`` over
  alias-rich names, then the number of distinct canonical ids.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

import pyarrow.parquet as pq

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)  # the engine package sits at the repository root

# Both import the engine: outside a checkout of the repository the run
# stops here, before printing any result.
import inputs  # noqa: E402
import probes  # noqa: E402

# Input sizes. A run of a bounded workload, set-up included, must stay near
# 45 s on a 4-CPU host, so that both fit their full set of runs in an hour.
# BUILD_TURNS is as large as that allows (see README.md for the share of a
# build operation the extraction kernel takes). An update's cost is almost
# all per-job overhead, so INCREMENTAL_TURNS stays small.
BUILD_TURNS = 16_000
INCREMENTAL_TURNS = 2_000
CANON_BASES = 1_000
# input generation + write runs per set-up; setup_s takes their median. It
# is the only part of set-up that repeats without a new JVM, and costs well
# under a second per repeat
INPUT_REPEATS = 3


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float] | None:
    """The highest percentile of ``xs`` with at least 10 samples above it,
    as (percentile, value); None with 10 samples or fewer."""
    if len(xs) <= 10:
        return None
    return 100 * (len(xs) - 10) / len(xs), sorted(xs)[len(xs) - 11]


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical memory, between 1 and 2 GiB: the JVM heap
    must fit the host, whatever get_spark defaults to."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(2, total // 4 >> 30))}g"


def start_session(work: str, cpus: int, driver_mem: str):
    """A get_spark session sized to the host, with every scratch file
    inside ``work`` and the package importable by the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    from knowledge_graph_builder_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": driver_mem,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for every process
    below this one to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    pids = [p for p in probes.process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


# -- workloads ----------------------------------------------------------------


class Workload:
    """One workload: inputs, one operation, and its checks. ``op`` is the
    only timed call; ``prepare`` runs before it and ``check`` after it."""

    def __init__(self, spark, work: str, seed: int, cpus: int):
        self.spark, self.work, self.seed, self.cpus = spark, work, seed, cpus

    def make_inputs(self) -> None:
        raise NotImplementedError

    def seed_store(self) -> None:
        pass

    def prepare(self, i: int) -> None:
        pass

    # untimed operations before timing. The first is cold (class loading,
    # codegen, Python worker start) and takes three to four times as long
    # as the next; the second is still a third slower than the ones after
    warmup_ops = 2
    # untraced operations per run, even when --seconds is shorter. A run
    # of the benchmark's length holds about this many; the floor keeps a
    # busy host from leaving a run with fewer samples to take a median of
    min_ops = 4
    # untraced and traced operations each, in a traced run
    traced_ops = 2

    def warm_up(self) -> int:
        """Run the warm-up operations; return how many failed their check."""
        failed = 0
        for _ in range(self.warmup_ops):
            self.prepare(0)
            self.op(0)
            failed += not self.check(0)
        return failed

    def op(self, i: int) -> int:
        """Run operation ``i``; return the number of input items it covered."""
        raise NotImplementedError

    def traced_op(self, i: int, tracer) -> int:
        raise NotImplementedError

    def check(self, i: int) -> bool:
        raise NotImplementedError

    def final_check(self) -> bool:
        return True

    def layers(self, tracer) -> dict[str, float]:
        raise NotImplementedError

    def probe(self) -> tuple[dict[str, float], bool] | None:
        """Extra per-layer metrics a traced run takes once, after its
        operations, and whether their check passed; None when there are
        none."""
        return None


# The build's output is read back with pyarrow, not Spark: the check stays
# independent of the engine and adds no Spark jobs to the run.


def _row_count(path: str) -> int:
    return pq.ParquetDataset(path).read(columns=[]).num_rows


def _golden_ok(out: str) -> bool:
    from knowledge_graph_builder_spark.sources.synth import (
        GOLDEN_EXPECTED_EVENTS,
        GOLDEN_EXPECTED_TRIPLES,
        GOLDEN_TEXTS,
    )

    golden = [("document_id", "in", list(GOLDEN_TEXTS))]
    triples = {
        (r["document_id"], r["source"], r["type"], r["target"])
        for r in pq.read_table(f"{out}/triples", filters=golden).to_pylist()
    }
    events = {
        (r["document_id"], r["event_type"], r["name"], "|".join(r["participants"]),
         r["date"], r["amount"], r["location"], round(r["confidence"], 2))
        for r in pq.read_table(f"{out}/events", filters=golden).to_pylist()
    }
    return triples == GOLDEN_EXPECTED_TRIPLES and events == set(GOLDEN_EXPECTED_EVENTS)


def _documents(turns: dict[str, list[str]], conv_ids, k: int, seed: int) -> tuple[list[str], int]:
    """A seeded sample of ``k`` documents, assembled the way the engine
    assembles them, and the number of turns they hold."""
    from knowledge_graph_builder_spark.operators.assembly import TURN_SEPARATOR

    ids = sorted(conv_ids)
    pick = random.Random(seed).sample(ids, min(k, len(ids)))
    return [TURN_SEPARATOR.join(turns[c]) for c in pick], sum(len(turns[c]) for c in pick)


def _turn_texts(rows: list[tuple]) -> dict[str, list[str]]:
    by_conv: dict[str, list[tuple[int, str]]] = {}
    for conv_id, idx, _role, text, _tool, _ts in rows:
        by_conv.setdefault(conv_id, []).append((idx, text))
    return {c: [t for _, t in sorted(v)] for c, v in by_conv.items()}


REPLAY_DOCS = 300


def _textkit_layers(sample: tuple[list[str], int], kernel_turns: int, kernel_stage_s: float) -> dict[str, float]:
    """textkit phase times for ``kernel_turns`` turns, extrapolated from a
    driver-side replay of a document sample; boundary = kernel stage -
    textkit."""

    documents, turns = sample
    t = probes.replay_textkit(documents)
    per_turn = {k: v / max(turns, 1) for k, v in t.items()}
    scale = kernel_turns
    out = {
        "textkit.turns_per_core_s": turns / t["analyze_document"] if t["analyze_document"] else 0.0,
        "textkit.graph_stage_s": per_turn["graph_stage"] * scale,
    }
    for phase in probes.TEXTKIT_PHASES:
        out[f"textkit.{phase}_s"] = per_turn[phase] * scale
    out["extraction.boundary_s"] = kernel_stage_s - per_turn["analyze_document"] * scale
    return out


def _stage_layers(spark, stages, kernel_rows: int) -> dict[str, float]:
    """Scan, exchange, kernel and graph-side numbers from the stages of one
    pipeline run (read, extract, dedup, write)."""

    kernel = [s for s in stages if s.kernel]
    post = [s for s in stages if not s.kernel and s.post_kernel]
    scan = [s for s in stages if not s.kernel and not s.post_kernel and s.scan]
    return {
        "scan.rows": float(sum(s.input_records for s in scan)),
        "scan.s": sum(s.run_s - s.shuffle_write_s for s in scan),
        "extraction.exchange_bytes": float(sum(s.shuffle_write_bytes for s in scan)),
        "extraction.exchange_s": sum(s.shuffle_write_s for s in scan) + sum(s.fetch_wait_s for s in kernel),
        "extraction.kernel_stage_s": sum(s.run_s for s in kernel),
        "extraction.kernel_rows_out": float(kernel_rows),
        "extraction.task_skew": max((probes.task_skew(spark, s) for s in kernel), default=0.0),
        "extraction.spill_bytes": float(sum(s.spill_bytes for s in kernel)),
        "graph.dedup_s": sum(s.run_s for s in post if "WriteFiles" not in s.ops),
        "graph.shuffle_bytes": float(sum(s.shuffle_write_bytes for s in post)),
        "pipeline.write_s": sum(s.run_s for s in post if "WriteFiles" in s.ops),
    }


def _spark_layers(spark, tracer, stages) -> dict[str, float]:
    groups = sorted({tracer.group(n) for n in tracer.span_names()})
    return {
        "spark.jobs": float(probes.job_count(spark, groups)),
        "spark.stages": float(len(stages)),
        "spark.tasks": float(sum(s.tasks for s in stages)),
        "spark.gc_s": sum(s.gc_s for s in stages),
    }


class Build(Workload):
    """Read, run_pipeline, write four tables: the CLI's batch build."""

    def make_inputs(self) -> None:
        self.rows, _, _ = inputs.transcript_rows(self.seed, BUILD_TURNS)
        self.input = os.path.join(self.work, "transcripts")
        self.out = os.path.join(self.work, "graph")
        inputs.write_transcripts(self.rows, self.input)
        self.counts: tuple[int, int] | None = None

    def _run(self, tracer=None):
        import contextlib

        from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
        from knowledge_graph_builder_spark.sources.transcripts import read_transcripts

        span = tracer.span if tracer else (lambda _name: contextlib.nullcontext())
        with span("read"):
            transcripts = read_transcripts(self.spark, self.input)
        with span("pipeline"):
            res = run_pipeline(self.spark, transcripts, kernel_partitions=self.cpus)
        for table in ("nodes", "edges", "triples", "events"):
            with span(f"write.{table}"):
                getattr(res, table).write.mode("overwrite").parquet(f"{self.out}/{table}")
        return res

    def op(self, i: int) -> int:
        self._run().kernel_rows.unpersist()
        return len(self.rows)

    def traced_op(self, i: int, tracer) -> int:
        self.res = self._run(tracer)
        return len(self.rows)

    def check(self, i: int) -> bool:
        counts = (_row_count(f"{self.out}/nodes"), _row_count(f"{self.out}/edges"))
        if self.counts is None:
            self.counts = counts
        return counts == self.counts and _golden_ok(self.out)

    def layers(self, tracer) -> dict[str, float]:
        persist_bytes = probes.cached_bytes(self.spark)
        kernel_rows = self.res.kernel_rows.count()  # from the cache the writes filled
        self.res.kernel_rows.unpersist()
        groups = [tracer.group(n) for n in tracer.span_names()]
        st = probes.stages(self.spark, groups)
        out = _stage_layers(self.spark, st, kernel_rows)
        out.update(_spark_layers(self.spark, tracer, st))
        out["pipeline.persist_bytes"] = float(persist_bytes)
        out["graph.nodes"], out["graph.edges"] = map(float, self.counts)
        turns = _turn_texts(self.rows)
        docs = _documents(turns, turns, REPLAY_DOCS, self.seed)
        out.update(_textkit_layers(docs, len(self.rows), out["extraction.kernel_stage_s"]))
        return out

    def probe(self) -> tuple[dict[str, float], bool]:
        """One traced ``incremental`` update: a store seeded with snapshot
        0, one delta, the update, and the store's key-set check. The store
        and diff layers are thus measured on a bounded workload, while the
        build's timed operations never touch them."""
        inc = Incremental(self.spark, os.path.join(self.work, "incremental"), self.seed, self.cpus)
        inc.make_inputs()
        inc.seed_store()
        inc.prepare(1)
        tracer = probes.Tracer(self.spark, "probe")
        inc.traced_op(1, tracer)
        ok = inc.check(1)
        layers = {k: v for k, v in inc.layers(tracer).items()
                  if k.startswith(("incremental.", "graph_store."))}
        return layers, ok and inc.final_check()


class _TracedStore:
    """Wraps a GraphStore so its upserts run inside spans."""

    def __init__(self, store, tracer):
        self._store, self._tracer = store, tracer

    def upsert_nodes(self, nodes) -> None:
        with self._tracer.span("upsert_nodes"):
            self._store.upsert_nodes(nodes)

    def upsert_edges(self, edges) -> None:
        with self._tracer.span("upsert_edges"):
            self._store.upsert_edges(edges)


class Incremental(Workload):
    """incremental_update over a chain of snapshots into a GraphStore."""

    # seeding the store runs the pipeline and both upserts cold; the first
    # update is still about a third slower than the next (its diff and
    # merge plans are new), so it is the warm-up. Each update is mostly
    # per-job overhead (about 70 Spark jobs); with two timed ones a run
    # already lasts over a minute
    warmup_ops = 1
    min_ops = 2
    traced_ops = 1

    def make_inputs(self) -> None:
        rows, self.make, self.conv_turns = inputs.transcript_rows(self.seed, INCREMENTAL_TURNS)
        self.turns = _turn_texts(rows)
        self.n_turns = len(rows)
        self.snap = os.path.join(self.work, "snapshots")
        inputs.write_transcripts(rows, os.path.join(self.snap, "s00000"))
        self.parts = ["s00000"]
        self.changed: list[str] = []

    def _read(self, parts: list[str]):
        from knowledge_graph_builder_spark.sources.transcripts import read_transcripts

        # a snapshot is the base files plus every delta up to it, read
        # through one glob, the way a table with appended files reads
        glob = parts[0] if len(parts) == 1 else f"{{{','.join(parts)}}}"
        return read_transcripts(self.spark, f"{self.snap}/{glob}")

    def seed_store(self) -> None:
        from knowledge_graph_builder_spark.plans.pipeline import run_pipeline
        from knowledge_graph_builder_spark.sources.graph_store import GraphStore

        self.store_root = os.path.join(self.work, "store")
        self.store = GraphStore(self.spark, self.store_root, commit_mode="manifest")
        res = run_pipeline(self.spark, self._read(self.parts), kernel_partitions=self.cpus)
        self.store.upsert_nodes(res.nodes)
        self.store.upsert_edges(res.edges)
        res.kernel_rows.unpersist()

    def prepare(self, i: int) -> None:
        k = len(self.parts)
        rows = inputs.snapshot_delta(self.seed, k, self.make, self.conv_turns)
        for conv_id, _idx, _role, text, _tool, _ts in rows:
            self.turns[conv_id].append(text)
        self.changed = [r[0] for r in rows]
        self.n_turns += len(rows)
        part = f"s{k:05d}"
        inputs.write_transcripts(rows, os.path.join(self.snap, part))
        self.prev, self.parts = self.parts, self.parts + [part]

    def _update(self, store):
        from knowledge_graph_builder_spark.plans.incremental import incremental_update

        self.report = incremental_update(
            self.spark, store, self._read(self.prev), self._read(self.parts),
            kernel_partitions=self.cpus,
        )

    def op(self, i: int) -> int:
        self._update(self.store)
        return self.n_turns

    def traced_op(self, i: int, tracer) -> int:
        from knowledge_graph_builder_spark.plans import incremental

        pipeline_fn = incremental.run_pipeline

        def run_pipeline(*a, **kw):
            # counting here computes and caches the kernel rows (scan,
            # exchange and kernel jobs) inside the span, one job earlier
            # than incremental_update would; that job is tracing overhead
            with tracer.span("reextract"):
                res = pipeline_fn(*a, **kw)
                self.kernel_rows = res.kernel_rows.count()
                self.persist_bytes = probes.cached_bytes(self.spark)
            return res

        self.manifests_before = self._manifests()
        incremental.run_pipeline = run_pipeline
        try:
            with tracer.span("update"):
                self._update(_TracedStore(self.store, tracer))
        finally:
            incremental.run_pipeline = pipeline_fn
        return self.n_turns

    def check(self, i: int) -> bool:
        r = self.report
        return r.n_changed_convs == len(set(self.changed)) and r.n_removed_convs == 0

    def final_check(self) -> bool:
        """The store's keys equal those of a from-scratch build of the
        last snapshot."""
        from knowledge_graph_builder_spark.plans.pipeline import run_pipeline

        res = run_pipeline(self.spark, self._read(self.parts), kernel_partitions=self.cpus)
        want_nodes = set(map(tuple, res.nodes.select("name", "type").collect()))
        want_edges = set(map(tuple, res.edges.select("src", "type", "dst").collect()))
        res.kernel_rows.unpersist()
        got_nodes = set(map(tuple, self.store.nodes().select("name", "type").collect()))
        got_edges = set(map(tuple, self.store.edges().select("src", "type", "dst").collect()))
        return got_nodes == want_nodes and got_edges == want_edges

    def _manifests(self) -> dict[str, dict[str, str]]:
        out = {}
        for table in ("nodes", "edges"):
            with open(os.path.join(self.store_root, f"{table}.manifest.json")) as f:
                out[table] = json.load(f)["buckets"]
        return out

    def layers(self, tracer) -> dict[str, float]:
        update = probes.stages(self.spark, [tracer.group("update")])
        kernel = probes.stages(self.spark, [tracer.group("reextract")])
        # incremental_update diffs the snapshots before it re-extracts; after
        # the kernel jobs it counts the new nodes and edges from the cache
        first = min(s.job for s in kernel)
        diff = [s for s in update if s.job < first]
        reextract = kernel + [s for s in update if s.job > first]
        upserts = probes.stages(self.spark, [tracer.group("upsert_nodes"), tracer.group("upsert_edges")])

        out = _stage_layers(self.spark, reextract, self.kernel_rows)
        out.update(_spark_layers(self.spark, tracer, update + kernel + upserts))
        out["pipeline.persist_bytes"] = float(self.persist_bytes)
        out["scan.rows"] = float(sum(s.input_records for s in update + kernel))
        out["scan.s"] = sum(s.run_s - s.shuffle_write_s for s in update + kernel if s.scan)
        out["incremental.diff_s"] = sum(s.run_s for s in diff)
        out["incremental.reextract_s"] = sum(s.run_s for s in reextract)
        out["incremental.changed_convs"] = float(self.report.n_changed_convs)
        out["graph.nodes"] = float(self.report.n_nodes_upserted)
        out["graph.edges"] = float(self.report.n_edges_upserted)

        after = self._manifests()
        touched = 0
        written_rows = 0
        written_bytes = 0
        for table in ("nodes", "edges"):
            before = self.manifests_before[table]
            touched += sum(1 for b, c in after[table].items() if before.get(b) != c)
            for cdir in set(after[table].values()) - set(before.values()):
                path = os.path.join(self.store_root, f"{table}._commits", cdir)
                written_rows += self.spark.read.parquet(path).count()
                written_bytes += sum(
                    os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
                )
        upserted = self.report.n_nodes_upserted + self.report.n_edges_upserted
        out["graph_store.upsert_nodes_s"] = tracer.seconds("upsert_nodes")
        out["graph_store.upsert_edges_s"] = tracer.seconds("upsert_edges")
        out["graph_store.buckets_touched"] = float(touched)
        out["graph_store.write_amp"] = written_rows / upserted if upserted else 0.0
        out["graph_store.bytes_written"] = float(written_bytes)
        out["graph_store.read_s"] = sum(s.run_s for s in upserts if s.scan)
        kernel_turns = sum(len(self.turns[c]) for c in set(self.changed))
        docs = _documents(self.turns, set(self.changed), REPLAY_DOCS, self.seed)
        out.update(_textkit_layers(docs, kernel_turns, out["extraction.kernel_stage_s"]))
        return out


class Canon(Workload):
    """canonicalize_nodes over alias-rich names."""

    # an operation is nearly all per-job overhead, so the JIT curve after
    # the cold operation is steeper than build's: the second and third
    # operations take up to 1.7x and 1.5x the time of the ones after them
    warmup_ops = 4
    min_ops = 6

    def make_inputs(self) -> None:
        self.names = inputs.alias_names(self.seed, CANON_BASES)
        self.input = os.path.join(self.work, "names")
        inputs.write_names(self.names, self.input)

    def _run(self) -> None:
        from knowledge_graph_builder_spark.operators.canonicalize import canonicalize_nodes

        names = self.spark.read.parquet(self.input)
        self.components = canonicalize_nodes(names).select("canonical_id").distinct().count()

    def op(self, i: int) -> int:
        self._run()
        return len(self.names)

    def traced_op(self, i: int, tracer) -> int:
        from knowledge_graph_builder_spark.operators import canonicalize

        pairs_fn, cc_fn = canonicalize.candidate_pairs, canonicalize.connected_components

        def candidate_pairs(*a, **kw):
            with tracer.span("candidate_pairs"):
                pairs = pairs_fn(*a, **kw)
                self.pairs = pairs.count()
                return pairs

        def connected_components(*a, **kw):
            with tracer.span("connected_components"):
                return cc_fn(*a, **kw)

        # spans around the two calls canonicalize_nodes makes, recorded by
        # swapping the module attributes it looks up for the duration
        canonicalize.candidate_pairs = candidate_pairs
        canonicalize.connected_components = connected_components
        try:
            with tracer.span("canonicalize"):
                self._run()
        finally:
            canonicalize.candidate_pairs, canonicalize.connected_components = pairs_fn, cc_fn
        return len(self.names)

    def check(self, i: int) -> bool:
        return self.components == CANON_BASES

    def layers(self, tracer) -> dict[str, float]:
        groups = [tracer.group(n) for n in ("canonicalize", "candidate_pairs", "connected_components")]
        st = probes.stages(self.spark, groups)
        out = _spark_layers(self.spark, tracer, st)
        out["canonicalize.pairs"] = float(self.pairs)
        out["canonicalize.pairs_s"] = tracer.seconds("candidate_pairs")
        out["canonicalize.cc_s"] = tracer.seconds("connected_components")
        out["canonicalize.components"] = float(self.components)
        out["scan.rows"] = float(sum(s.input_records for s in st))
        out["scan.s"] = sum(s.run_s - s.shuffle_write_s for s in st if s.scan)
        return out


WORKLOADS = {"build": Build, "incremental": Incremental, "canon": Canon}
# what items_per_s counts, by workload; printed under this name as well
ITEM_RATE = {"build": "turns_per_s", "incremental": "turns_per_s", "canon": "names_per_s"}


def _run_ops(wl: Workload, spark, seconds: float, trace: bool, sampler) -> dict:
    """The closed loop: one operation at a time until ``seconds`` have
    passed and enough operations of each kind ran."""

    plain: list[float] = []
    cpu: list[float] = []  # process-tree CPU seconds of each untraced operation
    steal: list[float] = []  # host steal seconds during each untraced operation
    traced: list[float] = []
    rates: list[float] = []
    layers: list[dict[str, float]] = []
    spans: list[list[dict]] = []
    failed = 0
    i = 1
    start = time.perf_counter()
    while time.perf_counter() - start < seconds or (
        min(len(plain), len(traced)) < wl.traced_ops if trace else len(plain) < wl.min_ops
    ):
        # untraced and traced alternate as U T T U U T ..., so a drift in
        # speed over the run falls on both sides alike
        tracer = probes.Tracer(spark, f"op{i}") if trace and i % 4 in (2, 3) else None
        try:
            wl.prepare(i)
            spark.sparkContext._jvm.java.lang.System.gc()  # no GC debt carried into the timed call
            with sampler.active():
                c, st, t = probes.tree_cpu_s(os.getpid()), probes.host_steal_s(), time.perf_counter()
                items = wl.traced_op(i, tracer) if tracer else wl.op(i)
                dt_s = time.perf_counter() - t
                c, st = probes.tree_cpu_s(os.getpid()) - c, probes.host_steal_s() - st
            ok = wl.check(i)
            if tracer:
                traced.append(dt_s)
                layers.append(wl.layers(tracer))
                spans.append([dict(vars(s)) for s in tracer.spans])
            else:
                plain.append(dt_s)
                cpu.append(c)
                steal.append(st)
                rates.append(items / dt_s)
        except Exception:
            traceback.print_exc()
            ok = False
        failed += not ok
        i += 1
    return {"plain": plain, "cpu": cpu, "steal": steal, "traced": traced, "rates": rates,
            "layers": layers, "spans": spans, "attempted": i - 1, "failed": failed}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cpus, driver_mem = usable_cpus(), driver_memory()
    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sampler = probes.RssSampler()
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work, cpus, driver_mem)
        session_s = time.perf_counter() - t
        wl = WORKLOADS[args.workload](spark, work, args.seed, cpus)
        input_s = []
        for _ in range(INPUT_REPEATS):
            t = time.perf_counter()
            wl.make_inputs()
            input_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.seed_store()
        store_s = time.perf_counter() - t
        t = time.perf_counter()
        warmup_failed = wl.warm_up()
        warmup_s = time.perf_counter() - t

        run = _run_ops(wl, spark, args.seconds, bool(args.trace), sampler)
        probe = wl.probe() if args.trace else None
        final_ok = wl.final_check()
    finally:
        sampler.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = run["attempted"] + wl.warmup_ops
    failed = run["failed"] + warmup_failed
    if probe is not None:
        attempted += 1
        failed += not probe[1]
    if not final_ok:
        failed = attempted  # the end state is wrong: no operation can be vouched for
    setup_s = session_s + _median(input_s) + store_s + warmup_s
    values = {
        "setup_s": setup_s,
        "op_s": _median(run["plain"]),
        "items_per_s": _median(run["rates"]),
        "peak_rss_mb": sampler.peak / 2**20,
    }
    if args.trace:
        values = {
            name: _median([s[name] for s in run["layers"] if name in s])
            for name in (m["name"] for m in spec["per_layer"])
        }
        if probe is not None:
            values.update(probe[0])
        values["session.start_s"] = session_s
        values["trace.overhead_s"] = _median(run["traced"]) - _median(run["plain"])
        wanted = spec["per_layer"]
    else:
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "utc": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
        "host": {"cpus": cpus, "driver_memory": driver_mem, "spark_master": f"local[{cpus}]",
                 "shuffle_partitions": cpus, "kernel_partitions": cpus},
        "setup": {"session_s": session_s, "input_s": input_s, "store_s": store_s,
                  "warmup_s": warmup_s, "warmup_ops": wl.warmup_ops},
        "op_s_samples": run["plain"], "op_s_tail": tail(run["plain"]),
        "op_cpu_s_samples": run["cpu"], "host_steal_s_samples": run["steal"],
        "traced_op_s_samples": run["traced"],
        "items_per_s_samples": run["rates"], "layer_samples": run["layers"], "spans": run["spans"],
        "probe_layers": probe[0] if probe else None,
        "attempted": attempted, "failed": failed, "final_check": final_ok, "metrics": metrics,
    }
    records = os.path.join(BENCH_DIR, "records")
    os.makedirs(records, exist_ok=True)
    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S%fZ")
    with open(os.path.join(records, f"{args.workload}-{stamp}-{os.getpid()}.json"), "x") as f:
        json.dump(record, f, indent=1)

    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    if not args.trace:
        n = len(run["plain"])
        print(f"{args.workload} {ITEM_RATE[args.workload]} = {values['items_per_s']:.6g} 1/s")
        if record["op_s_tail"]:
            pct, value = record["op_s_tail"]
            print(f"{args.workload} op_s_tail = {value:.6g} s (p{pct:.0f} of {n} operations)")
        else:
            print(f"{args.workload} op_s_tail = n/a ({n} operations; a tail needs more than 10)")
    print(f"{args.workload} fail_ratio = {failed / attempted:.6g} ({failed}/{attempted} operations)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
