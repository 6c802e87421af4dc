"""Measurement taken from outside the engine.

* ``Tracer`` keeps spans (wall time around the benchmark's calls into the
  engine) in memory and tags every Spark job a span starts with a job group
  named after it, so stage metrics can be read back per span.
* ``stages`` reads those stage metrics from the Spark status store over
  py4j. The store is filled whether or not the UI runs.
* ``RssSampler`` samples the resident memory of this process and every
  process below it (the driver JVM and the Python workers) from ``/proc``,
  counting shared pages once.
* ``replay_textkit`` runs documents through textkit's public functions in
  the order ``analyze_document`` calls them and times each phase.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from knowledge_graph_builder_spark import textkit
from knowledge_graph_builder_spark.rules import MAX_TEXT_LENGTH


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans of one traced operation. ``op`` prefixes every job group so
    groups of different operations never mix."""

    spark: object
    op: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    def group(self, name: str) -> str:
        return f"{self.op}.{name}"

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        s = Span(name, self._stack[-1] if self._stack else None, time.perf_counter())
        self._stack.append(name)
        sc.setJobGroup(self.group(name), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if self._stack:
                sc.setJobGroup(self.group(self._stack[-1]), self._stack[-1])
            else:
                sc.setJobGroup("", "")

    def seconds(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def span_names(self) -> list[str]:
        return [s.name for s in self.spans]


@dataclass
class Stage:
    stage_id: int
    job: int
    ops: frozenset[str]  # RDD operation scopes in the stage: "MapInArrow", "Exchange", ...
    tasks: int
    run_s: float  # executor run time summed over tasks (core-seconds)
    gc_s: float
    input_records: int
    shuffle_write_bytes: int
    shuffle_write_s: float
    fetch_wait_s: float
    spill_bytes: int

    @property
    def kernel(self) -> bool:
        """The stage that runs the extraction kernel and fills the cache."""
        return "MapInArrow" in self.ops and "InMemoryTableScan" not in self.ops

    @property
    def post_kernel(self) -> bool:
        """A stage that reads kernel rows back from the cache, or reads the
        shuffle of such a stage."""
        return "InMemoryTableScan" in self.ops or "AQEShuffleRead" in self.ops

    @property
    def scan(self) -> bool:
        return "Scan parquet" in self.ops and "MapInArrow" not in self.ops


def _scopes(cluster, acc: set[str]) -> set[str]:
    name = cluster.name()
    # cluster names carry codegen ids and trailing blanks ("WholeStageCodegen (3)")
    acc.add(name.split(" (")[0].strip())
    children = cluster.childClusters()
    for i in range(children.size()):
        _scopes(children.apply(i), acc)
    return acc


def stages(spark, groups: list[str]) -> list[Stage]:
    """Completed stages of every job in ``groups``, each stage once."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    seen: set[int] = set()
    out: list[Stage] = []
    for g in groups:
        for job in sorted(sc.statusTracker().getJobIdsForGroup(g)):
            ids = store.job(job).stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                try:
                    s = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # skipped: never submitted, so never stored
                if s.status().toString() != "COMPLETE":
                    continue
                seen.add(sid)
                ops = frozenset(_scopes(store.operationGraphForStage(sid).rootCluster(), set()))
                out.append(Stage(
                    stage_id=sid, job=job, ops=ops, tasks=s.numTasks(),
                    run_s=s.executorRunTime() / 1e3, gc_s=s.jvmGcTime() / 1e3,
                    input_records=s.inputRecords(),
                    shuffle_write_bytes=s.shuffleWriteBytes(),
                    shuffle_write_s=s.shuffleWriteTime() / 1e9,
                    fetch_wait_s=s.shuffleFetchWaitTime() / 1e3,
                    spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                ))
    return out


def job_count(spark, groups: list[str]) -> int:
    tracker = spark.sparkContext.statusTracker()
    return sum(len(tracker.getJobIdsForGroup(g)) for g in groups)


def task_skew(spark, stage: Stage) -> float:
    """max / median task duration of one stage."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tasks = store.taskList(stage.stage_id, store.lastStageAttempt(stage.stage_id).attemptId(), 100_000)
    durs = sorted(
        tasks.apply(i).duration().get() for i in range(tasks.size()) if tasks.apply(i).duration().isDefined()
    )
    if not durs:
        return 0.0
    med = durs[len(durs) // 2] if len(durs) % 2 else (durs[len(durs) // 2 - 1] + durs[len(durs) // 2]) / 2
    return durs[-1] / med if med else 0.0


def cached_bytes(spark) -> int:
    """Memory plus disk held by cached RDDs right now."""
    infos = spark.sparkContext._jsc.sc().statusStore().rddList(True)
    return sum(infos.apply(i).memoryUsed() + infos.apply(i).diskUsed() for i in range(infos.size()))


# -- process-tree memory -----------------------------------------------------

def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from the ppid field of /proc/*/stat."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_memory_bytes(root: int) -> int:
    """Resident memory of the process tree, each shared page counted once:
    the sum of PSS. Forked Python workers share most of their pages with
    the daemon they fork from, so summing RSS would count those many times."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # exited while sampling
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of the
    process tree so far."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        total += sum(map(int, stat[stat.rindex(")") + 2 :].split()[11:15]))
    return total / _TICK


def host_steal_s() -> float:
    """CPU seconds the hypervisor took from this host's CPUs so far, summed
    over CPUs (the steal field of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


SAMPLE_INTERVAL = 0.2  # seconds between memory samples


class RssSampler:
    """Samples process-tree memory every SAMPLE_INTERVAL seconds while
    active; ``peak`` is the highest sample seen since construction."""

    def __init__(self):
        self.peak = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            if self._active.wait(SAMPLE_INTERVAL):
                self.peak = max(self.peak, tree_memory_bytes(pid))
                self._stop.wait(SAMPLE_INTERVAL)

    @contextlib.contextmanager
    def active(self):
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            self.peak = max(self.peak, tree_memory_bytes(os.getpid()))

    def close(self) -> None:
        self._stop.set()
        self._thread.join(5)


# -- textkit replay ----------------------------------------------------------

TEXTKIT_PHASES = (
    "clean_text", "split_sentences", "tokenize", "detect_mentions", "extract_svo",
    "extract_rule_candidates",
)


def replay_textkit(documents: list[str]) -> dict[str, float]:
    """Seconds per phase over ``documents``, plus ``analyze_document`` (the
    whole kernel body) and ``graph_stage`` (its part after the parse pass).
    Tokens are shared between detect_mentions and extract_svo exactly as
    analyze_document shares them. An untimed pass first fills whatever
    caches textkit keeps, as the operations before a traced one did in the
    Python workers, so both timed passes run warm."""
    for text in documents:
        textkit.analyze_document(text, MAX_TEXT_LENGTH)
    clock = time.perf_counter
    t = clock()
    for text in documents:
        textkit.analyze_document(text, MAX_TEXT_LENGTH)
    whole = clock() - t
    out = dict.fromkeys(TEXTKIT_PHASES, 0.0)
    for text in documents:
        t0 = clock()
        cleaned = textkit.clean_text(text)[:MAX_TEXT_LENGTH]
        t1 = clock()
        sentences = textkit.split_sentences(cleaned)
        out["clean_text"] += t1 - t0
        out["split_sentences"] += clock() - t1
        for sent, start in sentences:
            t0 = clock()
            toks = textkit._tokenize(sent)
            t1 = clock()
            mentions = textkit.detect_mentions(sent, start, toks)
            t2 = clock()
            svos = textkit.extract_svo(sent, mentions, start, toks)
            t3 = clock()
            textkit.extract_rule_candidates(sent, mentions, svos)
            t4 = clock()
            out["tokenize"] += t1 - t0
            out["detect_mentions"] += t2 - t1
            out["extract_svo"] += t3 - t2
            out["extract_rule_candidates"] += t4 - t3
    out["analyze_document"] = whole
    out["graph_stage"] = max(0.0, whole - sum(out[p] for p in TEXTKIT_PHASES))
    return out
