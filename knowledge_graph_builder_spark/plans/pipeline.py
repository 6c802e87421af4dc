"""End-to-end KG construction pipeline + checkpoint/resume lineage
(SURVEY.md §3, §7 step 8; north_rule: resumable from checkpoint with
per-partition lineage + metrics).

Stage graph (each stage optionally checkpointed as parquet):

    transcripts --(fused shuffle+sort+kernel)--> kernel_rows
    kernel_rows -> entities, metadata
    kernel_rows + metadata -> relationships -> validated triples
    kernel_rows + entities + metadata -> events
    triples/entities/events -> nodes/edges tables

Resume semantics: a stage directory with a _SUCCESS marker AND a matching
manifest row (same run fingerprint) is reused by reading it back instead
of recomputing — idempotent under partial writes because parquet writes
are staged (write-then-commit) and the manifest row lands only after the
write commits.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from ..sources.fsio import io_for

from pyspark.sql import DataFrame, SparkSession

from ..operators.assembly import assemble_conversations
from ..operators.events import extract_events
from ..operators.extraction import (
    EMIT_ANALYSIS,
    EMIT_GRAPH,
    entities_from_kernel,
    entity_stage,
    events_from_kernel,
    extract_from_transcripts,
    extract_kernel,
    first_metadata_per_sentence,
    force_detect_hits_from_documents,
    triples_from_kernel,
)
from ..operators.graph import build_edges, build_nodes
from ..operators.relationships import (
    attach_sentence_and_metadata,
    candidate_relationships,
    dedup_relationships,
)
from ..operators.validation import to_triples, validate_relationships


@dataclass
class PipelineResult:
    kernel_rows: DataFrame
    entities: DataFrame
    triples: DataFrame
    events: DataFrame
    nodes: DataFrame
    edges: DataFrame
    lineage: list[dict] = field(default_factory=list)


class Checkpointer:
    """Parquet stage checkpointing with a JSON-lines manifest.

    The manifest row for a stage is written only after the stage's
    parquet commit, so a killed run resumes by recomputing exactly the
    stages without manifest rows; completed stages load from disk.
    """

    def __init__(self, root: str | None, run_id: str, spark: SparkSession, fingerprint: str = ""):
        self.root = root
        self.run_id = run_id
        self.spark = spark
        self.fingerprint = fingerprint
        self.lineage: list[dict] = []
        self._manifest: dict[str, dict] = {}
        if root:
            # metadata I/O through the fsio shim: the checkpoint root can
            # live next to the data (hdfs://, s3a://) instead of only on
            # the driver's local disk
            self.io = io_for(root, spark)
            self.io.makedirs(root)
            mpath = self._manifest_path()
            if self.io.exists(mpath):
                for line in self.io.read_text(mpath).splitlines():
                    try:
                        row = json.loads(line)
                    except ValueError:
                        continue  # torn final line from a killed appender
                    # a stage is reusable only for the SAME run id AND
                    # the same input fingerprint — re-running over
                    # different input with a stale checkpoint dir must
                    # recompute, not silently return old data
                    if (
                        row.get("run_id") == run_id
                        and row.get("status") == "ok"
                        and row.get("fingerprint", "") == fingerprint
                    ):
                        self._manifest[row["stage"]] = row

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.jsonl")

    def stage(self, name: str, compute, partition_by: str | None = None) -> DataFrame:
        """Return the stage frame, from checkpoint when complete."""
        if not self.root:
            df = compute()
            return df
        path = os.path.join(self.root, name)
        if name in self._manifest and self.io.exists(os.path.join(path, "_SUCCESS")):
            self.lineage.append({**self._manifest[name], "resumed": True})
            return self.spark.read.parquet(path)
        t0 = time.monotonic()
        df = compute()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(path)
        out = self.spark.read.parquet(path)
        # per-partition lineage: row count per written file (north_rule
        # "per-partition lineage + metrics"). The per-file counts land in
        # a PARQUET SIDECAR via a distributed write — at the SCALE.md
        # design point a stage has ~400k kernel partitions, and collecting
        # per-file rows to the driver (the round-3 shape) meant a ~400k-row
        # collect plus a multi-MB JSON manifest entry per stage. The
        # manifest row keeps only the bounded aggregates (rows, n_files,
        # wall); ``partition_rows(stage)`` reads the sidecar back as a
        # DataFrame.
        from pyspark.sql import functions as F

        per_part = (
            out.groupBy(F.input_file_name().alias("f"))
            .count()
            .select(F.element_at(F.split("f", "/"), -1).alias("file"), "count")
        )
        sidecar = self._sidecar_path(name)
        per_part.write.mode("overwrite").parquet(sidecar)
        agg = (
            self.spark.read.parquet(sidecar)
            .agg(F.sum("count").alias("rows"), F.count(F.lit(1)).alias("n_files"))
            .collect()[0]
        )
        row = {
            "run_id": self.run_id,
            "stage": name,
            "fingerprint": self.fingerprint,
            "output_rows": int(agg["rows"] or 0),
            "n_partitions": int(agg["n_files"]),
            "partition_rows_sidecar": os.path.basename(sidecar),
            "wall_ms": int((time.monotonic() - t0) * 1000),
            "status": "ok",
        }
        self.io.append_text(self._manifest_path(), json.dumps(row) + "\n")
        self.lineage.append(row)
        self._manifest[name] = row
        return out

    def _sidecar_path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}._lineage")

    def partition_rows(self, name: str) -> DataFrame:
        """The per-file lineage of a completed stage: (file, count) rows
        read back from the stage's parquet sidecar — distributed, never a
        driver-side dict."""
        return self.spark.read.parquet(self._sidecar_path(name))


def _input_fingerprint(transcripts: DataFrame, options: str) -> str:
    """Input fingerprint for resume safety: the logical plan string names
    the concrete sources (paths/tables), so pointing the same run_id at
    different input invalidates every cached stage."""
    import hashlib

    plan_str = transcripts._jdf.queryExecution().logical().toString()
    mem_fp = ""
    if "LogicalRDD" in plan_str or "LocalRelation" in plan_str:
        # in-memory inputs (createDataFrame) put only schema + session-
        # local expression ids in the plan string — two different datasets
        # in two processes can print identically, silently resuming from
        # the other's checkpoints. Fingerprint the rows themselves (one
        # cheap aggregate).
        from pyspark.sql import functions as F

        row = transcripts.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*transcripts.columns).cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        mem_fp = f"|mem={row['n']}:{row['h']}"
    return hashlib.md5((plan_str + options + mem_fp).encode()).hexdigest()[:16]


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    session_id: str = "batch",
    checkpoint_dir: str | None = None,
    run_id: str = "run-0",
    fused: bool = True,
    kernel_partitions: int | None = None,
    persist: bool = True,
) -> PipelineResult:
    """Transcripts -> full knowledge graph.

    ``fused=True`` (the scale path): ONE shuffle clusters turns by
    conv_id (none for a table bucketed on conv_id into
    ``kernel_partitions`` buckets); the Arrow kernel assembles each
    conversation and emits the FINISHED per-document
    entities/triples/events (every reference
    pipeline stage except the graph MERGE is document-local — SURVEY.md
    §3.1). Downstream there are no joins or windows until the genuinely
    global graph dedup (D3/D4) and canonicalization.

    ``fused=False`` (the relational operator path): materializes assembled
    documents, then composes the §2 operators — entity_stage,
    candidate_relationships (per-sentence self-joins), D1 window, V2
    validation joins, relational event extraction. Byte-identical output
    (pinned by tests/test_pipeline_parity.py); useful for debugging,
    operator-level reuse, and as the semantics oracle.

    ``persist``: in the fused path only kernel_rows is held (everything
    else is a filter of it); in the relational path the shared frames are
    held so branches don't re-run the kernel. With a checkpoint_dir the
    parquet stage IS the materialization.
    """
    # only resume reads the fingerprint, and building it costs py4j round
    # trips (and an aggregate job for in-memory input)
    fp = ""
    if checkpoint_dir:
        options = f"|fused={fused}|parts={kernel_partitions}"
        fp = _input_fingerprint(transcripts, options)
    ckpt = Checkpointer(checkpoint_dir, run_id, spark, fingerprint=fp)

    def _hold(df: DataFrame) -> DataFrame:
        if persist and not checkpoint_dir:
            from pyspark import StorageLevel

            return df.persist(StorageLevel.MEMORY_AND_DISK)
        return df

    if fused:
        kernel_rows = _hold(
            ckpt.stage(
                "kernel_rows",
                lambda: extract_from_transcripts(transcripts, kernel_partitions, emit=EMIT_GRAPH),
            )
        )
        entities = ckpt.stage("entities", lambda: entities_from_kernel(kernel_rows))
        triples = ckpt.stage("triples", lambda: triples_from_kernel(kernel_rows))
        events = ckpt.stage("events", lambda: events_from_kernel(kernel_rows))
    else:
        # held: both the kernel and force-detect read the assembled
        # documents — without this the full transcripts groupBy runs twice
        documents = _hold(assemble_conversations(transcripts))
        kernel_rows = _hold(
            ckpt.stage(
                "kernel_rows", lambda: extract_kernel(documents, kernel_partitions, emit=EMIT_ANALYSIS)
            )
        )
        force_hits = force_detect_hits_from_documents(documents)
        ents_and_meta = entity_stage(kernel_rows, force_hits)
        entities = _hold(ckpt.stage("entities", lambda: ents_and_meta[0]))
        sent_meta = _hold(first_metadata_per_sentence(ents_and_meta[1]))
        triples = _hold(
            ckpt.stage(
                "triples",
                lambda: to_triples(
                    attach_sentence_and_metadata(
                        validate_relationships(
                            dedup_relationships(
                                candidate_relationships(kernel_rows, persist=persist)
                            ),
                            entities,
                        ),
                        kernel_rows,
                        sent_meta,
                    )
                ),
            )
        )
        events = ckpt.stage("events", lambda: extract_events(kernel_rows, entities, sent_meta))

    nodes = build_nodes(entities, session_id)
    edges = build_edges(triples, events, session_id)

    return PipelineResult(
        kernel_rows=kernel_rows,
        entities=entities,
        triples=triples,
        events=events,
        nodes=nodes,
        edges=edges,
        lineage=ckpt.lineage,
    )
