"""The engine's CLI. spark-submit needs a .py file, so it runs this
through tools/submit_job.py:

    python tools/make_pyfiles.py
    spark-submit --py-files dist/knowledge_graph_builder_spark.zip \
        tools/submit_job.py \
        --input  /data/transcripts \
        --output /data/kg \
        --checkpoint /data/kg/_checkpoints \
        --session-id batch-2026-08-16 \
        --partitions 4096

Without spark-submit: ``python -m knowledge_graph_builder_spark ...``.

Reads the transcripts table (a catalog table via --table, read with
``spark.table``; else a path via --input), runs the fused single-shuffle
pipeline, and writes the nodes/edges/triples/events tables partitioned
for downstream MERGE. A
batch run prints ONE JSON line to stdout: run_id, master, wall_sec, the
row count of each written table (read back) and the stage lineage.
"""

from __future__ import annotations

import argparse
import json
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="knowledge_graph_builder_spark")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="transcripts parquet path")
    src.add_argument("--table", help="transcripts catalog table identifier")
    p.add_argument("--output", required=True, help="output directory for graph tables")
    p.add_argument("--checkpoint", default=None, help="stage checkpoint dir (resumable)")
    p.add_argument("--run-id", default="run-0")
    p.add_argument("--session-id", default="batch")
    p.add_argument("--partitions", type=int, default=None, help="kernel parallelism")
    p.add_argument("--format", default=None, choices=["parquet", "json", "csv"],
                   help="input format (default: inferred from path / parquet)")
    p.add_argument("--streaming", action="store_true", help="run the foreachBatch streaming pipeline")
    p.add_argument("--store-root", default=None,
                   help="with --streaming: MERGE micro-batches into the durable graph store at this path (exactly-once) instead of per-batch parquet output")
    args = p.parse_args(argv)

    from .session import get_spark

    spark = get_spark(app_name="kgb-submit")

    if args.streaming:
        if not args.input:
            p.error("--streaming requires --input (a parquet path)")
        if args.store_root:
            from .streaming.incremental import stream_kg_to_store

            q = stream_kg_to_store(
                spark, args.input, args.store_root,
                args.checkpoint or f"{args.store_root}/_stream_ckpt",
                session_id=args.session_id,
            )
        else:
            from .streaming.incremental import stream_kg_foreachbatch

            q = stream_kg_foreachbatch(
                spark, args.input, args.output, args.checkpoint or f"{args.output}/_stream_ckpt"
            )
        q.awaitTermination()
        return 0

    from .plans.pipeline import run_pipeline
    from .sources.transcripts import read_transcripts

    t0 = time.monotonic()
    if args.table:
        transcripts = spark.table(args.table)
    else:
        transcripts = read_transcripts(spark, args.input, fmt=args.format)
    res = run_pipeline(
        spark,
        transcripts,
        session_id=args.session_id,
        checkpoint_dir=args.checkpoint,
        run_id=args.run_id,
        kernel_partitions=args.partitions,
    )
    counts = {}
    for name in ("nodes", "edges", "triples", "events"):
        path = f"{args.output.rstrip('/')}/{name}"
        getattr(res, name).write.mode("overwrite").parquet(path)
        counts[name] = spark.read.parquet(path).count()
    print(json.dumps({
        "run_id": args.run_id,
        "master": spark.sparkContext.master,
        "wall_sec": round(time.monotonic() - t0, 3),
        "counts": counts,
        "lineage": res.lineage,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
