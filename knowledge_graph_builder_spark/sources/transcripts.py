"""Transcript source (reference S1/S2 equivalent — SURVEY.md §2.1).

The reference ingested one HTTP request body per document (main.py:64-75).
Here the source is a transcripts directory (parquet, JSON-lines or CSV)
read by ``read_transcripts``, or a catalog table with the identical
layout read by ``spark.table`` (the CLI's ``--table``); either way
`conv_id` plays the reference's `document_id`.

Filters and column selection applied downstream reach the scan (predicate
pushdown / column pruning); partition pruning applies when the table is
written bucketed/partitioned by conv_id hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schema import TRANSCRIPTS


def read_transcripts(spark: SparkSession, source: str, fmt: str | None = None) -> DataFrame:
    """Read the transcripts directory at path ``source``.

    ``fmt`` selects ``parquet`` (the default), ``json`` (JSON-lines), or
    ``csv`` (with header); a ``.json``/``.jsonl``/``.csv`` suffix implies
    its format. All formats are schema-asserted — inference is never
    used (SURVEY.md §1.3).
    """
    if fmt is None and source.rstrip("/").endswith((".jsonl", ".json")):
        fmt = "json"
    if fmt is None and source.rstrip("/").endswith(".csv"):
        fmt = "csv"
    reader = spark.read.schema(TRANSCRIPTS)
    if fmt == "json":
        return reader.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]").json(source)
    if fmt == "csv":
        return reader.option("header", "true").option(
            "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]"
        ).csv(source)
    return reader.parquet(source)


def write_transcripts_bucketed(df: DataFrame, table: str, buckets: int = 64) -> None:
    """Land the transcripts table HASH-BUCKETED by conv_id (Spark SQL
    bucketing via saveAsTable).

    This is the SCALE.md §1 input layout: a bucketed read materializes
    each bucket as exactly ONE partition with every conversation's turns
    co-located. Read it with ``partitions`` (``run_pipeline``'s
    ``kernel_partitions``) equal to ``buckets`` and Spark drops the
    extraction repartition — zero shuffles end to end (the write pays
    the clustering cost once; every subsequent extraction run over the
    table skips it). Any other partition count shuffles as usual. Size
    ``buckets`` to ~3 GB of input each (2^15 at 100 TB)."""
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .format("parquet")
        .saveAsTable(table)
    )
