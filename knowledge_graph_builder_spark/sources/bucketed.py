"""Bucketed-table source/sink: Spark-native co-located joins.

At 100 TB the dominant cost of the KG read-side (node x edge joins,
repeated enrichment of the same entity key) is the exchange. Writing
both sides `bucketBy(N, key).sortBy(key)` at ingest time pre-shuffles
the data ONCE at write; every later equi-join on that key then planes
as a zero-Exchange sort-merge join — the join reads co-located bucket
files directly (verified by `join_plan_exchanges` below, which counts
Exchange operators in the executed plan).

This is the batch-table twin of the GraphStore's hash-bucket layout
(sources/graph_store.py): the store buckets for incremental MERGE cost,
this buckets for repeated analytical joins. Both pick the same
bucket-by-key co-location strategy an Iceberg table would declare as
`bucket(N, key)` partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 16,
) -> None:
    """Persist ``df`` as a parquet table bucketed+sorted on ``key``.

    The bucket spec is recorded in the catalog, so every reader of
    ``spark.table(table)`` gets the bucketed distribution for free —
    the one-time shuffle here replaces a shuffle in EVERY downstream
    join/aggregation on ``key``.
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def join_plan_exchanges(spark: SparkSession, left: str, right: str, key: str) -> int:
    """Number of Exchange (shuffle) operators in the physical plan of
    ``left JOIN right USING (key)`` over two catalog tables — 0 when
    bucketing co-locates both sides. The plan-audit probe the tests pin."""
    # disable broadcast while probing: a small side would plan a
    # BroadcastExchange and hide whether bucketing removed the SHUFFLE
    # exchange — the property that matters at 100 TB, where neither
    # side broadcasts
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(left).join(spark.table(right), key)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
