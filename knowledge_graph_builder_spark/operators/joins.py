"""Join operators: block purging, as-of join, sessionization, snapshot diff.

``kept_blocks``/``block_pairs`` hold the blocking policy every pair
generator shares (canonicalization, MinHash-LSH, winnowing, SemDeDup):
count each block, purge blocks above a size cap, pair members only
inside the blocks that survive.

The reference has no temporal machinery (SURVEY.md §2.9); the as-of join
and sessionization are the engine-side additions a transcript/event
corpus needs.

``asof_join`` uses the union+window formulation rather than the naive
inequality join: tag both inputs, union them on (key, ts), and carry the
most recent right-side row forward with ``last(..., ignorenulls)`` over an
ordered window. One shuffle, no row fan-out — the inequality-join
formulation explodes to |orders| x |earlier events per key| intermediate
rows, which at 100 TB is the difference between a sort and an OOM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def kept_blocks(members: DataFrame, block: str, max_size: int) -> DataFrame:
    """The block-purging policy: the ``block`` values that occur in 2 to
    ``max_size`` rows of ``members``. One partial-aggregable count, so a
    hot block costs one counter per map task, never a member list.
    Singleton blocks pair nothing and go too."""
    return (
        members.groupBy(block)
        .agg(F.count("*").alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= max_size))
        .select(block)
    )


def block_pairs(
    members: DataFrame,
    block: str,
    member: str,
    max_size: int,
    probe: DataFrame | None = None,
) -> DataFrame:
    """(block, a, b): one row per pair per shared block of ``kept_blocks``
    (sizes counted over ``members``).

    Without ``probe``: pairs within ``members``, ``a < b``. With
    ``probe`` (same columns, usually a subset of ``members``): each
    member paired with each probe row of its block, ``a != b``, as
    ``(least, greatest)``; a pair of two probe rows comes once per side.
    """
    kept = kept_blocks(members, block, max_size)
    bounded = members.join(kept, block)
    if probe is None:
        return (
            bounded.select(block, F.col(member).alias("a"))
            .join(bounded.select(block, F.col(member).alias("b")), block)
            .filter(F.col("a") < F.col("b"))
        )
    return (
        bounded.select(block, F.col(member).alias("x"))
        .join(probe.join(kept, block).select(block, F.col(member).alias("y")), block)
        .filter(F.col("x") != F.col("y"))
        .select(block, F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """For each left row: the latest right row with the same key and
    right_ts <= left_ts (inner semantics — left rows with no prior right
    row are dropped, like DuckDB/kdb ASOF JOIN).

    Ties on (key, ts): right rows sort before left rows at equal
    timestamps, so an event AT the left timestamp is visible to it; among
    equal-ts right rows the last by ``value_cols`` order wins
    (deterministic via the sort below).
    """
    lcols = left.columns
    r = right.select(
        F.col(right_key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"{c}{suffix}") for c in value_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
    )
    l = left.select(
        F.col(left_key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"{c}{suffix}") for c in value_cols],
        *[F.col(c) for c in lcols],
    )
    unioned = r.unionByName(l)
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side", *[F.col(f"{c}{suffix}").asc_nulls_first() for c in value_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "_side",
        F.col("_ts").alias(f"{left_ts}{suffix}_left"),
        *lcols,
        *[F.last(f"{c}{suffix}", ignorenulls=True).over(w).alias(f"{c}{suffix}") for c in value_cols],
        F.last(F.when(F.col("_side") == 0, F.col("_ts")), ignorenulls=True).over(w).alias(f"{right_ts}{suffix}"),
    )
    return (
        carried.filter(F.col("_side") == 1)
        .filter(F.col(f"{right_ts}{suffix}").isNotNull())
        .drop("_side", f"{left_ts}{suffix}_left")
    )


def sessionize(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int = 1800,
    tie_break_cols: list[str] | None = None,
) -> DataFrame:
    """Assign gap-based session ids: a new session starts when the time
    since the key's previous event exceeds ``gap_seconds``. Adds
    ``session_id`` (0-based per key, by time order). One shuffle.

    ``tie_break_cols`` extend the window ORDER BY past the timestamp so
    equal-ts rows order deterministically — required when the output is
    compared row-for-row across engines (the driver's value-hash)."""
    w = Window.partitionBy(key_col).orderBy(ts_col, *(tie_break_cols or []))
    secs = F.unix_timestamp(F.col(ts_col))  # floor-seconds; ANSI-safe
    gap = secs - F.lag(secs).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return events.withColumn(
        "session_id",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1,
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, key_cols: list[str]
) -> DataFrame:
    """CDC-style diff of two snapshots of the same table: one row per key
    whose state differs, labeled ``change`` in ('added', 'removed',
    'changed'); unchanged keys are dropped. Value comparison is null-safe
    per column (a NULL->value transition counts as changed). The
    maintenance primitive for incremental re-processing: feed the 'added'
    + 'changed' keys back into the pipeline instead of recomputing 100 TB.

    One full-outer shuffle join on the key — the minimum possible for a
    keyed diff; value columns travel once per side and the comparison is
    column expressions (no UDF, no row serialization).
    """
    val_cols = [c for c in new.columns if c not in key_cols]
    o = old.select(
        *[F.col(c).alias(f"_ok_{c}") for c in key_cols],
        *[F.col(c).alias(f"_ov_{c}") for c in val_cols],
        F.lit(1).alias("_in_old"),
    )
    n = new.select(
        *key_cols, *[F.col(c).alias(f"_nv_{c}") for c in val_cols], F.lit(1).alias("_in_new")
    )
    cond = None
    for c in key_cols:
        eq = n[c].eqNullSafe(F.col(f"_ok_{c}"))
        cond = eq if cond is None else cond & eq
    j = n.join(o, cond, "full_outer")
    changed = F.lit(False)
    for c in val_cols:
        changed = changed | ~F.col(f"_nv_{c}").eqNullSafe(F.col(f"_ov_{c}"))
    change = (
        F.when(F.col("_in_old").isNull(), "added")
        .when(F.col("_in_new").isNull(), "removed")
        .when(changed, "changed")
    )
    keys_out = [F.coalesce(n[c], F.col(f"_ok_{c}")).alias(c) for c in key_cols]
    return j.select(*keys_out, change.alias("change")).filter(F.col("change").isNotNull())
