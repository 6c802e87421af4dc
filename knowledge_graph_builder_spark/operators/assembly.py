"""S3 — conversation assembly (SURVEY.md §2.1).

The reference processed one request body as one document (main.py:75-80).
Here a document is a conversation: turns joined in stable
``(conv_id, turn_idx)`` order. The per-row invariant from the graft spec —
per-turn text equality under stable turn ordering — demands the result be
byte-identical no matter how the rows are partitioned or ordered on disk,
which is why the declarative path sorts an aggregated array
(`sort_array(collect_list(struct(...)))`) instead of relying on any input
ordering.

Scale notes (10^12 turns):
* One shuffle, keyed by conv_id. AQE coalesces small post-shuffle
  partitions; hot conversations are bounded by the 2M-char document guard
  (reference nlp_engine.py:20), so a single group's state is capped.
* The guard alone still SHIPS every turn of a pathological conversation
  to one task; ``precap_transcripts`` (below) drops provably-dead turns
  before the shuffle via bucket-salted char sums; callers apply it to the
  transcripts they hand to ``run_pipeline``.
* For the fused scale path that avoids materializing documents at all,
  see operators/extraction.py::extract_from_transcripts (repartition +
  sortWithinPartitions + one mapInArrow pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rules import MAX_TEXT_LENGTH

# Turn texts are joined with a single space: the reference's clean_text
# (nlp_engine.py:22-27) collapses any whitespace run to one space anyway,
# so this choice is canonical under the cleaning that follows.
TURN_SEPARATOR = " "


def assemble_conversations(transcripts: DataFrame, max_length: int = MAX_TEXT_LENGTH) -> DataFrame:
    """transcripts(conv_id, turn_idx, text, ...) -> documents(conv_id, doc_text, n_turns).

    Deterministic under arbitrary row order: collect_list is
    order-nondeterministic, so the struct array is sorted on turn_idx
    before joining. Ties on turn_idx (malformed input) break on text to
    stay deterministic.
    """
    return (
        # malformed-row contract (shared with the fused kernel): NULL
        # conv_id rows are dropped, NULL turn_idx sorts first as -1
        transcripts.select(
            "conv_id", F.coalesce("turn_idx", F.lit(-1)).alias("turn_idx"), "text"
        )
        .filter(F.col("conv_id").isNotNull())
        .groupBy("conv_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("turn_idx", "text"))).alias("turns"),
            F.count("*").cast("int").alias("n_turns"),
        )
        .select(
            "conv_id",
            F.substring(
                F.array_join(F.transform("turns", lambda t: t["text"]), TURN_SEPARATOR),
                1,
                max_length,
            ).alias("doc_text"),
            "n_turns",
        )
    )


def precap_transcripts(
    transcripts: DataFrame,
    max_chars: int = MAX_TEXT_LENGTH,
    bucket: int = 1024,
) -> DataFrame:
    """Skew pre-cap for pathological hot conversations (north_rule:
    "hot-conversation skew handled explicitly").

    The document guard truncates at ``max_chars``, but the plain fused
    path only applies it AFTER the conv_id shuffle — a 10^9-turn
    conversation still ships every turn to one task. This operator drops
    the turns that provably CANNOT contribute before that shuffle:

    1. salt the conversation by contiguous turn-ranges:
       ``bucket_id = floor(turn_idx / bucket)`` — a hot conversation's
       per-bucket char sums aggregate across many tasks (map-side
       combinable, output ~n_turns/bucket rows);
    2. a per-conversation running total over BUCKETS (a window over
       ~n_turns/bucket rows — the skew is reduced by the bucket factor;
       recurse with a second bucketing level if a single conversation's
       bucket count is itself extreme);
    3. keep a bucket only if the text of all earlier buckets alone has
       not already filled the cap. Text-only length (no separators)
       UNDERCOUNTS the true document length, so the filter is
       conservative: it never drops a turn the assembled document would
       include. The kernel/assembly then applies the exact char-level cap
       as before — byte parity is preserved (tests pin it).

    Benign data pays one extra map-side-combinable aggregate and a
    co-partitioned semi-join; adversarial data caps the big shuffle at
    ~max_chars per conversation instead of unbounded.
    """
    t = transcripts.withColumn(
        "_bucket", (F.coalesce("turn_idx", F.lit(-1)) / F.lit(bucket)).cast("long")
    )
    from pyspark.sql import Window

    per_bucket = t.filter(F.col("conv_id").isNotNull()).groupBy("conv_id", "_bucket").agg(
        F.sum(F.length(F.coalesce("text", F.lit("")))).alias("_chars")
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    keep = (
        per_bucket.withColumn("_before", F.coalesce(F.sum("_chars").over(w), F.lit(0)))
        .filter(F.col("_before") < max_chars)
        .select("conv_id", "_bucket")
    )
    return t.join(keep, ["conv_id", "_bucket"]).drop("_bucket")
