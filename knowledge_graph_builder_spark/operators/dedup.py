"""Document deduplication operators for large-scale corpus pipelines.

Four families, all DataFrame-native (no per-row Python):

* exact dedup        — hash-groupBy on a content fingerprint.
* MinHash + LSH      — shingle -> minhash signature -> banded bucket join;
                       near-duplicate clusters at ~Jaccard >= threshold.
* SimHash            — 64-bit weighted-projection fingerprint via token
                       hash bit-votes; near-dups share band keys.
* n-gram Jaccard     — exact pairwise Jaccard over shingle sets for
                       candidate pairs (verification layer for the LSH).

At 100 TB the LSH band join is the scale path: cost is O(docs x bands)
with bounded buckets, vs the quadratic naive pairwise. Buckets above
`max_bucket` are dropped before any pairing (boilerplate-text guard,
``joins.kept_blocks``); nothing counts the dropped buckets yet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .joins import block_pairs, kept_blocks


def normalize_text_col(col):
    """Lowercase, collapse whitespace, strip punctuation — the canonical
    form used by every dedup family so they agree on what "same" means."""
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(col), r"[^a-z0-9\s]", " "), r"\s+", " "))


def ngrams_col(words, n: int):
    """Array of space-joined word n-grams over a words-array column;
    empty array when the row has fewer than ``n`` words.

    Built from ``n`` shifted slices combined with ``zip_with`` — O(len)
    work per row. The previous shape shared by every n-gram site
    (``transform(sequence(...), i -> array_join(slice(words, i, n)))``)
    runs one O(len) slice PER ELEMENT, i.e. quadratic per row; measured
    ~30x slower on the bench corpus (round-4 profiling: DSIR featurize
    12s -> sub-second at sf0.1)."""
    size = F.size(words)
    cnt = F.greatest(size - (n - 1), F.lit(0))
    out = F.slice(words, 1, cnt)
    for i in range(1, n):
        out = F.zip_with(out, F.slice(words, i + 1, cnt), lambda a, b: F.concat_ws(" ", a, b))
    return F.when(size < n, F.array().cast("array<string>")).otherwise(out)


def exact_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    member_sample: int = 20,
) -> DataFrame:
    """Groups of byte-identical (post-normalization) documents.

    Returns (fingerprint, n_docs, canonical_id, sample_ids) for groups with
    n_docs >= 2. Every aggregate is BOUNDED: n_docs/canonical_id are
    partial-aggregable (count + min, map-side combined), and sample_ids is
    capped at ``member_sample`` via a rank filter BEFORE the collect — at
    100 TB a boilerplate document repeated 10^8 times must never put a
    10^8-element array on one reducer (the hazard class already guarded in
    ``lsh_candidate_pairs``/``semantic_duplicates``). The window sort
    spills; the collected array never exceeds ``member_sample``. Full
    membership, when genuinely needed, is the filtered join
    ``docs ⋈ exact_duplicates on fingerprint`` — streamed, never an array.
    """
    fp = docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(normalize_text_col(F.col(text_col))).alias("fingerprint"),
    )
    groups = (
        fp.groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("canonical_id"))
        .filter(F.col("n_docs") >= 2)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    sample = (
        # semi-join against the n_docs>=2 groups FIRST: the corpus is
        # typically dominated by singleton fingerprints, and without the
        # semi-join the window would sort the whole corpus only to discard
        # its output at the final join (round-4 advice)
        fp.join(groups.select("fingerprint"), "fingerprint", "left_semi")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= member_sample)  # WindowGroupLimit pushes this into the sort
        .groupBy("fingerprint")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("sample_ids"))
    )
    return groups.join(sample, "fingerprint")


def duplicate_members(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Full membership of exact-duplicate groups as ROWS, not arrays —
    the scale-safe way to enumerate every duplicate doc. One row per
    (fingerprint, doc_id) in a group of size >= 2, with the group's
    canonical survivor and an is_canonical flag. Shuffles on fingerprint
    twice (group stats + the membership join); no unbounded state
    anywhere."""
    fp = docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(normalize_text_col(F.col(text_col))).alias("fingerprint"),
    )
    groups = (
        fp.groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("canonical_id"))
        .filter(F.col("n_docs") >= 2)
    )
    return fp.join(groups, "fingerprint").select(
        "fingerprint",
        "doc_id",
        "n_docs",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
    )


def word_shingles(docs: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(doc_id, shingle) — k-word shingles over normalized text."""
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(normalize_text_col(F.col(text_col)), " ").alias("w"),
    )
    # documents shorter than k words keep their single partial shingle
    # (the whole word array joined) — the historical boundary behavior
    # every oracle is pinned to
    shingles = F.when(
        F.size("w") < k, F.array(F.concat_ws(" ", F.col("w")))
    ).otherwise(ngrams_col(F.col("w"), k))
    return words.select("doc_id", F.explode(shingles).alias("shingle")).distinct()


def minhash_signatures(shingles: DataFrame, n_hashes: int = 16) -> DataFrame:
    """(doc_id, sig array<long>) — per-seed min of xxhash64(shingle)."""
    aggs = [F.min(F.xxhash64("shingle", F.lit(seed))).alias(f"h{seed}") for seed in range(n_hashes)]
    sigs = shingles.groupBy("doc_id").agg(*aggs)
    return sigs.select("doc_id", F.array(*[f"h{s}" for s in range(n_hashes)]).alias("sig"))


def band_keys(signatures: DataFrame, n_bands: int = 4) -> DataFrame:
    """(doc_id, bucket) — one banded bucket key per signature band. Shared
    by the batch pair generator and the streaming incremental dedup so
    both agree on what a candidate collision is."""
    rows_per_band = F.size("sig") / n_bands
    return signatures.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.concat_ws(
                    ":",
                    b.cast("string"),
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(F.col("sig"), (b * rows_per_band + 1).cast("int"), rows_per_band.cast("int")),
                            lambda h: h.cast("string"),
                        ),
                    ),
                ),
            )
        ).alias("bucket"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame, n_bands: int = 4, max_bucket: int = 200
) -> DataFrame:
    """(a, b) candidate near-duplicate pairs from banded minhash buckets."""
    bands = band_keys(signatures, n_bands)
    return block_pairs(bands, "bucket", "doc_id", max_bucket).select("a", "b").distinct()


def jaccard_verify(pairs: DataFrame, shingles: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs (the verification
    stage after LSH). Computed via shingle co-occurrence counts — no
    per-pair set materialization."""
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    a_sh = shingles.select(F.col("doc_id").alias("a"), "shingle")
    b_sh = shingles.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        pairs.join(a_sh, "a")
        .join(b_sh, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "n_a"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "n_b"), "b")
        .withColumn("jaccard", F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle -> sign -> band ->
    bucket-join -> Jaccard verify. Returns (a, b, jaccard)."""
    sh = word_shingles(docs, id_col, text_col, k)
    sigs = minhash_signatures(sh, n_hashes)
    pairs = lsh_candidate_pairs(sigs, n_bands)
    return jaccard_verify(pairs, sh, threshold)


def simhash_col(text_col, bits: int = 64):
    """SimHash fingerprint as a 64-char bit-string, computed in ONE pass
    over the token array: per-token hash bit votes (+1/-1) accumulated
    into an array state via aggregate+zip_with, then sign per position.
    No UDF, no per-bit rescan."""
    tokens = F.split(normalize_text_col(text_col), " ")
    positions = F.sequence(F.lit(0), F.lit(bits - 1))
    init = F.array_repeat(F.lit(0).cast("long"), bits)

    def bit_votes(tok):
        h = F.xxhash64(tok)
        return F.transform(positions, lambda b: F.when(F.getbit(h, b) == 1, F.lit(1)).otherwise(F.lit(-1)))

    votes = F.aggregate(tokens, init, lambda acc, t: F.zip_with(acc, bit_votes(t), lambda a, v: a + v))
    return F.concat_ws("", F.transform(votes, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0"))))


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """(doc_id, simhash) via explode + 64 flat partial-aggregable sums —
    identical fingerprints to simhash_col, but the per-token work is flat
    column arithmetic instead of per-row 64-element array folding (map-side
    combine does most of the reduction before the shuffle)."""
    tokens = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text_col(F.col(text_col)), " ")).alias("tok"),
    )
    hashed = tokens.select("doc_id", F.xxhash64("tok").alias("h"))
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.getbit("h", F.lit(b)) == 1, 1).otherwise(-1)).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    return votes.select(
        "doc_id",
        F.concat(
            *[F.when(F.col(f"b{b}") > 0, F.lit("1")).otherwise(F.lit("0")) for b in range(bits)]
        ).alias("simhash"),
    )


def simhash_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", band_bits: int = 16) -> DataFrame:
    """Near-dup candidates sharing any 16-bit SimHash band (Hamming-
    distance blocking). Returns (a, b, simhash_a, simhash_b)."""
    fp = simhash_fingerprints(docs, id_col, text_col)
    n_bands = 64 // band_bits
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat_ws(":", F.lit(str(b)), F.substring("simhash", b * band_bits + 1, band_bits))
                    for b in range(n_bands)
                ]
            )
        ).alias("bucket"),
    )
    lhs = bands.select(F.col("doc_id").alias("a"), F.col("simhash").alias("simhash_a"), "bucket")
    rhs = bands.select(F.col("doc_id").alias("b"), F.col("simhash").alias("simhash_b"), "bucket")
    return (
        lhs.join(rhs, "bucket")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "simhash_a", "simhash_b")
        .distinct()
    )


def dedup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-dup pairs -> duplicate CLUSTERS with one canonical doc each —
    the operation a training-data pipeline actually runs (keep one copy
    per near-dup group, drop the rest). Transitive closure over the
    verified MinHash pair graph via the same large-star/small-star
    connected-components loop canonicalization uses; cluster_id = the
    minimum member id, is_canonical marks the survivor.

    Returns docs + (cluster_id, is_canonical); filter is_canonical to
    materialize the deduplicated corpus.
    """
    from .canonicalize import connected_components

    pairs = minhash_near_duplicates(docs, id_col, text_col, k=k, threshold=threshold)
    comp = connected_components(pairs.select("a", "b")).select(
        F.col("name").alias(id_col), F.col("component").alias("cluster_id")
    )
    return (
        docs.join(comp, id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )


def semantic_duplicates(
    assigned: DataFrame,
    threshold: float = 0.9,
    max_cluster: int = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    embeddings are clustered first (compose with ``similarity.ivf_train``/
    ``ivf_assign`` for the trained k-means path — or any assignment), and
    near-duplicate detection runs ONLY within a cluster. Pair fan-out is
    sum(cluster_size^2) instead of corpus-quadratic, which is the whole
    game at 100 TB: k grows with the corpus so cluster width stays
    bounded, and the join shuffles on the cluster key.

    Drop rule (deterministic): a doc is a duplicate if a SMALLER-id
    cluster-mate has cosine >= threshold; ``dup_of`` is the smallest such
    id. Survivors are exactly the docs absent from the output.

    ``assigned``: (vec_id, cluster, v: array<double>) as produced by
    ``similarity.ivf_assign``. Clusters wider than ``max_cluster`` are
    count-filtered BEFORE the self-join (``joins.kept_blocks`` — a
    degenerate cluster of boilerplate embeddings must not materialize a
    quadratic join); the kept-cluster frame is tiny (k rows) and
    broadcasts. The pair join carries the vectors, so it pairs members
    itself rather than through ``joins.block_pairs``.

    Returns (vec_id, cluster, dup_of, cosine) for DROPPED docs.
    """
    from .similarity import cosine_col

    members = assigned.join(F.broadcast(kept_blocks(assigned, "cluster", max_cluster)), "cluster")
    lhs = members.select("cluster", F.col("vec_id").alias("a"), F.col("v").alias("va"))
    rhs = members.select("cluster", F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    pairs = (
        lhs.join(rhs, "cluster")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cosine", cosine_col(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
    )
    # min-struct: smallest qualifying a per dropped doc, with that pair's
    # cosine ((a, b) is unique, so the struct min is unambiguous)
    best = pairs.groupBy("b", "cluster").agg(F.min(F.struct("a", "cosine")).alias("m"))
    return best.select(
        F.col("b").alias("vec_id"),
        "cluster",
        F.col("m.a").alias("dup_of"),
        F.col("m.cosine").alias("cosine"),
    )
