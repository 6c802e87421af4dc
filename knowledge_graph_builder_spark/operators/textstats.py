"""Text analysis operators for corpus pipelines: language-ID heuristic,
quality scoring, token counting, document fingerprinting.

All pure column expressions (codegen'd, SQL-expressible — each has a
DuckDB oracle in __spark_entry__.py). No UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import ngrams_col
from .joins import block_pairs

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to ", " is "],
    "de": [" der ", " die ", " und ", " ist ", " nicht "],
    "fr": [" le ", " la ", " et ", " les ", " est "],
    "es": [" el ", " la ", " los ", " que ", " es "],
}

_EN_STOPWORDS = [
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "an", "be", "this", "are",
]


def _padded_lower(col):
    return F.concat(F.lit(" "), F.lower(col), F.lit(" "))


def marker_hits_col(col, lang: str):
    """Count of language-marker occurrences (not distinct) in the text."""
    padded = _padded_lower(col)
    total = F.lit(0)
    for m in LANG_MARKERS[lang]:
        # occurrences of m = (len(s) - len(replace(s, m, ''))) / len(m)
        total = total + (
            (F.length(padded) - F.length(F.replace(padded, F.lit(m), F.lit("")))) / len(m)
        ).cast("int")
    return total


def lang_id_col(col):
    """Pick the language with the most marker hits; 'und' when none."""
    hits = {lang: marker_hits_col(col, lang) for lang in LANG_MARKERS}
    best = F.greatest(*hits.values())
    chain = None
    for lang in LANG_MARKERS:  # fixed order breaks ties deterministically
        cond = (hits[lang] == best) & (best > 0)
        chain = F.when(cond, F.lit(lang)) if chain is None else chain.when(cond, F.lit(lang))
    return chain.otherwise(F.lit("und"))


def token_count_col(col):
    """Whitespace token count."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count_col(col):
    """BPE-flavored token estimate: count word chunks + digit runs +
    punctuation marks separately (a regex proxy for subword splits)."""
    pieces = F.regexp_count(col, F.lit(r"[A-Za-z]+|\d|[^A-Za-z\d\s]"))
    return pieces.cast("int")


def punct_ratio_col(col):
    return F.regexp_count(col, F.lit(r"[^\w\s]")) / F.greatest(F.length(col), F.lit(1))


def stopword_ratio_col(col):
    padded = _padded_lower(F.regexp_replace(col, r"[^\w\s]", ""))
    hits = F.lit(0)
    for w in _EN_STOPWORDS:
        m = f" {w} "
        hits = hits + (
            (F.length(padded) - F.length(F.replace(padded, F.lit(m), F.lit("")))) / len(m)
        ).cast("int")
    return hits / F.greatest(token_count_col(col), F.lit(1))


def quality_score_col(col):
    """Composite [0,1] quality heuristic: length band + punctuation sanity
    + stopword presence (Gopher/C4-style cheap filters)."""
    n_tokens = token_count_col(col)
    length_ok = F.when((n_tokens >= 5) & (n_tokens <= 10000), F.lit(0.4)).otherwise(F.lit(0.0))
    punct = punct_ratio_col(col)
    punct_ok = F.when(punct <= 0.2, F.lit(0.3)).when(punct <= 0.4, F.lit(0.15)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio_col(col) >= 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
    return F.round(length_ok + punct_ok + stop_ok, 2)


def fingerprint_col(col):
    """Deterministic document fingerprint over normalized text (md5 here;
    the rolling-hash shingle variant lives in dedup.word_shingles +
    minhash_signatures)."""
    normalized = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    return F.md5(normalized)


def document_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        lang_id_col(c).alias("lang_guess"),
        token_count_col(c).alias("n_tokens"),
        bpe_ish_token_count_col(c).alias("n_bpe_tokens"),
        F.round(punct_ratio_col(c), 4).alias("punct_ratio"),
        F.round(stopword_ratio_col(c), 4).alias("stopword_ratio"),
        quality_score_col(c).alias("quality"),
        fingerprint_col(c).alias("fingerprint"),
    )


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer et al., SIGMOD'03):
    normalize -> char k-gram hash at every position -> minimum per sliding
    window of `window` positions -> distinct (doc, fingerprint). Documents
    sharing fingerprints share k-gram content even after local edits —
    the rolling-hash fingerprint family next to minhash/simhash.

    Scale shape: the explode is linear in text length and stays in
    whole-stage codegen (sequence/substring/md5 — no UDF); the only
    window is partitioned BY DOCUMENT and ordered by position, so state
    is bounded by a single document, never corpus-global; the final
    distinct is the one shuffle. Guarantee matches winnowing's: any
    shared run of (k + window - 1) chars yields a shared fingerprint.
    """
    from pyspark.sql import Window

    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "))
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        norm.alias("t"),
    ).select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("t") - (k - 1), F.lit(1)))
        ).alias("pos"),
        F.col("t"),
    ).select("doc_id", "pos", F.md5(F.substring(F.col("t"), F.col("pos"), k)).alias("h"))
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, window - 1)
    return (
        grams.withColumn("fingerprint", F.min("h").over(w))
        .select("doc_id", "fingerprint")
        .distinct()
    )


def shared_fingerprint_pairs(
    fingerprints: DataFrame,
    min_shared: int = 3,
    max_bucket: int = 100,
) -> DataFrame:
    """(doc_id, fingerprint) -> (a, b, shared) pairs of documents sharing
    >= min_shared winnowed fingerprints.

    Hot-bucket guard (``joins.block_pairs``): boilerplate fingerprints
    shared by > max_bucket documents are dropped BEFORE any self-join —
    no bucket can materialize quadratic pairs or an unbounded member
    list. Docs related only through a dropped boilerplate fingerprint
    still pair through their remaining content fingerprints.
    """
    return (
        block_pairs(fingerprints, "fingerprint", "doc_id", max_bucket)
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Gopher-style repetition signal: the fraction of duplicate word
    n-grams per document (high ratio = boilerplate/looping text, a
    standard pretraining quality filter). Pure column expressions — the
    n-gram array is built with the shared zip_with kernel (linear in text
    length), counted per row; no explode, no shuffle at all."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    empty = F.length(F.trim(F.col(text_col))) == 0
    grams = F.when(empty, F.array().cast("array<string>")).otherwise(
        ngrams_col(words, n)
    )
    n_grams = F.size(grams)
    n_distinct = F.size(F.array_distinct(grams))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_grams.cast("int").alias("n_grams"),
        n_distinct.cast("int").alias("n_distinct"),
        F.when(n_grams == 0, F.lit(0.0))
        .otherwise(F.round(F.lit(1.0) - n_distinct / n_grams, 4))
        .alias("rep_ratio"),
    )


def unigram_lm_score(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unigram language-model cross-entropy per document (perplexity-
    style quality signal, the classic LM-filter in pretraining curation):
    train MLE token probabilities on the corpus itself, then score each
    document by the mean negative log-probability of its tokens. Low
    xent = text made of corpus-typical tokens; high xent = outlier/noise.

    Two passes over the exploded token stream: one global token-count
    aggregation (partial-aggregable) and one score join. The token-
    frequency join shuffles on the token key — at 100 TB the vocabulary
    is far smaller than the corpus but too big to broadcast wholesale;
    Zipf skew on stop-tokens is absorbed by AQE skew-join splitting,
    and the total corpus size joins in as one broadcast scalar.
    Empty documents are excluded (no tokens to score).
    """
    toks = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    tf = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = tf.agg(F.sum("c").alias("t"))
    scored = toks.join(tf, "tok").join(F.broadcast(total))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(-F.sum(F.log(F.col("c") / F.col("t"))) / F.count("*"), 4).alias(
                "xent"
            ),
        )
    )


def ngram_vocab_stats(
    docs: DataFrame,
    max_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    approx: bool = False,
) -> DataFrame:
    """Corpus vocabulary statistics per n-gram order: total occurrences,
    distinct count, and type-token ratio for n = 1..max_n — the Heaps-law
    growth numbers used to spot boilerplate-heavy or templated corpora
    (a low TTR at n=3 means the corpus repeats long spans).

    Scale shape: ONE scan — each row emits a single array of (n, gram)
    structs for every order (no per-order corpus passes), one explode,
    then a partial-aggregable two-level aggregation: groupBy(n, gram)
    first (map-side combine collapses repeats), then groupBy(n). The
    (n, gram) shuffle is the irreducible cost of exact distinct counts.

    ``approx=True`` is the 100 TB path: HyperLogLog++ sketches
    (``approx_count_distinct``, default ~2% error) replace the exact
    distinct — the shuffle then carries ONE fixed-size sketch per
    (partition, n) instead of every distinct n-gram, turning a
    vocabulary-sized exchange into a KB-sized one. The oracle pins the
    exact form; the approx form is pinned by a tolerance test.
    """
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    words = F.filter(words, lambda x: x != "")
    # one tagged n-gram array per n (max_n is a Python int, so the fast
    # zip_with kernel applies per level; short rows yield empty arrays).
    # NB: the tagging lambda must take exactly ONE param — PySpark binds a
    # second transform() param to the ARRAY INDEX, so a captured-default
    # `n=n` would silently become the element position.
    def _tagged(n: int):
        return F.transform(
            ngrams_col(words, n),
            lambda g: F.struct(F.lit(n).cast("int").alias("n"), g.alias("gram")),
        )

    grams = F.concat(*[_tagged(n) for n in range(1, max_n + 1)])
    exploded = (
        docs.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.explode(grams).alias("g"))
        .select(F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    )
    if approx:
        agged = exploded.groupBy("n").agg(
            F.count("*").alias("total_grams"),
            # rsd=0.01: the default 0.05 sketch showed ~12% bias on a
            # 16k-cardinality trigram set; the tighter sketch is still
            # a fixed few-KB of state per (partition, n)
            F.approx_count_distinct("gram", rsd=0.01).alias("distinct_grams"),
        )
    else:
        per_gram = exploded.groupBy("n", "gram").agg(F.count("*").alias("c"))
        agged = per_gram.groupBy("n").agg(
            F.sum("c").alias("total_grams"),
            F.count("*").alias("distinct_grams"),
        )
    return (
        agged
        .select(
            F.col("n").cast("int").alias("n"),
            "total_grams",
            "distinct_grams",
            F.round(F.col("distinct_grams") / F.col("total_grams"), 6).alias("ttr"),
        )
    )


def replace_rare_tokens(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    unk: str = "<unk>",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Vocabulary pruning: replace every token whose DOCUMENT frequency
    is below ``min_df`` with ``unk`` and reassemble each document in
    original token order. Returns (id, pruned_text, n_tokens, n_unk) —
    the rare-token UNKing step of a tokenizer/LM training pipeline.

    Shape: whitespace posexplode -> partial-aggregable document-frequency
    count -> join the KEPT vocabulary back (the kept set, not the rare
    long tail, is the small side; broadcast it when it fits, else it's a
    plain shuffle join on the token — skew on stopword tokens is probe-
    side only, which AQE splits) -> per-document reassembly with a
    position-sorted collect_list, whose state is bounded by one
    document's length. Documents with no tokens are dropped (same rule
    as token_count_col's zero case).
    """
    trimmed = F.trim(F.col(text_col))
    toks = docs.filter(F.length(trimmed) > 0).select(
        F.col(id_col), F.posexplode(F.split(trimmed, r"\s+")).alias("pos", "tok")
    )
    kept = (
        toks.groupBy("tok")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("tok", F.lit(1).alias("_keep"))
    )
    if broadcast_vocab:
        kept = F.broadcast(kept)
    rep = toks.join(kept, "tok", "left").select(
        id_col,
        "pos",
        F.when(F.col("_keep").isNotNull(), F.col("tok")).otherwise(F.lit(unk)).alias("tok2"),
    )
    return rep.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok2"))), lambda x: x["tok2"]
            ),
        ).alias("pruned_text"),
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("tok2") == unk, 1).otherwise(0)).alias("n_unk"),
    )


def cross_doc_duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-span coverage (ExactSubstr-style, after
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499, at a fixed span length): for each document,
    the fraction of its token positions covered by at least one word
    n-gram that also occurs in >= ``min_docs`` DISTINCT documents.

    Distributed shape (three bounded shuffles, never pairwise):

    1. positional n-grams — (doc_id, pos, md5(gram)) rows, one per token
       position; the md5 fingerprint keeps the shuffled key 32 bytes
       regardless of n (and is engine-portable, so the DuckDB oracle can
       rebuild it);
    2. duplicated grams — distinct (gram, doc) then a count per gram
       (both partial-aggregable; a boilerplate gram present in 10^8 docs
       reduces to ONE count row, never a member list);
    3. coverage — positions carrying a duplicated gram become spans
       [pos, pos+n-1]; the exact union length per doc is the classic
       sweep: sort spans by start within the doc and count only the part
       of each span past the running max end (one window over the doc's
       duplicated positions — bounded by doc length, not corpus).

    Returns (doc_id, n_tokens, n_dup_positions, dup_token_fraction).
    Documents shorter than ``n`` tokens have fraction 0.0.
    """
    from pyspark.sql import Window

    from .dedup import normalize_text_col

    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(normalize_text_col(F.col(text_col)), " ").alias("w"),
    ).select(
        "doc_id",
        F.when(F.array_join(F.col("w"), "") == "", F.array().cast("array<string>"))
        .otherwise(F.col("w"))
        .alias("w"),
    )
    sized = words.select("doc_id", "w", F.size("w").alias("n_tokens"))
    grams = sized.filter(F.col("n_tokens") >= n).select(
        "doc_id",
        F.posexplode(
            F.transform(ngrams_col(F.col("w"), n), lambda g: F.md5(g))
        ).alias("pos", "gram"),
    )
    dup_grams = (
        grams.select("gram", "doc_id")
        .distinct()
        .groupBy("gram")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gram")
    )
    # posexplode is 0-based; shift to 1-based token positions so the
    # sweep's empty-prefix sentinel (prev_end = 0) can't swallow position 0
    spans = grams.join(dup_grams, "gram").select(
        "doc_id", (F.col("pos") + 1).alias("start"), (F.col("pos") + n).alias("end")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = (
        spans.withColumn("prev_end", F.coalesce(F.max("end").over(w), F.lit(0)))
        .select(
            "doc_id",
            F.greatest(
                F.col("end") - F.greatest(F.col("prev_end"), F.col("start") - 1), F.lit(0)
            ).alias("new_cov"),
        )
        .groupBy("doc_id")
        .agg(F.sum("new_cov").alias("n_dup_positions"))
    )
    return (
        sized.select("doc_id", "n_tokens")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.coalesce("n_dup_positions", F.lit(0)).cast("int").alias("n_dup_positions"),
            F.when(F.col("n_tokens") == 0, F.lit(0.0))
            .otherwise(
                F.round(F.coalesce("n_dup_positions", F.lit(0)) / F.col("n_tokens"), 4)
            )
            .alias("dup_token_fraction"),
        )
    )
