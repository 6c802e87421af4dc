"""Distributed BPE tokenizer training (Sennrich et al. 2016,
arXiv:1508.07909) — the classic byte-pair-encoding merge loop re-expressed
for corpus scale.

The scale shape: ONE corpus scan reduces the corpus to a word-frequency
dictionary (vocab-sized, not corpus-sized — the classic BPE training
input). From there, two training strategies (see ``bpe_train``): a
fully-distributed per-merge loop (one cheap Spark job per merge — fine
for dozens, prohibitive at 30k merges from scheduling latency alone),
and the real-tokenizer path that collects the bounded dictionary once
and runs an incremental driver-side merge loop — O(1) Spark jobs total,
independent of the merge count. The corpus is never re-scanned either
way. Loop lineage is truncated with ``localCheckpoint`` per iteration,
the same pattern as the connected-components loop in canonicalize.py.

No per-row Python anywhere: the merge application is a higher-order
``F.aggregate`` fold (leftmost, non-overlapping — exactly the reference
algorithm's replacement order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import normalize_text_col


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over normalized text — the corpus-sized scan happens
    exactly once; everything after is vocab-sized."""
    return (
        docs.select(F.explode(F.split(normalize_text_col(F.col(text_col)), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _apply_merge(syms, left: str, right: str):
    """Fold a symbol array, replacing adjacent (left, right) with
    left+right — leftmost-first, non-overlapping ("aaa" + merge (a,a)
    -> [aa, a]). acc carries the emitted prefix plus one pending symbol."""
    empty = F.array().cast("array<string>")
    pend_null = F.lit(None).cast("string")
    return F.aggregate(
        syms,
        F.struct(empty.alias("out"), pend_null.alias("pend")),
        lambda acc, x: F.when(
            acc["pend"].isNull(), F.struct(acc["out"].alias("out"), x.alias("pend"))
        )
        .when(
            (acc["pend"] == F.lit(left)) & (x == F.lit(right)),
            F.struct(
                F.concat(acc["out"], F.array(F.lit(left + right))).alias("out"),
                pend_null.alias("pend"),
            ),
        )
        .otherwise(
            F.struct(F.concat(acc["out"], F.array(acc["pend"])).alias("out"), x.alias("pend"))
        ),
        lambda acc: F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        ),
    )


def _train_from_word_freqs(items: list[tuple[str, int]], n_merges: int) -> list[tuple]:
    """Driver-side merge loop over a (word, freq) dictionary — the classic
    BPE training input (what SentencePiece / HF tokenizers train on).

    Incremental algorithm: pair counts and a pair -> word-index posting
    set are maintained under each merge, and the argmax comes from a
    lazy-deletion heap keyed (-count, left, right) — the same
    deterministic tie-break as the distributed loop (highest summed word
    frequency, then lexicographically smallest pair). Per merge the cost
    is O(words containing the merged pair), not O(vocab), so a 30k-merge
    train is minutes of driver CPU over a dictionary that a single corpus
    scan already reduced to vocab size. Parity with both ``bpe_train``'s
    distributed loop and the naive ``bpe_train_local`` twin is pinned by
    tests (including a 1,000-merge run).
    """
    import heapq
    from collections import Counter, defaultdict

    words = [list(w) for w, _ in items]
    freqs = [int(f) for _, f in items]
    pair_counts: Counter = Counter()
    pair_words: defaultdict = defaultdict(set)
    for i, syms in enumerate(words):
        f = freqs[i]
        for p in zip(syms, syms[1:]):
            pair_counts[p] += f
            pair_words[p].add(i)
    heap = [(-c, l, r) for (l, r), c in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple] = []
    for rank in range(n_merges):
        best = None
        while heap:
            negc, left, right = heapq.heappop(heap)
            if pair_counts.get((left, right)) == -negc:  # not stale
                best = (left, right, -negc)
                break
        if best is None:
            break
        left, right, n = best
        merges.append((rank, left, right, left + right, n))
        for i in sorted(pair_words[(left, right)]):
            syms, f = words[i], freqs[i]
            out: list[str] = []
            pend = None
            changed = False
            for x in syms:
                if pend is None:
                    pend = x
                elif pend == left and x == right:
                    out.append(left + right)
                    pend = None
                    changed = True
                else:
                    out.append(pend)
                    pend = x
            if pend is not None:
                out.append(pend)
            if not changed:
                continue
            old_c = Counter(zip(syms, syms[1:]))
            new_c = Counter(zip(out, out[1:]))
            words[i] = out
            for p in set(old_c) | set(new_c):
                d = new_c[p] - old_c[p]
                if d:
                    c = pair_counts[p] + d * f
                    if c > 0:
                        pair_counts[p] = c
                        heapq.heappush(heap, (-c, p[0], p[1]))
                    else:
                        del pair_counts[p]
                if new_c[p] > 0:
                    pair_words[p].add(i)
                else:
                    pair_words[p].discard(i)
        pair_counts.pop((left, right), None)
        pair_words.pop((left, right), None)
    return merges


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    method: str = "auto",
    min_freq: int = 1,
    max_dict_words: int = 2_000_000,
) -> DataFrame:
    """Learn the top ``n_merges`` BPE merges over a document corpus.

    Returns (rank, left, right, merged, pair_freq) — the merge table a
    tokenizer consumes, in learned order. Pair selection is deterministic:
    highest summed word frequency, ties broken lexicographically on
    (left, right). Stops early if no adjacent pair remains.

    Two physical strategies, identical output (parity pinned by test):

    * ``loop`` — one Spark job per merge (adjacent-pair count aggregate
      collecting a SINGLE row + a JVM-side fold). Each job is cheap and
      fully distributed, but a 30k-merge tokenizer would mean 30k
      sequential jobs — wall-clock-prohibitive from job-scheduling
      latency alone.
    * ``collect`` — ONE distributed corpus scan reduces the corpus to the
      word-frequency dictionary (vocab-sized — the classic BPE training
      input), which is collected once and trained locally with the
      incremental ``_train_from_word_freqs`` loop. O(1) Spark jobs total,
      independent of the merge count. ``min_freq`` optionally prunes the
      dictionary's long tail before the collect (hapax words cannot win
      early merges on web corpora but dominate dictionary size).

    ``auto`` picks ``loop`` for <= 32 merges (keeps the fully-distributed
    path exercised where it is cheap) and ``collect`` beyond — real
    tokenizer merge counts must never serialize O(merges) Spark jobs.

    The collect is SIZE-GATED by an early-exit ``limit(k+1).count()``
    probe (``canonicalize.connected_components`` gates at the same k+1
    rows, but fetches them as Arrow, since there the fetch is the whole
    union-find input): on a web corpus the
    distinct-word dictionary (typos, URLs, hex blobs) is 10^8-10^9 rows —
    a corpus-shaped driver collect with the default ``min_freq=1``. If
    the dictionary exceeds ``max_dict_words``, ``min_freq`` is doubled
    (re-probing the persisted dictionary, never re-scanning the corpus)
    until it fits. Pruning freq<k words is the standard tokenizer-
    training mitigation: a hapax word cannot dominate early merges, and
    the escalation is deterministic, so reruns agree.
    """
    spark = docs.sparkSession
    if method not in ("auto", "loop", "collect"):
        raise ValueError(f"unknown method {method!r}")
    schema = "rank int, left string, right string, merged string, pair_freq bigint"
    if method == "collect" or (method == "auto" and n_merges > 32):
        wf = word_frequencies(docs, text_col)
        if min_freq > 1:
            wf = wf.filter(F.col("freq") >= min_freq)
        persisted = [wf.persist()]
        try:
            eff_min_freq = max(min_freq, 1)
            wf = persisted[0]
            while wf.limit(max_dict_words + 1).count() > max_dict_words:
                eff_min_freq = max(eff_min_freq * 2, 2)
                if eff_min_freq > 1 << 30:  # degenerate corpus: refuse
                    raise ValueError(
                        f"word dictionary exceeds max_dict_words={max_dict_words} "
                        f"even at min_freq={eff_min_freq}; raise the budget or "
                        "pre-aggregate the corpus"
                    )
                wf = wf.filter(F.col("freq") >= eff_min_freq).persist()
                persisted.append(wf)
            items = sorted((r["word"], int(r["freq"])) for r in wf.collect())
        finally:
            for df in persisted:
                df.unpersist()
        return spark.createDataFrame(_train_from_word_freqs(items, n_merges), schema)
    words = (
        word_frequencies(docs, text_col)
        .select("freq", F.split("word", "").alias("syms"))
        .localCheckpoint()
    )
    merges: list[tuple] = []
    for rank in range(n_merges):
        pairs = words.filter(F.size("syms") >= 2).select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("syms") - 2),
                    lambda i: F.struct(
                        F.try_element_at("syms", i + 1).alias("l"),
                        F.try_element_at("syms", i + 2).alias("r"),
                    ),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy("p")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), F.col("p.l"), F.col("p.r"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right, n = best[0]["p"]["l"], best[0]["p"]["r"], best[0]["n"]
        merges.append((rank, left, right, left + right, int(n)))
        words = words.select(
            "freq", _apply_merge(F.col("syms"), left, right).alias("syms")
        ).localCheckpoint()
    return spark.createDataFrame(merges, schema)


def bpe_train_local(texts: list[str], n_merges: int = 8) -> list[tuple]:
    """Pure-Python reference twin of ``bpe_train`` (the textbook Sennrich
    algorithm over the same normalization). Driver-side only — used by the
    oracle and tests as an independent implementation to pin the
    distributed loop against; NEVER called on corpus-scale data."""
    import re
    from collections import Counter

    wf: Counter = Counter()
    for t in texts:
        normed = re.sub(r"\s+", " ", re.sub(r"[^a-z0-9\s]", " ", (t or "").lower())).strip()
        for w in normed.split(" "):
            if w:
                wf[w] += 1
    words = {w: list(w) for w in wf}
    merges: list[tuple] = []
    for rank in range(n_merges):
        pc: Counter = Counter()
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wf[w]
        if not pc:
            break
        (left, right), n = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
        merges.append((rank, left, right, left + right, n))
        for w, syms in words.items():
            out: list[str] = []
            pend = None
            for x in syms:
                if pend is None:
                    pend = x
                elif pend == left and x == right:
                    out.append(left + right)
                    pend = None
                else:
                    out.append(pend)
                    pend = x
            if pend is not None:
                out.append(pend)
            words[w] = out
    return merges


def _merge_kernel(merge_list: list[tuple[str, str]]):
    """mapInArrow kernel applying a full merge list to each word — one
    single-pass leftmost/non-overlapping fold per merge in rank order,
    byte-identical to ``bpe_apply_local``. O(vocab) Python is legitimate
    here for the same reason as the extraction kernel: the input frame is
    the word-frequency DICTIONARY (vocab-sized), never the corpus. The
    symbol-presence gate skips the (vast majority of) merges whose parts
    cannot occur in a word, so a 50k-merge tokenizer costs ~word_len
    applied merges per word, not 50k passes."""
    import pyarrow as pa

    def kernel(batches):
        for batch in batches:
            words = batch.column("word").to_pylist()
            freqs = batch.column("freq").to_pylist()
            toks: list[list[str]] = []
            for w in words:
                syms = list(w)
                present = set(syms)
                for left, right in merge_list:
                    if left not in present or right not in present:
                        continue
                    out: list[str] = []
                    pend = None
                    changed = False
                    for x in syms:
                        if pend is None:
                            pend = x
                        elif pend == left and x == right:
                            out.append(left + right)
                            pend = None
                            changed = True
                        else:
                            out.append(pend)
                            pend = x
                    if pend is not None:
                        out.append(pend)
                    if changed:
                        syms = out
                        present = set(syms)
                toks.append(syms)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(words, pa.string()),
                    pa.array(freqs, pa.int64()),
                    pa.array(toks, pa.list_(pa.string())),
                ],
                names=["word", "freq", "tokens"],
            )

    return kernel


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    method: str = "auto",
) -> DataFrame:
    """Tokenize a corpus with a learned merge list: (word, freq, tokens).

    Two physical strategies over the same vocab-sized word-frequency
    frame, identical output (pinned against ``bpe_apply_local`` by test):

    * ``fold`` — each merge compiles to a JVM-side ``F.aggregate`` fold.
      Zero Python, whole-stage codegen, but the Catalyst expression tree
      grows linearly with the merge count: fine for dozens of merges,
      analysis/codegen-prohibitive at real tokenizer scale (30k-50k).
    * ``kernel`` — ONE ``mapInArrow`` pass applies the whole merge list
      per word (rank order, leftmost non-overlapping — the Sennrich
      replacement order). Plan size is constant in the merge count; the
      Python cost is O(vocab x applied-merges), bounded because the frame
      is the dictionary, not the corpus.

    ``auto`` picks ``fold`` for <= 32 merges (SQL-expressible, oracle
    path) and ``kernel`` beyond — a 30k-merge tokenizer must never build
    a 30k-deep expression tree.
    """
    wf = word_frequencies(docs, text_col)
    merge_list = [(str(l), str(r)) for l, r in merges]
    if method not in ("auto", "fold", "kernel"):
        raise ValueError(f"unknown method {method!r}")
    if method == "fold" or (method == "auto" and len(merge_list) <= 32):
        tokens = F.split(F.col("word"), "")
        for left, right in merge_list:
            tokens = _apply_merge(tokens, left, right)
        return wf.select("word", "freq", tokens.alias("tokens"))
    return wf.select("word", "freq").mapInArrow(
        _merge_kernel(merge_list), schema="word string, freq bigint, tokens array<string>"
    )


def bpe_apply_local(texts: list[str], merges: list[tuple[str, str]]) -> dict[str, tuple[int, list[str]]]:
    """Pure-Python twin of ``bpe_apply`` (same normalization and
    replacement order); word -> (freq, tokens). Oracle/test use only."""
    import re
    from collections import Counter

    wf: Counter = Counter()
    for t in texts:
        normed = re.sub(r"\s+", " ", re.sub(r"[^a-z0-9\s]", " ", (t or "").lower())).strip()
        for w in normed.split(" "):
            if w:
                wf[w] += 1
    out: dict[str, tuple[int, list[str]]] = {}
    for w, freq in wf.items():
        syms = list(w)
        for left, right in merges:
            folded: list[str] = []
            pend = None
            for x in syms:
                if pend is None:
                    pend = x
                elif pend == left and x == right:
                    folded.append(left + right)
                    pend = None
                else:
                    folded.append(pend)
                    pend = x
            if pend is not None:
                folded.append(pend)
            syms = folded
        out[w] = (freq, syms)
    return out
