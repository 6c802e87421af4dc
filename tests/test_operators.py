"""Unit tests for operator families not covered by the golden pipeline:
graph store upserts, multimodal kernels, LSH similarity, as-of join, and
sessionization on hand-computed inputs."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from knowledge_graph_builder_spark.operators.joins import (
    asof_join,
    block_pairs,
    kept_blocks,
    sessionize,
)
from knowledge_graph_builder_spark.operators.multimodal import (
    decode_and_featurize,
    sample_frames,
    synth_media,
)
from knowledge_graph_builder_spark.operators.similarity import brute_force_topk, lsh_topk
from knowledge_graph_builder_spark.sources.graph_store import GraphStore


def _ts(s):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def test_graph_store_upsert_last_writer_and_clear(spark, tmp_path):
    store = GraphStore(spark, str(tmp_path / "g"))
    n1 = spark.createDataFrame(
        [("Apple", "ORG", "s1", "d1"), ("Jobs", "PERSON", "s1", "d1")],
        ["name", "type", "session_id", "document_id"],
    )
    store.upsert_nodes(n1)
    # second batch updates Apple's props (last writer) and adds MSFT
    n2 = spark.createDataFrame(
        [("Apple", "ORG", "s2", "d9"), ("MSFT", "ORG", "s2", "d9")],
        ["name", "type", "session_id", "document_id"],
    )
    store.upsert_nodes(n2)
    rows = {(r.name, r.type): (r.session_id, r.document_id) for r in store.nodes().collect()}
    assert len(rows) == 3
    assert rows[("Apple", "ORG")] == ("s2", "d9")  # last writer won
    assert rows[("Jobs", "PERSON")] == ("s1", "d1")

    store.clear_session("s2")
    assert {r.name for r in store.nodes().collect()} == {"Jobs"}


def test_multimodal_kernels_shapes(spark):
    media = synth_media(spark, n=12)
    feats = decode_and_featurize(media, dim=16).collect()
    assert len(feats) == 4  # every third row is an image
    assert all(len(r.feature) == 16 for r in feats)
    assert all(abs(sum(r.feature) - 1.0) < 1e-6 for r in feats)  # normalized
    # determinism: same bytes -> same vector
    feats2 = decode_and_featurize(synth_media(spark, n=12), dim=16).collect()
    assert {r.media_id: tuple(r.feature) for r in feats} == {
        r.media_id: tuple(r.feature) for r in feats2
    }

    frames = sample_frames(media, every_ms=1000).collect()
    videos = [r for r in media.collect() if r.kind == "video"]
    assert len(frames) == len(videos) * 3  # 3000ms / 1000ms
    assert all(r.ts_ms % 1000 == 0 for r in frames)

    with pytest.raises(Exception, match="NotImplementedError|real image decode"):
        decode_and_featurize(media, fake=False).collect()


def test_lsh_topk_contains_exact_neighbors(spark, sf_dir="/root/testdata/sf0.001"):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in e.filter(F.col("vec_id") == 1).collect()[0]["embedding"]]
    exact = [r.vec_id for r in brute_force_topk(e, q, k=5).collect()]
    approx = [r.vec_id for r in lsh_topk(e, q, k=20, bits=16, bands=8).collect()]
    # the query vector itself must be in its own LSH bucket and rank first
    assert exact[0] == 1 and 1 in approx
    # high-recall config: most exact top-5 should appear in the approx top-20
    assert len(set(exact) & set(approx)) >= 3


def test_dedup_clusters_canonical_survivor(spark):
    from knowledge_graph_builder_spark.operators.dedup import dedup_clusters

    base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " indeed"),          # near-dup of 1
            (3, base),                      # exact dup of 1
            (4, "completely different text about spark shuffle partition sizing and skew"),
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in dedup_clusters(docs, threshold=0.5).collect()}
    # 1,2,3 collapse into one cluster whose canonical is the min id
    assert out[1].cluster_id == out[2].cluster_id == out[3].cluster_id == 1
    assert out[1].is_canonical and not out[2].is_canonical and not out[3].is_canonical
    # the unique doc is its own (canonical) cluster
    assert out[4].cluster_id == 4 and out[4].is_canonical


def test_exact_duplicates_bounded_fat_group(spark):
    """The 100 TB hazard case: one boilerplate text repeated 100k times
    must yield a BOUNDED result row (count + min + capped sample), never a
    100k-element array on one reducer."""
    from knowledge_graph_builder_spark.operators.dedup import exact_duplicates

    docs = spark.range(100_000).select(
        F.col("id").alias("doc_id"), F.lit("same boilerplate text").alias("text")
    )
    rows = exact_duplicates(docs, member_sample=20).collect()
    assert len(rows) == 1
    g = rows[0]
    assert g.n_docs == 100_000 and g.canonical_id == 0
    assert g.sample_ids == list(range(20))  # capped, lowest ids, sorted


def test_duplicate_members_rows(spark):
    from knowledge_graph_builder_spark.operators.dedup import duplicate_members

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (5, "Alpha,  beta!"), (3, "unique text"), (2, "alpha beta")],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in duplicate_members(docs).collect()}
    # normalization folds case/punct/whitespace: {1,2,5} are one group
    assert set(out) == {1, 2, 5}
    assert all(r.n_docs == 3 and r.canonical_id == 1 for r in out.values())
    assert out[1].is_canonical and not out[2].is_canonical and not out[5].is_canonical


def test_ivf_probe_all_equals_brute_force(spark, sf_dir="/root/testdata/sf0.001"):
    from knowledge_graph_builder_spark.operators.similarity import ivf_topk, ivf_train

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in e.filter(F.col("vec_id") == 1).collect()[0]["embedding"]]
    cents = ivf_train(e, k_clusters=8, iters=2)
    assert len(cents) == 8
    exact = [(r.vec_id, round(r.cosine, 6)) for r in brute_force_topk(e, q, k=10).collect()]
    probe_all = [
        (r.vec_id, round(r.cosine, 6))
        for r in ivf_topk(e, q, cents, k=10, n_probe=8).collect()
    ]
    # probing every cell must be EXACTLY brute force
    assert probe_all == exact


def test_ivf_narrow_probe_recall(spark, sf_dir="/root/testdata/sf0.001"):
    from knowledge_graph_builder_spark.operators.similarity import ivf_topk, ivf_train

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in e.filter(F.col("vec_id") == 1).collect()[0]["embedding"]]
    cents = ivf_train(e, k_clusters=8, iters=2)
    exact = [r.vec_id for r in brute_force_topk(e, q, k=5).collect()]
    approx = [r.vec_id for r in ivf_topk(e, q, cents, k=5, n_probe=3).collect()]
    # the query's own cell is always probed, so the query itself ranks first
    assert approx and approx[0] == exact[0] == 1
    assert len(set(exact) & set(approx)) >= 2


def test_semantic_dedup_production_path(spark):
    """ivf_train -> ivf_assign -> semantic_duplicates on a hand-built
    corpus of two tight embedding groups plus one outlier: within-group
    near-dups are dropped with the smallest-id survivor, cross-group and
    outlier docs survive."""
    from knowledge_graph_builder_spark.operators.dedup import semantic_duplicates
    from knowledge_graph_builder_spark.operators.similarity import ivf_assign, ivf_train

    # group A around (1, 0, 0), group B around (0, 1, 0), outlier (0, 0, 1).
    # ivf_train seeds from the k lowest ids, so ids 0/1/2 are one
    # representative per group — the clustering then separates the groups.
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.0, 0.0, 1.0]),
        (10, [0.999, 0.01, 0.0]),
        (11, [0.998, 0.02, 0.0]),
        (20, [0.01, 0.999, 0.0]),
    ]
    e = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = ivf_train(e, k_clusters=3, iters=2)
    dropped = {
        r.vec_id: r for r in semantic_duplicates(ivf_assign(e, cents), threshold=0.95).collect()
    }
    # 10 and 11 fold into 0; 20 folds into 1; 0, 1, 2 survive
    assert set(dropped) == {10, 11, 20}
    assert dropped[10].dup_of == 0 and dropped[11].dup_of == 0
    assert dropped[20].dup_of == 1
    assert all(r.cosine >= 0.95 for r in dropped.values())


def test_semantic_dedup_hot_cluster_guard(spark):
    """A degenerate cluster wider than max_cluster is count-filtered out
    BEFORE the self-join — no quadratic pair blow-up, no dropped rows
    from that cluster."""
    from knowledge_graph_builder_spark.operators.dedup import semantic_duplicates

    rows = [(i, 0, [1.0, 0.0]) for i in range(50)] + [
        (100, 1, [0.0, 1.0]),
        (101, 1, [0.01, 0.999]),
    ]
    assigned = spark.createDataFrame(rows, "vec_id int, cluster int, v array<double>")
    out = semantic_duplicates(assigned, threshold=0.9, max_cluster=10).collect()
    # cluster 0 (50 identical members > max_cluster) contributes nothing;
    # cluster 1 still dedups normally
    assert {r.vec_id for r in out} == {101}
    assert out[0].dup_of == 100


def test_bpe_train_matches_reference_twin(spark):
    """The distributed merge loop must agree exactly with the pure-Python
    textbook implementation (independent code path) — including the
    classic Sennrich example's merge order (es, est, lo, low, ...)."""
    from knowledge_graph_builder_spark.operators.bpe import bpe_train, bpe_train_local

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    got = [
        (r.rank, r.left, r.right, r.merged, r.pair_freq)
        for r in bpe_train(docs, 6).orderBy("rank").collect()
    ]
    assert got == bpe_train_local([text], 6)
    assert got[0][:4] == (0, "e", "s", "es") and got[1][:4] == (1, "es", "t", "est")


def test_bpe_collect_gate_escalates_min_freq(spark):
    """Round-4 verdict ask #3: the collect path must never pull a
    corpus-shaped dictionary onto the driver. An adversarial corpus of
    (mostly) unique words blows the ``max_dict_words`` gate at
    min_freq=1; the deterministic min_freq doubling prunes the hapax
    tail on the persisted dictionary before any collect happens."""
    from knowledge_graph_builder_spark.operators.bpe import bpe_train

    uniq = " ".join(f"w{i}x" for i in range(500))
    docs = spark.createDataFrame([(0, uniq), (1, "abab " * 40)], ["doc_id", "text"])
    out = (
        bpe_train(docs, n_merges=4, method="collect", max_dict_words=100)
        .orderBy("rank")
        .collect()
    )
    # gate escalated min_freq to 2: only 'abab' (freq 40) survives, so
    # training sees that single word — (a,b) x2 per word wins, then the
    # folded [ab, ab] merges
    assert [(r.left, r.right) for r in out][:2] == [("a", "b"), ("ab", "ab")]
    # fully adversarial: ALL words unique -> everything pruned -> zero
    # merges, cleanly (never a 500-row collect against a 100-row budget)
    docs2 = spark.createDataFrame([(0, uniq)], ["doc_id", "text"])
    assert (
        bpe_train(docs2, n_merges=8, method="collect", max_dict_words=100).count() == 0
    )


def test_bpe_merge_is_leftmost_nonoverlapping(spark):
    """'aaaa' with merge (a,a) folds to [aa, aa], 'aaa' to [aa, a] — the
    reference replacement order; overlapping re-merge would differ."""
    from knowledge_graph_builder_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame([(0, "aaaa aaa")], ["doc_id", "text"])
    merges = bpe_train(docs, 2).orderBy("rank").collect()
    # merge 0: (a, a) freq 5 (3 in 'aaaa' pairs? no — leftmost counting is
    # on PAIR COUNTS pre-merge: 'aaaa' has 3 adjacent (a,a), 'aaa' has 2)
    assert (merges[0].left, merges[0].right, merges[0].pair_freq) == ("a", "a", 5)
    # merge 1 sees 'aaaa'->[aa,aa] and 'aaa'->[aa,a]: (aa,aa)=1, (aa,a)=1;
    # lexicographic tie-break picks (aa, a)
    assert (merges[1].left, merges[1].right) == ("aa", "a")


def test_bpe_apply_matches_reference_twin(spark):
    from knowledge_graph_builder_spark.operators.bpe import (
        bpe_apply,
        bpe_apply_local,
        bpe_train_local,
    )

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    merges = [(l, r) for _, l, r, _, _ in bpe_train_local([text], 6)]
    docs = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    got = {r.word: (r.freq, list(r.tokens)) for r in bpe_apply(docs, merges).collect()}
    assert got == bpe_apply_local([text], merges)
    assert got["lower"][1] == ["low", "e", "r"]  # 'low' learned, 'er' not (6 merges)


def test_bpe_apply_kernel_parity_and_dispatch(spark):
    """The fold and kernel strategies must produce identical tokenizations
    (both pinned to the pure-Python twin), and auto must pick the kernel
    above 32 merges."""
    from knowledge_graph_builder_spark.operators.bpe import (
        bpe_apply,
        bpe_apply_local,
        bpe_train_local,
    )

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    merges = [(l, r) for _, l, r, _, _ in bpe_train_local([text], 6)]
    docs = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    expected = bpe_apply_local([text], merges)
    for method in ("fold", "kernel"):
        got = {
            r.word: (r.freq, list(r.tokens))
            for r in bpe_apply(docs, merges, method=method).collect()
        }
        assert got == expected, method
    # auto >32 merges must not build a deep fold expression: mapInArrow
    # appears in the plan instead of nested aggregate()s
    many = merges + [(f"q{i}", f"z{i}") for i in range(40)]
    plan = bpe_apply(docs, many)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan


def test_bpe_apply_scales_in_merge_count(spark):
    """Round-2 verdict scale hazard: a real tokenizer has 30k-50k merges;
    the apply path must plan and run with >= 1,000 merges (the fold
    strategy's expression tree would blow analysis long before that).
    Parity with the twin is asserted on the same 1,000-merge list."""
    from knowledge_graph_builder_spark.operators.bpe import (
        bpe_apply,
        bpe_apply_local,
        bpe_train_local,
    )

    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3 + ["lowest"] * 4
    )
    real = [(l, r) for _, l, r, _, _ in bpe_train_local([text], 10)]
    # pad with synthetic never-matching pairs to 1,000 — plan size must not care
    merges = real + [(f"x{i}", f"y{i}") for i in range(1000 - len(real))]
    docs = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    got = {r.word: (r.freq, list(r.tokens)) for r in bpe_apply(docs, merges).collect()}
    assert got == bpe_apply_local([text], merges)
    assert got["lowest"][1] == bpe_apply_local([text], merges)["lowest"][1]


def _cdc_local(text, window=16, divisor=64):
    """Pure-Python twin of packing.cdc_chunks (independent code path)."""
    import hashlib

    bounds = [
        i
        for i in range(window, len(text) + 1)
        if int(hashlib.md5(text[i - window : i].encode()).hexdigest()[:8], 16) % divisor == 0
    ]
    starts = [1] + [b + 1 for b in bounds]
    ends = bounds + [len(text)]
    out = []
    idx = 0
    for s, e in zip(starts, ends):
        if e >= s:
            out.append((idx, s - 1, text[s - 1 : e]))
            idx += 1
    return out


def test_cdc_chunks_matches_reference_twin(spark):
    from knowledge_graph_builder_spark.operators.packing import cdc_chunks

    import random

    rng = random.Random(3)
    texts = [
        "".join(rng.choice("abcdefgh ") for _ in range(n)) for n in (0, 5, 16, 200, 1000)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    got = {}
    for r in cdc_chunks(docs).collect():
        got.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_start, r.chunk_text))
    for i, t in enumerate(texts):
        expected = _cdc_local(t)
        if not t:
            assert i not in got
        else:
            assert sorted(got[i]) == expected, (i, len(t))
            # chunks reassemble the document exactly
            assert "".join(c for _, _, c in sorted(got[i])) == t


def test_cdc_chunks_insertion_stability(spark):
    """The CDC property fixed-width chunking lacks: inserting a span in
    the middle of a document disturbs only the chunk(s) around the edit;
    every other chunk hash survives, so chunk-level dedup still links
    the two versions."""
    from knowledge_graph_builder_spark.operators.packing import cdc_chunks

    import random

    rng = random.Random(9)
    base = "".join(rng.choice("abcdefgh ") for _ in range(2000))
    edited = base[:1000] + "XXINSERTXX" + base[1000:]
    docs = spark.createDataFrame([(1, base), (2, edited)], "doc_id int, text string")
    by_doc = {1: set(), 2: set()}
    n_chunks = {1: 0, 2: 0}
    for r in cdc_chunks(docs).collect():
        by_doc[r.doc_id].add(r.chunk_hash)
        n_chunks[r.doc_id] += 1
    shared = by_doc[1] & by_doc[2]
    assert n_chunks[1] >= 10  # the corpus genuinely chunks
    # at most ~2 chunks around the edit may differ
    assert len(shared) >= n_chunks[1] - 2, (n_chunks, len(shared))


def test_ngrams_col_matches_naive_reference(spark):
    """The zip_with n-gram kernel must emit exactly the naive Python
    n-grams for every (text, n) — including boundary rows (empty, one
    word, len == n-1, len == n) and multi-space/punctuation survivors."""
    from knowledge_graph_builder_spark.operators.dedup import ngrams_col

    texts = [
        "",
        "one",
        "two words",
        "three little words",
        "a b c d e f g",
        "repeat repeat repeat repeat",
        "x " * 40,
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "text"])
    for n in (1, 2, 3, 5):
        words_col = F.split(F.trim(F.col("text")), r"\s+")
        got = {
            r["i"]: list(r["g"])
            for r in df.select(
                "i", ngrams_col(words_col, n).alias("g")
            ).collect()
        }
        for i, t in enumerate(texts):
            ws = t.strip().split() if t.strip() else [""]
            expected = (
                [" ".join(ws[j : j + n]) for j in range(len(ws) - n + 1)]
                if len(ws) >= n
                else []
            )
            assert got[i] == expected, (t, n, got[i], expected)


def test_bpe_train_collect_parity(spark):
    """The collect strategy (one corpus scan -> local incremental merge
    loop) must agree exactly with the distributed loop AND the naive
    pure-Python twin on the classic Sennrich corpus."""
    from knowledge_graph_builder_spark.operators.bpe import bpe_train, bpe_train_local

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    expected = bpe_train_local([text], 6)
    for method in ("loop", "collect"):
        got = [
            (r.rank, r.left, r.right, r.merged, r.pair_freq)
            for r in bpe_train(docs, 6, method=method).orderBy("rank").collect()
        ]
        assert got == expected, method


def test_bpe_train_scales_in_merge_count(spark):
    """Round-3 verdict scale hazard: a real tokenizer has 30k-50k merges
    and the per-merge distributed loop would serialize that many Spark
    jobs. Above 32 merges, auto must take the collect path — O(1) Spark
    jobs after the corpus scan — and a 1,000-merge train must match the
    naive pure-Python twin exactly (including early-stop depth)."""
    from knowledge_graph_builder_spark.operators.bpe import bpe_train, bpe_train_local

    # a corpus with enough symbol diversity to sustain hundreds of merges
    words = []
    for i in range(400):
        h = f"{i * 2654435761 % 2**32:08x}"  # deterministic pseudo-random hex
        words.extend([f"w{h}"] * (i % 7 + 1))
    text = " ".join(words)
    docs = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    expected = bpe_train_local([text], 1000)
    assert len(expected) > 200  # the corpus genuinely sustains deep training

    sc = spark.sparkContext
    sc.setJobGroup("bpe-train-1000", "scale test")
    try:
        got = [
            (r.rank, r.left, r.right, r.merged, r.pair_freq)
            for r in bpe_train(docs, 1000).orderBy("rank").collect()
        ]
        jobs = sc.statusTracker().getJobIdsForGroup("bpe-train-1000")
    finally:
        sc.cancelJobGroup("bpe-train-1000")
        sc.setJobGroup("", "")
    assert got == expected
    # O(1) jobs: the scan, the size-gate probe (limit(k+1).count()), the
    # collect, and the tiny result materialization — nothing remotely
    # like one job per merge
    assert len(jobs) <= 8, f"expected O(1) Spark jobs, saw {len(jobs)}"


def test_bpe_train_min_freq_prunes_tail(spark):
    """min_freq drops hapax words from the collected dictionary; merges
    then reflect only the surviving words."""
    from knowledge_graph_builder_spark.operators.bpe import bpe_train, bpe_train_local

    text = " ".join(["low"] * 5 + ["newest"] * 6 + ["xyzzy"])  # xyzzy is hapax
    docs = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    got = [
        (r.rank, r.left, r.right, r.merged, r.pair_freq)
        for r in bpe_train(docs, 4, method="collect", min_freq=2).orderBy("rank").collect()
    ]
    pruned_text = " ".join(["low"] * 5 + ["newest"] * 6)
    assert got == bpe_train_local([pruned_text], 4)


def test_bpe_empty_corpus(spark):
    from knowledge_graph_builder_spark.operators.bpe import bpe_train

    docs = spark.createDataFrame([(0, ""), (1, "   ")], ["doc_id", "text"])
    assert bpe_train(docs, 4).count() == 0
    assert bpe_train(docs, 4, method="collect").count() == 0


def test_cms_one_sided_error(spark):
    """est >= true count for EVERY word, even with a tiny width that
    forces collisions; with ample width the estimate is exact."""
    from knowledge_graph_builder_spark.operators.sketch import cms_build, cms_estimate

    text = " ".join(["alpha"] * 7 + ["beta"] * 5 + ["gamma"] * 3 + ["delta", "omega"])
    docs = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    truth = {"alpha": 7, "beta": 5, "gamma": 3, "delta": 1, "omega": 1}
    words = spark.createDataFrame([(w,) for w in truth], ["word"])

    tight = cms_build(docs, depth=4, width=4)
    est_tight = {r.word: r.est for r in cms_estimate(tight, words, depth=4, width=4).collect()}
    assert all(est_tight[w] >= n for w, n in truth.items()), est_tight

    wide = cms_build(docs, depth=4, width=4096)
    est_wide = {r.word: r.est for r in cms_estimate(wide, words, depth=4, width=4096).collect()}
    assert est_wide == truth

    # the sketch never exceeds depth*width rows, whatever the corpus
    assert tight.count() <= 16 and wide.count() <= 5 * 4


def test_cms_unseen_word_estimates_low(spark):
    from knowledge_graph_builder_spark.operators.sketch import cms_build, cms_estimate

    docs = spark.createDataFrame([(0, "alpha alpha beta")], ["doc_id", "text"])
    words = spark.createDataFrame([("zzzz",)], ["word"])
    sketch = cms_build(docs, depth=4, width=4096)
    est = cms_estimate(sketch, words, depth=4, width=4096).collect()[0]
    # an unseen word can only collide; at this width it reads 0
    assert est.est == 0


def test_asof_join_hand_case(spark):
    orders = spark.createDataFrame(
        [(1, _ts(10), "o-a"), (1, _ts(20), "o-b"), (2, _ts(5), "o-c")],
        ["key", "ots", "oid"],
    )
    events = spark.createDataFrame(
        [(1, _ts(15), "e1"), (1, _ts(25), "e2"), (1, _ts(3), "e0"), (2, _ts(5), "e3"), (3, _ts(9), "e4")],
        ["key", "ets", "eid"],
    )
    out = asof_join(events, orders, "key", "key", "ets", "ots", ["oid"])
    got = {r.eid: r.oid_asof for r in out.collect()}
    # e1@15 sees o-a@10; e2@25 sees o-b@20; e0@3 has no prior order (dropped);
    # e3@5 sees o-c@5 (ties: right visible at equal ts); e4 has no key match
    assert got == {"e1": "o-a", "e2": "o-b", "e3": "o-c"}


def test_sessionize_hand_case(spark):
    ev = spark.createDataFrame(
        [(1, _ts(0)), (1, _ts(100)), (1, _ts(4000)), (1, _ts(4100)), (2, _ts(0))],
        ["user_id", "ts"],
    )
    out = sessionize(ev, "user_id", "ts", gap_seconds=1800)
    sessions = {(r.user_id, r.ts.second + r.ts.minute * 60 + r.ts.hour * 3600): r.session_id for r in out.collect()}
    assert sessions[(1, 0)] == 0 and sessions[(1, 100)] == 0
    assert sessions[(1, 4000)] == 1 and sessions[(1, 4100)] == 1
    assert sessions[(2, 0)] == 0


def _block_pairs_reference(rows, cap, probe=None):
    """Plain-Python block purging: (block, a, b) rows as a Counter."""
    from collections import Counter

    sizes = Counter(b for b, _ in rows)
    kept = {b for b, n in sizes.items() if 2 <= n <= cap}
    out = Counter()
    for b, x in rows:
        for b2, y in rows if probe is None else probe:
            if b in kept and b2 == b:
                if probe is None and x < y:
                    out[(b, x, y)] += 1
                elif probe is not None and x != y:
                    out[(b, min(x, y), max(x, y))] += 1
    return kept, out


@pytest.mark.parametrize("member_type", ["string", "bigint"])
def test_block_pairs_match_python_reference(spark, member_type):
    import random
    from collections import Counter

    cap = 4
    rng = random.Random(29)
    ids = [f"m{i:03d}" if member_type == "string" else i * 10**10 for i in range(60)]
    # boundary blocks of 1, cap and cap + 1 rows; one pair shares two
    # kept blocks, which must give one row per shared block
    rows = [(blk, m) for blk, size in (("one", 1), ("cap", cap), ("over", cap + 1))
            for m in rng.sample(ids, size)]
    rows += [("s1", ids[0]), ("s1", ids[1]), ("s2", ids[1]), ("s2", ids[0]), ("s2", ids[2])]
    rows += [(f"r{b}", m) for b in range(25) for m in rng.sample(ids, rng.randint(1, cap + 2))]
    rng.shuffle(rows)
    probe = rng.sample(rows, len(rows) // 3) + [r for r in rows if r[0] in ("one", "over")]

    schema = f"block string, member {member_type}"
    df = spark.createDataFrame(rows, schema)
    kept, want = _block_pairs_reference(rows, cap)
    assert {"cap", "s1", "s2"} <= kept and not {"one", "over"} & kept
    assert {r[0] for r in kept_blocks(df, "block", cap).collect()} == kept
    got = Counter(tuple(r) for r in block_pairs(df, "block", "member", cap).collect())
    assert got == want
    assert got[("s1", ids[0], ids[1])] == got[("s2", ids[0], ids[1])] == 1

    _, want_probe = _block_pairs_reference(rows, cap, probe)
    got_probe = block_pairs(df, "block", "member", cap, probe=spark.createDataFrame(probe, schema))
    assert Counter(tuple(r) for r in got_probe.collect()) == want_probe
    assert want_probe


def test_graph_store_clear_preserves_null_session(spark, tmp_path):
    from knowledge_graph_builder_spark.sources.graph_store import GraphStore

    store = GraphStore(spark, str(tmp_path / "store"))
    nodes = spark.createDataFrame(
        [("Apple", "ORG", "s1"), ("Beats", "ORG", None)],
        "name string, type string, session_id string",
    )
    store.upsert_nodes(nodes)
    store.clear_session("s1")
    left = {r.name for r in store.nodes().collect()}
    # the NULL-session row must survive a clear of any named session
    assert left == {"Beats"}


def test_graph_store_upsert_deterministic_within_batch(spark, tmp_path):
    from knowledge_graph_builder_spark.sources.graph_store import GraphStore

    dup = [("Apple", "ORG", f"sess-{i}") for i in range(6)]
    winners = set()
    for rep in range(2):
        store = GraphStore(spark, str(tmp_path / f"store{rep}"))
        batch = spark.createDataFrame(dup, "name string, type string, session_id string")
        store.upsert_nodes(batch.repartition(4 if rep else 2))
        rows = store.nodes().collect()
        assert len(rows) == 1
        winners.add(rows[0].session_id)
    # same duplicate batch, different partitioning -> same surviving row
    assert len(winners) == 1


def test_degree_stats_hand_graph(spark):
    from knowledge_graph_builder_spark.operators.graphalg import degree_stats

    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("d", "a")], "src string, dst string"
    )
    out = {r.node: (r.out_degree, r.in_degree, r.degree) for r in degree_stats(e).collect()}
    assert out == {"a": (2, 1, 3), "b": (1, 1, 2), "c": (0, 2, 2), "d": (1, 0, 1)}


def test_pagerank_star_and_normalization(spark):
    from knowledge_graph_builder_spark.operators.graphalg import pagerank

    # star: everyone points at 'hub'; hub is dangling
    e = spark.createDataFrame(
        [("s1", "hub"), ("s2", "hub"), ("s3", "hub")], "src string, dst string"
    )
    ranks = {r.node: r.rank for r in pagerank(e, iterations=20).collect()}
    assert ranks["hub"] == max(ranks.values())
    assert ranks["s1"] == ranks["s2"] == ranks["s3"] < ranks["hub"]
    # dangling redistribution keeps the distribution normalized
    assert abs(sum(ranks.values()) - 1.0) < 1e-6


def test_triangle_count_hand_graphs(spark):
    from knowledge_graph_builder_spark.operators.graphalg import triangle_count

    # K4 on {a,b,c,d}: 4 triangles, every node in 3; pendant 'e' in none;
    # reversed duplicate edge + self-loop must not change counts
    k4 = [(x, y) for i, x in enumerate("abcd") for y in "abcd"[i + 1 :]]
    e = spark.createDataFrame(
        k4 + [("d", "e"), ("b", "a"), ("c", "c")], "src string, dst string"
    )
    out = {r.node: r.n_triangles for r in triangle_count(e).collect()}
    assert out == {"a": 3, "b": 3, "c": 3, "d": 3}

    # single triangle plus a disconnected edge
    e2 = spark.createDataFrame(
        [("x", "y"), ("y", "z"), ("z", "x"), ("p", "q")], "src string, dst string"
    )
    out2 = {r.node: r.n_triangles for r in triangle_count(e2).collect()}
    assert out2 == {"x": 1, "y": 1, "z": 1}


def test_neighbor_jaccard_hand_graph(spark):
    from knowledge_graph_builder_spark.operators.graphalg import neighbor_jaccard

    # square a-b-c-d-a plus diagonal a-c:
    #   pair (a,c): common {b,d}, deg a=3, c=3 -> 2/(3+3-2)=0.5
    #   pair (a,b): common {c},    deg a=3, b=2 -> 1/(3+2-1)=0.25
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")],
        "src string, dst string",
    )
    out = {(r.a, r.b): (r.common, r.jaccard) for r in neighbor_jaccard(e).collect()}
    assert out == {
        ("a", "c"): (2, 0.5),
        ("a", "b"): (1, 0.25),
        ("b", "c"): (1, 0.25),
        ("a", "d"): (1, 0.25),
        ("c", "d"): (1, 0.25),
    }
    # hub-center cap: dropping the degree-3 centers (a, c) removes the
    # wedges they host — every pair whose only common neighbor is a or c
    # disappears; (a, c) survives intact because its common neighbors
    # b and d are both under the cap
    capped = {
        (r.a, r.b): (r.common, r.jaccard)
        for r in neighbor_jaccard(e, max_center_degree=2).collect()
    }
    assert capped == {("a", "c"): (2, 0.5)}


def test_k_core_peels_to_fixpoint(spark):
    from knowledge_graph_builder_spark.operators.graphalg import k_core

    # triangle {a,b,c} with two pendant chains: 2-core is exactly the
    # triangle; the chain must peel over MULTIPLE rounds (e->d first,
    # then d->c), exercising the fixpoint loop
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"), ("b", "f")],
        "src string, dst string",
    )
    out = {r.node: r.core_degree for r in k_core(e, k=2).collect()}
    assert out == {"a": 2, "b": 2, "c": 2}
    # k above the max degree peels everything
    assert k_core(e, k=4).collect() == []


def test_graph_store_bucketed_upsert_leaves_untouched_buckets_byte_identical(spark, tmp_path):
    """Scale contract: an upsert rewrites ONLY the hash buckets its batch
    touches — cost scales with batch size, not store size. The commit
    writes one new bucket directory and moves one manifest pointer; every
    other bucket keeps pointing at the same, byte-identical files."""
    import hashlib
    import json
    import os

    root = str(tmp_path / "g")
    store = GraphStore(spark, root, n_buckets=8)
    nodes = spark.range(64).selectExpr(
        "concat('n', id) AS name", "'ORG' AS type", "'s1' AS session_id"
    )
    store.upsert_nodes(nodes)

    def manifest():
        with open(f"{root}/nodes.manifest.json") as fh:
            return json.load(fh)["buckets"]

    def bucket_bytes(buckets):
        # bucket -> {file name: sha256} of the files the manifest names
        out = {}
        for b, cdir in buckets.items():
            d = f"{root}/nodes._commits/{cdir}/_bucket={b}"
            out[b] = {
                f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
                for f in sorted(os.listdir(d))
            }
        return out

    before = manifest()
    assert len(before) > 1  # keys actually spread over buckets
    bytes_before = bucket_bytes(before)
    one = spark.createDataFrame([("n3", "ORG", "s2")], "name string, type string, session_id string")
    store.upsert_nodes(one)
    after = manifest()

    assert after.keys() == before.keys()
    moved = [b for b in before if before[b] != after[b]]
    assert len(moved) == 1  # exactly the batch's bucket pointer moved
    bytes_after = bucket_bytes(after)
    for b in before:
        if b not in moved:
            assert bytes_after[b] == bytes_before[b]
    commit_dir = f"{root}/nodes._commits/{after[moved[0]]}"
    # the commit holds only the touched bucket
    assert [e for e in os.listdir(commit_dir) if e.startswith("_bucket=")] == [
        f"_bucket={moved[0]}"
    ]
    out = store.nodes()
    assert out.count() == 64  # MERGE, not append
    assert out.filter("name = 'n3'").collect()[0]["session_id"] == "s2"  # last writer
    assert out.filter("name = 'n5'").collect()[0]["session_id"] == "s1"  # untouched


def test_viz_color_map_matches_reference(spark):
    """Q2 colors must equal reference graph_db.py:205-219 exactly."""
    from knowledge_graph_builder_spark.operators.graph import (
        EDGE_COLOR,
        ENTITY_DEFAULT_COLOR,
        EVENT_DEFAULT_COLOR,
        TYPE_COLORS,
        viz_nodes,
    )

    assert TYPE_COLORS == {
        "PERSON": "#3b82f6",
        "ORG": "#10b981",
        "GPE": "#f59e0b",
        "PRODUCT": "#8b5cf6",
        "FAC": "#06b6d4",
        "WORK_OF_ART": "#a855f7",
        "Acquisition": "#fbbf24",
        "ProductLaunch": "#ec4899",
        "LeadershipChange": "#f59e0b",
        "Conference": "#8b5cf6",
        "FundingRound": "#10b981",
        "Other": "#6b7280",
    }
    assert (ENTITY_DEFAULT_COLOR, EVENT_DEFAULT_COLOR, EDGE_COLOR) == (
        "#6b7280", "#fbbf24", "#64748b",
    )

    nodes = spark.createDataFrame(
        [("Apple", "ORG", "s"), ("Mona Lisa", "WORK_OF_ART", "s"), ("X", "LAW", "s")],
        "name string, type string, source_sentence string",
    )
    events = spark.createDataFrame(
        [("Apple acquires Beats", "Acquisition", "2014", None, "ctx"),
         ("Weird thing", "NewType", None, None, None)],
        "name string, event_type string, date string, amount string, context string",
    )
    out = {r.id: (r.group, r.color, r.shape) for r in viz_nodes(nodes, events).collect()}
    assert out["Apple"] == ("ORG", "#10b981", "dot")
    assert out["Mona Lisa"] == ("WORK_OF_ART", "#a855f7", "dot")
    assert out["X"] == ("LAW", "#6b7280", "dot")  # entity fallback
    # events group by EVENT TYPE (not a generic "Event"), diamond shape
    assert out["Apple acquires Beats"] == ("Acquisition", "#fbbf24", "diamond")
    assert out["Weird thing"] == ("NewType", "#fbbf24", "diamond")  # event fallback


def test_capability_gate_resolution():
    # fake=None defers to the probe; explicit values are respected
    from knowledge_graph_builder_spark.capabilities import resolve_fake

    assert resolve_fake(None, lambda: True) is False   # codec present -> real
    assert resolve_fake(None, lambda: False) is True   # codec absent -> fake
    assert resolve_fake(True, lambda: True) is True
    assert resolve_fake(False, lambda: False) is False


def test_winnowing_shared_run_guarantee(spark):
    # winnowing guarantee: any shared run of k+window-1 = 11 normalized
    # chars yields at least one shared fingerprint; disjoint content
    # yields none of the same
    from knowledge_graph_builder_spark.operators.textstats import winnowing_fingerprints

    shared = "identical passage embedded in both documents"
    docs = spark.createDataFrame(
        [
            (1, "alpha opening text. " + shared + " tail one."),
            (2, "totally different start! " + shared + " other ending."),
            (3, "zzz qqq xxx vvv kkk jjj www yyy uuu"),
        ],
        ["doc_id", "text"],
    )
    fps = winnowing_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[1] & by_doc[2], "shared passage must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    # deterministic across repartitioning
    fps2 = winnowing_fingerprints(docs.repartition(5)).collect()
    assert {(r["doc_id"], r["fingerprint"]) for r in fps} == {
        (r["doc_id"], r["fingerprint"]) for r in fps2
    }


def test_pack_documents_contiguous_fill(spark):
    from knowledge_graph_builder_spark.operators.packing import pack_documents, pack_stats

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (10 + i))) for i in range(12)], ["doc_id", "text"]
    )
    packed = {r["doc_id"]: r for r in pack_documents(docs, max_tokens=30, n_shards=2).collect()}
    # shard 0: docs 0,2,4,... tokens 10,12,14,...; shard by doc_id % 2
    assert packed[0]["shard"] == 0 and packed[1]["shard"] == 1
    # doc 0: before=0 -> bin 0, offset 0; doc 2: before=10 -> bin 0 offset 10;
    # doc 4: before=22 -> bin 0 offset 22 (straddles); doc 6: before=36 -> bin 1 offset 6
    assert (packed[0]["bin"], packed[0]["bin_offset"]) == (0, 0)
    assert (packed[2]["bin"], packed[2]["bin_offset"]) == (0, 10)
    assert (packed[4]["bin"], packed[4]["bin_offset"]) == (0, 22)
    assert (packed[6]["bin"], packed[6]["bin_offset"]) == (1, 6)
    # stats: fill ratio of shard-0 bin-0 = (10+12+14)/30
    stats = {(r["shard"], r["bin"]): r for r in pack_stats(
        pack_documents(docs, max_tokens=30, n_shards=2), max_tokens=30).collect()}
    assert stats[(0, 0)]["n_docs"] == 3 and abs(stats[(0, 0)]["fill_ratio"] - 1.2) < 1e-9
    # deterministic under repartitioning
    p2 = {r["doc_id"]: (r["bin"], r["bin_offset"]) for r in
          pack_documents(docs.repartition(7), max_tokens=30, n_shards=2).collect()}
    assert p2 == {k: (v["bin"], v["bin_offset"]) for k, v in packed.items()}


def test_bm25_rank_ordering_and_scores(spark):
    import math

    from knowledge_graph_builder_spark.operators.search import bm25_rank

    docs = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "apple banana banana"), (3, "cherry cherry")],
        "doc_id long, text string",
    )
    out = [(r.doc_id, r.score) for r in bm25_rank(docs, ["Apple"]).collect()]
    # N=3, avgdl=8/3, df(apple)=2 -> idf = ln(1 + 1.5/2.5)
    idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))

    def s(tf, dl):
        return round(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (8 / 3))), 4)

    assert out == [(1, s(2, 3)), (2, s(1, 3))]  # higher tf first, d3 absent
    # multi-term: doc 3 only matches 'cherry'; rare term still scores it
    out2 = {r.doc_id for r in bm25_rank(docs, ["apple", "cherry"]).collect()}
    assert out2 == {1, 2, 3}


def test_unigram_lm_score_hand_case(spark):
    import math

    from knowledge_graph_builder_spark.operators.textstats import unigram_lm_score

    # corpus tf: a=2, b=3, total=5; empty doc excluded
    docs = spark.createDataFrame(
        [(1, "A a  b"), (2, "b B"), (3, "   ")], "doc_id long, text string"
    )
    out = {r.doc_id: (r.n_tokens, r.xent) for r in unigram_lm_score(docs).collect()}
    x1 = round(-(2 * math.log(2 / 5) + math.log(3 / 5)) / 3, 4)
    x2 = round(-math.log(3 / 5), 4)
    assert out == {1: (3, x1), 2: (2, x2)}


def test_repetition_stats_known_ratios(spark):
    from knowledge_graph_builder_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),      # 7 trigrams, 3 distinct
            (2, "one two three four"),     # 2 trigrams, both distinct
            (3, "x y"),                    # too short -> 0 grams
            (4, "   "),                    # blank -> 0 grams
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert (rows[1]["n_grams"], rows[1]["n_distinct"]) == (7, 3)
    assert abs(rows[1]["rep_ratio"] - round(1 - 3 / 7, 4)) < 1e-9
    assert rows[2]["rep_ratio"] == 0.0
    assert rows[3]["n_grams"] == 0 and rows[3]["rep_ratio"] == 0.0
    assert rows[4]["n_grams"] == 0


def test_redact_pii_masks_and_counts(spark):
    from knowledge_graph_builder_spark.operators.privacy import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail a.b+c@test.org and 10.0.0.1 now"),
            (2, "call 555-123-4567 or ssn 321-54-9876"),
            (3, "clean text, no pii at all"),
            (4, "two mails x@y.io y@z.ai"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert rows[1]["redacted"] == "mail <EMAIL> and <IP> now"
    assert (rows[1]["n_email"], rows[1]["n_ipv4"], rows[1]["n_pii"]) == (1, 1, 2)
    assert rows[2]["redacted"] == "call <PHONE> or ssn <ID>"
    assert (rows[2]["n_phone"], rows[2]["n_ssn"]) == (1, 1)
    assert rows[3]["redacted"] == rows[3]["redacted"] and rows[3]["n_pii"] == 0
    assert rows[4]["n_email"] == 2 and "<EMAIL>" in rows[4]["redacted"]


def test_audio_frame_features_math(spark):
    import math

    from knowledge_graph_builder_spark.operators.multimodal import (
        MEDIA,
        audio_frame_features,
        synth_media,
    )

    # hand-built payload: 20 bytes -> frame_len=8 gives frames of 8,8,4
    payload = bytes([128] * 8 + [228] * 8 + [28] * 4)
    media = spark.createDataFrame(
        [(0, "audio", "audio/wav", payload, None, None, None),
         (1, "image", "image/png", b"\x01\x02", 2, 1, None)],
        schema=MEDIA,
    )
    rows = audio_frame_features(media, frame_len=8, fake=True).collect()
    assert len(rows) == 1  # image row filtered out
    r = rows[0]
    assert (r["n_samples"], r["n_frames"]) == (20, 3)
    assert r["frame_energy"][0] == 0.0           # all-128 frame -> silence
    assert abs(r["frame_energy"][1] - 100.0) < 1e-4
    assert r["peak_frame"] == 1
    expected_mean = (0.0 + 100.0 + 100.0) / 3
    assert abs(r["rms_mean"] - expected_mean) < 1e-4
    # deterministic across partitionings on the synth corpus
    def key(rows):
        return {(r["media_id"], r["n_samples"], tuple(r["frame_energy"])) for r in rows}

    a = key(audio_frame_features(synth_media(spark, n=12), fake=True).collect())
    b = key(audio_frame_features(synth_media(spark, n=12).repartition(5), fake=True).collect())
    assert a == b


def test_contamination_scores_exact(spark):
    from knowledge_graph_builder_spark.operators.contamination import contamination_scores

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox sleeps"),   # grams: 3 distinct, 2 in eval
            (2, "nothing shared here at all"),
            (3, "xy"),                            # too short -> 0 grams
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in contamination_scores(corpus, ev, n=3).collect()}
    assert (rows[1]["n_grams"], rows[1]["n_matched"]) == (3, 2)
    assert abs(rows[1]["contamination"] - round(2 / 3, 4)) < 1e-9
    assert rows[2]["n_matched"] == 0 and rows[2]["contamination"] == 0.0
    assert rows[3]["n_grams"] == 0 and rows[3]["contamination"] == 0.0


def test_stratified_sample_deterministic_rates(spark):
    from knowledge_graph_builder_spark.operators.sampling import stratified_sample

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else ("fr" if i % 4 == 1 else "zz"), "t")
         for i in range(2000)],
        ["doc_id", "lang", "text"],
    )
    out = stratified_sample(docs, rates={"en": 0.5, "fr": 1.0}, default_rate=0.0)
    rows = out.groupBy("lang").count().collect()
    counts = {r["lang"]: r["count"] for r in rows}
    assert counts.get("zz", 0) == 0                      # default 0 drops all
    assert counts["fr"] == 500                           # rate 1.0 keeps all
    assert 400 < counts["en"] < 600                      # ~50% of 1000
    # identical selection regardless of partitioning
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in stratified_sample(
        docs.repartition(13), rates={"en": 0.5, "fr": 1.0}, default_rate=0.0).collect()}
    assert a == b


def test_curate_corpus_decision_order(spark):
    from knowledge_graph_builder_spark.operators.curation import (
        curate_corpus,
        curation_funnel,
    )

    long_unique = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, "en", long_unique),                      # kept (en rate 1.0)
            (2, "en", "Short doc."),                     # too_short
            (3, "en", "spam ham " * 30),                 # repetitive
            (4, "en", long_unique + "!!"),               # normalized dup of 1
            (5, "zz", long_unique + " extra tail words here ok"),  # sampled_out (rate 0)
            (6, "en", "tiny " * 2),                      # too_short wins over repetitive
        ],
        ["doc_id", "lang", "text"],
    )
    out = curate_corpus(
        docs, min_tokens=10, max_rep_ratio=0.5,
        rates={"en": 1.0}, default_rate=0.0,
    )
    d = {r["doc_id"]: r["decision"] for r in out.collect()}
    assert d == {
        1: "kept", 2: "too_short", 3: "repetitive",
        4: "duplicate", 5: "sampled_out", 6: "too_short",
    }
    funnel = {r["decision"]: r["n_docs"] for r in curation_funnel(out).collect()}
    assert funnel == {"kept": 1, "too_short": 2, "repetitive": 1,
                      "duplicate": 1, "sampled_out": 1}
    # disposition is partitioning-invariant
    d2 = {r["doc_id"]: r["decision"] for r in curate_corpus(
        docs.repartition(7), min_tokens=10, max_rep_ratio=0.5,
        rates={"en": 1.0}, default_rate=0.0).collect()}
    assert d2 == d


def test_tfidf_top_terms_hand_scores(spark):
    import math

    from knowledge_graph_builder_spark.operators.search import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry durian"),
        ],
        ["doc_id", "text"],
    )
    out = {(r["doc_id"], r["term"]): (r["score"], r["rnk"])
           for r in tfidf_top_terms(docs, top_k=2).collect()}
    # doc 1: apple tf=2 df=1, banana tf=1 df=2; N=3, idf = ln((1+N)/(1+df))+1
    apple = round(2 * (math.log(4 / 2) + 1), 4)
    banana = round(1 * (math.log(4 / 3) + 1), 4)
    assert out[(1, "apple")] == (apple, 1)
    assert out[(1, "banana")] == (banana, 2)
    # doc 3: top-2 cut keeps cherry (tf=3) then durian (df=1 but tf=1)
    assert out[(3, "cherry")][1] == 1 and out[(3, "durian")][1] == 2
    assert (2, "durian") not in out
    # partitioning-invariant
    out2 = {(r["doc_id"], r["term"]): (r["score"], r["rnk"])
            for r in tfidf_top_terms(docs.repartition(5), top_k=2).collect()}
    assert out2 == out


def test_mixture_weights_alpha_math(spark):
    import math

    from knowledge_graph_builder_spark.operators.sampling import mixture_weights

    docs = spark.createDataFrame(
        [(i, "x" * 10, "big") for i in range(9)] + [(99, "x" * 4, "rare")],
        ["doc_id", "text", "source"],
    )
    rows = {r["source"]: r for r in mixture_weights(docs, alpha=0.5).collect()}
    tot_pow = math.sqrt(9) + math.sqrt(1)
    assert rows["big"]["n_docs"] == 9 and rows["big"]["n_chars"] == 90
    assert rows["rare"]["n_docs"] == 1 and rows["rare"]["n_chars"] == 4
    assert rows["big"]["share"] == 0.9
    assert rows["big"]["weight"] == round(3 / tot_pow, 6)
    # alpha < 1 upweights the rare source, downweights the dominant one
    assert rows["rare"]["boost"] > 1.0 > rows["big"]["boost"]
    # alpha=1 is proportional sampling: weight == share, boost == 1
    for r in mixture_weights(docs, alpha=1.0).collect():
        assert r["weight"] == r["share"] and r["boost"] == 1.0


def test_label_propagation_two_communities(spark):
    from knowledge_graph_builder_spark.operators.graphalg import label_propagation

    # two triangles joined by a single bridge edge: LPA must keep them
    # as two communities (the bridge is outvoted on both sides)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"),
         ("x", "y"), ("y", "z"), ("x", "z"),
         ("c", "x")],
        ["src", "dst"],
    )
    comm = {r["node"]: r["community"]
            for r in label_propagation(edges, iterations=5).collect()}
    assert comm["a"] == comm["b"] == comm["c"]
    assert comm["x"] == comm["y"] == comm["z"]
    assert comm["a"] != comm["x"]
    # a lone bipartite pair must not oscillate: both ends settle on the
    # min label thanks to the self-vote damping
    pair = spark.createDataFrame([("p", "q")], ["src", "dst"])
    got = {r["node"]: r["community"]
           for r in label_propagation(pair, iterations=4).collect()}
    assert got == {"p": "p", "q": "p"}
    # deterministic under repartitioning
    comm2 = {r["node"]: r["community"]
             for r in label_propagation(edges.repartition(7), iterations=5).collect()}
    assert comm2 == comm


def test_shard_assign_deterministic_and_manifest(spark):
    from knowledge_graph_builder_spark.operators.packing import shard_assign, shard_manifest

    docs = spark.createDataFrame(
        [(i, "tok " * (i % 5 + 1)) for i in range(200)], ["doc_id", "text"]
    )
    sharded = shard_assign(docs, n_shards=8)
    a = {r["doc_id"]: r["shard"] for r in sharded.collect()}
    # portable fact: recomputing under a different partitioning gives
    # the identical assignment (this is what makes resume append-stable)
    b = {r["doc_id"]: r["shard"] for r in shard_assign(docs.repartition(13), n_shards=8).collect()}
    assert a == b
    assert set(a.values()) <= set(range(8)) and len(set(a.values())) == 8
    # reference value pin: md5-based bucket, engine-independent
    import hashlib
    exp = int(hashlib.md5(b"7:kgb").hexdigest()[:8], 16) % 8
    assert a[7] == exp
    man = {r["shard"]: (r["n_docs"], r["n_tokens"]) for r in shard_manifest(sharded).collect()}
    assert sum(n for n, _ in man.values()) == 200
    # tokens: doc i has i%5+1 toks (trailing space trimmed)
    assert sum(t for _, t in man.values()) == sum(i % 5 + 1 for i in range(200))


def test_ngram_vocab_stats_hand_counts(spark):
    from knowledge_graph_builder_spark.operators.textstats import ngram_vocab_stats

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b a"), (3, ""), (4, "c")],
        ["doc_id", "text"],
    )
    out = {r["n"]: r for r in ngram_vocab_stats(docs, max_n=3).collect()}
    # unigrams: a,b,a,b,a,c -> 6 total, 3 distinct
    assert (out[1]["total_grams"], out[1]["distinct_grams"]) == (6, 3)
    # bigrams: "a b","b a" (doc1) + "b a" (doc2) -> 3 total, 2 distinct
    assert (out[2]["total_grams"], out[2]["distinct_grams"]) == (3, 2)
    # trigrams: only doc1 "a b a" -> 1 total, 1 distinct; doc4 too short
    assert (out[3]["total_grams"], out[3]["distinct_grams"]) == (1, 1)
    assert out[2]["ttr"] == round(2 / 3, 6)


def test_ngram_vocab_stats_approx_within_tolerance(spark):
    from knowledge_graph_builder_spark.operators.textstats import ngram_vocab_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {r["n"]: r for r in ngram_vocab_stats(docs, max_n=3).collect()}
    apx = {r["n"]: r for r in ngram_vocab_stats(docs, max_n=3, approx=True).collect()}
    for n in (1, 2, 3):
        # totals are exact in both forms
        assert apx[n]["total_grams"] == exact[n]["total_grams"]
        # HLL++ distinct within 5% (default rsd is ~2.3%)
        e, a = exact[n]["distinct_grams"], apx[n]["distinct_grams"]
        assert abs(a - e) <= max(0.05 * e, 2), (n, e, a)


def test_bfs_levels_hand_graph(spark):
    from knowledge_graph_builder_spark.operators.graphalg import bfs_levels

    # path 1-2-3-4-5 plus an unreachable island {10, 11}; the 2->1 back
    # edge must not re-visit node 1 (anti-join against visited)
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (2, 1)], "src int, dst int"
    )
    got = {(r.node, r.hops) for r in bfs_levels(e, [1]).collect()}
    assert got == {(1, 0), (2, 1), (3, 2), (4, 3), (5, 4)}

    # undirected traversal reaches backwards; max_hops truncates levels
    back = {(r.node, r.hops) for r in bfs_levels(e, [5], directed=False).collect()}
    assert back == {(5, 0), (4, 1), (3, 2), (2, 3), (1, 4)}
    capped = {(r.node, r.hops) for r in bfs_levels(e, [1], max_hops=2).collect()}
    assert capped == {(1, 0), (2, 1), (3, 2)}

    # multi-seed: distance is the minimum over seeds; duplicate seeds fold
    multi = {(r.node, r.hops) for r in bfs_levels(e, [1, 4, 4]).collect()}
    assert multi == {(1, 0), (4, 0), (2, 1), (5, 1), (3, 2)}


def test_quantize_embeddings_hand_vectors(spark):
    from pyspark.sql import functions as F

    from knowledge_graph_builder_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [
            (1, [2.54, -1.27, 0.0]),  # scale 0.02: codes 127, -64 (half-up), 0
            (2, [0.0, 0.0]),  # zero vector: scale 0, all-zero codes
        ],
        "vec_id int, embedding array<float>",
    )
    out = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    assert abs(out[1].scale - 0.02) < 1e-9
    assert out[1].codes == [127, -64, 0]
    assert out[2].scale == 0.0 and out[2].codes == [0, 0]

    # reconstruction bound |v - code*scale| <= scale/2 per dimension
    q = quantize_embeddings(df).filter(F.col("scale") > 0)
    bad = q.filter(
        F.exists(
            F.zip_with(
                F.col("embedding"),
                F.col("codes"),
                lambda x, c: F.abs(x - c * F.col("scale")) > F.col("scale") / 2 + 1e-9,
            ),
            lambda b: b,
        )
    ).count()
    assert bad == 0


def test_chunk_documents_windows(spark):
    from knowledge_graph_builder_spark.operators.packing import chunk_documents

    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, ""), (3, None), (4, "xy")],
        "doc_id int, text string",
    )
    out = sorted(
        (r.doc_id, r.chunk_idx, r.chunk_start, r.chunk_text)
        for r in chunk_documents(df, chunk_chars=4, overlap=1).collect()
    )
    # stride 3: starts 0,3,6,9; final chunk short; empty/NULL drop
    assert out == [
        (1, 0, 0, "abcd"),
        (1, 1, 3, "defg"),
        (1, 2, 6, "ghij"),
        (1, 3, 9, "j"),
        (4, 0, 0, "xy"),
    ]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_chars=4, overlap=4)


def test_replace_rare_tokens_reassembly(spark):
    from knowledge_graph_builder_spark.operators.textstats import replace_rare_tokens

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat"),
            (3, "  "),
        ],
        "doc_id int, text string",
    )
    # df counts: the=2, sat=2, cat/on/mat/dog=1 -> UNK at min_df=2;
    # duplicate 'the' keeps both positions; blank doc drops
    out = {r.doc_id: r for r in replace_rare_tokens(df, min_df=2).collect()}
    assert set(out) == {1, 2}
    assert out[1].pruned_text == "the <unk> sat <unk> the <unk>"
    assert (out[1].n_tokens, out[1].n_unk) == (6, 3)
    assert out[2].pruned_text == "the <unk> sat"
    assert (out[2].n_tokens, out[2].n_unk) == (3, 1)


def test_split_corpus_deterministic_and_stable(spark):
    from pyspark.sql import functions as F

    from knowledge_graph_builder_spark.operators.sampling import split_corpus

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    out = split_corpus(df)
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    # uniform md5 buckets: 80/10/10 within a loose tolerance at n=2000
    assert abs(counts["train"] / 2000 - 0.8) < 0.05
    assert abs(counts["val"] / 2000 - 0.1) < 0.03

    # growth stability: the first 1000 docs keep their labels when the
    # corpus doubles (the no-leakage property randomSplit lacks)
    small = {r.doc_id: r.split for r in split_corpus(df.filter(F.col("doc_id") < 1000)).collect()}
    big = {r.doc_id: r.split for r in out.filter(F.col("doc_id") < 1000).collect()}
    assert small == big

    import pytest as _pytest

    with _pytest.raises(ValueError):
        split_corpus(df, splits=[("train", 0.8), ("val", 0.3)])


def test_weighted_sample_proportional_and_deterministic(spark):
    from pyspark.sql import functions as F

    from knowledge_graph_builder_spark.operators.sampling import weighted_sample

    # two weight classes, 10:1 — heavy rows must dominate the sample
    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, 10.0).otherwise(1.0).alias("w"),
    )
    out = weighted_sample(df, k=400, weight_col="w")
    assert out.count() == 400
    heavy = out.filter(F.col("w") == 10.0).count()
    # E[heavy] ~ 364 of 400; loose bound well off the unweighted 200
    assert heavy > 300
    # deterministic: same call, same sample, rank is 1..k
    again = weighted_sample(df, k=400, weight_col="w")
    assert {r.doc_id for r in out.collect()} == {r.doc_id for r in again.collect()}
    assert out.agg(F.min("sample_rank"), F.max("sample_rank")).first() == (1, 400)
    # zero/negative weights never selected
    df2 = df.withColumn("w", F.when(F.col("doc_id") < 3999, 0.0).otherwise(-1.0))
    assert weighted_sample(df2, k=10, weight_col="w").count() == 0


def test_snapshot_diff_labels(spark):
    from knowledge_graph_builder_spark.operators.joins import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, "d", 40)],
        "k int, s string, v int",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (3, "c", 30), (5, "e", 50)],
        "k int, s string, v int",
    )
    got = {(r.k, r.change) for r in snapshot_diff(old, new, ["k"]).collect()}
    # 1 unchanged (dropped); 2 changed (s); 3 changed (NULL->30, null-safe);
    # 4 removed; 5 added
    assert got == {(2, "changed"), (3, "changed"), (4, "removed"), (5, "added")}


def test_graph_store_time_travel(spark, tmp_path):
    import pytest as _pytest

    from knowledge_graph_builder_spark.sources.graph_store import GraphStore

    store = GraphStore(spark, str(tmp_path / "hist"), n_buckets=4, keep_history=True)
    n1 = spark.createDataFrame(
        [("Apple", "ORG", "s1"), ("Jobs", "PERSON", "s1")], "name string, type string, session_id string"
    )
    store.upsert_nodes(n1)
    seq1 = store.current_seq("nodes")
    n2 = spark.createDataFrame(
        [("Apple", "ORG", "s2"), ("iPhone", "PRODUCT", "s2")], "name string, type string, session_id string"
    )
    store.upsert_nodes(n2)

    # current state: last writer per key, 3 distinct keys
    cur = {(r.name, r.session_id) for r in store.nodes().collect()}
    assert cur == {("Apple", "s2"), ("Jobs", "s1"), ("iPhone", "s2")}
    # as-of the first batch: Apple still s1, no iPhone yet
    past = {(r.name, r.session_id) for r in store.nodes_as_of(seq1).collect()}
    assert past == {("Apple", "s1"), ("Jobs", "s1")}
    # before any batch: empty
    assert store.nodes_as_of(seq1 - 1).count() == 0

    # a last-writer-only store refuses time travel instead of lying
    flat = GraphStore(spark, str(tmp_path / "flat"), n_buckets=4)
    flat.upsert_nodes(n1)
    with _pytest.raises(ValueError):
        flat.nodes_as_of(0)
    # and its current read is unaffected (write-time dedup path)
    assert {(r.name, r.session_id) for r in flat.nodes().collect()} == {
        ("Apple", "s1"),
        ("Jobs", "s1"),
    }


def test_cross_doc_duplicated_spans(spark):
    """Interval-union coverage of cross-doc duplicated n-grams: shared
    spans merge (no double counting), within-doc repeats don't count,
    unique docs score 0."""
    from knowledge_graph_builder_spark.operators.textstats import (
        cross_doc_duplicated_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),        # shares "a b c"/"b c d" with doc 2
            (2, "x a b c d y"),
            (3, "p q r s"),            # unique
            (4, "m n o m n o"),        # repeated gram but only ONE doc
            (5, "zz"),                 # shorter than n
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in cross_doc_duplicated_spans(docs, n=3).collect()}
    # doc1: spans [2,4] and [3,5] union to positions 2..5 = 4 of 6 tokens
    assert (out[1].n_dup_positions, out[1].dup_token_fraction) == (4, 0.6667)
    assert (out[2].n_dup_positions, out[2].dup_token_fraction) == (4, 0.6667)
    assert out[3].n_dup_positions == 0 and out[3].dup_token_fraction == 0.0
    assert out[4].n_dup_positions == 0  # within-doc repetition is not cross-doc
    assert out[5].n_tokens == 1 and out[5].dup_token_fraction == 0.0


def test_dsir_importance_matches_pure_python_twin(spark):
    """DSIR log-weights pinned against an independent driver-side twin
    (same md5 bucketing, Laplace smoothing, micro-nat quantization), and
    the semantic sanity check: target-like docs outweigh off-target docs."""
    import hashlib
    import math
    import re

    from knowledge_graph_builder_spark.operators.curation import dsir_importance

    rows = [
        (1, "the cat sat on the mat with another cat"),
        (2, "cat and cat play with the mat"),
        (3, "stock markets fell sharply on tuesday amid rate fears"),
        (4, "quarterly earnings beat estimates across the board"),
        (5, "the cat watched the stock markets"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r.doc_id: (r.n_feats, r.log_weight)
        for r in dsir_importance(docs, F.col("doc_id") <= 2, n_buckets=64).collect()
    }

    # -- twin --
    def grams(t):
        w = [x for x in re.sub(r"\s+", " ", re.sub(r"[^a-z0-9\s]", " ", t.lower())).strip().split(" ") if x]
        return w + [" ".join(w[i : i + 2]) for i in range(len(w) - 1)]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % 64

    from collections import Counter

    q, p, per_doc = Counter(), Counter(), {}
    for doc_id, t in rows:
        c = Counter(bucket(g) for g in grams(t))
        per_doc[doc_id] = c
        q.update(c)
        if doc_id <= 2:
            p.update(c)
    q_tot, p_tot = sum(q.values()), sum(p.values())
    dm = {
        b: round(
            (math.log((p[b] + 1.0) / (p_tot + 64.0)) - math.log((q[b] + 1.0) / (q_tot + 64.0)))
            * 1e6
        )
        for b in q
    }
    expected = {
        d: (sum(c.values()), sum(n * dm[b] for b, n in c.items()) / 1e6)
        for d, c in per_doc.items()
    }
    assert out == expected
    # target-like docs score higher than off-target; the mixed doc lands between
    assert min(out[1][1], out[2][1]) > out[5][1] > max(out[3][1], out[4][1])


def test_embedding_gramian_matches_numpy_and_partitioning_invariant(spark):
    import numpy as np

    from knowledge_graph_builder_spark.operators.similarity import embedding_gramian_micro

    rng = [[(((i * 31 + j * 17) % 13) - 6) / 7.0 for j in range(8)] for i in range(40)]
    docs = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)], "vec_id int, embedding array<double>"
    )
    got = {(r.i, r.j): r.gram for r in embedding_gramian_micro(docs).collect()}
    V = np.asarray(rng)
    expected_micro = np.floor(np.einsum("ni,nj->nij", V, V) * 1e6).astype(np.int64).sum(axis=0)
    assert len(got) == 8 * 9 // 2
    for (i, j), g in got.items():
        assert j >= i
        assert g == expected_micro[i, j] / 1e6, (i, j)
    # exact partitioning invariance (integer partials)
    got7 = {(r.i, r.j): r.gram for r in embedding_gramian_micro(docs.repartition(7)).collect()}
    assert got7 == got


def test_pca_power_iteration_finds_dominant_direction(spark):
    from knowledge_graph_builder_spark.operators.similarity import (
        embedding_gramian_micro,
        pca_power_iteration,
    )

    # anisotropic cloud: variance 25x larger along axis 2 than others
    rows = []
    for k in range(60):
        base = [((k * 7 + d) % 5 - 2) / 10.0 for d in range(4)]
        base[2] = ((k % 11) - 5) * 1.0
        rows.append((k, base))
    docs = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    gram = [(r.i, r.j, r.gram) for r in embedding_gramian_micro(docs).collect()]
    v, lam = pca_power_iteration(gram, dim=4)
    assert lam > 0
    assert abs(v[2]) > 0.99  # dominant axis found
    assert abs(sum(x * x for x in v) - 1.0) < 1e-9
