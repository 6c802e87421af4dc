"""Canonicalization: blocking -> verified pairs -> connected components.
Aliases that share enough tokens/shingles collapse to one canonical id;
unrelated names keep themselves; edges rewrite onto canonical endpoints."""

from __future__ import annotations

from pyspark.sql import functions as F

from knowledge_graph_builder_spark.operators.canonicalize import (
    canonicalize_nodes,
    connected_components,
    rewrite_edges_canonical,
)


def test_alias_groups_collapse(spark):
    names = [
        ("Apple",), ("Apple Inc",), ("Apple Incorporated",),
        ("Microsoft",), ("Microsoft Corp",),
        ("Tim Cook",),
    ]
    nodes = spark.createDataFrame(names, ["name"])
    out = canonicalize_nodes(nodes, jaccard_threshold=0.3)
    by_name = {r["name"]: r["canonical_id"] for r in out.collect()}
    # the three Apple forms share the 'apple' token -> one component
    assert by_name["Apple"] == by_name["Apple Inc"] == by_name["Apple Incorporated"]
    assert by_name["Microsoft"] == by_name["Microsoft Corp"]
    assert by_name["Apple"] != by_name["Microsoft"]
    assert by_name["Tim Cook"] == "Tim Cook"  # no alias -> self


def test_trailing_punct_token_hygiene(spark):
    """Names ending in punctuation must not grow a phantom '' token: it
    would both falsely merge 'X Inc.' with 'Y Inc.' (shared {inc, ''})
    and miss the true 'X' ~ 'X Inc.' merge."""
    nodes = spark.createDataFrame(
        [("aaa111",), ("aaa111 Inc.",), ("bbb222",), ("bbb222 Inc.",)], ["name"]
    )
    out = {r["name"]: r["canonical_id"] for r in canonicalize_nodes(nodes).collect()}
    assert out["aaa111"] == out["aaa111 Inc."]
    assert out["bbb222"] == out["bbb222 Inc."]
    assert out["aaa111"] != out["bbb222"]


def test_connected_components_chain(spark):
    # a-b, b-c, d-e: two components despite no direct a-c edge
    edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("d", "e")], ["a", "b"])
    comp = {r["name"]: r["component"] for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["d"] == comp["e"] == "d"


def test_connected_components_driver_distributed_parity(spark):
    """The size-gated driver union-find and the large-star/small-star
    loop must produce identical (name, component) sets — exercised on a
    graph with a long chain (loop-stress), a star, duplicate and
    self-referential edges, and both orientations."""
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)]  # chain n00..n12
        + [("hub", m) for m in ("s1", "s2", "s3")]  # star
        + [("s2", "hub"), ("hub", "s1"), ("zz", "zz")],  # dupes + self-loop
        ["a", "b"],
    )
    fast = {(r["name"], r["component"]) for r in connected_components(edges).collect()}
    slow = {
        (r["name"], r["component"])
        for r in connected_components(edges, small_graph_threshold=0).collect()
    }
    assert fast == slow
    comp = dict(fast)
    assert all(comp[f"n{i:02d}"] == "n00" for i in range(13))
    assert comp["hub"] == comp["s1"] == comp["s2"] == comp["s3"] == "hub"
    assert comp["zz"] == "zz"


def test_connected_components_random_graph_property(spark):
    """Property pin for the rewritten alternating loop: on seeded random
    graphs (mixed chain/star/random-attachment edges) the distributed
    loop must equal the driver union-find exactly."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edge_list = []
        for i in range(n):
            if rng.random() < 0.7:
                edge_list.append((f"v{i:03d}", f"v{rng.randrange(n):03d}"))
        # plus one long chain to stress round count
        edge_list += [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(15)]
        edges = spark.createDataFrame(edge_list, ["a", "b"])
        fast = {
            (r["name"], r["component"]) for r in connected_components(edges).collect()
        }
        slow = {
            (r["name"], r["component"])
            for r in connected_components(edges, small_graph_threshold=0).collect()
        }
        assert fast == slow, f"trial {trial}"


def test_connected_components_distributed_deep_chain(spark):
    """The distributed loop must fully converge on a 40-node chain —
    the exact shape the round-3 variant silently mis-resolved (it
    reached a stable non-star fixpoint and mapped nodes two hops up
    instead of to the component minimum)."""
    edges = spark.createDataFrame(
        [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(40)], ["a", "b"]
    )
    comp = {
        r["name"]: r["component"]
        for r in connected_components(edges, small_graph_threshold=0).collect()
    }
    assert comp == {f"c{i:02d}": "c00" for i in range(41)}


def test_connected_components_gate_respects_threshold(spark):
    """Above the threshold the distributed loop runs (observable as a
    multi-job group); the probe itself never full-counts a big input."""
    edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("d", "e")], ["a", "b"])
    # threshold 2 < 3 edges -> distributed loop; result unchanged
    comp = {
        r["name"]: r["component"]
        for r in connected_components(edges, small_graph_threshold=2).collect()
    }
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def test_connected_components_nonstring_ids(spark):
    """dedup_clusters runs CC over doc ids that may be integers — the
    driver path must preserve the id type."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (9, 10)], "a long, b long")
    comp = {r["name"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 9: 9, 10: 9}
    assert connected_components(edges).schema["component"].dataType.typeName() == "long"


def test_rewrite_edges(spark):
    canonical = spark.createDataFrame(
        [("Apple Inc", "Apple"), ("Apple", "Apple"), ("MSFT", "MSFT")],
        ["name", "canonical_id"],
    )
    edges = spark.createDataFrame([("Apple Inc", "MSFT")], ["src", "dst"])
    out = rewrite_edges_canonical(edges, canonical).collect()[0]
    assert out["src_canonical"] == "Apple" and out["dst_canonical"] == "MSFT"


def test_entity_link_scoring(spark):
    from knowledge_graph_builder_spark.operators.linking import link_mentions

    mentions = spark.createDataFrame(
        [("Apple Inc.",), ("apple",), ("the iPhone",), ("Microsft Corp",), ("Banana",)],
        ["mention"],
    )
    entities = spark.createDataFrame(
        [("Apple",), ("iPhone",), ("Microsoft",)], ["name"]
    )
    links = {r["mention"]: (r["entity"], r["link_score"]) for r in link_mentions(mentions, entities).collect()}
    assert links["Apple Inc."][0] == "Apple"
    assert links["apple"][0] == "Apple" and links["apple"][1] == 1.0  # exact
    assert links["the iPhone"][0] == "iPhone"
    # typo'd org shares no token with any entity -> unlinked; unrelated too
    assert "Microsft Corp" not in links and "Banana" not in links


def test_canonicalize_incremental_equals_full(spark):
    """Folding a batch into an existing mapping must equal the full
    recompute over the union name set — including the hard case where a
    new name BRIDGES two previously separate components (jac('red blue',
    'blue green') = 1/3 < 0.5, but the new 'Red Blue Green' verifies
    against both at 2/3)."""
    from knowledge_graph_builder_spark.operators.canonicalize import (
        canonicalize_incremental,
        canonicalize_nodes,
    )

    def mapping(df):
        return {r.name: r.canonical_id for r in df.collect()}

    batch1 = spark.createDataFrame(
        [("Acme",), ("Acme Inc.",), ("Red Blue",), ("Blue Green",), ("Solo Name",)],
        "name string",
    )
    batch2 = spark.createDataFrame(
        [("Acme Corporation Inc",), ("Red Blue Green",), ("Fresh Unique",)],
        "name string",
    )
    m1 = mapping(canonicalize_nodes(batch1).select("name", "canonical_id"))
    existing = spark.createDataFrame(list(m1.items()), "name string, canonical_id string")

    inc = mapping(canonicalize_incremental(existing, batch2))
    full = mapping(
        canonicalize_nodes(batch1.unionByName(batch2)).select("name", "canonical_id")
    )
    assert inc == full
    # the bridge actually merged the two old components
    assert inc["Red Blue"] == inc["Blue Green"] == inc["Red Blue Green"]
    # untouched mapping rows pass through unchanged
    assert inc["Solo Name"] == m1["Solo Name"]

    # re-delivering already-mapped names is a no-op
    again = mapping(canonicalize_incremental(
        spark.createDataFrame(list(inc.items()), "name string, canonical_id string"),
        batch2,
    ))
    assert again == inc

    # empty batch passes the mapping through
    empty = spark.createDataFrame([], "name string")
    assert mapping(canonicalize_incremental(existing, empty)) == m1


def test_canonicalize_incremental_random_property(spark):
    """Seeded-random property pin: for names drawn from a small token
    vocabulary (lots of shared-token merges, occasional multi-hop
    bridges), incremental(batch1-mapping, batch2) must equal the full
    recompute over batch1 ∪ batch2. max_block is left high so the
    documented monotonicity caveat (blocks crossing the cap only via the
    new batch) cannot engage."""
    import random

    from knowledge_graph_builder_spark.operators.canonicalize import (
        canonicalize_incremental,
        canonicalize_nodes,
    )

    vocab = ["alpha", "beta", "gamma", "delta", "omega", "kappa"]
    rng = random.Random(11)

    def rand_names(n):
        out = set()
        while len(out) < n:
            k = rng.randint(1, 3)
            out.add(" ".join(rng.sample(vocab, k)).title())
        return sorted(out)

    names1, names2 = rand_names(14), rand_names(10)
    b1 = spark.createDataFrame([(n,) for n in names1], "name string")
    b2 = spark.createDataFrame([(n,) for n in names2], "name string")

    def mapping(df):
        return {r.name: r.canonical_id for r in df.collect()}

    existing = spark.createDataFrame(
        list(mapping(canonicalize_nodes(b1, max_block=500).select("name", "canonical_id")).items()),
        "name string, canonical_id string",
    )
    inc = mapping(canonicalize_incremental(existing, b2, max_block=500))
    full = mapping(
        canonicalize_nodes(b1.unionByName(b2), max_block=500).select("name", "canonical_id")
    )
    assert inc == full


# -- the Column-DSL formulation of blocking keys and pair verification,
# kept as the oracle of the SQL-text expressions the operator now builds
def _dsl_blocking_keys(names, name_col="name"):
    from knowledge_graph_builder_spark.operators.canonicalize import LSH_BANDS, N_MINHASH

    base = names.select(F.col(name_col).alias("name")).distinct()
    canon = F.lower(F.trim(F.col("name")))
    tokens = base.select(
        "name", F.explode(F.array_distinct(F.split(canon, r"[^a-z0-9]+"))).alias("tok")
    ).filter(F.length("tok") >= 2).select(
        "name", F.concat(F.lit("tok:"), F.col("tok")).alias("block_key")
    )
    padded = F.concat(F.lit("^"), canon, F.lit("$"))
    shingled = base.select(
        "name",
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(padded) - 2, F.lit(1))),
            lambda i: padded.substr(i, F.lit(3)),
        ).alias("shingles"),
    )
    sig_cols = [
        F.array_min(F.transform("shingles", lambda s: F.xxhash64(s, F.lit(seed)))).alias(f"h{seed}")
        for seed in range(N_MINHASH)
    ]
    sigs = shingled.select("name", *sig_cols)
    rows_per_band = N_MINHASH // LSH_BANDS
    band_keys = []
    for b in range(LSH_BANDS):
        parts = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_keys.append(
            F.concat_ws(":", F.lit(f"lsh{b}"), *[p.cast("string") for p in parts]).alias(f"bk{b}")
        )
    lsh = sigs.select("name", F.explode(F.array(*band_keys)).alias("block_key"))
    return tokens.unionByName(lsh)


def _dsl_candidate_pairs(names, max_block=50, jaccard_threshold=0.5):
    keys = _dsl_blocking_keys(names)
    ok_blocks = (
        keys.groupBy("block_key")
        .agg(F.count("*").alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= max_block))
        .select("block_key")
    )
    bounded = keys.join(ok_blocks, "block_key")
    tok = lambda c: F.array_remove(F.array_distinct(F.split(F.lower(F.trim(c)), r"[^a-z0-9]+")), "")
    a_t, b_t = tok(F.col("a")), tok(F.col("b"))
    jac = F.size(F.array_intersect(a_t, b_t)) / F.greatest(F.size(F.array_union(a_t, b_t)), F.lit(1))
    return (
        bounded.select("block_key", F.col("name").alias("a"))
        .join(bounded.select("block_key", F.col("name").alias("b")), "block_key")
        .filter(F.col("a") < F.col("b"))
        .filter(jac >= jaccard_threshold)
        .select("a", "b")
        .distinct()
    )


def _alias_names_frame(spark):
    """~2k generated alias names (base x suffix variants) plus the edge
    cases of the key expressions, as an Arrow-backed frame."""
    import random

    import pyarrow as pa

    rng = random.Random(7)
    letters = "abcdefghijklmnopqrstuvwxyzéøß"
    bases = {
        " ".join(
            "".join(rng.choice(letters) for _ in range(rng.randint(2, 9)))
            for _ in range(rng.randint(1, 3))
        ).title()
        for _ in range(260)
    }
    suffixes = ["", " Inc", " Inc.", " Corp", ", LLC", " Group", " & Co", " Holdings"]
    names = [b + s for b in sorted(bases) for s in suffixes]
    names += [
        "", " ", "   ", "\t\n", "a", "Z", "x inc.", "acme!!", "acme.", "ACME",
        "Zoë Ćorp", "日本語 株式会社", "Ünïcödé Name", "a" * 300, ("ab " * 100).strip(), None,
    ]
    return spark.createDataFrame(pa.table({"name": pa.array(names, pa.string())}))


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.fillna("<null>").collect())


def test_blocking_keys_and_pairs_match_column_dsl(spark):
    """The SQL-text key and Jaccard expressions must produce exactly the
    keys and verified pairs of the Column-DSL formulation they replaced —
    on generated aliases and on empty, whitespace-only, one-char,
    trailing-punctuation, non-ASCII, 300-char and NULL names. xxhash64
    hashes an int and a bigint seed differently, so a seed literal of
    another type changes every LSH key and fails here."""
    from knowledge_graph_builder_spark.operators.canonicalize import (
        blocking_keys,
        candidate_pairs,
    )

    names = _alias_names_frame(spark).cache()
    try:
        keys = _sorted_rows(blocking_keys(names))
        assert keys == _sorted_rows(_dsl_blocking_keys(names))
        assert sum(k.startswith("lsh") for _, k in keys) > 8_000
        pairs = _sorted_rows(candidate_pairs(names))
        assert pairs == _sorted_rows(_dsl_candidate_pairs(names))
        assert len(pairs) > 1_000
        low = _sorted_rows(candidate_pairs(names, max_block=500, jaccard_threshold=0.2))
        assert low == _sorted_rows(_dsl_candidate_pairs(names, 500, 0.2))
    finally:
        names.unpersist()


def test_small_graph_components_one_job_no_python_rdd(spark):
    """The small-graph CC path is ONE Spark job (the limit(k+1).toArrow()
    fetch) and returns its components as a LocalTableScan — no Python
    RDD, so no Python-worker task when the result is read."""
    import pyarrow as pa

    edges = spark.createDataFrame(
        pa.table({"a": ["a", "b", "d", "x"], "b": ["b", "c", "e", "x"]})
    )
    sc = spark.sparkContext
    sc.setJobGroup("cc-small-graph", "job count")
    try:
        comp = connected_components(edges)
        jobs = sc.statusTracker().getJobIdsForGroup("cc-small-graph")
    finally:
        sc.setJobGroup("", "")
    assert len(jobs) == 1, f"expected one fetch job, saw {len(jobs)}"
    plan = comp._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert {(r["name"], r["component"]) for r in comp.collect()} == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"), ("x", "x")
    }

    nodes = spark.createDataFrame(pa.table({"name": ["Apple", "Apple Inc", "Tim Cook"]}))
    canon = canonicalize_nodes(nodes)
    plan = canon._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert {r["name"]: r["canonical_id"] for r in canon.collect()} == {
        "Apple": "Apple", "Apple Inc": "Apple", "Tim Cook": "Tim Cook"
    }
