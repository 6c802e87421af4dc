"""Entity canonicalization: MinHash/token blocking + connected-components
alias resolution (north_star; no reference counterpart — the reference's
only canonicalization is suffix-stripping + key dedup, SURVEY.md §2.9).

Pipeline:

1. blocking keys per name — two generators, unioned:
   * token blocking: each lowercased token of the name (cheap, high recall
     for multi-word names);
   * MinHash-LSH: character 3-gram shingles -> k hash functions ->
     min-hash signature -> banded keys; names sharing a band bucket are
     candidates.
2. candidate pairs = self-join within block, (a < b), deduped
   (``joins.block_pairs``). Block size is capped: ``joins.kept_blocks``
   drops blocks above `max_block` — the guard against quadratic blowup
   on stop-tokens at web scale. Hot keys are thereby bounded, so no
   block's pair fan-out can skew a task; recall for names sharing ONLY a
   hot token comes from the LSH bands instead.
3. verification: Jaccard over token sets >= threshold.
4. connected components over the verified pair graph — size-gated
   physical strategy: ONE ``limit(k+1).toArrow()`` fetch; if it holds at
   most k pairs, a driver-side union-find folds it one Arrow record batch
   at a time (driver memory: k+1 pairs as Arrow plus O(nodes) union-find
   state) and returns the components as an Arrow-backed local frame;
   else alternating large-star / small-star DataFrame joins (Kiveris et al.,
   "Connected Components in MapReduce and Beyond", SoCC'14) with
   localCheckpoint per iteration to cut lineage.
5. canonical_id = min member of each component.

All stages are shuffles on bounded keys; the iterative loop converges in
O(log n) rounds and is the only driver-controlled loop in the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .joins import block_pairs

N_MINHASH = 8
LSH_BANDS = 4  # rows per band = N_MINHASH / LSH_BANDS


def _canonical_sql(col: str) -> str:
    return f"lower(trim({col}))"


def _token_jaccard(a: str, b: str):
    """Jaccard over the token sets of name columns ``a`` and ``b``.

    NB: split leaves an empty token when the name ends in punctuation
    ("x inc." -> ["x","inc",""]); removing it matters — the phantom ""
    both inflates cross-name Jaccard (false merges) and deflates
    bare-vs-suffixed Jaccard (missed merges)."""
    ta, tb = (
        f"array_remove(array_distinct(split({_canonical_sql(c)}, '[^a-z0-9]+')), '')"
        for c in (a, b)
    )
    return F.expr(f"size(array_intersect({ta}, {tb})) / greatest(size(array_union({ta}, {tb})), 1)")


def blocking_keys(names: DataFrame, name_col: str = "name") -> DataFrame:
    """names -> (name, block_key). Token blocks + MinHash-LSH band blocks.

    The key expressions are Spark SQL text: a Column-DSL ``transform``
    lambda is built through one py4j call per expression node (about a
    thousand for the eight MinHash transforms); SQL text is parsed in the
    JVM, a few calls per projection."""
    base = names.select(F.col(name_col).alias("name")).distinct()
    canon = _canonical_sql("name")

    # array_distinct before explode: keys must be unique per (name, key)
    # so downstream block-size counts need no extra distinct shuffle
    tokens = (
        base.selectExpr("name", f"explode(array_distinct(split({canon}, '[^a-z0-9]+'))) AS tok")
        .filter("length(tok) >= 2")
        .selectExpr("name", "concat('tok:', tok) AS block_key")
    )

    # char 3-gram shingles via sequence+substring (no UDF)
    padded = f"concat('^', {canon}, '$')"
    shingled = base.selectExpr(
        "name",
        f"transform(sequence(1, greatest(length({padded}) - 2, 1)), i -> substr({padded}, i, 3)) AS shingles",
    )
    # minhash: for each of k seeds, min over shingles of xxhash64(shingle,
    # seed). The seed is an INT literal: xxhash64 hashes int and bigint
    # differently, so a bigint seed would change every key.
    sigs = shingled.selectExpr(
        "name",
        *[f"array_min(transform(shingles, s -> xxhash64(s, {seed}))) AS h{seed}" for seed in range(N_MINHASH)],
    )
    rows_per_band = N_MINHASH // LSH_BANDS
    band_keys = ", ".join(
        f"concat_ws(':', 'lsh{b}', "
        + ", ".join(f"cast(h{b * rows_per_band + r} AS string)" for r in range(rows_per_band))
        + ")"
        for b in range(LSH_BANDS)
    )
    lsh = sigs.selectExpr("name", f"explode(array({band_keys})) AS block_key")

    return tokens.unionByName(lsh)


def candidate_pairs(
    names: DataFrame,
    name_col: str = "name",
    max_block: int = 50,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """(a, b) verified alias-candidate pairs, a < b lexicographically."""
    keys = blocking_keys(names, name_col).persist()
    pairs = (
        block_pairs(keys, "block_key", "name", max_block)
        # Jaccard-verify BEFORE the distinct: the filter is cheap column
        # math evaluated per block-collision, and it shrinks the distinct's
        # shuffle (a pair surviving k shared blocks shuffles k rows either
        # way, but rejected pairs never reach the exchange at all)
        .filter(_token_jaccard("a", "b") >= jaccard_threshold)
        .select("a", "b")
        .distinct()
        # eager checkpoint so the keys cache can be released here rather
        # than leaking for the application lifetime (long-lived sessions
        # call this per micro-batch); downstream CC re-reads pairs many
        # times anyway, so materializing them is free in context
        .localCheckpoint()
    )
    keys.unpersist()
    return pairs


def _cc_driver(spark, pairs) -> DataFrame:
    """Driver-side union-find over the fetched (a, b) pair table — the
    small-graph physical strategy of ``connected_components``.
    Path-compressed, union-by-size; the component label is the MINIMUM
    member, identical to the distributed loop (parity pinned by test).

    ``pairs`` is a ``pyarrow.Table``, folded one record batch at a time:
    the driver holds the Arrow pairs, the O(nodes) union-find state and
    the Python values of ONE batch, never a Row per pair. The sorted
    (name, component) rows go back as an Arrow table typed like the
    fetched ids, which Spark plans as a ``LocalTableScan`` — no Python
    RDD, no Python-worker task."""
    import pyarrow as pa

    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    size: dict = {}
    nodes: set = set()
    for batch in pairs.to_batches():
        for ea, eb in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
            nodes.add(ea)
            nodes.add(eb)
            a, b = find(ea), find(eb)
            if a == b:
                continue
            if size.get(a, 1) < size.get(b, 1):
                a, b = b, a
            parent[b] = a
            size[a] = size.get(a, 1) + size.get(b, 1)
    members: dict = {}
    for n in nodes:
        members.setdefault(find(n), []).append(n)
    out = sorted((n, min(ms)) for ms in members.values() for n in ms)
    dtype = pairs.schema.field(0).type
    return spark.createDataFrame(
        pa.table(
            {
                "name": pa.array([n for n, _ in out], dtype),
                "component": pa.array([c for _, c in out], dtype),
            }
        )
    )


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
    # 200k pairs ≈ tens of MB of driver state: the fetched Arrow pairs
    # plus the union-find dicts (round-4 advice: the old 1M default meant
    # up to 1M collected Rows — hundreds of MB of per-Row overhead on a
    # default driver heap)
    small_graph_threshold: int = 200_000,
) -> DataFrame:
    """edges(a, b) -> (name, component) via alternating large-star /
    small-star until fixpoint. Components are identified by their
    lexicographically smallest member.

    Physical strategy is size-gated, the same engine-picks-the-plan
    pattern as ``bpe_train``/``bpe_apply``: ONE fetch,
    ``edges.select("a", "b").limit(k + 1).toArrow()``, both decides and
    serves. If it returns at most k rows it is the whole pair set, and a
    driver-side union-find resolves components from it in one pass — the
    iterative loop's per-round fixed cost (multiple exchanges + a
    convergence-signature job) dwarfs the data cost there. Driver memory
    is bounded by the threshold: at most k+1 pairs held as Arrow plus
    O(nodes) union-find state, converted to Python one record batch at a
    time. If it returns k+1 rows, the fetch is dropped and the
    distributed large-star/small-star loop runs, whose per-round cost
    scales with the data and whose round count is O(log n) — the only
    path that exists at web scale. Both produce byte-identical output
    (pinned by test); pass ``small_graph_threshold=0`` to force the
    distributed loop."""
    if small_graph_threshold:
        pairs = edges.select("a", "b").limit(small_graph_threshold + 1).toArrow()
        if pairs.num_rows <= small_graph_threshold:
            return _cc_driver(edges.sparkSession, pairs)
        del pairs

    # canonical undirected representation: (u, v) with v < u ("points at
    # the smaller endpoint"); self-loops dropped. Round-3 shipped a
    # variant that passed v<u edges through large-star unchanged — it
    # reaches a STABLE NON-STAR fixpoint on chains of diameter >= 4
    # (caught by the driver-union-find parity test), so each star step
    # below now follows the paper operator exactly.
    def _symmetrize(df: DataFrame) -> DataFrame:
        return df.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("uv")
        ).select("uv.u", "uv.v")

    e = (
        edges.filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        # lazy: materialized by the first iteration's first job instead of
        # an extra eager job here (edges is itself checkpointed upstream,
        # so the recompute window is one cheap projection)
        .localCheckpoint(eager=False)
    )
    prev_sig = None
    for _ in range(max_iterations):
        sym = _symmetrize(e)
        # large-star(u): m = min(Γ(u) ∪ {u}); re-point every STRICTLY
        # LARGER neighbor at m. Every undirected edge is processed at its
        # smaller endpoint, so the emissions alone carry the whole graph.
        nbr_min = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(nbr_min, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

        # small-star(u): m = min(Γ(u) ∪ {u}); point every neighbor <= u
        # AND u itself at m. Processed on the symmetrized large output;
        # no dedup between the steps — duplicates change no min() and the
        # end-of-round distinct collapses them.
        sym2 = _symmetrize(large).persist()
        nbr_min2 = sym2.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        small = (
            sym2.filter(F.col("v") < F.col("u"))
            .join(nbr_min2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(nbr_min2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            # ONE lineage-cutting checkpoint per round; LAZY so the
            # signature aggregate below materializes it — one job per
            # round, not two.
            .localCheckpoint(eager=False)
        )
        # converged when the edge set is stable across a full round.
        # (count, sum-of-hash) is an order-insensitive signature of the
        # deduped set — one aggregate job per round instead of a count
        # plus an exceptAll set-difference. This collect doubles as the
        # checkpoint-materializing action.
        row = small.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: ANSI mode would raise on long overflow
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        sig = (row["n"], row["h"])
        sym2.unpersist()
        e = small
        if sig == prev_sig:
            break
        prev_sig = sig
    # at the star-forest fixpoint every non-root points straight at its
    # component min; roots appear only on the v side — add their self-rows
    comp = e.groupBy("u").agg(F.min("v").alias("component"))
    roots = (
        e.select(F.col("v").alias("u"))
        .distinct()
        .join(comp.select("u"), "u", "left_anti")
        .select("u", F.col("u").alias("component"))
    )
    out = comp.unionByName(roots)
    # nodes whose ONLY edge was a self-loop were dropped by the canonical
    # orientation; they still exist and map to themselves (parity with the
    # driver union-find). Tiny frame: distinct self-loop endpoints not
    # already mapped.
    lonely = (
        edges.filter(F.col("a") == F.col("b"))
        .select(F.col("a").alias("u"))
        .distinct()
        .join(out.select("u"), "u", "left_anti")
        .select("u", F.col("u").alias("component"))
    )
    return out.unionByName(lonely).select(F.col("u").alias("name"), "component")


def canonicalize_nodes(nodes: DataFrame, max_block: int = 50, jaccard_threshold: float = 0.5) -> DataFrame:
    """nodes(name, ...) -> nodes + canonical_id column. Names with no
    verified alias keep themselves as canonical."""
    # no .distinct() here: blocking_keys dedupes names itself, and a second
    # pre-dedup would add a full exchange over the name set for nothing
    names = nodes.select("name")
    pairs = candidate_pairs(names, max_block=max_block, jaccard_threshold=jaccard_threshold)
    comp = connected_components(pairs)
    return (
        nodes.join(comp, "name", "left")
        .withColumn("canonical_id", F.coalesce(F.col("component"), F.col("name")))
        .drop("component")
    )


def rewrite_edges_canonical(edges: DataFrame, canonical: DataFrame) -> DataFrame:
    """Rewrite edge endpoints onto canonical ids (post-resolution graph)."""
    src_map = canonical.select(F.col("name").alias("src"), F.col("canonical_id").alias("src_canonical"))
    dst_map = canonical.select(F.col("name").alias("dst"), F.col("canonical_id").alias("dst_canonical"))
    return (
        edges.join(src_map, "src", "left")
        .join(dst_map, "dst", "left")
        .withColumn("src_canonical", F.coalesce("src_canonical", "src"))
        .withColumn("dst_canonical", F.coalesce("dst_canonical", "dst"))
    )


def canonicalize_incremental(
    existing: DataFrame,
    new_names: DataFrame,
    name_col: str = "name",
    max_block: int = 50,
    jaccard_threshold: float = 0.5,
    existing_keys: DataFrame | None = None,
) -> DataFrame:
    """Fold a batch of NEW names into an existing canonical mapping —
    the change-set-bounded twin of ``canonicalize_nodes`` (the same shape
    ``plans/incremental.py`` gives extraction): only components touched
    by the batch are re-resolved; untouched mapping rows pass through.

    ``existing``: (name, canonical_id) — the current mapping (as produced
    by ``canonicalize_nodes``). ``new_names``: the batch.

    Correctness: replacing an already-resolved subgraph by its
    equivalence edges (name -> canonical_id) preserves connected
    components, so CC over (new verified pairs ∪ affected components'
    equivalence edges) equals the full recompute on the union name set —
    pinned by test. One caveat, documented rather than hidden: a block
    that crosses ``max_block`` only via the new batch would be dropped
    entirely by a full recompute, while the incremental path keeps the
    component the old names already formed. Incremental resolution is
    therefore MONOTONE (it never un-merges), which matches the MERGE
    semantics of the store it feeds.

    Cost: candidate generation touches only blocks containing a new name
    (the old side is block-semi-joined before any pairing); the CC loop
    runs on new pairs plus the member edges of AFFECTED components only.
    Pass ``existing_keys`` (a persisted (name, block_key) table) to avoid
    recomputing old names' blocking keys per batch — at 10^12 names that
    table is the thing a production deployment maintains incrementally.
    """
    old_names = existing.select(F.col(name_col).alias("name"))
    new = (
        new_names.select(F.col(name_col).alias("name"))
        .distinct()
        .join(old_names, "name", "left_anti")
        .localCheckpoint()
    )

    keys_new = blocking_keys(new)
    keys_old = existing_keys or blocking_keys(old_names)
    touched = keys_new.select("block_key").distinct()
    keys_in_play = keys_new.unionByName(keys_old.join(touched, "block_key"))

    pairs = (
        block_pairs(keys_in_play, "block_key", "name", max_block, probe=keys_new)
        .filter(_token_jaccard("a", "b") >= jaccard_threshold)
        .select("a", "b")
        .distinct()
        .localCheckpoint()
    )

    # affected components: any component owning a member of a new pair
    members = pairs.select(F.col("a").alias("name")).unionByName(
        pairs.select(F.col("b").alias("name"))
    ).distinct()
    affected_canon = (
        existing.join(members, existing[name_col] == members["name"], "left_semi")
        .select("canonical_id")
        .distinct()
    )
    affected = existing.join(affected_canon, "canonical_id").select(
        F.col(name_col).alias("name"), "canonical_id"
    ).localCheckpoint()

    cc_edges = pairs.unionByName(
        affected.select(F.col("name").alias("a"), F.col("canonical_id").alias("b"))
    )
    comp = connected_components(cc_edges).withColumnRenamed("component", "canonical_id")

    untouched = existing.select(F.col(name_col).alias("name"), "canonical_id").join(
        affected.select("name"), "name", "left_anti"
    )
    resolved_names = comp.select("name")
    new_singletons = new.join(resolved_names, "name", "left_anti").select(
        "name", F.col("name").alias("canonical_id")
    )
    return untouched.unionByName(comp).unionByName(new_singletons)
