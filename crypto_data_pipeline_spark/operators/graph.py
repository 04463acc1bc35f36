"""Connected components over a pair/edge DataFrame — the step that
turns pairwise near-duplicate output (dedup.py's minhash / simhash /
n-gram Jaccard pairs) into transitive DEDUP CLUSTERS, so "keep one doc
per cluster" is a groupBy away. The reference has no graph operators
(its dedup is the UNIQUE-key upsert of sql/create_tables.sql:11,27);
this is part of the training-data extension surface.

Algorithm: iterative min-label propagation. Every vertex starts
labeled with itself; each round every vertex takes the min of its own
and its neighbors' labels; at the fixpoint every vertex holds the min vertex id
of its component. Spark shape per round: one equi-join of the
(symmetrized) edge list against the label table plus one groupBy-min —
both shuffle on vertex id, so AQE reuses the same hash partitioning
round to round. Rounds needed = graph diameter, and near-dup clusters
are dense blobs with tiny diameter (2-4), so the loop runs ~3 joins in
practice. ``localCheckpoint`` truncates the lineage each round —
without it the plan doubles every iteration and the driver, not the
data, becomes the bottleneck. For adversarial long-chain graphs at
scale, the alternating small-star/large-star formulation (Kiveris et
al., "Connected Components in MapReduce") converges in O(log d)
rounds; min-label is the right default for dedup-shaped graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from crypto_data_pipeline_spark.sources.tables import release_checkpoint


def connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = 25
) -> DataFrame:
    """(src, dst) undirected edge pairs → (v, component) where
    ``component`` is the minimum vertex id of v's connected component.
    Vertices are those appearing in at least one edge; isolated rows
    never enter the edge list, so attach them afterward if needed.

    Converges when a full round changes no label. Each round runs
    exactly ONE job: the new label table is marked for a lazy
    ``localCheckpoint`` and the changed-label count is aggregated over
    it — that single action both materializes the checkpoint and
    returns the convergence scalar. Each superseded label checkpoint is
    released at once, and the edge checkpoint on every exit; the result
    reads only the final labels. Raises if ``max_iter`` rounds aren't
    enough, rather than silently returning half-merged clusters, and
    then releases the last labels too.

    Symmetrization is ONE explode over the edge list, not a
    two-branch union: Catalyst does not share subtrees across union
    branches, so `select(s,d) UNION select(d,s)` would evaluate the
    caller's ENTIRE upstream pair-generation pipeline twice per call — for
    dedup_clusters that pipeline (PPJoin prefix-filter candidate
    generation + exact Jaccard verification) is ~95% of the query's
    CPU. The explode form scans the edge DAG once.
    """
    pair = F.array(
        F.struct(F.col(src).alias("s"), F.col(dst).alias("d")),
        F.struct(F.col(dst).alias("s"), F.col(src).alias("d")),
    )
    sym = (
        edges.select(F.explode(pair).alias("p"))
        .select("p.s", "p.d")
        .distinct()
        .localCheckpoint()
    )
    labels = sym.select(F.col("s").alias("v")).distinct().withColumn("lbl", F.col("v"))

    prev = None
    try:
        for _ in range(max_iter):
            msgs = sym.join(labels, sym.s == labels.v).select(
                F.col("d").alias("v"), F.col("lbl"), F.lit(None).cast("long").alias("old")
            )
            mine = labels.select("v", "lbl", F.col("lbl").alias("old"))
            # min(old) recovers each vertex's previous label (msgs carry
            # null old); lbl < old marks a change — no second join needed.
            cp = (
                mine.unionByName(msgs)
                .groupBy("v")
                .agg(F.min("lbl").alias("lbl"), F.min("old").alias("old"))
                .withColumn("chg", (F.col("lbl") < F.col("old")).cast("long"))
                .localCheckpoint(eager=False)
            )
            # sum() over an empty label table is NULL — an empty edge set
            # is already converged, not a 25-round timeout
            n_changed = cp.agg(F.sum("chg")).collect()[0][0] or 0
            if prev is not None:  # the new labels are materialized
                release_checkpoint(prev)
            prev, labels = cp, cp.select("v", "lbl")
            if n_changed == 0:
                prev = None  # the result reads these labels
                return labels.select("v", F.col("lbl").alias("component"))
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    finally:
        release_checkpoint(sym)
        if prev is not None:
            release_checkpoint(prev)


def connected_components_star(
    edges: DataFrame, src: str, dst: str, max_iter: int = 40
) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm): converges in O(log n) rounds on ANY
    graph, where min-label propagation needs O(diameter) rounds and
    loses on adversarial long-chain graphs. Same contract as
    ``connected_components``: (v, component=min vertex id).

    Per round: large-star hangs every larger neighbor of u onto
    min(N(u) ∪ {u}); small-star re-hangs u and its smaller neighbors
    onto their minimum. Each is a groupBy-min plus an equi-join on the
    grouping key — AQE reuses the hash partitioning between the two
    halves, and the edge list SHRINKS toward the star fixpoint (every
    node → its component min), unlike min-label whose label table stays
    full-size every round. One job per round (lazy checkpoint + the
    convergence signature in a single action), detected via an
    order-independent xxhash64 set signature of the edge list.
    """
    # ONE evaluation of the caller's edge pipeline (round 14, guide
    # §2.4): verts' two-branch union and e each re-ran the upstream
    # pair-generation DAG — three full evaluations per call. e0
    # checkpoints the pair list once; verts and e are cheap scans of it.
    e0 = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).localCheckpoint()
    verts = (
        e0.select(F.explode(F.array("u", "v")).alias("v"))
        .distinct()
        .localCheckpoint()
    )
    e = (
        e0.where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    prev_sig = None
    for _ in range(max_iter):
        # large-star: m(u) = min(N(u) ∪ {u}); hang each v > u onto m(u)
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least(F.col("_mn"), F.col("u")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on the (big → small) edges: re-hang u and its
        # smaller neighbors onto min(N<(u) ∪ {u})
        d = large.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        mins2 = d.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            d.join(mins2, "u")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                        F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                    )
                ).alias("p")
            )
            .select(F.col("p.a").alias("u"), F.col("p.b").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),  # no-overflow set signature
        ).collect()[0]
        if prev_sig == (sig["n"], sig["h"]):
            # fixpoint: every edge is (node, component-min)
            comp = e.groupBy(F.col("u").alias("v")).agg(F.min("v").alias("component"))
            return (
                verts.join(comp, "v", "left")
                .select("v", F.coalesce("component", F.col("v")).alias("component"))
            )
        prev_sig = (sig["n"], sig["h"])
    raise RuntimeError(f"connected_components_star did not converge in {max_iter} rounds")


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 0,
) -> DataFrame:
    """Fixed-iteration PageRank over a SYMMETRIC edge list (callers
    pass both directions of an undirected graph — which also means
    every node has out-degree >= 1, so there is no dangling-mass
    correction and the whole loop stays one declarative DAG with a
    single action at the end; no per-iteration driver round-trips,
    unlike the convergence-checked CC above).

    Per iteration: one join edges->ranks on src (co-partitioned with
    the degree join) and one groupBy on dst — two key Exchanges per
    iteration, rank/degree frames are node-sized (<< edges). At real
    scale pass ``checkpoint_every`` to cut the growing lineage with a
    localCheckpoint every k iterations; the node count is the one
    driver scalar (documented, like the CC convergence scalar).

    Differentially testable: with portable edges, fixed iterations and
    double arithmetic, DuckDB reproduces ranks to well inside 6 dp
    (PageRank is a contraction — per-iteration last-ulp sum-order
    noise decays rather than compounds)."""
    # edges (and its whole upstream lineage — often an expensive
    # candidate-generation pipeline) is consumed 2x per iteration;
    # without a persist every iteration of the unrolled DAG re-runs
    # it from the scan. nodes/deg likewise are loop-invariant.
    edges = edges.persist()
    nodes = edges.select(F.col(src).alias("id")).distinct().persist()
    n = nodes.count()
    if n == 0:
        # the empty path must release the two persists already taken
        # (deg doesn't exist yet) or every empty-graph call leaks them
        nodes.unpersist()
        edges.unpersist()
        return edges.sparkSession.createDataFrame([], "id long, rank double")
    deg = edges.groupBy(src).agg(F.count(F.lit(1)).cast("double").alias("deg")).persist()
    ranks = nodes.select("id", F.lit(1.0 / n).alias("rank"))
    base = F.lit((1.0 - damping) / n)
    for i in range(iters):
        j = edges.join(ranks.withColumnRenamed("id", src), src).join(deg, src)
        contribs = j.groupBy(F.col(dst).alias("id")).agg(
            F.sum(F.col("rank") / F.col("deg")).alias("s")
        )
        ranks = nodes.join(contribs, "id", "left").select(
            "id",
            (base + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))).alias("rank"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=False)
    # materialize the final ranks, then RELEASE the loop-invariant
    # caches — without this every pagerank call leaks three persisted
    # frames (including the whole upstream edge pipeline) into executor
    # storage for the session's lifetime
    ranks = ranks.localCheckpoint(eager=True)
    deg.unpersist()
    nodes.unpersist()
    edges.unpersist()
    return ranks


def triangle_count(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Exact triangle count over an undirected edge list — the cluster
    cohesion diagnostic for near-dup graphs (a clique-ish component is
    one duplicated document; a chain of borderline pairs is not).

    Algorithm: degree-ordered orientation (Suri & Vassilvitskii 2011,
    "Counting Triangles and the Curse of the Last Reducer"): orient
    every edge from the (degree, id)-smaller endpoint to the larger,
    build wedges only from each vertex's OUT-neighbors, and close them
    against the oriented edge set. Each triangle is produced exactly
    once (its ordering has one source), and — the scale point — a
    vertex's out-degree under this orientation is O(sqrt(m)) no matter
    how big its raw degree, so a celebrity node cannot melt one
    reducer. Three key-local shuffles (degrees, wedge self-join on the
    pivot, closing join on the edge), nothing quadratic in degree.

    Returns one row: (n_triangles, vertex_id_sum) where vertex_id_sum
    = sum over triangles of (a+b+c) — pins exact membership, not just
    the count."""
    a, bcol = F.col(src), F.col(dst)
    # the canonical edge list feeds degrees, the orientation join and
    # the closing join — localCheckpoint so the caller's pair pipeline
    # runs once per call, not once per consumer (round 14, guide §2.4)
    e = (
        edges.select(F.least(a, bcol).alias("a"), F.greatest(a, bcol).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = (
        e.join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = x.join(y, F.col("x.u") == F.col("y.u")).where(
        (F.col("x.dv") < F.col("y.dv"))
        | ((F.col("x.dv") == F.col("y.dv")) & (F.col("x.v") < F.col("y.v")))
    ).select(
        F.col("x.u").alias("w_u"), F.col("x.v").alias("w_v"), F.col("y.v").alias("w_w")
    )
    closing = oriented.select(F.col("u").alias("w_v"), F.col("v").alias("w_w"))
    tri = wedges.join(closing, ["w_v", "w_w"], "left_semi")
    return tri.agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles"),
        F.coalesce(
            F.sum(F.col("w_u") + F.col("w_v") + F.col("w_w")), F.lit(0)
        ).cast("long").alias("vertex_id_sum"),
    )
