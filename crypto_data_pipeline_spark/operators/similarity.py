"""Similarity search over the `embeddings` table (north star ops).

Two paths:
  * brute-force cosine top-k — the exactness baseline. The (small)
    query set broadcasts against the corpus; the score is a zip_with
    dot product in double precision, fully inside codegen.
  * multi-table random-hyperplane LSH — the scale path: L independent
    b-bit sign hashes; a candidate collides in ANY table, which
    restores the recall a single table loses. At 100 TB the bucket key
    is also the storage partition key, so a query prunes to L
    partitions instead of scanning the corpus.
"""

from __future__ import annotations

import functools
import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F


def _fold_sum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)


def dot(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(a, b, lambda x, y: x * y))


def norm(a: Column) -> Column:
    return F.sqrt(_fold_sum(F.transform(a, lambda x: x * x)))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity in double precision (cast float arrays before
    calling for engine-portable results)."""
    return dot(a, b) / (norm(a) * norm(b))


def as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is broadcast (it is the small side by construction),
    so the corpus never shuffles; ranking is a per-query window over
    the scored rows. Scores are rounded to 6 dp *before* ranking with
    an id tiebreak, making the result deterministic and engine-portable.

    ``exclude_self`` assumes query ids share the corpus id namespace
    (queries drawn from the corpus, as in the registered queries); pass
    False when query ids are a separate namespace, else an unrelated
    corpus vector whose id collides with a query id would be dropped.
    """
    from pyspark.sql import Window

    # norms are hoisted to per-ROW columns before the crossJoin — the
    # per-pair expression would otherwise recompute each side's norm
    # once per (query, corpus) pair, k|Q|× redundant work. Same
    # expression tree per value, so results are bit-identical to the
    # inline cosine() and the DuckDB oracle.
    q = queries.select(
        F.col(query_id_col), as_double(vec_col).alias("_qv")
    ).withColumn("_qn", norm(F.col("_qv")))
    c = corpus.select(F.col(id_col), as_double(vec_col).alias("_cv")).withColumn(
        "_cn", norm(F.col("_cv"))
    )
    scored = c.crossJoin(F.broadcast(q))
    if exclude_self:
        scored = scored.where(F.col(query_id_col) != F.col(id_col))
    scored = scored.withColumn(
        "cosine",
        F.round(dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 6),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def brute_force_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
    partition_margin: int = 8,
) -> DataFrame:
    """Exact top-k cosine neighbors — the PARTITION-LOCAL-TOPK
    formulation that scales where the crossJoin+window baseline stops:
    each corpus partition scores its rows against the (driver-resident,
    FAISS-`search(qs)`-style small) query batch with one numpy matmul
    inside mapInPandas, emits only its local top-(k+margin) per query,
    and a final JVM stage rounds + ranks the tiny
    (n_partitions × |Q| × (k+margin)) candidate set. Nothing the size
    of |corpus|×|Q| is ever materialized or shuffled — at 100 TB the
    shuffle carries kilobytes, not the scored corpus.

    The query batch is the ONLY driver-side collect (it is small by the
    operator's contract — the corpus side streams through Arrow).
    Scores are rounded 6 dp in the JVM before ranking, so the output is
    bit-compatible with brute_force_topk and its DuckDB oracle (numpy's
    matmul dot differs from the JVM fold by ≲1e-15, far inside the
    rounding margin). Local selection is TIE-INCLUSIVE, not a fixed
    slice: a partition ships every row whose raw score is within 2e-6
    of its local k-th best. Any locally dropped row x then satisfies
    x < kth_raw - 2e-6, which forces round6(x) < round6(kth_raw)
    (6-dp roundings are 1e-6 apart at minimum), so x loses the global
    (rounded desc, id asc) ranking to ≥k rows from its own partition —
    exact equality with the crossJoin baseline is guaranteed, not
    probabilistic, even when many rows share a rounded score.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    q_rows = queries.select(query_id_col, vec_col).collect()
    if not q_rows:
        # empty query batch: numpy's (0,)-shaped matmul would crash;
        # the answer is simply the empty result frame
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id_col} long, {id_col} long, cosine double, rank int"
        )
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.array([[float(x) for x in r[1]] for r in q_rows], dtype=np.float64)
    qn = np.sqrt((qm * qm).sum(axis=1))
    bc = corpus.sparkSession.sparkContext.broadcast((qids, qm, qn))
    take = k + partition_margin

    partial_schema = (
        f"{query_id_col} long, {id_col} long, _raw double"
    )

    def local_topk(it):
        b_qids, b_qm, b_qn = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cm = np.array([[float(x) for x in v] for v in pdf[vec_col]], dtype=np.float64)
            cn = np.sqrt((cm * cm).sum(axis=1))
            sims = (cm @ b_qm.T) / np.outer(cn, b_qn)  # (N, Q)
            out_q, out_i, out_s = [], [], []
            for j in range(len(b_qids)):
                col = sims[:, j]
                mask = ids != b_qids[j] if exclude_self else np.ones(len(ids), bool)
                cand = np.flatnonzero(mask)
                if len(cand) == 0:
                    continue
                # (score desc, id asc) order: lexsort is ascending
                order = cand[np.lexsort((ids[cand], -col[cand]))]
                if len(order) > take:
                    # tie-inclusive cutoff at the local k-th best raw
                    # score: 2e-6 dominates both the 6-dp rounding
                    # quantum (1e-6) and numpy-vs-JVM noise (~1e-15)
                    kth = col[order[min(k, len(order)) - 1]]
                    n_keep = int(np.count_nonzero(col[order] >= kth - 2e-6))
                    order = order[: max(take, n_keep)]
                out_q.extend([int(b_qids[j])] * len(order))
                out_i.extend(int(ids[x]) for x in order)
                out_s.extend(float(col[x]) for x in order)
            yield pd.DataFrame({query_id_col: out_q, id_col: out_i, "_raw": out_s})

    partial = corpus.select(id_col, as_double(vec_col).alias(vec_col)).mapInPandas(
        local_topk, partial_schema
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        partial.withColumn("cosine", F.round(F.col("_raw"), 6))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def near_dup_pairs_by_cosine(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs. Blocks on `block_col`
    (e.g. a cluster/label id) to avoid the full cross product; within a
    block, pairs (a < b) above the cosine threshold.

    Fans out to cluster parallelism first (round 13): the per-pair dot
    products run on the probe side of the broadcast block-join, so an
    under-partitioned local scan (one small parquet file) serialized
    the whole pair expansion on one core — measured 4.4s wall / 4.8
    CPU-s at sf0.1 for a ~1 MB input. A no-op whenever the scan is
    already multi-split (any real scale); the pair set is unchanged."""
    from crypto_data_pipeline_spark.sources.tables import fan_out

    side = fan_out(df).select(
        F.col(id_col).alias("id"), as_double(vec_col).alias("v"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    ).withColumn("n", norm(F.col("v")))  # per-row, not per-pair (see brute_force_topk)
    a, b = side.alias("a"), side.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if block_col:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    return (
        a.join(b, cond)
        .withColumn(
            "cosine",
            F.round(dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n")), 6),
        )
        .where(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG-based so no
    RNG library dependency and bit-stable across platforms)."""
    state = seed & 0x7FFFFFFF
    planes = []
    for _ in range(n_planes):
        vec = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            vec.append((state / 0x7FFFFFFF) * 2.0 - 1.0)
        n = math.sqrt(sum(x * x for x in vec)) or 1.0
        planes.append([x / n for x in vec])
    return planes


def _vec_sql(vec_col: str) -> str:
    return f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"


def _dot_sql(vec_expr: str, plane: list[float]) -> str:
    """SQL spelling of dot(): same zip_with+aggregate fold, identical
    evaluation order, so sign decisions are bit-equal to the Column
    API version. Literals via repr (shortest round-trip doubles)."""
    arr = ", ".join(f"{x!r}D" for x in plane)
    return (
        f"aggregate(zip_with({vec_expr}, array({arr}), (x, y) -> x * y), "
        f"0D, (acc, x) -> acc + x)"
    )


def _sign_bits_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """``b`` bucket expression: bit i = sign(v · plane_i), OR-packed.
    Built as ONE SQL string: the Column-API equivalent issued 64 F.lit
    py4j round-trips PER PLANE (~3,200 driver calls for a 50-plane
    family), which profiled at ~4s of pure plan-construction latency
    per probe — far exceeding the sub-second execution itself. A
    single F.expr parse is one driver call; the JVM-side expression
    tree (and therefore every result bit) is unchanged."""
    terms = [
        f"(CASE WHEN {_dot_sql(vec_expr, p)} > 0D THEN {1 << i}L ELSE 0L END)"
        for i, p in enumerate(planes)
    ]
    return " | ".join(terms)


def with_lsh_bucket(
    df: DataFrame, dim: int = 64, n_planes: int = 16, vec_col: str = "embedding", seed: int = 42
) -> DataFrame:
    """Random-hyperplane (sign) LSH bucket id: bit i = sign(v · h_i).
    The bucket column is the partition/cluster key for ANN at scale."""
    bucket = _sign_bits_sql(_vec_sql(vec_col), _hyperplanes(dim, n_planes, seed))
    return df.withColumn("lsh_bucket", F.expr(bucket))


def with_int8_codes(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 scalar quantization (FAISS SQ8): adds
    ``scale`` = max|x_i| and ``q`` = round(x_i/scale*127) as tinyint.
    Dequantization is q*scale/127; cosine between vectors is invariant
    to the per-vector scale, so similarity search can run on the codes
    alone (see quantized_topk). Pure array expressions — zero shuffle,
    zero Python, 4× smaller at rest."""
    v = as_double(vec_col)
    out = df.withColumn("scale", F.array_max(F.transform(v, lambda x: F.abs(x))))
    zeros = F.transform(v, lambda x: F.lit(0).cast("tinyint"))
    codes = F.transform(v, lambda x: F.round(x / F.col("scale") * 127).cast("tinyint"))
    return out.withColumn("q", F.when(F.col("scale") == 0, zeros).otherwise(codes))


def _int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int8 code arrays (widened to
    long before multiply — tinyint×tinyint would wrap). Every int is
    exact in both engines, so quantized scores reproduce bit-for-bit
    (the only float ops are one sqrt and one division on identical
    integers)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k cosine search over SQ8-QUANTIZED vectors — the compressed
    scan path: at 100 TB the int8 codes are 4× less IO than float32
    and the per-vector scales cancel out of cosine entirely, so the
    probe never dequantizes. Ranking error vs the float baseline is
    bounded by quantization noise (recall-tested); the quantized score
    itself is EXACT — integer dots — hence hash-checkable with no
    rounding caveats beyond the final 6 dp."""
    from pyspark.sql import Window

    # norms hoisted to per-ROW columns before the crossJoin (same
    # rationale as brute_force_topk above: the per-pair expression
    # would recompute each side's self-dot N×Q times instead of N+Q)
    qc = with_int8_codes(queries.select(query_id_col, vec_col), vec_col).select(
        query_id_col, F.col("q").alias("_qq")
    ).withColumn("_qn", F.sqrt(_int_dot(F.col("_qq"), F.col("_qq")).cast("double")))
    cc = with_int8_codes(corpus.select(id_col, vec_col), vec_col).select(
        id_col, F.col("q").alias("_cq")
    ).withColumn("_cn", F.sqrt(_int_dot(F.col("_cq"), F.col("_cq")).cast("double")))
    scored = cc.crossJoin(F.broadcast(qc))
    if exclude_self:
        scored = scored.where(F.col(query_id_col) != F.col(id_col))
    num = _int_dot(F.col("_qq"), F.col("_cq")).cast("double")
    scored = scored.withColumn(
        "cosine_q", F.round(num / (F.col("_qn") * F.col("_cn")), 6)
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine_q").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_q", "rank")
    )


def stream_near_dup_filter(
    stream: DataFrame,
    dim: int = 64,
    n_planes: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming embedding near-dedup: a row is dropped when another
    row with the SAME full n_planes-bit LSH signature already arrived
    within the watermark (signature collision ⇒ the two vectors agree
    on every hyperplane sign ⇒ cosine-near for adequate n_planes).

    Spark-first shape: the signature is a pure stateless expression
    (`with_lsh_bucket` — streaming-safe, no shuffle of its own), and
    survivorship is `dropDuplicatesWithinWatermark` on the bucket key,
    so state holds one entry per DISTINCT signature inside the
    watermark window — bounded, evicted by event time — instead of one
    per row. The batch twin with deterministic survivorship (min id
    per signature) is `embedding_bucket_dedup` in the query catalog;
    the streaming path keeps first-arrival per signature, the standard
    streaming relaxation (arrival order IS the priority at ingest).
    Works identically on a batch frame via dropDuplicates for tests."""
    keyed = with_lsh_bucket(stream, dim, n_planes, vec_col, seed)
    if stream.isStreaming:
        return keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["lsh_bucket"]
        )
    return keyed.dropDuplicates(["lsh_bucket"])


@dataclass
class IvfIndex:
    """A built IVF index: the cell-assigned (and persisted) corpus plus
    the centroid table. In production this is the at-rest state — the
    corpus written partitioned by `_cell`, centroids in a sidecar; here
    it lets a session build once and serve every subsequent query batch
    (the FAISS train/add vs search split). Build params ride along so a
    probe with mismatched params errors instead of silently returning
    wrong/empty candidates."""

    assigned: DataFrame  # (id_col, _cv, _cell)
    centers: list[list[float]]
    id_col: str
    seed: int = 42


def _unit_normed(df: DataFrame, keep: str, vec_col: str) -> DataFrame:
    # two-step so the norm is computed once per row, not per element
    return (
        df.select(F.col(keep), as_double(vec_col).alias("_r"))
        .withColumn("_nrm", norm(F.col("_r")))
        .select(keep, F.transform("_r", lambda x: x / F.col("_nrm")).alias("_v"))
    )


def _centers_expr(centers: list[list[float]]) -> Column:
    """array<struct<_cell,_ctr>> centroid table as ONE F.expr parse —
    per-element F.lit would cost ~1k py4j round-trips of driver
    latency per call (see _sign_bits_sql); repr doubles round-trip
    exactly."""
    return F.expr(
        "array("
        + ", ".join(
            "named_struct('_cell', {ci}, '_ctr', array({vals}))".format(
                ci=ci, vals=", ".join(f"{x!r}D" for x in c)
            )
            for ci, c in enumerate(centers)
        )
        + ")"
    )


def _cell_scores(vec: Column, centers: Column) -> Column:
    """array<struct<_d,_cell>>: squared Euclidean distance from ``vec``
    to each centroid, with the cell id as tiebreak field — array_sort
    over these structs is the (distance, cell) argmin/argsort both the
    build-side assignment and the probe share."""
    return F.transform(
        centers,
        lambda c: F.struct(
            _fold_sum(
                F.zip_with(vec, c["_ctr"], lambda x, y: (x - y) * (x - y))
            ).alias("_d"),
            c["_cell"].alias("_cell"),
        ),
    )


def _assign_cells(c_n: DataFrame, centers: list[list[float]], id_col: str) -> DataFrame:
    """Vectorized (id, _cv, _cell) assignment: numpy squared-L2 argmin
    against the centroid matrix inside one Arrow ``mapInPandas`` — the
    same fix as ``pq_encode`` for the interpreted-HOF-per-row trap
    (the expression formulation costs ~1 ms/row at 16 cells × 64 dims;
    the PROBE side keeps the expression because query batches are
    tiny). Sequential float64 sums over the dims plus argmin's
    first-minimum rule reproduce the (dist, cell)-asc tie-break; the
    cell choice itself has O(0.1) margins vs ~1e-15 formulation noise
    (see build_fixed_ivf_index), so assignment is engine-stable."""
    import numpy as np

    C = np.asarray(centers, dtype=np.float64)
    idt = c_n.schema[id_col].dataType.simpleString()

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vs = np.stack(pdf["_cv"].to_numpy())
            dists = np.empty((len(pdf), len(C)), dtype=np.float64)
            for ci in range(len(C)):
                dists[:, ci] = np.square(vs - C[ci][None, :]).sum(axis=1)
            out = pdf[[id_col, "_cv"]].copy()
            out["_cell"] = dists.argmin(axis=1).astype("int32")
            yield out

    return c_n.select(id_col, "_cv").mapInPandas(
        assign, f"{id_col} {idt}, _cv array<double>, _cell int"
    )


def build_fixed_ivf_index(
    corpus: DataFrame,
    centroid_ids: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfIndex:
    """IVF index with a FIXED, data-derived quantizer: the centroids
    are the L2-normalized corpus vectors of ``centroid_ids`` (in that
    order), and every corpus vector is assigned to its (distance,
    cell)-argmin cell with the same expression the probe uses.

    Unlike the KMeans build (iterative ML, rows-only checkable), this
    quantizer is a deterministic function of the corpus — so the WHOLE
    IVF pipeline (assign → nprobe cell choice → candidate join → cosine
    ranking) has a DuckDB twin and hash-checks end to end
    (`embedding_ann_ivf_fixed`). Production would keep KMeans for
    recall; this build exists to differentially prove the probe
    machinery itself. Cell ordering ties: inter-centroid distance
    margins are O(0.1) for real embeddings while cross-engine float
    noise is ~1e-15, so the argmin/argsort agree (same class of
    argument as the LSH oracle's sign margins)."""
    rows = (
        corpus.where(F.col(id_col).isin(list(centroid_ids)))
        .select(id_col, as_double(vec_col).alias("_r"))
        .collect()
    )
    by_id = {r[0]: r[1] for r in rows}
    missing = [cid for cid in centroid_ids if cid not in by_id]
    if missing:
        raise ValueError(f"centroid ids not present in corpus: {missing}")
    centers = []
    for cid in centroid_ids:
        v = [float(x) for x in by_id[cid]]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        centers.append([x / n for x in v])

    c_n = _unit_normed(corpus, id_col, vec_col).withColumnRenamed("_v", "_cv")
    # Arrow-vectorized assignment (see _assign_cells); persisted like
    # the KMeans build — an index is materialized state, not a
    # recomputed view, and repeated probes must not re-pay the assign.
    # (Historical note: when `_cell` was a lazy EXPRESSION over `_cv`,
    # a probe join on it let InferFiltersFromConstraints push an
    # f(_cv)-shaped predicate into the query branch where _cv does not
    # exist — INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at runtime, bisected
    # via ivfpq_topk. The mapInPandas boundary now also blocks that
    # structurally.)
    assigned = _assign_cells(c_n, centers, id_col).persist()
    return IvfIndex(assigned=assigned, centers=centers, id_col=id_col, seed=-1)


def kmeans_fit_sample(
    c_n: DataFrame,
    k: int,
    id_col: str,
    vec_col: str = "_cv",
    sample_cap: int | None = None,
    seed: int = 42,
    max_iter: int = 25,
    tol: float = 1e-6,
    n_total: int | None = None,
) -> list[list[float]]:
    """Coarse-quantizer training the way FAISS does it: k-means++ init
    plus Lloyd iterations over a BOUNDED training sample, in-process
    (numpy), not as distributed jobs.

    Why (round 13, guide §1.2 step 1): the MLlib fit runs ~max_iter
    distributed jobs — at bench scale each iteration is almost pure
    scheduling overhead (the 45-cell fit was ~9s of the 11.4s IVF cold
    build for 2,000 vectors), and at 100 TB nobody trains a coarse
    quantizer on the full corpus anyway: FAISS trains on min(N, 256·k)
    points by design (quantizer quality saturates in the sample size,
    not the corpus size). The sample here is the SAME deterministic
    hash-stride residue filter the fraction estimators use (executor-
    side, inclusion a pure function of the id — no orderBy/limit
    driver funnel), its size is a function of CONFIG (``sample_cap``,
    default max(4096, 256·k)), never of corpus size, and the collect
    is declared in plan_contracts.DECLARED_DRIVER_SCALARS. Lloyd runs
    vectorized via the ||x||²+||c||²−2x·c expansion (n·k floats, a few
    MB at the default cap); empty clusters re-seed at the point
    farthest from its center (the standard repair). Deterministic
    given (corpus ids, seed)."""
    import numpy as np

    cap = int(sample_cap) if sample_cap else max(4096, 256 * k)
    total = int(n_total) if n_total is not None else c_n.count()
    stride = max(1, -(-total // cap))
    rows = (
        c_n.select(vec_col)
        .where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(stride)) == 0)
        .collect()  # ≤ ~sample_cap rows — bounded by config
    )
    X = np.asarray([r[0] for r in rows], dtype=np.float64)
    if len(X) < k:
        raise ValueError(
            f"KMeans needs >= k={k} training points; sampled {len(X)} "
            f"(corpus {total}, cap {cap})"
        )
    rng = np.random.default_rng(seed)
    x2 = np.einsum("ij,ij->i", X, X)

    # k-means++ seeding over the sample
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.integers(len(X))]
    d2 = np.maximum(x2 + centers[0] @ centers[0] - 2.0 * (X @ centers[0]), 0.0)
    for j in range(1, k):
        s = d2.sum()
        if s <= 0.0:  # all mass on existing centers (degenerate sample)
            centers[j] = X[rng.integers(len(X))]
        else:
            centers[j] = X[rng.choice(len(X), p=d2 / s)]
        d2 = np.minimum(
            d2,
            np.maximum(x2 + centers[j] @ centers[j] - 2.0 * (X @ centers[j]), 0.0),
        )

    for _ in range(max_iter):
        c2 = np.einsum("ij,ij->i", centers, centers)
        D = x2[:, None] + c2[None, :] - 2.0 * (X @ centers.T)
        assign = D.argmin(axis=1)
        new = np.zeros_like(centers)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        np.add.at(new, assign, X)
        nonempty = counts > 0
        new[nonempty] /= counts[nonempty, None]
        if not nonempty.all():
            # re-seed each empty cluster at the currently worst-fit point
            worst = np.argsort(D[np.arange(len(X)), assign])[::-1]
            for slot, pi in zip(np.flatnonzero(~nonempty), worst):
                new[slot] = X[pi]
        shift = float(np.max(np.einsum("ij,ij->i", new - centers, new - centers)))
        centers = new
        if shift < tol:
            break
    return [[float(x) for x in c] for c in centers]


def build_ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    sample_cap: int | None = None,
    n_total: int | None = None,
) -> IvfIndex:
    """Train the coarse quantizer and assign every corpus vector to its
    cell — the one-off indexing pass. KMeans runs over L2-normalized
    vectors (L2 on the unit sphere orders like cosine); the assigned
    frame is persisted so repeated probes never re-pay the fit.

    Round 13: the fit is `kmeans_fit_sample` (k-means++ + Lloyd over a
    config-bounded deterministic sample, in-process) instead of the
    MLlib estimator, and full-corpus assignment reuses the Arrow
    `_assign_cells` pass — the fit no longer costs ~max_iter
    distributed jobs, and the one corpus-sized pass left in the build
    is the assignment (which is irreducible: every vector must learn
    its cell)."""
    c_n = _unit_normed(corpus, id_col, vec_col).withColumnRenamed("_v", "_cv")
    centers = kmeans_fit_sample(
        c_n, n_centroids, id_col, sample_cap=sample_cap, seed=seed,
        n_total=n_total,
    )
    assigned = _assign_cells(c_n, centers, id_col).persist()
    return IvfIndex(assigned=assigned, centers=centers, id_col=id_col, seed=seed)


def ivf_expected_candidate_fraction(
    index: IvfIndex, nprobe: int, sample_cap: int = 4096
) -> dict:
    """Expected candidate fraction of the corpus an nprobe-cell query
    scans, measured from the index's OWN assigned frame — the IVF
    analog of `lsh_expected_candidate_fraction`. LSH's estimator is a
    closed form over the bucket histogram because its tables are
    independent hash draws; IVF's probed set depends on centroid
    GEOMETRY (which cells are near which), so the honest estimator is
    empirical: take a deterministic hash-stride sample of ~
    ``sample_cap`` corpus vectors as stand-in queries (corpus-
    distributed queries are the same assumption the LSH guard makes),
    derive each one's nprobe nearest cells with the same stable
    (distance, cell)-asc ordering the probe uses, and average the
    probed cells' realized occupancy. Driver traffic is bounded by
    config, never corpus size: the cell histogram (≤ n_centroids
    rows) plus one scalar row for the average; the sample itself
    stays executor-side (numpy argsort inside one Arrow mapInPandas,
    the `_assign_cells` pattern extended to top-nprobe)."""
    import numpy as np

    n_cells = len(index.centers)
    nprobe = max(1, min(int(nprobe), n_cells))
    hist_rows = (
        index.assigned.groupBy("_cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # ≤ n_centroids rows — bounded by build config
    )
    occ = {int(r._cell): int(r.n) for r in hist_rows}
    total = sum(occ.values())
    if total == 0:
        return {
            "expected_candidate_fraction": 0.0, "max_cell_fraction": 0.0,
            "n_cells": n_cells, "n_cells_empty": n_cells,
            "nprobe": nprobe, "sample_cap": sample_cap, "n_sampled": 0,
        }
    id_col = index.id_col
    # deterministic hash-stride sample: the residue filter ALONE lands
    # under the cap — stride = ceil(total / sample_cap) biased high, so
    # expected survivors = total/stride <= sample_cap and no limit() is
    # needed (round 12, ADVICE: a trailing LimitExec takes whichever
    # rows arrive first, making the sampled set — and a verdict near
    # the warn threshold — vary run-to-run). Residue survivors can
    # exceed the expectation by binomial noise; that only widens the
    # sample, never biases it (every row's inclusion is a pure function
    # of its id). NOT orderBy(hash).limit — TakeOrdered merges top-k
    # rows PER PARTITION on the driver, which at cluster parallelism
    # ships partitions × sample_cap vectors; the filter form stays
    # executor-side.
    stride = max(1, -(-total // sample_cap))
    sample = index.assigned.select(id_col, "_cv").where(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(stride)) == 0
    )
    C = np.asarray(index.centers, dtype=np.float64)
    occ_arr = np.zeros(n_cells, dtype=np.float64)
    for ci, n in occ.items():
        occ_arr[ci] = n

    def probed_mass(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            vs = np.stack(pdf["_cv"].to_numpy())
            dists = np.empty((len(pdf), len(C)), dtype=np.float64)
            for ci in range(len(C)):
                dists[:, ci] = np.square(vs - C[ci][None, :]).sum(axis=1)
            # stable argsort = first-minimum on ties = (dist, cell) asc,
            # the probe's own ordering
            cells = np.argsort(dists, axis=1, kind="stable")[:, :nprobe]
            yield pd.DataFrame({"cand": occ_arr[cells].sum(axis=1)})

    row = (
        sample.mapInPandas(probed_mass, "cand double")
        .agg(
            F.avg("cand").alias("avg_cand"),
            F.count(F.lit(1)).alias("n_sampled"),
        )
        .collect()[0]  # one scalar row
    )
    return {
        "expected_candidate_fraction": round(float(row.avg_cand or 0.0) / total, 4),
        "max_cell_fraction": round(max(occ_arr) / total, 4),
        "n_cells": n_cells,
        "n_cells_empty": int(n_cells - len(occ)),
        "nprobe": nprobe,
        "sample_cap": sample_cap,
        "n_sampled": int(row.n_sampled),
    }


# the single source of the IVF guard threshold: ivf_config_check's
# default, the serving chooser's default, and tools/ann_probe.py all
# reference this name (round 12 — a change here moves every consumer)
IVF_WARN_ABOVE = 0.10


def ivf_candidate_fraction_curve(
    index: IvfIndex, max_nprobe: int = 8, sample_cap: int = 4096,
    with_stats: bool = False,
):
    """`ivf_expected_candidate_fraction` for EVERY nprobe in
    [1, max_nprobe] in one estimator pass: the per-vector argsort
    already orders all cells, so the cumulative probed occupancy gives
    the whole curve for the cost of one sample scan (the sweep the
    serving-nprobe chooser and the probe tool need — point-by-point
    calls would re-read the sample max_nprobe times).

    ``with_stats`` (round 13) returns ``(curve, stats)`` where stats
    carries everything the POINT estimator reports (n_sampled,
    max_cell_fraction, n_cells, n_cells_empty, sample_cap) — so a
    caller that needs both the sweep and a config-check verdict pays
    ONE pass, and an empty residue sample is visible (n_sampled=0)
    instead of masquerading as an all-zero curve (round-12 ADVICE)."""
    import numpy as np

    n_cells = len(index.centers)
    max_nprobe = max(1, min(int(max_nprobe), n_cells))
    hist_rows = (
        index.assigned.groupBy("_cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # ≤ n_centroids rows — bounded by build config
    )
    occ = {int(r._cell): int(r.n) for r in hist_rows}
    total = sum(occ.values())
    if total == 0:
        zero = [0.0] * max_nprobe
        if with_stats:
            return zero, {
                "n_sampled": 0, "n_cells": n_cells,
                "n_cells_empty": n_cells, "max_cell_fraction": 0.0,
                "sample_cap": sample_cap,
            }
        return zero
    id_col = index.id_col
    # the same deterministic residue sample as the point estimator
    stride = max(1, -(-total // sample_cap))
    sample = index.assigned.select(id_col, "_cv").where(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(stride)) == 0
    )
    C = np.asarray(index.centers, dtype=np.float64)
    occ_arr = np.zeros(n_cells, dtype=np.float64)
    for ci, n in occ.items():
        occ_arr[ci] = n

    def probed_mass(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            vs = np.stack(pdf["_cv"].to_numpy())
            dists = np.empty((len(pdf), len(C)), dtype=np.float64)
            for ci in range(len(C)):
                dists[:, ci] = np.square(vs - C[ci][None, :]).sum(axis=1)
            cells = np.argsort(dists, axis=1, kind="stable")[:, :max_nprobe]
            cum = np.cumsum(occ_arr[cells], axis=1)
            yield pd.DataFrame(
                {f"c{j}": cum[:, j] for j in range(max_nprobe)}
            )

    schema = ", ".join(f"c{j} double" for j in range(max_nprobe))
    row = (
        sample.mapInPandas(probed_mass, schema)
        .agg(
            *[F.avg(f"c{j}").alias(f"c{j}") for j in range(max_nprobe)],
            F.count(F.lit(1)).alias("_n_sampled"),
        )
        .collect()[0]  # one scalar row of max_nprobe averages
    )
    curve = [round(float(row[f"c{j}"] or 0.0) / total, 4) for j in range(max_nprobe)]
    if with_stats:
        return curve, {
            "n_sampled": int(row._n_sampled),
            "n_cells": n_cells,
            "n_cells_empty": int(n_cells - len(occ)),
            "max_cell_fraction": round(max(occ_arr) / total, 4),
            "sample_cap": sample_cap,
        }
    return curve


def ivf_serving_nprobe(
    index: IvfIndex, max_nprobe: int = 8,
    warn_above: float | None = None, sample_cap: int = 4096,
) -> dict:
    """The guard's own recommendation turned into a SERVING config
    (round 12; VERDICT r11 next #3): the largest nprobe whose expected
    candidate fraction stays under the guard threshold — maximum
    recall the geometry affords without the index ceasing to prune.
    Floors at nprobe=1: if even one cell exceeds the threshold the
    geometry itself is wrong (too few cells) and `ivf_config_check`
    will say so at write time; likewise when the residue sample is
    EMPTY (n_sampled=0 — round-12 ADVICE: an all-zero curve must not
    read as 'everything prunes'). Threshold defaults to the module's
    IVF_WARN_ABOVE — the ONE constant `ivf_config_check` also uses, so
    chooser and guard cannot disagree. The returned dict carries the
    one-pass estimator stats so callers (e.g. the at-rest write) can
    derive the config-check verdict without a second sample pass."""
    if warn_above is None:
        warn_above = IVF_WARN_ABOVE
    curve, stats = ivf_candidate_fraction_curve(
        index, max_nprobe, sample_cap, with_stats=True
    )
    nprobe = 1
    if stats["n_sampled"] > 0:
        for j, frac in enumerate(curve, start=1):
            if frac <= warn_above:
                nprobe = j
    return {"nprobe": nprobe, "fraction_curve": curve,
            "warn_above": warn_above, **stats}


def ivf_config_check(
    index: IvfIndex, nprobe: int = 4, warn_above: float = IVF_WARN_ABOVE,
    sample_cap: int = 4096, stats: dict | None = None,
) -> dict:
    """The IVF analog of `lsh_config_check` (round-11; VERDICT r10
    what's-missing #1 — IVF was the one ANN tier with recorded recall
    but no build-time guard): when the realized cell occupancy says an
    nprobe-cell probe would scan more than ``warn_above`` of the
    corpus, the index barely prunes — warn loudly with an n_centroids
    recommendation instead of shipping the config silently. The
    recommendation scales the cell count so the measured occupancy
    ratio lands under the threshold (expected fraction ≈ skew ×
    nprobe / n_cells, with skew = measured/balanced — exact for
    balanced cells, a floor for clustered data: re-check after
    rebuild, exactly like the LSH bits recommendation). Raising
    n_centroids sharpens pruning; recall is then held with ``nprobe``
    — the same build-knob-vs-query-knob split as LSH bits vs
    probes_per_table. `write_ivf_index` runs this by default and
    lands the verdict in the sidecar; `read_ivf_index` re-surfaces a
    warn, so serve sees what build saw."""
    import math
    import warnings

    if stats is None:
        stats = ivf_expected_candidate_fraction(index, nprobe, sample_cap)
    # round 13: a verdict computed from a precomputed one-pass curve
    # costs zero additional estimator passes (see the `stats` param)
    est = stats["expected_candidate_fraction"]
    verdict = "warn" if est > warn_above else "ok"
    rec = stats["n_cells"]
    if verdict == "warn" and est > 0:
        balanced = stats["nprobe"] / stats["n_cells"]
        skew = est / balanced if balanced > 0 else 1.0
        rec = max(
            stats["n_cells"] + 1,
            math.ceil(skew * stats["nprobe"] / warn_above),
        )
    out = {**stats, "verdict": verdict, "warn_above": warn_above,
           "recommended_n_centroids": rec}
    if verdict == "warn":
        warnings.warn(
            f"IVF index ({stats['n_cells']} cells, nprobe={stats['nprobe']}) "
            f"has expected candidate fraction {est:.3f} > {warn_above} on "
            f"this corpus — probing barely prunes. Raise n_centroids to "
            f"~{rec} (≈sqrt(N) is the usual production scale) and hold "
            f"recall with nprobe.",
            stacklevel=2,
        )
    return out


def write_ivf_index(
    index: IvfIndex, path: str, check_config: bool = True, nprobe: int = 4,
    config_check: dict | None = None,
) -> None:
    """Persist the index at rest: the assigned corpus partitioned BY
    CELL (hive layout — a probe of nprobe cells reads nprobe
    directories, the FAISS inverted-list property expressed as storage
    partitioning) plus a JSON sidecar with the centroids and build
    params. Local-fs sidecar IO here; on a cluster the same bytes go
    to object storage. ``check_config`` (on by default at this, the
    production at-rest boundary — same contract as `write_lsh_index`)
    lands the `ivf_config_check` verdict at the declared serving
    ``nprobe`` in the sidecar, warning loudly when the cell geometry
    has stopped pruning on this corpus BEFORE the index starts
    serving."""
    import json
    import os

    index.assigned.write.mode("overwrite").partitionBy("_cell").parquet(
        os.path.join(path, "assigned")
    )
    params = {"centers": index.centers, "id_col": index.id_col, "seed": index.seed}
    if config_check is not None:
        # round 13: a caller that already measured the serving point
        # (ivf_serving_nprobe's one-pass curve) passes the verdict in —
        # the sidecar contract is identical, the second sample pass gone
        params["config_check"] = config_check
    elif check_config:
        params["config_check"] = ivf_config_check(index, nprobe=nprobe)
    with open(os.path.join(path, "centers.json"), "w") as f:
        json.dump(params, f)


def read_ivf_index(spark, path: str) -> IvfIndex:
    """Load a write_ivf_index layout. The assigned frame is a lazy
    partitioned scan — cell-equality predicates prune at the directory
    level, so a probe touches nprobe partitions, not the corpus. A
    sidecar carrying a ``config_check`` warn verdict re-warns here —
    the serve side sees exactly what the build side saw, without
    re-scanning the corpus (same contract as `read_lsh_index`)."""
    import json
    import os
    import warnings

    with open(os.path.join(path, "centers.json")) as f:
        meta = json.load(f)
    check = meta.get("config_check")
    if check and check.get("verdict") == "warn":
        warnings.warn(
            f"IVF index at {path} was built with a geometry the build-time "
            f"guard flagged (expected candidate fraction "
            f"{check['expected_candidate_fraction']} > {check['warn_above']} "
            f"at nprobe={check['nprobe']}; recommended n_centroids "
            f"~{check['recommended_n_centroids']}) — probes will barely "
            f"prune.",
            stacklevel=2,
        )
    assigned = spark.read.parquet(os.path.join(path, "assigned")).select(
        meta["id_col"], "_cv", "_cell"
    )
    return IvfIndex(
        assigned=assigned,
        centers=[[float(x) for x in c] for c in meta["centers"]],
        id_col=meta["id_col"],
        seed=int(meta["seed"]),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    exclude_self: bool = True,
    index: IvfIndex | None = None,
) -> DataFrame:
    """ANN top-k via an IVF (inverted-file) index: a KMeans coarse
    quantizer partitions the corpus into `n_centroids` cells; a query
    probes only its `nprobe` nearest cells. The classic FAISS-style
    scale path re-expressed in Spark: cell assignment rides the fitted
    model (see build_ivf_index), and query→cell probing is a pure
    expression against the (tiny, broadcast) centroid literal —
    array_sort on (distance, cell) structs, slice nprobe, explode,
    equi-join on cell id.

    At rest the cell id is the storage partition key, so a query reads
    nprobe partitions instead of the corpus. Pass a prebuilt ``index``
    to amortize the quantizer fit across query batches (the session
    caches one per corpus in the catalog layer); without it the index
    is built inline for self-containment."""
    from pyspark.sql import Window

    if index is None:
        index = build_ivf_index(corpus, id_col, vec_col, n_centroids, seed)
    elif (len(index.centers), index.seed, index.id_col) != (n_centroids, seed, id_col):
        raise ValueError(
            f"prebuilt IVF index (n_centroids={len(index.centers)}, seed={index.seed}, "
            f"id_col={index.id_col!r}) does not match the probe call "
            f"(n_centroids={n_centroids}, seed={seed}, id_col={id_col!r})"
        )
    id_col = index.id_col
    assigned = index.assigned

    q_n = _unit_normed(queries, query_id_col, vec_col).withColumnRenamed("_v", "_qv")
    scored_centers = _cell_scores(F.col("_qv"), _centers_expr(index.centers))
    probes = F.slice(F.array_sort(scored_centers), 1, nprobe)
    q_probed = q_n.select(
        query_id_col, "_qv", F.explode(F.transform(probes, lambda p: p["_cell"])).alias("_cell")
    )
    scored = assigned.join(F.broadcast(q_probed), "_cell")
    if exclude_self:
        # see brute_force_topk: only valid when ids share a namespace
        scored = scored.where(F.col(query_id_col) != F.col(id_col))
    scored = scored.withColumn("cosine", F.round(dot(F.col("_qv"), F.col("_cv")), 6))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _table_buckets(vec_col: str, dim: int, bits: int, tables: int, seed: int = 42) -> Column:
    """array<struct<t,b>> — one (table, bucket) key per hash table.
    Table t's bucket packs the signs of `bits` projections onto planes
    [t*bits, (t+1)*bits). One F.expr parse for the whole family (see
    _sign_bits_sql for why: py4j literal traffic dominated probe
    latency)."""
    planes = _hyperplanes(dim, bits * tables, seed)
    vec_expr = _vec_sql(vec_col)
    structs = [
        "named_struct('t', {t}, 'b', {b})".format(
            t=t, b=_sign_bits_sql(vec_expr, planes[t * bits : (t + 1) * bits])
        )
        for t in range(tables)
    ]
    return F.expr("array(" + ", ".join(structs) + ")")


def _all_dots_sql(vec_col: str, dim: int, bits: int, tables: int, seed: int) -> Column:
    """array<double> of ALL tables×bits plane projections, each dot
    spelled once. The multi-probe key derivation needs every dot
    twice (sign for the base bucket, |margin| for the flip ranking) —
    projecting the dots as ONE column and deriving keys from cheap
    element_at references keeps the generated SQL at single-probe size
    (the dot literals dominate the text) and evaluates each 64-wide
    dot once per row instead of once per use."""
    planes = _hyperplanes(dim, bits * tables, seed)
    vec_expr = _vec_sql(vec_col)
    return F.expr("array(" + ", ".join(_dot_sql(vec_expr, p) for p in planes) + ")")


def _multiprobe_keys_from_dots(ds_col: str, bits: int, tables: int, n_flip: int) -> Column:
    """Multi-probe key family (Lv et al. 2007, "Multi-Probe LSH",
    VLDB) over a pre-projected dots column: per table, the base bucket
    PLUS the ``n_flip`` buckets at Hamming distance 1 obtained by
    flipping the lowest-|margin| sign bits — the projections closest
    to zero are exactly the decisions a true neighbor is most likely
    to land on the other side of, so each extra probe buys
    near-maximal recall per candidate scanned. Emits
    array<struct<t,b>> with (1 + n_flip) entries per table; the CORPUS
    index is untouched (same at-rest layout, same family params), so
    recall is a pure query-time knob. Tie-break on equal margins is by
    bit index, mirrored verbatim in the DuckDB oracle's ORDER BY
    abs(d), i."""

    def at(t: int, i: int) -> str:
        return f"element_at(`{ds_col}`, {t * bits + i + 1})"

    parts = []
    for t in range(tables):
        base = " | ".join(
            f"(CASE WHEN {at(t, i)} > 0D THEN {1 << i}L ELSE 0L END)" for i in range(bits)
        )
        margins = ", ".join(
            f"named_struct('m', abs({at(t, i)}), 'i', {i})" for i in range(bits)
        )
        parts.append(
            f"concat(array(named_struct('t', {t}, 'b', {base})), "
            f"transform(slice(array_sort(array({margins})), 1, {n_flip}), "
            f"s -> named_struct('t', {t}, 'b', ({base}) ^ shiftleft(1L, s.i))))"
        )
    return F.expr("concat(" + ", ".join(parts) + ")")


def multiprobe_query_keys(
    queries: DataFrame,
    query_id_col: str,
    vec_col: str,
    dim: int,
    bits: int,
    tables: int,
    seed: int,
    n_flip: int,
) -> DataFrame:
    """Query-side (query_id, t, b) probe keys for multi-probe LSH:
    the dots project once (see _all_dots_sql), the key family derives
    from the column. The two-step projection is deliberately NOT a
    single expression — CollapseProject leaves a multiply-referenced
    non-trivial alias alone, so codegen evaluates the 64-wide dots one
    time per query row."""
    return (
        queries.select(
            F.col(query_id_col),
            _all_dots_sql(vec_col, dim, bits, tables, seed).alias("_ds"),
        )
        .select(
            query_id_col,
            F.explode(_multiprobe_keys_from_dots("_ds", bits, tables, n_flip)).alias("tb"),
        )
        .select(query_id_col, "tb.t", "tb.b")
    )


def lsh_query_keys(
    queries: DataFrame,
    query_id_col: str,
    vec_col: str,
    dim: int,
    bits: int,
    tables: int,
    seed: int,
    n_flip: int = 0,
) -> DataFrame:
    """Query-side (query_id, t, b) probe keys — single-probe
    (``n_flip=0``) or multi-probe — computed in ONE Arrow
    ``mapInPandas`` instead of the ``_table_buckets`` /
    ``_multiprobe_keys_from_dots`` expression forms.

    Why (round 13, same class as ``pq_query_dist_tables``): the
    expression forms inline the whole plane family as plan literals
    (50 planes × 64 doubles ≈ 80 KB of plan text) wrapped in
    interpreted HOFs — Catalyst re-parses and re-optimizes that tree
    on EVERY probe call, which profiled at ~0.9–1.2s of pure
    driver-side build latency per probe against a 10-row query batch.
    Here the planes travel in the function closure (zero plan bytes).

    Bit-exactness with the expression form (and the DuckDB twins —
    `embedding_ann_lsh_multiprobe` is hash-gated): each dot is an
    explicit sequential left fold over IEEE doubles in plane order —
    identical rounding sequence to the JVM
    ``aggregate(zip_with(...))`` fold — with float32 inputs widening
    exactly to double; sign decisions, bit packing, XOR flips are
    integer-exact; and the flip ranking sorts by ``(margin, bit)``
    exactly like ``array_sort`` on ``struct(m, i)``. A NULL vector
    reproduces the SQL semantics: every dot is NULL → sign bit 0 and
    NULL margins rank last."""
    import pandas as pd

    planes = _hyperplanes(dim, bits * tables, seed)
    idt = queries.schema[query_id_col].dataType.simpleString()

    def keys(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            out_q, out_t, out_b = [], [], []
            for qid, vec in zip(pdf[query_id_col], pdf[vec_col]):
                if vec is None:
                    ds = [None] * (bits * tables)
                else:
                    v = [float(x) for x in vec]
                    ds = []
                    for p in planes:
                        acc = 0.0
                        for x, y in zip(v, p):
                            acc += x * y
                        ds.append(acc)
                for t in range(tables):
                    base = 0
                    for i in range(bits):
                        d = ds[t * bits + i]
                        if d is not None and d > 0.0:
                            base |= 1 << i
                    out_q.append(qid)
                    out_t.append(t)
                    out_b.append(base)
                    if n_flip > 0:
                        ranked = sorted(
                            range(bits),
                            key=lambda i: (
                                ds[t * bits + i] is None,
                                abs(ds[t * bits + i])
                                if ds[t * bits + i] is not None else 0.0,
                                i,
                            ),
                        )
                        for i in ranked[:n_flip]:
                            out_q.append(qid)
                            out_t.append(t)
                            out_b.append(base ^ (1 << i))
            yield pd.DataFrame(
                {query_id_col: out_q, "t": out_t, "b": out_b}
            ).astype({"t": "int32", "b": "int64"})

    return queries.select(query_id_col, vec_col).mapInPandas(
        keys, f"{query_id_col} {idt}, t int, b long"
    )


@dataclass
class LshIndex:
    """A built LSH index: the persisted corpus (id, table, bucket) keys
    plus the hash params they were generated with. Query-side buckets
    must use the SAME (dim, bits, tables, seed) family — a probe with
    different params would silently join against foreign buckets — so
    lsh_topk validates the call's params against these."""

    keys: DataFrame  # (id_col, t, b)
    id_col: str
    dim: int
    bits: int
    tables: int
    seed: int = 42


def build_lsh_keys(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 5,
    tables: int = 10,
    seed: int = 42,
) -> LshIndex:
    """The corpus side of the LSH index: one (id, table, bucket) row per
    hash table, persisted. This is the at-rest state — in production
    the corpus is written partitioned by (t, b) once and every query
    batch joins against it; here the persist plays that role so
    repeated batches skip the tables×bits projection pass."""
    keys = (
        corpus.select(
            F.col(id_col),
            F.explode(_table_buckets(vec_col, dim, bits, tables, seed)).alias("tb"),
        )
        .select(id_col, "tb.t", "tb.b")
        .persist()
    )
    return LshIndex(keys=keys, id_col=id_col, dim=dim, bits=bits, tables=tables, seed=seed)


def write_lsh_index(
    index: LshIndex, path: str, check_config: bool = True,
) -> None:
    """Persist the LSH index at rest: keys partitioned BY TABLE (one
    directory per hash table — a probe reads its colliding buckets via
    footer min/max on the sorted ``b`` column within each table dir)
    plus a JSON sidecar carrying the hash-family params, so a reader
    can never probe with a mismatched family. ``check_config`` (on by
    default at this, the production at-rest boundary) also lands the
    realized-histogram candidate-fraction verdict (`lsh_config_check`)
    in the sidecar — and warns loudly when the family has stopped
    pruning on this corpus, BEFORE the index starts serving."""
    import json
    import os

    (
        index.keys.repartitionByRange(index.tables, "t", "b")
        .sortWithinPartitions("t", "b")
        .write.mode("overwrite")
        .partitionBy("t")
        .parquet(os.path.join(path, "keys"))
    )
    params = {
        "id_col": index.id_col,
        "dim": index.dim,
        "bits": index.bits,
        "tables": index.tables,
        "seed": index.seed,
    }
    if check_config:
        params["config_check"] = lsh_config_check(index)
    with open(os.path.join(path, "params.json"), "w") as f:
        json.dump(params, f)


def read_lsh_index(spark, path: str) -> LshIndex:
    """Load a write_lsh_index layout; the keys come back as a lazy
    partitioned scan (table-directory pruning + bucket min/max
    pruning), params from the sidecar. A sidecar carrying a
    ``config_check`` warn verdict re-warns here — the serve side sees
    exactly what the build side saw, without re-scanning the keys."""
    import json
    import os
    import warnings

    with open(os.path.join(path, "params.json")) as f:
        p = json.load(f)
    check = p.get("config_check")
    if check and check.get("verdict") == "warn":
        warnings.warn(
            f"LSH index at {path} was built with a family the build-time "
            f"guard flagged (expected candidate fraction "
            f"{check['expected_candidate_fraction']} > "
            f"{check['warn_above']}; recommended bits "
            f"~{check['recommended_bits']}) — probes will barely prune.",
            stacklevel=2,
        )
    keys = spark.read.parquet(os.path.join(path, "keys")).select(p["id_col"], "t", "b")
    return LshIndex(
        keys=keys, id_col=p["id_col"], dim=int(p["dim"]), bits=int(p["bits"]),
        tables=int(p["tables"]), seed=int(p["seed"]),
    )


def lsh_expected_candidate_fraction(index: LshIndex) -> dict:
    """Expected candidate fraction of the corpus a SINGLE-probe query
    scans, derived from the index's REALIZED bucket histogram (≤
    tables·2^bits rows — one bounded aggregate over the keys, tiny on
    the driver). For a query distributed like the corpus, the chance
    of colliding with a given vector in table t is f_t = Σ_b (n_b/N)²
    (it lands in bucket b with probability n_b/N and then meets that
    bucket's n_b/N of the corpus); tables are independent hash draws,
    so the union is 1 − Π_t (1 − f_t). The estimator reproduces the
    round-9 scale-probe measurements (docs/SCALE_PROBE.md: 5b×10t →
    0.276 measured on 2M clustered vectors; 10b×8t → 0.014) and is
    N-invariant at fixed geometry — a property of the hash family on
    the data distribution, which is exactly why it can be computed at
    build time and trusted at serve time.

    The Σn² reduction happens IN Spark (bucket histogram → per-table
    moments), so the driver collects exactly ``tables`` rows — the
    guard itself stays scale-safe at any ``bits`` (a 20-bit family's
    8M-bucket histogram never crosses the driver boundary)."""
    per = (
        index.keys.groupBy("t", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("t")
        .agg(
            (
                F.sum(F.col("n").cast("double") * F.col("n"))
                / (F.sum(F.col("n").cast("double")) * F.sum(F.col("n").cast("double")))
            ).alias("f"),
            F.count(F.lit(1)).alias("occ"),
        )
        .orderBy("t")
        .collect()
    )
    f_ts = [r.f or 0.0 for r in per]
    miss = 1.0
    for f in f_ts:
        miss *= 1.0 - f
    return {
        "expected_candidate_fraction": round(1.0 - miss, 4),
        "per_table_fraction": [round(f, 5) for f in f_ts],
        "n_buckets_occupied": sum(r.occ for r in per),
    }


def lsh_config_check(index: LshIndex, warn_above: float = 0.10) -> dict:
    """The guard the round-9 probe measurements demanded: when the
    realized bucket histogram says probing would scan more than
    ``warn_above`` of the corpus per query, probing has (nearly)
    stopped pruning — at 0.28 the measured probe was SLOWER than the
    exact Arrow brute scan (docs/SCALE_PROBE.md, 2M vectors) — so
    surface a loud warning with a bits recommendation instead of
    letting the config ship silently. The recommendation halves the
    per-table collision mass per added bit (exact for balanced
    buckets; clustered data may need more — re-check after rebuild).
    Returns the verdict dict either way; `write_lsh_index` runs this
    by default and lands it in the sidecar so a reader sees the same
    verdict the builder saw."""
    import math
    import warnings

    stats = lsh_expected_candidate_fraction(index)
    est = stats["expected_candidate_fraction"]
    verdict = "warn" if est > warn_above else "ok"
    rec = index.bits
    if verdict == "warn" and est > 0:
        rec = index.bits + max(1, math.ceil(math.log2(est / warn_above)))
    out = {**stats, "verdict": verdict, "warn_above": warn_above,
           "bits": index.bits, "tables": index.tables,
           "recommended_bits": rec}
    if verdict == "warn":
        warnings.warn(
            f"LSH family ({index.bits} bits x {index.tables} tables) has "
            f"expected candidate fraction {est:.3f} > {warn_above} on this "
            f"corpus — probing barely prunes (measured slower than the "
            f"brute scan above ~0.28; docs/SCALE_PROBE.md). Raise bits to "
            f"~{rec} and hold recall with probes_per_table instead.",
            stacklevel=2,
        )
    return out


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    bits: int = 5,
    tables: int = 10,
    seed: int = 42,
    exclude_self: bool = True,
    corpus_keys: LshIndex | None = None,
    probes_per_table: int = 0,
) -> DataFrame:
    """ANN top-k via MULTI-TABLE random-hyperplane LSH: `tables`
    independent `bits`-bit sign hashes; a corpus vector is a candidate
    if it collides with the query in ANY table (standard L-table LSH —
    one table's recall decays as p_bit^bits, the union restores it to
    1-(1-p^bits)^L). Candidates are generated by an equi-join on the
    exploded (table, bucket) key — ids only, vectors re-attached after
    dedup, so the shuffle carries no embeddings. Recall-lossy by
    design; brute_force_topk is the exactness baseline.

    ``probes_per_table`` > 0 switches the QUERY side to multi-probe
    (Lv et al. 2007): per table, also probe the buckets at Hamming
    distance 1 on the query's lowest-|margin| bits — recall rises
    toward what (1 + probes_per_table)× the tables would give, with
    zero change to the corpus index at rest (same build, same storage
    partitioning, same partition pruning). At 100 TB that asymmetry is
    the whole point: re-indexing the corpus is a full rewrite, an
    extra probe is a few more pruned partition reads per query.
    0 keeps the exact single-probe behavior.

    Defaults (5 bits × 10 tables) target this corpus's geometry (true
    neighbors at cosine ≈ 0.3 ⇒ p_bit ≈ 0.6 ⇒ ~50% expected recall
    while scoring ~25% of the corpus). Strongly clustered production
    embeddings support more bits per table and far sharper pruning —
    and the bucket key doubles as the storage partition key, so a
    query prunes to `tables` partitions at rest. Measured at 2M
    clustered vectors (tools/ann_scale_probe.py, docs/SCALE_PROBE.md):
    the 5-bit default stops pruning (28% candidate fraction), while a
    10-bit family prunes to 1.4% but needs probes_per_table=2 to hold
    0.90 recall — sharp family + multi-probe is the at-scale operating
    point."""
    from pyspark.sql import Window

    if corpus_keys is None:
        corpus_keys = build_lsh_keys(corpus, id_col, vec_col, dim, bits, tables, seed)
    elif (corpus_keys.dim, corpus_keys.bits, corpus_keys.tables, corpus_keys.seed, corpus_keys.id_col) != (
        dim, bits, tables, seed, id_col
    ):
        raise ValueError(
            f"prebuilt LSH index (dim={corpus_keys.dim}, bits={corpus_keys.bits}, "
            f"tables={corpus_keys.tables}, seed={corpus_keys.seed}, id_col={corpus_keys.id_col!r}) "
            f"does not match the probe call (dim={dim}, bits={bits}, tables={tables}, "
            f"seed={seed}, id_col={id_col!r})"
        )
    if not 0 <= probes_per_table <= bits:
        raise ValueError(
            f"probes_per_table must be in [0, bits={bits}], got {probes_per_table}"
        )
    id_col = corpus_keys.id_col
    # round 13: query keys via the Arrow fold (lsh_query_keys) — the
    # expression forms cost ~1s of per-call Catalyst work on an 80 KB
    # plane-literal tree (see lsh_query_keys docstring; bit-identical)
    q_keys = lsh_query_keys(
        queries, query_id_col, vec_col, dim, bits, tables, seed,
        n_flip=probes_per_table,
    )
    cands = corpus_keys.keys.join(F.broadcast(q_keys), ["t", "b"])
    if exclude_self:
        # see brute_force_topk: only valid when ids share a namespace
        cands = cands.where(F.col(query_id_col) != F.col(id_col))
    cands = cands.select(query_id_col, id_col).distinct()
    q_vecs = queries.select(F.col(query_id_col), as_double(vec_col).alias("_qv"))
    c_vecs = corpus.select(F.col(id_col), as_double(vec_col).alias("_cv"))
    scored = (
        cands.join(F.broadcast(q_vecs), query_id_col)
        .join(c_vecs, id_col)
        .withColumn("cosine", F.round(cosine(F.col("_qv"), F.col("_cv")), 6))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search", IEEE TPAMI) — the at-rest compression +
# asymmetric-distance search path: each vector is stored as m one-byte
# codes (argmin sub-codebook entry per subspace), and a query scans the
# CODES with a broadcast per-query distance table instead of the floats.
# At 100 TB this is the difference between scanning 8 bytes and 256
# bytes per vector, and the distance table (m × k doubles per query) is
# kilobytes — the corpus is never shuffled and never decompressed.


def build_fixed_pq_codebook(
    corpus: DataFrame,
    code_ids: list[int],
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """PQ codebook with FIXED, data-derived entries: sub-codebook j's
    entry for code c is subspace j of the L2-normalized corpus vector
    ``code_ids[c]`` — the same determinism trick as
    ``build_fixed_ivf_index``, so the WHOLE PQ pipeline (encode → ADC
    scan → rank) is a function of the corpus and has a DuckDB twin that
    hash-checks end to end. Production would train per-subspace KMeans
    codebooks (k=256) exactly like ``build_ivf_index`` trains the
    coarse quantizer; the encode/ADC expressions below are codebook-
    agnostic. Returns ``codebook[j][c] = subvector`` (code order, so
    positional ``element_at`` lookups need no sort)."""
    rows = (
        corpus.where(F.col(id_col).isin(list(code_ids)))
        .select(id_col, as_double(vec_col).alias("_r"))
        .collect()
    )
    by_id = {r[0]: r[1] for r in rows}
    missing = [cid for cid in code_ids if cid not in by_id]
    if missing:
        raise ValueError(f"codebook ids not present in corpus: {missing}")
    dim = len(by_id[code_ids[0]])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for cid in code_ids:
        v = [float(x) for x in by_id[cid]]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        u = [x / n for x in v]
        for j in range(m):
            books[j].append(u[j * d : (j + 1) * d])
    return books


def _books_expr(books: list[list[list[float]]]) -> Column:
    """array<array<struct<_code,_ctr>>> codebook literal as ONE F.expr
    parse (the _centers_expr round-trip argument); inner arrays are in
    code order so ADC tables built with transform() stay positional."""
    return F.expr(
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "named_struct('_code', {c}, '_ctr', array({vals}))".format(
                    c=c, vals=", ".join(f"{x!r}D" for x in ctr)
                )
                for c, ctr in enumerate(book)
            )
            + ")"
            for book in books
        )
        + ")"
    )


def _sq_dist(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    unit: bool = False,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Encode every vector as its per-subspace argmin codes:
    ``(id, *keep, codes array<int>)``, ties broken code-asc. One scan,
    zero shuffle — the encode is the PQ index build, run once per
    ingest batch; at rest the codes column is m bytes/vector.

    The distance grid is computed with vectorized numpy inside one
    Arrow ``mapInPandas`` (the FAISS `add()` design): per subspace,
    one (batch × codes × dims) squared-diff reduction. The reduction
    is a sequential float64 add over the d sub-dimensions (numpy sums
    axes under 128 elements sequentially), bit-identical to the
    JVM/DuckDB left fold, and ``argmin``'s first-minimum rule IS the
    (dist, code)-asc tie-break — so the codes hash-match the DuckDB
    twin exactly. An earlier pure-expression formulation put the whole
    m×k×d grid in ONE nested higher-order function; Catalyst evaluates
    those interpreted, per row (~30 ms/row measured at m=8, k=16 —
    hours per million vectors). Encoding is the only stage of PQ that
    touches every corpus float, so it is exactly the stage that must
    be vectorized.

    ``unit=True`` declares ``vec_col`` already L2-normalized (e.g. an
    IVF index's ``_cv``) — re-normalizing an already-unit vector is
    not a bitwise no-op and would break cross-engine parity. ``keep``
    carries extra columns (e.g. the IVF cell) through the encode.
    """
    import numpy as np
    import pandas as pd

    m, k, d = len(books), len(books[0]), len(books[0][0])
    cb = np.asarray(books, dtype=np.float64)  # (m, k, d)

    base = corpus.select(
        F.col(id_col), *[F.col(c) for c in keep], as_double(vec_col).alias("_r")
    )
    if unit:
        src = base.withColumnRenamed("_r", "_v")
    else:
        src = base.withColumn("_nrm", norm(F.col("_r"))).select(
            id_col, *keep, F.transform("_r", lambda x: x / F.col("_nrm")).alias("_v")
        )
    out_schema = ", ".join(
        [f"{id_col} {src.schema[id_col].dataType.simpleString()}"]
        + [f"{c} {src.schema[c].dataType.simpleString()}" for c in keep]
        + ["codes array<int>"]
    )

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            vs = np.stack(pdf["_v"].to_numpy())  # (n, m*d) float64
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                diff = vs[:, j * d : (j + 1) * d][:, None, :] - cb[j][None, :, :]
                codes[:, j] = np.square(diff).sum(axis=2).argmin(axis=1)
            out = {id_col: pdf[id_col]}
            for c in keep:
                out[c] = pdf[c]
            out["codes"] = list(codes)
            yield pd.DataFrame(out)

    return src.mapInPandas(encode, out_schema)


def pq_query_dist_tables(
    queries: DataFrame,
    books: list[list[list[float]]],
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, _dt array<array<double>>): the per-query ADC distance
    tables dt[j][c] = ||u_j - books[j][c]||², computed in ONE Arrow
    ``mapInPandas`` instead of the ``_pq_dist_table`` expression form.

    Why (round 13, guide §1.2/§3.3): the expression form inlines the
    whole m×k×d codebook as a plan literal (8·16·8 = 1024 doubles ≈
    30 KB of plan text at the demo geometry, 16× that at a production
    k=256) wrapped in nested higher-order lambdas. That tree is
    re-parsed and re-optimized by Catalyst on EVERY call and the
    projection is evaluated interpreted (HOFs don't codegen), with the
    query normalization re-evaluated inside the innermost lambda — per
    call the driver paid seconds of analysis on a 10-row side. Here
    the codebook travels in the function closure (zero plan bytes) and
    the plan node is a single MapInPandas.

    Bit-exactness with the expression form (and the DuckDB twin): the
    norm and every squared-distance sum are explicit sequential left
    folds over Python/IEEE doubles — the same order as the JVM
    ``F.aggregate`` fold and DuckDB's ``list_sum`` — and float32
    inputs widen exactly to double. Division by a zero norm follows
    IEEE (inf/nan) via numpy scalars, matching the JVM."""
    import numpy as np
    import pandas as pd

    m, d = len(books), len(books[0][0])
    # plain Python floats (IEEE doubles), code-ordered like _books_expr
    cb = [[[float(x) for x in ctr] for ctr in book] for book in books]
    id_type = queries.schema[query_id_col].dataType.simpleString()

    def tables(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for vec in pdf[vec_col]:
                r = np.asarray(vec, dtype=np.float64)
                s = 0.0
                for x in r:
                    s += x * x
                nrm = np.sqrt(s)
                with np.errstate(divide="ignore", invalid="ignore"):
                    u = r / nrm
                dt = []
                for j in range(m):
                    su = u[j * d : (j + 1) * d]
                    row = []
                    for ctr in cb[j]:
                        acc = 0.0
                        for i in range(d):
                            diff = su[i] - ctr[i]
                            acc += diff * diff
                        row.append(float(acc))
                    dt.append(row)
                out.append(dt)
            yield pd.DataFrame({query_id_col: pdf[query_id_col], "_dt": out})

    return queries.select(query_id_col, vec_col).mapInPandas(
        tables, f"{query_id_col} {id_type}, _dt array<array<double>>"
    )


def _pq_dist_table(u: Column | str, books: list[list[list[float]]]) -> Column:
    """ADC distance table array<array<double>> for a unit-normalized
    query column: dt[j][c] = ||u_j - books[j][c]||², positional in code
    order (books are built code-ordered; transform preserves it)."""
    d = len(books[0][0])
    u = F.col(u) if isinstance(u, str) else u
    return F.transform(
        _books_expr(books),
        lambda book, j: F.transform(
            book, lambda c: _sq_dist(F.slice(u, j * d + 1, d), c["_ctr"])
        ),
    )


def _adc_score(codes: Column | str, dt: Column | str) -> Column:
    """Σ_j dt[j][codes[j]] + the 6-dp tie-up round — the ADC score both
    PQ search paths share."""
    codes = F.col(codes) if isinstance(codes, str) else codes
    dt = F.col(dt) if isinstance(dt, str) else dt
    return F.round(
        F.aggregate(
            F.zip_with(codes, dt, lambda c, t: F.element_at(t, c + F.lit(1))),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        + F.lit(1e-9),
        6,
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: per query, build the m×k
    distance table dt[j][c] = ||q_j - books[j][c]||², broadcast it, and
    score each corpus vector as Σ_j dt[j][codes[j]] — a pure array
    lookup over the CODES, never the floats. Returns
    ``(query_id, vec_id, approx_d, rank)``, distance-asc, 6-dp rounded
    (tie-up nudge) with an id tiebreak for engine-portable ranking.

    Scale shape: the corpus side is one codes-column scan (m bytes per
    vector); the broadcast side is |Q| rows × m×k doubles; ranking is
    WindowGroupLimit-prunable. Recall floor vs the exact baseline is
    pinned in tests (ADC is approximate by construction — codes
    quantize the corpus, queries stay exact)."""
    from pyspark.sql import Window

    enc = codes if codes is not None else pq_encode(corpus, books, id_col, vec_col)
    # round 13: distance tables via numpy (pq_query_dist_tables) — the
    # _pq_dist_table expression form put the whole codebook in the plan
    # as a literal and cost seconds of Catalyst work per call
    qt = pq_query_dist_tables(queries, books, query_id_col, vec_col)
    scored = (
        enc.crossJoin(F.broadcast(qt))
        .where(F.col(query_id_col) != F.col(id_col))
        .withColumn("approx_d", _adc_score("codes", "_dt"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("approx_d").asc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "approx_d", "rank")
    )


def ivfpq_topk(
    index: IvfIndex,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """IVFPQ (Jégou et al. 2011 §V, the FAISS `IVFPQ` index): the
    coarse quantizer prunes the corpus to ``nprobe`` cells, then PQ
    asymmetric distance scores only the survivors' CODES — composing
    the two pruning axes: IVF cuts the ROWS scanned (nprobe/n_centroids
    of the corpus), PQ cuts the BYTES per row (m codes vs the float
    vector). At 100 TB the cell is the storage partition key and the
    codes column is the only thing the probe reads: nprobe directory
    scans of m-byte rows, one broadcast of (query dt × nprobe cells),
    one WindowGroupLimit rank. Returns (query_id, id, approx_d, rank),
    distance-asc, 6-dp rounded with id tiebreak."""
    from pyspark.sql import Window

    idc = index.id_col
    # _cv is the index's stored unit-normalized vector; unit=True keeps
    # the encode bit-compatible with the oracle's once-normalized form
    enc = pq_encode(
        index.assigned, books, id_col=idc, vec_col="_cv", unit=True, keep=("_cell",)
    )
    q_n = _unit_normed(queries, query_id_col, vec_col).withColumnRenamed("_v", "_qv")
    probes = F.slice(
        F.array_sort(_cell_scores(F.col("_qv"), _centers_expr(index.centers))), 1, nprobe
    )
    q_probed = q_n.select(
        query_id_col,
        _pq_dist_table(F.col("_qv"), books).alias("_dt"),
        F.explode(F.transform(probes, lambda p: p["_cell"])).alias("_qcell"),
    )
    scored = enc.join(F.broadcast(q_probed), F.col("_cell") == F.col("_qcell"))
    if exclude_self:
        scored = scored.where(F.col(query_id_col) != F.col(idc))
    scored = scored.withColumn("approx_d", _adc_score("codes", "_dt"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("approx_d").asc(), F.col(idc))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(query_id_col, idc, "approx_d", "rank")
    )


def semantic_dedup(
    index: IvfIndex,
    threshold: float = 0.7,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-blocked
    semantic deduplication over an embedding corpus. Pairwise cosine is
    computed ONLY within a quantizer cell (the paper's k-means
    clusters), and a vector is dropped when any lower-id cell-mate
    scores >= ``threshold`` — the paper's upper-triangular keep rule,
    which makes the survivor set order-deterministic without a
    connected-components pass. (The reference has no embedding stack;
    this extends its dedup surface to the embedding modality.)

    Returns one row per corpus vector: (id, cell, n_dominators,
    is_kept).

    Scale: the join is an equi shuffle on `_cell`, so cost is
    sum(|cell|^2) — choose n_centroids ~ sqrt(n) to bound cells (the
    paper uses k=50k for LAION), and a hot cell caps the same way the
    minhash banding caps hot buckets. Nothing is O(n^2) globally; the
    cell is also the at-rest partition key, so re-dedup after appends
    touches only dirty cells. Cosine is 6-dp-rounded before the
    threshold compare so engines agree at the boundary.
    """
    idc = index.id_col
    asg = index.assigned
    a = asg.select(F.col(idc).alias("_aid"), F.col("_cv").alias("_av"), "_cell")
    b = asg.select(F.col(idc).alias("_bid"), F.col("_cv").alias("_bv"), "_cell")
    dom = (
        a.join(b, "_cell")
        .where(F.col("_aid") < F.col("_bid"))
        .where(F.round(dot(F.col("_av"), F.col("_bv")), 6) >= threshold)
        .groupBy("_bid")
        .agg(F.count(F.lit(1)).alias("n_dominators"))
    )
    return (
        asg.select(idc, F.col("_cell").cast("int").alias("cell"))
        .join(dom, F.col(idc) == F.col("_bid"), "left")
        .select(
            idc,
            "cell",
            F.coalesce("n_dominators", F.lit(0)).cast("long").alias("n_dominators"),
            (F.coalesce("n_dominators", F.lit(0)) == 0).alias("is_kept"),
        )
    )


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily select ``k`` of the ``pool`` most-relevant
    candidates, each step taking the argmax of
    ``lam * rel(c) - (1 - lam) * max_sim(c, selected)`` — the RAG-retrieval
    re-ranker that trades raw relevance for coverage so the k results
    are not k paraphrases of each other.

    Determinism contract: candidate relevances are the 6-dp-rounded
    cosines of ``brute_force_topk``; pairwise candidate sims are
    6-dp-rounded in the JVM BEFORE the greedy stage; each step's score
    is ``round(.. + 1e-9, 6)`` (the repo's tie-up nudge) with an id-asc
    tiebreak — so the Python greedy consumes only pre-rounded doubles
    and the whole operator hash-checks against an unrolled SQL twin.

    Scale shape: stage 1 is the existing top-k (corpus never shuffles);
    stage 2 self-joins the CANDIDATE set only — ``pool²`` rows per
    query, corpus-independent; stage 3 is one Arrow ``applyInPandas``
    whose per-group state is the pool-sized score table, parallel
    across queries. The sequential part of MMR (selection is inherently
    a chain) touches pool² kilobytes per query, never the corpus.
    """
    import pandas as pd

    cand = brute_force_topk(
        corpus, queries, k=pool, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, exclude_self=exclude_self,
    )
    c_n = corpus.select(F.col(id_col), as_double(vec_col).alias("_v")).withColumn(
        "_n", norm("_v")
    )
    cv = cand.select(query_id_col, id_col, F.col("cosine").alias("rel")).join(
        c_n, id_col
    )
    a = cv.select(
        query_id_col,
        F.col(id_col).alias("a_id"),
        F.col("rel").alias("rel_a"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = cv.select(
        query_id_col,
        F.col(id_col).alias("b_id"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    # a==b self rows are kept: they carry rel_a for pool-of-one groups
    pairs = (
        a.join(b, query_id_col)
        .withColumn(
            "sim",
            F.round(dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6),
        )
        .select(query_id_col, "a_id", "rel_a", "b_id", "sim")
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        rel: dict[int, float] = {}
        sim: dict[tuple[int, int], float] = {}
        for r in pdf.itertuples(index=False):
            rel[r.a_id] = r.rel_a
            sim[(r.a_id, r.b_id)] = r.sim
        qid = int(pdf[query_id_col].iloc[0])
        cands = sorted(rel)
        selected: list[int] = []
        out = []
        while len(selected) < min(k, len(cands)):
            best_s, best_c = None, None
            for cid in cands:
                if cid in selected:
                    continue
                if not selected:
                    s = round(lam * rel[cid] + 1e-9, 6)
                else:
                    ms = max(sim[(cid, sel)] for sel in selected)
                    s = round(lam * rel[cid] - (1 - lam) * ms + 1e-9, 6)
                if best_s is None or s > best_s:
                    best_s, best_c = s, cid
            selected.append(best_c)
            out.append((qid, best_c, best_s, len(selected)))
        return pd.DataFrame(
            out, columns=[query_id_col, id_col, "mmr_score", "rank"]
        )

    schema = f"{query_id_col} long, {id_col} long, mmr_score double, rank int"
    return pairs.groupBy(query_id_col).applyInPandas(greedy, schema)


# --- Johnson-Lindenstrauss random projection over int8 codes ---

@functools.cache
def _rp_matrix(out_dim: int, in_dim: int, seed: int):
    """Deterministic ±1 projection matrix (Achlioptas 2003: Rademacher
    entries satisfy the JL lemma) derived from the repo's portable hash
    family: row j uses its own (a_j, b_j) pair and the sign is the
    HIGH half of the hash — s[j,i] = 1 - 2*((a_j*i + b_j mod P)*2 // P).
    The high-range test matters: the LOW bit (parity) of a linear
    function mod an odd prime alternates almost periodically in i,
    which collapses the rows to near-copies and destroys the JL
    property (measured: 0.08 top-5 recall vs 0.945 median distance
    ratio after the fix). Any engine rebuilds the identical matrix
    from (out_dim, in_dim, seed) alone — the model artifact is three
    integers; nothing ships to executors."""
    import numpy as np

    from crypto_data_pipeline_spark.operators.dedup import (
        PORTABLE_MOD,
        portable_minhash_params,
    )

    i = np.arange(in_dim, dtype=np.int64)
    rows = [
        1 - 2 * (((a * i + b) % PORTABLE_MOD) * 2 // PORTABLE_MOD)
        for a, b in portable_minhash_params(out_dim, seed)
    ]
    return np.stack(rows).astype(np.int64)


def with_rp_codes(
    df: DataFrame,
    out_dim: int = 16,
    seed: int = 41,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """JL-project each vector to ``out_dim`` integer coordinates:
    int8-quantize (with_int8_codes — the proven at-rest format), then
    y = S·q with the ±1 matrix above. ALL-INTEGER arithmetic, so the
    projection is bit-identical across engines and summation orders —
    the property that lets a lossy dimensionality reduction still
    hash-check against a DuckDB oracle.

    Physical shape (the PQ-encode lesson, docs/ROUND6_NOTES.md): a
    16x64 sum grid as nested higher-order functions would evaluate
    interpreted per row, so the matmul runs as ONE numpy int64
    ``Q @ S.T`` per Arrow batch inside mapInPandas — zero shuffle,
    vectorized, 4x fewer bytes per row out than in."""
    codes = with_int8_codes(df, vec_col).select(id_col, "q")

    def project(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            s = _rp_matrix(out_dim, q.shape[1], seed)
            y = q @ s.T
            yield pd.DataFrame({id_col: pdf[id_col], "y": list(y)})

    return codes.mapInPandas(project, f"{id_col} long, y array<long>")


def rp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    out_dim: int = 16,
    seed: int = 41,
) -> DataFrame:
    """Top-k nearest neighbors in the PROJECTED space: exact integer
    squared-L2 over out_dim coordinates — 4x fewer multiplies than the
    raw-dimension scan and a deterministic (dist, vec_id) tie-break,
    so even this approximate-retrieval path is value-checkable. The
    projected query set is the broadcast side; the corpus streams
    through its projection unshuffled; top-k is WindowGroupLimit.

    Id-space contract: queries are assumed DRAWN FROM THE CORPUS ID
    SPACE (as in embedding_rp_topk and its oracle, and the rest of
    this module's registered neighbor queries) — the
    ``vec_id != query_id`` predicate below is self-match exclusion
    under that assumption. For queries with their own id namespace it
    would both drop an unrelated corpus vector that happens to share
    the id and keep a true self-match filed under a different id;
    such callers should pre-offset their query ids out of the corpus
    range (or not, if self-matches are wanted) rather than rely on
    this predicate."""
    c = with_rp_codes(corpus, out_dim, seed)
    q = with_rp_codes(
        queries.withColumnRenamed("query_id", "vec_id"), out_dim, seed
    ).select(F.col("vec_id").alias("query_id"), F.col("y").alias("qy"))
    dist = F.aggregate(
        F.zip_with("qy", "y", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    from pyspark.sql import Window

    pairs = (
        c.join(F.broadcast(q), c["vec_id"] != q["query_id"])
        .withColumn("rp_dist", dist)
        .select("query_id", "vec_id", "rp_dist")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rp_dist").asc(), F.col("vec_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "rp_dist", F.col("rank").cast("int").alias("rank"))
    )
