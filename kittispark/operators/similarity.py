"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — broadcast the (small) query set
against the candidate corpus; all arithmetic is built-in higher-order
functions in double precision (zip_with dot product folded
left-to-right, so a SQL oracle reproduces it bit-for-bit).

Scale path: random-hyperplane LSH bucketing (sign sketch of r
projections -> equi-join on bucket) so each query only meets its
bucket — the O(n^2) cross product becomes output-bounded, same shape
as the MinHash banding join. An IVF variant (nearest-of-C-centroids
partitioning) is the other standard layout; LSH is chosen here
because it needs no iterative training pass.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kittispark.operators.util import column_ref_sql, materialize

# Deterministic pseudo-random hyperplanes: seeded LCG constants (no
# runtime randomness — plans must be reproducible across runs).
_LCG_A, _LCG_C, _LCG_M = 6_364_136_223_846_793_005, 1_442_695_040_888_963_407, 1 << 63


def _hyperplane(dim: int, seed: int) -> list[float]:
    state = seed & 0x7FFFFFFFFFFFFFFF
    out = []
    for _ in range(dim):
        state = (_LCG_A * state + _LCG_C) % _LCG_M
        out.append((state / _LCG_M) * 2.0 - 1.0)
    return out


def as_double(col: str | Column) -> Column:
    return F.col(col).cast("array<double>") if isinstance(col, str) else col.cast(
        "array<double>"
    )



def _unit_rows(m: "np.ndarray") -> "np.ndarray":
    """Row-normalize, leaving zero-norm rows at zero instead of NaN:
    a zero vector then scores cosine 0 against everything in the
    NumPy kernels (assignment/bucketing), while the expression-side
    scorers exclude it via NULL — either way it can never rank."""
    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.where(n == 0.0, 1.0, n)


# The engine's standard embedding width. Every vector expression
# below carries a GUARDED static fast path for this width (r11
# optimization round): higher-order-function folds are CodegenFallback
# — interpreted per row inside the generated stage — while the
# explicitly expanded 64-term chain stays in whole-stage codegen (the
# d2_static precedent: measured ~2.5x end-to-end on the PQ hot
# paths). The dispatch is a lazy CASE WHEN on size(), so any other
# width (or a NULL array) falls through to the fold unchanged, and
# the static chain is seeded with the SAME literal 0.0 accumulator as
# the fold — ((0.0 + t1) + t2)... — so results are bit-identical
# INCLUDING signed zeros (an unseeded chain would emit -0.0 where the
# fold's 0.0 + (-0.0) normalizes to +0.0). 64 terms is two orders of
# magnitude below the literal-expression size where codegen compile
# blew up in the rejected pq_encode literal-fold A/B (SCALING.md r11).
_STATIC_DIM = 64


@functools.lru_cache(maxsize=None)
def _vec_chain_sql(
    kind: str, ra: str, rb: str | None = None, width: int = _STATIC_DIM
) -> str:
    """The guarded static chain as SQL text, for ONE F.expr parse
    instead of ~1000 py4j round-trips (r12 finding: the r11
    Column-by-Column build cost ~380 ms of DRIVER time per call site
    per execution — the bench reads it as a 2-3x regression on every
    vector query at sf0.1, where driver-side plan construction
    dominates the sub-second runtime; one parse is ~36 ms and the
    cache makes repeat column names free). The parsed tree is
    CANONICALLY EQUAL to the r11 Column-built form (whose reference
    builders tests/test_plans.py keeps), so results, plans and
    generated code are bit-identical.

    Args are SQL column references (util.column_ref_sql). The cache
    holds the text, not a parsed Column: a Column is bound to one py4j
    gateway and would go stale when the gateway restarts."""
    d = width
    if kind == "dot":
        chain = " + ".join(
            f"element_at({ra}, {i}) * element_at({rb}, {i})"
            for i in range(1, d + 1)
        )
        fold = (
            f"aggregate(zip_with({ra}, {rb}, (x, y) -> x * y), 0.0D,"
            " (acc, x) -> acc + x)"
        )
        return (
            f"CASE WHEN size({ra}) = {d} AND size({rb}) = {d}"
            f" THEN 0.0D + {chain} ELSE {fold} END"
        )
    if kind == "norm":
        chain = " + ".join(
            f"element_at({ra}, {i}) * element_at({ra}, {i})"
            for i in range(1, d + 1)
        )
        fold = f"SQRT(aggregate({ra}, 0.0D, (acc, x) -> acc + x * x))"
        return (
            f"CASE WHEN size({ra}) = {d}"
            f" THEN SQRT(0.0D + {chain}) ELSE {fold} END"
        )
    if kind == "d2":
        chain = " + ".join(
            f"(element_at({ra}, {i}) - element_at({rb}, {i}))"
            f" * (element_at({ra}, {i}) - element_at({rb}, {i}))"
            for i in range(1, d + 1)
        )
        fold = (
            f"aggregate(zip_with({ra}, {rb}, (x, y) -> (x - y) * (x - y)),"
            " 0.0D, (acc, x) -> acc + x)"
        )
        return (
            f"CASE WHEN size({ra}) = {d} AND size({rb}) = {d}"
            f" THEN 0.0D + {chain} ELSE {fold} END"
        )
    raise ValueError(f"unknown chain kind: {kind}")


def dot(a: str | Column, b: str | Column, width: int = _STATIC_DIM) -> Column:
    """Left-to-right folded dot product in double precision, with the
    guarded codegen fast path for `width` (default: the standard
    corpus width; callers operating on a known different width — the
    16-dim truncation audit — pass theirs so the chain, not the
    interpreted fold, scores their rows). The arguments name columns
    (names or bare F.col references, mixed freely): the chain is one
    cached parse (_vec_chain_sql)."""
    return F.expr(_vec_chain_sql("dot", column_ref_sql(a), column_ref_sql(b), width))


def norm(a: str | Column, width: int = _STATIC_DIM) -> Column:
    return F.expr(_vec_chain_sql("norm", column_ref_sql(a), None, width))


def rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """THE canonical per-query ranking: (desc sim, asc neighbor_id)
    row_number tiebreak, round(sim, 4), rk <= k. Every top-k surface
    (exhaustive baseline, LSH, both IVF paths) MUST rank through this
    one helper — the exhaustive/ANN comparisons and the indexed-vs-
    in-memory row-identity gate are only meaningful while the
    tiebreak and rounding never fork."""
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    # zero-norm vectors score NULL (undefined direction) — excluded
    # from every ranking rather than riding NULLS LAST into the tail
    scored = scored.filter(F.col("sim").isNotNull())
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            F.round("sim", 4).alias("sim"),
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= k)
    )


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: broadcast queries x candidates, rank
    within each query with a deterministic tiebreak. The exhaustive
    baseline every ANN variant is measured against."""
    # Norms are precomputed per ROW before the pair join — bit-identical
    # to dot(a, b) / (norm(a) * norm(b)) per pair (same fold on the same
    # data) but 1 array fold per pair instead of 3.
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    ).withColumn("qn", norm("qv"))
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv")
    ).withColumn("cn", norm("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot("qv", "cv")
             / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0))).alias("sim"),
        )
    )
    return rank_topk(scored, k)


def _lsh_buckets_udf(df: DataFrame, vec_col: str, out_col: str, dim: int,
                     num_planes: int, num_tables: int, seed: int = 2024,
                     bc=None) -> DataFrame:
    """Attach array<long> of per-table sign-sketch bucket ids in one
    vectorized pass: ONE broadcast (num_tables*num_planes, dim) plane
    matrix and ONE numpy GEMM per Arrow batch. Layout: seeded planes
    in table-major order, first plane = MSB of each bucket id. Both
    sides of a bucket join must use THIS kernel (they do:
    ann_lsh_topk buckets corpus and queries through it) — BLAS
    summation order differs from an expression fold, so a dot
    product within a ulp of 0 could flip a sign bit between
    implementations. (An equivalent column-expression variant was
    removed as dead code: a num_tables*num_planes*dim literal tree
    took ~11 s to COMPILE and ran interpreted per element.)"""
    from pyspark.sql import types as T

    if bc is None:
        planes = np.array(
            [
                _hyperplane(dim, seed + t * num_planes + p)
                for t in range(num_tables)
                for p in range(num_planes)
            ],
            dtype="float64",
        )
        bc = df.sparkSession.sparkContext.broadcast(planes)
    weights = (1 << np.arange(num_planes - 1, -1, -1)).astype("int64")

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:  # np.stack raises on an empty Arrow batch
            return pd.Series([], dtype=object)
        m = np.stack(v.to_numpy()).astype("float64")
        bits = (m @ bc.value.T) >= 0
        b = (bits.reshape(len(m), num_tables, num_planes) * weights).sum(axis=2)
        return pd.Series(list(b.astype("int64")))

    return df.withColumn(out_col, buckets(F.col(vec_col)))


def ann_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 5,
    num_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via multi-table LSH: a candidate must share a
    bucket with the query in at least one of `num_tables` tables
    (OR-amplification — a single table's recall decays as buckets get
    fine; the union keeps it high while each table stays selective).

    At 100 TB the (t, b) pairs are precomputed and the corpus is
    written bucketed by them, so a query reads num_tables buckets
    instead of the full corpus; candidate dedup is a shuffle on
    (query, neighbor) bounded by candidate volume, not corpus size.
    Bucket ids come from one broadcast-GEMM pandas_udf pass (shared
    plane broadcast between corpus and queries).
    """
    planes = np.array(
        [
            _hyperplane(dim, 2024 + t * num_planes + p)
            for t in range(num_tables)
            for p in range(num_planes)
        ],
        dtype="float64",
    )
    bc = vectors.sparkSession.sparkContext.broadcast(planes)

    def tb(df, id_alias, v_alias, n_alias):
        out = df.select(
            F.col(id_col).alias(id_alias), as_double(vec_col).alias(v_alias)
        ).withColumn(n_alias, norm(v_alias))
        out = _lsh_buckets_udf(
            out, v_alias, "__b", dim, num_planes, num_tables, bc=bc
        )
        return out.select(
            "*", F.posexplode("__b").alias("t", "b")
        ).drop("__b")

    c = tb(vectors, "neighbor_id", "cv", "cn")
    q = tb(queries, "query_id", "qv", "qn")
    scored = (
        c.join(F.broadcast(q), ["t", "b"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            (dot("qv", "cv")
             / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0))).alias("sim"),
        )
    )
    return rank_topk(scored, k)


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold.

    Exhaustive half-matrix as a DISTRIBUTED block-pair GEMM — block
    matrix multiplication, the layout every distributed all-pairs
    similarity system uses:

    1. Each row hashes to one of `n_blocks` blocks.
    2. A row of block b is shipped to every block-pair group it
       participates in: (b, j) for j >= b as the A side and (i, b)
       for i <= b as the B side — replication factor n_blocks + 1.
    3. ``applyInPandas`` over (gi, gj) runs ONE numpy matmul (BLAS)
       between the two blocks and emits pairs above the threshold.

    Nothing is ever collected to the driver; each task holds exactly
    two blocks, so executor memory is bounded by
    2 * (corpus_rows / n_blocks) * dim * 8 bytes — at 100 TB, raise
    `n_blocks` so a block fits (shuffle volume grows linearly with
    n_blocks, the standard blocked-GEMM trade). Within a diagonal
    group (gi == gj) the id_a < id_b guard keeps the half matrix; a
    cross pair lives in exactly one group and is emitted
    min-id-first. The threshold keeps OUTPUT bounded; compute is
    honestly O(n^2/2) dot products — that exhaustiveness is the
    point of this operator (LSH/IVF are the sub-quadratic paths)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    base = vectors.select(
        F.col(id_col).cast("long").alias("id"), as_double(vec_col).alias("v")
    ).withColumn("bid", F.pmod(F.xxhash64("id"), F.lit(n_blocks)).cast("int"))
    a_side = base.select(
        F.col("bid").alias("gi"),
        F.explode(F.sequence(F.col("bid"), F.lit(n_blocks - 1))).alias("gj"),
        F.lit(0).alias("side"),
        "id",
        "v",
    )
    b_side = base.select(
        F.explode(F.sequence(F.lit(0), F.col("bid"))).alias("gi"),
        F.col("bid").alias("gj"),
        F.lit(1).alias("side"),
        "id",
        "v",
    )
    both = a_side.unionByName(b_side)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        gi, gj = int(pdf["gi"].iat[0]), int(pdf["gj"].iat[0])
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "sim": "float64"}
            )
        a_ids = a["id"].to_numpy(dtype="int64")
        b_ids = b["id"].to_numpy(dtype="int64")
        am = np.stack(a["v"].to_numpy()).astype("float64")
        bm = np.stack(b["v"].to_numpy()).astype("float64")
        am = _unit_rows(am)
        bm = _unit_rows(bm)
        sims = am @ bm.T
        hit = sims >= threshold
        if gi == gj:
            hit &= a_ids[:, None] < b_ids[None, :]
        ii, jj = np.nonzero(hit)
        lo = np.minimum(a_ids[ii], b_ids[jj])
        hi = np.maximum(a_ids[ii], b_ids[jj])
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "sim": np.round(sims[ii, jj], 4)}
        )

    return both.groupBy("gi", "gj").applyInPandas(kernel, schema)


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the other standard scale layout
# --------------------------------------------------------------------------


def _assign_nearest(df: DataFrame, cents, vec_col: str, out_col: str, nprobe: int = 1,
                    bc=None) -> DataFrame:
    """Attach the ids of the `nprobe` nearest centroids (by cosine,
    ties to the lowest id) as `out_col` (array<int>). Vectorized
    Arrow-batched kernel over a broadcast centroid matrix — the
    assignment is a GEMM, not a per-row loop. Pass `bc` (an existing
    broadcast of the NORMALIZED centroid matrix) to share one
    broadcast across several assignment passes."""
    from pyspark.sql import types as T

    if bc is None:
        sc = df.sparkSession.sparkContext
        norm_c = _unit_rows(cents)
        bc = sc.broadcast(norm_c)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def nearest(v: pd.Series) -> pd.Series:
        if len(v) == 0:  # np.stack raises on an empty Arrow batch
            return pd.Series([], dtype=object)
        if bc.value.shape[0] == 0:
            # Index trained on an empty corpus (the (0,1) sentinel from
            # ivf_train_centroids): there are no cells to probe, so
            # every row gets an empty probe list — downstream explode/
            # join stages then flow through empty instead of this GEMM
            # raising a (n,64)@(1,0) shape ValueError (ADVICE r5).
            empty = np.array([], dtype="int32")
            return pd.Series([empty] * len(v))
        m = _unit_rows(np.stack(v.to_numpy()).astype("float64"))
        sims = m @ bc.value.T
        # stable argsort: descending sim, ascending centroid id on ties
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype("int32")))

    return df.withColumn(out_col, nearest(F.col(vec_col).cast("array<double>")))


def ivf_train_centroids(
    vectors: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train: int = 10_000,
):
    """Deterministic sample-trained centroids: collect the lowest-id
    `max_train` vectors ONCE (one Spark job, bounded bytes regardless
    of corpus size) and run Lloyd rounds in NumPy on the driver —
    exactly how production IVF indexes are trained (a bounded training
    sample, never the full corpus). Init = the first n_centroids
    sample rows; assignment is a GEMM; empty clusters keep their
    previous position. At 100 TB only the two *assignment* passes are
    distributed — training cost is constant."""
    sample = (
        vectors.orderBy(id_col)
        .limit(max_train)
        .select(as_double(vec_col).alias("v"))
        .collect()
    )
    if not sample:
        # empty corpus: an index over nothing has no cells — return a
        # (0, 1) matrix so every downstream assignment/scoring stage
        # flows through empty instead of tripping numpy axis errors
        return np.zeros((0, 1), dtype="float64")
    m = np.array([r["v"] for r in sample], dtype="float64")
    mn = _unit_rows(m)
    cents = m[:n_centroids].copy()
    for _ in range(n_iter):
        cn = _unit_rows(cents)
        # ties -> lowest centroid id, matching _assign_nearest's stable sort
        assign = np.argmax(mn @ cn.T, axis=1)
        for cid in range(n_centroids):
            members = m[assign == cid]
            if len(members):
                cents[cid] = members.mean(axis=0)
    return cents


def _assigned_corpus(vectors, cents, vec_col, id_col, bc=None):
    """Corpus rows assigned to their nearest centroid: (neighbor_id,
    cv double[], cid). Shared by the in-memory IVF path and the index
    writer so the persisted layout is bit-identical to the in-memory
    assignment (a gated invariant of ann_ivf_indexed_match)."""
    return _assign_nearest(vectors, cents, vec_col, "__c", nprobe=1, bc=bc).select(
        F.col(id_col).alias("neighbor_id"),
        as_double(vec_col).alias("cv"),
        F.element_at("__c", 1).alias("cid"),
    )


def _score_bucketed_topk(corpus: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Bucket-join cosine top-k: corpus (neighbor_id, cv, cid, cn) x
    broadcast queries (query_id, qv, cid, qn) -> per-query ranked
    top-k with the (desc sim, asc neighbor_id) tiebreak and round-4
    sim. ONE implementation shared by ann_ivf_topk and
    ann_ivf_topk_indexed — their row-identical output is a gated
    invariant, so the tiebreak/rounding must never fork."""
    scored = (
        corpus.join(F.broadcast(q), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot("qv", "cv")
             / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0))).alias("sim"),
        )
    )
    return rank_topk(scored, k)


def ann_ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_iter: int = 2,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: candidates live in their nearest
    centroid's list; each query probes its `nprobe` nearest lists.

    At 100 TB the trained centroids are a saved artifact and the
    corpus is written partitioned/bucketed by `cid`, so a query scans
    nprobe/C of the data — the partition-pruned layout IVF exists
    for. Training cost is n_iter narrow passes; no pair explosion
    anywhere."""
    cents = ivf_train_centroids(vectors, n_centroids, n_iter, id_col, vec_col)
    # One broadcast of the normalized centroid matrix, shared by the
    # corpus and query assignment passes (two pandas_udf kernels, one
    # payload shipped).
    norm_c = _unit_rows(cents)
    bc = vectors.sparkSession.sparkContext.broadcast(norm_c)
    c = _assigned_corpus(vectors, cents, vec_col, id_col, bc=bc).withColumn(
        "cn", norm("cv")
    )
    q = (
        _assign_nearest(queries, cents, vec_col, "__c", nprobe=nprobe, bc=bc)
        .select(
            F.col(id_col).alias("query_id"),
            as_double(vec_col).alias("qv"),
            F.explode("__c").alias("cid"),
        )
        .withColumn("qn", norm("qv"))
    )
    return _score_bucketed_topk(c, q, k)


# --------------------------------------------------------------------------
# IVF as a persisted, partition-pruned index (the 100 TB serving path)
# --------------------------------------------------------------------------


def ivf_write_index(
    vectors: DataFrame,
    path: str,
    n_centroids: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF layout ann_ivf_topk only documents: train
    centroids (bounded sample), assign every vector its nearest
    centroid, and write the corpus PARTITIONED BY cid plus the
    centroid matrix as a side artifact. At 100 TB this runs once per
    index build; `ann_ivf_topk_indexed` then reads nprobe/C of the
    data per query batch via plain parquet partition pruning — no
    re-assignment, no full scan, no special index format."""
    spark = vectors.sparkSession
    cents = ivf_train_centroids(vectors, n_centroids, n_iter, id_col, vec_col)
    assigned = _assigned_corpus(vectors, cents, vec_col, id_col)
    assigned.write.partitionBy("cid").mode("overwrite").parquet(f"{path}/corpus")
    spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(cents)],
        "cid int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ann_ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve IVF top-k from a persisted index: load the centroid
    matrix (tiny), assign each query its nprobe lists, and scan ONLY
    those cid partitions (`cid IN (...)` is a partition filter — the
    scan never touches the other C-nprobe directories). The probed
    cid set is collected driver-side from the query batch: bounded by
    min(n_queries * nprobe, C) scalars, the price of turning a 1/C
    partition prune into a static scan filter. Results are identical
    to ann_ivf_topk run in-memory with the same parameters (same
    training determinism, same tiebreaks) — pinned by tests."""
    cent_rows = (
        spark.read.schema("cid int, centroid array<double>")
        .parquet(f"{path}/centroids")
        .orderBy("cid")
        .collect()
    )
    cents = (
        np.array([r["centroid"] for r in cent_rows], dtype="float64")
        if cent_rows
        else np.zeros((0, 1), dtype="float64")
    )
    norm_c = _unit_rows(cents)
    bc = spark.sparkContext.broadcast(norm_c)
    q = (
        _assign_nearest(queries, cents, vec_col, "__c", nprobe=nprobe, bc=bc)
        .select(
            F.col(id_col).alias("query_id"),
            as_double(vec_col).alias("qv"),
            F.explode("__c").alias("cid"),
        )
        .withColumn("qn", norm("qv"))
    )
    # materialize the assigned query batch once: the probed-cid
    # collect below AND the returned scoring plan both consume q, and
    # without this the pandas_udf assignment kernel would run twice
    q = materialize(q)
    probed = sorted({r["cid"] for r in q.select("cid").distinct().collect()})
    corpus = (
        spark.read.schema(
            "neighbor_id bigint, cv array<double>, cid int"
        )
        .parquet(f"{path}/corpus")
        .filter(F.col("cid").isin(probed))
        .withColumn("cn", norm("cv"))
    )
    return _score_bucketed_topk(corpus, q, k)


def kmeans_lloyd_step(
    emb: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One Lloyd iteration of k-means over an embedding column, fully
    declarative — the clustering primitive under IVF index builds and
    semantic-dedup bucketing.

    Deterministic seeding: the k lowest-id vectors are the initial
    centroids (no runtime randomness, so the plan is reproducible and
    SQL-checkable). Assignment is argmin squared-L2 over the
    broadcast k-row centroid table (tie -> lowest centroid id, via a
    struct-ordered min_by in ONE hash agg — no per-vector window);
    the update step re-averages each dimension of the assigned
    vectors (posexplode -> (cid, dim) hash agg).

    Output: one row per (cid, dim) with the updated centroid
    coordinate and the cluster population. At 100 TB the centroid
    side stays k rows (broadcast) and both aggs are partial+final
    hash aggregations; nothing collects to the driver.

    Delegates to kmeans_centroids(iters=1) so there is exactly ONE
    implementation of the assignment tiebreak and re-averaging
    (outputs are identical: final rounding of the unrounded per-dim
    average equals rounding the single iteration's average).
    """
    return kmeans_centroids(emb, k=k, iters=1, vec_col=vec_col, id_col=id_col)


def _lloyd_d2() -> Column:
    """Squared L2 between the bound columns `v` and `cv`: a left-to-
    right fold in dimension order, so a SQL oracle's ordered list_sum
    accumulates in the identical order (bit-exact; a hash-agg sum
    would not be). Rides fold_d2's guarded static fast path."""
    return fold_d2("v", "cv")


def _assign_min_d2(base: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid) argmin-d2 assignment of `base` (vec_id, v)
    against the broadcast centroid table (cid, cv): struct-ordered
    min_by in ONE hash agg (tie -> lowest cid), no per-vector
    window."""
    return (
        base.crossJoin(F.broadcast(cents))
        .select("vec_id", "cid", _lloyd_d2().alias("d2"))
        .groupBy("vec_id")
        .agg(F.min_by("cid", F.struct("d2", "cid")).alias("cid"))
    )


def _lloyd_rounds(
    base: DataFrame, cents: DataFrame, iters: int
) -> tuple[DataFrame, DataFrame]:
    """``iters`` Lloyd rounds chained lazily in one plan: re-assign
    (argmin d2, tie -> lowest cid) then re-average each dimension;
    centroid arrays are rebuilt per cluster with an order-restoring
    array_sort(collect_list(struct(dim, val))) — k rows, trivially
    small agg. Returns (final centroids (cid, cv), final assignment
    (vec_id, cid)). Shared by kmeans_centroids and the declarative
    IVF so the assignment tiebreak and re-averaging never fork.

    Known bounded risk: the per-dimension F.avg is a float sum whose
    accumulation order is engine/run dependent (unlike the ordered
    d2/dot folds), so re-averaged centroids can differ by ~1 ulp
    between engines; a next-round assignment flips only if two
    DIFFERENT centroids are equidistant to a vector within that ulp
    (exact-duplicate vectors tie-break on cid deterministically, so
    clones are safe). Never observed across the sf0.001..sf1synth
    sweeps; making it exact would need scaled-int dimension sums,
    which the adjudicated-oracle pair would both have to adopt —
    tracked as a documented limitation rather than silently assumed
    away."""
    best = None
    for _ in range(iters):
        best = _assign_min_d2(base, cents)
        asg = best.join(base, "vec_id")
        per_dim = (
            asg.select("cid", F.posexplode("v").alias("dim0", "x"))
            .groupBy("cid", F.col("dim0").alias("dim0"))
            .agg(F.avg("x").alias("val"))
        )
        cents = per_dim.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim0", "val"))),
                lambda s: s.val,
            ).alias("cv")
        )
    return cents, best


def ivf_topk_declarative(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    train_iters: int = 1,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k with a fully declarative, SQL-replayable
    pipeline — the value-adjudicable twin of ann_ivf_topk.

    Training: ``train_iters`` Lloyd rounds seeded by the lowest-id
    vectors (the kmeans_centroids machinery — deterministic, no
    driver-side NumPy whose pairwise-summed means no SQL engine can
    reproduce bit-for-bit). Cells are squared-L2 Voronoi regions of
    the trained centroids; each query probes its ``nprobe`` nearest
    cells; in-cell scoring is cosine with the (desc sim, asc id)
    tiebreak shared with every other top-k here.

    Scale shape identical to ann_ivf_topk: k-row broadcast centroid
    table for both assignment passes (linear, partial-agg argmin —
    no pair explosion), bucket equi-join on cid for scoring; with a
    cid-partitioned layout the serve scan prunes to nprobe/C of the
    corpus. Every float expression (d2 fold, dot, norm) folds in
    dimension order so the DuckDB oracle reproduces values exactly."""
    from pyspark.sql import Window as W

    v = as_double(vec_col)
    base = vectors.select(F.col(id_col).alias("vec_id"), v.alias("v"))
    seed = (
        vectors.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cid"), v.alias("cv"))
    )
    cents, _ = _lloyd_rounds(base, seed, train_iters)
    corpus = (
        _assign_min_d2(base, cents)
        .join(base, "vec_id")
        .select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), "cid")
        .withColumn("cn", norm("cv"))
    )
    qbase = queries.select(F.col(id_col).alias("vec_id"), v.alias("v"))
    w = W.partitionBy("vec_id").orderBy("d2", "cid")
    probed = (
        qbase.crossJoin(F.broadcast(cents))
        .select("vec_id", "cid", _lloyd_d2().alias("d2"))
        .select("vec_id", "cid", F.row_number().over(w).alias("__pr"))
        .filter(F.col("__pr") <= nprobe)
    )
    q = (
        probed.join(qbase, "vec_id")
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "cid")
        .withColumn("qn", norm("qv"))
    )
    return _score_bucketed_topk(corpus, q, k)


def kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``iters`` Lloyd iterations, chained lazily in one plan:
    each round re-assigns every vector to its nearest current
    centroid (broadcast k-row table, struct-ordered min_by) and
    re-averages; the centroid vector is rebuilt per cluster with an
    order-restoring array_sort(collect_list(struct(dim, val))) —
    k rows, so the rebuild agg is trivially small.

    Output is the FINAL per-(cid, dim) coordinate plus the final
    cluster population — same schema as kmeans_lloyd_step, so the
    two are drop-in comparable. Iteration count is fixed and small
    (the production convergence loop adds the scalar-witness pattern
    connected_components uses); per round the work is one broadcast
    cross join + two hash aggs, nothing driver-side.
    """
    v = as_double(vec_col)
    base = emb.select(F.col(id_col).alias("vec_id"), v.alias("v"))
    cents = (
        emb.orderBy(id_col)
        .limit(k)
        .select(F.col(id_col).alias("cid"), v.alias("cv"))
    )
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    cents, best = _lloyd_rounds(base, cents, iters)
    cnt = best.groupBy("cid").agg(F.count(F.lit(1)).alias("n_assigned"))
    out = cents.select(
        "cid", F.posexplode("cv").alias("dim0", "centroid_val")
    )
    return out.join(F.broadcast(cnt), "cid").select(
        "cid",
        (F.col("dim0") + 1).cast("int").alias("dim"),
        F.round("centroid_val", 6).alias("centroid_val"),
        "n_assigned",
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric-distance (ADC) serving
# --------------------------------------------------------------------------


@functools.lru_cache(maxsize=None)
def _d2_static_sql(ra: str, rb: str, n: int) -> str:
    return " + ".join(
        f"(element_at({ra}, {i}) - element_at({rb}, {i}))"
        f" * (element_at({ra}, {i}) - element_at({rb}, {i}))"
        for i in range(1, n + 1)
    )


def d2_static(a: str | Column, b: str | Column, n: int) -> Column:
    """Squared L2 expanded to an explicit n-term expression —
    bit-identical to fold_d2 (same left-to-right association; IEEE
    0.0 + t1 == t1 for the fold's seed), but it stays inside
    whole-stage codegen where the HOF fold is interpreted per row.
    Use on the PQ hot paths, where encode/table builds evaluate
    MILLIONS of tiny fixed-width folds (measured ~2.5x end-to-end on
    pq_rerank_topk at sf0.1). `n` must equal the actual slice width:
    a mismatch fails loudly (ANSI INVALID_ARRAY_INDEX), never
    truncates. The arguments name columns (one cached parse, see
    _vec_chain_sql)."""
    return F.expr(_d2_static_sql(column_ref_sql(a), column_ref_sql(b), n))


def fold_d2(a: str | Column, b: str | Column) -> Column:
    """Squared L2 between two equal-length array columns as a LEFT-TO-
    RIGHT fold in dimension order — bit-exact against a DuckDB
    list_sum(list_transform(...)) twin, where a hash-agg float sum
    would drift by summation order. Carries the guarded _STATIC_DIM
    codegen fast path (same association + 0.0 seed; squares are never
    -0.0, but the seed keeps the forms textually aligned). The
    arguments name columns (one cached parse, see _vec_chain_sql)."""
    return F.expr(_vec_chain_sql("d2", column_ref_sql(a), column_ref_sql(b)))


def _sub_slices(
    df: DataFrame, m: int, vec_col: str, id_col: str, out_id: str
) -> DataFrame:
    """(out_id, s, sv): each vector split into its m contiguous
    subspace slices (s in 0..m-1), dimensions taken from the data so
    the same expression serves any embedding width divisible by m.
    A width NOT divisible by m raises at execution instead of
    silently truncating the trailing dimensions out of every
    codebook, code, and distance table (the same remainder guard
    minhash_band_rows applies statically — here the width lives in
    the data, so the check is an expression)."""
    v = as_double(vec_col)
    sd_checked = F.when(
        F.size(v) % m == 0, (F.size(v) / m).cast("int")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"embedding width not divisible by m={m} subspaces: "),
                F.size(v).cast("string"),
            )
        ).cast("int")
    )
    return (
        df.select(
            F.col(id_col).alias(out_id),
            v.alias("__v"),
            sd_checked.alias("__sd"),
        )
        .select(
            out_id,
            F.explode(F.array(*[F.lit(i) for i in range(m)])).alias("s"),
            F.col("__v"),
            F.col("__sd"),
        )
        .select(
            out_id,
            "s",
            F.slice(
                "__v", F.col("s") * F.col("__sd") + 1, F.col("__sd")
            ).alias("sv"),
        )
    )


def pq_codebooks(
    vectors: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-subspace PQ codebooks (s, code, cv): the n_codes lowest-id
    vectors donate their subspace slices as codewords — a sampled
    codebook (deterministic, no runtime randomness, SQL-replayable).
    Donors come from orderBy(id).limit(n) — NOT an `id < n` filter,
    which assumes dense 0-based ids and silently yields a short or
    EMPTY codebook on any other id space (the robust form
    ivf_train_centroids already uses); codes are densified to
    0..n_codes-1 by id rank so downstream byte-width claims hold
    regardless of donor ids. Production quality would refine each
    subspace with a few Lloyd rounds (the kmeans_centroids
    machinery, applied per subspace); the ENCODE and ADC mechanics
    below are identical either way, and the sampled form keeps every
    derived value bit-adjudicable (Lloyd re-averaging is a float avg
    whose last-ulp depends on accumulation order — see
    _lloyd_rounds' documented limitation)."""
    from pyspark.sql import Window as W

    donors = vectors.orderBy(id_col).limit(n_codes)
    # the donor set is <= n_codes rows: the single-partition
    # rank window is O(n_codes), never corpus-sized
    ranked = donors.select(
        (F.row_number().over(W.orderBy(id_col)) - 1).alias("__code"),
        F.col(id_col).alias("__did"),
    )
    sliced = _sub_slices(donors, m, vec_col, id_col, "__did")
    return sliced.join(ranked, "__did").select(
        "s", F.col("__code").alias("code"), F.col("sv").alias("cv")
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    sub_dim: int | None = None,
) -> DataFrame:
    """(vec_id, s, code): each vector's subspace slice is assigned its
    nearest codeword (argmin ordered-fold d2, tie -> lowest code, via
    struct-ordered min_by in ONE hash agg). The m-fold explode plus a
    broadcast join against the (m * n_codes)-row codebook is the whole
    plan — encoding is embarrassingly parallel, no big-side shuffle
    until the per-(vector, subspace) argmin agg, and that agg is
    partial+final on the vec_id key. This is the compression pass that
    turns a 100 TB float corpus into m bytes per vector."""
    sub = _sub_slices(vectors, m, vec_col, id_col, "vec_id")
    d2 = (
        d2_static("sv", "cv", sub_dim)
        if sub_dim
        else fold_d2("sv", "cv")
    )
    return (
        sub.join(F.broadcast(codebooks), "s")
        .select("vec_id", "s", "code", d2.alias("d2"))
        .groupBy("vec_id", "s")
        .agg(F.min_by("code", F.struct("d2", "code")).alias("code"))
    )


def _adc_dtab(
    cb: DataFrame,
    queries: DataFrame,
    m: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sub_dim: int | None = None,
) -> DataFrame:
    """(query_id, s, code, pd2n): the per-query ADC distance table —
    each query's subspace slices against the broadcast codebook,
    partial distances rounded to integer nanos so every downstream
    sum is order-independent and bit-reproducible."""
    qsub = _sub_slices(queries, m, vec_col, id_col, "query_id")
    qd2 = (
        d2_static("sv", "cv", sub_dim)
        if sub_dim
        else fold_d2("sv", "cv")
    )
    return qsub.join(F.broadcast(cb), "s").select(
        "query_id", "s", "code",
        F.round(qd2 * 1e9, 0).cast("long").alias("pd2n"),
    )


def _packed_codes(codes: DataFrame) -> DataFrame:
    """(vec_id, ca): the m code rows of each vector packed to one
    s-ordered int array — a single tiny-state groupBy over the n*m
    code rows. The packed form is what lets the ADC scan do m
    positional lookups per (vector, query) pair instead of fanning
    n*m rows through a corpus-sized hash agg (the r11 250x
    finding)."""
    return codes.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "code"))),
            lambda x: x["code"],
        ).alias("ca")
    )


def _packed_qtab(dtab: DataFrame, m: int) -> DataFrame:
    """(query_id, qt, __dense): each query's distance table packed to
    one flat (s, code)-ordered long array for flat addressing
    (s * n_codes + code). __dense certifies the codebook is dense
    (codes 0..n-1 in every subspace) — checked at lookup time by
    _adc_lookup_sum's raise_error guard, never a silent
    mis-address."""
    qtab = dtab.groupBy("query_id").agg(
        F.array_sort(
            F.collect_list(F.struct("s", "code", "pd2n"))
        ).alias("__qs")
    )
    first = F.element_at(F.col("__qs"), 1)
    last = F.element_at(F.col("__qs"), -1)
    shape_ok = (
        (F.size("__qs") % m == 0)
        & (first["s"] == 0)
        & (first["code"] == 0)
        & (last["s"] == m - 1)
        & (last["code"] == (F.size("__qs") / m).cast("int") - 1)
    )
    return qtab.select(
        "query_id",
        F.transform("__qs", lambda x: x["pd2n"]).alias("qt"),
        shape_ok.alias("__dense"),
    )


def _adc_lookup_sum(m: int) -> Column:
    """The m-term flat-addressed ADC lookup sum over packed columns
    ``ca`` (code array), ``qt`` (flat distance table) and ``__nc``
    (codes per subspace), guarded by ``__dense``. Integer nanos, so
    the m-term sum is order-independent and bit-identical to the
    former partial/final agg sum."""
    adc = None
    for s in range(m):
        term = F.element_at(
            F.col("qt"),
            (
                F.lit(s) * F.col("__nc")
                + F.element_at(F.col("ca"), s + 1)
                + 1
            ).cast("int"),
        )
        adc = term if adc is None else adc + term
    return F.when(F.col("__dense") & (F.size("ca") == m), adc).otherwise(
        F.raise_error(
            F.lit(
                "packed ADC scan: non-dense codebook or malformed code "
                "row set (flat ADC addressing requires codes 0..n-1 "
                "per subspace and exactly m codes per vector)"
            )
        ).cast("long")
    )


def pq_adc_serve(
    codes: DataFrame,
    cb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sub_dim: int | None = None,
) -> DataFrame:
    """The ADC *serving* stage shared by pq_adc_topk (in-memory) and
    pq_adc_topk_indexed (persisted codes): build the per-query
    distance table against the broadcast codebook, scan the codes
    with a broadcast join, sum integer-nano partial distances, rank.
    One implementation so the two paths can never fork — their
    row-identical output is a gated invariant
    (pq_indexed_match / tests).

    Scan shape (r11, measured at the 250x tier): the code rows are
    PACKED to one m-long s-ordered code array per vector (a single
    tiny-state groupBy over the n*m code rows), each query's
    distance table to one flat (s, code)-ordered long array, and the
    scan is a broadcast nested-loop of n packed rows x Q query
    tables with m positional lookups per pair — the former
    (s, code) equi-join fanned out n*m*Q rows through a
    corpus-sized (query, vec) hash agg, which dominated
    pq_rerank_topk's 250x wall. The per-subspace distances are
    integer nanos, so the m-term lookup sum is order-independent
    and bit-identical to the former partial/final agg sum. Flat
    addressing (s * n_codes + code) requires the DENSE codebook
    this engine always produces (pq_codebooks densifies; the
    persisted artifact is written from it) — boundary-guarded
    below with raise_error, never a silent mis-address."""
    dtab = _adc_dtab(cb, queries, m, vec_col, id_col, sub_dim)
    packed = _packed_codes(codes)
    qtab = _packed_qtab(dtab, m)
    joined = packed.crossJoin(F.broadcast(qtab)).withColumn(
        "__nc", (F.size("qt") / m).cast("int")
    )
    scored = (
        joined.select(
            "query_id", "vec_id", _adc_lookup_sum(m).alias("adc_nanos")
        )
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy("adc_nanos", "vec_id")
    return (
        scored.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "adc_nanos",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= k)
    )


def pq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sub_dim: int | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k (Jegou/Douze/Schmid 2011, "Product
    Quantization for Nearest Neighbor Search"): the query stays exact,
    the corpus is its PQ codes, and each candidate's distance is the
    sum of m table lookups — the distance table (query x subspace x
    codeword) is tiny (Q * m * n_codes rows) and broadcast, which is
    the in-cache lookup table of the paper expressed as a broadcast
    hash join. Per-subspace distances are scaled to integer
    nanounits BEFORE the per-candidate sum, so the m-way accumulation
    is order-independent and the DuckDB twin reproduces every ranked
    distance exactly (a float sum would re-associate under partial
    aggs). Output (query_id, neighbor_id, adc_nanos, rk<=k), self
    excluded, ties broken on neighbor_id.

    Scale: the ADC scan is linear in |corpus| x |queries| BY DESIGN —
    PQ's win is bandwidth (m bytes/vector instead of 4*dim), not
    pruning; compose with the persisted IVF layout (ivf_write_index)
    to prune to nprobe/C of the corpus first, which is exactly the
    IVFADC system of the paper."""
    cb = pq_codebooks(vectors, m, n_codes, vec_col, id_col)
    codes = pq_encode(vectors, cb, vec_col, id_col, m, sub_dim=sub_dim)
    return pq_adc_serve(codes, cb, queries, k, m, vec_col, id_col, sub_dim)


def pq_rerank_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 100,
    m: int = 16,
    n_codes: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sub_dim: int | None = None,
) -> DataFrame:
    """PQ shortlist + exact re-rank — the "+R" refinement of IVFADC
    (Jegou et al. 2011 §V): ADC over compressed codes prunes the
    corpus to a per-query shortlist (deterministic: integer-nano ADC
    with vec_id tiebreak), then ONLY those candidates' full vectors
    are fetched and re-scored with exact squared L2. On isotropic
    data PQ-only ranking suffers distance concentration (measured
    0.12-0.68 recall@5 across codebook sizes on the synthetic
    fixtures); the re-rank recovers 0.92-1.0 at shortlist=100 while
    still scanning codes, not vectors.

    Scale: the ADC stage reads m bytes/vector; the re-rank fetch is
    an equi-join on vec_id touching shortlist x |queries| rows — a
    point-lookup pattern against the (bucketed/partitioned) corpus,
    not a scan. Exact distances are ordered folds, so both the
    shortlist AND the final ranking are bit-reproducible by a SQL
    twin — no float-accumulation ambiguity anywhere."""
    sl = pq_adc_topk(
        vectors, queries, k=shortlist, m=m, n_codes=n_codes,
        vec_col=vec_col, id_col=id_col, sub_dim=sub_dim,
    ).select("query_id", "neighbor_id")
    return exact_rerank(sl, vectors, queries, k, vec_col, id_col)


def exact_rerank(
    sl: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact squared-L2 re-rank of a (query_id, neighbor_id)
    shortlist: fetch ONLY the shortlisted candidates' full vectors
    (equi-join point lookups against the corpus, not a scan) and
    rank with the bit-reproducible ordered fold. Shared by
    pq_rerank_topk and pq_rerank_topk_indexed so the refine stage
    can never fork between the in-memory and persisted-index paths."""
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    )
    cv = vectors.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv")
    )
    d = (
        sl.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            fold_d2("qv", "cv").alias("d2"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy("d2", "neighbor_id")
    ranked = d.select(
        "query_id", "neighbor_id", "d2", F.row_number().over(w).alias("rk")
    ).filter(F.col("rk") <= k)
    # rank on FULL precision, round only for display — the oracle does
    # the same, so a rounding midpoint can never flip the order
    return ranked.select(
        "query_id", "neighbor_id", F.round("d2", 6).alias("d2"), "rk"
    )


# --------------------------------------------------------------------------
# PQ as a persisted serving artifact (VERDICT r9 #2): codes + codebooks
# written once, served many — the same build/serve split ivf_write_index
# gives IVF. At 100 TB the encode pass (the expensive stage: m-fold
# explode + argmin agg over the full corpus) runs once per index build;
# every query batch then reads m bytes/vector of CODES, never the float
# corpus.
# --------------------------------------------------------------------------


def pq_write_index(
    vectors: DataFrame,
    path: str,
    m: int = 4,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sub_dim: int | None = None,
) -> None:
    """Materialize the PQ serving artifacts: the (s, code, cv)
    codebooks (tiny: m * n_codes rows, one file) and the (vec_id, s,
    code) corpus codes. Codes are written sorted by (s, code) so
    parquet gets long runs for RLE/dictionary encoding AND min/max
    row-group stats that let the serve-side (s, code) join benefit
    from predicate pushdown when a query batch's distance table is
    sparse. Build cost = one encode pass; this is the compression
    job that turns a 100 TB float corpus into m bytes per vector.

    Artifact schema contract (ADVICE r10): the persisted codes ALWAYS
    carry the id column normalized to `vec_id` (pq_encode aliases
    id_col -> vec_id on write), regardless of what id_col the source
    corpus used. The indexed serve functions read that fixed schema;
    their id_col parameter names the id column of the QUERY (and, for
    rerank, the refine-corpus) DataFrames only."""
    cb = pq_codebooks(vectors, m, n_codes, vec_col, id_col)
    cb.coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    codes = pq_encode(vectors, cb, vec_col, id_col, m, sub_dim=sub_dim)
    codes.sortWithinPartitions("s", "code").write.mode("overwrite").parquet(
        f"{path}/codes"
    )


def pq_adc_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sub_dim: int | None = None,
) -> DataFrame:
    """Serve PQ ADC top-k from a persisted index: read the codebooks
    (m * n_codes rows) and the code corpus, then run the SAME serve
    stage as the in-memory operator (shared pq_adc_serve). No encode
    work per query batch — the 100 TB serving shape the bench's
    build-inclusive pq_adc_topk row deliberately does NOT measure.

    id_col names the id column of `queries`; the persisted codes are
    always keyed `vec_id` (see the pq_write_index schema contract)."""
    cb = spark.read.schema("s int, code int, cv array<double>").parquet(
        f"{path}/codebooks"
    )
    codes = spark.read.schema("vec_id bigint, s int, code int").parquet(
        f"{path}/codes"
    )
    return pq_adc_serve(codes, cb, queries, k, m, vec_col, id_col, sub_dim)


def pq_rerank_topk_indexed(
    spark,
    path: str,
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 100,
    m: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sub_dim: int | None = None,
) -> DataFrame:
    """Persisted-index '+R' serving: the ADC shortlist comes from the
    written codes (pq_adc_topk_indexed), the exact refine fetches only
    the shortlisted vectors from the corpus (shared exact_rerank).
    The corpus stays in the lake — the index holds codes + codebooks
    only, so the refine join is the point-lookup pattern against the
    (bucketed/partitioned) source table.

    id_col names the id column of `queries`/`vectors`; the persisted
    codes are always keyed `vec_id` (pq_write_index schema contract)."""
    sl = pq_adc_topk_indexed(
        spark, path, queries, k=shortlist, m=m,
        vec_col=vec_col, id_col=id_col, sub_dim=sub_dim,
    ).select("query_id", "neighbor_id")
    return exact_rerank(sl, vectors, queries, k, vec_col, id_col)


def ivf_append_index(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a batch of new vectors to a persisted IVF index WITHOUT
    retraining — the steady-state maintenance path of a serving
    index: centroids are read back (k tiny rows), the batch is
    assigned with the SAME GEMM kernel the original build used
    (shared _assigned_corpus, so layouts can never fork), and the new
    rows land as additional files inside their cid partition
    directories (append mode). Serving picks them up with zero
    changes — partition pruning is directory-based, and a pruned scan
    reads old and appended files alike. At 100 TB this is the hourly
    ingest job: cost is one assignment pass over the BATCH, never a
    rebuild; periodic re-train is a policy decision when drift
    accumulates, not a correctness requirement."""
    cent_rows = (
        spark.read.schema("cid int, centroid array<double>")
        .parquet(f"{path}/centroids")
        .orderBy("cid")
        .collect()
    )
    cents = (
        np.array([r["centroid"] for r in cent_rows], dtype="float64")
        if cent_rows
        else np.zeros((0, 1), dtype="float64")
    )
    assigned = _assigned_corpus(batch, cents, vec_col, id_col)
    assigned.write.partitionBy("cid").mode("append").parquet(f"{path}/corpus")


def ivfadc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    train_iters: int = 1,
    nprobe: int = 2,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_dim: int | None = None,
) -> DataFrame:
    """The composed IVFADC system (Jegou et al. 2011 §IV): IVF cell
    pruning FIRST, then PQ asymmetric-distance scoring over only the
    probed cells' codes — the layout+compression pair that serves
    billion-vector corpora (prune to nprobe/C of the corpus, then
    read m bytes per surviving vector).

    Declarative end to end, assembled from the two adjudicated
    halves: the lowest-id-seeded Lloyd training + squared-L2 Voronoi
    assignment of ivf_topk_declarative, and the sampled codebooks +
    integer-nano distance tables of pq_adc_topk. Every float folds
    in dimension order and every cross-candidate sum rides int64
    nanounits, so the full composition — training, assignment,
    probing, encoding, table build, pruned scan, ranking — is
    bit-reproducible by the SQL twin.

    Scale shape: candidate generation is a cid equi-join (the
    directory-pruned scan under a persisted ivf_write_index layout),
    the distance table is Q*m*n_codes rows broadcast, and the
    per-candidate sum is a partial/final agg on (query, vec) — no
    stage touches the un-probed (C - nprobe)/C of the corpus."""
    from pyspark.sql import Window as W

    v = as_double(vec_col)
    base = vectors.select(F.col(id_col).alias("vec_id"), v.alias("v"))
    seed = (
        vectors.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cid"), v.alias("cv"))
    )
    cents, _ = _lloyd_rounds(base, seed, train_iters)
    asg = _assign_min_d2(base, cents)  # vec_id -> cid

    cb = pq_codebooks(vectors, m, n_codes, vec_col, id_col)
    codes = pq_encode(vectors, cb, vec_col, id_col, m, sub_dim=sub_dim)
    # one m-long code array per vector, tagged with its IVF cell —
    # m bytes/vector in one row, the persisted-index layout's shape
    packed_cid = _packed_codes(codes).join(asg, "vec_id")

    qbase = queries.select(F.col(id_col).alias("vec_id"), v.alias("v"))
    wp = W.partitionBy("vec_id").orderBy("d2", "cid")
    probed = (
        qbase.crossJoin(F.broadcast(cents))
        .select("vec_id", "cid", _lloyd_d2().alias("d2"))
        .select("vec_id", "cid", F.row_number().over(wp).alias("__pr"))
        .filter(F.col("__pr") <= nprobe)
        .select(F.col("vec_id").alias("query_id"), "cid")
    )

    dtab = _adc_dtab(cb, queries, m, vec_col, id_col, sub_dim)

    # prune, then look up (r11 packed-array scan, same shape as
    # pq_adc_serve): the probe set and each query's packed distance
    # table ride ONE broadcast keyed on cid, so every packed code row
    # meets only the queries probing its cell and each surviving
    # (vector, query) pair costs m positional lookups — the former
    # (query_id, s, code) equi-join fanned the probed cells' n*m code
    # rows out x nprobe and pushed them through a corpus-sized
    # (query, vec) hash agg, the measured dominant stage of the PQ
    # family at the 250x tier.
    qtab = _packed_qtab(dtab, m)
    probes = probed.join(qtab, "query_id").withColumn(
        "__nc", (F.size("qt") / m).cast("int")
    )
    scored = (
        packed_cid.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _adc_lookup_sum(m).alias("adc_nanos"))
    )
    wr = W.partitionBy("query_id").orderBy("adc_nanos", "vec_id")
    return (
        scored.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "adc_nanos",
            F.row_number().over(wr).alias("rk"),
        )
        .filter(F.col("rk") <= k)
    )
