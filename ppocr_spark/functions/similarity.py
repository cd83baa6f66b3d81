"""Similarity search over an embedding column (array<float>).

- ``brute_force_topk``: exact cosine top-k. The query side is broadcast
  (queries ≪ corpus); the corpus scan is embarrassingly parallel; per-row
  dot products run as JVM higher-order functions (zip_with/aggregate), no
  Python. This is the correctness baseline.
- ``lsh_topk``: random-hyperplane LSH. Sign-bit signatures bucket the
  corpus; candidates = same-bucket rows (multi-probe over all `tables`
  signatures); exact re-rank within candidates. At 100 TB the bucket join
  replaces the all-pairs scan — cost ~ corpus/2^bits per query per table.

Hyperplanes are derived from a seeded RNG on the driver, quantized to
integers (round(w·10⁶)), and ride to executors in the signature UDF's
closure (they are tiny: tables x bits x dim) — the broadcast-variable
pattern without shipping numpy state. Signatures are computed as ONE
float64 matmul per Arrow batch over integer-valued operands — exact
(< 2^53), so bucket ids are bit-deterministic across engines and batch
shapes; the DuckDB oracles evaluate the same integers.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _norm(vec: Column) -> Column:
    # cast to double BEFORE multiplying: float*float rounds to float and
    # diverges from the (double-math) oracle
    return F.sqrt(
        F.aggregate(
            F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, z: a + z,
        )
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank<=k), exact. Ties broken by
    neighbor id for determinism. Self-matches excluded."""
    c = corpus.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nv"),
        _norm(F.col(vec_col)).alias("nn"),
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qv"),
            _norm(F.col(vec_col)).alias("qn"),
        )
    )
    scored = (
        c.join(q, F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "nid",
            (_dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")))
            .alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )
    )


def _hyperplanes(dim: int, bits: int, tables: int, seed: int = 42) -> list:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((tables, bits, dim)).round(6).tolist()


def _q6(x: float) -> int:
    """round(x * 1e6) half away from zero — the shared integer
    quantization rule (Spark ``round``, DuckDB ``round``, and this
    driver-side helper all agree)."""
    import math

    return (int(math.floor(x * 1_000_000 + 0.5)) if x >= 0
            else int(math.ceil(x * 1_000_000 - 0.5)))


def signature_sql_duckdb(planes: list, vec_expr: str = "embedding") -> str:
    """DuckDB expression computing the SAME bucket id as the batched
    Spark signature — generated from the SAME quantized hyperplane
    integers (the dual-dialect single-source pattern), so the gate
    value-checks bucket assignment itself instead of a rows-only count.
    The projection is integer math on integer-valued doubles (exact:
    every intermediate < 2^53), so the sign — and therefore the bucket —
    is bit-deterministic across engines and summation orders."""
    qvec = f"list_transform({vec_expr}, x -> round(x::DOUBLE * 1000000))"
    terms = []
    for i, plane in enumerate(planes):
        lits = ", ".join(str(_q6(w)) for w in plane)
        proj = f"list_dot_product({qvec}, [{lits}]::DOUBLE[])"
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def hyperplanes(dim: int, bits: int, tables: int, seed: int = 42) -> list:
    """Public accessor for the seeded hyperplane literals — the single
    source shared by the Spark signatures and the DuckDB oracle SQL."""
    return _hyperplanes(dim, bits, tables, seed)


def _exploded_keys(
    df: DataFrame, planes: list, vec_col: str, extra: list[Column]
) -> DataFrame:
    """One row per (source row, table): columns ``tbl`` (table index) and
    ``bucket`` (that table's signature) plus ``extra`` carried through.
    The point of the explode: (tbl, bucket) are plain equality keys, so
    downstream joins are hash/sort-merge equi-joins Catalyst can plan —
    an OR-of-per-table-equalities condition has no extractable equi-keys
    and degrades to BroadcastNestedLoopJoin/CartesianProduct (every O(n²)
    pair evaluated), which is what this shape replaces.

    Signature computation is ONE Arrow-batched matmul for all
    tables × bits projections (the round-3 plans evaluated
    tables × bits × dim interpreted HOF multiply-adds per row — the
    suite's largest constant-factor waste; the matmul is the 10-100×
    batched-kernel fix). Determinism is the fine-quantizer integer
    contract: embeddings and plane literals quantize to round(·×10⁶)
    int64, the projection is exact under float64 matmul (intermediates
    < 2^53, bound enforced), so sign bits — and buckets — are
    bit-identical across engines, batch shapes and summation orders.
    The DuckDB twin (``signature_sql_duckdb``) evaluates the same
    integers. No shuffle: signatures are a map-side pass."""
    import pandas as pd

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StructField,
        StructType,
    )

    tables, bits = len(planes), len(planes[0])
    P = np.asarray(
        [[[_q6(w) for w in plane] for plane in table] for table in planes],
        dtype=np.float64,
    ).reshape(tables * bits, -1)
    max_p = np.abs(P).max()
    weights = (1 << np.arange(bits)).astype(np.int64)

    pre = df.select(*extra, _quantized(F.col(vec_col)).alias("__vq"))
    extra_names = [f.name for f in pre.schema.fields[:-1]]
    out_schema = StructType(
        list(pre.schema.fields[:-1])
        + [StructField("buckets", ArrayType(IntegerType()))]
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf["__vq"]), dtype=np.float64)
            if V.size and np.abs(V).max() * max_p * V.shape[1] >= 2.0**53:
                raise ValueError(
                    "LSH signature exactness bound exceeded: "
                    "dim * |x_q| * |w_q| >= 2^53"
                )
            proj = V @ P.T
            b = (proj > 0).astype(np.int64).reshape(len(pdf), tables, bits)
            buckets = (b * weights).sum(axis=2).astype(np.int32)
            out = pdf.drop(columns=["__vq"])
            out["buckets"] = list(buckets)
            yield out

    keyed = pre.mapInPandas(gen, schema=out_schema)
    return keyed.select(
        *extra_names, F.posexplode("buckets").alias("tbl", "bucket")
    )


def lsh_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs (cosine >= threshold) via hyperplane-LSH
    bucketing — the 100 TB replacement for the all-pairs
    ``dedup.embedding_near_dup_pairs`` baseline. Candidates = pairs
    sharing a bucket in ANY table (cost ~ n²/2^bits per table instead of
    n²); exact cosine verify on candidates only. Recall grows with
    ``tables`` (union of independent tables); the all-pairs form remains
    the test-only recall baseline.

    Physical plan: each row explodes to ``tables`` (tbl, bucket) key rows
    and the candidate join is an EQUI-join on (tbl, bucket) — a shuffled
    hash/sort-merge join that only pairs rows inside a bucket (the
    ``dedup._band_join`` shape). Vectors+norms ride through the explode so
    there is no back-join and no persist: the two self-join sides are the
    identical subtree, which Spark deduplicates via ReusedExchange (one
    signature pass, not two). Cosine is computed AFTER
    ``dropDuplicates(a, b)`` so multi-table collisions don't repeat the
    dot product (interleaved A/B'd against score-before-dedup: dedup
    first wins 1.19× at the gate's threshold=0.4 operating point, where
    most candidates survive the filter; the candidate-dedup shuffle does
    carry vectors, but the LSH explode already shuffles the same vectors
    into the join, so the byte bound is unchanged at tables × corpus)."""
    planes = _hyperplanes(dim, bits, tables, seed)
    keys = _exploded_keys(
        emb,
        planes,
        vec_col,
        [
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            _norm(F.col(vec_col)).alias("nrm"),
        ],
    )
    return (
        keys.alias("x")
        .join(
            keys.alias("y"),
            (F.col("x.tbl") == F.col("y.tbl"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            F.col("x.v").alias("va"),
            F.col("y.v").alias("vb"),
            F.col("x.nrm").alias("na"),
            F.col("y.nrm").alias("nb"),
        )
        .dropDuplicates(["a", "b"])
        .select(
            "a",
            "b",
            (
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _ivf_init(dim: int, n_centroids: int, seed: int, scale: float) -> list:
    rng = np.random.default_rng(seed)
    return (scale * rng.standard_normal((n_centroids, dim))).round(6).tolist()


def _sq_dist(vec: Column, cent: list) -> Column:
    """Squared L2 distance to a literal centroid, as a left-fold over the
    vector — the same evaluation order the DuckDB oracle states."""
    arr = F.array(*[F.lit(float(c)) for c in cent])
    return F.aggregate(
        F.zip_with(
            vec, arr,
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda a, z: a + z,
    )


def _nearest_centroid(vec: Column, cents: list[Column]) -> Column:
    """argmin over per-centroid distances; ties → lowest index (struct
    comparison on (dist, idx))."""
    arr = F.array(
        *[
            F.struct(d.alias("d"), F.lit(i).alias("i"))
            for i, d in enumerate(cents)
        ]
    )
    return F.array_min(arr)["i"]


def _lloyd_refine(
    vecs: DataFrame, prev: list, vec_col: str = "nv", cl_col: str = "cl"
) -> list:
    """One distributed Lloyd refinement shared by ``ivf_topk`` and
    ``kmeans_fit_assign``: per-(cluster, dim-position) DECIMAL-exact
    means over ``vecs`` (rows already carry their assignment in
    ``cl_col``), clusters that received no rows keeping their ``prev``
    centroid. The round-THEN-cast rule is parity-critical: round(double,
    7) pins the value both engines agree on before the decimal
    conversion (a bare float→decimal cast leaves the 7th-digit rounding
    to engine-specific float-repr rules — sums drift at ~1e-7/row); the
    decimal sum itself is exact & order-independent across partials.
    Driver sync is bounded by the centroid table (n_centroids × dim)."""
    sums = (
        vecs.select(cl_col, F.posexplode(vec_col).alias("pos", "val"))
        .groupBy(cl_col, "pos")
        .agg(
            F.sum(
                F.round(F.col("val").cast("double"), 7)
                .cast("decimal(27,7)")
            ).alias("s"),
            F.count("*").alias("n"),
        )
    )
    refined = (
        sums.select(
            cl_col, "pos",
            (F.col("s").cast("double") / F.col("n")).alias("c"),
        )
        .groupBy(cl_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("cent")
        )
    )
    got = {r[cl_col]: r["cent"] for r in refined.collect()}
    return [list(got.get(i, prev[i])) for i in range(len(prev))]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    init_scale: float = 0.125,
    with_probe_rank: bool = False,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: seeded literal init
    centroids → ONE distributed Lloyd refinement (assign + per-cluster
    decimal-exact mean — order-independent across partials, so the
    DuckDB oracle reproduces the centroids bit-for-bit) → corpus rows
    inverted-listed by nearest refined centroid → queries probe their
    ``n_probe`` nearest lists → exact cosine re-rank on candidates only.

    At scale: the refinement is one slim groupBy over (cluster, dim
    position); assignment broadcasts ≤ n_centroids rows; the candidate
    join touches ~n_probe/n_centroids of the corpus per query.

    Scale envelope: centroids are inlined as plan literals, which is the
    right shape for a COARSE quantizer (tens to a few hundred
    centroids — expression size grows with n_centroids × dim). For a
    fine-grained quantizer (10^4+ cells) use ``ivf_topk_fine``: the same
    relational skeleton with the centroid table as a broadcast integer
    matrix and one matmul per Arrow batch — no plan blow-up."""
    init = _ivf_init(dim, n_centroids, seed, init_scale)
    c0 = corpus.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")
    )
    assigned = c0.select(
        "nid", "nv",
        _nearest_centroid(
            F.col("nv"), [_sq_dist(F.col("nv"), c) for c in init]
        ).alias("cl"),
    )
    # empty clusters keep their init centroid (mirrored in the oracle)
    full = _lloyd_refine(assigned, init)

    inv = c0.select(
        "nid", "nv",
        _norm(F.col("nv")).alias("nn"),
        _nearest_centroid(
            F.col("nv"), [_sq_dist(F.col("nv"), c) for c in full]
        ).alias("cl"),
    )
    qd = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
        F.array(
            *[
                F.struct(
                    _sq_dist(F.col(vec_col), c).alias("d"),
                    F.lit(i).alias("i"),
                )
                for i, c in enumerate(full)
            ]
        ).alias("cd"),
    ).select(
        "qid", "qv", "qn",
        F.posexplode(
            F.slice(F.array_sort("cd"), 1, n_probe)
        ).alias("__pos", "probe"),
    ).select(
        "qid", "qv", "qn",
        (F.col("__pos") + 1).alias("prb"),
        F.col("probe.i").alias("cl"),
    )

    raw = (
        inv.join(F.broadcast(qd), "cl")
        .filter(F.col("nid") != F.col("qid"))
        .select(
            "qid", "nid", "prb",
            (_dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")))
            .alias("cosine"),
        )
    )
    if with_probe_rank:
        # sweep mode: unranked candidate set with the MINIMUM probe
        # rank each candidate appears at — filtering first_prb <= np
        # and re-ranking yields exactly the n_probe=np result without
        # rebuilding the index per operating point
        return raw.groupBy("qid", "nid").agg(
            F.min("prb").alias("first_prb"),
            F.max("cosine").alias("cosine"),  # identical across probes
        ).select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            "cosine",
            F.col("first_prb").cast("int").alias("first_prb"),
        )
    scored = raw.dropDuplicates(["qid", "nid"])
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: union of same-bucket candidates over
    `tables` hash tables, exact re-rank. Recall grows with tables.

    Physical plan: both sides explode to (tbl, bucket) key rows and the
    candidate join is a Broadcast HASH join on those two equality keys —
    the query side (queries ≪ corpus, × `tables` key rows) broadcasts,
    and each corpus key row probes a hash table instead of evaluating an
    OR-of-bucket-equalities against every query (the
    BroadcastNestedLoopJoin shape this replaces). Bucket pruning is real:
    a corpus row only meets the queries sharing its bucket. Cosine runs
    BEFORE the (qid, nid) dedup: a multi-table collision recomputes one
    dim-length dot product, but both downstream shuffles (candidate
    dedup + per-query top-k window) then carry slim (qid, nid, cosine)
    rows instead of two vectors per row — the scale trade; duplicates
    carry identical cosines so ``first`` is deterministic."""
    planes = _hyperplanes(dim, bits, tables, seed)
    c = _exploded_keys(
        corpus,
        planes,
        vec_col,
        [
            F.col(id_col).alias("nid"),
            F.col(vec_col).alias("nv"),
            _norm(F.col(vec_col)).alias("nn"),
        ],
    )
    q = F.broadcast(
        _exploded_keys(
            queries,
            planes,
            vec_col,
            [
                F.col(id_col).alias("qid"),
                F.col(vec_col).alias("qv"),
                _norm(F.col(vec_col)).alias("qn"),
            ],
        )
    )
    scored = (
        c.join(q, ["tbl", "bucket"])
        .filter(F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "nid",
            (_dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")))
            .alias("cosine"),
        )
        .groupBy("qid", "nid")
        .agg(F.first("cosine").alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )
    )


def kmeans_fit_assign(
    emb: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    init_scale: float = 0.125,
):
    """Deterministic distributed k-means (Lloyd) over an embedding
    column: seeded literal init centroids, then ``iters`` rounds of
    (argmin assignment, per-dimension DECIMAL-exact means). Returns
    ``(assignment_df, centroids)`` where the assignment is
    (id, cluster, sq_dist) under the FINAL centroids.

    Determinism contract (what lets a SQL oracle replay it bit-for-bit):
    distances are left-fold sums in dimension order (``_sq_dist``), ties
    break to the lowest cluster index, per-cluster means are decimal
    sums divided once in double, and an emptied cluster keeps its
    previous centroid. Identical on any partitioning / cluster size.

    Scale shape (the ``ivf_topk`` skeleton, iterated): each round is one
    slim groupBy over (cluster, dim-position) — map-side partial
    aggregation, shuffle of ≤ n_centroids×dim rows — plus a driver sync
    of the centroid table (bounded by n_centroids×dim, like IVF's).
    Assignment re-derives from the source column each round: at corpus
    scale persist the slim (id, vector) projection before calling. Plan
    literals bound n_centroids to a coarse quantizer (≤ a few hundred);
    a fine quantizer should rank via a broadcast join instead."""
    init = _ivf_init(dim, n_centroids, seed, init_scale)
    c0 = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cents = [list(c) for c in init]
    for _ in range(iters):
        assigned = c0.select(
            "id", "v",
            _nearest_centroid(
                F.col("v"), [_sq_dist(F.col("v"), c) for c in cents]
            ).alias("cl"),
        )
        cents = _lloyd_refine(assigned, cents, vec_col="v")
    # one (dist, idx) struct array: array_min's lexicographic order is
    # exactly the (min distance, lowest index) rule, and computing the
    # distances once serves both output columns (the _nearest_centroid +
    # array_min pair would fold every centroid distance twice per row)
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    _sq_dist(F.col("v"), c).alias("d"),
                    F.lit(i).alias("i"),
                )
                for i, c in enumerate(cents)
            ]
        )
    )
    assignment = c0.select(
        F.col("id"),
        best["i"].alias("cluster"),
        F.round(best["d"], 6).alias("sq_dist"),
    )
    return assignment, cents


# ---------------------------------------------------------------------------
# fine-grained quantizer path (k ~ 10^3-10^5): broadcast centroid MATRIX +
# Arrow-batched matmul assignment instead of plan literals
# ---------------------------------------------------------------------------

QUANT = 1_000_000


def _quantized(vec: Column, quant: int = QUANT) -> Column:
    """int64 quantization ``round(x * quant)`` — the fine-path exactness
    device: all downstream distance math is INTEGER math (exact under
    float64 matmul while every intermediate stays < 2^53), so argmin
    assignment is bit-deterministic across engines, partitionings and
    summation orders with no decimal/fold-order choreography. Spark
    ``round`` and DuckDB ``round`` both round half away from zero on
    doubles, so the quantization itself is cross-engine identical."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * quant, 0).cast("long")
    )


# |coordinate| bound for the exactness proof. The ASSEMBLED distance
# nx + nc - 2*x@c (not just each partial) must be exactly representable:
# every intermediate is an integer of magnitude <= 4*dim*B^2, so requiring
# 4*dim*B^2 < 2^53 makes norms, matmul partials AND the final sum exact in
# float64. At dim=64 that gives B <= ~5.9e6 quantized (~5.9 in original
# units; real embedding columns are O(1) — the fixture max is 0.58, 10x
# headroom). The old 11*QUANT bound only covered each term and admitted a
# band (5.9e6, 11e6] where dist_q could silently lose bits. Enforced
# dim-aware inside the assignment UDF.


def _fine_coord_bound(dim: int) -> float:
    return math.floor(math.sqrt(2.0**53 / (4.0 * max(dim, 1))))


_FINE_COORD_BOUND = _fine_coord_bound(64)  # fixture dim, for tests/docs


def _fine_assign(
    df: DataFrame,
    cents_q: list,
    carry_vec: bool,
    id_type: str = "long",
) -> DataFrame:
    """Arrow-batched argmin assignment of quantized rows ``(id, vq)``
    against a broadcast k×dim int64 centroid matrix.

    This is the fine-quantizer replacement for ``_nearest_centroid``'s
    plan literals: the centroid table rides to executors as a closure
    array (a broadcast variable in cluster mode — ~50 MB at k=10^5,
    dim=64), and each Arrow batch computes ``‖x‖² + ‖c‖² − 2·x@Cᵀ`` as
    one BLAS matmul — the 10-100× batched-kernel win over per-row
    interpreted HOF folds, with zero expression-tree growth in k.
    Every operand is an integer-valued float64 < 2^53, so the distance
    is EXACT and ``argmin`` (first minimum = lowest cluster index)
    reproduces the coarse path's (dist, idx) tie rule bit-for-bit.
    No shuffle: assignment is a map-side pass."""
    import pandas as pd

    C = np.asarray(cents_q, dtype=np.float64)
    nc = (C * C).sum(axis=1)
    bound = _fine_coord_bound(C.shape[1] if C.ndim == 2 else 1)
    if C.size and np.abs(C).max() > bound:
        raise ValueError(
            f"fine-quantizer exactness bound exceeded: |centroid| > {bound}"
        )

    out_vec = ", vq array<long>" if carry_vec else ""
    schema = f"id {id_type}, cluster int, dist_q long{out_vec}"

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf["vq"]), dtype=np.float64)
            if V.size and np.abs(V).max() > bound:
                raise ValueError(
                    "fine-quantizer exactness bound exceeded: |coord| > "
                    f"{bound} after quantization"
                )
            nx = (V * V).sum(axis=1)
            dist = nx[:, None] + nc[None, :] - 2.0 * (V @ C.T)
            cl = dist.argmin(axis=1)
            out = {
                "id": pdf["id"],
                "cluster": cl.astype("int32"),
                "dist_q": dist[np.arange(len(cl)), cl].astype("int64"),
            }
            if carry_vec:
                out["vq"] = pdf["vq"]
            yield pd.DataFrame(out)

    return df.mapInPandas(gen, schema=schema)


def _lloyd_refine_q(assigned: DataFrame, prev_q: list) -> list:
    """Integer Lloyd refinement: per-(cluster, dim-position) int64 sums
    (exact, order-independent), centroid update ``(2s + n) div (2n)``,
    the SAME integer expression Spark ``div`` and DuckDB ``//`` both
    evaluate (verified: both truncate toward zero). Rounding semantics,
    stated precisely: round-half-up for s >= 0; for NEGATIVE sums the
    toward-zero truncation biases the centroid up to one quant unit
    toward zero (e.g. s=-10, n=2: exact mean -5 lands at -4). This is
    engine-identical (oracle parity pins it) and within the
    quantization error the integer contract already accepts — kept
    truncating rather than floor-corrected because the centroid values
    feed every downstream golden/oracle. Empty clusters keep their
    previous centroid. Driver sync is the centroid table only
    (k × dim int64)."""
    sums = (
        assigned.select("cluster", F.posexplode("vq").alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
    )
    upd = (
        sums.select(
            "cluster", "pos",
            F.expr("(2 * s + n) div (2 * n)").alias("c"),
        )
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda st: st["c"],
            ).alias("cent")
        )
    )
    got = {r["cluster"]: r["cent"] for r in upd.collect()}
    return [list(got.get(i, prev_q[i])) for i in range(len(prev_q))]


def init_centroids_q(
    dim: int, n_centroids: int, seed: int = 7,
    init_scale: float = 0.125, quant: int = QUANT,
) -> list:
    """Seeded integer init centroids — the single source shared by
    ``kmeans_fine`` and its DuckDB oracle (the oracle inlines THESE
    integers, so there is no cross-engine rounding step at all)."""
    init = _ivf_init(dim, n_centroids, seed, init_scale)
    return [
        [int(np.floor(x * quant + 0.5)) if x >= 0
         else int(np.ceil(x * quant - 0.5)) for x in c]
        for c in init
    ]


def kmeans_fine(
    emb: DataFrame,
    n_centroids: int = 256,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    init_scale: float = 0.125,
    quant: int = QUANT,
):
    """Fine-grained distributed k-means (k up to ~10^4-10^5 — SemDeDup's
    actual regime): the ``kmeans_fit_assign`` skeleton with the two
    coarse-path bottlenecks replaced —

    - assignment: broadcast centroid MATRIX + one matmul per Arrow batch
      (``_fine_assign``) instead of k plan-literal distance folds (the
      expression tree no longer grows with k, and the kernel is BLAS);
    - determinism: INTEGER distance contract (``_quantized``) instead of
      decimal fold choreography — exact at any k, any partitioning.

    Returns ``(assignment_df, cents_q)``: assignment is
    (id, cluster, dist_q) under the FINAL centroids with ``dist_q`` the
    exact integer squared distance in quant² units; ``cents_q`` the
    final integer centroid table.

    Scale shape: per iteration one map-side assignment pass + one slim
    (cluster, pos) aggregate (map-side combine; shuffle ≤ k×dim rows) +
    a k×dim driver sync (~50 MB at k=10^5 — bounded, and an Iceberg
    checkpoint row at corpus scale). The slim (id, vq) projection is
    persisted (``cache.track`` — released by the caller's
    ``release_all``): iteration 1's refine action populates it, so
    iterations 2..N and the final assignment read the quantized column
    instead of re-scanning and re-quantizing the source each pass."""
    from ppocr_spark import cache

    cents_q = init_centroids_q(dim, n_centroids, seed, init_scale, quant)
    c0 = cache.track(
        emb.select(
            F.col(id_col).alias("id"),
            _quantized(F.col(vec_col), quant).alias("vq"),
        )
    )
    id_type = dict(emb.dtypes)[id_col]
    for _ in range(iters):
        assigned = _fine_assign(c0, cents_q, carry_vec=True, id_type=id_type)
        cents_q = _lloyd_refine_q(assigned, cents_q)
    final = _fine_assign(c0, cents_q, carry_vec=False, id_type=id_type)
    return final, cents_q


def _fine_probe(
    df: DataFrame, cents_q: list, n_probe: int, id_type: str = "long"
) -> DataFrame:
    """Per-row top-``n_probe`` nearest cells against the broadcast
    integer centroid matrix — the multi-probe twin of ``_fine_assign``
    (same one-matmul-per-Arrow-batch kernel, same integer exactness, so
    the probe list is bit-deterministic; ties break to the lowest
    cluster index via a stable argsort, matching the oracle's
    ``ORDER BY dist, cl``). Returns (id, cells array<int>)."""
    import pandas as pd

    C = np.asarray(cents_q, dtype=np.float64)
    nc = (C * C).sum(axis=1)
    bound = _fine_coord_bound(C.shape[1] if C.ndim == 2 else 1)
    if C.size and np.abs(C).max() > bound:
        raise ValueError(
            f"fine-quantizer exactness bound exceeded: |centroid| > {bound}"
        )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf["vq"]), dtype=np.float64)
            if V.size and np.abs(V).max() > bound:
                raise ValueError(
                    "fine-quantizer exactness bound exceeded: |coord| > "
                    f"{bound} after quantization"
                )
            nx = (V * V).sum(axis=1)
            dist = nx[:, None] + nc[None, :] - 2.0 * (V @ C.T)
            order = np.argsort(dist, axis=1, kind="stable")[:, :n_probe]
            yield pd.DataFrame({
                "id": pdf["id"],
                "cells": [r.astype("int32") for r in order],
            })

    return df.mapInPandas(
        gen, schema=f"id {id_type}, cells array<int>"
    )


# query-side broadcast budget for ivf_topk_fine: the exploded probe rows
# (|queries| x n_probe, each carrying the float64 vector) must fit
# comfortably in every executor — above this the join falls back to a
# shuffle equi-join on the cell id
_BROADCAST_QUERY_BYTES = 64 << 20


def ivf_topk_fine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 256,
    iters: int = 2,
    n_probe: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    init_scale: float = 0.125,
    quant: int = QUANT,
) -> DataFrame:
    """IVF top-k at fine-quantizer scale (cells ~ 10^4-10^5 — the regime
    the coarse ``ivf_topk``'s plan-literal centroids can't reach): the
    same relational skeleton (fit → invert corpus → multi-probe →
    exact re-rank) with every centroid interaction through the broadcast
    integer matrix + one BLAS matmul per Arrow batch (``_fine_assign`` /
    ``_fine_probe``) — the expression tree is independent of
    n_centroids, and cell ids are bit-deterministic (integer distance
    contract), so the DuckDB oracle replays the whole chain.

    No candidate dedup is needed: inverted cells are DISJOINT (each
    corpus row lives in exactly one cell), so a query meeting n_probe
    cells sees each neighbor at most once — one fewer shuffle than
    ``lsh_topk``, whose overlapping tables require it. Candidate volume
    per query is ~n_probe/n_centroids of the corpus."""
    assignment, cents_q = kmeans_fine(
        corpus, n_centroids, iters, dim, id_col, vec_col, seed,
        init_scale, quant,
    )
    inv = corpus.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nv"),
        _norm(F.col(vec_col)).alias("nn"),
    ).join(
        assignment.select(
            F.col("id").alias("nid"), F.col("cluster").alias("cl")
        ),
        "nid",
    )
    id_type = dict(queries.dtypes)[id_col]
    q0 = queries.select(
        F.col(id_col).alias("id"),
        _quantized(F.col(vec_col), quant).alias("vq"),
    )
    qd = (
        queries.select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qv"),
            _norm(F.col(vec_col)).alias("qn"),
        )
        .join(
            _fine_probe(q0, cents_q, n_probe, id_type).select(
                F.col("id").alias("qid"), "cells"
            ),
            "qid",
        )
        .select("qid", "qv", "qn", F.explode("cells").alias("cl"))
    )
    # join-strategy auto-select by the optimizer's size estimate: a
    # probe/batch-sized query set rides as a broadcast hash
    # join — zero shuffle of the corpus-sized inverted side; a
    # corpus-sized query set (offline all-pairs kNN) would OOM every
    # executor as a broadcast, so it takes a shuffle equi-join on the
    # cell id instead (both sides exchange-partitioned on cl; candidate
    # volume per cell stays ~|corpus|/n_centroids x n_probe).
    from ppocr_spark.cache import plan_size_bytes

    q_bytes = plan_size_bytes(queries, default=1 << 62) * max(n_probe, 1)
    if q_bytes <= _BROADCAST_QUERY_BYTES:
        probe_side = F.broadcast(qd)
    else:
        # corpus-sized query set (offline kNN self-join): pin BOTH sides
        # to an explicit hash partitioning on the cell id — the
        # co-partitioned-media lesson (CLAUDE.md): without explicit
        # counts AQE is free to coalesce the exploded-probe side under
        # the corpus-sized join (measured 10× collapse on the media
        # path), which serializes the scoring stage
        n_part = max(
            corpus.sparkSession.sparkContext.defaultParallelism, 1
        )
        inv = inv.repartition(n_part, "cl")
        probe_side = qd.repartition(n_part, "cl")
    scored = (
        inv.join(probe_side, "cl")
        .filter(F.col("nid") != F.col("qid"))
        .select(
            "qid", "nid",
            (_dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")))
            .alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )
    )


def _within_cluster_keep(
    emb: DataFrame,
    assignment: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    max_cell: int | None = None,
) -> DataFrame:
    """Shared SemDeDup tail (coarse and fine variants): join the cluster
    assignment onto a slim (id, vec, norm) projection, generate
    within-cluster cosine pairs >= threshold, and keep one representative
    per connected similarity group. ``max_cell`` is the skew valve —
    clusters above it are excluded from pair generation (their rows
    survive as singleton keeps). One definition so a fix to the pair
    join or the keep policy cannot diverge between the two k regimes."""
    from ppocr_spark import cache

    e = cache.track(
        emb.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            _norm(F.col(vec_col)).alias("nrm"),
        ).join(assignment.select("id", "cluster"), "id")
    )
    pairs_src = e
    if max_cell is not None:
        sizes = e.groupBy("cluster").agg(F.count("*").alias("__m"))
        pairs_src = (
            e.join(F.broadcast(sizes), "cluster")
            .filter(F.col("__m") <= max_cell)
            .drop("__m")
        )
    pairs = (
        pairs_src.alias("x")
        .join(
            pairs_src.alias("y"),
            (F.col("x.cluster") == F.col("y.cluster"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("a"),
            F.col("y.id").alias("b"),
            (
                _dot(F.col("x.v"), F.col("y.v"))
                / (F.col("x.nrm") * F.col("y.nrm"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    from ppocr_spark.functions.dedup import dedup_representatives

    return (
        dedup_representatives(pairs, emb, id_col=id_col)
        .withColumnRenamed("doc_id", id_col)
    )


def semantic_dedup_fine(
    emb: DataFrame,
    threshold: float = 0.4,
    n_centroids: int = 256,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    max_cell: int | None = None,
    quant: int = QUANT,
) -> DataFrame:
    """SemDeDup at its real operating point: ``kmeans_fine`` cells
    (k ≫ 100) + within-cell cosine pairs + keep-one — the scale-honest
    replacement for ``semantic_dedup``'s coarse-k envelope.

    Per-cell cost bound: cells are disjoint, so the pair stage costs
    Σ m_i² over cell sizes m_i — expected (n/k)·n for balanced cells.
    ``max_cell`` is the skew valve (the ``dedup._band_join.max_bucket``
    pattern): cells larger than ``max_cell`` are EXCLUDED from pair
    generation (their rows survive as singleton keeps), capping any
    single join task at max_cell² candidate pairs. The recall trade is
    the standard SemDeDup one — an oversized cell is embedding-space
    boilerplate whose members exact/LSH dedup upstream already groups.
    Default None = exact semantics (what the oracle checks)."""
    assignment, _ = kmeans_fine(
        emb, n_centroids, iters, dim, id_col, vec_col, seed,
        quant=quant,
    )
    return _within_cluster_keep(
        emb, assignment, threshold, id_col, vec_col, max_cell
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.4,
    n_centroids: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means-partition the embedding
    space, find cosine-similar pairs ONLY within a cluster, then keep one
    representative per connected similarity group →
    (id, cluster_id, keep).

    The cluster equi-join is the scale device (the SemDeDup observation:
    semantic dups co-locate in embedding-space cells, so the pair search
    is per-cell ~ (n/k)² instead of n²). Caveat inherited from the
    method: a dup pair straddling two cells is missed — recall is traded
    for the k× cost cut; the LSH path (``lsh_near_dup_pairs``) is the
    recall-bounded alternative."""
    assignment, _ = kmeans_fit_assign(
        emb, n_centroids, iters, dim, id_col, vec_col, seed
    )
    return _within_cluster_keep(emb, assignment, threshold, id_col, vec_col)


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized ANN (Jégou et al. 2011) — the scale path past
# IVF-flat, where candidate re-rank against raw vectors is the cost driver
# ---------------------------------------------------------------------------


def _pq_residuals(
    assigned: DataFrame, cents_q: list, id_type: str = "long"
) -> DataFrame:
    """Integer residuals vs the assigned coarse centroid:
    (id, cluster, vq) → (id, cluster, rq = vq - cents_q[cluster]).
    Map-side Arrow pass, centroid matrix rides as a closure/broadcast."""
    import pandas as pd

    C = np.asarray(cents_q, dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf["vq"]), dtype=np.int64)
            R = V - C[pdf["cluster"].to_numpy()]
            yield pd.DataFrame({
                "id": pdf["id"],
                "cluster": pdf["cluster"],
                "rq": list(R),
            })

    return assigned.mapInPandas(
        gen, schema=f"id {id_type}, cluster int, rq array<long>"
    )


def _pq_encode(
    res: DataFrame, codebooks: list, id_type: str = "long",
    with_err: bool = False,
) -> DataFrame:
    """All-subspace PQ encoding in ONE Arrow pass: for each subspace j,
    code_j = argmin over codebooks[j] of the integer squared distance on
    that residual slice (ties → lowest code — np.argmin's first-min,
    the same rule as ``_fine_assign`` and the oracle's
    ``ORDER BY dist, code``). Returns (id, cluster, codes array<int>);
    with ``with_err`` also the per-subspace argmin distance itself
    (errs array<long> — exact integers under the coord bound, the
    quantization-error diagnostic at zero extra passes)."""
    import pandas as pd

    CBs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    d_sub = CBs[0].shape[1]
    bound = _fine_coord_bound(d_sub)
    for cb in CBs:
        if cb.size and np.abs(cb).max() > bound:
            raise ValueError(
                f"pq codebook exceeds exactness bound {bound}"
            )
    ncs = [(cb * cb).sum(axis=1) for cb in CBs]

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            R = np.array(list(pdf["rq"]), dtype=np.float64)
            if R.size and np.abs(R).max() > bound:
                raise ValueError(
                    f"pq residual exceeds exactness bound {bound}"
                )
            codes = np.empty((len(R), len(CBs)), dtype=np.int32)
            errs = np.empty((len(R), len(CBs)), dtype=np.int64)
            for j, (cb, nc) in enumerate(zip(CBs, ncs)):
                S = R[:, j * d_sub:(j + 1) * d_sub]
                dist = (
                    (S * S).sum(axis=1)[:, None]
                    + nc[None, :]
                    - 2.0 * (S @ cb.T)
                )
                codes[:, j] = dist.argmin(axis=1)
                errs[:, j] = dist[
                    np.arange(len(R)), codes[:, j]
                ].astype(np.int64)
            out = {
                "id": pdf["id"],
                "cluster": pdf["cluster"],
                "codes": list(codes),
            }
            if with_err:
                out["errs"] = list(errs)
            yield pd.DataFrame(out)

    schema = f"id {id_type}, cluster int, codes array<int>"
    if with_err:
        schema += ", errs array<long>"
    return res.mapInPandas(gen, schema=schema)


def _pq_adc_tables(
    probed: DataFrame, cents_q: list, codebooks: list,
    id_type: str = "long",
) -> DataFrame:
    """Per-(query, probed-cell) asymmetric-distance tables: for the query
    residual against that cell's centroid, t[j*n_codes + c] = integer
    squared distance between residual subspace j and codebook entry c.
    One Arrow pass over |queries| × n_probe rows; the candidate-level
    scoring then stays pure JVM (a fixed m-term array lookup sum) — no
    per-pair Python. Returns (id, cl, t array<long>)."""
    import pandas as pd

    C = np.asarray(cents_q, dtype=np.int64)
    CBs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    d_sub = CBs[0].shape[1]
    n_codes = CBs[0].shape[0]
    bound = _fine_coord_bound(d_sub)
    ncs = [(cb * cb).sum(axis=1) for cb in CBs]

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf["vq"]), dtype=np.int64)
            R = (V - C[pdf["cl"].to_numpy()]).astype(np.float64)
            if R.size and np.abs(R).max() > bound:
                raise ValueError(
                    f"pq query residual exceeds exactness bound {bound}"
                )
            T = np.empty((len(R), len(CBs) * n_codes), dtype=np.int64)
            for j, (cb, nc) in enumerate(zip(CBs, ncs)):
                S = R[:, j * d_sub:(j + 1) * d_sub]
                dist = (
                    (S * S).sum(axis=1)[:, None]
                    + nc[None, :]
                    - 2.0 * (S @ cb.T)
                )
                T[:, j * n_codes:(j + 1) * n_codes] = dist.astype(np.int64)
            yield pd.DataFrame({
                "id": pdf["id"],
                "cl": pdf["cl"],
                "t": list(T),
            })

    return probed.mapInPandas(
        gen, schema=f"id {id_type}, cl int, t array<long>"
    )


def pq_fit_encode(
    emb: DataFrame,
    n_cells: int = 64,
    cell_iters: int = 1,
    m: int = 4,
    n_codes: int = 16,
    pq_iters: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    init_scale: float = 0.125,
    pq_init_scale: float = 0.03,
    quant: int = QUANT,
    with_err: bool = False,
):
    """Fit IVF-PQ and encode the corpus: coarse cells via the integer
    ``kmeans_fine`` contract, then per-subspace codebooks trained with
    the SAME integer Lloyd machinery on coarse residuals (Jégou et al.
    2011's residual PQ), then one-pass encoding.

    Everything downstream of quantization is integer-exact: cell ids,
    residuals, codebooks and codes are bit-deterministic across
    partitionings and engines — the DuckDB oracle replays the whole fit.

    Scale shape: each Lloyd step is one map-side Arrow matmul pass plus
    a slim (code, pos) aggregate (shuffle ≤ n_codes×d_sub rows per
    subspace); codebooks are tiny (m × n_codes × d_sub int64 — ~8 KB at
    the defaults) and ride as closures/broadcast. The residual
    projection is persisted across the m×pq_iters passes (released via
    ``cache.release_all``). Encoded corpus storage is n_cells-bucketed
    codes at m×log2(n_codes) bits per vector — the 10^9-vector regime
    where IVF-flat's raw-vector scan doesn't fit.

    Returns (codes_df (id, cluster, codes), cents_q, codebooks)."""
    from ppocr_spark import cache

    assert dim % m == 0, "dim must split evenly into m subspaces"
    d_sub = dim // m
    cells, cents_q = kmeans_fine(
        emb, n_cells, cell_iters, dim, id_col, vec_col, seed,
        init_scale, quant,
    )
    id_type = dict(emb.dtypes)[id_col]
    q0 = emb.select(
        F.col(id_col).alias("id"),
        _quantized(F.col(vec_col), quant).alias("vq"),
    )
    assigned = q0.join(cells.select("id", "cluster"), "id")
    res = cache.track(_pq_residuals(assigned, cents_q, id_type))
    codebooks = []
    for j in range(m):
        sub = res.select(
            "id", F.slice("rq", j * d_sub + 1, d_sub).alias("vq")
        )
        cb = init_centroids_q(
            d_sub, n_codes, seed + 101 + j, pq_init_scale, quant
        )
        for _ in range(pq_iters):
            a = _fine_assign(sub, cb, carry_vec=True, id_type=id_type)
            cb = _lloyd_refine_q(a, cb)
        codebooks.append(cb)
    codes = _pq_encode(res, codebooks, id_type, with_err=with_err)
    return codes, cents_q, codebooks


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 64,
    cell_iters: int = 1,
    m: int = 4,
    n_codes: int = 16,
    pq_iters: int = 1,
    n_probe: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    quant: int = QUANT,
) -> DataFrame:
    """IVF-PQ top-k by asymmetric distance (ADC): multi-probe the coarse
    cells, build one integer distance table per (query, probed cell),
    and score candidates with a fixed m-term JVM array-lookup sum — the
    per-pair hot path never touches Python OR raw vectors, which is the
    whole point of PQ at 10^9+ vectors (codes are m×log2(n_codes) bits,
    the raw corpus never re-enters the query plan).

    Returns (query_id, neighbor_id, adc_dist_q, rank): integer ADC
    distance in quant² units, rank by (adc_dist_q asc, neighbor id asc)
    — fully bit-deterministic, replayed exactly by the DuckDB oracle."""
    codes, cents_q, codebooks = pq_fit_encode(
        corpus, n_cells, cell_iters, m, n_codes, pq_iters, dim,
        id_col, vec_col, seed, quant=quant,
    )
    id_type = dict(queries.dtypes)[id_col]
    q0 = queries.select(
        F.col(id_col).alias("id"),
        _quantized(F.col(vec_col), quant).alias("vq"),
    )
    probed = (
        _fine_probe(q0, cents_q, n_probe, id_type)
        .select("id", F.explode("cells").alias("cl"))
        .join(q0, "id")
        .select("id", "cl", "vq")
    )
    tables = _pq_adc_tables(probed, cents_q, codebooks, id_type)
    # candidate scoring: equi-join on the cell id (broadcast-eligible —
    # tables side is |queries| × n_probe rows), then a pure-JVM m-term
    # lookup: adc = Σ_j t[j*n_codes + codes[j]]
    adc = None
    for j in range(m):
        term = F.element_at(
            F.col("t"),
            F.lit(j * n_codes + 1) + F.element_at("codes", j + 1),
        )
        adc = term if adc is None else adc + term
    scored = (
        codes.select(
            F.col("id").alias("nid"),
            F.col("cluster").alias("cl"),
            "codes",
        )
        .join(
            F.broadcast(
                tables.select(F.col("id").alias("qid"), "cl", "t")
            ),
            "cl",
        )
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid", adc.cast("long").alias("adc_dist_q"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("adc_dist_q").asc(), F.col("nid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            "adc_dist_q",
            "rank",
        )
    )


def recall_at_k(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """ANN index quality evaluation: per-query recall@k of an approximate
    top-k table against the exact (brute-force) top-k, as an integer ppm
    — ``(1e6 * hits) DIV k`` is exact and engine-identical, where a
    float division + round() can tie-break differently across engines.

    Both inputs are (query_id, neighbor_id, ...) top-k tables, typically
    ``brute_force_topk`` as ground truth vs ``ivf_topk`` / ``lsh_topk``.
    The match key is the (query, neighbor) PAIR, so the comparison is
    set-valued — rank disagreements inside the top-k don't count against
    recall, only missing neighbors do.

    At scale: both sides are |Q|*k slim id-only rows regardless of corpus
    size — the corpus never re-enters; the semi join and groupBy shuffle
    on query_id only. Inputs usually share lineage (same corpus scan), so
    both sides are aliased — unaliased, Spark resolves the shared-lineage
    columns twice (AMBIGUOUS_REFERENCE)."""
    ex = exact.select("query_id", "neighbor_id").alias("__rk_ex")
    ap = approx.select("query_id", "neighbor_id").alias("__rk_ap")
    hits = (
        ex.join(
            ap,
            (F.col("__rk_ex.query_id") == F.col("__rk_ap.query_id"))
            & (F.col("__rk_ex.neighbor_id") == F.col("__rk_ap.neighbor_id")),
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    # every query keeps a row even at zero hits
    base = ex.select("query_id").distinct()
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.expr(f"(coalesce(hits, 0) * 1000000) DIV {int(k)}")
            .cast("long")
            .alias("recall_ppm"),
        )
        .orderBy("query_id")
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN majority-vote label prediction — the label-propagation /
    weak-supervision primitive (classify unlabeled documents from a
    small labeled seed set by embedding neighborhood; cf. the quality-
    classifier stage of CCNet/RefinedWeb-style pipelines, where a
    handful of curated labels fan out over the corpus).

    Exact top-k by cosine (``brute_force_topk``'s deterministic
    tie-break: cosine DESC, neighbor id ASC), then per-query majority
    vote over the neighbors' labels with a total-order tie-break
    (votes DESC, label ASC) folded into ONE struct-max aggregate — no
    per-query window, so a hot query id cannot become an unsplittable
    window key. Output: (query_id, pred_label, votes), all int64.

    At scale: queries are the SMALL labeled/probe side (broadcast by
    ``brute_force_topk``); the corpus streams through one scored pass.
    The vote path is |Q|*k slim rows — two shuffles on query_id.

    Contract (same pattern as ``dedup.keep_best_copy``'s score): corpus
    labels must be NON-NULL — a NULL label would form a NULL vote group
    whose struct-max ordering is engine-specific, and a query whose k
    neighbors are all unlabeled would vanish from the output. Filter or
    impute labels upstream."""
    topk = brute_force_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col
    )
    lab = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).cast("long").alias("__kc_lab"),
    )
    votes = (
        topk.join(lab, "neighbor_id")
        .groupBy("query_id", "__kc_lab")
        .agg(F.count("*").alias("votes"))
    )
    # struct max = lexicographic (votes, -label): max votes, min label
    best = votes.groupBy("query_id").agg(
        F.max(
            F.struct(F.col("votes"), (-F.col("__kc_lab")).alias("nl"))
        ).alias("__b")
    )
    return best.select(
        "query_id",
        (-F.col("__b.nl")).cast("long").alias("pred_label"),
        F.col("__b.votes").cast("long").alias("votes"),
    ).orderBy("query_id")


def cluster_label_purity(
    assignment: DataFrame,
    labels: DataFrame,
    id_col: str = "vec_id",
    cluster_col: str = "cluster",
    label_col: str = "label",
) -> DataFrame:
    """Per-cluster label purity — the standard clustering-quality
    diagnostic (how well do unsupervised cells align with a labeled
    slice): majority label per cluster and its mass as an integer ppm
    (``(1e6 * top_n) DIV n_vecs`` — exact and engine-identical; a float
    ratio + round() is the documented cross-engine tie hazard).

    ``assignment`` is any (id, cluster) table (e.g. ``kmeans_fit_assign``
    output); ``labels`` is the (id, label) slice. Ties on the majority
    label break to the LOWEST label via one struct-max aggregate — no
    per-cluster window, so a mega-cluster never becomes one
    unsplittable window key. Output columns all int64:
    (cluster, n_vecs, top_label, top_n, purity_ppm).

    At scale: one equi-join on id (both sides slim int64 projections),
    then two groupBys whose rows are bounded by |clusters| x |labels| —
    corpus-size-independent after the first aggregate.

    Contract: ``labels`` rows must carry NON-NULL labels (a NULL label
    group's struct-max ordering is engine-specific); unlabeled ids
    simply don't join and don't count toward ``n_vecs``."""
    lab = labels.select(
        F.col(id_col).alias("__cp_id"),
        F.col(label_col).cast("long").alias("__cp_lab"),
    )
    asg = assignment.select(
        F.col(id_col).alias("__cp_id"),
        F.col(cluster_col).cast("long").alias("cluster"),
    )
    cnt = (
        asg.join(lab, "__cp_id")
        .groupBy("cluster", "__cp_lab")
        .agg(F.count("*").alias("n"))
    )
    per = cnt.groupBy("cluster").agg(
        F.sum("n").alias("n_vecs"),
        F.max(
            F.struct(F.col("n"), (-F.col("__cp_lab")).alias("nl"))
        ).alias("__t"),
    )
    return per.select(
        "cluster",
        F.col("n_vecs").cast("long").alias("n_vecs"),
        (-F.col("__t.nl")).cast("long").alias("top_label"),
        F.col("__t.n").cast("long").alias("top_n"),
        F.expr("(`__t`.n * 1000000) DIV n_vecs").cast("long")
        .alias("purity_ppm"),
    ).orderBy("cluster")


def embedding_quality_report(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    quant: int = QUANT,
) -> DataFrame:
    """Vector-health audit card — the check run BEFORE building any
    index over a new embedding drop: per label group, vector counts,
    dimension min/max (a mixed-dim group breaks every matmul path),
    zero-vector count (cosine is undefined on them; the brute/LSH paths
    document their guard), and squared-norm stats. One map-side-combined
    groupBy over slim per-row scalars.

    Exactness: norms use the shared int64 quantizer (``_quantized`` —
    round-half-away identical in Spark and DuckDB), each vector's
    sum-of-squares stays far inside 2^53, and the per-group SUM runs in
    decimal(38,0) so group size cannot overflow int64 at any scale;
    the emitted mean is one integer DIV. No float aggregation order
    anywhere — the card replays bit-for-bit in SQL."""
    q = _quantized(F.col(vec_col), quant)
    per = df.select(
        F.col(label_col).alias("label"),
        F.size(F.col(vec_col)).alias("__dim"),
        F.aggregate(
            F.transform(q, lambda x: x * x),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("__ssq"),
        (F.size(F.filter(q, lambda x: x != F.lit(0))) == 0)
        .cast("long")
        .alias("__zero"),
    )
    return (
        per.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.min("__dim").cast("long").alias("dim_min"),
            F.max("__dim").cast("long").alias("dim_max"),
            F.sum("__zero").cast("long").alias("n_zero"),
            F.min("__ssq").cast("long").alias("ssq_min"),
            F.max("__ssq").cast("long").alias("ssq_max"),
            F.expr(
                "CAST(sum(CAST(`__ssq` AS DECIMAL(38,0))) DIV count(*) "
                "AS BIGINT)"
            ).alias("ssq_mean"),
        )
        .orderBy("label")
    )


def embedding_split_leakage(
    emb: DataFrame,
    weights: list[tuple[str, float]] | None = None,
    eval_split: str = "test",
    train_split: str = "train",
    threshold: float = 0.4,
    bits: int = 6,
    tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cross-split SEMANTIC leakage report: for each eval-split vector,
    how many train-side near-duplicates (cosine ≥ threshold via the
    hyperplane-LSH path) exist and how close the nearest one is — the
    eval-integrity audit that n-gram decontamination
    (``dedup.contamination_spans``) misses: a paraphrased or
    re-embedded test item shares no 12-gram with its train twin but
    sits next to it in embedding space (cf. the semantic-decontam
    sweeps of GPT-3/PaLM appendix audits).

    Composition, not new machinery: the deterministic md5
    ``sampling.hash_split`` (partition-layout independent, so the
    SAME split this pipeline trains with) × ``lsh_near_dup_pairs``
    (bucketed candidates + exact verify). Only pairs whose other side
    is in ``train_split`` count — with a 3-way train/val/test split, a
    test vector's val-side twin is NOT train leakage and is excluded
    (the 2-split case is unchanged). Cosines are rounded to 6
    BEFORE the per-doc max so the aggregate never compares unrounded
    floats (max of engine-identical rounded values is
    engine-identical).

    Scale: the LSH pair table is the dominant cost and is already
    sub-quadratic; split labels are a pure projection joined on the
    high-cardinality id key; the report groups by eval id. Returns
    (eval_id, n_train_neardups, max_cosine) — eval rows with NO
    leakage emit nothing (count them against the split table to get
    the clean rate)."""
    from ppocr_spark.functions.sampling import hash_split

    w = weights or [("train", 0.9), ("test", 0.1)]
    pairs = lsh_near_dup_pairs(
        emb, threshold=threshold, bits=bits, tables=tables, dim=dim,
        id_col=id_col, vec_col=vec_col,
    )
    splits = hash_split(emb.select(F.col(id_col)), w, id_col=id_col)
    sa = splits.select(F.col(id_col).alias("a"), F.col("split").alias("sa"))
    sb = splits.select(F.col(id_col).alias("b"), F.col("split").alias("sb"))
    leak = (
        pairs.join(sa, "a")
        .join(sb, "b")
        .filter(
            ((F.col("sa") == eval_split) & (F.col("sb") == train_split))
            | ((F.col("sb") == eval_split) & (F.col("sa") == train_split))
        )
        .select(
            F.when(F.col("sa") == eval_split, F.col("a"))
            .otherwise(F.col("b")).alias("eval_id"),
            F.round("cosine", 6).alias("__cos"),
        )
    )
    return leak.groupBy("eval_id").agg(
        F.count("*").cast("long").alias("n_train_neardups"),
        F.max("__cos").alias("max_cosine"),
    )


def class_separation(
    emb: DataFrame,
    quant: int = QUANT,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Pairwise class-centroid separation matrix over a labeled
    embedding table — the separability report (the between-class half
    of a Fisher criterion) read before trusting labels for routing,
    kNN classification (``knn_classify``), or cluster-purity claims:
    label pairs whose centroids nearly coincide are the ones the
    classifier confuses.

    Exactness: vectors quantize to int64 (``_quantized`` — the fine
    path's device); per-label per-dim sums are exact int64; centroids
    are one truncating DIV (Spark ``DIV`` ≡ DuckDB ``//`` INCLUDING
    negatives — both truncate toward zero, verified), leaving ≤ 1
    quantized unit (10⁻⁶ of coordinate space) of rounding; pair
    distance is an exact int64 sum of squared diffs (≤ dim·(2B)² ≪
    2⁵³) finished by the exact-integer sqrt (``sampling._isqrt``
    float-seed ± 1 correction). Engine-identical end to end.

    Scale: one posexplode → groupBy(label, pos) with map-side combine
    (the corpus-sized pass); everything after runs on the
    |labels|·dim slim table and the |labels|² pair join. Returns
    (label_a, label_b, n_a, n_b, dist_q) with dist_q in quantized
    (micro-coordinate) units, label_a < label_b."""
    from ppocr_spark.functions.sampling import _isqrt

    q = _quantized(F.col(vec_col), quant)
    per_dim = (
        emb.select(F.col(label_col).alias("lab"),
                   F.posexplode(q).alias("pos", "__v"))
        .groupBy("lab", "pos")
        .agg(F.sum("__v").alias("__s"))
    )
    counts = emb.groupBy(F.col(label_col).alias("lab")).agg(
        F.count("*").alias("n")
    )
    cent = per_dim.join(counts, "lab").select(
        "lab", "n", "pos", F.expr("__s DIV n").alias("__c")
    )
    pair_dims = (
        cent.alias("x")
        .join(cent.alias("y"), (F.col("x.pos") == F.col("y.pos"))
              & (F.col("x.lab") < F.col("y.lab")))
        .select(
            F.col("x.lab").alias("label_a"),
            F.col("y.lab").alias("label_b"),
            F.col("x.n").alias("n_a"),
            F.col("y.n").alias("n_b"),
            ((F.col("x.__c") - F.col("y.__c"))
             * (F.col("x.__c") - F.col("y.__c"))).alias("__d2"),
        )
    )
    return (
        pair_dims.groupBy("label_a", "label_b", "n_a", "n_b")
        .agg(F.sum("__d2").alias("__sum"))
        .select(
            "label_a", "label_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            _isqrt(F.col("__sum")).cast("long").alias("dist_q"),
        )
    )


def pq_reconstruction_report(
    emb: DataFrame,
    n_cells: int = 64,
    cell_iters: int = 1,
    m: int = 4,
    n_codes: int = 16,
    pq_iters: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Per-subspace PQ quantization-error report — the codebook-quality
    audit behind ``ivf_pq_topk``: mean squared residual-to-codeword
    distance per subspace (squared quantized units). A subspace whose
    MSE dwarfs the others is under-coded (raise its share of n_codes or
    rotate dimensions); the ratio of total MSE to mean residual norm is
    the compression-distortion operating point.

    Zero extra passes over the fit: the per-subspace argmin distance is
    already computed during encoding and rides out of the same Arrow
    pass (``_pq_encode(with_err)``); the report is one posexplode of
    the m-length error vector + a groupBy(subspace) with map-side
    combine. decimal(38,0) totals (int64-safe per term under the coord
    bound, HUGEINT in the oracle); mse = total DIV n (non-negative).
    Returns (subspace, n_vecs, mse_q2)."""
    codes, _, _ = pq_fit_encode(
        emb, n_cells, cell_iters, m, n_codes, pq_iters, dim,
        id_col, vec_col, seed, with_err=True,
    )
    return (
        codes.select(F.posexplode("errs").alias("subspace", "__e"))
        .groupBy("subspace")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum(F.col("__e").cast("decimal(38,0)")).alias("__s"),
        )
        .select(
            F.col("subspace").cast("int").alias("subspace"),
            "n_vecs",
            F.expr("__s div n_vecs").cast("long").alias("mse_q2"),
        )
    )
