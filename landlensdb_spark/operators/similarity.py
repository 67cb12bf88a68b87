"""Similarity search over embedding columns (``array<float>``).

The kNN-over-vectors analog of the spatial kNN operator: brute-force cosine
top-k as the exact baseline, and a random-hyperplane LSH bucketed variant as
the 10^12-scale path (bucket equi-join bounds candidates per probe, same
shape as the H3 k-ring expansion).

Float parity note: dot products are accumulated **sequentially over
dimensions** in float64 — bit-identical to a SQL engine's left-to-right
``list_dot_product`` on DOUBLE lists, so oracle comparisons are exact. The
numpy kernels vectorize across rows with a scalar loop over the
≤few-hundred dims; the pair re-rank of the candidate-join paths (LSH, IVF,
exact near-dup) is one Catalyst expression (:func:`_cosine`:
``aggregate`` over ``zip_with``) computing the same sums in the same order,
so no pair crosses into Python.

Scale pattern for top-k: each Arrow batch of the brute-force path emits
only its LOCAL top-k per probe (numpy argpartition); every path then ends
in the same window merge (:func:`_topk`) — rows through the shuffle are
O(batches * probes * k), never n_points * n_probes.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from landlensdb_spark.operators.multimodal import map_batches
from landlensdb_spark.session import local_frame


def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot of (n,d) x (n,d) with sequential per-dim accumulation
    (engine-parity order). float64."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for d in range(a.shape[1]):
        acc = acc + a[:, d] * b[:, d]
    return acc


def _seq_gram(pts: np.ndarray, probes: np.ndarray) -> np.ndarray:
    """(n,d) x (m,d) -> (n,m) dot matrix, sequential over dims."""
    acc = np.zeros((pts.shape[0], probes.shape[0]), dtype=np.float64)
    for d in range(pts.shape[1]):
        acc = acc + pts[:, d : d + 1] * probes[None, :, d]
    return acc


def _norm(a: np.ndarray) -> np.ndarray:
    return np.sqrt(_seq_dot(a, a))


def _dot(a: Column, b: Column) -> Column:
    """Sequential per-dim float64 dot of two array columns, in Catalyst."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cosine(a: str, b: str) -> Column:
    """Pair cosine of two array columns, bit-identical to
    ``_seq_dot(a, b) / (_norm(a) * _norm(b))``. NULL where that ratio is
    undefined (a zero-norm vector), so the pair ranks last and passes no
    threshold — Spark orders NaN above every number. ``try_divide``
    because ANSI mode raises on a bare ``/ 0.0``."""
    va, vb = F.col(a), F.col(b)
    cos = F.try_divide(_dot(va, vb), F.sqrt(_dot(va, va)) * F.sqrt(_dot(vb, vb)))
    return F.nanvl(cos, F.lit(None).cast("double"))


def _rerank(cand: DataFrame, probe_id: str, point_id: str, vec_col: str) -> DataFrame:
    """Exact cosine of each (probe ``_pvec``, point ``vec_col``) candidate."""
    return cand.select(
        F.col(probe_id).cast("long"),
        F.col(point_id).cast("long"),
        _cosine("_pvec", vec_col).alias("score"),
    )


def _topk(scored: DataFrame, k: int, probe_id: str, point_id: str) -> DataFrame:
    """The window merge every top-k path ends in: best ``k`` per probe by
    (score desc, point id asc), with ``rank`` and the score at 6 digits."""
    w = Window.partitionBy(probe_id).orderBy(
        F.col("score").desc(), F.col(point_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("score", F.round("score", 6))
    )


def cosine_topk(
    points: DataFrame,
    probes: DataFrame,
    k: int,
    point_id: str = "vec_id",
    probe_id: str = "probe_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (probe_id, point_id, score, rank).

    Probes are collected + broadcast (the small side by design); each point
    batch scores all probes and emits its local top-k per probe; a single
    window merge finishes. Ties break by point id (deterministic).
    """
    spark = points.sparkSession
    prows = probes.select(probe_id, vec_col).collect()
    pids = np.array([r[0] for r in prows], dtype=np.int64)
    pvecs = np.array([r[1] for r in prows], dtype=np.float64)
    pnorm = _norm(pvecs)
    bc = spark.sparkContext.broadcast((pids, pvecs, pnorm, k))

    def _score(pt_ids, pt_vecs):
        b_pids, b_pvecs, b_pnorm, kk = bc.value
        ids = pt_ids.to_numpy(zero_copy_only=False).astype(np.int64)
        vecs = np.array(pt_vecs.to_pylist(), dtype=np.float64)
        dots = _seq_gram(vecs, b_pvecs)  # (n, m)
        norms = _norm(vecs)
        denom = norms[:, None] * b_pnorm[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, dots / denom, 0.0)
        kloc = min(kk, len(ids))
        # local top-k per probe (selection on (-score, id) ordering); the
        # point ids ride along as the batch rows ``order`` picks
        order = np.lexsort((ids[:, None].repeat(len(b_pids), 1), -cos), axis=0)[:kloc]
        return [
            order.ravel(),
            np.tile(b_pids, kloc),
            np.take_along_axis(cos, order, axis=0).ravel(),
        ]

    scored = map_batches(
        points, [point_id, vec_col], _score, f"{probe_id} long, score double", [point_id]
    ).select(probe_id, F.col(point_id).cast("long"), "score")
    return _topk(scored, k, probe_id, point_id)


def lsh_bucket(vec_col: str, planes: np.ndarray):
    """Random-hyperplane signature as a pandas UDF -> long bucket id."""
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _bucket(vecs: pd.Series) -> pd.Series:
        v = np.array(list(vecs), dtype=np.float64)
        # sequential per-dim accumulation (not matmul): bit-identical to a
        # SQL engine's left-to-right list_dot_product, so the sign bits are
        # cross-engine reproducible for the oracle
        signs = _seq_gram(v, planes) > 0  # (n, nplanes)
        out = np.zeros(len(v), dtype=np.int64)
        for b in range(planes.shape[0]):
            out |= signs[:, b].astype(np.int64) << b
        return pd.Series(out)

    return _bucket


def make_planes(dim: int, n_planes: int = 12, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_cosine_topk(
    points: DataFrame,
    probes: DataFrame,
    k: int,
    dim: int,
    point_id: str = "vec_id",
    probe_id: str = "probe_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
) -> DataFrame:
    """Approximate cosine top-k: candidates share an LSH bucket with the
    probe; exact re-rank within bucket. Recall rises with fewer planes /
    multi-probe; this is the IVF-style scale path (bucket equi-join instead
    of all-pairs)."""
    planes = make_planes(dim, n_planes)
    bucket = lsh_bucket(vec_col, planes)
    pts = points.withColumn("_bucket", bucket(F.col(vec_col)))
    prb = probes.withColumn("_bucket", bucket(F.col(vec_col)))
    cand = prb.select(
        F.col(probe_id), F.col(vec_col).alias("_pvec"), "_bucket"
    ).join(pts.select(F.col(point_id), vec_col, "_bucket"), "_bucket")
    return _topk(_rerank(cand, probe_id, point_id, vec_col), k, probe_id, point_id)


def embedding_near_dup_exact(
    vectors: DataFrame,
    threshold: float = 0.95,
    point_id: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 32,
    centroids: np.ndarray | None = None,
    eps: float = 1e-9,
) -> DataFrame:
    """EXACT (id_a, id_b, score) pairs with cosine >= threshold, distributed.

    The scalable-and-still-exact shape:

    1. every vector joins its nearest k-means cell (IVF assignment);
    2. one tiny agg computes each cell's angular radius r_c = max angle
       between a member and its centroid (k rows to the driver — never the
       vector table);
    3. triangle inequality prunes cell pairs: members of (c1, c2) can only
       reach cos >= t if angle(c1, c2) <= acos(t) + r_c1 + r_c2, so the
       driver emits just the qualifying (c1 <= c2) pairs (k^2 bound);
    4. the cell-pair equi-join generates candidates; exact sequential-dot
       cosine + threshold filter finishes.

    Pruning is CONSERVATIVE (an eps widens the bound against float error),
    so results are exactly the all-pairs answer. Efficiency comes from the
    clusteredness of real embedding corpora — tight cells prune most of the
    k^2 pairs; on pathological uniform-random vectors every cell pair may
    qualify and the operator degrades to a partitioned exact all-pairs scan
    (still no driver collect of the table). Zero-norm vectors are excluded
    (cosine undefined; SQL engines yield NULL/NaN there too).
    """
    spark = vectors.sparkSession
    if centroids is None:
        centroids = train_centroids(vectors, n_centroids, vec_col, id_col=point_id)
    v = (
        vectors.filter(_dot(F.col(vec_col), F.col(vec_col)) > 0)
        .withColumn(
            "_cent",
            F.element_at(_centroid_assign_udf(vec_col, centroids, 1)(F.col(vec_col)), 1),
        )
    )

    @F.pandas_udf("double")
    def _angle_to(cents: pd.Series, vecs: pd.Series) -> pd.Series:
        x = np.array(list(vecs), dtype=np.float64)
        x = x / np.maximum(_norm(x)[:, None], 1e-300)
        c = centroids[cents.to_numpy(dtype=np.int64)]
        cos = np.clip(_seq_dot(x, c), -1.0, 1.0)
        return pd.Series(np.arccos(cos))

    rad_rows = (
        v.select("_cent", F.col(vec_col))
        .withColumn("_ang", _angle_to(F.col("_cent"), F.col(vec_col)))
        .groupBy("_cent")
        .agg(F.max("_ang").alias("_r"))
        .collect()
    )
    radius = np.zeros(len(centroids), dtype=np.float64)
    for r in rad_rows:
        radius[int(r["_cent"])] = float(r["_r"])

    cc = np.clip(centroids @ centroids.T, -1.0, 1.0)
    ang = np.arccos(cc)
    bound = math.acos(min(max(threshold, -1.0), 1.0))
    keep = ang <= bound + radius[:, None] + radius[None, :] + eps
    cell_pairs = [
        (int(c1), int(c2))
        for c1 in range(len(centroids))
        for c2 in range(c1, len(centroids))
        if keep[c1, c2]
    ]
    cp = local_frame(spark, cell_pairs, "c1 int, c2 int")

    a = v.select(
        F.col(point_id).alias("id_a"), F.col(vec_col).alias("_va"), F.col("_cent").alias("c1")
    )
    b = v.select(
        F.col(point_id).alias("id_b"), F.col(vec_col).alias("_vb"), F.col("_cent").alias("c2")
    )
    # distinct-cell pairs appear exactly once via the (min, max) entry; only
    # same-cell pairs need the id ordering filter
    cand = (
        a.join(F.broadcast(cp), "c1")
        .join(b, "c2")
        .filter((F.col("c1") != F.col("c2")) | (F.col("id_a") < F.col("id_b")))
    )

    # 6-digit rounding as np.round does it (x * 1e6, round half to even,
    # / 1e6): F.round rounds HALF_UP and could flip a pair at the threshold
    score = F.rint(_cosine("_va", "_vb") * 1e6) / 1e6
    return cand.select(
        F.least("id_a", "id_b").cast("long").alias("id_a"),
        F.greatest("id_a", "id_b").cast("long").alias("id_b"),
        score.alias("score"),
    ).filter(F.col("score") >= threshold)


# ---------------------------------------------------------------------------
# IVF-Flat: k-means coarse quantizer + multi-probe (the other scale path)
# ---------------------------------------------------------------------------

def train_centroids(
    vectors: DataFrame,
    n_centroids: int = 64,
    vec_col: str = "embedding",
    sample: int = 4096,
    iters: int = 10,
    seed: int = 11,
    id_col: str = "vec_id",
) -> np.ndarray:
    """Deterministic spherical k-means on a bounded driver-side sample.

    The training sample is O(sample x dim) — independent of table size, the
    property that lets the same code train on a 10^12-row table. The sample
    is the ``sample`` smallest ``id_col`` rows (bare ``limit`` is
    partition-order-dependent in Spark, which would make centroids differ
    run to run). Returns L2-normalized (n_centroids, dim) float64 centroids.
    """
    rows = vectors.select(vec_col).orderBy(F.col(id_col).asc()).limit(sample).collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    return kmeans_unit(x, n_centroids, iters, seed)


def kmeans_unit(x: np.ndarray, n_centroids: int, iters: int = 10, seed: int = 11) -> np.ndarray:
    """The deterministic spherical-k-means kernel on a raw (n, dim) float64
    sample — shared by the Spark trainer above and the oracle-SQL constant
    builder (identical inputs -> bit-identical centroids)."""
    x = x / np.maximum(_norm(x)[:, None], 1e-12)
    k = min(n_centroids, len(x))
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(iters):
        sims = x @ cent.T                     # (n, k) cosine (all unit)
        assign = np.argmax(sims, axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cent[c] = m / max(float(np.sqrt((m * m).sum())), 1e-12)
    return cent


def _centroid_assign_udf(vec_col: str, centroids: np.ndarray, n_probe: int = 1):
    """pandas UDF: vector -> array of its ``n_probe`` nearest centroid ids."""
    from pyspark.sql.types import ArrayType, IntegerType

    @F.pandas_udf(ArrayType(IntegerType()))
    def _assign(vecs: pd.Series) -> pd.Series:
        v = np.array(list(vecs), dtype=np.float64)
        # raw sequential dots against the (unit) centroids: dividing by
        # ||v|| would not change the per-row ordering, and skipping it keeps
        # the scores bit-identical to a SQL engine's list_dot_product so the
        # oracle can reproduce the assignment. Stable sort = ties break to
        # the smallest centroid id (SQL: ORDER BY dot DESC, id ASC).
        sims = _seq_gram(v, centroids)
        if n_probe == 1:
            return pd.Series([[int(i)] for i in np.argmax(sims, axis=1)])
        top = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.astype(np.int32).tolist() for row in top])

    return _assign


def ivf_cosine_topk(
    points: DataFrame,
    probes: DataFrame,
    k: int,
    n_centroids: int = 64,
    n_probe: int = 8,
    point_id: str = "vec_id",
    probe_id: str = "probe_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Approximate cosine top-k, IVF-Flat shape: points partition into
    k-means cells (inverted lists); each probe scans only its ``n_probe``
    nearest cells; exact re-rank inside. Complements the hyperplane-LSH
    variant: centroids adapt to the data distribution, so recall at equal
    candidate budget is typically higher on clustered embeddings.

    At scale the cell id doubles as the table sort/partition key (same
    pattern as the H3 cell for spatial data): a probe touches n_probe/k of
    the table, pruned at the parquet row-group level.
    """
    if centroids is None:
        centroids = train_centroids(points, n_centroids, vec_col)
    pts = points.withColumn(
        "_cent", F.element_at(_centroid_assign_udf(vec_col, centroids, 1)(F.col(vec_col)), 1)
    )
    prb = probes.withColumn(
        "_cents", _centroid_assign_udf(vec_col, centroids, n_probe)(F.col(vec_col))
    ).withColumn("_cent", F.explode("_cents"))

    cand = prb.select(
        F.col(probe_id), F.col(vec_col).alias("_pvec"), "_cent"
    ).join(pts.select(F.col(point_id), vec_col, "_cent"), "_cent")
    return _topk(_rerank(cand, probe_id, point_id, vec_col), k, probe_id, point_id)
