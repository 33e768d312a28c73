"""Approximate-nearest-neighbor search over embedding columns.

First-class training-data-pipeline addition (no reference counterpart).
Strategies:

- ``cosine_topk``: exact brute-force top-k. The dot product is a JVM-side
  ``aggregate(zip_with(...))`` over double arrays — bit-identical to
  DuckDB's list_dot_product, so results are oracle-checkable exactly.
  Quadratic: the correctness baseline and the small-N (<~10^5) path.
  ``cosine_topk_blocked`` is the same answer for a bounded query set.
- ``lsh_ann_topk`` (+ ``_multiband``, ``embedding_dup_pairs``):
  random-hyperplane LSH. Deterministic hyperplanes are derived from md5
  of (plane, dim) — sign hashes bucket the vectors; the quadratic search
  runs only within buckets.
- ``ivf_ann_topk``, ``pq_ann_topk``, ``ivfpq_ann_topk``: coarse cells,
  product-quantized codes, and their composition.

Every operator but the JVM-side ``cosine_topk`` (and k-means in
``kmeans.py``, and the incremental ANN index) runs on one private kernel
layer of Arrow-batched numpy functions, each with the arithmetic
association of the sequential fold (so every result stays hash-exact
against DuckDB):

- projection ``_prep``: (_id, _vec, _norm), zero-norm rows excluded,
  spread across the cores;
- bucketizer ``_bucketize``: sign-LSH bucket ids for one or more
  hyperplane sets;
- cell assigner ``_assign_cells``: each row's n most similar centroids,
  ties to the lowest cell id;
- grid scorer ``_grid``: the query x base cosine grid in chunks of at
  most ``_GRID_CELLS`` cells, with the top-k (``_topk_frame``) and
  threshold (``_dup_pairs``, ``_dup_counts``) consumers on top.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Cells (query rows x base rows) of one scored chunk: ~32 MB of float64
# per grid, plus its sort key, whatever the query set or bucket size.
_GRID_CELLS = 4_000_000


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right dot product (bit-identical to DuckDB's
    list_dot_product and to ``_np_grid_dots``)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _infer_dim(df: DataFrame, vec_col: str) -> int | None:
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"]) if row else None


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = F.col(vec_col).cast("array<double>")
    return df.withColumn("_vec", v).withColumn("_norm", F.sqrt(_dot(v, v)))


def _vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(_id, _vec double[], _norm) with zero-norm vectors EXCLUDED — the
    family's degenerate-vector contract: cosine is undefined there, and a
    0/0 NaN orders differently across engines (Spark ranks NaN above all
    doubles, numpy's argsort places it last)."""
    return (
        with_norm(df, vec_col)
        .filter(F.col("_norm") > 0)
        .select(F.col(id_col).alias("_id"), "_vec", "_norm")
    )


def _prep(df: DataFrame, id_col: str, vec_col: str, dim: int | None = None) -> DataFrame:
    """``_vectors`` spread across the cores: the input of the Arrow
    kernels. ``dim`` may be passed but is not needed by the projection."""
    return _spread(_vectors(df, id_col, vec_col))


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin the frame across the cluster IFF it has fewer
    partitions than cores (guide §2.5 input skew: a small parquet file
    scans as 1-2 splits, and every Arrow kernel downstream would run on
    1-2 cores while the rest idle). Conditional on the CURRENT partition
    count, so at production scale — where scans have thousands of natural
    splits — this is a no-op, never an extra corpus shuffle."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def _ranked(cand: DataFrame, k: int, score: str = "cosine") -> DataFrame:
    """The global top-k per query over candidate (query_id, neighbor_id,
    cosine) rows: row_number over (cosine DESC, neighbor_id), the oracle's
    order; the score column is output as ``score``."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("cosine").alias(score), "rank")
    )


# ---------------------------------------------------------------------------
# Kernel layer: numpy over Arrow batches, the sequential fold's association
# ---------------------------------------------------------------------------
def _np_stack(col):
    """Stack a pandas column of array cells into an (n, dim) float64
    matrix; an empty column gives a (0, 0) matrix."""
    if not len(col):
        return np.empty((0, 0))
    return np.stack(col.to_numpy()).astype(np.float64, copy=False)


def _np_grid_dots(Q, B):
    """Pairwise dots with the EXACT association of the JVM HOF fold /
    DuckDB list_dot_product: acc starts at 0.0 and adds products in
    dimension order — vectorized across pairs, sequential across dims
    (numpy has no FMA; plain IEEE mul-then-add). An empty side gives an
    empty grid."""
    acc = np.zeros((len(Q), len(B)))
    for q, b in zip(Q.T, B.T):
        acc += q[:, None] * b[None, :]
    return acc


def _np_sq_norms(V):
    """Per-row sum of squares in dimension order: ``with_norm``'s
    dot(v, v) before the sqrt, bit for bit."""
    acc = np.zeros(len(V))
    for x in V.T:
        acc += x * x
    return acc


def _side(pdf: pd.DataFrame):
    """(ids, vectors, norms) of an (_id, _vec, _norm) frame in ascending
    id order — the stable top-k sorts rely on it to break cosine ties by
    the lowest id."""
    pdf = pdf.sort_values("_id", kind="mergesort")
    return pdf["_id"].to_numpy(), _np_stack(pdf["_vec"]), pdf["_norm"].to_numpy(dtype=np.float64)


def _collected(rows):
    """``_side`` of driver-side (id, vec, norm) tuples: collected rows,
    codewords or centroids."""
    return _side(pd.DataFrame(rows, columns=["_id", "_vec", "_norm"]))


def _grid(q, b, dots=_np_grid_dots, row_cells: int = 0):
    """The cosine grid of query side ``q`` against base side ``b`` (both
    ``_side`` triples) in chunks of query rows, at most ``_GRID_CELLS``
    cells each unless one row is wider: yields (first row, chunk).
    ``dots(Q_chunk, B)`` scores the raw products — ``_np_grid_dots``, or
    ADC with PQ tables as Q and codes as B. ``row_cells`` is what ``dots``
    itself builds per query row (ADC's m x k_codes lookup table when it
    makes the tables per chunk); the chunk height keeps that within the
    budget too. An empty query side still yields one (0, nb) chunk, so
    consumers always get typed arrays."""
    (_, Q, qn), (_, B, bn) = q, b
    ch = max(1, _GRID_CELLS // max(len(bn), row_cells, 1))
    for s in range(0, max(len(qn), 1), ch):
        yield s, dots(Q[s : s + ch], B) / (qn[s : s + ch, None] * bn[None, :])


def _frame(names, parts) -> pd.DataFrame:
    """One frame from per-chunk column arrays (names beyond the arrays
    are dropped)."""
    return pd.DataFrame({n: np.concatenate(c) for n, c in zip(names, zip(*parts))})


def _np_topk_rows(qids, nids, cos, k, with_rank):
    """Per-query local top-k rows from a scored grid (cos: nq x nb), ties
    by neighbor id — nids MUST be ascending so the stable argsort on
    -key reproduces row_number() over (cosine DESC, neighbor_id).
    Self-pairs (query id == neighbor id) are masked to -inf, which sorts
    last, so surviving candidates keep dense ranks 1..n. Returns column
    arrays (query_id, neighbor_id, cosine[, rank])."""
    nq, nb = cos.shape
    kk = min(k, nb)
    key = np.where(qids[:, None] == nids[None, :], -np.inf, cos)
    order = np.argsort(-key, axis=1, kind="stable")[:, :kk]
    rows = np.repeat(np.arange(nq), kk)
    cols = order.ravel()
    keep = key[rows, cols] != -np.inf
    out = [np.repeat(qids, kk)[keep], nids[cols][keep], cos[rows, cols][keep]]
    if with_rank:
        out.append(np.tile(np.arange(1, kk + 1, dtype=np.int32), nq)[keep])
    return out


def _topk_frame(
    q, b, k: int, dots=_np_grid_dots, rank: bool = False, row_cells: int = 0
) -> pd.DataFrame:
    """Each query's top-k neighbors in ``b``, self-pairs excluded, ties
    by neighbor id: a typed (query_id, neighbor_id, cosine[, rank]) frame,
    empty when either side is. ``dots``/``row_cells`` as in ``_grid``."""
    parts = [
        _np_topk_rows(q[0][s : s + len(cos)], b[0], cos, int(k), rank)
        for s, cos in _grid(q, b, dots, row_cells)
    ]
    return _frame(("query_id", "neighbor_id", "cosine", "rank"), parts)


def _dup_pairs(s, thr: float) -> pd.DataFrame:
    """(id_a, id_b, cosine) of the id_a < id_b pairs of side ``s`` at
    cosine >= thr."""
    ids, parts = s[0], []
    for i, cos in _grid(s, s):
        r, c = np.nonzero((cos >= thr) & (ids[i : i + len(cos), None] < ids[None, :]))
        parts.append((ids[i + r], ids[c], cos[r, c]))
    return _frame(("id_a", "id_b", "cosine"), parts)


def _dup_counts(s, thr: float):
    """Per row of side ``s``: how many LOWER-id rows reach cosine >= thr."""
    ids = s[0]
    return np.concatenate(
        [
            ((cos >= thr) & (ids[None, :] < ids[i : i + len(cos), None])).sum(axis=1)
            for i, cos in _grid(s, s)
        ]
    )


def hyperplane_weight(seed: int, plane: int, dim_idx: int) -> float:
    """+1/-1 weight from md5(seed|plane|dim) — computed driver-side once per
    (plane, dim) and embedded as a literal; the identical arithmetic is
    reproducible in SQL (('0x'||substr(md5(...),1,15))::bigint % 2) * 2 - 1."""
    import hashlib

    h = int(hashlib.md5(f"{seed}|{plane}|{dim_idx}".encode()).hexdigest()[:15], 16)
    return float((h % 2) * 2 - 1)


def _np_planes(n_planes: int, dim: int, seed: int):
    """The ±1 hyperplane weight matrix (n_planes x dim) — the same
    md5-derived constants the oracle SQL embeds as list literals."""
    return np.array(
        [[hyperplane_weight(seed, p, d) for d in range(dim)] for p in range(n_planes)]
    )


def _np_bucket(V, W):
    """Sign-LSH bucket ids for a vector batch, over the same md5-derived
    planes as the oracle's ``_lsh_bucket_sql``. Projections use the
    module's ordered dimension-axis accumulation; a SQL sum that starts at
    e1*w1 rather than 0.0 differs only in 0.0 + (-0.0) = +0.0, and the
    only consumer is ``proj > 0`` where ±0.0 compare equal — bucket
    decisions match the sequential SQL sum exactly."""
    proj = _np_grid_dots(V, W)  # (n, n_planes)
    weights = (1 << np.arange(W.shape[0], dtype=np.int64))[None, :]
    return ((proj > 0) * weights).sum(axis=1).astype(np.int32)


def _bucket_batches(batches, Ws):
    """``_bucketize``'s mapInPandas body."""
    for pdf in batches:
        if not len(pdf):
            continue
        V = _np_stack(pdf["_vec"])
        ids, vecs, nrm = pdf["_id"].to_numpy(), list(V), np.sqrt(_np_sq_norms(V))
        for band, W in enumerate(Ws):
            yield pd.DataFrame(
                {
                    "_id": ids,
                    "band": np.full(len(ids), band, dtype=np.int32),
                    "bucket": _np_bucket(V, W),
                    "_vec": vecs,
                    "_norm": nrm,
                }
            )


def _bucketize(df: DataFrame, id_col: str, vec_col: str, Ws) -> DataFrame:
    """(_id, band, bucket, _vec, _norm) rows: one per vector and hyperplane
    matrix in ``Ws`` (band = its index), in one Arrow pass. Zero-norm
    vectors are kept: each operator decides whether they count toward its
    bucket cap."""
    idt = dict(df.dtypes)[id_col]
    return df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_vec")
    ).mapInPandas(
        lambda batches: _bucket_batches(batches, Ws),
        f"_id {idt}, band int, bucket int, _vec array<double>, _norm double",
    )


def _cell_batches(batches, cents, n: int):
    """``_assign_cells``' mapInPandas body; ``cents`` is a ``_side``
    triple (cell ids ascending)."""
    cells, C, cns = cents
    for pdf in batches:
        if not len(pdf):
            continue
        V, nrm = _np_stack(pdf["_vec"]), pdf["_norm"].to_numpy(dtype=np.float64)
        # stable sort over cell-ascending columns: ties go to the lowest cell
        top = np.argsort(
            -(_np_grid_dots(V, C) / (nrm[:, None] * cns[None, :])), axis=1, kind="stable"
        )[:, :n]
        ids, vecs = pdf["_id"].to_numpy(), list(V)
        for pr in range(top.shape[1]):
            yield pd.DataFrame(
                {
                    "_id": ids,
                    "cell": cells[top[:, pr]],
                    "_pr": np.full(len(ids), pr + 1, dtype=np.int32),
                    "_vec": vecs,
                    "_norm": nrm,
                }
            )


def _assign_cells(v: DataFrame, cents, n: int) -> DataFrame:
    """(_id, cell, _pr, _vec, _norm): each row of a ``_prep`` frame once
    per its ``n`` most cosine-similar centroids, probe rank ``_pr`` 1..n.
    ``cents`` are (cell, vec, norm) tuples in any order."""
    cs = _collected(cents)
    return v.mapInPandas(
        lambda batches: _cell_batches(batches, cs, n),
        f"_id {dict(v.dtypes)['_id']}, cell bigint, _pr int, _vec array<double>, _norm double",
    )


def _np_pq_codes(X, CW, m: int, sub: int):
    """PQ encode (n, m): per subspace j, argmin_c of dot(cw_c, cw_c) -
    2*dot(x_j, cw_c), both the fold's dimension-order sum; np.argmin
    takes the FIRST minimum, i.e. ties go to the smallest code c."""
    codes = np.empty((len(X), m), dtype=np.int64)
    for j in range(m):
        x, cw = X[:, j * sub : (j + 1) * sub], CW[:, j * sub : (j + 1) * sub]
        codes[:, j] = np.argmin(_np_sq_norms(cw)[None, :] - 2.0 * _np_grid_dots(x, cw), axis=1)
    return codes


def _np_pq_qtab(Q, CW, m: int, sub: int):
    """ADC lookup tables (nq, m, k_codes): subspace-j dot(q_j, cw_c_j),
    fold order (acc from 0.0 over the subspace dims)."""
    return np.stack(
        [
            _np_grid_dots(Q[:, j * sub : (j + 1) * sub], CW[:, j * sub : (j + 1) * sub])
            for j in range(m)
        ],
        axis=1,
    )


def _np_adc(T, codes):
    """(nq, nb) ADC sums t_1 + ... + t_m LEFT-TO-RIGHT: the first term is
    assigned (not added to 0.0), matching the oracle's ts[1] + ... + ts[m]
    bit-for-bit."""
    acc = T[:, 0, :][:, codes[:, 0]].copy()
    for j in range(1, T.shape[1]):
        acc += T[:, j, :][:, codes[:, j]]
    return acc


def _cap_buckets(
    b: DataFrame, max_bucket_size: int | None, *bucket_cols: str
) -> DataFrame:
    """Drop rows in degenerate buckets (> max_bucket_size members).

    A sign-LSH bucket of B members costs O(B²) in the pair join — one
    pathological bucket (constant/zero embeddings, which scraped corpora
    contain in bulk) is a scale-killer at 10⁹ vectors. The cap makes worst-
    case per-bucket cost a constant: overflow buckets are excluded from the
    bucketed search and should be routed to a denser partitioner (more
    planes, or ``ivf_ann_topk`` whose per-cell cost is bounded by N/n_cells)
    — same contract as ``dedup.minhash_candidates(max_bucket_size=...)``.

    Plan shape matters here: finding degenerate buckets with a
    count-over-window would SHUFFLE every row by bucket — recreating the
    exact hot-partition skew the cap exists to avoid (the degenerate bucket
    IS the skewed key). Instead the overflow bucket ids are computed by a
    partial-aggregating groupBy (map-side combine, tiny result: one row per
    overfull bucket) and removed with a BROADCAST anti-join — no shuffle or
    sort of the data itself.
    """
    if max_bucket_size is None:
        return b
    overflow = (
        b.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_bucket_size)
        .select(*bucket_cols)
    )
    return b.join(F.broadcast(overflow), list(bucket_cols), "left_anti")


# ---------------------------------------------------------------------------
# Operators
# ---------------------------------------------------------------------------
def cosine_topk(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    queries: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (default: all).

    Output: (query_id, neighbor_id, cosine, rank) — ties broken by
    neighbor_id so results are total-ordered and reproducible.

    Zero-norm vectors are EXCLUDED from both sides (``_vectors``). Same
    filter in ``cosine_topk_blocked``, keeping the two bit-identical.
    ``dim`` may be passed but is not needed.
    """
    base = _vectors(df, id_col, vec_col).select(
        F.col("_id").alias("neighbor_id"), F.col("_vec").alias("_bv"), F.col("_norm").alias("_bn")
    )
    qset = _vectors(queries if queries is not None else df, id_col, vec_col).select(
        F.col("_id").alias("query_id"), F.col("_vec").alias("_qv"), F.col("_norm").alias("_qn")
    )
    pairs = qset.join(base, F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn(
        "cosine", _dot(F.col("_qv"), F.col("_bv")) / (F.col("_qn") * F.col("_bn"))
    )
    return _ranked(scored, k)


def cosine_topk_blocked(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 100_000,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine for a BOUNDED query set — the fast verifier.

    The query set (contract: small — thousands, not the corpus; the
    all-pairs path at scale is LSH/IVF) is collected once and closed over
    by an Arrow-batched kernel that scores the query x batch grid with
    the module's dimension-axis accumulation, in ``_GRID_CELLS`` chunks
    of query rows. Bit-identical to ``cosine_topk``/DuckDB.

    Scale shape: the base side streams through ``mapInPandas`` (no pair
    blowup materialized JVM-side), queries ride along as a ~MB closure —
    a broadcast in cluster terms; each batch emits only each query's k
    best (map-side top-k), the final window ranks partitions*k rows per
    query. Output matches ``cosine_topk``: (query_id, neighbor_id,
    cosine, rank). ``dim`` may be passed but is not needed.
    """
    # the bound is checked post-collect (a .limit() would add a
    # single-partition funnel exchange, ~2x the whole collect step); the
    # check still turns contract misuse into a clear error before the
    # query matrix is built and broadcast into every task
    qrows = _vectors(queries, id_col, vec_col).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"cosine_topk_blocked collects the query set to the driver: got "
            f"{len(qrows)} > max_queries={max_queries} rows — this is the "
            "bounded-query verifier; use lsh_ann_topk / ivf_ann_topk for "
            "corpus-vs-corpus"
        )
    q = _collected(qrows)
    base = _prep(df, id_col, vec_col)
    idt = dict(base.dtypes)["_id"]

    def score(batches):
        for pdf in batches:
            if len(pdf):
                yield _topk_frame(q, _side(pdf), k)

    return _ranked(
        base.mapInPandas(score, f"query_id {idt}, neighbor_id {idt}, cosine double"), k
    )


def lsh_ann_topk(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 0,
    max_bucket_size: int | None = 10000,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine ranking within LSH sign buckets.

    Vectors only compete inside their bucket — recall < 1 by design;
    increase recall with fewer planes (bigger buckets) or multiple seeds
    (band OR-ing, union + re-rank: ``lsh_ann_topk_multiband``). Buckets
    larger than ``max_bucket_size`` are dropped from the search entirely
    (degenerate-bucket guard, see ``_cap_buckets``).

    Plan shape: ONE exchange — bucketized rows hash-partition by bucket
    into a per-bucket kernel that scores the in-bucket grid and emits
    each query's ranked top-k directly: a query competes only inside its
    single bucket, so the per-bucket top-k IS the global answer. Buckets
    are counted toward the cap on the RAW mapping (zero-norm rows
    included); zero-norm vectors are then excluded from scoring.
    """
    dim = dim if dim is not None else _infer_dim(df, vec_col)
    idt = dict(df.dtypes)[id_col]
    base = _bucketize(df, id_col, vec_col, [_np_planes(n_planes, dim, seed)])
    # staged: the cap agg + anti-join probe both consume the kernel output
    base = _cap_buckets(base.localCheckpoint(eager=False), max_bucket_size, "bucket")

    def score_bucket(key, pdf):
        s = _side(pdf)
        return _topk_frame(s, s, k, rank=True).assign(bucket=key[0])

    return base.filter(F.col("_norm") > 0).groupBy("bucket").applyInPandas(
        score_bucket,
        f"query_id {idt}, bucket int, neighbor_id {idt}, cosine double, rank int",
    )


def ivf_ann_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 2,
    dim: int | None = None,
    centroids: list | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse quantize into ``n_cells`` cells, search the
    query's ``n_probe`` closest cells only. Pass ``centroids`` (a
    ``train_kmeans`` result, in any order) to use a TRAINED coarse
    quantizer — the plan is identical, only the centroid matrix changes.

    The coarse quantizer is deterministic and training-free: the ``n_cells``
    LOWEST-id vectors act as (spherical) centroids — rank-based selection
    (orderBy(id).limit(n_cells) = a distributed TakeOrdered, no full sort),
    so sparse or offset id spaces still yield exactly n_cells centroids.
    The IVF structure (assign -> probe -> exact re-rank within cells) is
    what matters; a k-means fit would only move the centroids, not the
    plan. Costs:
    assignment is an Arrow kernel over the spread scan (``_assign_cells``):
    the K centroids (collected once, KBs) ride in the closure, each batch
    scores its rows against all K and emits every row once per probe —
    no exchange before the cell shuffle, and no N x K grid ever leaves
    the kernel. One hash exchange on cell id feeds a per-cell kernel that
    scores the cell's probe rows against its members (each query competes
    against ~N/n_cells * n_probe candidates instead of N) and emits local
    top-k; the final window ranks <= n_probe*k rows per query. Recall is
    tunable via n_probe. Scale path alternative to ``lsh_ann_topk``.
    ``dim`` may be passed but is not needed.
    """
    v = _prep(df, id_col, vec_col)
    if centroids is not None:
        cents = [(c.cell, c.vec, c.norm) for c in centroids]
    else:
        cents = v.orderBy("_id").limit(n_cells).collect()
    idt = dict(df.dtypes)[id_col]

    def score_cell(pdf):
        return _topk_frame(_side(pdf), _side(pdf[pdf["_pr"] == 1]), k)

    cand = _assign_cells(v, cents, n_probe).groupBy("cell").applyInPandas(
        score_cell, f"query_id {idt}, neighbor_id {idt}, cosine double"
    )
    return _ranked(cand, k)


def pq_ann_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_codes: int = 16,
    n_queries: int = 256,
    dim: int | None = None,
) -> DataFrame:
    """Product-quantization ANN: exhaustive scan in the COMPRESSED domain.

    The memory path for ANN at 10^9-10^12 vectors (complements
    ``lsh_ann_topk``/``ivf_ann_topk``, which bound the candidate SET): each
    base vector is encoded as ``m`` small codes + its true norm — a 32x
    compression at dim=64 float64 — and scored by ADC (asymmetric distance
    computation): each query precomputes its m x k_codes lookup table of
    subspace dot products once, and a pair then costs m table adds — per-
    pair work independent of dim. In a full deployment PQ composes with
    IVF (``ivfpq_ann_topk``); here the scan is exhaustive, which is
    exactly the in-RAM compressed sweep those systems run per cell.

    Deterministic training-free codebook, same rank-based selection as
    ``ivf_ann_topk``: the ``k_codes`` lowest-id vectors supply the
    codewords; subspace ``j``'s codeword ``c`` is that vector's ``j``-th
    ``dim/m``-slice. Encoding picks argmin_c ||x_j - cw_c||^2 via the key
    ``dot(cw, cw) - 2*dot(x_j, cw)`` (ties -> smallest c), and the ADC
    score is a sequential left-to-right sum of m per-subspace dots, each
    the same fold as ``_dot`` — so every arithmetic step is
    bit-reproducible in SQL (list_dot_product on slices + an ordered
    ts[1] + ... + ts[m] sum) and the oracle is hash-exact even though PQ
    itself is approximate.

    ``n_queries`` (a positive int) bounds the query side to the lowest
    ids: the query tables are collected and closed over by one
    Arrow-batched pass that encodes each base batch and ADC-scores it in
    ``_GRID_CELLS`` chunks. Corpus-vs-corpus search is ``ivfpq_ann_topk``.
    Output: (query_id, neighbor_id, approx_cosine, rank) — approximate by
    design (reconstruction error), verified bit-exactly against the SQL
    oracle and by a recall test vs exact ``cosine_topk``.
    """
    if n_queries is None or n_queries < 1:
        raise ValueError(
            f"pq_ann_topk needs n_queries, a positive int bound on the query "
            f"set it collects (got {n_queries!r}); for corpus-vs-corpus search "
            "use ivfpq_ann_topk"
        )
    dim = dim if dim is not None else _infer_dim(df, vec_col)
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    sub = dim // m
    v = _prep(df, id_col, vec_col)
    # codebook and query set share one id-ordered prefix collect
    head = v.orderBy("_id").limit(max(k_codes, int(n_queries))).collect()
    CW = _collected(head[:k_codes])[1]
    qids, Q, qn = _collected(head[: int(n_queries)])
    q = (qids, _np_pq_qtab(Q, CW, m, sub), qn)
    idt = dict(df.dtypes)[id_col]

    def score(batches):
        for pdf in batches:
            if len(pdf):
                bids, X, bn = _side(pdf)
                yield _topk_frame(q, (bids, _np_pq_codes(X, CW, m, sub), bn), k, _np_adc)

    cand = v.mapInPandas(score, f"query_id {idt}, neighbor_id {idt}, cosine double")
    return _ranked(cand, k, "approx_cosine")


def _ivfpq_cell_topk(pdf: pd.DataFrame, CW, m: int, sub: int, k: int) -> pd.DataFrame:
    """One IVF cell of ``ivfpq_ann_topk``: encode the cell's members
    (``_pr == 1``) against the global codebook ``CW`` and ADC-score every
    probe row against them, local top-k. The lookup tables are built per
    grid chunk, so the chunk height also bounds their rows x m x k_codes."""
    bids, X, bn = _side(pdf[pdf["_pr"] == 1])

    def adc(Q, codes):
        return _np_adc(_np_pq_qtab(Q, CW, m, sub), codes)

    members = (bids, _np_pq_codes(X, CW, m, sub), bn)
    return _topk_frame(_side(pdf), members, k, adc, row_cells=m * len(CW))


def ivfpq_ann_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 2,
    m: int = 8,
    k_codes: int = 64,
    dim: int | None = None,
) -> DataFrame:
    """IVF+PQ: the production ANN shape (FAISS IVFPQ) — IVF bounds the
    candidate SET (each query scores only its ``n_probe`` closest cells'
    members), PQ bounds the per-pair work (members are scored as ``m``
    codes + a norm by ADC lookup tables). Composes the two operators this
    module already ships: cell assignment is ``ivf_ann_topk``'s
    ``_assign_cells``, encoding and scoring are ``pq_ann_topk``'s (one
    GLOBAL codebook — IVF-Flat + global PQ — not per-cell residual
    codebooks, which would break the training-free determinism both
    oracles rely on).

    Plan shape: the assigner kernel, one hash exchange on cell id, and a
    per-cell kernel that encodes the cell's members and ADC-scores its
    probe rows in ``_GRID_CELLS`` chunks, emitting local top-k; the final
    window ranks <= n_probe*k rows per query. Every arithmetic step is
    the shared sequential fold, so the composition stays hash-exact
    against SQL.
    """
    dim = dim if dim is not None else _infer_dim(df, vec_col)
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    sub = dim // m
    v = _prep(df, id_col, vec_col)
    head = v.orderBy("_id").limit(max(n_cells, k_codes)).collect()
    CW = _collected(head[:k_codes])[1]
    idt = dict(df.dtypes)[id_col]

    cand = _assign_cells(v, head[:n_cells], n_probe).groupBy("cell").applyInPandas(
        lambda pdf: _ivfpq_cell_topk(pdf, CW, m, sub, k),
        f"query_id {idt}, neighbor_id {idt}, cosine double",
    )
    return _ranked(cand, k, "approx_cosine")


def lsh_ann_topk_multiband(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_bands: int = 3,
    seed: int = 0,
    max_bucket_size: int | None = 10000,
    dim: int | None = None,
) -> DataFrame:
    """Multi-band sign-LSH ANN: OR over ``n_bands`` independent hyperplane
    sets, union the candidate pairs, exact cosine re-rank.

    Single-band recall at 8 planes is the scale path's weakest number
    (~0.5-0.6 at k=5 on uniform vectors); each extra band multiplies the
    miss probability — 3 bands lift recall to ~0.9 for ~3x the candidate
    work (still << brute force). Per-band buckets are capped like
    ``lsh_ann_topk``, but zero-norm vectors are excluded BEFORE the cap
    counts them.

    Plan shape: one bucketizer pass emits every band's row per vector
    (band b's ±1 weights use seed+b — independent md5 draws); each
    (band, bucket) group emits its LOCAL per-query top-k; a pair
    surfacing in several bands is deduped AFTER scoring (identical cosine
    in every copy — dropDuplicates is safe), and the global window ranks
    <= n_bands*k candidates per query. Any global top-k pair is inside
    the local top-k of every group containing it (fewer than k pairs can
    outrank it anywhere), so local-topk + dedup + global window returns
    exactly the candidates-distinct-then-score result.

    Output: (query_id, neighbor_id, cosine, rank) — no bucket column (a
    pair may come from any band).
    """
    dim = dim if dim is not None else _infer_dim(df, vec_col)
    idt = dict(df.dtypes)[id_col]
    Ws = [_np_planes(n_planes, dim, seed + b) for b in range(n_bands)]
    buckets = _bucketize(df, id_col, vec_col, Ws).filter(F.col("_norm") > 0)
    # staged: cap agg + anti-join probe + group exchange all consume it
    buckets = buckets.localCheckpoint(eager=False)
    buckets = _cap_buckets(buckets, max_bucket_size, "band", "bucket")

    def score_group(pdf):
        s = _side(pdf)
        return _topk_frame(s, s, k)

    cand = buckets.groupBy("band", "bucket").applyInPandas(
        score_group, f"query_id {idt}, neighbor_id {idt}, cosine double"
    )
    # a pair colliding in several bands carries the SAME cosine everywhere
    return _ranked(cand.dropDuplicates(["query_id", "neighbor_id"]), k)


def embedding_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    seed: int = 0,
    max_bucket_size: int | None = 10000,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (>= threshold) within LSH
    buckets. Buckets over ``max_bucket_size`` are dropped (degenerate-bucket
    guard, see ``_cap_buckets``) — route overflow to more planes or IVF.

    Plan shape: ONE exchange — bucketized rows hash-partition by bucket
    into a kernel that scores the in-bucket grid and emits the
    id_a < id_b pairs at cosine >= threshold directly. Buckets are
    counted toward the cap on the RAW mapping (zero-norm rows included);
    zero-norm vectors are then excluded from scoring."""
    dim = dim if dim is not None else _infer_dim(df, vec_col)
    idt = dict(df.dtypes)[id_col]
    base = _bucketize(df, id_col, vec_col, [_np_planes(n_planes, dim, seed)])
    # staged: the cap agg + anti-join probe both consume the kernel output
    base = _cap_buckets(base.localCheckpoint(eager=False), max_bucket_size, "bucket")
    thr = float(threshold)
    return base.filter(F.col("_norm") > 0).groupBy("bucket").applyInPandas(
        lambda pdf: _dup_pairs(_side(pdf), thr), f"id_a {idt}, id_b {idt}, cosine double"
    )
