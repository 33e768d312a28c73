"""Approximate-nearest-neighbor search over embedding columns.

First-class training-data-pipeline addition (no reference counterpart).
Two strategies:

- ``cosine_topk``: exact brute-force top-k. The dot product is a JVM-side
  ``aggregate(zip_with(...))`` over double arrays — bit-identical to
  DuckDB's list_dot_product, so results are oracle-checkable exactly.
  Quadratic: the correctness baseline and the small-N (<~10^5) path.
- ``lsh_ann_topk``: random-hyperplane LSH. Deterministic hyperplanes are
  derived from md5 of (plane, dim) — sign hashes bucket the vectors; the
  quadratic search runs only within buckets. This is the 10^9-vector
  path: bucket histogram ~ N/2^planes, each bucket's pair join is a
  hash-partitioned equi-join, and recall is tunable by planes/band count.

Scale notes: both avoid driver-side loops entirely; the brute-force join
broadcasts the smaller side automatically when a query set is provided.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from arroyo_spark.operators.dedup import md5_hash64


def _dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential left-to-right dot product (bit-identical to DuckDB's
    list_dot_product).

    With a static ``dim`` the sum is expanded to a flat 64-term expression
    — whole-stage-codegen'd, ~30x faster than the interpreted higher-order
    ``aggregate`` fold, with the SAME addition order (bit-exact parity).
    """
    # measured on 2M pairs x 64 dims: the HOF fold (18s) beats a statically
    # expanded 64-term sum (70s — the expression blows past codegen method
    # limits and falls back to interpreted element_at chains). ``dim`` is
    # kept for callers that want the expansion at small dims (<16).
    if dim is not None and dim < 16:
        out = F.element_at(a, 1) * F.element_at(b, 1)
        for i in range(2, dim + 1):
            out = out + F.element_at(a, i) * F.element_at(b, i)
        return out
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _infer_dim(df: DataFrame, vec_col: str) -> int | None:
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"]) if row else None


def with_norm(df: DataFrame, vec_col: str = "embedding", dim: int | None = None) -> DataFrame:
    v = F.col(vec_col).cast("array<double>")
    return df.withColumn("_vec", v).withColumn("_norm", F.sqrt(_dot(v, v, dim)))


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

    Zero-norm vectors are EXCLUDED from both sides (cosine is undefined;
    a 0/0 division would otherwise produce NaN/inf with engine-dependent
    ordering — Spark ranks NaN above all doubles, numpy's argsort places
    it last — so the contract is: degenerate vectors don't participate).
    Same filter in ``cosine_topk_blocked``, keeping the two bit-identical.
    """
    from pyspark.sql import Window as W

    # explicit dim skips the per-instantiation .first() driver job
    # (ADVICE r4 #4); inference stays as the fallback
    dim = dim if dim is not None else _infer_dim(df, vec_col)
    base = with_norm(df, vec_col, dim).filter(F.col("_norm") > 0).select(
        F.col(id_col).alias("neighbor_id"), F.col("_vec").alias("_bv"), F.col("_norm").alias("_bn")
    )
    qset = (
        with_norm(queries if queries is not None else df, vec_col, dim)
        .filter(F.col("_norm") > 0)
        .select(
            F.col(id_col).alias("query_id"), F.col("_vec").alias("_qv"), F.col("_norm").alias("_qn")
        )
    )
    pairs = qset.join(base, F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn(
        "cosine", _dot(F.col("_qv"), F.col("_bv"), dim) / (F.col("_qn") * F.col("_bn"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


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
    by an Arrow-batched kernel that scores the full query x batch grid
    with numpy. Bit-identical to ``cosine_topk``/DuckDB: the dot product
    accumulates along the DIMENSION axis left-to-right (``acc += Q[:,d] *
    B[:,d]`` for d = 0..dim-1), which is exactly the sequential fold's
    0+p1+...+pn association — vectorized across pairs instead of one
    interpreted fold per pair (measured 21.5s -> ~2s on a 2M-pair grid).

    Scale shape: the base side streams through ``mapInPandas`` (no pair
    blowup materialized JVM-side; the grid lives one Arrow batch at a
    time), queries ride along as a ~MB closure — a broadcast in cluster
    terms. Output matches ``cosine_topk``: (query_id, neighbor_id,
    cosine, rank).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import Window as W

    # explicit dim skips the per-instantiation .first() driver job
    # (ADVICE r4 #4); inference stays as the fallback
    dim = dim if dim is not None else _infer_dim(df, vec_col)
    # zero-norm vectors excluded on BOTH sides — same contract and filter
    # as cosine_topk (cosine undefined; NaN ordering differs across
    # engines, which would break the bit-identical-verifier claim on
    # exactly the degenerate embeddings _cap_buckets warns about)
    # NOTE: the bound is checked post-collect (a .limit() would add a
    # single-partition funnel exchange, ~2x the whole collect step); the
    # check still turns contract misuse into a clear error before the
    # query matrix is built and broadcast into every task.
    qrows = (
        with_norm(queries, vec_col, dim)
        .filter(F.col("_norm") > 0)
        .select(F.col(id_col).alias("_id"), "_vec", "_norm")
        .collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"cosine_topk_blocked collects the query set to the driver: got "
            f"{len(qrows)} > max_queries={max_queries} rows — this is the "
            "bounded-query verifier; use lsh_ann_topk / ivf_ann_topk for "
            "corpus-vs-corpus"
        )
    Q = np.array([r["_vec"] for r in qrows], dtype=np.float64)  # (q, dim)
    qids = np.array([r["_id"] for r in qrows])
    qn = np.array([r["_norm"] for r in qrows], dtype=np.float64)
    nq = len(qrows)

    # spread the base side across the cluster BEFORE the kernel: a small
    # base (or a few large parquet files) would otherwise run the whole
    # grid in one Python worker while every other core idles
    base = _spread(
        with_norm(df, vec_col, dim)
        .filter(F.col("_norm") > 0)
        .select(F.col(id_col).alias("neighbor_id"), "_vec", "_norm")
    )
    id_type = dict(base.dtypes)["neighbor_id"]

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            # columns pre-sorted by neighbor_id so a STABLE argsort on
            # -cosine breaks ties by neighbor_id — the global ordering
            pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
            nid = pdf["neighbor_id"].to_numpy()
            B = np.stack(pdf["_vec"].to_numpy()).astype(np.float64)  # (b, dim)
            bn = pdf["_norm"].to_numpy(dtype=np.float64)
            acc = np.zeros((nq, len(pdf)))
            for d in range(B.shape[1]):
                # outer-product accumulation: per pair this adds products
                # in index order starting from 0.0 — the HOF fold's exact
                # association (numpy has no FMA; plain IEEE mul-then-add)
                acc += Q[:, d, None] * B[None, :, d]
            cos = acc / (qn[:, None] * bn[None, :])
            # map-side top-k combine: emit only each query's k best from
            # THIS slice (self-pairs masked out) — the final window sees
            # parts*k rows per query instead of the whole pair grid
            key = np.where(qids[:, None] == nid[None, :], -np.inf, cos)
            kk = min(k, len(pdf))
            order = np.argsort(-key, axis=1, kind="stable")[:, :kk]  # (q, kk)
            rows_q = np.repeat(np.arange(nq), kk)
            cols = order.ravel()
            keep = key[rows_q, cols] != -np.inf
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, kk)[keep],
                    "neighbor_id": nid[cols][keep],
                    "cosine": cos[rows_q, cols][keep],
                }
            )

    scored = base.mapInPandas(
        score, f"query_id {id_type}, neighbor_id {id_type}, cosine double"
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


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


def _np_stack(col) -> "object":
    """Stack a pandas column of array cells into an (n, dim) float64 matrix."""
    import numpy as np

    return np.stack(col.to_numpy()).astype(np.float64, copy=False)


def _np_grid_dots(Q, B):
    """Pairwise dots with the EXACT association of the JVM HOF fold /
    DuckDB list_dot_product: acc starts at 0.0 and adds products in
    dimension order (guide §4.2 — vectorized across pairs, sequential
    across dims; the proven ``cosine_topk_blocked`` kernel)."""
    import numpy as np

    acc = np.zeros((Q.shape[0], B.shape[0]))
    for d in range(Q.shape[1]):
        acc += Q[:, d, None] * B[None, :, d]
    return acc


def _np_norms(V):
    """sqrt of the sequential sum-of-squares fold — bit-identical to
    ``with_norm``'s ``sqrt(_dot(v, v))``."""
    import numpy as np

    acc = np.zeros(V.shape[0])
    for d in range(V.shape[1]):
        acc += V[:, d] * V[:, d]
    return np.sqrt(acc)


def _np_topk_rows(qids, nids, cos, k, with_rank, chunk_rows=None):
    """Per-query local top-k rows from a scored grid (cos: nq x nb), ties
    by neighbor id — nids MUST be ascending so the stable argsort on
    -key reproduces row_number() over (cosine DESC, neighbor_id).
    Self-pairs (query id == neighbor id) are masked to -inf, which sorts
    last, so surviving candidates keep dense ranks 1..n. Returns column
    arrays (query_id, neighbor_id, cosine[, rank])."""
    import numpy as np

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
    import numpy as np

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
    import numpy as np

    proj = _np_grid_dots(V, W)  # (n, n_planes)
    weights = (1 << np.arange(W.shape[0], dtype=np.int64))[None, :]
    return ((proj > 0) * weights).sum(axis=1).astype(np.int32)


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

    Plan shape (r6, guide §4.2): ONE exchange — rows (id, bucket, vec)
    hash-partition by bucket into an Arrow-batched per-bucket kernel that
    scores the in-bucket grid with the numpy dimension-axis accumulation
    (bit-identical to the JVM HOF fold / DuckDB list_dot_product — the
    proven ``cosine_topk_blocked`` association) and emits each query's
    top-k directly. A query competes only inside its single bucket, so
    the per-bucket top-k IS the global answer — the old candidate
    self-join + two vector join-backs + corpus-wide window (4 exchanges,
    one interpreted 64-term fold per pair) collapse into the group pass.
    The cap semantics are unchanged: buckets are counted on the RAW
    mapping (zero-norm rows included), zero-norm vectors are excluded
    from scoring inside the kernel (same uniform contract).
    """
    import pandas as pd

    # explicit dim skips the per-instantiation .first() driver job
    # (ADVICE r4 #4); inference stays as the fallback
    dim = dim if dim is not None else _infer_dim(df, vec_col)
    idt = dict(df.dtypes)[id_col]
    # r6: bucket ids come from the kernel (_np_bucket) instead of the
    # n_planes*dim-term SQL expression — the giant expression tree cost
    # ~0.4s of driver-side analysis/planning PER INSTANTIATION (measured
    # flat across sf0.1 and sf1.0), which dominated the query at small
    # scale. Same constants, same ordered projection, same bucket bits.
    W = _np_planes(n_planes, dim, seed)

    def bucketize(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = _np_stack(pdf["_vec"])
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"].to_numpy(),
                    "bucket": _np_bucket(V, W),
                    "_vec": list(V),
                }
            )

    base = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_vec")
    ).mapInPandas(bucketize, f"_id {idt}, bucket int, _vec array<double>")
    # staged: the cap agg + anti-join probe both consume the kernel output
    base = base.localCheckpoint(eager=False)
    base = _cap_buckets(base, max_bucket_size, "bucket")
    kk = int(k)

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int64"),
                "bucket": pd.Series([], dtype="int32"),
                "neighbor_id": pd.Series([], dtype="int64"),
                "cosine": pd.Series([], dtype="float64"),
                "rank": pd.Series([], dtype="int32"),
            }
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("_id", kind="mergesort").reset_index(drop=True)
        V = _np_stack(pdf["_vec"])
        ids = pdf["_id"].to_numpy()
        nrm = _np_norms(V)
        keep = nrm > 0  # zero-norm exclusion, in-kernel (cap already counted them)
        V, ids, nrm = V[keep], ids[keep], nrm[keep]
        n = len(ids)
        if n < 2:
            return empty
        bucket = pdf["bucket"].iloc[0]
        res: list[pd.DataFrame] = []
        ch = max(1, 4_000_000 // n)  # bound the grid chunk at ~32 MB
        for s in range(0, n, ch):
            cos = _np_grid_dots(V[s : s + ch], V) / (nrm[s : s + ch, None] * nrm[None, :])
            q, nid, c, r = _np_topk_rows(ids[s : s + ch], ids, cos, kk, with_rank=True)
            res.append(
                pd.DataFrame(
                    {
                        "query_id": q,
                        "bucket": np.full(len(q), bucket),
                        "neighbor_id": nid,
                        "cosine": c,
                        "rank": r,
                    }
                )
            )
        return pd.concat(res, ignore_index=True) if res else empty

    return base.groupBy("bucket").applyInPandas(
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
    ``train_kmeans`` result) to use a TRAINED coarse quantizer — the plan
    is identical, only the broadcast centroid row changes.

    The coarse quantizer is deterministic and training-free: the ``n_cells``
    LOWEST-id vectors act as (spherical) centroids — rank-based selection
    (orderBy(id).limit(n_cells) = a distributed TakeOrdered, no full sort),
    so sparse or offset id spaces still yield exactly n_cells centroids.
    The IVF structure (assign -> probe -> exact re-rank within cells) is
    what matters; a k-means fit would only move the centroids, not the
    plan. Costs:
    assignment is a per-row PROJECTION — the centroids are plan-time
    literals, so all K cell similarities are scored inside one
    ``transform`` over a constant-folded centroid array and the n_probe
    closest cells picked with ``array_sort`` + ``slice`` + ``posexplode``.
    Zero shuffle between the scan and the cell join (the previous
    join-then-``row_number`` form shuffled the full N x K grid — with
    vectors attached — through a window: ~10^11 rows at 10^9 vectors x
    128 cells, the classic scale-killer). The search join is
    hash-partitioned on cell id — each query competes against
    ~N/n_cells * n_probe candidates instead of N. Recall is tunable via
    n_probe. Scale path alternative to ``lsh_ann_topk``.
    """
    from pyspark.sql import Window as W

    # explicit dim skips the per-instantiation .first() driver job
    # (ADVICE r4 #4); inference stays as the fallback
    dim = dim if dim is not None else _infer_dim(df, vec_col)
    # spread the scan BEFORE the K-cell scoring projection: a small file
    # count would otherwise run the whole O(N*K*dim) assignment on one
    # core (same rationale as cosine_topk_blocked); at cluster scale the
    # scan has natural splits and this round-robin of N rows is noise
    v = _spread(
        with_norm(df, vec_col, dim)
        # zero-norm exclusion (uniform contract with cosine_topk): a NaN
        # cosine would both rank above all doubles in the top-k window AND
        # sort opposite under the negsim struct array_sort probe pick,
        # silently changing probe assignment for degenerate vectors
        .filter(F.col("_norm") > 0)
        .select(F.col(id_col).alias("_id"), F.col("_vec"), F.col("_norm"))
    )
    # centroids are COLLECTED once at plan-build time (n_cells rows — KBs)
    # and attached to every row as ONE broadcast row of arrays (a ~64 KB
    # BroadcastNestedLoopJoin against a single row — no shuffle exchange,
    # no per-row recomputation; baking them in as a literal array worked
    # identically but cost ~25s of cold janino time on the 200 KB
    # expression). Every executor scores all K cells per row inside one
    # projection. Rank-based selection (lowest n_cells ids) keeps
    # sparse/offset id spaces yielding exactly n_cells centroids.
    if centroids is not None:
        # trained coarse quantizer (operators/kmeans.py::train_kmeans):
        # same plan, better cell balance/recall — the centroids are just a
        # different single broadcast row; cell ids are the kmeans cells
        cent_rows = [
            {"_id": int(c.cell), "_vec": list(c.vec), "_norm": float(c.norm)}
            for c in centroids
        ]
    else:
        cent_rows = v.orderBy("_id").limit(n_cells).collect()
    # r6 (guide §4.2): the K-cell assignment — previously an interpreted
    # N x K x dim HOF-fold projection — moves into an Arrow-batched numpy
    # kernel using the same sequential dimension-axis accumulation
    # (bit-identical association, the cosine_topk_blocked precedent). Tie
    # parity: array_sort over struct(negsim, cell) == stable argsort on
    # negsim with columns in cell-ascending order (asserted below; Spark
    # normalizes -0.0 == 0.0 in struct comparisons and so does numpy).
    # The search join + corpus-wide window collapse into a per-cell
    # grouped kernel emitting local top-k; the final window ranks
    # <= n_probe*k candidates per query instead of the full pair grid.
    import numpy as np
    import pandas as pd

    idt = dict(df.dtypes)[id_col]
    C = np.stack([np.asarray(r["_vec"], dtype=np.float64) for r in cent_rows])
    cns = np.array([float(r["_norm"]) for r in cent_rows])
    cell_ids = np.array([int(r["_id"]) for r in cent_rows], dtype=np.int64)
    assert len(cell_ids) <= 1 or np.all(np.diff(cell_ids) > 0), (
        "centroid rows must be cell-ascending for argmin tie parity"
    )
    npr = min(n_probe, len(cell_ids))

    def assign_probes(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = _np_stack(pdf["_vec"])
            nrm = pdf["_norm"].to_numpy(dtype=np.float64)
            ids = pdf["_id"].to_numpy()
            negsim = -(_np_grid_dots(V, C) / (nrm[:, None] * cns[None, :]))
            order = np.argsort(negsim, axis=1, kind="stable")[:, :npr]
            for pos in range(npr):
                yield pd.DataFrame(
                    {
                        "_id": ids,
                        "cell": cell_ids[order[:, pos]],
                        "_pr": np.full(len(ids), pos + 1, dtype=np.int32),
                        "_vec": list(V),
                        "_norm": nrm,
                    }
                )

    assign = v.mapInPandas(
        assign_probes,
        f"_id {idt}, cell bigint, _pr int, _vec array<double>, _norm double",
    )

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int64"),
                "neighbor_id": pd.Series([], dtype="int64"),
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        base = pdf[pdf["_pr"] == 1]
        if not len(base) or len(pdf) < 2:
            return empty
        base = base.sort_values("_id", kind="mergesort")
        B = _np_stack(base["_vec"])
        bn = base["_norm"].to_numpy(dtype=np.float64)
        bids = base["_id"].to_numpy()
        Q = _np_stack(pdf["_vec"])
        qn = pdf["_norm"].to_numpy(dtype=np.float64)
        qids = pdf["_id"].to_numpy()
        res = []
        ch = max(1, 4_000_000 // max(len(bids), 1))
        for s in range(0, len(qids), ch):
            cos = _np_grid_dots(Q[s : s + ch], B) / (qn[s : s + ch, None] * bn[None, :])
            q, nid, c = _np_topk_rows(qids[s : s + ch], bids, cos, int(k), with_rank=False)
            res.append(pd.DataFrame({"query_id": q, "neighbor_id": nid, "cosine": c}))
        return pd.concat(res, ignore_index=True) if res else empty

    cand = assign.groupBy("cell").applyInPandas(
        score_cell, f"query_id {idt}, neighbor_id {idt}, cosine double"
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _np_pq_codes(X, CW, ccs_np, m: int, sub: int):
    """PQ encode (n, m) — argmin_c of ccs[j][c] - 2*dot(x_j, cw_c_j) with
    the fold's dimension-order accumulation; np.argmin takes the FIRST
    minimum, i.e. the smallest c — the array_sort struct(key, c) rule."""
    import numpy as np

    n, kc = X.shape[0], CW.shape[0]
    codes = np.empty((n, m), dtype=np.int64)
    for j in range(m):
        acc = np.zeros((n, kc))
        for d in range(j * sub, (j + 1) * sub):
            acc += X[:, d, None] * CW[None, :, d]
        codes[:, j] = np.argmin(ccs_np[j][None, :] - 2.0 * acc, axis=1)
    return codes


def _np_pq_qtab(Q, CW, m: int, sub: int):
    """ADC lookup tables (nq, m, k_codes): subspace-j dot(q_j, cw_c_j),
    fold order (acc from 0.0 over the subspace dims)."""
    import numpy as np

    T = np.zeros((Q.shape[0], m, CW.shape[0]))
    for j in range(m):
        for d in range(j * sub, (j + 1) * sub):
            T[:, j, :] += Q[:, d, None] * CW[None, :, d]
    return T


def _np_adc(T, codes):
    """(nq, nb) ADC sums t_1 + ... + t_m LEFT-TO-RIGHT: the first term is
    assigned (not added to 0.0), matching the oracle's ts[1] + ... + ts[m]
    and the JVM adc_ip chain bit-for-bit."""
    acc = T[:, 0, :][:, codes[:, 0]].copy()
    for j in range(1, T.shape[1]):
        acc += T[:, j, :][:, codes[:, j]]
    return acc


def _pq_self_dots(cw_rows, m: int, sub: int) -> list[list[float]]:
    """Codeword self-dots dot(cw_jc, cw_jc), precomputed ONCE driver-side
    with the sequential left-to-right fold — bit-identical to ``_dot`` and
    to the SQL oracle's list_dot_product recomputation."""

    def seq_self_dot(xs) -> float:
        acc = 0.0
        for x in xs:
            acc = acc + x * x
        return acc

    return [
        [seq_self_dot(r["_vec"][j * sub : (j + 1) * sub]) for r in cw_rows]
        for j in range(m)
    ]


def _pq_exprs(m: int, sub: int, k_codes: int) -> tuple[str, str, str]:
    """The PQ SQL-expression trio shared by ``pq_ann_topk`` and
    ``ivfpq_ann_topk`` — ONE definition so the hash-exact oracle contract
    ("same fold, same bits") cannot drift between the two operators.

    Returns (codes_expr, qtab_expr, adc_ip):
    - codes_expr: per row, m argmins over k_codes codewords via the key
      dot(cw,cw) - 2*dot(x_j,cw) (ties -> smallest c), one projection
    - qtab_expr: the query's m*k_codes ADC lookup table (flattened)
    - adc_ip: sequential left-to-right sum over j of table lookups — the
      same association as the oracle's ts[1] + ... + ts[m]
    """

    def fold(a_expr: str, b_expr: str) -> str:
        return (
            f"aggregate(zip_with({a_expr}, {b_expr}, (x, y) -> x * y), 0.0D,"
            " (a, x) -> a + x)"
        )

    def cw(c_expr: str) -> str:  # codeword c's subspace-j slice
        return f"slice(element_at(_cvs, {c_expr}), j * {sub} + 1, {sub})"

    key = (
        "element_at(element_at(_ccs, j + 1), c + 1) - 2.0D * "
        f"{fold(f'slice(_vec, j * {sub} + 1, {sub})', cw('c + 1'))}"
    )
    codes_expr = (
        f"transform(sequence(0, {m - 1}), j -> element_at(slice(array_sort("
        f"transform(sequence(0, {k_codes - 1}), c -> named_struct('key', {key}, 'c', c))"
        f"), 1, 1), 1).c)"
    )
    qtab_expr = (
        f"flatten(transform(sequence(0, {m - 1}), j -> "
        f"transform(sequence(0, {k_codes - 1}), c -> "
        f"{fold(f'slice(_vec, j * {sub} + 1, {sub})', cw('c + 1'))})))"
    )
    adc_ip = " + ".join(
        f"element_at(_qtab, {j} * {k_codes} + element_at(_codes, {j} + 1) + 1)"
        for j in range(m)
    )
    return codes_expr, qtab_expr, adc_ip


def pq_ann_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_codes: int = 16,
    n_queries: int | None = 256,
    dim: int | None = None,
) -> DataFrame:
    """Product-quantization ANN: exhaustive scan in the COMPRESSED domain.

    The memory path for ANN at 10^9-10^12 vectors (complements
    ``lsh_ann_topk``/``ivf_ann_topk``, which bound the candidate SET): each
    base vector is stored as ``m`` one-byte codes + its true norm — a 32x
    compression at dim=64 float64 — and scored by ADC (asymmetric distance
    computation): each query precomputes its m x k_codes lookup table of
    subspace dot products once, and a pair then costs m table adds — per-
    pair work independent of dim, and shuffles and the index itself carry
    codes, never vectors. In a full deployment PQ composes with IVF (scan
    only the probed cells' codes); here the scan is exhaustive, which is
    exactly the in-RAM compressed sweep those systems run per cell.

    Deterministic training-free codebook, same rank-based selection as
    ``ivf_ann_topk``: the ``k_codes`` lowest-id vectors supply the
    codewords; subspace ``j``'s codeword ``c`` is that vector's ``j``-th
    ``dim/m``-slice. Encoding picks argmin_c ||x_j - cw_c||^2 via the key
    ``dot(cw, cw) - 2*dot(x_j, cw)`` (ties -> smallest c; the codeword
    self-dots are precomputed once driver-side with the same fold), and
    the ADC score is a sequential left-to-right sum of m per-subspace
    dots, each the same fold as ``_dot`` — so every arithmetic step is
    bit-reproducible in SQL (list_dot_product on slices + an ordered
    ts[1] + ... + ts[m] sum) and the oracle is hash-exact even though PQ
    itself is approximate.

    ``n_queries`` bounds the query side (lowest ids; None = all vectors) —
    the query set is broadcast so the compressed base scan never shuffles.
    Output: (query_id, neighbor_id, approx_cosine, rank) — approximate by
    design (reconstruction error), verified bit-exactly against the SQL
    oracle and by a recall test vs exact ``cosine_topk``.
    """
    from pyspark.sql import Window as W

    dim = dim if dim is not None else _infer_dim(df, vec_col)
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    sub = dim // m
    v = _spread(
        with_norm(df, vec_col, dim)
        .filter(F.col("_norm") > 0)  # uniform zero-norm contract
        .select(F.col(id_col).alias("_id"), "_vec", "_norm")
    )
    # codebook: k_codes rows — KBs — collected once; a bounded query set
    # shares the same id-ordered prefix collect (one driver job, not two)
    if n_queries is not None:
        head = v.orderBy("_id").limit(max(k_codes, int(n_queries))).collect()
        cw_rows, q_rows = head[:k_codes], head[: int(n_queries)]
    else:
        cw_rows, q_rows = v.orderBy("_id").limit(k_codes).collect(), None

    # cc = dot(cw_jc, cw_jc) depends only on (j, c): precomputed ONCE on
    # the driver (shared helper, same sequential fold) — halves the
    # per-row encode folds vs recomputing cc per (row, j, c)
    ccs = _pq_self_dots(cw_rows, m, sub)

    if q_rows is not None:
        # r6 numpy path (guide §4.2): encode + ADC scoring in ONE
        # Arrow-batched pass over the base — the interpreted m*k_codes
        # per-row encode folds and the base x query join materialization
        # both disappear; each batch emits its local per-query top-k and
        # the final window ranks <= partitions*k rows per query. Same
        # arithmetic, same association (_np_pq_* docstrings), so the
        # hash-exact oracle contract is unchanged.
        import numpy as np
        import pandas as pd

        idt = dict(df.dtypes)[id_col]
        CW = np.stack([np.asarray(r["_vec"], dtype=np.float64) for r in cw_rows])
        ccs_np = [np.array(row) for row in ccs]
        Q = np.stack([np.asarray(r["_vec"], dtype=np.float64) for r in q_rows])
        qn = np.array([float(r["_norm"]) for r in q_rows])
        qids = np.array([int(r["_id"]) for r in q_rows], dtype=np.int64)
        T = _np_pq_qtab(Q, CW, m, sub)
        kk = int(k)

        def score(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                pdf = pdf.sort_values("_id", kind="mergesort")
                X = _np_stack(pdf["_vec"])
                bn = pdf["_norm"].to_numpy(dtype=np.float64)
                bids = pdf["_id"].to_numpy()
                codes = _np_pq_codes(X, CW, ccs_np, m, sub)
                cos = _np_adc(T, codes) / (qn[:, None] * bn[None, :])
                q_, nid, c = _np_topk_rows(qids, bids, cos, kk, with_rank=False)
                yield pd.DataFrame(
                    {"query_id": q_, "neighbor_id": nid, "approx_cosine": c}
                )

        cand = v.mapInPandas(
            score, f"query_id {idt}, neighbor_id {idt}, approx_cosine double"
        )
        w = W.partitionBy("query_id").orderBy(
            F.col("approx_cosine").desc(), F.col("neighbor_id")
        )
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "approx_cosine", "rank")
        )

    # n_queries=None (corpus-vs-corpus): the JVM broadcast-join path stays
    # — the query side is unbounded, so nothing may be collected
    cents = df.sparkSession.createDataFrame(
        [([r["_vec"] for r in cw_rows], ccs)],
        "_cvs array<array<double>>, _ccs array<array<double>>",
    )
    # per row: m argmins over k_codes codewords, inside one projection
    codes_expr, qtab_expr, adc_ip = _pq_exprs(m, sub, k_codes)
    base = (
        v.join(F.broadcast(cents))
        .select("_id", "_norm", F.expr(codes_expr).alias("_codes"))
        # the index row — m small ints + a double per vector, nothing else
        .select(
            F.col("_id").alias("neighbor_id"),
            F.col("_norm").alias("_bn"),
            "_codes",
        )
    )
    # ADC: each query precomputes its m*k_codes lookup table (one
    # projection against the broadcast codebook); a pair then costs m
    # table adds instead of a dim-term dot — the per-pair work no longer
    # depends on dim at all
    q = v if n_queries is None else v.orderBy("_id").limit(n_queries)
    q = q.join(F.broadcast(cents)).select(
        F.col("_id").alias("query_id"),
        F.expr(qtab_expr).alias("_qtab"),
        F.col("_norm").alias("_qn"),
    )
    scored = (
        base.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("approx_cosine", F.expr(adc_ip) / (F.col("_qn") * F.col("_bn")))
    )
    w = W.partitionBy("query_id").orderBy(F.col("approx_cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_cosine", "rank")
    )


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
    members), PQ bounds the candidate MEMORY (those members are scanned as
    ``m`` one-byte codes + a norm, ADC lookup-table scoring). Composes the
    two operators this module already ships: cell assignment is
    ``ivf_ann_topk``'s single-projection broadcast-centroid pick, encoding
    and scoring are ``pq_ann_topk``'s (one GLOBAL codebook — IVF-Flat +
    global PQ — not per-cell residual codebooks, which would break the
    training-free determinism both oracles rely on).

    Plan shape at 10^12 vectors: one broadcast row (centroids + codebook +
    code self-dots), one projection per base row (cell + codes), the
    search join hash-partitioned on cell id with codes-only rows, per pair
    m table adds. Every arithmetic step is the shared sequential fold, so
    the composition stays hash-exact against SQL.
    """
    from pyspark.sql import Window as W

    dim = dim if dim is not None else _infer_dim(df, vec_col)
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    sub = dim // m
    v = _spread(
        with_norm(df, vec_col, dim)
        .filter(F.col("_norm") > 0)
        .select(F.col(id_col).alias("_id"), "_vec", "_norm")
    )
    head = v.orderBy("_id").limit(max(n_cells, k_codes)).collect()
    cent_rows, cw_rows = head[:n_cells], head[:k_codes]
    ccs = _pq_self_dots(cw_rows, m, sub)

    # r6 (guide §4.2): one Arrow-batched pass assigns probe cells (the
    # ivf kernel's argsort-on-negsim, cell-ascending tie parity) and
    # PQ-encodes each row (the pq kernel's argmin key); base rows (pr=1)
    # carry codes, every probe row carries the raw vector — the ADC
    # lookup table is recomputed per (query, cell) inside the per-cell
    # kernel from the same fold (deterministic, identical values), so the
    # shuffle carries a 64-double vector instead of a 512-double qtab.
    # The per-cell grouped kernel scores ADC and emits local top-k; the
    # final window ranks <= n_probe*k rows per query.
    import numpy as np
    import pandas as pd

    idt = dict(df.dtypes)[id_col]
    C = np.stack([np.asarray(r["_vec"], dtype=np.float64) for r in cent_rows])
    cns = np.array([float(r["_norm"]) for r in cent_rows])
    cell_ids = np.array([int(r["_id"]) for r in cent_rows], dtype=np.int64)
    assert len(cell_ids) <= 1 or np.all(np.diff(cell_ids) > 0), (
        "centroid rows must be cell-ascending for argmin tie parity"
    )
    CW = np.stack([np.asarray(r["_vec"], dtype=np.float64) for r in cw_rows])
    ccs_np = [np.array(row) for row in ccs]
    npr = min(n_probe, len(cell_ids))
    kk = int(k)

    def assign_probes(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = _np_stack(pdf["_vec"])
            nrm = pdf["_norm"].to_numpy(dtype=np.float64)
            ids = pdf["_id"].to_numpy()
            negsim = -(_np_grid_dots(V, C) / (nrm[:, None] * cns[None, :]))
            order = np.argsort(negsim, axis=1, kind="stable")[:, :npr]
            codes = _np_pq_codes(V, CW, ccs_np, m, sub)
            for pos in range(npr):
                yield pd.DataFrame(
                    {
                        "_id": ids,
                        "cell": cell_ids[order[:, pos]],
                        "_pr": np.full(len(ids), pos + 1, dtype=np.int32),
                        "_codes": list(codes) if pos == 0 else [None] * len(ids),
                        "_vec": list(V),
                        "_norm": nrm,
                    }
                )

    assign = v.mapInPandas(
        assign_probes,
        f"_id {idt}, cell bigint, _pr int, _codes array<bigint>, "
        "_vec array<double>, _norm double",
    )

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int64"),
                "neighbor_id": pd.Series([], dtype="int64"),
                "approx_cosine": pd.Series([], dtype="float64"),
            }
        )
        base = pdf[pdf["_pr"] == 1]
        if not len(base) or len(pdf) < 2:
            return empty
        base = base.sort_values("_id", kind="mergesort")
        codes = np.stack(base["_codes"].to_numpy()).astype(np.int64, copy=False)
        bn = base["_norm"].to_numpy(dtype=np.float64)
        bids = base["_id"].to_numpy()
        Q = _np_stack(pdf["_vec"])
        qn = pdf["_norm"].to_numpy(dtype=np.float64)
        qids = pdf["_id"].to_numpy()
        res = []
        ch = max(1, 4_000_000 // max(len(bids), 1))
        for s in range(0, len(qids), ch):
            T = _np_pq_qtab(Q[s : s + ch], CW, m, sub)
            cos = _np_adc(T, codes) / (qn[s : s + ch, None] * bn[None, :])
            q_, nid, c = _np_topk_rows(qids[s : s + ch], bids, cos, kk, with_rank=False)
            res.append(
                pd.DataFrame({"query_id": q_, "neighbor_id": nid, "approx_cosine": c})
            )
        return pd.concat(res, ignore_index=True) if res else empty

    cand = assign.groupBy("cell").applyInPandas(
        score_cell, f"query_id {idt}, neighbor_id {idt}, approx_cosine double"
    )
    w = W.partitionBy("query_id").orderBy(F.col("approx_cosine").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_cosine", "rank")
    )


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
    ``lsh_ann_topk``.

    r6 plan shape (guide §4.2): each (band, bucket) group scores its
    in-bucket grid in an Arrow-batched numpy kernel (same dimension-axis
    accumulation as every kernel in this module) and emits its LOCAL
    per-query top-k; a pair surfacing in several bands is deduped AFTER
    scoring (identical cosine in every copy — dropDuplicates is safe),
    and the global window ranks <= n_bands*k candidates per query. Any
    global top-k pair is inside the local top-k of every group containing
    it (fewer than k pairs can outrank it anywhere), so local-topk +
    dedup + global window returns exactly the old candidates-distinct-
    then-score result.

    Output: (query_id, neighbor_id, cosine, rank) — no bucket column (a
    pair may come from any band).
    """
    import pandas as pd
    from pyspark.sql import Window as W

    from functools import reduce

    # explicit dim skips the per-instantiation .first() driver job
    # (ADVICE r4 #4); inference stays as the fallback
    dim = dim if dim is not None else _infer_dim(df, vec_col)
    # zero-norm exclusion — uniform degenerate-vector contract (cosine_topk)
    v = with_norm(df, vec_col, dim).filter(F.col("_norm") > 0).select(
        F.col(id_col).alias("_id"), "_vec", "_norm"
    )
    idt = dict(df.dtypes)[id_col]
    # r6: ONE kernel pass computes every band's bucket (band b's ±1
    # weights use seed+b — independent md5 draws) and emits the n_bands
    # rows per vector directly — the n_bands unioned giant SQL bucket
    # expressions (each ~0.4s of driver-side planning, see lsh_ann_topk)
    # disappear along with their janino-limit workarounds.
    Ws = [_np_planes(n_planes, dim, seed + b) for b in range(n_bands)]

    def bucketize(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = _np_stack(pdf["_vec"])
            ids = pdf["_id"].to_numpy()
            for b, W in enumerate(Ws):
                yield pd.DataFrame(
                    {
                        "_id": ids,
                        "band": np.full(len(ids), b, dtype=np.int32),
                        "bucket": _np_bucket(V, W),
                        "_vec": list(V),
                    }
                )

    buckets = v.select("_id", "_vec").mapInPandas(
        bucketize, f"_id {idt}, band int, bucket int, _vec array<double>"
    )
    # staged: cap agg + anti-join probe + group exchange all consume it
    buckets = buckets.localCheckpoint(eager=False)
    buckets = _cap_buckets(buckets, max_bucket_size, "band", "bucket")
    kk = int(k)

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype="int64"),
                "neighbor_id": pd.Series([], dtype="int64"),
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("_id", kind="mergesort").reset_index(drop=True)
        V = _np_stack(pdf["_vec"])
        ids = pdf["_id"].to_numpy()
        nrm = _np_norms(V)
        n = len(ids)
        res = []
        ch = max(1, 4_000_000 // n)
        for s in range(0, n, ch):
            cos = _np_grid_dots(V[s : s + ch], V) / (nrm[s : s + ch, None] * nrm[None, :])
            q, nid, c = _np_topk_rows(ids[s : s + ch], ids, cos, kk, with_rank=False)
            res.append(pd.DataFrame({"query_id": q, "neighbor_id": nid, "cosine": c}))
        return pd.concat(res, ignore_index=True) if res else empty

    cand = buckets.groupBy("band", "bucket").applyInPandas(
        score_group, f"query_id {idt}, neighbor_id {idt}, cosine double"
    )
    # a pair colliding in several bands carries the SAME cosine everywhere
    cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


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

    r6 plan shape (guide §4.2): ONE exchange — (id, bucket, vec) rows
    hash-partition by bucket into an Arrow-batched kernel that scores the
    in-bucket grid (the module's shared dimension-axis accumulation) and
    emits the i<j pairs at cosine >= threshold directly; the old candidate
    self-join + two vector join-backs (each paying an interpreted 64-term
    fold per pair) collapse into the group pass. Cap semantics unchanged
    (counted on the RAW mapping, zero-norm rows included); zero-norm
    vectors are excluded from scoring inside the kernel."""
    import pandas as pd

    # explicit dim skips the per-instantiation .first() driver job
    # (ADVICE r4 #4); inference stays as the fallback
    dim = dim if dim is not None else _infer_dim(df, vec_col)
    idt = dict(df.dtypes)[id_col]
    # kernel bucket ids — see lsh_ann_topk (same planning-cost rationale)
    W = _np_planes(n_planes, dim, seed)

    def bucketize(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = _np_stack(pdf["_vec"])
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"].to_numpy(),
                    "bucket": _np_bucket(V, W),
                    "_vec": list(V),
                }
            )

    base = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_vec")
    ).mapInPandas(bucketize, f"_id {idt}, bucket int, _vec array<double>")
    base = base.localCheckpoint(eager=False)  # cap agg + probe both consume it
    base = _cap_buckets(base, max_bucket_size, "bucket")
    thr = float(threshold)

    def pair_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("_id", kind="mergesort").reset_index(drop=True)
        V = _np_stack(pdf["_vec"])
        ids = pdf["_id"].to_numpy()
        nrm = _np_norms(V)
        keep = nrm > 0  # zero-norm exclusion, in-kernel (cap counted them)
        V, ids, nrm = V[keep], ids[keep], nrm[keep]
        n = len(ids)
        if n < 2:
            return empty
        res = []
        ch = max(1, 4_000_000 // n)
        for s in range(0, n, ch):
            cos = _np_grid_dots(V[s : s + ch], V) / (nrm[s : s + ch, None] * nrm[None, :])
            hit = (cos >= thr) & (ids[s : s + ch, None] < ids[None, :])
            r, c = np.nonzero(hit)
            if len(r):
                res.append(
                    pd.DataFrame(
                        {"id_a": ids[s + r], "id_b": ids[c], "cosine": cos[r, c]}
                    )
                )
        return pd.concat(res, ignore_index=True) if res else empty

    return base.groupBy("bucket").applyInPandas(
        pair_bucket, f"id_a {idt}, id_b {idt}, cosine double"
    )
