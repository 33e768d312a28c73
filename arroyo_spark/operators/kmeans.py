"""Deterministic distributed k-means + SemDeDup-style semantic dedup.

Training-data-pipeline additions (no reference counterpart — arroyo,
/root/reference/arroyo/processing/strategies/, has no relational or vector
surface). Two capabilities:

- ``train_kmeans``: Lloyd's iterations over embedding columns, built so the
  result is BIT-REPRODUCIBLE across runs, partitionings, and engines. The
  classic obstacle is the centroid update: a distributed mean sums doubles
  in partition order, and float addition is not associative — two runs (or
  Spark vs an oracle) disagree in the last ulp and every downstream
  assignment can flip. We make the update order-INDEPENDENT by fixed-point
  quantization: each coordinate contributes ``floor(x * 2^s + 0.5)`` as an
  int64, the per-(cell, pos) SUM is exact integer arithmetic (associative,
  commutative), and the new coordinate is ``qsum / (2^s * n)``. With s=20
  the quantization error per coordinate is <= 2^-21 — far below embedding
  noise — and the whole training run becomes a pure function of the input,
  checkable hash-exact against a DuckDB twin of the same algebra.
- ``semantic_dedup``: the SemDeDup shape (Abbas et al., arXiv:2303.09540):
  cluster the corpus with k-means, then search for near-duplicate pairs
  (cosine >= threshold) only WITHIN a cluster, keeping the lowest id.

Scale notes (10^9+ vectors, 100 TB):
- Assignment is a per-row projection against ONE broadcast row of centroid
  arrays (the ivf_ann_topk pattern — no N x K join, no shuffle between the
  scan and the aggregation).
- The update shuffles only (cell, pos) -> int64 partial sums: map-side
  combine reduces every partition to at most k*dim rows before the
  exchange, so the shuffle is O(k * dim * partitions), independent of N.
- Each iteration collects k*dim quantized sums to the driver (KBs) to
  rebuild the broadcast row — the same tiny driver round-trip every
  production k-means (including Spark MLlib's) performs per iteration.
- int64 headroom: |qsum| <= N_cell * max|x| * 2^s; at 10^9 rows, |x| <= 100,
  s=20 that is ~10^17 < 2^63.
- semantic_dedup's within-cell pair join is O(sum n_c^2); k is the knob
  that bounds cell size (SemDeDup runs k ~ sqrt(N)); cells shuffle as a
  hash-partitioned self-join on the cell id.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arroyo_spark.operators.similarity import _dot, _infer_dim, with_norm


@dataclass(frozen=True)
class Centroid:
    cell: int
    vec: list[float]
    norm: float


def _seq_norm(vec: list[float]) -> float:
    """Sequential left-to-right sum-of-squares fold — the SAME association
    as the JVM ``aggregate(zip_with(...))`` fold and DuckDB's
    ``list_dot_product``, so driver-computed centroid norms match both."""
    acc = 0.0
    for x in vec:
        acc += x * x
    return math.sqrt(acc)


def _prep(df: DataFrame, id_col: str, vec_col: str, dim: int | None) -> DataFrame:
    """Project to (_id, _vec double[], _norm), zero-norm rows excluded
    (the uniform degenerate-vector contract of the similarity family).
    ``_spread`` fans a small scan out across cores so the Arrow kernels
    downstream parallelize (no-op at cluster scale — guide §2.5)."""
    from arroyo_spark.operators.similarity import _spread

    return _spread(
        with_norm(df, vec_col, dim)
        .filter(F.col("_norm") > 0)
        .select(F.col(id_col).alias("_id"), "_vec", "_norm")
    )


def kmeans_assign(v: DataFrame, cents: list[Centroid]) -> DataFrame:
    """Attach ``cell`` = argmax-cosine centroid to a prepped (_id, _vec,
    _norm) frame.

    r6 (guide §4.2): the per-row k-cell scoring — previously an
    interpreted ``array_sort(transform(...aggregate(zip_with(...))))``
    projection against a broadcast centroid row — runs as an
    Arrow-batched numpy kernel with the same sequential dimension-axis
    accumulation (bit-identical to the HOF fold / DuckDB
    list_dot_product). Tie parity: centroids are pre-sorted by cell id,
    so np.argmin's first-minimum == the old ascending struct(negsim,
    cell) sort; Spark and numpy both compare -0.0 == 0.0."""
    import numpy as np
    import pandas as pd

    from arroyo_spark.operators.similarity import _np_grid_dots, _np_stack

    cs = sorted(cents, key=lambda c: c.cell)
    C = np.stack([np.asarray(c.vec, dtype=np.float64) for c in cs])
    cns = np.array([float(c.norm) for c in cs])
    cell_ids = np.array([int(c.cell) for c in cs], dtype=np.int32)
    idt = dict(v.dtypes)["_id"]

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = _np_stack(pdf["_vec"])
            nrm = pdf["_norm"].to_numpy(dtype=np.float64)
            negsim = -(_np_grid_dots(V, C) / (nrm[:, None] * cns[None, :]))
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"].to_numpy(),
                    "_vec": list(V),
                    "_norm": nrm,
                    "cell": cell_ids[np.argmin(negsim, axis=1)],
                }
            )

    return v.mapInPandas(
        assign, f"_id {idt}, _vec array<double>, _norm double, cell int"
    )


def kmeans_update(assigned: DataFrame, scale_bits: int = 20) -> DataFrame:
    """The order-independent centroid update: (cell, pos, qsum, n) where
    qsum = SUM(floor(x * 2^s + 0.5)) over int64.

    r6: per-batch partial sums are produced inside an Arrow-batched
    kernel (exact int64 — np.floor(x*2^s + 0.5) is the same IEEE op
    sequence as the JVM expression, and integer sums are associative),
    so the exchange carries <= k*dim rows per batch instead of the
    N*dim posexplode stream; the final groupBy is the same exact-int
    fold. Results are bit-identical by integer associativity."""
    import numpy as np
    import pandas as pd

    s = float(1 << scale_bits)

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["_vec"].to_numpy()).astype(np.float64, copy=False)
            q = np.floor(V * s + 0.5).astype(np.int64)
            cells = pdf["cell"].to_numpy()
            dim = V.shape[1]
            uc = np.unique(cells)
            out_cell, out_pos, out_qsum, out_n = [], [], [], []
            for c in uc:
                rows = q[cells == c]
                out_cell.append(np.full(dim, c, dtype=np.int32))
                out_pos.append(np.arange(dim, dtype=np.int32))
                out_qsum.append(rows.sum(axis=0, dtype=np.int64))
                out_n.append(np.full(dim, rows.shape[0], dtype=np.int64))
            yield pd.DataFrame(
                {
                    "cell": np.concatenate(out_cell),
                    "pos": np.concatenate(out_pos),
                    "qsum": np.concatenate(out_qsum),
                    "n": np.concatenate(out_n),
                }
            )

    return (
        assigned.select("cell", "_vec")
        .mapInPandas(partials, "cell int, pos int, qsum long, n long")
        .groupBy("cell", "pos")
        .agg(F.sum("qsum").alias("qsum"), F.sum("n").alias("n"))
    )


def _next_cents(
    prev: list[Centroid], rows, scale_bits: int
) -> list[Centroid]:
    """Rebuild centroids from collected (cell, pos, qsum, n) rows. A cell
    with no members — or whose new centroid is all-zero — keeps its previous
    centroid (the deterministic empty-cell rule, mirrored in the oracle)."""
    s = 1 << scale_bits
    by_cell: dict[int, dict[int, tuple[int, int]]] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], {})[r["pos"]] = (r["qsum"], r["n"])
    out: list[Centroid] = []
    for c in prev:
        got = by_cell.get(c.cell)
        if not got:
            out.append(c)
            continue
        vec = [got[p][0] / (s * got[p][1]) for p in sorted(got)]
        norm = _seq_norm(vec)
        out.append(Centroid(c.cell, vec, norm) if norm > 0 else c)
    return out


def train_kmeans(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 2,
    dim: int | None = None,
    scale_bits: int = 20,
) -> list[Centroid]:
    """Deterministic spherical-assignment Lloyd's: init = the k lowest-id
    vectors (cells numbered 0..k-1 in id order — a distributed TakeOrdered,
    no full sort), then ``n_iter`` rounds of assign -> quantized update.
    Returns driver-side centroids (k * dim doubles — KBs)."""
    dim = dim if dim is not None else _infer_dim(df, vec_col)
    # staged: init + every Lloyd round is a separate driver action over v
    # — unstaged, each re-runs the scan + projection (guide §1.2)
    v = _prep(df, id_col, vec_col, dim).localCheckpoint(eager=False)
    return _train_prepped(v, k, n_iter, scale_bits)


def _train_prepped(
    v: DataFrame, k: int, n_iter: int, scale_bits: int = 20
) -> list[Centroid]:
    """Lloyd's over an already-prepped (and ideally staged) (_id, _vec,
    _norm) frame — shared by ``train_kmeans`` and ``semantic_dedup`` so
    the latter reuses ONE staged projection for training AND the final
    assignment."""
    init = v.orderBy("_id").limit(k).collect()
    cents = [
        Centroid(i, list(r["_vec"]), _seq_norm(r["_vec"])) for i, r in enumerate(init)
    ]
    for _ in range(n_iter):
        rows = kmeans_update(kmeans_assign(v, cents), scale_bits).collect()
        cents = _next_cents(cents, rows, scale_bits)
    return cents


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 2,
    threshold: float = 0.95,
    dim: int | None = None,
    scale_bits: int = 20,
) -> DataFrame:
    """SemDeDup: k-means-cluster the embeddings, then flag every vector
    that has a LOWER-id neighbor in the SAME cell with cosine >= threshold
    (keep-lowest-id — the same survivor rule as the dedup family). Returns
    (id_col, cell, n_dups, is_dup) — a total decision for every non-zero
    vector. The pair search never leaves a cell: candidates shuffle as a
    hash self-join on the cell id, and k bounds the quadratic blow-up."""
    import numpy as np
    import pandas as pd

    from arroyo_spark.operators.similarity import _np_grid_dots, _np_stack

    dim = dim if dim is not None else _infer_dim(df, vec_col)
    # ONE staged projection feeds training and the final assignment
    v = _prep(df, id_col, vec_col, dim).localCheckpoint(eager=False)
    cents = _train_prepped(v, k, n_iter, scale_bits)
    a = kmeans_assign(v, cents)
    idt = dict(a.dtypes)["_id"]
    thr = float(threshold)

    # r6 (guide §4.2): the within-cell pair search — previously a
    # cell-equi LEFT join whose residual evaluated one interpreted
    # dim-term fold per pair — runs as a per-cell Arrow-batched kernel:
    # the in-cell grid uses the shared dimension-axis accumulation (same
    # bits), and each member counts its lower-id neighbors at
    # cosine >= threshold directly, so every member still surfaces with
    # n_dups = 0 exactly like the old left join.
    def count_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id", kind="mergesort").reset_index(drop=True)
        V = _np_stack(pdf["_vec"])
        ids = pdf["_id"].to_numpy()
        nrm = pdf["_norm"].to_numpy(dtype=np.float64)
        n = len(ids)
        cell = pdf["cell"].iloc[0]
        counts = np.zeros(n, dtype=np.int64)
        ch = max(1, 4_000_000 // n)
        for s in range(0, n, ch):
            cos = _np_grid_dots(V[s : s + ch], V) / (nrm[s : s + ch, None] * nrm[None, :])
            # lower-id == earlier column (rows sorted by id; ids unique)
            lower = ids[None, :] < ids[s : s + ch, None]
            counts[s : s + ch] = ((cos >= thr) & lower).sum(axis=1)
        return pd.DataFrame(
            {
                id_col: ids,
                "cell": np.full(n, cell),
                "n_dups": counts,
                "is_dup": counts > 0,
            }
        )

    return a.groupBy("cell").applyInPandas(
        count_cell, f"{id_col} {idt}, cell int, n_dups long, is_dup boolean"
    )
