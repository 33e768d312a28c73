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
- Assignment is an Arrow kernel with the k centroids in its closure
  (``similarity._assign_cells``, shared with ivf_ann_topk — no N x K join,
  no shuffle between the scan and the aggregation).
- The update shuffles only (cell, pos) -> int64 partial sums: map-side
  combine reduces every partition to at most k*dim rows before the
  exchange, so the shuffle is O(k * dim * partitions), independent of N.
- Each iteration collects k*dim quantized sums to the driver (KBs) to
  rebuild the centroids — the same tiny driver round-trip every
  production k-means (including Spark MLlib's) performs per iteration.
- int64 headroom: |qsum| <= N_cell * max|x| * 2^s; at 10^9 rows, |x| <= 100,
  s=20 that is ~10^17 < 2^63.
- semantic_dedup's within-cell pair search is O(sum n_c^2); k is the knob
  that bounds cell size (SemDeDup runs k ~ sqrt(N)); cells shuffle by a
  hash exchange on the cell id into a per-cell kernel.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arroyo_spark.operators.similarity import (
    _assign_cells,
    _dup_counts,
    _np_sq_norms,
    _np_stack,
    _prep,
    _side,
)


@dataclass(frozen=True)
class Centroid:
    cell: int
    vec: list[float]
    norm: float


def kmeans_assign(v: DataFrame, cents: list[Centroid]) -> DataFrame:
    """Attach ``cell`` = argmax-cosine centroid to a prepped (_id, _vec,
    _norm) frame: ``similarity._assign_cells`` with one probe, so ties go
    to the lowest cell id whatever the order of ``cents``."""
    return _assign_cells(v, [(c.cell, c.vec, c.norm) for c in cents], 1).select(
        "_id", "_vec", "_norm", F.col("cell").cast("int")
    )


def kmeans_update(assigned: DataFrame, scale_bits: int = 20) -> DataFrame:
    """The order-independent centroid update: (cell, pos, qsum, n) where
    qsum = SUM(floor(x * 2^s + 0.5)) over int64.

    Per-batch partial sums are produced inside an Arrow-batched
    kernel (exact int64 — np.floor(x*2^s + 0.5) is the same IEEE op
    sequence as the JVM expression, and integer sums are associative),
    so the exchange carries <= k*dim rows per batch instead of the
    N*dim posexplode stream; the final groupBy is the same exact-int
    fold. Results are bit-identical by integer associativity."""
    s = float(1 << scale_bits)

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = _np_stack(pdf["_vec"])
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
        norm = float(np.sqrt(_np_sq_norms(np.array([vec]))[0]))
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
    Returns driver-side centroids (k * dim doubles — KBs). ``dim`` may be
    passed but is not needed."""
    # staged: init + every Lloyd round is a separate driver action over v
    # — unstaged, each re-runs the scan + projection (guide §1.2)
    v = _prep(df, id_col, vec_col).localCheckpoint(eager=False)
    return _train_prepped(v, k, n_iter, scale_bits)


def _train_prepped(
    v: DataFrame, k: int, n_iter: int, scale_bits: int = 20
) -> list[Centroid]:
    """Lloyd's over an already-prepped (and ideally staged) (_id, _vec,
    _norm) frame — shared by ``train_kmeans`` and ``semantic_dedup`` so
    the latter reuses ONE staged projection for training AND the final
    assignment."""
    init = v.orderBy("_id").limit(k).collect()
    cents = [Centroid(i, list(r["_vec"]), r["_norm"]) for i, r in enumerate(init)]
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
    vector. The pair search never leaves a cell: one hash exchange on
    the cell id feeds a per-cell kernel that scores the cell's grid in
    ``_GRID_CELLS`` chunks, and k bounds the quadratic blow-up. ``dim``
    may be passed but is not needed."""
    # ONE staged projection feeds training and the final assignment
    v = _prep(df, id_col, vec_col).localCheckpoint(eager=False)
    cents = _train_prepped(v, k, n_iter, scale_bits)
    a = kmeans_assign(v, cents)
    idt = dict(a.dtypes)["_id"]
    thr = float(threshold)

    # every member surfaces, n_dups = 0 included (the oracle's left join)
    def count_cell(key, pdf):
        s = _side(pdf)
        n = _dup_counts(s, thr)
        return pd.DataFrame({id_col: s[0], "cell": key[0], "n_dups": n, "is_dup": n > 0})

    return a.groupBy("cell").applyInPandas(
        count_cell, f"{id_col} {idt}, cell int, n_dups long, is_dup boolean"
    )
