"""Deterministic distributed k-means + semantic dedup (operators/kmeans.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from arroyo_spark.operators.kmeans import (
    Centroid,
    kmeans_assign,
    semantic_dedup,
    train_kmeans,
    _prep,
)


def _clustered_vecs():
    """Three well-separated direction clusters in 4-d + one zero vector."""
    base = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.0, 1.0, 0.0, 0.0],
        2: [0.0, 0.0, 1.0, 0.0],
    }
    rows = []
    vid = 0
    for c, b in base.items():
        for j in range(20):
            # deterministic ANGULAR jitter on a non-base coordinate with a
            # unique magnitude per member: no two members are parallel, so
            # no intra-cluster pair reaches cosine ~1 (max same-coord pair
            # is ~0.998), yet every member stays in its cluster's cone
            eps = 0.03 * (j + 1)
            coord = (c + 1 + (j % 3)) % 4
            v = list(b)
            v[coord] += eps
            rows.append((vid, v, c))
            vid += 1
    rows.append((vid, [0.0, 0.0, 0.0, 0.0], -1))  # degenerate: excluded
    return rows


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        _clustered_vecs(), "vec_id long, embedding array<double>, label int"
    )


def test_train_kmeans_recovers_separated_clusters(spark, vecs):
    cents = train_kmeans(vecs, k=3, n_iter=4, dim=4)
    assert len(cents) == 3 and all(isinstance(c, Centroid) for c in cents)
    a = kmeans_assign(_prep(vecs, "vec_id", "embedding", 4), cents)
    got = {r["_id"]: r["cell"] for r in a.collect()}
    labels = {r.vec_id: r.label for r in vecs.collect() if r.label >= 0}
    # zero vector excluded; each true cluster maps to exactly one cell
    assert set(got) == set(labels)
    cells_per_label = {
        lab: {got[v] for v in labels if labels[v] == lab} for lab in (0, 1, 2)
    }
    assert all(len(cs) == 1 for cs in cells_per_label.values())
    assert len({cs.pop() for cs in cells_per_label.values()}) == 3
    # trained centroids point along the cluster axes (dominant coordinate)
    for c in cents:
        assert max(c.vec) > 0.9 * c.norm


def test_train_kmeans_bit_deterministic_across_partitionings(spark, vecs):
    a = train_kmeans(vecs.repartition(1), k=3, n_iter=3, dim=4)
    b = train_kmeans(vecs.repartition(17, "vec_id"), k=3, n_iter=3, dim=4)
    # the fixed-point update makes this EXACT equality, not approximate:
    # float means would differ in the last ulp between partition orders
    assert [(c.cell, c.vec, c.norm) for c in a] == [(c.cell, c.vec, c.norm) for c in b]


def test_quantized_update_close_to_true_mean(spark, vecs):
    cents = train_kmeans(vecs, k=3, n_iter=2, dim=4)
    a = kmeans_assign(_prep(vecs, "vec_id", "embedding", 4), cents)
    rows = a.select("_id", "cell", "_vec").collect()
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(list(r["_vec"]))
    # one more exact-arithmetic round equals the quantized mean within 2^-20
    nxt = train_kmeans(vecs, k=3, n_iter=3, dim=4)
    for c in nxt:
        members = by_cell.get(c.cell)
        assert members, "every final cell is non-empty in this dataset"
        for pos in range(4):
            true_mean = sum(m[pos] for m in members) / len(members)
            assert math.isclose(c.vec[pos], true_mean, abs_tol=2**-20)


def test_empty_cell_keeps_previous_centroid(spark):
    # init = vectors 0,1,2; vec 1 is an EXACT copy of vec 0, so every
    # vector cosine-ties between cells 0 and 1 resolve to cell 0 (the
    # deterministic cell-ASC tie-break) and cell 1 never receives a member
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])]
    rows += [(10 + i, [1.0, 0.05 * (i % 3)]) for i in range(6)]
    rows += [(20 + i, [0.05 * (i % 3), 1.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    init = train_kmeans(df, k=3, n_iter=0, dim=2)
    a = kmeans_assign(_prep(df, "vec_id", "embedding", 2), init)
    cells = {r["cell"] for r in a.collect()}
    assert 1 not in cells  # round-1 assignment: the shadowed cell is empty
    trained = train_kmeans(df, k=3, n_iter=1, dim=2)
    survivors = {c.cell: c for c in trained}
    assert survivors[1].vec == init[1].vec  # kept its previous centroid
    assert survivors[0].vec != init[0].vec  # non-empty cells updated
    assert survivors[2].vec != init[2].vec
    # (in LATER rounds the kept centroid may legitimately re-attract
    # members once the updated cell-0 mean drifts away from it)


def test_semantic_dedup_flags_planted_duplicates(spark):
    rows = _clustered_vecs()
    # plant two exact duplicates of existing vectors, ids above everything
    dup_of_3 = [r for r in rows if r[0] == 3][0][1]
    dup_of_25 = [r for r in rows if r[0] == 25][0][1]
    rows = rows + [(1000, list(dup_of_3), 0), (1001, list(dup_of_25), 1)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = semantic_dedup(df, k=3, n_iter=3, threshold=0.9999, dim=4)
    got = {r.vec_id: (r.n_dups, r.is_dup) for r in out.collect()}
    assert got[1000][1] is True and got[1001][1] is True
    assert got[3] == (0, False)  # lowest id of its dup set survives
    assert got[25] == (0, False)
    # every non-degenerate vector got a decision
    assert len(got) == len(rows) - 1  # zero vector excluded
    dup_count = sum(1 for n, d in got.values() if d)
    assert dup_count == 2  # only the planted exact dups cross 0.9999


def test_ivf_with_trained_centroids(spark, vecs):
    from arroyo_spark.operators.similarity import cosine_topk, ivf_ann_topk

    cents = train_kmeans(vecs, k=3, n_iter=3, dim=4)
    out = ivf_ann_topk(vecs, k=2, n_probe=1, dim=4, centroids=cents)
    got = out.collect()
    assert got and all(1 <= r.rank <= 2 for r in got)
    # with well-separated clusters and a trained quantizer, 1-probe IVF
    # recovers the exact brute-force top-1 for every query
    exact = {
        r.query_id: r.neighbor_id
        for r in cosine_topk(vecs, k=1, dim=4).collect()
    }
    ivf_top1 = {r.query_id: r.neighbor_id for r in got if r.rank == 1}
    agree = sum(1 for q, n in ivf_top1.items() if exact.get(q) == n)
    assert agree / len(ivf_top1) == 1.0


def test_ivf_centroid_order_does_not_matter(spark, vecs):
    """Trained centroids in reverse cell order give the same rows: the
    assigner sorts them, so probe ties still go to the lowest cell."""
    from arroyo_spark.operators.similarity import ivf_ann_topk

    cents = train_kmeans(vecs, k=3, n_iter=3, dim=4)
    fwd = ivf_ann_topk(vecs, k=3, n_probe=2, dim=4, centroids=cents).collect()
    rev = ivf_ann_topk(vecs, k=3, n_probe=2, dim=4, centroids=cents[::-1]).collect()
    assert fwd and sorted(fwd) == sorted(rev)
