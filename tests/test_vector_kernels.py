"""Spark-free tests of the similarity family's kernel layer
(operators/similarity.py): the grid scorer and its top-k / threshold
consumers, the sign-LSH bucketizer, the cell assigner and the PQ folds,
each against a plain-Python reference with the sequential fold's
association, compared bit for bit."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from arroyo_spark.operators import similarity as sim


def _fold(x, y) -> float:
    """The sequential dot product: 0.0 + x1*y1 + ... + xn*yn, left to right."""
    acc = 0.0
    for a, b in zip(x, y):
        acc = acc + a * b
    return acc


def _side(ids, vecs):
    vecs = [list(map(float, v)) for v in vecs]
    return sim._side(
        pd.DataFrame(
            {"_id": np.asarray(ids, dtype=np.int64), "_vec": vecs,
             "_norm": [math.sqrt(_fold(v, v)) for v in vecs]}
        )
    )


def _ref_topk(q, b, k):
    """Brute force: every (query, neighbor) pair but self-pairs, cosine by
    the per-pair fold, sorted by (cosine DESC, neighbor_id), first k."""
    out = set()
    for qi, qv, qn in zip(q[0].tolist(), q[1].tolist(), q[2].tolist()):
        pairs = sorted(
            ((-(_fold(qv, bv) / (qn * bn)), bi) for bi, bv, bn in
             zip(b[0].tolist(), b[1].tolist(), b[2].tolist()) if bi != qi)
        )
        out |= {(qi, bi, -neg, r + 1) for r, (neg, bi) in enumerate(pairs[:k])}
    return out


def _rows(frame):
    return set(frame.itertuples(index=False, name=None))


def _vectors(rng, n, dim=8):
    return rng.normal(size=(n, dim)).round(3)


@pytest.mark.parametrize("budget", [sim._GRID_CELLS, 50, 1])
def test_topk_frame_equals_per_pair_fold(monkeypatch, budget):
    monkeypatch.setattr(sim, "_GRID_CELLS", budget)
    rng = np.random.default_rng(7)
    base_vecs = _vectors(rng, 12)
    base_vecs[5] = base_vecs[2]  # exact cosine ties, broken by neighbor id
    base_vecs[9] = base_vecs[2]
    b = _side([40, 3, 17, 8, 25, 11, 30, 2, 19, 5, 33, 14], base_vecs)
    # queries overlap the base ids (self-pairs masked) and repeat a base vector
    q_vecs = np.vstack([base_vecs[[1, 4]], base_vecs[2], _vectors(rng, 4)])
    q = _side([3, 25, 99, 1, 7, 8, 60], q_vecs)
    for k in (1, 3, 12, 50):  # k up to and beyond the base size
        got = sim._topk_frame(q, b, k, rank=True)
        assert _rows(got) == _ref_topk(q, b, k)
        assert len(got) == sum(min(k, 12 - (qi in set(b[0].tolist()))) for qi in q[0].tolist())
    # self-grid: each id is both query and neighbor, never its own neighbor
    got = sim._topk_frame(b, b, 4, rank=True)
    assert _rows(got) == _ref_topk(b, b, 4)
    assert not (got["query_id"] == got["neighbor_id"]).any()
    # ids 11 and 5 hold id 17's vector: cosine ties, lowest id first
    tied = got[got["query_id"] == 17].sort_values("rank")
    assert tied["neighbor_id"].tolist()[:2] == [5, 11]


def test_topk_frame_empty_sides_are_typed():
    rng = np.random.default_rng(1)
    full = _side([1, 2, 3], _vectors(rng, 3))
    empty = sim._side(
        pd.DataFrame({"_id": np.array([], dtype=np.int64), "_vec": [], "_norm": np.array([])})
    )
    for q, b in ((empty, full), (full, empty), (empty, empty)):
        got = sim._topk_frame(q, b, 5, rank=True)
        assert len(got) == 0
        assert got.dtypes.astype(str).tolist() == ["int64", "int64", "float64", "int32"]
    assert sim._topk_frame(full, empty, 5).columns.tolist() == [
        "query_id", "neighbor_id", "cosine"
    ]


def test_grid_chunks_stay_within_budget_and_match_unchunked(monkeypatch):
    """No scored chunk exceeds _GRID_CELLS cells, and the chunked top-k
    equals top-k over the whole grid scored at once."""
    rng = np.random.default_rng(3)
    q = _side(np.arange(300), _vectors(rng, 300))
    b = _side(np.arange(150, 190), _vectors(rng, 40))
    full = sim._np_grid_dots(q[1], b[1]) / (q[2][:, None] * b[2][None, :])
    want = set(zip(*sim._np_topk_rows(q[0], b[0], full, 5, True)))
    for budget in (sim._GRID_CELLS, 1000, 40, 1):
        monkeypatch.setattr(sim, "_GRID_CELLS", budget)
        cells = []

        def dots(Q, B):
            cells.append(len(Q) * len(B))
            return sim._np_grid_dots(Q, B)

        got = sim._topk_frame(q, b, 5, dots=dots, rank=True)
        assert max(cells) <= max(budget, len(b[0])) and sum(cells) == 300 * 40
        assert len(cells) == -(-300 // max(1, budget // 40))
        assert _rows(got) == want


def test_adc_scoring_is_chunked_like_the_dot_grid(monkeypatch):
    rng = np.random.default_rng(5)
    m, sub = 4, 2
    CW = _vectors(rng, 16)
    q = _side(np.arange(100), _vectors(rng, 100))
    b = _side(np.arange(50, 80), _vectors(rng, 30))
    qt = (q[0], sim._np_pq_qtab(q[1], CW, m, sub), q[2])
    bc = (b[0], sim._np_pq_codes(b[1], CW, m, sub), b[2])
    whole = sim._np_adc(qt[1], bc[1]) / (q[2][:, None] * b[2][None, :])
    want = set(zip(*sim._np_topk_rows(q[0], b[0], whole, 3, False)))
    monkeypatch.setattr(sim, "_GRID_CELLS", 300)
    cells = []

    def adc(T, codes):
        cells.append(len(T) * len(codes))
        return sim._np_adc(T, codes)

    assert _rows(sim._topk_frame(qt, bc, 3, dots=adc)) == want
    assert max(cells) <= 300 and len(cells) == 10


def test_ivfpq_cell_tables_stay_within_budget(monkeypatch):
    """An IVF cell with few members and many probe rows: the ADC lookup
    tables (rows x m x k_codes) the cell scorer builds per chunk stay
    within _GRID_CELLS, like every dot grid, and the output is bit for bit
    the unchunked answer."""
    rng = np.random.default_rng(13)
    m, sub, k = 4, 2, 3
    CW = _vectors(rng, 16)  # m * k_codes = 64 table cells per probe row
    n = 60
    pdf = pd.DataFrame(
        {"_id": np.arange(n, dtype=np.int64), "_vec": [list(v) for v in _vectors(rng, n)],
         "_pr": np.where(np.arange(n) % 20 == 0, 1, 2)}  # 3 members, 57 probes
    )
    pdf["_norm"] = [math.sqrt(_fold(v, v)) for v in pdf["_vec"]]
    q, (bids, X, bn) = sim._side(pdf), sim._side(pdf[pdf["_pr"] == 1])
    whole = sim._np_adc(sim._np_pq_qtab(q[1], CW, m, sub), sim._np_pq_codes(X, CW, m, sub))
    cos = whole / (q[2][:, None] * bn[None, :])
    want = sim._frame(
        ("query_id", "neighbor_id", "cosine"), [sim._np_topk_rows(q[0], bids, cos, k, False)]
    )

    budget = 200
    monkeypatch.setattr(sim, "_GRID_CELLS", budget)
    cells = []
    qtab, grid_dots = sim._np_pq_qtab, sim._np_grid_dots

    def counted_qtab(Q, *a):
        T = qtab(Q, *a)
        cells.append(T.size)
        return T

    def counted_dots(Q, B):
        cells.append(len(Q) * len(B))
        return grid_dots(Q, B)

    monkeypatch.setattr(sim, "_np_pq_qtab", counted_qtab)
    monkeypatch.setattr(sim, "_np_grid_dots", counted_dots)
    got = sim._ivfpq_cell_topk(pdf, CW, m, sub, k)
    assert cells and max(cells) <= budget
    pd.testing.assert_frame_equal(
        got.sort_values(["query_id", "neighbor_id"]).reset_index(drop=True),
        want.sort_values(["query_id", "neighbor_id"]).reset_index(drop=True),
        check_exact=True,
    )


def test_pq_folds_equal_the_sequential_reference():
    rng = np.random.default_rng(11)
    m, sub = 3, 2
    CW = _vectors(rng, 5, dim=6)
    CW[3] = CW[1]  # duplicate codeword: ties go to the smaller code
    X = np.vstack([_vectors(rng, 6, dim=6), CW[1]])
    codes = sim._np_pq_codes(X, CW, m, sub)
    T = sim._np_pq_qtab(X, CW, m, sub)
    for i, x in enumerate(X.tolist()):
        for j in range(m):
            xs = x[j * sub : (j + 1) * sub]
            cws = [c[j * sub : (j + 1) * sub] for c in CW.tolist()]
            keys = [_fold(c, c) - 2.0 * _fold(xs, c) for c in cws]
            assert codes[i, j] == keys.index(min(keys))
            assert T[i, j].tolist() == [_fold(xs, c) for c in cws]
    assert 3 not in codes[-1]
    # ADC: t_1 + ... + t_m left to right, the first term assigned
    adc = sim._np_adc(T, codes)
    for i in range(len(X)):
        for n in range(len(X)):
            acc = T[i, 0, codes[n, 0]]
            for j in range(1, m):
                acc = acc + T[i, j, codes[n, j]]
            assert adc[i, n] == acc
    empty = np.empty((0, 0))
    assert sim._np_pq_codes(empty, CW, m, sub).shape == (0, m)


def test_threshold_consumers_equal_per_pair_fold(monkeypatch):
    rng = np.random.default_rng(9)
    vecs = _vectors(rng, 30, dim=3)
    vecs[[4, 17, 22]] = vecs[8]  # exact duplicates cross any threshold
    s = _side(np.arange(100, 130)[::-1], vecs)
    ids, V, nrm = (a.tolist() for a in s)
    cos = {
        (a, c): _fold(va, vc) / (na * nc)
        for a, va, na in zip(ids, V, nrm)
        for c, vc, nc in zip(ids, V, nrm)
    }
    for budget in (sim._GRID_CELLS, 31, 1):
        monkeypatch.setattr(sim, "_GRID_CELLS", budget)
        for thr in (0.5, 0.99, 1.0):
            want = {(a, c, x) for (a, c), x in cos.items() if a < c and x >= thr}
            assert _rows(sim._dup_pairs(s, thr)) == want
            counts = sim._dup_counts(s, thr)
            assert counts.tolist() == [
                sum(1 for c in ids if c < a and cos[a, c] >= thr) for a in ids
            ]


@pytest.mark.parametrize("seed", [0, 4])
def test_bucketizer_bits_equal_hyperplane_signs(seed):
    rng = np.random.default_rng(seed)
    dim, n_planes = 6, 5
    vecs = _vectors(rng, 20, dim=dim)
    vecs[3] = 0.0  # zero vector: kept, bucket 0, norm 0
    vecs[7] = -0.0
    pdf = pd.DataFrame({"_id": np.arange(20, dtype=np.int64), "_vec": list(vecs)})
    Ws = [sim._np_planes(n_planes, dim, seed + b) for b in range(3)]
    out = pd.concat(list(sim._bucket_batches(iter([pdf, pdf.iloc[:0]]), Ws)))
    assert len(out) == 3 * 20
    for band in range(3):
        rows = out[out["band"] == band]
        assert rows["_id"].tolist() == list(range(20))
        for v, bucket, norm in zip(vecs.tolist(), rows["bucket"], rows["_norm"]):
            w = [[sim.hyperplane_weight(seed + band, p, d) for d in range(dim)]
                 for p in range(n_planes)]
            assert bucket == sum(1 << p for p in range(n_planes) if _fold(v, w[p]) > 0)
            assert norm == math.sqrt(_fold(v, v))
    assert (out["bucket"][out["_id"] == 3] == 0).all()


def test_cell_assigner_ties_go_to_the_lowest_cell():
    rng = np.random.default_rng(2)
    c = _vectors(rng, 3, dim=4).tolist()
    # cells 9 and 4 share a centroid; input order is not cell order
    cents = [(9, c[0], math.sqrt(_fold(c[0], c[0]))),
             (6, c[1], math.sqrt(_fold(c[1], c[1]))),
             (4, c[0], math.sqrt(_fold(c[0], c[0]))),
             (1, c[2], math.sqrt(_fold(c[2], c[2])))]
    vecs = [c[0], [2.0 * x for x in c[0]], c[1], c[2]]
    pdf = pd.DataFrame({"_id": np.arange(4, dtype=np.int64), "_vec": vecs,
                        "_norm": [math.sqrt(_fold(v, v)) for v in vecs]})
    for order in (cents, cents[::-1]):
        out = pd.concat(list(sim._cell_batches(iter([pdf]), sim._collected(order), 2)))
        top = out[out["_pr"] == 1].set_index("_id")["cell"]
        second = out[out["_pr"] == 2].set_index("_id")["cell"]
        assert top[0] == 4 and second[0] == 9
        assert top[1] == 4 and second[1] == 9
        assert top[2] == 6 and top[3] == 1
    one = pd.concat(list(sim._cell_batches(iter([pdf]), sim._collected(cents), 9)))
    assert sorted(one["_pr"].unique()) == [1, 2, 3, 4]  # n beyond K: K probes


def test_pq_ann_topk_requires_a_query_bound():
    for bad in (None, 0):
        with pytest.raises(ValueError, match="ivfpq_ann_topk"):
            sim.pq_ann_topk(None, n_queries=bad)
