"""Spark-free tests of the per-row Arrow kernel driver
(operators/map.py::_row_kernel): the batch body over hand-built pandas
batches (rows that yield none, one or many output rows, ids kept exactly)
and each kernel's partition layout, driven through a stand-in for the
slice of the DataFrame API the driver uses."""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from arroyo_spark.operators import corpus, dedup, multimodal
from arroyo_spark.operators.map import _row_batch, _row_kernel


class _Frame:
    """pandas batches behind the DataFrame calls ``_row_kernel`` makes:
    ``select``, ``dtypes``, the partition count ``_spread`` reads,
    ``repartition`` and ``mapInPandas``."""

    def __init__(self, batches, types, partitions=1, schema=None):
        self.batches, self.types, self.partitions, self.schema = (
            batches, types, partitions, schema,
        )
        self.sparkSession = SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=4)
        )
        self.rdd = SimpleNamespace(getNumPartitions=lambda: self.partitions)

    @property
    def dtypes(self):
        return list(self.types.items())

    def select(self, *cols):
        return _Frame(
            [b[list(cols)] for b in self.batches],
            {c: self.types[c] for c in cols},
            self.partitions,
        )

    def repartition(self, n):
        return _Frame(self.batches, self.types, n)

    def mapInPandas(self, fn, schema):
        return _Frame(list(fn(iter(self.batches))), {}, self.partitions, schema)

    def frame(self):
        return pd.concat(self.batches, ignore_index=True)


def _fanout(n):
    """None for n == 0, one scalar row for n == 1, else n rows."""
    if n == 0:
        return None
    if n == 1:
        return 10, "one"
    return list(range(n)), [f"r{i}" for i in range(n)]


def test_rows_yield_zero_one_and_many():
    pdf = pd.DataFrame({"id": np.array([7, 8, 9, 10], dtype=np.int64), "n": [3, 0, 1, 2]})
    out = _row_batch(_fanout, "v long, s string")(pdf)
    assert list(out.columns) == ["id", "v", "s"]
    assert list(out.itertuples(index=False, name=None)) == [
        (7, 0, "r0"), (7, 1, "r1"), (7, 2, "r2"), (9, 10, "one"), (10, 0, "r0"), (10, 1, "r1"),
    ]
    assert out["id"].dtype == np.int64 and out["v"].dtype == np.int64


def test_batch_where_every_row_yields_nothing():
    pdf = pd.DataFrame({"id": np.array([1, 2], dtype=np.int64), "n": [0, 0]})
    out = _row_batch(lambda n: ([], []) if n else None, "v int, w double")(pdf)
    assert len(out) == 0
    assert list(out.columns) == ["id", "v", "w"]
    assert [str(t) for t in out.dtypes] == ["int64", "int32", "float64"]
    # so is an empty input batch
    assert len(_row_batch(_fanout, "v long, s string")(pdf.iloc[:0])) == 0


def test_bigint_ids_past_2_53_are_exact():
    ids = np.array([2**53 + 1, 2**62 + 3, -(2**63)], dtype=np.int64)
    pdf = pd.DataFrame({"id": ids, "n": [2, 1, 2]})
    out = _row_batch(_fanout, "v long, s string")(pdf)
    assert out["id"].dtype == np.int64
    assert out["id"].tolist() == [2**53 + 1, 2**53 + 1, 2**62 + 3, -(2**63), -(2**63)]


def test_string_ids():
    pdf = pd.DataFrame({"id": ["a", "bb", "c"], "n": [1, 2, 0]})
    out = _row_batch(_fanout, "v long, s string")(pdf)
    assert out["id"].tolist() == ["a", "bb", "bb"]
    assert out["s"].tolist() == ["one", "r0", "r1"]


def test_driver_ids_schema_and_batches():
    batches = [
        pd.DataFrame({"doc_id": np.array([1, 2], dtype=np.int64), "n": [2, 1], "x": [0, 0]}),
        pd.DataFrame({"doc_id": np.array([3], dtype=np.int64), "n": [0], "x": [0]}),
    ]
    out = _row_kernel(
        _Frame(batches, {"doc_id": "bigint", "n": "int", "x": "int"}),
        ("doc_id", "n"),
        _fanout,
        "v long, s string",
    )
    assert out.schema == "doc_id bigint, v long, s string"
    assert [len(b) for b in out.batches] == [3, 0]  # an all-empty batch still comes out, empty
    assert out.frame()["doc_id"].tolist() == [1, 1, 2]


def test_driver_keeps_the_input_layout():
    batch = pd.DataFrame({"id": np.array([1], dtype=np.int64), "n": [1]})
    frame = _Frame([batch], {"id": "bigint", "n": "int"})
    assert _row_kernel(frame, ("id", "n"), lambda n: (n,), "v long").partitions == 1


def _media_frame(payload: bytes) -> _Frame:
    pdf = pd.DataFrame(
        {"doc_id": np.array([5, 6], dtype=np.int64), "media": [payload, payload],
         "media_format": ["x", "x"], "n_bytes": [len(payload)] * 2}
    )
    return _Frame(
        [pdf], {"doc_id": "bigint", "media": "binary", "media_format": "string", "n_bytes": "int"}
    )


_IMAGE = multimodal._ppm_header() + bytes(range(48))
_VIDEO = multimodal._y4m_header() + (b"FRAME\n" + bytes(range(48))) * multimodal.VID_FRAMES


@pytest.mark.parametrize(
    "op, payload, rows, parts",
    [
        (multimodal.decode_features, _IMAGE, 2, 1),
        (multimodal.extract_features, _IMAGE, 2, 4),
        (multimodal.audio_features, multimodal._wav_header() + bytes(range(48)), 2, 1),
        (multimodal.video_features, _VIDEO, 2 * multimodal.VID_FRAMES, 4),
        (multimodal.resize_images, _IMAGE, 2, 1),
    ],
)
def test_media_kernels_rows_and_layout(op, payload, rows, parts):
    """extract_features and video_features spread their input across the
    cores; decode, audio and resize keep the scan layout."""
    out = op(_media_frame(payload))
    assert out.partitions == parts
    assert len(out.frame()) == rows
    assert out.frame()["doc_id"].tolist()[0] == 5


def test_resized_image_decodes_to_the_pooled_pixels():
    out = multimodal.resize_images(_media_frame(_IMAGE)).frame()
    img = multimodal.decode_image(out["media"][0])
    ref = np.arange(48).reshape(4, 4, 3).reshape(2, 2, 2, 2, 3).sum(axis=(1, 3)) // 4
    assert img.shape == (2, 2, 3) and (img == ref).all()
    assert out["n_bytes"][0] == len(out["media"][0])


def _text_frame():
    pdf = pd.DataFrame(
        {"doc_id": np.array([1, 2, 3], dtype=np.int64),
         "text": ["a b a b a b", "one two", None]}
    )
    return _Frame([pdf], {"doc_id": "bigint", "text": "string"})


def test_lexical_kernels_rows():
    shingles = dedup._distinct_shingle_rows(_text_frame(), "doc_id", "text", 3).frame()
    assert sorted(shingles.itertuples(index=False, name=None)) == [(1, "a b a"), (1, "b a b")]
    sigs = dedup.minhash_signatures(_text_frame(), "doc_id", "text", n_perm=4).frame()
    assert sigs["doc_id"].tolist() == [1] * 4 and sigs["perm"].tolist() == [0, 1, 2, 3]
    sims = dedup.simhash(_text_frame(), "doc_id", "text").frame()
    assert sims["doc_id"].tolist() == [1, 2]
    rep = corpus.ngram_repetition(_text_frame(), "doc_id", "text").frame()
    assert rep.values.tolist() == [[1, 4, 0.5]]
    hashes = dedup._distinct_shingle_hashes(_text_frame(), "doc_id", "text", 3).frame()
    assert sorted(hashes["_sh"]) == sorted(dedup._py_md5_h64(s) for s in ("a b a", "b a b"))


@pytest.mark.parametrize(
    "op, parts",
    [
        (lambda f: dedup._distinct_shingle_rows(f, "doc_id", "text", 3), 1),
        (lambda f: dedup._distinct_shingle_hashes(f, "doc_id", "text", 3), 4),
        (lambda f: dedup.minhash_signatures(f, "doc_id", "text"), 4),
        (lambda f: dedup.simhash(f, "doc_id", "text"), 4),
        (lambda f: corpus.ngram_repetition(f, "doc_id", "text"), 4),
    ],
)
def test_lexical_kernels_layout(op, parts):
    """The shingle-row kernel keeps its caller's layout (the Jaccard verifier
    runs it on a bounded one-partition input); the others spread."""
    assert op(_text_frame()).partitions == parts
