"""Round-5 hardening: ADVICE r4 fixes + Kafka option validation + dim
threading.

- commit-policy state must advance only AFTER the ledger commit succeeds
  (sink.py _finalize — the replay double-count hazard, ADVICE r4 medium)
- NULL partitions on the lineage fast path must not silently vanish from
  next_offsets (ADVICE r4)
- zero-norm embedding exclusion is uniform across LSH/IVF/dup-pairs
- exported TRANSCRIPTS_FROM_EVENTS_SQL runs verbatim in both engines
- stateful_match_sequence warns when watermark_delay bounds nothing
- Kafka source options validated at construction (reference
  arroyo/backends/kafka/configuration.py:23-212 contract)
- explicit dim skips the per-operator .first() driver job
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from arroyo_spark.streaming import CommitPolicy, ExactlyOnceSink, OffsetsLedger
from arroyo_spark.streaming.retries import NO_RETRY
from arroyo_spark.streaming.sources import (
    build_kafka_consumer_options,
    validate_kafka_options,
)


# -- commit policy vs failed ledger commit ----------------------------------


class _TogglableLedger:
    """Delegates to a real ledger; commit() raises while .fail is True."""

    def __init__(self, inner):
        self._inner = inner
        self.fail = True

    def commit(self, *a, **kw):
        if self.fail:
            raise OSError("simulated persistent FS error")
        return self._inner.commit(*a, **kw)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def test_policy_state_advances_only_after_ledger_commit(spark, tmp_path):
    """Failed epoch (ledger commit exhausts retries) must leave the commit-
    policy state machine untouched; the successful replay then records
    exactly one policy commit (pre-fix: the failed attempt already recorded
    it, so the replay saw zero new messages and the epoch's offsets were
    never policy-flushed)."""
    out = str(tmp_path / "pol")
    ledger = _TogglableLedger(OffsetsLedger(out, "pol"))
    sink = ExactlyOnceSink(
        output_dir=f"{out}/pol",
        ledger=ledger,
        commit_policy=CommitPolicy(None, 1),
        write_retry=NO_RETRY,
    )
    batch = spark.createDataFrame(
        [("conv-1", "hello", datetime.datetime(2024, 1, 1))],
        "conv_id string, text string, ts timestamp",
    )
    from arroyo_spark.streaming.retries import RetryException

    with pytest.raises(RetryException):
        sink(batch, 0)
    assert sink.n_policy_commits == 0  # nothing recorded for a failed epoch
    assert sink._synthetic_next == 0

    ledger.fail = False
    sink(batch, 0)  # replay of the SAME epoch
    assert sink.n_policy_commits == 1
    assert sink._synthetic_next == 1
    assert ledger.epochs() == [0]


# -- NULL partition on the lineage fast path --------------------------------


def _lineage_batch(spark, rows):
    return spark.createDataFrame(
        rows, "partition int, offset long, ts timestamp, text string"
    )


def test_null_partition_rejected_not_dropped(spark, tmp_path):
    """A NULL partition row must fail loudly — silently dropping its offset
    from next_offsets (the pre-fix behavior once ANY partition was known)
    would un-track messages under exactly-once."""
    t0 = datetime.datetime(2024, 1, 1)
    out = str(tmp_path / "nullp")
    sink = ExactlyOnceSink(
        output_dir=f"{out}/s", ledger=OffsetsLedger(out, "s"), write_retry=NO_RETRY
    )
    sink._known_partitions = {0}  # steady state: partition 0 already known
    batch = _lineage_batch(
        spark, [(0, 5, t0, "ok"), (None, 7, t0, "lost?")]
    )
    with pytest.raises(ValueError, match="NULL partition"):
        sink(batch, 0)

    # cold start (no known partitions) hits the same guard
    sink2 = ExactlyOnceSink(
        output_dir=f"{out}/s2", ledger=OffsetsLedger(out, "s2"), write_retry=NO_RETRY
    )
    with pytest.raises(ValueError, match="NULL partition"):
        sink2(_lineage_batch(spark, [(None, 1, t0, "x")]), 0)


def test_known_partition_offsets_still_tracked_alongside_fresh(spark, tmp_path):
    """Regression guard for the coalesced predicate: known-partition maxes
    and fresh-partition discovery both still land in next_offsets."""
    t0 = datetime.datetime(2024, 1, 1)
    out = str(tmp_path / "mix")
    ledger = OffsetsLedger(out, "m")
    sink = ExactlyOnceSink(output_dir=f"{out}/m", ledger=ledger, write_retry=NO_RETRY)
    sink._known_partitions = {0}
    sink(_lineage_batch(spark, [(0, 5, t0, "a"), (1, 9, t0, "b")]), 0)
    assert ledger.committed_offsets() == {0: 6, 1: 10}
    assert sink._known_partitions == {0, 1}


# -- uniform zero-norm exclusion ---------------------------------------------


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.9, 0.1, 0.0]),
        (5, [0.0, 0.0, 0.0, 0.0]),  # zero-norm: must not participate
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _ids(df, *cols):
    out = set()
    for r in df.collect():
        for c in cols:
            out.add(r[c])
    return out


def test_zero_norm_excluded_in_lsh_ivf_and_dup_pairs(vecs):
    import math

    from arroyo_spark.operators.similarity import (
        embedding_dup_pairs,
        ivf_ann_topk,
        lsh_ann_topk,
    )

    lsh = lsh_ann_topk(vecs, k=3, n_planes=1, dim=4)
    rows = lsh.collect()
    assert 5 not in _ids(lsh, "query_id", "neighbor_id")
    assert all(not math.isnan(r["cosine"]) for r in rows)

    dup = embedding_dup_pairs(vecs, threshold=-1.0, n_planes=1, dim=4)
    assert 5 not in _ids(dup, "id_a", "id_b")
    assert all(not math.isnan(r["cosine"]) for r in dup.collect())

    ivf = ivf_ann_topk(vecs, k=2, n_cells=2, n_probe=1, dim=4)
    rows = ivf.collect()
    assert 5 not in _ids(ivf, "query_id", "neighbor_id")
    assert all(not math.isnan(r["cosine"]) for r in rows)


# -- dim threading: no driver job at plan-build time -------------------------


def test_explicit_dim_builds_plan_without_driver_jobs(spark, vecs):
    """With dim passed, instantiating the similarity operators runs ZERO
    Spark jobs (the .first() dim inference is skipped) — plan build is
    driver-side only. Without dim, the inference job runs (sanity that the
    detector detects)."""
    from arroyo_spark.operators.similarity import (
        cosine_topk,
        embedding_dup_pairs,
        lsh_ann_topk,
        lsh_ann_topk_multiband,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    sc.setJobGroup("dimless", "dim inference control")
    lsh_ann_topk(vecs, k=2, n_planes=1)
    n_control = len(tracker.getJobIdsForGroup("dimless"))
    assert n_control >= 1  # inference runs a job — detector works

    sc.setJobGroup("dimful", "explicit dim build")
    cosine_topk(vecs, k=2, dim=4)
    lsh_ann_topk(vecs, k=2, n_planes=1, dim=4)
    lsh_ann_topk_multiband(vecs, k=2, n_planes=1, n_bands=2, dim=4)
    embedding_dup_pairs(vecs, threshold=0.5, n_planes=1, dim=4)
    assert len(tracker.getJobIdsForGroup("dimful")) == 0
    sc.setJobGroup("", "")


# -- exported transcript SQL runs verbatim -----------------------------------


def test_transcripts_sql_export_runs_verbatim(spark, duck):
    from arroyo_spark.sources import TRANSCRIPTS_FROM_EVENTS_SQL
    from arroyo_spark.sources.tables import load_table

    assert "{" not in TRANSCRIPTS_FROM_EVENTS_SQL  # no template holes
    n_duck = duck.execute(
        f"SELECT count(*) FROM ({TRANSCRIPTS_FROM_EVENTS_SQL})"
    ).fetchone()[0]
    load_table(spark, "/root/testdata/sf0.001", "events").createOrReplaceTempView(
        "events"
    )
    n_spark = spark.sql(TRANSCRIPTS_FROM_EVENTS_SQL).count()
    assert n_duck == n_spark > 0


# -- CEP watermark knob misread guard ----------------------------------------


def test_cep_watermark_delay_alone_warns_unbounded_state(spark):
    from arroyo_spark.streaming.cep import stateful_match_sequence

    df = spark.createDataFrame(
        [("k", datetime.datetime(2024, 1, 1), "A")], "k string, ts timestamp, ev string"
    )
    steps = [("a", F.col("ev") == "A"), ("b", F.col("ev") == "B")]
    with pytest.warns(UserWarning, match="unbounded"):
        try:
            stateful_match_sequence(df, "k", steps, watermark_delay="10 minutes")
        except Exception:
            pass  # batch df can't execute the stateful op; the warning fires first


# -- Kafka option validation ---------------------------------------------------


BASE = {"kafka.bootstrap.servers": "b:9092", "subscribe": "t"}


def test_kafka_options_accept_matrix():
    ok = validate_kafka_options(
        {
            **BASE,
            "startingOffsets": "earliest",
            "maxOffsetsPerTrigger": 1000,
            "failOnDataLoss": "false",
            "minPartitions": "64",
            "kafka.security.protocol": "SSL",  # unknown kafka.* passes through
        }
    )
    assert ok["maxOffsetsPerTrigger"] == "1000"
    # per-partition JSON offsets accepted
    validate_kafka_options({**BASE, "startingOffsets": '{"t":{"0":23}}'})


@pytest.mark.parametrize(
    "opts,msg",
    [
        ({"kafka.bootstrap.servers": "b:9092"}, "exactly one of subscribe"),
        ({**BASE, "assign": '{"t":[0]}'}, "exactly one of subscribe"),
        ({"subscribe": "t"}, "bootstrap.servers"),
        ({"kafka.bootstrap.servers": "", "subscribe": "t"}, "bootstrap.servers"),
        ({**BASE, "maxOffsetPerTrigger": "10"}, "maxoffsetspertrigger"),  # typo hint
        ({**BASE, "maxOffsetsPerTrigger": "ten"}, "integer"),
        ({**BASE, "maxOffsetsPerTrigger": "0"}, "> 0"),
        ({**BASE, "failOnDataLoss": "yes"}, "true/false"),
        ({**BASE, "startingOffsets": "middle"}, "earliest, latest"),
        ({**BASE, "kafka.enable.auto.commit": "true"}, "engine-owned"),
        ({**BASE, "kafka.auto.offset.reset": "latest"}, "engine-owned"),
        ({**BASE, "kafka.value.deserializer": "X"}, "engine-owned"),
    ],
)
def test_kafka_options_reject_matrix(opts, msg):
    with pytest.raises(ValueError, match=msg):
        validate_kafka_options(opts)


def test_kafka_options_documented_connector_set_accepted():
    # real spark-sql-kafka options that postdate the original allowlist
    # must not be rejected (review r5: allowlist over-rejection)
    ok = validate_kafka_options(
        {
            **BASE,
            "startingOffsetsByTimestampStrategy": "latest",
            "endingOffsets": "latest",
            "endingTimestamp": "1700000000000",
            "maxRecordsPerPartition": "100000",
        }
    )
    assert ok["endingOffsets"] == "latest"


def test_kafka_options_nonstrict_passthrough_warns():
    # unknown option: strict raises, non-strict warns and passes through;
    # engine-owned rejections survive either way
    import warnings

    with pytest.raises(ValueError, match="unknown Kafka source option"):
        validate_kafka_options({**BASE, "someFutureKnob": "x"})
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        ok = validate_kafka_options({**BASE, "someFutureKnob": "x"}, strict=False)
    assert ok["someFutureKnob"] == "x"
    assert any("someFutureKnob" in str(w.message) for w in rec)
    with pytest.raises(ValueError, match="engine-owned"):
        validate_kafka_options(
            {**BASE, "kafka.enable.auto.commit": "true"}, strict=False
        )


def test_build_kafka_consumer_options_reference_defaults():
    """Mirrors build_kafka_consumer_configuration defaults (reference
    configuration.py:168-212): earliest reset, 50 MB prefetch bound,
    group id + strict-reset mapping, override-last ordering."""
    opts = build_kafka_consumer_options(["b1:9092", "b2:9092"], "t", group_id="g")
    assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert opts["startingOffsets"] == "earliest"
    assert opts["kafka.group.id"] == "g"
    assert opts["kafka.fetch.max.bytes"] == str(50000 * 1024)
    assert "failOnDataLoss" not in opts

    strict = build_kafka_consumer_options(
        "b:9092",
        "t",
        strict_offset_reset=True,
        max_offsets_per_trigger=500,
        override_params={"minPartitions": 8},
    )
    assert strict["failOnDataLoss"] == "true"
    assert strict["maxOffsetsPerTrigger"] == "500"
    assert strict["minPartitions"] == "8"

    with pytest.raises(ValueError, match="earliest or latest"):
        build_kafka_consumer_options("b:9092", "t", auto_offset_reset="end")
    # overrides are validated too (update-last, validate-after)
    with pytest.raises(ValueError, match="engine-owned"):
        build_kafka_consumer_options(
            "b:9092", "t", override_params={"kafka.enable.auto.commit": "true"}
        )


def test_kafka_source_constructor_validates(spark):
    from arroyo_spark.streaming import kafka_source

    with pytest.raises(ValueError, match="engine-owned"):
        kafka_source("b:9092", "t", **{"kafka.enable.auto.commit": "true"})


# -- real PPM/BMP decode path --------------------------------------------------


def test_ppm_bmp_decode_end_to_end(spark):
    import hashlib

    import numpy as np

    from arroyo_spark.operators.multimodal import (
        attach_fake_images,
        decode_features,
        decode_image,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "other text")], "doc_id long, text string"
    )
    ppm = {r["doc_id"]: bytes(r["media"]) for r in attach_fake_images(df, fmt="ppm").collect()}
    bmp = {r["doc_id"]: bytes(r["media"]) for r in attach_fake_images(df, fmt="bmp").collect()}

    for doc_id, text in [(1, "hello world"), (2, "other text")]:
        want = b"".join(
            hashlib.md5(f"px{i}#{text}".encode()).digest() for i in range(3)
        )
        ip = decode_image(ppm[doc_id])
        ib = decode_image(bmp[doc_id])
        assert ip.shape == ib.shape == (4, 4, 3)
        # PPM pixel bytes are exactly the md5 chunks, top-down RGB
        assert ip.tobytes() == want
        # BMP stores the same 48 bytes bottom-up BGR; the decoder undoes both
        assert np.array_equal(ib, ip[::-1, :, ::-1])

    # decoded-pixel stats flow through the Arrow kernel end-to-end
    feats = {r["doc_id"]: r for r in decode_features(attach_fake_images(df)).collect()}
    arr = decode_image(ppm[1]).reshape(-1, 3).astype("float64")
    assert feats[1]["width"] == 4 and feats[1]["height"] == 4
    assert feats[1]["mean_r"] == arr[:, 0].sum() / 16

    # non-shipping containers still raise the honest stub error
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n\x1a\nfakepngbytes")


# -- text-quality family -------------------------------------------------------


def test_strip_boilerplate_and_count(spark):
    from arroyo_spark.functions.text import boilerplate_line_count, strip_boilerplate

    df = spark.createDataFrame(
        [("real line one\nCopyright 2020 Corp\nreal line two\nPlease SUBSCRIBE now",)],
        "t string",
    )
    row = df.select(
        strip_boilerplate("t").alias("clean"), boilerplate_line_count("t").alias("n")
    ).collect()[0]
    assert row["clean"] == "real line one\nreal line two"
    assert row["n"] == 2


def test_char_ngram_entropy_values(spark):
    import math

    from arroyo_spark.functions.text import char_ngram_entropy

    df = spark.createDataFrame([("aaaa",), ("ab",), ("x",), ("abab",)], "t string")
    got = {
        r["t"]: r["e"]
        for r in df.select("t", char_ngram_entropy("t", 2).alias("e")).collect()
    }
    assert got["aaaa"] == 0.0  # one repeated bigram: zero entropy
    assert got["ab"] == 0.0  # single bigram
    assert got["x"] == 0.0  # shorter than n: guarded empty
    # abab -> grams [ab, ba, ab]: H = ln(3) - (2 ln 2)/3
    assert got["abab"] == round(math.log(3) - 2 * math.log(2) / 3, 9)


def test_redact_pii_spans(spark):
    from arroyo_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [("mail a.b+c@ex-ample.co.uk call 555-123-4567 ssn 123-45-6789 end",)],
        "t string",
    )
    got = df.select(redact_pii("t").alias("r")).collect()[0]["r"]
    assert got == "mail <EMAIL> call <PHONE> ssn <SSN> end"


def test_resize_images_floor_average_and_cross_container(spark):
    """resize_images: 2x2 floor-average pooling, PPM re-encode, exact bytes.

    - known 4x4 image (bytes 0..47): every pooled byte checked by hand
    - BMP input -> PPM output: the kernel resizes the DECODED image, so a
      BMP and a PPM carrying the same logical pixels pool identically
    """
    import numpy as np

    from arroyo_spark.operators.multimodal import (
        attach_fake_images,
        decode_image,
        resize_images,
    )

    # hand-built PPM: pixel bytes 0..47 (row-major RGB)
    header = b"P6\n4 4\n255\n"
    media = header + bytes(range(48))
    df = spark.createDataFrame(
        [(7, media, "image/x-portable-pixmap", len(media))],
        "doc_id long, media binary, media_format string, n_bytes int",
    )
    out = resize_images(df, factor=2).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 7
    got = decode_image(bytes(out[0]["media"]))
    src = np.arange(48, dtype=np.uint32).reshape(4, 4, 3)
    want = (src.reshape(2, 2, 2, 2, 3).sum(axis=(1, 3)) // 4).astype("uint8")
    assert got.shape == (2, 2, 3)
    assert np.array_equal(got, want)
    # spot-check one value by hand: out(0,0,R) = floor((0+3+12+15)/4) = 7
    assert got[0, 0, 0] == 7

    # cross-container: BMP in, PPM out — pooled pixels equal the numpy pool
    # of the decoded BMP (bottom-up BGR undone by the decoder first)
    docs = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    bmp_media = bytes(attach_fake_images(docs, fmt="bmp").collect()[0]["media"])
    pooled = decode_image(
        bytes(resize_images(attach_fake_images(docs, fmt="bmp")).collect()[0]["media"])
    )
    ref = decode_image(bmp_media).astype("uint32")
    want2 = (ref.reshape(2, 2, 2, 2, 3).sum(axis=(1, 3)) // 4).astype("uint8")
    assert np.array_equal(pooled, want2)


def test_wav_audio_decode_end_to_end(spark):
    """Second real modality: RIFF/WAVE 8-bit mono PCM assembled JVM-side,
    decoded by the pure-struct chunk walker, stats bit-exact."""
    import hashlib
    import struct

    import numpy as np

    from arroyo_spark.operators.multimodal import (
        attach_fake_audio,
        audio_features,
        decode_audio,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "other text")], "doc_id long, text string"
    )
    wav = {r["doc_id"]: bytes(r["media"]) for r in attach_fake_audio(df).collect()}
    for doc_id, text in [(1, "hello world"), (2, "other text")]:
        want = b"".join(
            hashlib.md5(f"au{i}#{text}".encode()).digest() for i in range(3)
        )
        rate, ch, bits, s = decode_audio(wav[doc_id])
        assert (rate, ch, bits) == (8000, 1, 8)
        assert s.tobytes() == want

    # chunk walker: survives an unknown odd-sized chunk before data
    # (word alignment) and rejects non-PCM formats loudly
    pcm = bytes(range(48))
    extra = b"LIST" + struct.pack("<I", 3) + b"abc\x00"  # odd size + pad
    hdr = wav[1][:12]  # RIFF....WAVE
    fmt_chunk = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8)
    data_chunk = b"data" + struct.pack("<I", 48) + pcm
    rate2, _, _, s2 = decode_audio(hdr + fmt_chunk + extra + data_chunk)
    assert rate2 == 8000 and s2.tobytes() == pcm
    bad_fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 16000, 2, 8)
    try:
        decode_audio(hdr + bad_fmt + data_chunk)
        raise AssertionError("stereo should be rejected")
    except ValueError:
        pass

    # amplitude stats flow through the Arrow kernel end-to-end
    feats = {r["doc_id"]: r for r in audio_features(attach_fake_audio(df)).collect()}
    for doc_id, text in [(1, "hello world"), (2, "other text")]:
        samples = np.frombuffer(
            b"".join(hashlib.md5(f"au{i}#{text}".encode()).digest() for i in range(3)),
            dtype=np.uint8,
        )
        r = feats[doc_id]
        assert r["n_samples"] == 48 and r["sample_rate"] == 8000
        assert r["mean_amp"] == float(int(samples.sum())) / 48
        assert r["peak"] == int(samples.max()) and r["trough"] == int(samples.min())
        assert r["n_loud"] == int((samples > 192).sum())


def test_y4m_video_decode_end_to_end(spark):
    """Third real modality: YUV4MPEG2 streams (3x 4x4 C444 frames)
    assembled JVM-side, decoded by the pure-numpy Y4M walker, per-frame
    stats + temporal motion bit-exact."""
    import hashlib

    import numpy as np
    import pytest

    from arroyo_spark.operators.multimodal import (
        attach_fake_video,
        decode_video,
        video_features,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "other text")], "doc_id long, text string"
    )
    vids = {r["doc_id"]: bytes(r["media"]) for r in attach_fake_video(df).collect()}

    def planes(text):
        # frame f, plane p -> the md5 digest of 'v{f}p{p}#'+text, as 4x4
        return np.stack(
            [
                np.stack(
                    [
                        np.frombuffer(
                            hashlib.md5(f"v{f}p{p}#{text}".encode()).digest(),
                            dtype=np.uint8,
                        ).reshape(4, 4)
                        for p in range(3)
                    ]
                )
                for f in range(3)
            ]
        )

    for doc_id, text in [(1, "hello world"), (2, "other text")]:
        w, h, fps, frames = decode_video(vids[doc_id])
        assert (w, h, fps) == (4, 4, (25, 1))
        assert np.array_equal(frames, planes(text))

    # walker robustness: frame params after FRAME are skipped; C420
    # (the Y4M default) and non-Y4M bytes are rejected loudly
    hdr = b"YUV4MPEG2 W2 H2 F30:1 C444\n"
    fr = bytes(range(12))
    w2, h2, fps2, fs2 = decode_video(hdr + b"FRAME Ixyz\n" + fr + b"FRAME\n" + fr)
    assert (w2, h2, fps2, fs2.shape) == (2, 2, (30, 1), (2, 3, 2, 2))
    with pytest.raises(ValueError, match="C444"):
        decode_video(b"YUV4MPEG2 W2 H2 F30:1\n" + b"FRAME\n" + fr)
    with pytest.raises(NotImplementedError):
        decode_video(b"\x00\x00\x00\x18ftypmp42 fake mp4 bytes")
    with pytest.raises(ValueError, match="truncated"):
        decode_video(hdr + b"FRAME\n" + fr[:5])

    # per-frame stats + temporal motion flow through the Arrow kernel
    feats = video_features(attach_fake_video(df)).collect()
    by_key = {(r["doc_id"], r["frame_idx"]): r for r in feats}
    assert len(by_key) == 6
    for doc_id, text in [(1, "hello world"), (2, "other text")]:
        fr3 = planes(text).astype("int64")
        for f in range(3):
            r = by_key[(doc_id, f)]
            assert r["y_mean"] == float(int(fr3[f, 0].sum())) / 16
            assert r["y_peak"] == int(fr3[f, 0].max())
            assert r["u_mean"] == float(int(fr3[f, 1].sum())) / 16
            assert r["v_mean"] == float(int(fr3[f, 2].sum())) / 16
            want_motion = (
                0.0
                if f == 0
                else float(int(np.abs(fr3[f, 0] - fr3[f - 1, 0]).sum())) / 16
            )
            assert r["y_motion"] == want_motion


def test_gopher_quality_flags_rules(spark):
    from arroyo_spark.functions.text import gopher_quality_flags

    docs = [
        # 1: clean prose with stopwords -> passes (min_words=5 here)
        (1, "the cat sat on the mat and that was to be all of it with ease"),
        # 2: too few words
        (2, "the and of"),
        # 3: symbol-heavy (# per word > 0.1)
        (3, "the ### cat ### sat ### mat ### and ### hat ### bat ### rat"),
        # 4: bullet lines dominate (> 0.9 of 2 lines... use all bullets)
        (4, "- the cat sat\n- and the mat was to be all of it here now"),
        # 5: ellipsis endings on half the lines (> 0.3)
        (5, "the cat sat...\nand the mat was to be all of it..."),
        # 6: numeric words (alpha fraction < 0.8)
        (6, "the 1 2 3 4 5 6 7 8 9 10 11 12 13 and"),
        # 7: no stopwords at all
        (7, "cat mat hat bat rat sat fat vat pat gnat"),
        (8, ""),  # empty: everything degenerate, fails
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            gopher_quality_flags(
                "text", min_words=5, min_mean_word_len=2.5
            ).alias("q"),
        ).select("doc_id", "q.*").collect()
    }
    assert out[1].passes is True
    assert out[1].n_words == 16 and out[1].stop_hits >= 2
    assert out[2].passes is False  # word-count floor
    assert out[3].passes is False and out[3].symbol_ratio > 0.1
    assert out[4].passes is False and out[4].bullet_frac == 1.0
    assert out[5].passes is False and out[5].ellipsis_frac == 1.0
    assert out[6].passes is False and out[6].alpha_frac < 0.8
    assert out[7].passes is False and out[7].stop_hits == 0
    assert out[8].passes is False and out[8].n_words == 0
    # every metric is populated for every row (no nulls, no exclusions)
    assert len(out) == 8
