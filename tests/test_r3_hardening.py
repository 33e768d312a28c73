"""Round-3 hardening tests: drain semantics, lineage-less commit policies,
orphan-epoch fencing, and poison-batch bisection.

Each test pins a failure mode found by review of the round-2 engine:
- run_until_complete with a frequency CommitPolicy used to inherit a
  processingTime trigger and hang forever in awaitTermination().
- A min_commit_messages policy on a lineage-less (pre-aggregated) stream
  saw messages_since=0 every epoch and never committed.
- PipeTopic.source streamed every epoch dir under data/, including an
  uncommitted orphan left by a producer that crashed between the data
  write and the ledger commit.
- run_task_safe's poison-batch fallback was O(n) single-row calls; it now
  bisects (healthy rows re-run at most O(log batch) times, fn must be pure).
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from arroyo_spark.operators.map import run_task_safe
from arroyo_spark.streaming import (
    CommitPolicy,
    ExactlyOnceSink,
    FileStreamSource,
    OffsetsLedger,
    StreamProcessor,
    produce_chain,
)
from arroyo_spark.synth import transcripts
from arroyo_spark.types import STREAM_SCHEMA

N_FILES = 3


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("r3_src")
    flat = tmp_path_factory.mktemp("r3_flat")
    df = transcripts(spark, 30, partitions=4).cache()
    hi = df.groupBy().max("offset").collect()[0][0]
    step = hi // N_FILES + 1
    for i in range(N_FILES):
        part = df.filter((F.col("offset") >= i * step) & (F.col("offset") < (i + 1) * step))
        part.coalesce(1).write.mode("overwrite").parquet(str(root / f"s{i}"))
        src = glob.glob(str(root / f"s{i}" / "part-*.parquet"))[0]
        shutil.copy(src, str(flat / f"{i:03d}.parquet"))
    df.unpersist()
    return str(flat)


def test_run_until_complete_drains_with_frequency_policy(spark, stream_dir, tmp_path):
    """A frequency policy maps to a processingTime trigger in start();
    run_until_complete must override it with a draining trigger or it
    never returns. The timeout is a regression guard: on the old behavior
    awaitTermination(60) would expire with an unfinished stream."""
    out = str(tmp_path / "drain")
    ledger = OffsetsLedger(out, "drain")
    sink = ExactlyOnceSink(output_dir=f"{out}/drain", ledger=ledger)
    proc = StreamProcessor(
        spark=spark,
        source=FileStreamSource(stream_dir, STREAM_SCHEMA, max_files_per_trigger=1),
        sink=sink,
        checkpoint_dir=f"{out}/drain/ckpt",
        commit_policy=CommitPolicy(1, None),
        # NO trigger: the policy would resolve to {"processingTime": "1000 ms"}
    )
    assert "processingTime" in proc._resolve_trigger()
    proc.run_until_complete(timeout=120)
    assert len(ledger.epochs()) == N_FILES  # fully drained, then stopped


def test_messages_policy_commits_on_lineage_less_stream(spark, stream_dir, tmp_path):
    """Pre-aggregated batches have no partition/offset columns; the sink
    feeds the policy a synthetic per-epoch message delta so
    min_commit_messages still fires (it used to see 0 forever)."""
    out = str(tmp_path / "nolineage")
    ledger = OffsetsLedger(out, "nl")
    sink = ExactlyOnceSink(
        output_dir=f"{out}/nl",
        ledger=ledger,
        # drop lineage: per-epoch conv counts only
        transform=lambda df: df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")),
    )
    proc = StreamProcessor(
        spark=spark,
        source=FileStreamSource(stream_dir, STREAM_SCHEMA, max_files_per_trigger=1),
        sink=sink,
        checkpoint_dir=f"{out}/nl/ckpt",
        commit_policy=CommitPolicy(None, 1),  # commit on every message delta
    )
    proc.run_until_complete(timeout=120)
    assert len(ledger.epochs()) == N_FILES
    assert sink.n_policy_commits == N_FILES  # fired every epoch, not zero


def test_pipe_topic_source_rejects_orphan_epoch(spark, stream_dir, tmp_path):
    """An epoch dir present under data/ but absent from the ledger is a
    producer crash artifact — downstream construction must fail loudly
    instead of silently reading a possibly-partial epoch."""
    from arroyo_spark.streaming import PipeTopic

    root = str(tmp_path / "chain")
    produce_chain(
        spark,
        source=FileStreamSource(stream_dir, STREAM_SCHEMA, max_files_per_trigger=1),
        stages=[("norm", lambda df: df.filter(F.col("role") != "system"))],
        root=root,
    )
    topic = PipeTopic(root, "norm")
    # sanity: committed topic reads fine
    assert topic.source(spark) is not None

    # forge an orphan: data written, ledger commit never reached
    orphan = f"{root}/norm/data/epoch={10_000}"
    os.makedirs(orphan)
    committed = glob.glob(f"{root}/norm/data/epoch=*/*.parquet")[0]
    shutil.copy(committed, f"{orphan}/part-orphan.parquet")
    with pytest.raises(RuntimeError, match="uncommitted epoch"):
        topic.source(spark)


def test_run_task_safe_bisects_multi_poison_batch(spark):
    """Several poison rows scattered through one Arrow batch: bisection must
    isolate each one (null outputs + recorded reason) while every healthy
    row keeps its computed value — including rows that shared a failing
    half with a poison row."""
    rows = [(i, "x" * (i + 1) if i not in (0, 3, 7, 8) else None) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, text string").coalesce(1)

    def length_fn(pdf):
        out = pdf.copy()
        # len(None) raises TypeError -> poison rows fail, batch bisects
        out["n_chars"] = [len(t) for t in pdf["text"]]
        return out

    got = {
        r.id: (r.n_chars, r._invalid_reason)
        for r in run_task_safe(df, length_fn, {"n_chars": "long"}).collect()
    }
    assert len(got) == 10
    for i in range(10):
        n, reason = got[i]
        if i in (0, 3, 7, 8):
            assert n is None and reason is not None and "TypeError" in reason
        else:
            assert n == i + 1 and reason is None


def test_run_task_safe_bisects_from_the_halves(spark):
    """A batch whose fn call raised is not fed to fn whole a second time:
    bisection starts from its two halves. One poison row at position 5 of
    a 10-row batch costs fn 10 + 5 + 5 + 2 + 1 + 1 + 3 = 27 rows."""
    fed = spark.sparkContext.accumulator(0)
    df = spark.createDataFrame(
        [(i, None if i == 5 else "x") for i in range(10)], "id long, text string"
    ).coalesce(1)

    def length_fn(pdf):
        fed.add(len(pdf))
        return pdf.assign(n_chars=[len(t) for t in pdf["text"]])

    got = sorted(run_task_safe(df, length_fn, {"n_chars": "long"}).collect())
    assert [r.n_chars for r in got] == [1] * 5 + [None] + [1] * 4
    assert [r._invalid_reason is not None for r in got] == [i == 5 for i in range(10)]
    assert fed.value == 27


class _Ev:
    def __init__(self, qid):
        self.id = qid
        self.runId = f"{qid}-run"
        self.name = qid
        self.exception = None


def test_stuck_detector_unit_fake_clock(tmp_path):
    """Staleness logic with an injected clock: a query that stops emitting
    events past the timeout is flagged once (stacks dumped), and a later
    event clears the flag (recovery). The watchdog thread may call check()
    too, so the asserts read the state, not check()'s return value."""
    from arroyo_spark.streaming import QueryProfiler

    t = {"now": 0.0}
    prof = QueryProfiler(str(tmp_path), stuck_timeout_s=5.0, clock=lambda: t["now"])
    try:
        prof.onQueryStarted(_Ev("q1"))
        t["now"] = 4.0
        prof.check()
        assert not prof.is_stuck() and prof.n_stuck_detected == 0

        t["now"] = 6.0  # gap 6s > 5s
        prof.check()
        assert prof.is_stuck() and prof.n_stuck_detected == 1
        assert prof.check() == []  # dumped once, still stuck
        assert prof.is_stuck() and prof.n_stuck_detected == 1
        dump = (tmp_path / "q1.stuck").read_text()
        assert dump.count("=== stuck query q1") == 1 and "Thread" in dump

        prof.onQueryIdle(_Ev("q1"))  # activity -> recovered
        assert not prof.is_stuck()
        t["now"] = 20.0
        prof.check()  # goes stale again -> re-flagged
        assert prof.is_stuck() and prof.n_stuck_detected == 2

        prof.onQueryTerminated(_Ev("q1"))
        assert not prof.is_stuck()
        t["now"] = 100.0
        assert prof.check() == [] and not prof.is_stuck()
        assert prof.n_stuck_detected == 2
    finally:
        prof.close()
    assert not prof._thread.is_alive()  # close() stops the watchdog


def test_stuck_flag_is_counted_once_under_concurrent_checks(tmp_path):
    """Many threads checking one stale query at once flag it exactly once:
    one count and one stack dump (check-then-flag is atomic)."""
    import sys
    import threading

    from arroyo_spark.streaming import QueryProfiler

    t = {"now": 0.0}
    prof = QueryProfiler(str(tmp_path), stuck_timeout_s=5.0, clock=lambda: t["now"])
    before = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for round_ in range(1, 21):
            prof.onQueryIdle(_Ev("q1"))
            t["now"] += 10.0
            start = threading.Barrier(16)
            checkers = [
                threading.Thread(target=lambda: (start.wait(timeout=30), prof.check()))
                for _ in range(16)
            ]
            for th in checkers:
                th.start()
            for th in checkers:
                th.join(timeout=30)
            assert not any(th.is_alive() for th in checkers)
            assert prof.n_stuck_detected == round_
    finally:
        sys.setswitchinterval(before)
        prof.close()
    assert (tmp_path / "q1.stuck").read_text().count("=== stuck query q1") == 20


def test_stuck_detector_fires_on_wedged_batch(spark, stream_dir, tmp_path):
    """End-to-end: a micro-batch wedged in a sleeping UDF emits no listener
    events, so the watchdog dumps stacks mid-batch; the stream then
    finishes normally (recovery) and commits exactly-once."""
    import time as _time

    from arroyo_spark.streaming import QueryProfiler

    out = str(tmp_path / "wedge")
    ledger = OffsetsLedger(out, "wedge")
    sink = ExactlyOnceSink(output_dir=f"{out}/wedge", ledger=ledger)

    def slow_pipeline(df):
        def napper(it):
            for pdf in it:
                _time.sleep(8)  # > stuck_timeout_s; bounded, then recovers
                yield pdf

        return df.mapInPandas(napper, df.schema)

    proc = StreamProcessor(
        spark=spark,
        source=FileStreamSource(stream_dir, STREAM_SCHEMA, max_files_per_trigger=N_FILES),
        sink=sink,
        checkpoint_dir=f"{out}/ckpt",
        pipeline=slow_pipeline,
        query_name="wedged",
    )
    prof = QueryProfiler(str(tmp_path / "profile"), stuck_timeout_s=2.0)
    spark.streams.addListener(prof)
    try:
        proc.run_until_complete(timeout=180)
    finally:
        spark.streams.removeListener(prof)
        prof.close()
    stuck_file = tmp_path / "profile" / "wedged.stuck"
    assert stuck_file.exists(), "watchdog never fired during the wedged batch"
    assert "stuck query" in stuck_file.read_text()
    assert prof.n_stuck_detected >= 1
    assert len(ledger.epochs()) >= 1  # the batch still committed after recovery


@pytest.mark.parametrize("codec_name", ["json", "binary_json"])
def test_codec_roundtrip_through_kafka_envelope(spark, codec_name):
    """Codec seam (reference: arroyo/utils/codecs.py + the JSON CommitCodec):
    to_kafka_records(codec) -> kafka_source(codec).decode must be the
    identity on the payload columns, for string AND binary wire formats,
    including hostile text (quotes, newlines, unicode, nulls)."""
    from pyspark.sql import types as T

    from arroyo_spark.streaming import BINARY_JSON, JSON, kafka_source, to_kafka_records

    codec = {"json": JSON, "binary_json": BINARY_JSON}[codec_name]
    rows = [
        ("c1", 0, 'quote " and \\ backslash'),
        ("c1", 1, "newline\nand\ttab"),
        ("c2", 0, "unicode: émoji 🙂 中文"),
        ("c2", 1, None),
        ("c3", 0, ""),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    enc = to_kafka_records(df, key_cols=["conv_id"], value_cols=["conv_id", "turn_idx", "text"], codec=codec)
    if codec_name == "binary_json":
        assert dict(enc.dtypes)["value"] == "binary"

    # fake the broker envelope around the encoded value
    env = enc.select(
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("timestamp"),
        F.col("value"),
    )
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = kafka_source("broker:9092", "t", value_schema=schema, codec=codec)
    dec = src.decode(env).select("conv_id", "turn_idx", "text")
    assert sorted(map(tuple, dec.collect())) == sorted(rows)


def test_retry_policy_unit():
    """RetryPolicy contract (reference arroyo/utils/retries.py): retry until
    success within budget, respect the retryable filter, chain the last
    error in RetryException when exhausted."""
    from arroyo_spark.streaming.retries import NO_RETRY, RetryException, RetryPolicy

    calls = {"n": 0}
    slept = []

    def flaky_then_ok():
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("transient")
        return "ok"

    pol = RetryPolicy(attempts=3, delay_s=0.5, sleep=slept.append)
    assert pol.call(flaky_then_ok) == "ok"
    assert calls["n"] == 3 and slept == [0.5, 0.5]

    def always_fails():
        raise OSError("disk on fire")

    with pytest.raises(RetryException) as ei:
        RetryPolicy(attempts=2, delay_s=0, sleep=slept.append).call(always_fails)
    assert isinstance(ei.value.__cause__, OSError)

    # non-retryable errors propagate immediately, original type intact
    pol = RetryPolicy(attempts=5, delay_s=0, retryable=lambda e: isinstance(e, OSError))
    with pytest.raises(ValueError):
        pol.call(lambda: (_ for _ in ()).throw(ValueError("logic bug")))

    with pytest.raises(RetryException):
        NO_RETRY.call(always_fails)


class _FlakyLedger:
    """Delegates to a real ledger; first commit() raises once (transient)."""

    def __init__(self, inner):
        self._inner = inner
        self.failures_left = 1

    def commit(self, *a, **kw):
        if self.failures_left > 0:
            self.failures_left -= 1
            raise OSError("simulated transient FS error")
        return self._inner.commit(*a, **kw)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def test_transient_ledger_failure_still_commits_epoch(spark, stream_dir, tmp_path):
    """One injected transient failure on the ledger write: the sink's retry
    policy absorbs it and the stream commits all epochs exactly-once."""
    out = str(tmp_path / "flaky")
    ledger = OffsetsLedger(out, "fl")
    sink = ExactlyOnceSink(output_dir=f"{out}/fl", ledger=_FlakyLedger(ledger))
    proc = StreamProcessor(
        spark=spark,
        source=FileStreamSource(stream_dir, STREAM_SCHEMA, max_files_per_trigger=1),
        sink=sink,
        checkpoint_dir=f"{out}/fl/ckpt",
    )
    proc.run_until_complete(timeout=120)
    assert len(ledger.epochs()) == N_FILES  # no epoch lost to the transient error


def test_sink_persists_schema_for_topic_source(spark, stream_dir, tmp_path):
    """The sink writes schema.json on first commit; PipeTopic.source uses
    it instead of a batch-inference scan over every committed epoch dir
    (at 10^5 epochs that listing alone is minutes of driver time)."""
    from arroyo_spark.streaming import PipeTopic

    root = str(tmp_path / "schemachain")
    produce_chain(
        spark,
        source=FileStreamSource(stream_dir, STREAM_SCHEMA, max_files_per_trigger=1),
        stages=[("norm", lambda df: df.filter(F.col("role") != "system"))],
        root=root,
    )
    assert os.path.exists(f"{root}/norm/schema.json")
    src = PipeTopic(root, "norm").source(spark)
    assert set(f.name for f in src.schema.fields) == set(
        f.name for f in STREAM_SCHEMA.fields
    )
    # and the schema actually drives a working stream (batch read sanity)
    got = spark.read.schema(src.schema).option("recursiveFileLookup", "true").parquet(
        f"{root}/norm/data"
    )
    assert got.count() > 0
