"""Round-4 hardening: profiler dump, sink fast path (observe), schema
pinning, synthetic-counter replay idempotence.

Reference parity targets:
- profiler: /root/reference/arroyo/utils/profiler.py:16-58 (wrap, dump on
  close) — here: one JSON line per epoch as the query runs, and per-stage
  task time in a closing line on query termination.
- sink fast path: same exactly-once/commit contract as the two-pass path,
  with the stats folded into the write job via observe().
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from arroyo_spark.streaming import (
    ExactlyOnceSink,
    FileStreamSource,
    OffsetsLedger,
    QueryProfiler,
    StreamProcessor,
)
from arroyo_spark.streaming.commit import CommitPolicy
from arroyo_spark.streaming.retries import NO_RETRY, RetryException
from arroyo_spark.synth import transcripts
from arroyo_spark.types import STREAM_SCHEMA


@pytest.fixture(scope="module")
def small_stream_dir(spark, tmp_path_factory):
    """3 offset-ordered parquet slices of a tiny transcript stream."""
    import glob
    import shutil

    root = tmp_path_factory.mktemp("r4_stream")
    flat = tmp_path_factory.mktemp("r4_stream_flat")
    df = transcripts(spark, 40, partitions=2).cache()
    hi = df.groupBy().max("offset").collect()[0][0]
    step = hi // 3 + 1
    for i in range(3):
        part = df.filter((F.col("offset") >= i * step) & (F.col("offset") < (i + 1) * step))
        part.coalesce(1).write.mode("overwrite").parquet(str(root / f"s{i}"))
        src = glob.glob(str(root / f"s{i}" / "part-*.parquet"))[0]
        shutil.copy(src, str(flat / f"{i:03d}.parquet"))
    df.unpersist()
    return str(flat)


def test_query_profiler_dumps_per_stage_task_time(spark, small_stream_dir, tmp_path, read_profile):
    """The profiler writes one JSON line per epoch with its phase durations
    as the query runs, and a closing line with per-stage task time when the
    query terminates."""
    dump_dir = str(tmp_path / "profiles")
    prof = QueryProfiler(dump_dir, spark=spark)
    spark.streams.addListener(prof)
    try:
        ledger = OffsetsLedger(str(tmp_path), "prof")
        sink = ExactlyOnceSink(output_dir=str(tmp_path / "prof"), ledger=ledger)
        proc = StreamProcessor(
            spark=spark,
            source=FileStreamSource(small_stream_dir, STREAM_SCHEMA, 1),
            sink=sink,
            checkpoint_dir=str(tmp_path / "ckpt"),
            query_name="profiled_q",
        )
        proc.run_until_complete()
        recs = read_profile(os.path.join(dump_dir, "profiled_q.jsonl"))
    finally:
        spark.streams.removeListener(prof)
    assert recs and "exception" in recs[-1], "no closing line written on termination"
    *epochs, closing = recs
    assert len(epochs) >= 1
    assert [e["batch_id"] for e in epochs] == sorted(e["batch_id"] for e in epochs)
    assert sum(e["num_input_rows"] for e in epochs) > 0
    assert all("triggerExecution" in e["duration_ms"] for e in epochs)
    assert closing["exception"] is None
    # per-stage task time from the JVM status store (headless UI)
    assert closing["stages"], "no stage metrics captured"
    assert any(s["executor_run_time_ms"] > 0 for s in closing["stages"])
    assert any(s["num_complete_tasks"] > 0 for s in closing["stages"])


def test_sink_fast_path_metrics_and_output(spark, tmp_path):
    """Lineage-less/no-DLQ/no-transform epochs take the single-job observe
    path; the ledger metrics must still carry exact counts and latency."""
    ledger = OffsetsLedger(str(tmp_path), "fast")
    sink = ExactlyOnceSink(output_dir=str(tmp_path / "fast"), ledger=ledger)
    df = spark.range(100).select(
        F.col("id"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )
    sink(df, 0)
    sink(df.filter(F.col("id") < 40), 1)
    entries = {e["epoch_id"]: e for e in ledger.entries()}
    assert entries[0]["metrics"]["arroyo.consumer.run.count"] == 100.0
    assert entries[1]["metrics"]["arroyo.consumer.run.count"] == 40.0
    assert "arroyo.consumer.latency" in entries[0]["metrics"]
    assert sink.read_output(spark).count() == 140
    # replay is still idempotent on the fast path
    sink(df, 0)
    assert len(ledger.epochs()) == 2


def _jobs_run_by(spark, fn, group: str) -> int:
    """How many Spark jobs ``fn()`` starts, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_sink_empty_fast_path_epoch_is_one_job(spark, tmp_path):
    """A no-transform epoch that emits no rows trusts its zero observation:
    the data write is the epoch's only Spark job (a re-measure would run the
    whole micro-batch again), and the ledger still records run.count 0.
    ``id < 0`` is a filter the optimizer cannot fold to an empty relation,
    so the observation is really taken."""
    ledger = OffsetsLedger(str(tmp_path), "empty")
    sink = ExactlyOnceSink(output_dir=str(tmp_path / "empty"), ledger=ledger)
    df = spark.range(100).filter(F.col("id") < 0)
    assert _jobs_run_by(spark, lambda: sink(df, 0), "empty_fast_path_epoch") == 1
    assert ledger.entries()[0]["metrics"]["arroyo.consumer.run.count"] == 0.0
    assert ledger.epochs() == [0]


def test_sink_remeasures_a_zeroed_observation_behind_a_transform(spark, tmp_path):
    """A transform that lazily localCheckpoints the observed frame makes
    the observation read all zeros; behind a transform the sink re-measures,
    so the ledger still gets the exact input count."""
    ledger = OffsetsLedger(str(tmp_path), "ckpt")
    sink = ExactlyOnceSink(
        output_dir=str(tmp_path / "ckpt"),
        ledger=ledger,
        transform=lambda df: df.localCheckpoint(eager=False),
    )
    sink(spark.range(50), 0)
    assert ledger.entries()[0]["metrics"]["arroyo.consumer.run.count"] == 50.0
    assert sink.read_output(spark).count() == 50


@pytest.mark.parametrize("dlq", [False, True], ids=["fast_path", "dlq_path"])
def test_sink_lineage_fast_path_offsets_and_counts(spark, tmp_path, dlq):
    """Lineage epochs (partition/offset columns) also run single-job: the
    per-known-partition next-offsets come out of observe(); an unknown
    partition triggers the one-time rebalance fallback; a filtering
    transform must NOT shrink run.count (observe sits below it and
    pushdown does not cross CollectMetrics).

    With ``valid=F.lit(True)`` the sink takes the DLQ path instead, which
    computes the same epoch stats with a plain agg before any write: the
    ledger must come out identical across the rebalance and the restart."""
    valid = F.lit(True) if dlq else None
    ledger = OffsetsLedger(str(tmp_path), "lin")
    sink = ExactlyOnceSink(
        output_dir=str(tmp_path / "lin"),
        ledger=ledger,
        transform=lambda df: df.filter(F.col("id") % 2 == 0),
        valid=valid,
        payload_col="id",  # the DLQ split copies a payload; these rows have no text
    )

    def batch(parts: dict[int, range]):
        rows = [
            (p, o, o, __import__("datetime").datetime(2026, 1, 1, 0, 0, o % 60))
            for p, rng in parts.items()
            for o in rng
        ]
        return spark.createDataFrame(rows, "partition int, offset long, id long, ts timestamp")

    sink(batch({0: range(10), 1: range(5)}), 0)  # both partitions unknown -> fallback
    sink(batch({0: range(10, 30), 1: range(5, 8)}), 1)  # steady state, known set
    sink(batch({0: range(30, 31), 2: range(4)}), 2)  # partition 2 = rebalance

    assert ledger.committed_offsets() == {0: 31, 1: 8, 2: 4}
    entries = {e["epoch_id"]: e for e in ledger.entries()}
    # run.count is the INPUT row count, not the post-filter count
    assert entries[0]["metrics"]["arroyo.consumer.run.count"] == 15.0
    assert entries[1]["metrics"]["arroyo.consumer.run.count"] == 23.0
    assert entries[2]["metrics"]["arroyo.consumer.run.count"] == 5.0
    # the written data IS transformed
    out = sink.read_output(spark)
    assert out.filter(F.col("id") % 2 == 1).count() == 0

    # restart recovery: a fresh sink learns the partition set from the
    # ledger and keeps exact offsets on the steady-state path
    sink2 = ExactlyOnceSink(
        output_dir=str(tmp_path / "lin"),
        ledger=ledger,
        transform=lambda df: df.filter(F.col("id") % 2 == 0),
        valid=valid,
        payload_col="id",
    )
    sink2(batch({0: range(31, 40), 2: range(4, 6)}), 3)
    assert ledger.committed_offsets() == {0: 40, 1: 8, 2: 6}


def test_sink_schema_change_fails_loudly(spark, tmp_path):
    """A mid-stream output schema change must not be silently nulled by
    readers pinned to the persisted schema.json (ADVICE r3)."""
    ledger = OffsetsLedger(str(tmp_path), "schema")
    sink = ExactlyOnceSink(output_dir=str(tmp_path / "schema"), ledger=ledger)
    sink(spark.range(5).select("id"), 0)
    with pytest.raises(ValueError, match="schema changed"):
        sink(spark.range(5).select("id", F.lit("x").alias("extra")), 1)
    # and a fresh sink instance over the same dir (restart) enforces the
    # persisted schema too — the check survives the in-memory cache
    sink2 = ExactlyOnceSink(output_dir=str(tmp_path / "schema"), ledger=ledger)
    with pytest.raises(ValueError, match="schema changed"):
        sink2(spark.range(5).select("id", F.lit("x").alias("extra")), 1)


class _FlakyLedger(OffsetsLedger):
    """Fails the first commit attempt(s) to simulate an FS outage."""

    def __init__(self, root, job_id, fail_times):
        super().__init__(root, job_id)
        self.fail_times = fail_times

    def commit(self, epoch_id, next_offsets, metrics):
        if self.fail_times > 0:
            self.fail_times -= 1
            raise OSError("simulated ledger outage")
        return super().commit(epoch_id, next_offsets, metrics)


def test_synthetic_counter_advances_only_after_commit(spark, tmp_path):
    """If the ledger commit fails after the policy update, the epoch's
    replay must not double-count messages for min_commit_messages policies
    (ADVICE r3): the synthetic counter advances only on successful commit."""
    ledger = _FlakyLedger(str(tmp_path), "synth", fail_times=1)
    sink = ExactlyOnceSink(
        output_dir=str(tmp_path / "synth"),
        ledger=ledger,
        commit_policy=CommitPolicy(None, min_commit_messages=1000),
        write_retry=NO_RETRY,
    )
    df = spark.range(100).select("id")
    with pytest.raises((OSError, RetryException)):
        sink(df, 0)
    assert sink._synthetic_next == 0  # failed commit -> no advance
    sink(df, 0)  # replay of the SAME epoch succeeds
    assert sink._synthetic_next == 100  # counted once, not twice
    assert len(ledger.epochs()) == 1
