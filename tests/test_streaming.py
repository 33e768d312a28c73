"""Streaming contract tests: exactly-once sink, checkpoint restart, DLQ.

Ports the reference's StreamProcessor/commit semantics
(/root/reference/tests/processing/test_processor.py) to Spark Structured
Streaming: deterministic file-per-epoch source, idempotent ledger commits,
crash-mid-stream resume, offsets advancing through 100%-filtered epochs,
and DLQ routing with fail-stop limits
(/root/reference/tests/test_dlq.py:40-157).
"""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from arroyo_spark.functions import normalize_text
from arroyo_spark.streaming import (
    DlqLimit,
    DlqLimitExceeded,
    ExactlyOnceSink,
    FileStreamSource,
    OffsetsLedger,
    StreamProcessor,
)
from arroyo_spark.synth import transcripts
from arroyo_spark.types import STREAM_SCHEMA

N_CONVS = 60
N_FILES = 5
PARTS = 4


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """Transcripts sliced into N_FILES offset-ordered parquet files.

    File i holds each partition's offsets [i*step, (i+1)*step) — one file
    per micro-batch = one broker offset range per epoch.
    """
    root = tmp_path_factory.mktemp("stream_src")
    df = transcripts(spark, N_CONVS, partitions=PARTS).cache()
    hi = df.groupBy().max("offset").collect()[0][0]
    step = hi // N_FILES + 1
    for i in range(N_FILES):
        part = df.filter(
            (F.col("offset") >= i * step) & (F.col("offset") < (i + 1) * step)
        )
        part.coalesce(1).write.mode("overwrite").parquet(str(root / f"slice-{i:03d}"))
        # flatten: move the parquet file up so the dir is a flat file listing
    # re-write as flat files (stream source lists files, not dirs)
    flat = tmp_path_factory.mktemp("stream_flat")
    import shutil

    for i in range(N_FILES):
        src = glob.glob(str(root / f"slice-{i:03d}" / "part-*.parquet"))[0]
        shutil.copy(src, str(flat / f"{i:03d}.parquet"))
    df.unpersist()
    return str(flat)


@pytest.fixture()
def batch_df(spark, stream_dir):
    return spark.read.schema(STREAM_SCHEMA).parquet(stream_dir)


def make_processor(spark, stream_dir, out_dir, job_id, **sink_kw):
    ledger = OffsetsLedger(out_dir, job_id)
    sink = ExactlyOnceSink(output_dir=f"{out_dir}/{job_id}", ledger=ledger, **sink_kw)
    proc = StreamProcessor(
        spark=spark,
        source=FileStreamSource(stream_dir, STREAM_SCHEMA, max_files_per_trigger=1),
        sink=sink,
        checkpoint_dir=f"{out_dir}/{job_id}/checkpoint",
    )
    return proc, sink, ledger


def transform(df):
    return df.filter(F.col("role") != "system").withColumn("text", normalize_text("text"))


def test_exactly_once_end_to_end(spark, stream_dir, batch_df, tmp_path):
    proc, sink, ledger = make_processor(
        spark, stream_dir, str(tmp_path), "job1", transform=transform
    )
    proc.run_until_complete()

    # one ledger entry per file (maxFilesPerTrigger=1)
    assert len(ledger.epochs()) == N_FILES

    # committed output == batch-mode result of the same pipeline
    got = sink.read_output(spark).select("conv_id", "turn_idx", "text").collect()
    want = transform(batch_df).select("conv_id", "turn_idx", "text").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    # ledger carries next-offset (= max consumed offset + 1) per partition
    want_offsets = {
        r["partition"]: r["no"]
        for r in batch_df.groupBy("partition").agg((F.max("offset") + 1).alias("no")).collect()
    }
    assert ledger.committed_offsets() == want_offsets


def test_epoch_replay_is_idempotent(spark, stream_dir, batch_df, tmp_path):
    proc, sink, ledger = make_processor(
        spark, stream_dir, str(tmp_path), "job2", transform=transform
    )
    proc.run_until_complete()
    before = sorted(map(tuple, sink.read_output(spark).collect()))
    # simulate Spark re-delivering an already-committed epoch after restart
    sink(batch_df.limit(50), epoch_id=ledger.epochs()[0])
    after = sorted(map(tuple, sink.read_output(spark).collect()))
    assert before == after


class CrashingSink(ExactlyOnceSink):
    """Commits ``crash_after`` epochs then dies — mid-stream failure fixture."""

    crash_after = 2

    def __call__(self, batch_df, epoch_id):
        if len(self.ledger.epochs()) >= self.crash_after:
            raise RuntimeError("injected crash")
        super().__call__(batch_df, epoch_id)


def test_crash_restart_resumes_exactly_once(spark, stream_dir, batch_df, tmp_path):
    out = str(tmp_path)
    ledger = OffsetsLedger(out, "job3")
    crash_sink = CrashingSink(output_dir=f"{out}/job3", ledger=ledger, transform=transform)
    proc = StreamProcessor(
        spark=spark,
        source=FileStreamSource(stream_dir, STREAM_SCHEMA, max_files_per_trigger=1),
        sink=crash_sink,
        checkpoint_dir=f"{out}/job3/checkpoint",
    )
    with pytest.raises(Exception, match="injected crash"):
        proc.run_until_complete()
    assert len(ledger.epochs()) == 2  # partial progress committed

    # restart from the same checkpoint with a healthy sink
    sink2 = ExactlyOnceSink(output_dir=f"{out}/job3", ledger=ledger, transform=transform)
    proc2 = StreamProcessor(
        spark=spark,
        source=FileStreamSource(stream_dir, STREAM_SCHEMA, max_files_per_trigger=1),
        sink=sink2,
        checkpoint_dir=f"{out}/job3/checkpoint",
    )
    proc2.run_until_complete()

    assert len(ledger.epochs()) == N_FILES  # every epoch exactly once
    got = sink2.read_output(spark).select("conv_id", "turn_idx", "text").collect()
    want = transform(batch_df).select("conv_id", "turn_idx", "text").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def _windows(df):
    return (
        df.withWatermark("ts", "30 seconds")
        .groupBy(F.window("ts", "2 minutes").alias("win"), "conv_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("ws"), "conv_id", "n")
    )


def _start_windows(spark, stream_dir, out, job, sink_cls=ExactlyOnceSink):
    """A windowed aggregation over the file stream, one file per epoch,
    into an exactly-once sink; returns (query, sink, ledger)."""
    ledger = OffsetsLedger(out, job)
    sink = sink_cls(output_dir=f"{out}/{job}", ledger=ledger)
    q = StreamProcessor(
        spark=spark,
        source=FileStreamSource(stream_dir, STREAM_SCHEMA, max_files_per_trigger=1),
        sink=sink,
        checkpoint_dir=f"{out}/{job}/checkpoint",
        pipeline=_windows,
    ).start(drain=True)
    return q, sink, ledger


def _window_rows(spark, sink):
    return [tuple(r) for r in sink.read_output(spark).select("ws", "conv_id", "n").collect()]


def test_restart_keeps_the_checkpoints_state_partitions(spark, stream_dir, tmp_path):
    """Spark pins the shuffle-partition count into a checkpoint. A windowed
    aggregation checkpoint created at 8 partitions restarts exactly-once
    under a session set to 4 and keeps its 8 state stores; a fresh
    checkpoint takes the session's 4."""
    out = str(tmp_path)

    def start(job, sink_cls=ExactlyOnceSink):
        return _start_windows(spark, stream_dir, out, job, sink_cls)

    def state_partitions(q):
        return {so["numShufflePartitions"] for p in q.recentProgress for so in p["stateOperators"]}

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "8")
        q, _, ledger = start("pinned", CrashingSink)
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination()
        assert len(ledger.epochs()) == 2
        assert state_partitions(q) == {8}

        spark.conf.set(key, "4")
        resumed, sink, ledger = start("pinned")
        resumed.awaitTermination()
        assert state_partitions(resumed) == {8}
        fresh, fresh_sink, fresh_ledger = start("fresh")
        fresh.awaitTermination()
        assert state_partitions(fresh) == {4}
    finally:
        spark.conf.set(key, before)

    assert ledger.epochs() == fresh_ledger.epochs()
    assert ledger.committed_offsets() == fresh_ledger.committed_offsets()
    got, want = _window_rows(spark, sink), _window_rows(spark, fresh_sink)
    assert got and len(set(got)) == len(got)  # every window once
    assert sorted(got) == sorted(want)


CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing"
MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _checkpoint_manager(spark, path):
    """The CheckpointFileManager Spark builds for ``path`` under the
    session's conf (unwrapped: the state store adds its checksum wrapper
    on top of this one)."""
    jvm = spark._jvm
    pkg = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    factory = getattr(getattr(pkg, "CheckpointFileManager$"), "MODULE$")
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    return factory.create(jvm.org.apache.hadoop.fs.Path(path), hconf)


def test_checkpoint_files_go_through_the_filesystem_api(spark, tmp_path):
    """The session's checkpoint manager renames through FileSystem.rename
    (the FileContext default forks a `readlink` per rename when Hadoop's
    native library is missing). A second writer of an existing file is
    still refused. An overwrite is Spark's best effort: it never raises and
    leaves one complete file. This Spark distribution's `file` scheme
    (Hive's ProxyLocalFileSystem) refuses a rename onto an existing file,
    as HDFS does, so there the first version stays."""
    m = _checkpoint_manager(spark, str(tmp_path))
    assert m.getClass().getName() == f"{CHECKPOINTING}.FileSystemBasedCheckpointFileManager"
    path = spark._jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))

    def write(byte, overwrite):
        out = m.createAtomic(path, overwrite)
        out.write(byte)
        out.close()

    write(1, False)
    with pytest.raises(Exception, match="already exists"):
        write(2, False)
    assert (tmp_path / "0").read_bytes() == b"\x01"
    write(3, True)
    assert (tmp_path / "0").read_bytes() in (b"\x01", b"\x03")


class _CrashBeforeLedgerSink(ExactlyOnceSink):
    """Writes epoch 1's data (so its state version is committed), then
    dies before the ledger commit."""

    def _finalize(self, epoch_id, *args, **kwargs):
        if epoch_id == 1:
            raise RuntimeError("injected crash")
        super()._finalize(epoch_id, *args, **kwargs)


def test_filecontext_checkpoint_restarts_under_the_filesystem_manager(
    spark, stream_dir, tmp_path
):
    """A windowed-aggregation checkpoint written by the FileContext manager
    restarts exactly-once under the FileSystem manager, including the
    replay of an epoch whose state files the crashed run already wrote."""
    out = str(tmp_path)
    fc = f"{CHECKPOINTING}.FileContextBasedCheckpointFileManager"
    before = spark.conf.get(MANAGER_KEY)
    try:
        spark.conf.set(MANAGER_KEY, fc)
        assert _checkpoint_manager(spark, out).getClass().getName() == fc
        q, _, ledger = _start_windows(spark, stream_dir, out, "legacy", _CrashBeforeLedgerSink)
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination()
    finally:
        spark.conf.set(MANAGER_KEY, before)
    assert ledger.epochs() == [0]
    # epoch 1 committed state version 2 before the crash; the replay writes it again
    assert glob.glob(f"{out}/legacy/checkpoint/state/0/*/2.delta")

    resumed, sink, ledger = _start_windows(spark, stream_dir, out, "legacy")
    resumed.awaitTermination()
    fresh, fresh_sink, fresh_ledger = _start_windows(spark, stream_dir, out, "fresh")
    fresh.awaitTermination()
    assert ledger.epochs() == fresh_ledger.epochs()
    got, want = _window_rows(spark, sink), _window_rows(spark, fresh_sink)
    assert got and len(set(got)) == len(got)
    assert sorted(got) == sorted(want)

    # the replay's rename onto the existing 2.delta was refused, which
    # leaves its temp files behind; the next start sweeps them
    state = f"{out}/legacy/checkpoint/state"
    assert glob.glob(f"{state}/**/.*.tmp", recursive=True)
    again, sink, ledger = _start_windows(spark, stream_dir, out, "legacy")
    again.awaitTermination()
    assert glob.glob(f"{state}/**/.*.tmp", recursive=True) == []
    assert glob.glob(f"{state}/**/..*.tmp.crc", recursive=True) == []
    assert ledger.epochs() == fresh_ledger.epochs()
    assert sorted(_window_rows(spark, sink)) == sorted(want)


def test_offsets_advance_through_fully_filtered_stream(spark, stream_dir, batch_df, tmp_path):
    """FilterStep sentinel semantics (filter.py:29-46): even when every row
    is dropped, committed offsets keep advancing."""
    proc, sink, ledger = make_processor(
        spark, stream_dir, str(tmp_path), "job4", transform=lambda df: df.filter(F.lit(False))
    )
    proc.run_until_complete()
    want_offsets = {
        r["partition"]: r["no"]
        for r in batch_df.groupBy("partition").agg((F.max("offset") + 1).alias("no")).collect()
    }
    assert ledger.committed_offsets() == want_offsets
    assert sink.read_output(spark).count() == 0


def test_dlq_routing_and_offsets(spark, stream_dir, batch_df, tmp_path):
    """Invalid rows land in the DLQ with original (partition, offset); the
    stream still commits every source offset (test_all.py:217-297 semantics)."""
    valid = F.col("role") != "tool"
    proc, sink, ledger = make_processor(
        spark, stream_dir, str(tmp_path), "job5", valid=valid, reason="tool turns are invalid here"
    )
    proc.run_until_complete()

    dlq = sink.read_dlq(spark)
    n_tool = batch_df.filter(F.col("role") == "tool").count()
    assert dlq.count() == n_tool
    # original offsets are the tool turns' broker positions
    want = sorted(
        (r.partition, r.offset) for r in batch_df.filter(~valid).select("partition", "offset").collect()
    )
    got = sorted((r.original_partition, r.original_offset) for r in dlq.collect())
    assert got == want
    # valid rows all delivered; offsets fully committed
    assert sink.read_output(spark).count() == batch_df.count() - n_tool
    want_offsets = {
        r["partition"]: r["no"]
        for r in batch_df.groupBy("partition").agg((F.max("offset") + 1).alias("no")).collect()
    }
    assert ledger.committed_offsets() == want_offsets


def test_dlq_ratio_limit_fail_stop(spark, stream_dir, tmp_path):
    """DlqLimit(max_invalid_ratio): exceeding it fails the epoch BEFORE any
    write — nothing is committed (arroyo/dlq.py:119-182)."""
    proc, sink, ledger = make_processor(
        spark,
        stream_dir,
        str(tmp_path),
        "job6",
        valid=F.col("role") == "nonexistent",  # 100% invalid
        dlq_limit=DlqLimit(max_invalid_ratio=0.5),
    )
    with pytest.raises(Exception, match="invalid ratio"):
        proc.run_until_complete()
    assert ledger.epochs() == []  # fail-stop: no epoch committed


def test_dlq_consecutive_limit(spark):
    """Consecutive-invalid refusal golden (tests/test_dlq.py:141-157)."""
    from arroyo_spark.streaming.dlq import DlqLimitState, consecutive_invalid_runs

    rows = [(i, 0, i) for i in range(10)]  # payload, partition, offset
    df = spark.createDataFrame(rows, "payload int, partition int, offset long")
    valid = F.col("payload") < 4  # offsets 4..9 invalid -> run of 6
    state = DlqLimitState(DlqLimit(max_consecutive_count=5))
    runs = consecutive_invalid_runs(df, valid, state)
    with pytest.raises(DlqLimitExceeded, match="consecutive"):
        state.check_epoch(10, 6, runs)


def test_dlq_consecutive_run_carries_across_epochs(spark):
    from arroyo_spark.streaming.dlq import DlqLimitState, consecutive_invalid_runs

    state = DlqLimitState(DlqLimit(max_consecutive_count=5))
    # epoch 1: offsets 0..3, last 3 invalid -> trailing run 3, under limit
    df1 = spark.createDataFrame([(i, 0, i) for i in range(4)], "payload int, partition int, offset long")
    runs1 = consecutive_invalid_runs(df1, F.col("payload") < 1, state)
    state.check_epoch(4, 3, runs1)
    assert state.tail_runs[0] == 3
    # epoch 2: offsets 4..7, first 3 invalid -> 3+3=6 exceeds 5
    df2 = spark.createDataFrame([(i, 0, i) for i in range(4, 8)], "payload int, partition int, offset long")
    runs2 = consecutive_invalid_runs(df2, F.col("payload") >= 7, state)
    with pytest.raises(DlqLimitExceeded):
        state.check_epoch(4, 3, runs2)
