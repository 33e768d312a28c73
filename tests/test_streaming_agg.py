"""Watermarked streaming aggregation: append-mode windows through the
exactly-once sink, late-data semantics, healthcheck."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from arroyo_spark.streaming import (
    ExactlyOnceSink,
    FileStreamSource,
    OffsetsLedger,
    QueryProfiler,
    StreamProcessor,
)

T0 = datetime(2024, 1, 1)
SCHEMA = "conv_id string, turn_idx int, ts timestamp"


def write_slices(spark, tmp_path, slices):
    src = tmp_path / "src"
    src.mkdir()
    import glob
    import shutil

    for i, rows in enumerate(slices):
        df = spark.createDataFrame(rows, SCHEMA)
        tmp = str(tmp_path / f"_t{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], str(src / f"{i:03d}.parquet"))
    return str(src)


def windowed(df, duration="1 hour", watermark="10 minutes"):
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("win"), "conv_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("turn_idx").alias("s"))
        .select(F.col("win.start").alias("ws"), "conv_id", "n", "s")
    )


def test_streaming_windowed_agg_append_exactly_once(spark, tmp_path, read_profile):
    """Windows are emitted exactly once; a late row arriving AFTER its
    window was evicted is dropped and the window is never re-emitted.

    (Spark's watermark contract: eviction is guaranteed, late-drop is
    best-effort — a late row merging into still-live state is kept, so the
    drop fixture arrives two batches after the watermark passed.)
    """
    h = lambda hour, minute=0: T0 + timedelta(hours=hour, minutes=minute)  # noqa: E731
    slices = [
        # epoch 0: hour-0 turns
        [("a", 0, h(0, 5)), ("a", 1, h(0, 30)), ("b", 0, h(0, 10))],
        # epoch 1: watermark (end of batch) -> h2:20, hour-0/1 windows close
        [("a", 2, h(1, 15)), ("b", 1, h(2, 30))],
        # epoch 2: hour-0/1 windows are EMITTED + evicted here
        [("a", 3, h(3, 30))],
        # epoch 3: turn 99 is late for an already-evicted window -> dropped;
        # window must not be re-emitted or duplicated
        [("a", 99, h(0, 45)), ("b", 2, h(4, 30))],
    ]
    src = write_slices(spark, tmp_path, slices)
    ledger = OffsetsLedger(str(tmp_path), "agg1")
    sink = ExactlyOnceSink(output_dir=str(tmp_path / "agg1"), ledger=ledger)
    proc = StreamProcessor(
        spark=spark,
        source=FileStreamSource(src, SCHEMA, max_files_per_trigger=1),
        sink=sink,
        checkpoint_dir=str(tmp_path / "agg1/ckpt"),
        pipeline=windowed,
        output_mode="append",
        query_name="agg1",
    )
    prof = QueryProfiler(str(tmp_path / "profile"))
    spark.streams.addListener(prof)
    try:
        proc.run_until_complete()
        recs = read_profile(str(tmp_path / "profile" / "agg1.jsonl"))
    finally:
        spark.streams.removeListener(prof)

    # the silent valve is visible: the per-epoch records carry every
    # watermark drop the engine counted
    dropped = [
        so["rows_dropped_by_watermark"]
        for r in recs
        if "batch_id" in r
        for so in r["state_operators"]
    ]
    want = sum(
        so["numRowsDroppedByWatermark"]
        for p in proc._query.recentProgress
        for so in p["stateOperators"]
    )
    assert sum(dropped) == want > 0

    rows = sink.read_output(spark).collect()
    got = {(r.ws, r.conv_id): (r.n, r.s) for r in rows}
    # exactly-once emission: no (window, conv) key appears twice
    assert len(got) == len(rows)
    # hour-0 window for conv a: turns 0,1 — evicted-late turn 99 NOT included
    assert got[(h(0), "a")] == (2, 1)
    assert got[(h(0), "b")] == (1, 0)
    assert got[(h(1), "a")] == (1, 2)
    assert got[(h(2), "b")] == (1, 1)
    assert got[(h(3), "a")] == (1, 3)
    # the hour-4 window never closes (no later data) -> not emitted
    assert (h(4), "b") not in got


def test_streaming_agg_matches_batch_for_closed_windows(spark, tmp_path):
    from arroyo_spark.synth import transcripts

    # late_pct=0 + time-ordered slices: arrival order == event order, so
    # every closed window saw all its rows and must equal the batch agg
    df = transcripts(spark, 40, with_lineage=False, late_pct=0).cache()
    import glob
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    lo, hi = [r[0] for r in df.agg(F.min("ts")).collect()], [
        r[0] for r in df.agg(F.max("ts")).collect()
    ]
    cut = lo[0] + (hi[0] - lo[0]) / 2
    for i, part in enumerate([df.filter(F.col("ts") <= cut), df.filter(F.col("ts") > cut)]):
        tmp = str(tmp_path / f"_t{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.copy(glob.glob(f"{tmp}/part-*.parquet")[0], str(src / f"{i:03d}.parquet"))

    # synth event-time span is only ~15 min -> use 2-min windows, 30s delay
    plan = lambda d: windowed(d, "2 minutes", "30 seconds")  # noqa: E731
    ledger = OffsetsLedger(str(tmp_path), "agg2")
    sink = ExactlyOnceSink(output_dir=str(tmp_path / "agg2"), ledger=ledger)
    StreamProcessor(
        spark=spark,
        source=FileStreamSource(str(src), df.schema, max_files_per_trigger=1),
        sink=sink,
        checkpoint_dir=str(tmp_path / "agg2/ckpt"),
        pipeline=plan,
        output_mode="append",
    ).run_until_complete()

    got = {(r.ws, r.conv_id): (r.n, r.s) for r in sink.read_output(spark).collect()}
    want_all = {(r.ws, r.conv_id): (r.n, r.s) for r in plan(df).collect()}
    # streaming can only emit CLOSED windows, and closed-window values must
    # equal the batch aggregation exactly (note: batch mode ignores the
    # watermark, so compare on the emitted subset)
    assert len(got) > 0
    for k, v in got.items():
        assert want_all[k] == v, k
    df.unpersist()


def test_streaming_session_window(spark, tmp_path):
    """Native session_window in a streaming plan: gaps > 5 min split
    sessions; closed sessions emit exactly once through the sink."""
    from arroyo_spark.operators.reduce import session_window_stream

    m = lambda minute: T0 + timedelta(minutes=minute)  # noqa: E731
    slices = [
        # conv a: turns at 0,2,4 (one session), then 20,21 (second session)
        [("a", 0, m(0)), ("a", 1, m(2)), ("a", 2, m(4))],
        [("a", 3, m(20)), ("a", 4, m(21))],
        # far-future row advances the watermark past every session's end
        [("b", 0, m(120))],
    ]
    src = write_slices(spark, tmp_path, slices)
    ledger = OffsetsLedger(str(tmp_path), "sess")
    sink = ExactlyOnceSink(output_dir=str(tmp_path / "sess"), ledger=ledger)
    StreamProcessor(
        spark=spark,
        source=FileStreamSource(src, SCHEMA, max_files_per_trigger=1),
        sink=sink,
        checkpoint_dir=str(tmp_path / "sess/ckpt"),
        pipeline=lambda df: session_window_stream(
            df,
            "5 minutes",
            aggs={"n": F.count(F.lit(1))},
            keys=["conv_id"],
            watermark="1 minute",
        ).select(F.col("win.start").alias("ws"), "conv_id", "n"),
        output_mode="append",
    ).run_until_complete()

    got = {(r.conv_id, r.ws): r.n for r in sink.read_output(spark).collect()}
    assert got[("a", m(0))] == 3  # 0,2,4 merged (gaps < 5 min)
    assert got[("a", m(20))] == 2  # 20,21 — separate session after 16-min gap
    assert ("b", m(120)) not in got  # open session not emitted


def test_healthcheck_listener(spark, tmp_path):
    import os

    hc = str(tmp_path / "health")
    listener = QueryProfiler(str(tmp_path / "profile"), healthcheck_file=hc)
    spark.streams.addListener(listener)
    try:
        df = spark.createDataFrame([("a", 1, T0)], SCHEMA)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "hsrc"))
        stream = spark.readStream.schema(SCHEMA).parquet(str(tmp_path / "hsrc"))
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "hckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert os.path.exists(hc)  # touched on the query's events
    finally:
        spark.streams.removeListener(listener)


class _Ev:
    def __init__(self, qid):
        self.id = qid
        self.name = qid


def test_healthcheck_touch_is_debounced(tmp_path):
    """Events 0.5 s apart touch the healthcheck file once; an event 1.5 s
    after the first touches it again (the reference's 1/s debounce)."""
    t = {"now": 0.0}
    hc = tmp_path / "health"
    prof = QueryProfiler(str(tmp_path / "profile"), healthcheck_file=str(hc), clock=lambda: t["now"])
    prof.onQueryStarted(_Ev("q1"))
    assert hc.exists()
    hc.unlink()
    t["now"] = 0.5
    prof.onQueryIdle(_Ev("q1"))
    assert not hc.exists()
    t["now"] = 1.5
    prof.onQueryIdle(_Ev("q1"))
    assert hc.exists()
