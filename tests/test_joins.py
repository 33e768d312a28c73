"""Join operators: correlation, as-of, salting, streaming join, stateful buffer."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from arroyo_spark.operators import (
    asof_join,
    correlate_tool_calls,
    orphan_calls,
    salted_agg,
    stateful_buffer,
    stream_correlate,
)
from arroyo_spark.synth import tool_calls, transcripts

T0 = datetime(2024, 1, 1)


def test_correlate_tool_calls_batch(spark):
    t = transcripts(spark, 150, with_lineage=False).cache()
    c = tool_calls(t)
    out = correlate_tool_calls(t, c, how="left").cache()
    n_tool_turns = t.filter(F.col("role") == "tool").count()
    assert out.count() == n_tool_turns
    matched = out.filter(F.col("call_id").isNotNull())
    assert matched.count() == n_tool_turns  # every tool turn has its 1:1 call
    lat = matched.agg(F.min("latency_s"), F.max("latency_s")).collect()[0]
    assert 0 < lat[0] and lat[1] <= 60.0  # completion 0.1-60s after the turn
    t.unpersist()


def test_orphan_calls_detected(spark):
    t = transcripts(spark, 300, with_lineage=False).cache()
    c = tool_calls(t)
    orphans = orphan_calls(t, c)
    # orphans are generated with turn_idx >= 100000
    assert orphans.count() == c.filter(F.col("turn_idx") >= 100000).count()
    t.unpersist()


def test_asof_join_matches_latest_prior_row(spark):
    left = spark.createDataFrame(
        [("k", i, T0 + timedelta(seconds=10 * i)) for i in range(5)],
        "conv_id string, turn_idx int, ts timestamp",
    )
    right = spark.createDataFrame(
        [("k", T0 + timedelta(seconds=s), f"ev{s}") for s in (5, 25, 45)],
        "conv_id string, ts timestamp, event string",
    )
    out = asof_join(left, right, key="conv_id")
    got = {r.turn_idx: r.r_event for r in out.collect()}
    # turn at t=0 has no prior event; t=10,20 -> ev5; t=30,40 -> ev25
    assert got == {0: None, 1: "ev5", 2: "ev5", 3: "ev25", 4: "ev25"}


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame(
        [("k", 0, T0 + timedelta(seconds=100))], "conv_id string, turn_idx int, ts timestamp"
    )
    right = spark.createDataFrame(
        [("k", T0, "old")], "conv_id string, ts timestamp, event string"
    )
    assert asof_join(left, right).collect()[0].r_event == "old"
    assert asof_join(left, right, tolerance_s=50).collect()[0].r_event is None


def _merge_asof_per_key(left, right, key, right_cols, tie_breakers, tolerance_s=None):
    """Reference as-of join on ``ts``: ``pd.merge_asof`` per key group
    (cogroup + applyInPandas), which keeps the LAST right row at a
    timestamp once the right side is sorted by (ts, *tie_breakers)."""
    import pandas as pd

    # Re-alias every column (fresh expression IDs): when left and right
    # derive from the same source DataFrame, Spark's relation dedup fails to
    # remap pass-through attributes inside FlatMapCoGroupsInPandas and the
    # optimizer prunes the right side's ts from under the UDF.
    left = left.select([F.col(c).alias(c) for c in left.columns])
    right = right.select([F.col(c).alias(c) for c in right.columns])
    lcols, rnames = list(left.columns), [f"r_{c}" for c in right_cols]
    r_types = {f.name: f.dataType.simpleString() for f in right.schema.fields}
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in left.schema.fields]
        + [f"r_{c} {r_types[c]}" for c in right_cols]
    )

    def merge(lpdf, rpdf):
        if lpdf.empty or rpdf.empty:
            # no left rows, or a key only on the left: null matches
            return lpdf[lcols].assign(**{n: None for n in rnames})
        rpdf = rpdf.sort_values(["ts", *tie_breakers], kind="mergesort")
        merged = pd.merge_asof(
            lpdf.sort_values("ts", kind="mergesort"),
            rpdf.rename(columns=dict(zip(right_cols, rnames)))[["ts", *rnames]],
            on="ts",
            direction="backward",
            tolerance=pd.Timedelta(seconds=tolerance_s) if tolerance_s else None,
        )
        return merged[[*lcols, *rnames]]

    return left.groupBy(key).cogroup(right.groupBy(key)).applyInPandas(merge, schema=schema)


def test_asof_window_plan_equals_pandas_plan(spark):
    """The JVM window plan and the per-key pd.merge_asof reference must
    agree row-for-row (including keys with no right rows and tolerance)."""
    from arroyo_spark.synth import transcripts

    t = transcripts(spark, 30, partitions=4, with_lineage=False).cache()
    left = t.filter(F.col("role") == "assistant").select("conv_id", "turn_idx", "ts")
    right = t.filter(F.col("role") == "user").select(
        "conv_id", "ts", F.col("turn_idx").alias("u_turn")
    )
    for tol in (None, 20):
        a = asof_join(
            left, right, key="conv_id", right_cols=["u_turn"],
            tie_breakers=["u_turn"], tolerance_s=tol,
        )
        b = _merge_asof_per_key(left, right, "conv_id", ["u_turn"], ["u_turn"], tol)
        ka = sorted(map(tuple, a.collect()))
        kb = sorted(map(tuple, b.collect()))
        assert ka == kb, f"tolerance={tol}"
    t.unpersist()


def test_asof_join_tie_breaker_deterministic(spark):
    """Among right rows sharing a timestamp, the LAST in ascending
    tie-breaker order wins (matches an IGNORE-NULLS window oracle ordered
    by (ts, tie_breaker), and the pd.merge_asof reference)."""
    left = spark.createDataFrame(
        [("k", 0, T0 + timedelta(seconds=10))], "conv_id string, turn_idx int, ts timestamp"
    )
    right = spark.createDataFrame(
        [("k", T0, 7), ("k", T0, 3), ("k", T0, 9)],
        "conv_id string, ts timestamp, event_id int",
    )
    got = asof_join(left, right, key="conv_id", tie_breakers=["event_id"]).collect()[0]
    assert got.r_event_id == 9
    ref = _merge_asof_per_key(left, right, "conv_id", ["event_id"], ["event_id"]).collect()[0]
    assert ref.r_event_id == 9


def test_salted_agg_equals_plain_agg(spark):
    df = transcripts(spark, 500, with_lineage=False, hot_ratio=100, hot_turns=300)
    plain = {
        r.conv_id: (r.n, r.chars)
        for r in df.groupBy("conv_id")
        .agg(F.count("*").alias("n"), F.sum(F.length("text")).alias("chars"))
        .collect()
    }
    salted = {
        r.conv_id: (r.n, r.chars)
        for r in salted_agg(
            df,
            "conv_id",
            partial_aggs={"n_p": F.count("*"), "chars_p": F.sum(F.length("text"))},
            merge_aggs={"n": F.sum("n_p"), "chars": F.sum("chars_p")},
            n_salts=8,
        ).collect()
    }
    assert salted == plain


def test_stream_correlate_interval_join(spark, tmp_path):
    """Native stream-stream join delivers exactly the batch-join matches
    (calls within the delay window)."""
    t = transcripts(spark, 80, with_lineage=False).cache()
    c = tool_calls(t).filter(F.col("turn_idx") < 100000).cache()
    t.write.mode("overwrite").parquet(str(tmp_path / "turns"))
    c.write.mode("overwrite").parquet(str(tmp_path / "calls"))

    ts_stream = spark.readStream.schema(t.schema).parquet(str(tmp_path / "turns"))
    cs_stream = spark.readStream.schema(c.schema).parquet(str(tmp_path / "calls"))
    joined = stream_correlate(ts_stream, cs_stream, max_call_delay="2 minutes")
    q = (
        joined.writeStream.format("memory")
        .queryName("corr_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT conv_id, turn_idx, call_id FROM corr_out").collect()

    want = (
        t.filter(F.col("role") == "tool")
        .join(c, ["conv_id", "turn_idx"])
        .filter(
            (c["ts"] >= t["ts"]) & (c["ts"] <= t["ts"] + F.expr("INTERVAL 2 minutes"))
        )
        .select("conv_id", "turn_idx", "call_id")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0
    t.unpersist()
    c.unpersist()


def test_stateful_buffer_count_flush(spark, tmp_path):
    """Count-threshold flush across micro-batches (arroyo Reduce semantics
    with state surviving epoch boundaries)."""
    rows = [("k1", i, T0 + timedelta(seconds=i)) for i in range(7)] + [
        ("k2", i, T0 + timedelta(seconds=i)) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    src = str(tmp_path / "src")
    df.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    out = stateful_buffer(
        stream,
        keys=["conv_id"],
        fold=lambda key, pdf: {
            "conv_id": key[0],
            "n": len(pdf),
            "idx_sum": int(pdf.turn_idx.sum()),
        },
        out_schema="conv_id string, n long, idx_sum long",
        max_batch_size=3,
        max_batch_time_s=None,  # count-only: leftovers stay buffered
    )
    q = (
        out.writeStream.format("memory")
        .queryName("buf_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.conv_id, r.idx_sum): r.n for r in spark.sql("SELECT * FROM buf_out").collect()
    }
    # k1: 7 rows -> two flushes of 3 ({0,1,2} sum 3, {3,4,5} sum 12), 1 buffered
    # k2: 3 rows -> one flush ({0,1,2} sum 3)
    assert got == {("k1", 3): 3, ("k1", 12): 3, ("k2", 3): 3}
