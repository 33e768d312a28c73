"""Joins — turn<->tool-call correlation and skew handling.

The reference has NO joins (SURVEY.md §2.3): its only correlation primitive
is user code inside RunTask. The north_star adds a stateful conv_id-keyed
turn<->tool-call correlation; we implement it Spark-first:

- batch:   equi-join / as-of join (native, broadcast-aware)
- stream:  native stream-stream interval join with watermarks on both sides
           (state eviction is the watermark — no hand-rolled buffer), plus a
           generic applyInPandasWithState Buffer for non-join stateful folds
- skew:    explicit salting helpers (split hot conv_ids across S subkeys,
           partial-aggregate, de-salt merge) + AQE skew-join at runtime

Scale notes (100 TB): the equi-join shuffles on conv_id; hot conversations
(10^4 turns) are handled by `salted_agg` for aggregations and by AQE skew
splitting for joins. The as-of join sorts within conv_id groups only.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def correlate_tool_calls(
    turns: DataFrame,
    calls: DataFrame,
    how: str = "left",
) -> DataFrame:
    """Match tool turns to their completion calls on (conv_id, turn_idx).

    Returns one row per tool turn with call status/latency; orphan calls are
    recoverable via `orphan_calls`. Equi-join on the conversation key —
    co-partitioned with every other conv_id operation in the pipeline, so
    Catalyst reuses the exchange.
    """
    t = turns.filter(F.col("role") == "tool").select(
        "conv_id", "turn_idx", F.col("tool").alias("turn_tool"), F.col("ts").alias("turn_ts")
    )
    c = calls.select(
        "conv_id", "turn_idx", "call_id", "status", F.col("ts").alias("call_ts")
    )
    out = t.join(c, ["conv_id", "turn_idx"], how)
    return out.withColumn(
        "latency_s",
        (F.col("call_ts").cast("timestamp").cast("double") - F.col("turn_ts").cast("timestamp").cast("double")),
    )


def orphan_calls(turns: DataFrame, calls: DataFrame) -> DataFrame:
    """Calls with no matching turn (DLQ-routable) — left_anti join."""
    t = turns.select("conv_id", "turn_idx")
    return calls.join(t, ["conv_id", "turn_idx"], "left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    tolerance_s: float | None = None,
    right_cols: list[str] | None = None,
    tie_breakers: list[str] | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    right.ts <= left.ts within the same key.

    Output: every left column plus ``r_<c>`` for each right payload column
    (null when no right row qualifies).

    The plan is pure JVM: union-tag both sides, then
    ``last(struct(right cols), ignorenulls=True)`` over a
    (key ORDER BY ts, side, *tie_breakers) running window — one shuffle +
    sort, whole-stage-codegen'd, no per-group size cliff (a 10^6-turn bot
    conversation is just more rows in a sorted partition, never one giant
    Arrow batch). ``tie_breakers`` (right-side columns) make the pick
    deterministic among right rows sharing a timestamp: the LAST row in
    ascending tie-breaker order wins, matching both ``pd.merge_asof``'s
    latest-row semantics and a ``last_value(... IGNORE NULLS)`` SQL oracle
    ordered by (ts, *tie_breakers).
    """
    from pyspark.sql import Window as W

    rcols = right_cols or [c for c in right.columns if c not in (key, right_ts)]
    lcols = list(left.columns)
    tbs = tie_breakers or []

    l2 = left.withColumn("_side", F.lit(1)).withColumn("_ats", F.col(left_ts))
    r2 = right.select(
        F.col(key),
        F.lit(0).alias("_side"),
        F.col(right_ts).alias("_ats"),
        F.struct(F.col(right_ts).alias("_rts"), *[F.col(c) for c in rcols]).alias("_rpay"),
        *[F.col(c).alias(f"_tb{i}") for i, c in enumerate(tbs)],
    )
    u = l2.unionByName(r2, allowMissingColumns=True)
    w = (
        W.partitionBy(key)
        .orderBy(F.col("_ats").asc(), F.col("_side").asc(), *[f"_tb{i}" for i in range(len(tbs))])
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = u.withColumn("_match", F.last("_rpay", ignorenulls=True).over(w))
    if tolerance_s is not None:
        in_window = (
            F.col("_ats").cast("timestamp").cast("double")
            - F.col("_match._rts").cast("timestamp").cast("double")
        ) <= F.lit(float(tolerance_s))
        filled = filled.withColumn("_match", F.when(in_window, F.col("_match")))
    return filled.filter(F.col("_side") == 1).select(
        *lcols, *[F.col(f"_match.{c}").alias(f"r_{c}") for c in rcols]
    )


# ---------------------------------------------------------------------------
# Skew handling: explicit salting (north_rule: "skewed conversations are
# salted and AQE-rebalanced")
# ---------------------------------------------------------------------------
def salted_agg(
    df: DataFrame,
    key: str,
    partial_aggs: dict[str, Column],
    merge_aggs: dict[str, Column],
    n_salts: int = 16,
    salt_by: str | None = None,
) -> DataFrame:
    """Two-phase aggregation over a skewed key.

    Phase 1 groups by (key, salt) — hot keys split across n_salts reducers;
    phase 2 merges the partials per key. For algebraic aggregates Spark's own
    partial aggregation already does this; use salted_agg when the aggregate
    is holistic (collect/percentile) or the merge differs from the partial.

    salt_by: column whose hash picks the salt (defaults to a per-row hash of
    all columns — deterministic, no rand()).
    """
    salt_src = F.col(salt_by) if salt_by else F.concat_ws("\x00", *df.columns)
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(salt_src), F.lit(n_salts)))
    phase1 = salted.groupBy(key, "_salt").agg(
        *[c.alias(name) for name, c in partial_aggs.items()]
    )
    return phase1.groupBy(key).agg(*[c.alias(name) for name, c in merge_aggs.items()])


def stream_correlate(
    turns_stream: DataFrame,
    calls_stream: DataFrame,
    watermark: str = "10 minutes",
    max_call_delay: str = "2 minutes",
) -> DataFrame:
    """Streaming turn<->call correlation: native stream-stream join.

    Both sides watermarked; the interval condition bounds the join state —
    Spark evicts buffered turns/calls once the watermark passes
    ts + max_call_delay. This replaces a hand-rolled applyInPandasWithState
    buffer with the engine-native stateful join (state store, checkpointed,
    exactly-once with our sink).
    """
    t = (
        turns_stream.filter(F.col("role") == "tool")
        .select("conv_id", "turn_idx", F.col("tool").alias("turn_tool"), F.col("ts").alias("turn_ts"))
        .withWatermark("turn_ts", watermark)
    )
    c = calls_stream.select(
        "conv_id", "turn_idx", "call_id", "status", F.col("ts").alias("call_ts")
    ).withWatermark("call_ts", watermark)
    cond = (
        (t["conv_id"] == c["conv_id"])
        & (t["turn_idx"] == c["turn_idx"])
        & (c["call_ts"] >= t["turn_ts"])
        & (c["call_ts"] <= t["turn_ts"] + F.expr(f"INTERVAL {max_call_delay}"))
    )
    return t.join(c, cond, "inner").select(
        t["conv_id"], t["turn_idx"], "turn_tool", "turn_ts", "call_id", "status", "call_ts"
    )
