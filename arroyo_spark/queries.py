"""Named queries for the driver's correctness gate + bench.

Each query has a Spark implementation (built on arroyo_spark.operators) and
a DuckDB-dialect oracle SQL over the same parquet tables. Column names are
aligned 1:1 between both sides; timestamps are emitted as epoch seconds and
floating sums as decimals so the value-hash comparison is deterministic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arroyo_spark.functions import (
    fingerprint64,
    lang_id,
    normalize_text,
    quality_score,
    token_count,
    word_tokens,
)
from arroyo_spark.operators import (
    batch_step,
    count_reduce,
    filter_step,
    reduce_window,
    run_task,
    session_reduce_batch,
    sliding_window,
    unfold,
)
from arroyo_spark.sources import load_table, transcripts_from_events

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# SQL fragment shared by every transcript query's oracle (DuckDB dialect —
# identical semantics to arroyo_spark.sources.transcripts_from_events).
TRANSCRIPTS_CTE = """
WITH transcripts AS (
  SELECT
    concat('conv-', lpad(cast(user_id AS varchar), 8, '0')) AS conv_id,
    cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS int) AS turn_idx,
    CASE event_type
      WHEN 'view' THEN 'user' WHEN 'click' THEN 'assistant'
      WHEN 'purchase' THEN 'assistant' WHEN 'signup' THEN 'system'
      ELSE 'tool' END AS role,
    concat(event_type, ' ', props) AS text,
    CASE WHEN event_type = 'error' THEN
      CASE cast(event_id % 4 AS int)
        WHEN 0 THEN 'search' WHEN 1 THEN 'python' WHEN 2 THEN 'bash' ELSE 'sql' END
    END AS tool,
    ts
  FROM events
)
"""


# ---------------------------------------------------------------------------
# Flagship: Reduce -> tumbling-window per-conversation turn aggregation
# (arroyo Reduce #5 over the transcript stream)
# ---------------------------------------------------------------------------
@query(
    "reduce_tumbling",
    TRANSCRIPTS_CTE
    + """
SELECT
  conv_id,
  cast(epoch(time_bucket(INTERVAL '1 hour', ts)) AS bigint) AS win_start,
  count(*) AS n_turns,
  count(DISTINCT tool) AS n_tools,
  max(turn_idx) AS max_turn_idx,
  cast(sum(length(text)) AS bigint) AS total_chars
FROM transcripts
GROUP BY 1, 2
""",
)
def q_reduce_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    out = reduce_window(
        t,
        "1 hour",
        aggs={
            "n_turns": F.count(F.lit(1)),
            "n_tools": F.countDistinct("tool"),
            "max_turn_idx": F.max("turn_idx"),
            "total_chars": F.sum(F.length("text")),
        },
        keys=["conv_id"],
    )
    return out.select(
        "conv_id",
        F.unix_timestamp(F.col("win.start")).alias("win_start"),
        "n_turns",
        "n_tools",
        "max_turn_idx",
        "total_chars",
    )


# ---------------------------------------------------------------------------
# Sliding window (Reduce with overlapping windows)
# ---------------------------------------------------------------------------
@query(
    "reduce_sliding",
    """
SELECT
  cast(epoch(bucket_start) AS bigint) AS win_start,
  event_type,
  count(*) AS n,
  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
FROM (
  SELECT e.*,
         time_bucket(INTERVAL '30 minutes', e.ts)
           - to_minutes(30 * s.shift) AS bucket_start
  FROM events e
  CROSS JOIN (SELECT unnest(range(2)) AS shift) s
  WHERE e.ts >= bucket_start AND e.ts < bucket_start + INTERVAL '60 minutes'
)
GROUP BY 1, 2
""",
)
def q_reduce_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    out = sliding_window(
        e,
        "60 minutes",
        "30 minutes",
        aggs={
            "n": F.count(F.lit(1)),
            # decimal sum is exact+order-independent; one final cast to double
            # matches DuckDB's widened DECIMAL(38,2)->float64 pandas rendering
            "total_value": F.sum(F.col("value").cast("decimal(18,2)")).cast("double"),
        },
        keys=["event_type"],
    )
    return out.select(
        F.unix_timestamp(F.col("win.start")).alias("win_start"),
        "event_type",
        "n",
        "total_value",
    )


# ---------------------------------------------------------------------------
# Sessionization (session-window Reduce, batch form: gaps-and-islands)
# ---------------------------------------------------------------------------
@query(
    "session_reduce",
    TRANSCRIPTS_CTE
    + """
, flagged AS (
  SELECT conv_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800 THEN 1 ELSE 0 END AS new_s
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts)
), sess AS (
  SELECT conv_id, ts,
    sum(new_s) OVER (PARTITION BY conv_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT conv_id, cast(session_id AS bigint) AS session_id, count(*) AS n_turns,
       cast(floor(epoch(min(ts))) AS bigint) AS session_start_s,
       cast(floor(epoch(max(ts))) AS bigint) AS session_end_s
FROM sess GROUP BY 1, 2
""",
)
def q_session_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    out = session_reduce_batch(t, 1800, aggs={"n_turns": F.count(F.lit(1))}, keys=["conv_id"])
    return out.select(
        "conv_id",
        F.col("session_id").cast("long").alias("session_id"),
        "n_turns",
        F.unix_timestamp("session_start").alias("session_start_s"),
        F.unix_timestamp("session_end").alias("session_end_s"),
    )


# ---------------------------------------------------------------------------
# Count-bounded Reduce (the test_reduce golden shape, on the events stream):
# per-partition batches of 100 messages in offset order
# ---------------------------------------------------------------------------
@query(
    "count_reduce",
    """
WITH src AS (
  SELECT cast(user_id % 8 AS int) AS partition,
         cast(row_number() OVER (PARTITION BY user_id % 8 ORDER BY ts, event_id) - 1 AS bigint)
           AS "offset",
         value
  FROM events
)
SELECT partition, cast("offset" // 100 AS bigint) AS batch_id,
       count(*) AS n,
       cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value,
       max("offset") + 1 AS next_offset
FROM src GROUP BY 1, 2
""",
)
def q_count_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    src = e.withColumn("partition", (F.col("user_id") % 8).cast("int")).withColumn(
        "offset",
        F.row_number().over(W.partitionBy("partition").orderBy("ts", "event_id")).cast("long") - 1,
    )
    return count_reduce(
        src,
        100,
        aggs={
            "n": F.count(F.lit(1)),
            "total_value": F.sum(F.col("value").cast("decimal(18,2)")).cast("double"),
        },
    )


# ---------------------------------------------------------------------------
# BatchStep: ordered per-window batches; verify via batch sizes + first text
# ---------------------------------------------------------------------------
@query(
    "batch_step",
    TRANSCRIPTS_CTE
    + """
SELECT conv_id,
       cast(epoch(time_bucket(INTERVAL '6 hours', ts)) AS bigint) AS win_start,
       count(*) AS batch_size,
       min(turn_idx) AS first_turn
FROM transcripts
GROUP BY 1, 2
""",
)
def q_batch_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts_from_events(spark, sf_dir)
    out = batch_step(t, "6 hours", keys=["conv_id"], payload_cols=["turn_idx", "role", "text"])
    return out.select(
        "conv_id",
        F.unix_timestamp(F.col("win.start")).alias("win_start"),
        "batch_size",
        F.col("batch")[0]["turn_idx"].alias("first_turn"),
    )


# ---------------------------------------------------------------------------
# RunTask + FilterStep: normalized text features over documents
# ---------------------------------------------------------------------------
@query(
    "run_task_text_features",
    r"""
WITH norm AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                        '\s+', ' ', 'g')) AS norm_text
  FROM documents WHERE n_chars >= 50
)
SELECT doc_id, norm_text,
  CASE WHEN norm_text = '' THEN 0
       ELSE length(norm_text) - length(replace(norm_text, ' ', '')) + 1
  END AS n_tokens
FROM norm
""",
)
def q_run_task_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    d = filter_step(d, F.col("n_chars") >= 50)
    d = run_task(d, norm_text=normalize_text("text"), n_tokens=token_count("text"))
    return d.select("doc_id", "norm_text", "n_tokens")


# ---------------------------------------------------------------------------
# Unfold: explode token arrays -> global term frequencies
# ---------------------------------------------------------------------------
@query(
    "unfold_tokens",
    r"""
SELECT tok, count(*) AS freq
FROM (
  SELECT unnest(string_split(
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                        '\s+', ' ', 'g')), ' ')) AS tok
  FROM documents
)
WHERE tok <> ''
GROUP BY 1
""",
)
def q_unfold_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = unfold(d, word_tokens("text"), alias="tok", keep=[])
    return toks.filter(F.col("tok") != "").groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))


# ---------------------------------------------------------------------------
# Relational coverage: TPC-H-style aggregation and join (scan pushdown,
# broadcast join, partial aggregation — Catalyst-native)
# ---------------------------------------------------------------------------
@query(
    "tpch_q1_pricing",
    """
SELECT l_returnflag, l_linestatus,
  cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
  cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS sum_base_price,
  cast(sum(cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2)))) AS double) AS sum_disc_price,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
""",
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "join_revenue_by_nation",
    """
SELECT n.n_name AS nation,
       cast(sum(cast(l.l_extendedprice AS decimal(18,2)) * (1 - cast(l.l_discount AS decimal(18,2)))) AS double) AS revenue,
       count(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1
""",
)
def q_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    dec = lambda col: F.col(col).cast("decimal(18,2)")  # noqa: E731
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions: top-3 turns per conversation by text length
# ---------------------------------------------------------------------------
@query(
    "topk_per_conv",
    TRANSCRIPTS_CTE
    + """
SELECT conv_id, turn_idx, len FROM (
  SELECT conv_id, turn_idx, length(text) AS len,
         row_number() OVER (PARTITION BY conv_id ORDER BY length(text) DESC, turn_idx) AS rn
  FROM transcripts
) WHERE rn <= 3
""",
)
def q_topk_per_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = transcripts_from_events(spark, sf_dir)
    w = W.partitionBy("conv_id").orderBy(F.length("text").desc(), "turn_idx")
    return (
        t.withColumn("len", F.length("text"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("conv_id", "turn_idx", "len")
    )


# ---------------------------------------------------------------------------
# Text analysis: quality score + lang id + fingerprint over documents
# ---------------------------------------------------------------------------
@query(
    "doc_fingerprints",
    """
SELECT doc_id,
       cast(('0x' || substring(md5(text), 1, 15))::bigint AS bigint) AS fp,
       n_chars
FROM documents
""",
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint64("text").alias("fp"), "n_chars")


# ---------------------------------------------------------------------------
# Dedup (exact): group identical normalized text, keep min doc_id
# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    r"""
WITH norm AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                        '\s+', ' ', 'g')) AS norm_text
  FROM documents
)
SELECT norm_text, min(doc_id) AS keep_doc_id, count(*) AS dup_count
FROM norm GROUP BY 1
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", normalize_text("text").alias("norm_text"))
        .groupBy("norm_text")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("dup_count"))
    )


# ---------------------------------------------------------------------------
# As-of join: each purchase matched to the user's latest prior click
# (merge_asof per group vs an IGNORE-NULLS window oracle)
# ---------------------------------------------------------------------------
@query(
    "asof_purchase_click",
    """
WITH tagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'click' THEN event_id END AS click_id,
         event_type
  FROM events WHERE event_type IN ('purchase', 'click')
), filled AS (
  SELECT user_id, ts, event_id, event_type,
         last_value(click_id IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r_click_event_id
  FROM tagged
)
SELECT event_id AS purchase_event_id, user_id, r_click_event_id
FROM filled WHERE event_type = 'purchase'
""",
)
def q_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arroyo_spark.operators import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_event_id"), "ts"
    )
    out = asof_join(
        purchases,
        clicks,
        key="user_id",
        right_cols=["click_event_id"],
        tie_breakers=["click_event_id"],
    )
    return out.select(
        F.col("event_id").alias("purchase_event_id"), "user_id", "r_click_event_id"
    )


# ---------------------------------------------------------------------------
# Salted two-phase aggregation over the skewed conversation key — must be
# indistinguishable from a plain GROUP BY (the oracle)
# ---------------------------------------------------------------------------
@query(
    "salted_agg_conv",
    TRANSCRIPTS_CTE
    + """
SELECT conv_id, count(*) AS n_turns, cast(sum(length(text)) AS bigint) AS total_chars
FROM transcripts GROUP BY 1
""",
)
def q_salted_agg_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arroyo_spark.operators import salted_agg

    t = transcripts_from_events(spark, sf_dir)
    return salted_agg(
        t,
        "conv_id",
        partial_aggs={"n_p": F.count(F.lit(1)), "c_p": F.sum(F.length("text"))},
        merge_aggs={"n_turns": F.sum("n_p"), "total_chars": F.sum("c_p")},
        n_salts=8,
        salt_by="turn_idx",
    )


# ---------------------------------------------------------------------------
# Anti/semi joins (set-op coverage)
# ---------------------------------------------------------------------------
@query(
    "anti_join_orders",
    """
SELECT o.o_orderkey, o.o_totalprice
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
)
""",
)
def q_anti_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_anti").select(
        "o_orderkey", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: text quality + language id
# ---------------------------------------------------------------------------
@query(
    "text_quality_langid",
    r"""
WITH norm AS (
  SELECT doc_id, text,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                        '\s+', ' ', 'g')) AS nt
  FROM documents
), feat AS (
  SELECT doc_id, text, nt,
    cast(length(text) AS double) AS n,
    cast(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS double) AS alpha,
    CASE WHEN nt = '' THEN 0
         ELSE length(nt) - length(replace(nt, ' ', '')) + 1 END AS ntok,
    string_split(nt, ' ') AS toks
  FROM norm
)
SELECT doc_id,
  0.4 * least(n / 500.0, 1.0)
  + 0.4 * (CASE WHEN n > 0 THEN alpha / n ELSE 0.0 END)
  + 0.2 * least((CASE WHEN ntok > 0 THEN alpha / ntok ELSE 0.0 END) / 8.0, 1.0)
    AS quality,
  CASE
    WHEN greatest(
      len(list_filter(toks, t -> list_contains(['the','and','of','to','is','in','that','it'], t))),
      len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], t))),
      len(list_filter(toks, t -> list_contains(['le','la','les','et','est','un','une','que'], t)))
    ) = 0 THEN 'unknown'
    WHEN len(list_filter(toks, t -> list_contains(['the','and','of','to','is','in','that','it'], t))) = greatest(
      len(list_filter(toks, t -> list_contains(['the','and','of','to','is','in','that','it'], t))),
      len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], t))),
      len(list_filter(toks, t -> list_contains(['le','la','les','et','est','un','une','que'], t)))
    ) THEN 'en'
    WHEN len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], t))) = greatest(
      len(list_filter(toks, t -> list_contains(['the','and','of','to','is','in','that','it'], t))),
      len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','ein','zu'], t))),
      len(list_filter(toks, t -> list_contains(['le','la','les','et','est','un','une','que'], t)))
    ) THEN 'de'
    ELSE 'fr'
  END AS lang
FROM feat
""",
)
def q_text_quality_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arroyo_spark.operators.map import _spread

    # r6: the quality/lang-id projection is the dominant per-row cost and
    # previously ran at scan parallelism (a single small parquet file = 2
    # splits, 2 busy cores of 32) — _spread is a no-op at cluster scale
    d = _spread(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", quality_score("text").alias("quality"), lang_id("text").alias("lang"))


@query(
    "text_boilerplate_strip",
    """
WITH raw AS (
  SELECT doc_id, concat_ws(chr(10), text,
    'Copyright 2024 Example Corp. All Rights Reserved.',
    CASE WHEN doc_id % 2 = 0 THEN 'Cookie Policy applies to this page' END,
    'genuine closing line of content') AS t
  FROM documents
), lines AS (
  SELECT doc_id, string_split(t, chr(10)) AS ls FROM raw
)
SELECT doc_id,
  array_to_string(list_filter(ls, x -> NOT (
    contains(lower(x), 'copyright') OR contains(lower(x), 'all rights reserved')
    OR contains(lower(x), 'terms of service') OR contains(lower(x), 'cookie')
    OR contains(lower(x), 'subscribe'))), chr(10)) AS clean_text,
  cast(len(ls) - len(list_filter(ls, x -> NOT (
    contains(lower(x), 'copyright') OR contains(lower(x), 'all rights reserved')
    OR contains(lower(x), 'terms of service') OR contains(lower(x), 'cookie')
    OR contains(lower(x), 'subscribe')))) AS int) AS n_boiler
FROM lines
""",
)
def q_text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-line removal (VERDICT r4 #8) — documents get synthetic
    boilerplate lines appended (concat_ws skips the NULL conditional line
    in BOTH engines), then the marker filter strips them JVM-side."""
    from arroyo_spark.functions.text import boilerplate_line_count, strip_boilerplate
    from arroyo_spark.operators.map import _spread

    # r6: interpreted line-filter HOFs at 2-split scan parallelism -> spread
    d = _spread(load_table(spark, sf_dir, "documents"))
    raw = F.concat_ws(
        "\n",
        F.col("text"),
        F.lit("Copyright 2024 Example Corp. All Rights Reserved."),
        F.when(F.col("doc_id") % 2 == 0, F.lit("Cookie Policy applies to this page")),
        F.lit("genuine closing line of content"),
    )
    return d.select(
        "doc_id",
        strip_boilerplate(raw).alias("clean_text"),
        boilerplate_line_count(raw).alias("n_boiler"),
    )


@query(
    "text_ngram_entropy",
    """
WITH g AS (
  SELECT doc_id,
    CASE WHEN length(text) >= 2
      THEN list_transform(range(1, length(text)),
                          i -> substring(text, cast(i AS int), 2))
      ELSE []::VARCHAR[] END AS grams
  FROM documents
), c AS (
  SELECT doc_id, cast(len(grams) AS double) AS total,
    list_transform(list_sort(list_distinct(grams)),
                   g2 -> cast(len(list_filter(grams, x -> x = g2)) AS double)) AS counts
  FROM g
)
SELECT doc_id,
  round(CASE WHEN total > 0
    THEN ln(total) - list_reduce(
           list_prepend(cast(0.0 AS double),
                        list_transform(counts, c2 -> c2 * ln(c2))),
           (a, b) -> a + b) / total
    ELSE 0.0 END, 9) AS bigram_entropy
FROM c
""",
)
def q_text_ngram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-bigram Shannon entropy (perplexity proxy, VERDICT r4 #8).
    Identical left-to-right fold over sorted distinct grams in both
    engines; 9-decimal round absorbs JVM-vs-libm ln() ulps."""
    from arroyo_spark.functions.text import char_ngram_entropy
    from arroyo_spark.operators.map import _spread

    # the Arrow entropy kernel would run on the scan's 2 splits -> spread
    d = _spread(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id", char_ngram_entropy("text", 2).alias("bigram_entropy")
    )


@query(
    "text_pii_redaction",
    r"""
WITH raw AS (
  SELECT doc_id,
    concat(text, ' Contact: user', cast(doc_id AS varchar),
           '@example.com phone 555-123-4567 ssn 123-45-6789.') AS t
  FROM documents
)
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(t,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
      '\b\d{3}[- .]\d{3}[- .]\d{4}\b', '<PHONE>', 'g') AS redacted
FROM raw
""",
)
def q_text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-pattern redaction (VERDICT r4 #8): deterministic synthetic PII
    (email carrying doc_id, phone, SSN) appended to every document, then
    redacted with the shared RE2-and-Java-safe patterns. Spark and DuckDB
    replace identical spans."""
    from arroyo_spark.functions.text import redact_pii
    from arroyo_spark.operators.map import _spread

    # r6: three regexp_replace passes per row at 2-split scan parallelism
    d = _spread(load_table(spark, sf_dir, "documents"))
    raw = F.concat(
        F.col("text"),
        F.lit(" Contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com phone 555-123-4567 ssn 123-45-6789."),
    )
    return d.select("doc_id", redact_pii(raw).alias("redacted"))


# ---------------------------------------------------------------------------
# Dedup: MinHash signatures -> LSH bands (the full signature pipeline is
# oracle-checked; candidate pairs follow deterministically from the bands)
# ---------------------------------------------------------------------------
_SHINGLES_SQL = r"""
WITH norm AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                        '\s+', ' ', 'g')) AS nt
  FROM documents
), toks AS (
  SELECT doc_id, string_split(nt, ' ') AS t FROM norm WHERE nt <> ''
), sh AS (
  SELECT doc_id,
    unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM toks WHERE len(t) >= 3
)"""

_MINHASH_SQL_PRELUDE = _SHINGLES_SQL + r""", based AS (
  SELECT doc_id,
         ('0x' || substring(md5(shingle), 1, 15))::bigint AS h1,
         ('0x' || substring(md5(shingle), 17, 14))::bigint AS h2
  FROM sh
), perms AS (
  SELECT doc_id, h1, h2, unnest(range(8)) AS perm FROM based
), sig AS (
  SELECT doc_id, cast(perm AS int) AS perm,
    min((h1 + perm * h2) % (1::bigint << 60)) AS minhash
  FROM perms GROUP BY 1, 2
)
"""


@query(
    "minhash_lsh_bands",
    _MINHASH_SQL_PRELUDE
    + """
SELECT doc_id, cast(perm // 4 AS int) AS band,
       md5(string_agg(cast(minhash AS varchar), ',' ORDER BY perm)) AS band_key
FROM sig GROUP BY 1, 2
""",
)
def q_minhash_lsh_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arroyo_spark.operators.dedup import lsh_bands, minhash_signatures

    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(d, "doc_id", "text", n_perm=8)
    return lsh_bands(sig, "doc_id", band_size=4)


@query(
    "dedup_minhash_candidates",
    _MINHASH_SQL_PRELUDE
    + """
, bands AS (
  SELECT doc_id, cast(perm // 4 AS int) AS band,
         md5(string_agg(cast(minhash AS varchar), ',' ORDER BY perm)) AS band_key
  FROM sig GROUP BY 1, 2
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id
""",
)
def q_dedup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arroyo_spark.operators.dedup import minhash_candidates

    d = load_table(spark, sf_dir, "documents")
    return minhash_candidates(d, "doc_id", "text", n_perm=8, band_size=4)


@query(
    "dedup_simhash",
    r"""
WITH norm AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                        '\s+', ' ', 'g')) AS nt
  FROM documents
), toks AS (
  SELECT doc_id, unnest(string_split(nt, ' ')) AS tok FROM norm WHERE nt <> ''
), hashed AS (
  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::bigint AS h FROM toks
), bits AS (
  SELECT doc_id, cast(j AS int) AS j, ((h >> cast(j AS int)) & 1) * 2 - 1 AS c
  FROM hashed CROSS JOIN (SELECT unnest(range(16)) AS j)
), votes AS (
  SELECT doc_id, j, sum(c) AS v FROM bits GROUP BY 1, 2
)
SELECT doc_id,
       cast(sum(CASE WHEN v > 0 THEN (1::bigint << j) ELSE 0 END) AS bigint) AS simhash
FROM votes GROUP BY 1
""",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arroyo_spark.operators.dedup import simhash

    d = load_table(spark, sf_dir, "documents").filter(
        F.trim(normalize_text("text")) != ""
    )
    return simhash(d, "doc_id", "text", bits=16)


@query(
    "dedup_ngram_jaccard",
    _SHINGLES_SQL
    + """
, dsh AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id < 1000),
counts AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM dsh a JOIN dsh b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT id_a, id_b,
       n_inter / (ca.n_sh + cb.n_sh - n_inter) AS jaccard
FROM inter
JOIN counts ca ON ca.doc_id = id_a
JOIN counts cb ON cb.doc_id = id_b
WHERE n_inter / (ca.n_sh + cb.n_sh - n_inter) >= 0.2
""",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arroyo_spark.operators.dedup import ngram_jaccard_pairs

    # exact-Jaccard is the quadratic VERIFIER: bounded to 1000 docs (a no-op
    # at the sf0.01 gate; caps bench cost at sf0.1+). The scale path for full
    # corpora is minhash_candidates >> jaccard-on-candidates.
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.2)


# ---------------------------------------------------------------------------
# Similarity search: exact brute-force cosine top-k (oracle bit-identical:
# both engines fold the dot product sequentially over double arrays)
# ---------------------------------------------------------------------------
@query(
    "ann_cosine_topk",
    """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
), scored AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_dot_product(q.e, b.e) / (q.nrm * b.nrm) AS cosine
  FROM v q JOIN v b ON q.vec_id <> b.vec_id
  WHERE q.vec_id < 1000
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
""",
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arroyo_spark.operators.similarity import cosine_topk_blocked

    # brute force is the exact VERIFIER: query side bounded to 1000 vectors.
    # blocked kernel = dimension-axis numpy accumulation, bit-identical to
    # the JVM HOF fold / DuckDB list_dot_product (same IEEE association)
    # but ~6x faster; the scale paths are lsh_ann_topk / ivf_ann_topk
    e = load_table(spark, sf_dir, "embeddings")
    # dim=64 is the embeddings-table contract (TESTDATA.md) — passing it
    # explicitly skips one .first() driver job per operator (ADVICE r4 #4)
    return cosine_topk_blocked(e, queries=e.filter(F.col("vec_id") < 1000), k=5, dim=64)


# ---------------------------------------------------------------------------
# Multimodal plumbing: opaque binary payload metadata (oracle-checkable);
# the Arrow-batched feature extraction itself is covered rows-only + pytest
# ---------------------------------------------------------------------------
@query(
    "multimodal_meta",
    """
SELECT doc_id,
       4 * octet_length(from_hex(md5(text))) AS n_bytes,
       ('0x' || substring(md5(concat('0#', text)), 1, 2))::int AS first_byte
FROM documents
""",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arroyo_spark.operators.multimodal import attach_fake_media

    d = load_table(spark, sf_dir, "documents")
    media = attach_fake_media(d)
    return media.select(
        "doc_id",
        "n_bytes",
        F.conv(F.hex(F.expr("substring(media, 1, 1)")), 16, 10).cast("int").alias("first_byte"),
    )


# ---------------------------------------------------------------------------
# Relational completeness: rollup, pivot, set ops, exact percentile
# ---------------------------------------------------------------------------
@query(
    "rollup_revenue",
    """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
       count(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@query(
    "pivot_events_by_type",
    """
SELECT user_id,
  cast(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS bigint) AS n_view,
  cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS bigint) AS n_click,
  cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bigint) AS n_purchase,
  cast(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS bigint) AS n_signup,
  cast(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS bigint) AS n_error
FROM events GROUP BY 1
""",
)
def q_pivot_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    types = ["view", "click", "purchase", "signup", "error"]
    out = e.groupBy("user_id").pivot("event_type", types).count()
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types]
    )


@query(
    "setops_active_users",
    """
SELECT user_id FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error' AND value > 95
""",
)
def q_setops_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    buyers = e.filter(F.col("event_type") == "purchase").select("user_id")
    clickers = e.filter(F.col("event_type") == "click").select("user_id")
    heavy_err = e.filter((F.col("event_type") == "error") & (F.col("value") > 95)).select(
        "user_id"
    )
    return buyers.intersect(clickers).exceptAll(heavy_err).distinct()


@query(
    "percentile_doc_lengths",
    """
SELECT source,
       cast(quantile_cont(n_chars, 0.5) AS double) AS p50,
       cast(quantile_cont(n_chars, 0.9) AS double) AS p90,
       max(n_chars) AS max_chars
FROM documents GROUP BY 1
""",
)
def q_percentile_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.percentile("n_chars", 0.5).alias("p50"),
        F.percentile("n_chars", 0.9).alias("p90"),
        F.max("n_chars").alias("max_chars"),
    )


def _lsh_bucket_sql(n_planes: int = 8, dim: int = 64, seed: int = 0) -> str:
    """SQL expression for the sign-hyperplane bucket: the ±1 weights are
    md5-derived driver-side constants (same values Spark bakes in as
    literals), embedded here as DOUBLE[] list literals. list_dot_product
    folds left-to-right — bit-identical to Spark's statically expanded
    projection sum."""
    from arroyo_spark.operators.similarity import hyperplane_weight

    terms = []
    for p in range(n_planes):
        w = ", ".join(f"{hyperplane_weight(seed, p, d):.1f}" for d in range(dim))
        terms.append(f"(CASE WHEN list_dot_product(e, [{w}]) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


@query(
    "lsh_ann_topk",
    f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
), vb AS (
  SELECT vec_id, e, nrm, cast({_lsh_bucket_sql(8, 64)} AS int) AS bucket FROM v
  QUALIFY count(*) OVER (PARTITION BY bucket) <= 10000
), scored AS (
  SELECT q.vec_id AS query_id, q.bucket AS bucket, b.vec_id AS neighbor_id,
         list_dot_product(q.e, b.e) / (q.nrm * b.nrm) AS cosine
  FROM vb q JOIN vb b ON q.bucket = b.bucket AND q.vec_id <> b.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, bucket, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
""",
)
def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN scale path: sign-LSH buckets + exact cosine rank within each
    bucket. Oracle-checkable because the hyperplanes are ±1 literal
    constants on both engines (same md5-derived weights, same sequential
    dot-product fold)."""
    from arroyo_spark.operators.similarity import lsh_ann_topk

    e = load_table(spark, sf_dir, "embeddings")
    return lsh_ann_topk(e, k=5, n_planes=8, dim=64)


@query(
    "incremental_ann_topk",
    f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
), vb AS (
  SELECT vec_id, e, nrm, cast({_lsh_bucket_sql(8, 64)} AS int) AS bucket FROM v
  QUALIFY count(*) OVER (PARTITION BY bucket) <= 10000
), scored AS (
  SELECT q.vec_id AS query_id, q.bucket AS bucket, b.vec_id AS neighbor_id,
         list_dot_product(q.e, b.e) / (q.nrm * b.nrm) AS cosine
  FROM vb q JOIN vb b ON q.bucket = b.bucket AND q.vec_id <> b.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, bucket, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
""",
)
def q_incremental_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING-built ANN index, batch-oracle-checked: the embeddings
    corpus arrives in 3 epochs through the exactly-once sink
    (``incremental_ann_sink`` — each epoch appends its sign-LSH index rows,
    compaction fires mid-run), then ``ann_query_topk`` queries the
    committed store with the full corpus. Equal by construction to batch
    ``lsh_ann_topk``, so the oracle is the SAME SQL — a streaming
    composition holding a hash-exact SQL contract. The result is
    materialized (localCheckpoint) so the temp index can be removed
    before returning."""
    import shutil
    import tempfile

    from arroyo_spark.streaming.incremental import ann_query_topk, incremental_ann_sink
    from arroyo_spark.streaming.ledger import OffsetsLedger

    e = load_table(spark, sf_dir, "embeddings")
    tmp = tempfile.mkdtemp(prefix="inc_ann_")
    try:
        ledger = OffsetsLedger(tmp, "ann")
        sink = incremental_ann_sink(
            f"{tmp}/index", ledger, n_planes=8, dim=64, compact_every=2
        )
        for i in range(3):  # deterministic 3-way epoch split
            sink(e.filter(F.pmod(F.col("vec_id"), F.lit(3)) == i), i)
        return ann_query_topk(
            sink, spark, e, k=5, n_planes=8, dim=64
        ).localCheckpoint(eager=True)
    finally:  # don't leak the temp index when an epoch/query raises
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "ivf_ann_topk",
    """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
), c AS (
  SELECT vec_id AS cell, e AS ce, nrm AS cn FROM v ORDER BY vec_id LIMIT 128
), assign AS (
  SELECT v.vec_id, c.cell, v.e, v.nrm,
         row_number() OVER (PARTITION BY v.vec_id
           ORDER BY list_dot_product(v.e, c.ce) / (v.nrm * c.cn) DESC, c.cell) AS pr
  FROM v CROSS JOIN c
), base AS (
  SELECT vec_id AS neighbor_id, cell, e AS be, nrm AS bn FROM assign WHERE pr = 1
), probes AS (
  SELECT vec_id AS query_id, cell, e AS qe, nrm AS qn FROM assign WHERE pr <= 2
), scored AS (
  SELECT p.query_id, b.neighbor_id,
         list_dot_product(p.qe, b.be) / (p.qn * b.bn) AS cosine
  FROM probes p JOIN base b ON p.cell = b.cell AND p.query_id <> b.neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
""",
)
def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN scale path: broadcast coarse-quantize into 128 cells, search
    the 2 closest cells per query, exact re-rank within candidates."""
    from arroyo_spark.operators.similarity import ivf_ann_topk

    e = load_table(spark, sf_dir, "embeddings")
    return ivf_ann_topk(e, k=5, n_cells=128, n_probe=2, dim=64)


@query(
    "pq_ann_topk",
    """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
), cb AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, e AS ce
  FROM v ORDER BY vec_id LIMIT 64
), enc AS (
  SELECT v.vec_id, j.j, cb.c,
         list_dot_product(cb.ce[j.j*8+1 : j.j*8+8], cb.ce[j.j*8+1 : j.j*8+8])
         - 2 * list_dot_product(v.e[j.j*8+1 : j.j*8+8], cb.ce[j.j*8+1 : j.j*8+8]) AS key
  FROM v CROSS JOIN (SELECT unnest(range(8)) AS j) j CROSS JOIN cb
), best AS (
  SELECT vec_id, j, c FROM (
    SELECT vec_id, j, c,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY key, c) AS rn
    FROM enc
  ) WHERE rn = 1
), q AS (
  SELECT vec_id, e, nrm FROM v ORDER BY vec_id LIMIT 256
), qtab AS (
  SELECT q.vec_id AS qid, j.j, cb.c,
         list_dot_product(q.e[j.j*8+1 : j.j*8+8], cb.ce[j.j*8+1 : j.j*8+8]) AS t
  FROM q CROSS JOIN (SELECT unnest(range(8)) AS j) j CROSS JOIN cb
), pairsum AS (
  SELECT qt.qid AS query_id, b.vec_id AS neighbor_id, list(qt.t ORDER BY qt.j) AS ts
  FROM best b JOIN qtab qt ON qt.c = b.c AND qt.j = b.j
  GROUP BY 1, 2
), scored AS (
  SELECT p.query_id, p.neighbor_id,
         (ts[1] + ts[2] + ts[3] + ts[4] + ts[5] + ts[6] + ts[7] + ts[8])
           / (q.nrm * bv.nrm) AS approx_cosine
  FROM pairsum p
  JOIN q ON q.vec_id = p.query_id
  JOIN v bv ON bv.vec_id = p.neighbor_id
  WHERE p.query_id <> p.neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY approx_cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, approx_cosine, rank FROM ranked WHERE rank <= 5
""",
)
def q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the memory path at 10^9-10^12 vectors):
    8 subspaces x 64 codewords — each base vector stored as 8 one-byte
    codes + its norm (32x compression) and scored against the codebook
    reconstruction at scan time. Every arithmetic step (the cc - 2xc
    encode key, the reconstructed dot) is the same sequential fold on both
    engines, so the oracle is hash-exact despite PQ being approximate."""
    from arroyo_spark.operators.similarity import pq_ann_topk

    e = load_table(spark, sf_dir, "embeddings")
    return pq_ann_topk(e, k=5, m=8, k_codes=64, n_queries=256, dim=64)


@query(
    "ivfpq_ann_topk",
    """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
), c AS (
  SELECT vec_id AS cell, e AS ce, nrm AS cn FROM v ORDER BY vec_id LIMIT 16
), cb AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, e AS ce
  FROM v ORDER BY vec_id LIMIT 64
), assign AS (
  SELECT v.vec_id, c.cell, v.nrm,
         row_number() OVER (PARTITION BY v.vec_id
           ORDER BY list_dot_product(v.e, c.ce) / (v.nrm * c.cn) DESC, c.cell) AS pr
  FROM v CROSS JOIN c
), enc AS (
  SELECT v.vec_id, j.j, cb.c,
         list_dot_product(cb.ce[j.j*8+1 : j.j*8+8], cb.ce[j.j*8+1 : j.j*8+8])
         - 2 * list_dot_product(v.e[j.j*8+1 : j.j*8+8], cb.ce[j.j*8+1 : j.j*8+8]) AS key
  FROM v CROSS JOIN (SELECT unnest(range(8)) AS j) j CROSS JOIN cb
), best AS (
  SELECT vec_id, j, c FROM (
    SELECT vec_id, j, c,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY key, c) AS rn
    FROM enc
  ) WHERE rn = 1
), qtab AS (
  SELECT v.vec_id AS qid, j.j, cb.c,
         list_dot_product(v.e[j.j*8+1 : j.j*8+8], cb.ce[j.j*8+1 : j.j*8+8]) AS t
  FROM v CROSS JOIN (SELECT unnest(range(8)) AS j) j CROSS JOIN cb
), pairs AS (
  SELECT p.vec_id AS query_id, b.vec_id AS neighbor_id, p.nrm AS qn, b.nrm AS bn
  FROM assign p
  JOIN assign b ON p.cell = b.cell AND b.pr = 1 AND p.vec_id <> b.vec_id
  WHERE p.pr <= 2
), pairsum AS (
  SELECT pr.query_id, pr.neighbor_id, min(pr.qn) AS qn, min(pr.bn) AS bn,
         list(qt.t ORDER BY qt.j) AS ts
  FROM pairs pr
  JOIN best bs ON bs.vec_id = pr.neighbor_id
  JOIN qtab qt ON qt.qid = pr.query_id AND qt.j = bs.j AND qt.c = bs.c
  GROUP BY 1, 2
), scored AS (
  SELECT query_id, neighbor_id,
         (ts[1] + ts[2] + ts[3] + ts[4] + ts[5] + ts[6] + ts[7] + ts[8])
           / (qn * bn) AS approx_cosine
  FROM pairsum
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY approx_cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, approx_cosine, rank FROM ranked WHERE rank <= 5
""",
)
def q_ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ — the production ANN shape (FAISS IVFPQ), composing the two
    scale paths this engine ships: IVF bounds the candidate SET (each
    query ADC-scores only its 2 closest of 16 cells), PQ bounds the
    candidate MEMORY (cell members scanned as 8 one-byte codes + a norm).
    Both stages reuse the bit-reproducible arithmetic of their standalone
    operators, so the composition is hash-exact against SQL."""
    from arroyo_spark.operators.similarity import ivfpq_ann_topk

    e = load_table(spark, sf_dir, "embeddings")
    return ivfpq_ann_topk(e, k=5, n_cells=16, n_probe=2, m=8, k_codes=64, dim=64)


@query(
    "lsh_ann_multiband",
    f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
), vb AS (
  SELECT vec_id,
         cast({_lsh_bucket_sql(8, 64, seed=0)} AS int) AS b0,
         cast({_lsh_bucket_sql(8, 64, seed=1)} AS int) AS b1,
         cast({_lsh_bucket_sql(8, 64, seed=2)} AS int) AS b2
  FROM v
), bands AS (
  SELECT vec_id, 0 AS band, b0 AS bucket FROM vb
  UNION ALL SELECT vec_id, 1, b1 FROM vb
  UNION ALL SELECT vec_id, 2, b2 FROM vb
), capped AS (
  SELECT * FROM bands
  QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 10000
), cand AS (
  SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM capped a JOIN capped c
    ON a.band = c.band AND a.bucket = c.bucket AND a.vec_id <> c.vec_id
), scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_dot_product(q.e, n.e) / (q.nrm * n.nrm) AS cosine
  FROM cand
  JOIN v q ON q.vec_id = cand.query_id
  JOIN v n ON n.vec_id = cand.neighbor_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
""",
)
def q_lsh_ann_multiband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-band sign-LSH ANN (OR over 3 independent hyperplane sets,
    union candidates, exact re-rank): the recall-recovery path for the
    8-plane single-band search — each extra band multiplies the miss
    probability, ~0.9 recall at 3 bands for ~3x candidate work."""
    from arroyo_spark.operators.similarity import lsh_ann_topk_multiband

    e = load_table(spark, sf_dir, "embeddings")
    return lsh_ann_topk_multiband(e, k=5, n_planes=8, n_bands=3, dim=64)


@query(
    "embedding_dup_pairs",
    f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
), vb AS (
  SELECT vec_id, e, nrm, cast({_lsh_bucket_sql(8, 64)} AS int) AS bucket FROM v
  QUALIFY count(*) OVER (PARTITION BY bucket) <= 10000
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS cosine
FROM vb a JOIN vb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.3
""",
)
def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within sign-LSH buckets (the
    dedup flavor of the ANN scale path). Threshold 0.3 fits the synthetic
    embeddings (uniform vectors — max pairwise cosine ~0.5); production
    near-dup thresholds (0.9+) are a parameter, not a code path."""
    from arroyo_spark.operators.similarity import embedding_dup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    return embedding_dup_pairs(e, threshold=0.3, n_planes=8, dim=64)


@query(
    "multimodal_features",
    """
WITH h AS (
  SELECT doc_id,
         md5(concat('0#', text)) || md5(concat('1#', text)) ||
         md5(concat('2#', text)) || md5(concat('3#', text)) AS hx
  FROM documents
), b AS (
  SELECT doc_id, ('0x' || substring(hx, 2 * i + 1, 2))::int AS byte
  FROM h CROSS JOIN (SELECT unnest(range(64)) AS i)
)
SELECT doc_id,
       cast(count(*) AS int) AS n_bytes,
       cast(sum(byte) AS double) / 64 AS byte_mean,
       cast(min(byte) AS int) AS byte_min,
       cast(max(byte) AS int) AS byte_max,
       cast(sum(CASE WHEN byte // 64 = 0 THEN 1 ELSE 0 END) AS int) AS hist_0,
       cast(sum(CASE WHEN byte // 64 = 1 THEN 1 ELSE 0 END) AS int) AS hist_1,
       cast(sum(CASE WHEN byte // 64 = 2 THEN 1 ELSE 0 END) AS int) AS hist_2,
       cast(sum(CASE WHEN byte // 64 = 3 THEN 1 ELSE 0 END) AS int) AS hist_3
FROM b GROUP BY 1
""",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched fake feature extraction over the opaque media column.
    The fake media is md5-derived, so the numpy byte stats are exactly
    reproducible in SQL (hex-pair extraction over the same md5 concat)."""
    from arroyo_spark.operators.multimodal import attach_fake_media, extract_features

    d = load_table(spark, sf_dir, "documents")
    return extract_features(attach_fake_media(d))


@query(
    "multimodal_decode",
    """
WITH h AS (
  SELECT doc_id,
         md5(concat('px0#', text)) || md5(concat('px1#', text)) ||
         md5(concat('px2#', text)) AS hx
  FROM documents
), b AS (
  SELECT doc_id, i, ('0x' || substring(hx, 2 * i + 1, 2))::int AS byte
  FROM h CROSS JOIN (SELECT unnest(range(48)) AS i)
)
SELECT doc_id,
       cast(4 AS int) AS width,
       cast(4 AS int) AS height,
       cast(sum(CASE WHEN i % 3 = 0 THEN byte END) AS double) / 16 AS mean_r,
       cast(sum(CASE WHEN i % 3 = 1 THEN byte END) AS double) / 16 AS mean_g,
       cast(sum(CASE WHEN i % 3 = 2 THEN byte END) AS double) / 16 AS mean_b
FROM b GROUP BY 1
""",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END image decode (VERDICT r4 #7): valid PPM containers are
    assembled JVM-side (header literal + md5-derived pixel bytes), decoded
    by the pure-numpy PPM parser inside an Arrow-batched kernel, and the
    per-channel pixel means come out bit-exact against the SQL oracle
    (integer sums < 2^53, division by a power of two)."""
    from arroyo_spark.operators.multimodal import attach_fake_images, decode_features

    d = load_table(spark, sf_dir, "documents")
    return decode_features(attach_fake_images(d, fmt="ppm"))


@query(
    "multimodal_resize",
    """
WITH h AS (
  SELECT doc_id,
         md5(concat('px0#', text)) || md5(concat('px1#', text)) ||
         md5(concat('px2#', text)) AS hx
  FROM documents
), b AS (
  SELECT doc_id, i, ('0x' || substring(hx, 2 * i + 1, 2))::int AS byte,
         (i // 3) // 4 AS y, (i // 3) % 4 AS x, i % 3 AS c
  FROM h CROSS JOIN (SELECT unnest(range(48)) AS i)
), r AS (
  -- 2x2 block floor-average: the resized byte is exactly sum // 4
  SELECT doc_id, y // 2 AS yy, x // 2 AS xx, c, sum(byte) // 4 AS rb
  FROM b GROUP BY 1, 2, 3, 4
)
SELECT doc_id,
       cast(2 AS int) AS width,
       cast(2 AS int) AS height,
       cast(sum(CASE WHEN c = 0 THEN rb END) AS double) / 4 AS mean_r,
       cast(sum(CASE WHEN c = 1 THEN rb END) AS double) / 4 AS mean_g,
       cast(sum(CASE WHEN c = 2 THEN rb END) AS double) / 4 AS mean_b
FROM r GROUP BY 1
""",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END resize (the brief's decode/feature/resize/frame-sample
    verb set, completed): JVM-assembled PPM containers -> Arrow-batched
    decode + 2x2 floor-average pooling + PPM re-encode
    (operators/multimodal.py::resize_images) -> second decode pass for
    per-channel means of the RESIZED pixels. Floor averaging keeps every
    byte integer-exact, so the oracle recomputes the pooled bytes in SQL
    and the means match bit-exactly."""
    from arroyo_spark.operators.multimodal import (
        attach_fake_images,
        decode_features,
        resize_images,
    )

    d = load_table(spark, sf_dir, "documents")
    return decode_features(resize_images(attach_fake_images(d, fmt="ppm"), factor=2))


@query(
    "audio_features",
    """
WITH h AS (
  SELECT doc_id,
         md5(concat('au0#', text)) || md5(concat('au1#', text)) ||
         md5(concat('au2#', text)) AS hx
  FROM documents
), b AS (
  SELECT doc_id, ('0x' || substring(hx, 2 * i + 1, 2))::int AS byte
  FROM h CROSS JOIN (SELECT unnest(range(48)) AS i)
)
SELECT doc_id,
       cast(8000 AS int) AS sample_rate,
       cast(count(*) AS int) AS n_samples,
       cast(sum(byte) AS double) / 48 AS mean_amp,
       cast(max(byte) AS int) AS peak,
       cast(min(byte) AS int) AS trough,
       cast(sum(CASE WHEN byte > 192 THEN 1 ELSE 0 END) AS int) AS n_loud
FROM b GROUP BY 1
""",
)
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END audio decode (second real modality beside PPM/BMP
    images): valid RIFF/WAVE containers (8-bit mono PCM) are assembled
    JVM-side, the pure-struct/numpy WAV chunk walker decodes them inside
    an Arrow-batched kernel, and the amplitude stats come out bit-exact
    against the SQL oracle (integer sums < 2^53, exact double division)."""
    from arroyo_spark.operators.multimodal import attach_fake_audio, audio_features

    d = load_table(spark, sf_dir, "documents")
    return audio_features(attach_fake_audio(d))


@query(
    "multimodal_framesample",
    """
SELECT doc_id,
       cast(i AS int) AS frame_idx,
       md5(concat(cast(i AS varchar), '#', text)) AS frame_hex,
       cast(16 AS int) AS frame_len
FROM documents CROSS JOIN (SELECT unnest(range(4)) AS i)
""",
)
def q_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (the brief's 4th multimodal verb) driver-gated: the
    opaque 64-byte payload is chunked into 16-byte 'frames' JVM-side
    (explode(sequence) + substring — zero Python in the hot path), and
    each frame's bytes round-trip bit-exactly: frame i of
    attach_fake_media IS the md5 digest of 'i#'+text, so the oracle
    recomputes the hex directly."""
    from arroyo_spark.operators.multimodal import attach_fake_media, sample_frames

    d = load_table(spark, sf_dir, "documents")
    f = sample_frames(attach_fake_media(d), every_n_bytes=16)
    return f.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.lower(F.hex("frame_bytes")).alias("frame_hex"),
        F.length("frame_bytes").cast("int").alias("frame_len"),
    )


@query(
    "video_features",
    """
WITH p AS (
  SELECT doc_id, text, f.f, pl.pl,
         md5(concat('v', f.f, 'p', pl.pl, '#', text)) AS hx
  FROM documents
  CROSS JOIN (SELECT unnest(range(3)) AS f) f
  CROSS JOIN (SELECT unnest(range(3)) AS pl) pl
), b AS (
  SELECT doc_id, f, pl, i.i,
         ('0x' || substring(hx, 2 * i.i + 1, 2))::int AS byte
  FROM p CROSS JOIN (SELECT unnest(range(16)) AS i) i
), stats AS (
  SELECT doc_id, f,
         cast(sum(CASE WHEN pl = 0 THEN byte END) AS double) / 16 AS y_mean,
         cast(max(CASE WHEN pl = 0 THEN byte END) AS int) AS y_peak,
         cast(sum(CASE WHEN pl = 1 THEN byte END) AS double) / 16 AS u_mean,
         cast(sum(CASE WHEN pl = 2 THEN byte END) AS double) / 16 AS v_mean
  FROM b GROUP BY 1, 2
), motion AS (
  SELECT cur.doc_id, cur.f,
         cast(sum(abs(cur.byte - prv.byte)) AS double) / 16 AS y_motion
  FROM b cur
  JOIN b prv ON cur.doc_id = prv.doc_id AND cur.pl = 0 AND prv.pl = 0
            AND prv.f = cur.f - 1 AND cur.i = prv.i
  GROUP BY 1, 2
)
SELECT s.doc_id, cast(s.f AS int) AS frame_idx,
       s.y_mean, s.y_peak, s.u_mean, s.v_mean,
       coalesce(m.y_motion, 0.0) AS y_motion
FROM stats s
LEFT JOIN motion m ON s.doc_id = m.doc_id AND s.f = m.f
""",
)
def q_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END video decode (third real modality beside PPM/BMP images
    and WAV audio): valid YUV4MPEG2 streams (3 frames of 4x4 C444 planar
    YUV) are assembled JVM-side, the pure-numpy Y4M walker decodes them in
    an Arrow-batched kernel, and per-frame plane stats PLUS the temporal
    ``y_motion`` (mean |Y_f - Y_{f-1}|) come out bit-exact against the SQL
    oracle, which recomputes every plane byte from the md5 construction."""
    from arroyo_spark.operators.multimodal import attach_fake_video, video_features

    d = load_table(spark, sf_dir, "documents")
    return video_features(attach_fake_video(d))


@query(
    "sketch_rollup_exact",
    """
WITH r AS (
  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS b, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       cast(count(*) AS bigint) AS n_buckets,
       cast(sum(n) AS bigint) AS n_rows
FROM r GROUP BY 1
""",
)
def q_sketch_rollup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-checkable core of the sketch rollup: the SAME
    sketch_rollup pipeline (hll_sketch_agg runs and is load-bearing), but
    the certified outputs are its exact columns — per-event_type hourly
    bucket count and row count. The HLL estimate itself stays in
    sketch_rollup_distinct (rows-only; DuckDB's HLL differs)."""
    from arroyo_spark.operators.sketch import sketch_rollup

    e = load_table(spark, sf_dir, "events")
    rollup = sketch_rollup(e, "user_id", keys=["event_type"], bucket="1 hour")
    return rollup.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_buckets"), F.sum("n_rows").alias("n_rows")
    )


@query("sketch_rollup_distinct")  # rows-only: HLL estimates are deterministic
# for fixed input but not SQL-portable (DuckDB's HLL implementation differs);
# accuracy vs exact distinct + merge losslessness asserted in tests/test_sketch.py
def q_sketch_rollup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (the 100 TB pattern): per-(hour, event_type)
    HLL sketches merged to per-event_type distinct-user estimates — any
    time-range distinct count from KBs of sketches instead of a raw rescan."""
    from arroyo_spark.operators.sketch import sketch_merge, sketch_rollup

    e = load_table(spark, sf_dir, "events")
    rollup = sketch_rollup(e, "user_id", keys=["event_type"], bucket="1 hour")
    return sketch_merge(rollup, keys=["event_type"])


# ---------------------------------------------------------------------------
# CEP sequence patterns (MATCH_RECOGNIZE re-expressed as window chains —
# operators/cep.py; single shuffle by key, K window passes)
# ---------------------------------------------------------------------------
@query(
    "cep_funnel_events",
    """
WITH s0 AS (
  SELECT user_id, ts, event_id, event_type,
         (event_type = 'signup') AS m_signup
  FROM events
), s1 AS (
  SELECT *,
    min(CASE WHEN m_signup THEN ts END) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS anchor0
  FROM s0
), s2 AS (
  SELECT *,
    (event_type = 'click' AND anchor0 IS NOT NULL
       AND ts <= anchor0 + INTERVAL 30 DAY) AS m_click
  FROM s1
), s3 AS (
  SELECT *,
    min(CASE WHEN m_click THEN ts END) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen1
  FROM s2
), s4 AS (
  SELECT *,
    (event_type = 'purchase' AND seen1 IS NOT NULL
       AND ts <= anchor0 + INTERVAL 30 DAY) AS m_purchase
  FROM s3
), agg AS (
  SELECT user_id,
    cast(floor(epoch(min(CASE WHEN m_signup THEN ts END))) AS bigint) AS signup_s,
    cast(floor(epoch(min(CASE WHEN m_click THEN ts END))) AS bigint) AS click_s,
    cast(floor(epoch(min(CASE WHEN m_purchase THEN ts END))) AS bigint) AS purchase_s
  FROM s4 GROUP BY 1
)
SELECT * FROM agg WHERE purchase_s IS NOT NULL
""",
)
def q_cep_funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP 'followed by' funnel: signup → click → purchase per user within
    30 days of the signup anchor, greedy earliest completion. One shuffle
    (hash by user_id); the three steps are chained window passes over the
    same sort — the 10^12-turn-safe shape (operators/cep.py docstring)."""
    from arroyo_spark.operators import match_sequence

    e = load_table(spark, sf_dir, "events")
    out = match_sequence(
        e,
        key="user_id",
        steps=[
            ("signup", F.col("event_type") == "signup"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
        ts_col="ts",
        tiebreakers=["event_id"],
        within="30 days",
    )
    return out.select(
        "user_id",
        F.unix_timestamp("signup_ts").alias("signup_s"),
        F.unix_timestamp("click_ts").alias("click_s"),
        F.unix_timestamp("purchase_ts").alias("purchase_s"),
    )


@query(
    "cep_adjacent_turns",
    TRANSCRIPTS_CTE
    + """
, flagged AS (
  SELECT conv_id, turn_idx, ts,
         (role = 'user') AS f_u, (role = 'tool') AS f_t, (role = 'assistant') AS f_a
  FROM transcripts
), led AS (
  SELECT conv_id, turn_idx, ts, f_u,
         lead(f_t, 1) OVER w AS n1, lead(f_a, 2) OVER w AS n2,
         lead(ts, 1) OVER w AS ts1, lead(ts, 2) OVER w AS ts2
  FROM flagged
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id,
       cast(floor(epoch(ts)) AS bigint) AS user_s,
       cast(floor(epoch(ts1)) AS bigint) AS tool_s,
       cast(floor(epoch(ts2)) AS bigint) AS assistant_s
FROM led WHERE f_u AND n1 AND n2
""",
)
def q_cep_adjacent_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP strict-contiguity pattern over transcripts: a user turn
    immediately followed by a tool turn then an assistant turn (tool-use
    resolution shape). lead()-chain over the per-conversation sort; no
    extra shuffle beyond the conv_id partitioning."""
    from arroyo_spark.operators import match_adjacent

    # keep_user_id + partition_by: conv_id is 1:1 with user_id, so the
    # pattern window partitions by the retained raw key and REUSES the
    # transcript derivation's exchange — one shuffle total, not two.
    t = transcripts_from_events(spark, sf_dir, keep_user_id=True)
    # (ts, turn_idx) order == turn_idx order (turn_idx is row_number over
    # ts within the conversation), so the operator can report wall-clock
    # times directly — no join-back.
    out = match_adjacent(
        t,
        key="conv_id",
        steps=[
            ("user", F.col("role") == "user"),
            ("tool", F.col("role") == "tool"),
            ("assistant", F.col("role") == "assistant"),
        ],
        ts_col="ts",
        tiebreakers=["turn_idx"],
        partition_by=["user_id"],
    )
    return out.select(
        "conv_id",
        F.unix_timestamp("user_ts").alias("user_s"),
        F.unix_timestamp("tool_ts").alias("tool_s"),
        F.unix_timestamp("assistant_ts").alias("assistant_s"),
    )


@query(
    "cep_unresolved_tools",
    TRANSCRIPTS_CTE
    + """
, nxt AS (
  SELECT conv_id, ts, role,
    min(CASE WHEN role = 'assistant' THEN ts END) OVER (
      PARTITION BY conv_id ORDER BY ts, turn_idx
      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS assistant_ts
  FROM transcripts
)
SELECT conv_id,
       cast(floor(epoch(ts)) AS bigint) AS tool_s,
       cast(floor(epoch(assistant_ts)) AS bigint) AS assistant_s
FROM nxt
WHERE role = 'tool'
  AND (assistant_ts IS NULL OR assistant_ts > ts + INTERVAL 30 MINUTE)
""",
)
def q_cep_unresolved_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP absence pattern: tool turns with NO assistant turn within 30
    minutes after them (unresolved tool calls — the agent-transcript
    timeout detector). One window pass over the per-conversation sort."""
    from arroyo_spark.operators import match_absence

    # same exchange-reuse trick as cep_adjacent_turns: window by the
    # retained user_id (1:1 with conv_id) -> single shuffle end-to-end
    t = transcripts_from_events(spark, sf_dir, keep_user_id=True)
    out = match_absence(
        t,
        key="conv_id",
        first=("tool", F.col("role") == "tool"),
        second=("assistant", F.col("role") == "assistant"),
        within="30 minutes",
        ts_col="ts",
        tiebreakers=["turn_idx"],
        partition_by=["user_id"],
    )
    return out.select(
        "conv_id",
        F.unix_timestamp("tool_ts").alias("tool_s"),
        F.unix_timestamp("assistant_ts").alias("assistant_s"),
    )


@query(
    "cep_assistant_streaks",
    TRANSCRIPTS_CTE
    + """
, islands AS (
  SELECT conv_id, ts, (role = 'assistant') AS hit,
         sum(CASE WHEN role = 'assistant' THEN 0 ELSE 1 END) OVER (
           PARTITION BY conv_id ORDER BY ts, turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM transcripts
)
SELECT conv_id,
       cast(floor(epoch(min(ts))) AS bigint) AS start_s,
       cast(floor(epoch(max(ts))) AS bigint) AS end_s,
       cast(count(*) AS bigint) AS run_len
FROM islands WHERE hit
GROUP BY conv_id, run
HAVING count(*) >= 2
""",
)
def q_cep_assistant_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP Kleene-plus quantifier (MATCH_RECOGNIZE ``assistant+``): every
    maximal run of >=2 consecutive assistant turns per conversation
    (multi-message assistant streaks — the agent-transcript "model kept
    talking" detector). Gaps-and-islands: one window pass + one groupBy
    that reuses the same exchange; with keep_user_id the whole query is a
    single shuffle end-to-end."""
    from arroyo_spark.operators import match_runs

    t = transcripts_from_events(spark, sf_dir, keep_user_id=True)
    out = match_runs(
        t,
        key="conv_id",
        cond=F.col("role") == "assistant",
        ts_col="ts",
        tiebreakers=["turn_idx"],
        min_len=2,
        partition_by=["user_id"],
    )
    return out.select(
        "conv_id",
        F.unix_timestamp("run_start_ts").alias("start_s"),
        F.unix_timestamp("run_end_ts").alias("end_s"),
        "run_len",
    )


# ---------------------------------------------------------------------------
# Dedup clustering: transitive closure of the LSH candidate pairs (the step
# that turns pair lists into duplicate GROUPS + a full-corpus keep decision).
# Spark side: iterative min-label propagation with pointer jumping (O(log d)
# rounds, each shuffling only (id,label) pairs). Oracle: DuckDB recursive CTE
# computing min reachable id — exact transitive closure, feasible at sf0.01.
# ---------------------------------------------------------------------------
@query(
    "dedup_clusters",
    _MINHASH_SQL_PRELUDE.replace("WITH norm", "WITH RECURSIVE norm", 1)
    + """
, bands AS (
  SELECT doc_id, cast(perm // 4 AS int) AS band,
         md5(string_agg(cast(minhash AS varchar), ',' ORDER BY perm)) AS band_key
  FROM sig GROUP BY 1, 2
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
), edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION SELECT id_b AS s, id_a AS d FROM pairs
), reach(id, r) AS (
  SELECT s, s FROM edges
  UNION
  SELECT reach.id, e.d FROM reach JOIN edges e ON e.s = reach.r
), cc AS (
  SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1
)
SELECT d.doc_id,
       coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
       coalesce(cc.cluster_id, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN cc USING (doc_id)
""",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS, not just pairs: LSH candidates -> connected
    components -> one keep=true survivor per cluster (+ all singletons)."""
    from arroyo_spark.operators.dedup import dedup_clusters, minhash_candidates

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidates(d, "doc_id", "text", n_perm=8, band_size=4)
    return dedup_clusters(d, pairs, "doc_id")


# ---------------------------------------------------------------------------
# Corpus curation: concat-packing + deterministic stratified sampling
# ---------------------------------------------------------------------------
_TOKENS_SQL = r"""
WITH norm AS (
  SELECT doc_id, lang,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                        '\s+', ' ', 'g')) AS nt
  FROM documents
), tok AS (
  SELECT doc_id, lang,
    CASE WHEN nt = '' THEN 0
         ELSE length(nt) - length(replace(nt, ' ', '')) + 1 END AS n_tokens
  FROM norm
)"""


@query(
    "pack_sequences",
    _TOKENS_SQL
    + """
, c AS (
  SELECT doc_id, lang, n_tokens,
    coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
  FROM tok
)
SELECT doc_id, lang, cast(n_tokens AS int) AS n_tokens,
       cast(excl // 512 AS bigint) AS pack_id,
       cast(excl % 512 AS bigint) AS pack_pos
FROM c
""",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM concat-packing: cut the per-shard token stream every 512 tokens;
    a document belongs to the pack where its first token lands. One shuffle
    (hash by lang shard) + one window cumsum — no stateful first-fit loop."""
    from arroyo_spark.operators.corpus import pack_sequences

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count("text").alias("n_tokens")
    )
    return pack_sequences(d, "lang", "doc_id", "n_tokens", budget=512)


@query(
    "stratified_sample",
    """
SELECT doc_id, lang,
  cast(('0x' || substring(md5('mix1' || cast(doc_id AS varchar)), 1, 15))::bigint
       % 10000 AS int) AS bucket
FROM documents
WHERE ('0x' || substring(md5('mix1' || cast(doc_id AS varchar)), 1, 15))::bigint
      % 10000
  < CASE lang WHEN 'en' THEN 1000 WHEN 'zh' THEN 10000 WHEN 'de' THEN 5000
    ELSE 2500 END
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing: keep 10% of en, 100% of zh, 50% of de, 25% default —
    deterministically by key hash (replay/retry/engine stable, samples
    nest by construction). Map-side filter, zero shuffles."""
    from arroyo_spark.operators.corpus import hash_bucket, stratified_sample

    d = load_table(spark, sf_dir, "documents")
    out = stratified_sample(
        d, "lang", "doc_id",
        rates={"en": 0.10, "zh": 1.0, "de": 0.50},
        default_rate=0.25,
        salt="mix1",
    )
    return out.select(
        "doc_id", "lang", hash_bucket("doc_id", salt="mix1").alias("bucket")
    )


@query(
    "decontaminate_ngrams",
    _SHINGLES_SQL
    + """
, ids AS (
  SELECT doc_id,
    ('0x' || substring(md5('bench' || cast(doc_id AS varchar)), 1, 15))::bigint
      % 10000 < 500 AS is_bench
  FROM documents
), bench_sh AS (
  SELECT DISTINCT shingle FROM sh JOIN ids USING (doc_id) WHERE is_bench
), train_sh AS (
  SELECT DISTINCT doc_id, shingle FROM sh JOIN ids USING (doc_id) WHERE NOT is_bench
), hits AS (
  SELECT doc_id, count(*) AS n_hits FROM train_sh JOIN bench_sh USING (shingle)
  GROUP BY 1
)
SELECT i.doc_id, cast(coalesce(h.n_hits, 0) AS bigint) AS n_hits,
       coalesce(h.n_hits, 0) >= 3 AS contaminated
FROM ids i LEFT JOIN hits h USING (doc_id) WHERE NOT i.is_bench
""",
)
def q_decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: a deterministic 5% hash-slice of the
    corpus plays the eval suite; every remaining train doc is flagged if it
    shares >= 3 distinct 3-gram shingles with any benchmark doc. Bench
    shingles broadcast; the train side never shuffles documents."""
    from arroyo_spark.operators.corpus import hash_bucket, ngram_decontaminate

    d = load_table(spark, sf_dir, "documents")
    is_bench = hash_bucket("doc_id", salt="bench") < 500
    return ngram_decontaminate(
        d.filter(~is_bench), d.filter(is_bench), "doc_id", "text", min_overlap=3
    )


@query(
    "deterministic_shuffle",
    """
SELECT doc_id,
  cast(row_number() OVER (
    ORDER BY ('0x' || substring(md5('ord1' || cast(doc_id AS varchar)), 1, 15))::bigint,
             doc_id) - 1 AS bigint) AS shuffle_rank
FROM documents
""",
)
def q_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global training-order permutation WITHOUT a global
    sort: range-sharded hash + per-shard row_number + broadcast prefix
    offsets. The oracle is the single-window global rank — equality proves
    the two-phase decomposition is exact."""
    from arroyo_spark.operators.corpus import deterministic_shuffle

    d = load_table(spark, sf_dir, "documents")
    return deterministic_shuffle(d, "doc_id", salt="ord1", n_shards=32).select(
        "doc_id", "shuffle_rank"
    )


@query(
    "ngram_repetition",
    _SHINGLES_SQL
    + """
SELECT doc_id, count(*) AS n_ngrams,
       1 - count(DISTINCT shingle) / count(*) AS repeat_ratio
FROM sh GROUP BY 1
""",
)
def q_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 repetition signal: 1 - distinct/total 3-gram shingles per
    document — one JVM projection, no shuffle (the oracle aggregates the
    exploded shingles; the engine never explodes)."""
    from arroyo_spark.operators.corpus import ngram_repetition

    d = load_table(spark, sf_dir, "documents")
    return ngram_repetition(d, "doc_id", "text", n=3)


@query(
    "topk_rollup_merge",
    """
WITH counts AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS b, user_id, count(*) AS cnt
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY b ORDER BY cnt DESC, user_id) AS rk
  FROM counts
), thr AS (
  SELECT b, cnt AS thr FROM ranked WHERE rk = 6
), kept AS (
  SELECT r.b, r.user_id, r.cnt, coalesce(t.thr, 0) AS thr
  FROM ranked r LEFT JOIN thr t USING (b) WHERE r.rk <= 5
), tot AS (
  SELECT sum(t) AS all_thr FROM (SELECT b, max(thr) AS t FROM kept GROUP BY 1)
)
SELECT user_id, cast(sum(cnt) AS bigint) AS lb,
       cast(sum(cnt) + (SELECT all_thr FROM tot) - sum(thr) AS bigint) AS ub
FROM kept GROUP BY 1
""",
)
def q_topk_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter users: per-hour exact top-5 summaries (O(m) rows per
    bucket regardless of user cardinality) merged into global [lb, ub]
    count bounds. Pure relational sketch — integer counts make it the
    hash-exact-checkable member of the sketch family."""
    from arroyo_spark.operators.sketch import topk_merge, topk_rollup

    e = load_table(spark, sf_dir, "events")
    return topk_merge(topk_rollup(e, "user_id", m=5), "user_id")


@query(
    "sampled_quantile_rollup",
    """
WITH s AS (
  SELECT value::DOUBLE AS v FROM events
  WHERE ('0x' || substring(md5('sq1' || cast(event_id AS varchar)), 1, 15))::bigint
        % 10000 < 2500
    AND value IS NOT NULL
), a AS (SELECT list(v ORDER BY v) AS arr FROM s)
SELECT t.q, arr[cast(floor(t.q * (len(arr) - 1)) AS int) + 1] AS est
FROM a, (SELECT unnest([0.1, 0.5, 0.9, 0.99]::DOUBLE[]) AS q) t
""",
)
def q_sampled_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour deterministic hash-sampled value arrays, merged over all
    buckets, quantiles read off the merged sample. The oracle computes the
    SAME quantiles directly on the hash-sampled raw rows — equality proves
    the rollup->merge path is lossless (hash sampling commutes with
    bucketing), which a reservoir/rand() sample could never certify."""
    from arroyo_spark.operators.sketch import (
        sampled_quantile_merge,
        sampled_quantile_rollup,
    )

    e = load_table(spark, sf_dir, "events")
    r = sampled_quantile_rollup(
        e, "event_id", "value", fraction=0.25, salt="sq1"
    )
    return sampled_quantile_merge(r, [0.1, 0.5, 0.9, 0.99])


@query(
    "domain_mix_sample",
    """
WITH actual AS (SELECT lang, sum(n_chars) AS a FROM documents GROUP BY 1)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN actual USING (lang)
WHERE ('0x' || substring(md5('dm1' || cast(doc_id AS varchar)), 1, 15))::bigint % 10000
  < least(10000, cast(floor(10000.0 *
      (CASE lang WHEN 'en' THEN 20000.0 WHEN 'zh' THEN 999999.0
                 WHEN 'de' THEN 10000.0 ELSE 5000.0 END) / a) AS bigint))
""",
)
def q_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing to a char-budget per language: rates are DERIVED from
    the measured per-lang char sums (downsample over-budget strata, keep
    under-budget whole), then applied as the deterministic md5-bucket
    predicate. One broadcast join of #strata rows; no driver action."""
    from arroyo_spark.operators.corpus import domain_mix_sample

    d = load_table(spark, sf_dir, "documents")
    return domain_mix_sample(
        d,
        "lang",
        "doc_id",
        "n_chars",
        targets={"en": 20000.0, "zh": 999999.0, "de": 10000.0},
        default_target=5000.0,
        salt="dm1",
    ).select("doc_id", "lang", "n_chars")


# ---------------------------------------------------------------------------
# Deterministic distributed k-means + SemDeDup semantic dedup
# (operators/kmeans.py). The oracle UNROLLS Lloyd's iterations as a CTE
# chain: the fixed-point (int64) centroid update makes the whole training
# run order-independent, so an iterative algorithm becomes hash-exact
# checkable — CTE names: k{i} = centroids entering round i, a{i}/u{i} =
# that round's assignment / quantized update, k{i+1} = the rebuilt
# centroids (empty or zero-norm cells keep their previous centroid).
# ---------------------------------------------------------------------------
_KM_S = 1 << 20  # fixed-point scale (2^20: exponent-shift-exact multiply)


def _kmeans_oracle_ctes(n_iter: int, k: int, dim: int = 64, s: int = _KM_S) -> str:
    parts = [
        f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
), k0 AS (
  SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 AS int) AS cell, e AS c, nrm AS cn
  FROM (SELECT * FROM v ORDER BY vec_id LIMIT {k})
)"""
    ]
    for i in range(n_iter):
        parts.append(
            f""", a{i} AS (
  SELECT vec_id, e, nrm, cell FROM (
    SELECT v.vec_id, v.e, v.nrm, kk.cell,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY list_dot_product(v.e, kk.c) / (v.nrm * kk.cn) DESC, kk.cell) AS rn
    FROM v CROSS JOIN k{i} kk) t WHERE rn = 1
), u{i} AS (
  SELECT cell, cast(p.pos AS int) AS pos,
         sum(cast(floor(e[cast(p.pos AS int) + 1] * {float(s)} + 0.5) AS bigint)) AS qsum,
         count(*) AS n
  FROM a{i} CROSS JOIN (SELECT range AS pos FROM range({dim})) p
  GROUP BY 1, 2
), nc{i} AS (
  SELECT cell, list(qsum / ({s} * n) ORDER BY pos) AS c FROM u{i} GROUP BY cell
), k{i + 1} AS (
  SELECT k{i}.cell,
         CASE WHEN nc{i}.c IS NOT NULL AND list_dot_product(nc{i}.c, nc{i}.c) > 0
              THEN nc{i}.c ELSE k{i}.c END AS c,
         CASE WHEN nc{i}.c IS NOT NULL AND list_dot_product(nc{i}.c, nc{i}.c) > 0
              THEN sqrt(list_dot_product(nc{i}.c, nc{i}.c)) ELSE k{i}.cn END AS cn
  FROM k{i} LEFT JOIN nc{i} USING (cell)
)"""
        )
    return "".join(parts)


@query(
    "kmeans_train",
    _kmeans_oracle_ctes(n_iter=2, k=16)
    + f"""
SELECT cell, pos, qsum / ({_KM_S} * n) AS coord FROM u1
""",
)
def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd's rounds over the embeddings; the SECOND round's quantized
    centroid update is returned as a DataFrame (cell, pos, coord) — i.e.
    the trained centroids, computed JVM-side. The equality with the oracle
    proves the fixed-point update made distributed iterative training
    bit-reproducible (float means would differ in the last ulp per run)."""
    from arroyo_spark.operators.kmeans import (
        _prep,
        _train_prepped,
        kmeans_assign,
        kmeans_update,
    )

    e = load_table(spark, sf_dir, "embeddings")
    # ONE staged projection feeds training and the returned update (r6)
    v = _prep(e, "vec_id", "embedding", 64).localCheckpoint(eager=False)
    cents = _train_prepped(v, k=16, n_iter=1)
    upd = kmeans_update(kmeans_assign(v, cents))
    return upd.select(
        "cell", "pos", (F.col("qsum") / (F.lit(_KM_S) * F.col("n"))).alias("coord")
    )


@query(
    "semantic_dedup",
    _kmeans_oracle_ctes(n_iter=2, k=32)
    + """, af AS (
  SELECT vec_id, e, nrm, cell FROM (
    SELECT v.vec_id, v.e, v.nrm, kk.cell,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY list_dot_product(v.e, kk.c) / (v.nrm * kk.cn) DESC, kk.cell) AS rn
    FROM v CROSS JOIN k2 kk) t WHERE rn = 1
)
SELECT l.vec_id, l.cell, count(r.vec_id) AS n_dups, count(r.vec_id) > 0 AS is_dup
FROM af l LEFT JOIN af r
  ON l.cell = r.cell AND r.vec_id < l.vec_id
 AND list_dot_product(l.e, r.e) / (l.nrm * r.nrm) >= 0.95
GROUP BY 1, 2
""",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-dedup-within-cluster): k-means with k=32,
    then flag vectors with a lower-id same-cell neighbor at cosine >= 0.95.
    Every non-degenerate vector gets a total (n_dups, is_dup) decision; the
    pair search never crosses a cell boundary."""
    from arroyo_spark.operators.kmeans import semantic_dedup

    e = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(e, k=32, n_iter=2, threshold=0.95, dim=64)


@query(
    "curation_pipeline",
    r"""
WITH norm AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                        '\s+', ' ', 'g')) AS nt
  FROM documents
), keepers AS (
  SELECT min(doc_id) AS doc_id FROM norm GROUP BY nt
), kept AS (
  SELECT d.doc_id, d.text, d.lang,
    ('0x' || substring(md5('bench' || cast(d.doc_id AS varchar)), 1, 15))::bigint
      % 10000 < 500 AS is_bench
  FROM documents d JOIN keepers USING (doc_id)
), ktoks AS (
  SELECT k.doc_id, string_split(n.nt, ' ') AS t
  FROM kept k JOIN norm n USING (doc_id) WHERE n.nt <> ''
), ksh AS (
  SELECT doc_id,
    unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM ktoks WHERE len(t) >= 3
), bench_sh AS (
  SELECT DISTINCT shingle FROM ksh JOIN kept USING (doc_id) WHERE is_bench
), train_sh AS (
  SELECT DISTINCT doc_id, shingle FROM ksh JOIN kept USING (doc_id) WHERE NOT is_bench
), hits AS (
  SELECT doc_id, count(*) AS n_hits FROM train_sh JOIN bench_sh USING (shingle)
  GROUP BY 1
), clean AS (
  SELECT k.doc_id, k.lang
  FROM kept k LEFT JOIN hits h USING (doc_id)
  WHERE NOT k.is_bench AND coalesce(h.n_hits, 0) < 3
), mixed AS (
  SELECT doc_id, lang FROM clean
  WHERE ('0x' || substring(md5('mixp' || cast(doc_id AS varchar)), 1, 15))::bigint
        % 10000
    < CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 10000 ELSE 2500 END
)
SELECT doc_id, lang,
  cast(row_number() OVER (
    ORDER BY ('0x' || substring(md5('ordp' || cast(doc_id AS varchar)), 1, 15))::bigint,
             doc_id) - 1 AS bigint) AS shuffle_rank
FROM mixed
""",
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone composition — the ops a 100 TB pretraining-data run
    chains daily, as ONE declarative plan: exact dedup (keep lowest id)
    -> n-gram benchmark decontamination (vs a deterministic 5% hash
    slice) -> stratified language mix -> deterministic global shuffle
    rank. Every stage is individually hash-certified; this query proves
    they COMPOSE and stay bit-reproducible end-to-end (the oracle chains
    the same CTEs). No stage collects; the only driver-visible values are
    plan literals."""
    from arroyo_spark.operators.corpus import (
        deterministic_shuffle,
        hash_bucket,
        ngram_decontaminate,
        stratified_sample,
    )

    d = load_table(spark, sf_dir, "documents")
    keepers = (
        d.select("doc_id", normalize_text("text").alias("_nt"))
        .groupBy("_nt")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # stage the keep-id set (the embedding_dup_pairs pattern): the DAG is
    # diamond-shaped (train shingles + bench shingles + the clean join all
    # descend from kept), and without staging the dedup agg + regex
    # normalization re-run once per branch (measured 6.6s -> 3.9s at
    # sf0.1). Ids only — O(corpus) rows but a single slim column
    keepers = keepers.localCheckpoint(eager=False)
    kept = d.join(keepers, "doc_id")
    is_bench = hash_bucket("doc_id", salt="bench") < 500
    train, bench = kept.filter(~is_bench), kept.filter(is_bench)
    decisions = ngram_decontaminate(train, bench, "doc_id", "text", min_overlap=3)
    clean = train.join(
        decisions.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    ).select("doc_id", "lang")
    mixed = stratified_sample(
        clean, "lang", "doc_id",
        rates={"en": 0.50, "zh": 1.0}, default_rate=0.25, salt="mixp",
    )
    return deterministic_shuffle(mixed, "doc_id", salt="ordp", n_shards=32).select(
        "doc_id", "lang", "shuffle_rank"
    )


@query(
    "duplicate_span_stats",
    r"""
WITH norm AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                        '\s+', ' ', 'g')) AS nt
  FROM documents
), toks AS (
  SELECT doc_id, string_split(nt, ' ') AS t FROM norm WHERE nt <> ''
), sh AS (
  SELECT DISTINCT doc_id,
    ('0x' || substring(md5(span), 1, 15))::bigint AS shh
  FROM (
    SELECT doc_id,
      unnest(list_transform(range(1, greatest(len(t) - 5, 0) + 1),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
             || ' ' || t[i+4] || ' ' || t[i+5])) AS span
    FROM toks WHERE len(t) >= 6
  )
), freq AS (
  SELECT shh, count(*) AS docs FROM sh GROUP BY 1
)
SELECT s.doc_id, cast(count(*) AS bigint) AS n_spans,
  cast(sum(CASE WHEN f.docs >= 2 THEN 1 ELSE 0 END) AS bigint) AS n_dup_spans,
  cast(sum(CASE WHEN f.docs >= 2 THEN 1 ELSE 0 END) AS double)
    / cast(count(*) AS double) AS dup_frac
FROM sh s JOIN freq f USING (shh) GROUP BY 1
""",
)
def q_duplicate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring-dedup signal (Lee et al. 2107.06499) expressed
    declaratively: per doc, the fraction of its distinct 6-word spans that
    occur in >= 2 documents. Spans shuffle as 60-bit hashes, never text;
    the frequency groupBy and the stats join share one exchange."""
    from arroyo_spark.operators.corpus import duplicate_span_stats

    d = load_table(spark, sf_dir, "documents")
    return duplicate_span_stats(d, "doc_id", "text", span_n=6, min_docs=2)


@query(
    "strip_duplicate_lines",
    """
WITH raw AS (
  SELECT doc_id, concat_ws(chr(10),
    array_to_string((string_split(text, ' '))[1:8], ' '),
    array_to_string((string_split(text, ' '))[9:], ' '),
    CASE WHEN doc_id % 3 = 0 THEN 'Visit our homepage for more articles' END,
    '(c) 2024 ExampleCorp footer') AS t
  FROM documents
), ls AS (
  SELECT doc_id, string_split(t, chr(10)) AS arr FROM raw
), lines AS (
  SELECT doc_id, unnest(arr) AS line, unnest(range(1, len(arr) + 1)) AS pos
  FROM ls
), flagged AS (
  SELECT line
  FROM (SELECT DISTINCT doc_id, line FROM lines WHERE length(line) >= 2)
  GROUP BY line HAVING count(*) >= 3
), kept AS (
  SELECT doc_id, pos, line FROM lines
  WHERE length(line) < 2 OR line NOT IN (SELECT line FROM flagged)
), rebuilt AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
         count(*) AS n_kept
  FROM kept GROUP BY 1
)
SELECT l.doc_id, coalesce(r.text, '') AS text,
  cast(coalesce(r.n_kept, 0) AS bigint) AS n_lines_kept,
  cast(len(l.arr) - coalesce(r.n_kept, 0) AS bigint) AS n_lines_removed
FROM ls l LEFT JOIN rebuilt r USING (doc_id)
""",
)
def q_strip_duplicate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus duplicated-line removal (the RefinedWeb/CCNet
    boilerplate pass): documents get deterministic multi-line bodies (an
    8-word head line, the remainder, a conditional nav line on every 3rd
    doc, a footer on all), then every line appearing in >= 3 docs is
    dropped corpus-wide and texts are rebuilt in order. The footer and nav
    lines MUST vanish; natural 8-word-prefix families participate too."""
    from arroyo_spark.operators.corpus import strip_duplicate_lines

    d = load_table(spark, sf_dir, "documents")
    arr = F.split(F.col("text"), " ")
    raw = F.concat_ws(
        "\n",
        F.array_join(F.slice(arr, 1, 8), " "),
        F.array_join(F.slice(arr, 9, 1_000_000), " "),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit("Visit our homepage for more articles")
        ),
        F.lit("(c) 2024 ExampleCorp footer"),
    )
    return strip_duplicate_lines(
        d.select("doc_id", raw.alias("text")),
        "doc_id",
        "text",
        min_docs=3,
        min_line_chars=2,
    )


@query(
    "gopher_quality_filter",
    r"""
WITH w AS (
  SELECT doc_id, text,
    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws,
    string_split(text, chr(10)) AS ls
  FROM documents
), m AS (
  SELECT doc_id,
    cast(len(ws) AS bigint) AS n_words,
    CASE WHEN len(ws) > 0
      THEN cast(list_sum(list_transform(ws, x -> length(x))) AS double) / len(ws)
      ELSE 0.0 END AS mean_word_len,
    CASE WHEN len(ws) > 0
      THEN cast((length(text) - length(replace(text, '#', '')))
                + (length(text) - length(replace(text, '...', ''))) / 3
           AS double) / len(ws)
      ELSE 0.0 END AS symbol_ratio,
    CASE WHEN len(ws) > 0
      THEN cast(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS double)
           / len(ws)
      ELSE 0.0 END AS alpha_frac,
    cast(len(list_filter(ls, x -> starts_with(x, '-') OR starts_with(x, '*')
                                OR starts_with(x, '•'))) AS double)
      / len(ls) AS bullet_frac,
    cast(len(list_filter(ls, x -> ends_with(x, '...') OR ends_with(x, '…')))
      AS double) / len(ls) AS ellipsis_frac,
    cast(list_contains(list_transform(ws, x -> lower(x)), 'the')::int
       + list_contains(list_transform(ws, x -> lower(x)), 'be')::int
       + list_contains(list_transform(ws, x -> lower(x)), 'to')::int
       + list_contains(list_transform(ws, x -> lower(x)), 'of')::int
       + list_contains(list_transform(ws, x -> lower(x)), 'and')::int
       + list_contains(list_transform(ws, x -> lower(x)), 'that')::int
       + list_contains(list_transform(ws, x -> lower(x)), 'have')::int
       + list_contains(list_transform(ws, x -> lower(x)), 'with')::int
      AS bigint) AS stop_hits
  FROM w
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
  ellipsis_frac, alpha_frac, stop_hits,
  (n_words >= 40 AND n_words <= 100000
   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
   AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
   AND alpha_frac >= 0.8 AND stop_hits >= 1) AS passes
FROM m
""",
)
def q_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule bundle (Rae et al. 2112.11446) over the
    corpus: every metric and the combined pass/fail decision in one
    map-side projection — the daily pre-filter of a 100 TB text pipeline,
    running at scan speed with zero shuffles. Thresholds tuned to the
    corpus's 10-99-word docs (min_words=40, stopword floor 1) so the
    decision genuinely splits the data."""
    from arroyo_spark.functions.text import gopher_quality_flags
    from arroyo_spark.operators.map import _spread

    # r6: heavy per-row rule bundle at 2-split scan parallelism -> spread
    d = _spread(load_table(spark, sf_dir, "documents"))
    q = gopher_quality_flags(
        "text", min_words=40, min_stopword_hits=1
    ).alias("_q")
    return d.select("doc_id", q).select(
        "doc_id",
        "_q.n_words",
        "_q.mean_word_len",
        "_q.symbol_ratio",
        "_q.bullet_frac",
        "_q.ellipsis_frac",
        "_q.alpha_frac",
        "_q.stop_hits",
        "_q.passes",
    )


@query(
    "transcript_wellformed",
    TRANSCRIPTS_CTE
    + """
, lagged AS (
  SELECT conv_id, turn_idx, role, text,
    lag(role) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_role,
    row_number() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS rn
  FROM transcripts
)
SELECT conv_id,
  count(*) AS n_turns,
  cast(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS bigint) AS n_user,
  cast(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS bigint) AS n_assistant,
  cast(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS bigint) AS n_tool,
  cast(sum(CASE WHEN role = 'tool'
    AND NOT coalesce(prev_role IN ('assistant', 'tool'), false)
    THEN 1 ELSE 0 END) AS bigint) AS orphan_tools,
  cast(sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END) AS bigint)
    AS empty_turns,
  max(CASE WHEN rn = 1 AND role = 'user' THEN 1 ELSE 0 END) = 1
    AS starts_with_user,
  (max(CASE WHEN rn = 1 AND role = 'user' THEN 1 ELSE 0 END) = 1
   AND sum(CASE WHEN role = 'tool'
         AND NOT coalesce(prev_role IN ('assistant', 'tool'), false)
         THEN 1 ELSE 0 END) = 0
   AND sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END) = 0
   AND sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) > 0) AS wellformed
FROM lagged
GROUP BY conv_id
""",
)
def q_transcript_wellformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript-ingest structural validator: per-conversation role/tool
    invariants (starts-with-user, no orphan tool results, no empty turns,
    has an assistant turn) — the gate an SFT/RLHF transcripts pipeline
    runs before any content filter. Single exchange: the lag() window and
    the aggregation share the user_id hash partitioning the transcript
    derivation already established."""
    from arroyo_spark.operators import validate_transcripts

    t = transcripts_from_events(spark, sf_dir, keep_user_id=True)
    return validate_transcripts(
        t,
        key="conv_id",
        order=("ts", "turn_idx"),
        partition_by=["user_id"],
    )


# Shared by both conversation-dedup oracles: inject a verbatim '-retry'
# resubmission of every 7th user's conversation, fingerprint each
# conversation order-sensitively (cv = one row per conversation with its
# conv_fp, turn count, and arrival EPOCH — originals: user_id % 3, retries:
# epoch 3 — mirroring the Spark side's whole-conversation epoch split in
# q_incremental_transcript_dedup; the batch query ignores the epoch).
RETRIED_CONV_CTE = r"""
, with_retries AS (
  SELECT conv_id, turn_idx, role, text FROM transcripts
  UNION ALL
  SELECT concat(conv_id, '-retry') AS conv_id, turn_idx, role, text
  FROM transcripts
  WHERE cast(substring(conv_id, 6) AS bigint) % 7 = 0
), tf AS (
  SELECT conv_id, turn_idx,
    cast(('0x' || substring(md5(concat(role, '|',
      trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                          '\s+', ' ', 'g')))), 1, 15))::bigint AS bigint) AS tfp
  FROM with_retries
), cv AS (
  SELECT conv_id,
    CASE WHEN conv_id LIKE '%-retry' THEN 3
         ELSE cast(substring(conv_id, 6, 8) AS bigint) % 3 END AS epoch,
    cast(('0x' || substring(md5(
      string_agg(cast(tfp AS varchar), ',' ORDER BY turn_idx)), 1, 15))::bigint
      AS bigint) AS conv_fp,
    count(*) AS n_turns
  FROM tf GROUP BY conv_id
)
"""


def _retried_transcripts(spark: SparkSession, sf_dir: str, stage: bool = False):
    """(transcripts, retries): the Spark twin of RETRIED_CONV_CTE's
    with_retries — every 7th user's conversation resubmitted verbatim
    under a '-retry' conv_id.

    ``stage=True`` localCheckpoints the derivation (r6, guide §1.2): the
    incremental sink consumes t through FIVE epoch filters, and unstaged
    each would re-run the events scan + transcript window. Rows are
    unchanged — intra-query staging only."""
    t = transcripts_from_events(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text"
    )
    if stage:
        t = t.localCheckpoint(eager=True)
    uid = F.substring("conv_id", 6, 8).cast("long")
    retries = t.filter(uid % 7 == 0).withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-retry"))
    )
    return t, retries


@query(
    "transcript_dedup",
    TRANSCRIPTS_CTE
    + RETRIED_CONV_CTE
    + """
SELECT conv_fp, min(conv_id) AS keep_conv_id,
       count(*) AS dup_count, max(n_turns) AS n_turns
FROM cv GROUP BY 1
""",
)
def q_transcript_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level exact dedup over the transcript stream, with a
    deterministic retry-storm injected (every 7th user's conversation is
    resubmitted verbatim under a '-retry' conv_id — the duplicate shape a
    real ingest sees). The order-SENSITIVE conversation fingerprint
    (per-turn (role, normalized-text) fps, string-agg'd in turn order)
    collapses each retry onto its original (dup_count=2, keeper = the
    lexicographically-smaller original id) while every genuine
    conversation survives. Shuffles carry fixed-width fp rows, never
    turn text."""
    from arroyo_spark.operators import transcript_dedup

    t, retries = _retried_transcripts(spark, sf_dir)
    return transcript_dedup(t.unionAll(retries))


@query(
    "incremental_transcript_dedup",
    TRANSCRIPTS_CTE
    + RETRIED_CONV_CTE
    + """
, ranked AS (
  SELECT conv_fp, conv_id, n_turns,
         row_number() OVER (PARTITION BY conv_fp ORDER BY epoch, conv_id) AS rn
  FROM cv
)
SELECT conv_fp, conv_id AS keep_conv_id, n_turns FROM ranked WHERE rn = 1
""",
)
def q_incremental_transcript_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING-built deduped transcript corpus, oracle-checked against
    the streaming keep rule itself: conversations arrive whole in 3
    epochs (user_id mod 3) through the exactly-once sink, then a 4th
    epoch delivers the retry storm (every 7th user's conversation
    resubmitted verbatim). Compaction fires mid-run (compact_every=2).
    The committed store — keeper conversations' full turn rows — is
    summarized per keeper; the oracle ranks each fingerprint's arrivals
    by (epoch, conv_id) and keeps the first, i.e. EXACTLY the sink's
    first-arrival-wins rule — so the hash contract holds even when two
    different users naturally produce fingerprint-identical conversations
    in different epochs (where batch min(conv_id) could name the later
    arrival). The result is materialized (localCheckpoint) so the temp
    store can be removed before returning."""
    import shutil
    import tempfile

    from arroyo_spark.streaming.incremental import incremental_transcript_dedup_sink
    from arroyo_spark.streaming.ledger import OffsetsLedger

    t, retries = _retried_transcripts(spark, sf_dir, stage=True)
    uid = F.substring("conv_id", 6, 8).cast("long")
    tmp = tempfile.mkdtemp(prefix="inc_tdedup_")
    try:
        ledger = OffsetsLedger(tmp, "tdedup")
        sink = incremental_transcript_dedup_sink(
            f"{tmp}/corpus", ledger, compact_every=2
        )
        for i in range(3):
            sink(t.filter(uid % 3 == i), i)
        sink(retries, 3)
        return (
            sink.read_output(spark)
            .groupBy("conv_fp", "conv_id")
            .agg(F.count(F.lit(1)).alias("n_turns"))
            .select("conv_fp", F.col("conv_id").alias("keep_conv_id"), "n_turns")
            .localCheckpoint(eager=True)
        )
    finally:  # don't leak the temp store when an epoch/read raises
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "turn_echo_stats",
    TRANSCRIPTS_CTE
    + r"""
, fps AS (
  SELECT conv_id, role, ts, turn_idx,
    cast(('0x' || substring(md5(
      trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                          '\s+', ' ', 'g'))), 1, 15))::bigint AS bigint) AS fp
  FROM transcripts
), lagged AS (
  SELECT conv_id, role, fp,
    lag(fp) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_fp,
    lag(role) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_role
  FROM fps
)
SELECT conv_id,
  count(*) AS n_turns,
  cast(sum(CASE WHEN fp = prev_fp THEN 1 ELSE 0 END) AS bigint) AS n_echo,
  cast(sum(CASE WHEN fp = prev_fp AND role <> prev_role THEN 1 ELSE 0 END)
    AS bigint) AS n_echo_cross,
  cast(sum(CASE WHEN fp = prev_fp THEN 1 ELSE 0 END) AS double) / count(*)
    AS echo_frac,
  sum(CASE WHEN fp = prev_fp THEN 1 ELSE 0 END) > 0 AS has_echo
FROM lagged
GROUP BY conv_id
""",
)
def q_turn_echo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-turn echo detection over real transcripts: turns whose
    normalized text repeats the previous turn verbatim (assistant
    parroting the user / double-written retries — a known SFT-data
    defect). Natural split: the synthetic event props collide often
    enough that ~0.2% of turns echo. Single exchange: the lag() window
    and the per-conversation aggregation share the derivation's user_id
    hash partitioning."""
    from arroyo_spark.operators import turn_echo_stats

    t = transcripts_from_events(spark, sf_dir, keep_user_id=True)
    return turn_echo_stats(
        t,
        key="conv_id",
        order=("ts", "turn_idx"),
        partition_by=["user_id"],
    )


@query(
    "role_transition_stats",
    TRANSCRIPTS_CTE
    + """
, lagged AS (
  SELECT conv_id, role,
    lag(role) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev_role
  FROM transcripts
), counts AS (
  SELECT prev_role AS from_role, role AS to_role, count(*) AS n_trans
  FROM lagged WHERE prev_role IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_role, to_role, n_trans,
  cast(n_trans AS double) / sum(n_trans) OVER (PARTITION BY from_role) AS frac
FROM counts
""",
)
def q_role_transition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide role-transition (Markov bigram) matrix: P(to|from) over
    adjacent turn pairs — a whole-corpus transcript-QA signal (user->user
    double-sends, tool->tool unconsumed results). One lag() window reusing
    the derivation's user_id exchange, then a groupBy over <=16 rows; the
    row-normalizing window runs on the tiny aggregate."""
    from arroyo_spark.operators import role_transition_stats

    t = transcripts_from_events(spark, sf_dir, keep_user_id=True)
    return role_transition_stats(
        t, key="conv_id", order=("ts", "turn_idx"), partition_by=["user_id"]
    )


@query(
    "tool_latency_stats",
    TRANSCRIPTS_CTE
    + """
, lagged AS (
  SELECT conv_id, role, tool,
    epoch_us(ts) - last_value(CASE WHEN role <> 'tool' THEN epoch_us(ts) END
        IGNORE NULLS)
      OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lat_us
  FROM transcripts
), calls AS (
  SELECT tool, lat_us FROM lagged WHERE tool IS NOT NULL AND role = 'tool'
)
SELECT tool,
  count(*) AS n_calls,
  count(lat_us) AS n_timed,
  quantile_cont(lat_us, 0.5) / 1000.0 AS p50_ms,
  quantile_cont(lat_us, 0.95) / 1000.0 AS p95_ms,
  max(lat_us) / 1000.0 AS max_ms,
  cast(sum(lat_us) AS double) / count(lat_us) / 1000.0 AS avg_ms
FROM calls
GROUP BY tool
""",
)
def q_tool_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool response-latency distribution: gap from the invoking turn
    to the tool turn, aggregated per tool as p50/p95/max/mean. Built on
    integer microseconds so sums are order-independent (hash-exact vs
    DuckDB); percentiles are exact order statistics. One lag() window on
    the reused user_id exchange + a groupBy over |tools|=4 keys."""
    from arroyo_spark.operators import tool_latency_stats

    t = transcripts_from_events(spark, sf_dir, keep_user_id=True)
    return tool_latency_stats(
        t, key="conv_id", order=("ts", "turn_idx"), partition_by=["user_id"]
    )


@query(
    "text_feature_hash",
    r"""
WITH norm AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                        '\s+', ' ', 'g')) AS nt
  FROM documents
), toks AS (
  SELECT doc_id, unnest(string_split(nt, ' ')) AS tok FROM norm WHERE nt <> ''
), h AS (
  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::bigint AS fp FROM toks
), tf AS (
  SELECT doc_id, fp, count(*) AS tf FROM h GROUP BY 1, 2
), nd AS (
  SELECT count(DISTINCT doc_id) AS n FROM tf
), idf AS (
  SELECT fp,
         cast(floor((ln((nd.n + 1.0) / (d.dfq + 1.0)) + 1.0) * 4096 + 0.5)
              AS bigint) AS idf_int
  FROM (SELECT fp, count(*) AS dfq FROM tf GROUP BY 1) d CROSS JOIN nd
), w AS (
  SELECT t.doc_id,
         cast(t.fp % 64 AS int) AS bucket,
         sum(t.tf * (1 - 2 * ((t.fp // 64) % 2)) * i.idf_int) AS w_int
  FROM tf t JOIN idf i USING (fp)
  GROUP BY 1, 2
), nrm AS (
  SELECT doc_id, sum(w_int * w_int) AS nsq FROM w GROUP BY 1
)
SELECT w.doc_id, w.bucket, w.w_int / sqrt(cast(nrm.nsq AS double)) AS weight
FROM w JOIN nrm USING (doc_id)
WHERE nrm.nsq > 0
""",
)
def q_text_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native text vectorization: signed feature hashing + smooth
    TF-IDF, L2-normalized — sparse (doc_id, bucket, weight) rows with no
    trained vocabulary and no Python. All accumulation is exact int64
    (quantized idf, the kmeans fixed-point pattern), so the DuckDB twin is
    hash-exact despite two engines doing 'floating-point' vectorization —
    only the final sqrt+divide touch IEEE, both correctly rounded from the
    same integers. Feeds the similarity family: these vectors are what
    cosine_topk/LSH/IVF consume when no embedding model is in the loop."""
    from arroyo_spark.operators.corpus import feature_hash_tfidf

    d = load_table(spark, sf_dir, "documents")
    return feature_hash_tfidf(d, id_col="doc_id", text_col="text", dim=64)


@query(
    "text_sparse_topk",
    r"""
WITH norm AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                        '\s+', ' ', 'g')) AS nt
  FROM documents
), toks AS (
  SELECT doc_id, unnest(string_split(nt, ' ')) AS tok FROM norm WHERE nt <> ''
), h AS (
  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::bigint AS fp FROM toks
), tf AS (
  SELECT doc_id, fp, count(*) AS tf FROM h GROUP BY 1, 2
), nd AS (
  SELECT count(DISTINCT doc_id) AS n FROM tf
), idf AS (
  SELECT fp,
         cast(floor((ln((nd.n + 1.0) / (d.dfq + 1.0)) + 1.0) * 4096 + 0.5)
              AS bigint) AS idf_int
  FROM (SELECT fp, count(*) AS dfq FROM tf GROUP BY 1) d CROSS JOIN nd
), w AS (
  SELECT t.doc_id,
         cast(t.fp % 64 AS int) AS bucket,
         sum(t.tf * (1 - 2 * ((t.fp // 64) % 2)) * i.idf_int) AS w_int
  FROM tf t JOIN idf i USING (fp)
  GROUP BY 1, 2
), nrm AS (
  SELECT doc_id, sum(w_int * w_int) AS nsq FROM w GROUP BY 1
), ints AS (
  SELECT w.doc_id, w.bucket, w.w_int, nrm.nsq
  FROM w JOIN nrm USING (doc_id) WHERE nrm.nsq > 0
), scored AS (
  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
         sum(q.w_int * c.w_int) AS dot_int,
         max(q.nsq) AS nsq_q, max(c.nsq) AS nsq_n
  FROM ints q JOIN ints c USING (bucket)
  WHERE q.doc_id < 50 AND c.doc_id <> q.doc_id
  GROUP BY 1, 2
), cs AS (
  SELECT query_id, neighbor_id,
         dot_int / (sqrt(cast(nsq_q AS double)) * sqrt(cast(nsq_n AS double)))
           AS cosine
  FROM scored
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM cs
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
""",
)
def q_text_sparse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free text similarity search, end to end: feature-hash the
    corpus (exact-int TF-IDF vectors), then inverted-index top-k — each
    query's non-zero buckets probe only docs sharing a bucket, query side
    broadcast, ONE exchange of (query, neighbor, int partial sums). The
    dot products stay in exact int64 (order-independent), so this whole
    text->vector->retrieval chain is hash-exact against DuckDB — an
    approximate-free certificate for the sparse retrieval shape that at
    10^12 docs replaces dense brute force. The int vector relation is
    staged once (localCheckpoint) since corpus AND query sides consume it."""
    from arroyo_spark.operators.corpus import feature_hash_ints, sparse_cosine_topk

    d = load_table(spark, sf_dir, "documents")
    ints = feature_hash_ints(d, id_col="doc_id", text_col="text", dim=64)
    ints = ints.localCheckpoint(eager=True)  # diamond: corpus + query sides
    return sparse_cosine_topk(ints, ints.filter(F.col("doc_id") < 50), k=5)


@query(
    "bm25_topk",
    r"""
WITH norm AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                        '\s+', ' ', 'g')) AS nt
  FROM documents
), toks AS (
  SELECT doc_id, unnest(string_split(nt, ' ')) AS tok FROM norm WHERE nt <> ''
), h AS (
  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::bigint AS fp FROM toks
), tf AS (
  SELECT doc_id, fp, count(*) AS tf FROM h GROUP BY 1, 2
), dlen AS (
  SELECT doc_id, sum(tf) AS len FROM tf GROUP BY 1
), tot AS (
  SELECT count(*) AS n_docs, sum(len) AS total_len FROM dlen
), idf AS (
  SELECT fp, tot.n_docs, tot.total_len,
         cast(floor(ln((tot.n_docs - d.dfq + 0.5) / (d.dfq + 0.5) + 1.0)
                    * 4096 + 0.5) AS bigint) AS idf_int
  FROM (SELECT fp, count(*) AS dfq FROM tf GROUP BY 1) d CROSS JOIN tot
), post AS (
  SELECT t.doc_id, t.fp,
         cast(floor(i.idf_int * ((t.tf * 2.2) / (t.tf + 1.2 *
                (0.25 + 0.75 * (l.len * i.n_docs) / i.total_len)))
              + 0.5) AS bigint) AS s_int
  FROM tf t JOIN dlen l USING (doc_id) JOIN idf i USING (fp)
), qt AS (
  SELECT DISTINCT doc_id AS query_id, fp FROM h WHERE doc_id < 50
), scored AS (
  SELECT q.query_id, p.doc_id AS neighbor_id, sum(p.s_int) AS score_int
  FROM qt q JOIN post p USING (fp)
  WHERE p.doc_id <> q.query_id
  GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score_int DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, score_int / 4096.0 AS score, rank
FROM ranked WHERE rank <= 5
""",
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (query-by-example over the documents
    corpus): the standard ranking function of every text search engine,
    here with an integer-exact score — idf on a fixed-point grid, the
    tf-saturation term a fixed-order IEEE expression of exact ints,
    per-(doc,term) partials floored back to the grid and int-summed.
    Ranking on the integer score makes the top-k row set itself
    engine-independent, so an inherently float ranking function holds a
    hash-exact SQL contract."""
    from arroyo_spark.operators.corpus import bm25_topk

    d = load_table(spark, sf_dir, "documents")
    return bm25_topk(d, d.filter(F.col("doc_id") < 50), k=5)


@query(
    "hybrid_rrf_topk",
    r"""
WITH norm AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                        '\s+', ' ', 'g')) AS nt
  FROM documents
), toks AS (
  SELECT doc_id, unnest(string_split(nt, ' ')) AS tok FROM norm WHERE nt <> ''
), h AS (
  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::bigint AS fp FROM toks
), tf AS (
  SELECT doc_id, fp, count(*) AS tf FROM h GROUP BY 1, 2
), nd AS (
  SELECT count(DISTINCT doc_id) AS n FROM tf
), sidf AS (
  SELECT fp,
         cast(floor((ln((nd.n + 1.0) / (d.dfq + 1.0)) + 1.0) * 4096 + 0.5)
              AS bigint) AS idf_int
  FROM (SELECT fp, count(*) AS dfq FROM tf GROUP BY 1) d CROSS JOIN nd
), w AS (
  SELECT t.doc_id,
         cast(t.fp % 64 AS int) AS bucket,
         sum(t.tf * (1 - 2 * ((t.fp // 64) % 2)) * i.idf_int) AS w_int
  FROM tf t JOIN sidf i USING (fp)
  GROUP BY 1, 2
), nrm AS (
  SELECT doc_id, sum(w_int * w_int) AS nsq FROM w GROUP BY 1
), ints AS (
  SELECT w.doc_id, w.bucket, w.w_int, nrm.nsq
  FROM w JOIN nrm USING (doc_id) WHERE nrm.nsq > 0
), s_scored AS (
  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
         sum(q.w_int * c.w_int) AS dot_int,
         max(q.nsq) AS nsq_q, max(c.nsq) AS nsq_n
  FROM ints q JOIN ints c USING (bucket)
  WHERE q.doc_id < 50 AND c.doc_id <> q.doc_id
  GROUP BY 1, 2
), s_ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY
           dot_int / (sqrt(cast(nsq_q AS double)) * sqrt(cast(nsq_n AS double)))
           DESC, neighbor_id) AS rank
  FROM s_scored
), dlen AS (
  SELECT doc_id, sum(tf) AS len FROM tf GROUP BY 1
), tot AS (
  SELECT count(*) AS n_docs, sum(len) AS total_len FROM dlen
), bidf AS (
  SELECT fp, tot.n_docs, tot.total_len,
         cast(floor(ln((tot.n_docs - d.dfq + 0.5) / (d.dfq + 0.5) + 1.0)
                    * 4096 + 0.5) AS bigint) AS idf_int
  FROM (SELECT fp, count(*) AS dfq FROM tf GROUP BY 1) d CROSS JOIN tot
), post AS (
  SELECT t.doc_id, t.fp,
         cast(floor(i.idf_int * ((t.tf * 2.2) / (t.tf + 1.2 *
                (0.25 + 0.75 * (l.len * i.n_docs) / i.total_len)))
              + 0.5) AS bigint) AS s_int
  FROM tf t JOIN dlen l USING (doc_id) JOIN bidf i USING (fp)
), qt AS (
  SELECT DISTINCT doc_id AS query_id, fp FROM h WHERE doc_id < 50
), b_scored AS (
  SELECT q.query_id, p.doc_id AS neighbor_id, sum(p.s_int) AS score_int
  FROM qt q JOIN post p USING (fp)
  WHERE p.doc_id <> q.query_id
  GROUP BY 1, 2
), b_ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_int DESC, neighbor_id) AS rank
  FROM b_scored
), unioned AS (
  SELECT query_id, neighbor_id, rank FROM b_ranked WHERE rank <= 10
  UNION ALL
  SELECT query_id, neighbor_id, rank FROM s_ranked WHERE rank <= 10
), fused AS (
  SELECT query_id, neighbor_id, sum(1.0 / (60.0 + rank)) AS rrf
  FROM unioned GROUP BY 1, 2
)
SELECT query_id, neighbor_id, rrf,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY rrf DESC, neighbor_id) AS fused_rank
FROM fused
QUALIFY fused_rank <= 5
""",
)
def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval capstone: BM25 (lexical) and sparse TF-IDF cosine
    (vector) top-10 lists fused by reciprocal-rank fusion into a final
    top-5 — the standard two-tower search stack, entirely engine-native.
    Both underlying rankings are integer-exact (their own oracle-certified
    contracts), ranks feed 1/(60+rank) terms whose ≤2-way sums are exact
    by IEEE commutativity — so even the FUSED ranking holds a hash-exact
    SQL contract. Three certified systems composing bit-reproducibly."""
    from arroyo_spark.operators.corpus import (
        bm25_topk,
        feature_hash_ints,
        rrf_fuse,
        sparse_cosine_topk,
        term_freqs,
    )

    d = load_table(spark, sf_dir, "documents")
    # ONE tokenize->hash->tf pass feeds both towers (the dominant map-side
    # cost); staged so neither tower recomputes it
    tf = term_freqs(d, "doc_id", "text").localCheckpoint(eager=True)
    ints = feature_hash_ints(d, id_col="doc_id", text_col="text", dim=64, tf=tf)
    ints = ints.localCheckpoint(eager=True)  # corpus + query sides
    sp = sparse_cosine_topk(ints, ints.filter(F.col("doc_id") < 50), k=10)
    bm = bm25_topk(d, d.filter(F.col("doc_id") < 50), k=10, tf=tf)
    return rrf_fuse([bm, sp], k0=60, k=5)


@query(
    "clustered_scan",
    TRANSCRIPTS_CTE
    + """
SELECT conv_id, turn_idx, role, text, tool, ts
FROM transcripts
WHERE conv_id BETWEEN 'conv-00000002' AND 'conv-00000004'
  AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
""",
)
def q_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout round trip: the transcript stream is rewritten
    Z-ordered on (conv_id, ts) (``sources/layout.py::write_zordered`` —
    Morton-interleaved quantile buckets, range exchange + in-file sort),
    then read back through a scan carrying BOTH predicate shapes the
    layout exists for: a conv_id point/prefix lookup and a ts range.
    The oracle applies the same filter to the raw table, so hash equality
    certifies the layout write loses nothing — including timestamps at
    exact micros precision (TIMESTAMP_MICROS; INT96 would round-trip but
    carry no stats). The pruning itself (admit fractions) is measured in
    tests/test_layout.py; at 10^12 turns this rewrite is the one-shuffle
    cost that turns every later lookup/backfill from a full decode into
    O(matching row groups)."""
    import shutil
    import tempfile

    from arroyo_spark.sources import write_zordered

    # localCheckpoint: the quantile sketches + the write are each driver-
    # triggered reads of the input; without staging, the window-over-events
    # transcripts derivation re-executes ~5x (measured by review).
    t = transcripts_from_events(spark, sf_dir).localCheckpoint(eager=True)
    tmp = tempfile.mkdtemp(prefix="layout_q_")
    try:
        # 6 bits/col = 64 quantile buckets per dimension — ample Z-resolution
        # over 8 files, and the per-row bucket fold (2^bits comparisons/col)
        # is 4x cheaper than the 8-bit default (measured 5.2s -> ~2s at sf0.1)
        write_zordered(t, f"{tmp}/z", ["conv_id", "ts"], n_files=8, bits_per_col=6)
        out = (
            spark.read.parquet(f"{tmp}/z")
            .filter(
                F.col("conv_id").between("conv-00000002", "conv-00000004")
                & (F.col("ts") >= F.lit("2024-01-05").cast("timestamp"))
                & (F.col("ts") < F.lit("2024-01-20").cast("timestamp"))
            )
            .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        )
        return out.localCheckpoint(eager=True)
    finally:  # don't leak the temp layout when the write/read raises
        shutil.rmtree(tmp, ignore_errors=True)


def queries() -> dict[str, QueryFn]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
