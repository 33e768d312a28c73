"""Batch sources: the driver-generated parquet tables + derived views.

``transcripts_from_events`` derives a transcripts-shaped table (input_hint
schema) deterministically from ``events.parquet`` using only expressions
that exist identically in Spark SQL and DuckDB, so every transcript
operator can be oracle-checked by the driver at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# The derivation, written once as ANSI SQL runnable by BOTH Spark and DuckDB.
# conv_id <- user_id; turn order <- (ts, event_id); role <- event_type;
# tool turns <- 'error' events (deterministic tool pick by event_id % 4).
# _TRANSCRIPTS_SQL_TEMPLATE carries an {extra_cols} hole (internal);
# TRANSCRIPTS_FROM_EVENTS_SQL below is the formatted, directly-runnable
# default (ADVICE r4: the exported string must execute verbatim).
_TRANSCRIPTS_SQL_TEMPLATE = """
SELECT
  concat('conv-', lpad(cast(user_id AS string), 8, '0'))                 AS conv_id,
  cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS int)
                                                                         AS turn_idx,
  CASE event_type
    WHEN 'view' THEN 'user'
    WHEN 'click' THEN 'assistant'
    WHEN 'purchase' THEN 'assistant'
    WHEN 'signup' THEN 'system'
    ELSE 'tool'
  END                                                                    AS role,
  concat(event_type, ' ', props)                                         AS text,
  CASE WHEN event_type = 'error' THEN
    CASE cast(event_id % 4 AS int)
      WHEN 0 THEN 'search' WHEN 1 THEN 'python' WHEN 2 THEN 'bash' ELSE 'sql'
    END
  END                                                                    AS tool,
  ts{extra_cols}
FROM events
"""

TRANSCRIPTS_FROM_EVENTS_SQL = _TRANSCRIPTS_SQL_TEMPLATE.format(extra_cols="")


def transcripts_from_events(
    spark: SparkSession, sf_dir: str, keep_user_id: bool = False
) -> DataFrame:
    """Transcripts view over events.parquet (oracle-mirrorable).

    ``keep_user_id`` additionally carries the raw partition key through:
    conv_id is derived 1:1 from user_id, but Catalyst cannot know
    hashpartitioning(conv_id) == hashpartitioning-equivalent of user_id —
    downstream per-conversation window/group operators that partition by
    the retained ``user_id`` column REUSE the derivation window's exchange
    instead of re-shuffling the whole transcript stream."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_TRANSCRIPTS_SQL_TEMPLATE.format(
        extra_cols=", user_id" if keep_user_id else ""
    ))
