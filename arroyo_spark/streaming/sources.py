"""Stream source seam — the broker-facing edge of the engine.

The reference's center of gravity is a 971-line Kafka consumer
(/root/reference/arroyo/backends/kafka/consumer.py:116-756) whose
offsets/seek/pause/rebalance contract is tested by
/root/reference/tests/backends/mixins.py:16. In Spark every one of those
mechanics (partition assignment, offset tracking, rebalance, pause=admission
control) is owned by the Structured Streaming source connector; the engine's
seam is just *which* connector + options. ``StreamSource`` makes that seam a
tested object rather than a docstring claim: the same ``StreamProcessor``
runs over file, rate, kafka, or iceberg sources by swapping the source
(the parquet file source is ``processor.FileStreamSource``).

Admission control (the reference's backpressure/pause analog) is the
per-trigger cap option: maxFilesPerTrigger / maxOffsetsPerTrigger /
rate rowsPerSecond.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class StreamSource:
    """A readStream recipe: format + options (+ optional schema/path/decode).

    ``decode`` runs right after the read — e.g. Kafka's key/value binary
    columns to the typed transcript schema.
    """

    format: str
    options: dict[str, str] = field(default_factory=dict)
    schema: T.StructType | None = None
    path: str | None = None
    decode: Callable[[DataFrame], DataFrame] | None = None

    def __call__(self, spark: SparkSession) -> DataFrame:
        reader = spark.readStream.format(self.format)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        for k, v in self.options.items():
            reader = reader.option(k, str(v))
        df = reader.load(self.path) if self.path is not None else reader.load()
        return self.decode(df) if self.decode is not None else df


def rate_source(rows_per_second: int = 1000, num_partitions: int = 8) -> StreamSource:
    """Built-in rate source shaped to the transcript schema (synthetic
    infinite stream — smoke-tests the processor/sink path without files)."""

    def decode(df: DataFrame) -> DataFrame:
        v = F.col("value")
        return df.select(
            F.format_string("conv-%08d", v % 1000).alias("conv_id"),
            (v % 50).cast("int").alias("turn_idx"),
            F.when(v % 2 == 0, "user").otherwise("assistant").alias("role"),
            F.concat(F.lit("rate turn "), v.cast("string")).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.col("timestamp").alias("ts"),
            (v % F.lit(num_partitions)).cast("int").alias("partition"),
            (v / num_partitions).cast("long").alias("offset"),
        )

    return StreamSource(
        format="rate",
        options={"rowsPerSecond": str(rows_per_second), "numPartitions": str(num_partitions)},
        decode=decode,
    )


# -- Kafka option validation (the reference's configuration seam) -----------
#
# Mirrors /root/reference/arroyo/backends/kafka/configuration.py:23-212
# (build_kafka_configuration / build_kafka_consumer_configuration): options
# are validated and defaulted at CONSTRUCTION time, so a typo'd or
# engine-owned config fails fast with a pointed message instead of being
# silently ignored by the connector at runtime. The Spark analog differs in
# WHAT is validated — Spark's Kafka source owns commit/deserialization, so
# the librdkafka configs the reference force-sets (enable.auto.commit=False,
# configuration.py:196-198) become *forbidden* pass-throughs here.

# Spark structured-streaming Kafka source options (spelling per the
# spark-sql-kafka connector docs) -> value shape.
_KAFKA_SOURCE_OPTION_SHAPES: dict[str, str] = {
    "kafka.bootstrap.servers": "str",
    "subscribe": "str",
    "subscribepattern": "str",
    "assign": "str",
    "startingoffsets": "offsets",
    "startingoffsetsbytimestamp": "str",
    "startingtimestamp": "int",
    "startingoffsetsbytimestampstrategy": "str",
    "endingoffsets": "offsets",
    "endingoffsetsbytimestamp": "str",
    "endingtimestamp": "int",
    "maxrecordsperpartition": "posint",
    "maxoffsetspertrigger": "posint",
    "minoffsetspertrigger": "posint",
    "maxtriggerdelay": "duration",
    "minpartitions": "posint",
    "failondataloss": "bool",
    "includeheaders": "bool",
    "groupidprefix": "str",
    "kafkaconsumer.polltimeoutms": "posint",
    "fetchoffset.numretries": "posint",
    "fetchoffset.retryintervalms": "posint",
}

# kafka.* passthroughs the engine owns (reference: configuration.py:196-206
# forces enable.auto.commit/enable.auto.offset.store off because arroyo's
# commit policy owns offsets; Spark's connector likewise rejects these).
_FORBIDDEN_KAFKA_PASSTHROUGH: dict[str, str] = {
    "kafka.auto.offset.reset": "use startingOffsets (engine-owned)",
    "kafka.enable.auto.commit": (
        "the exactly-once sink's ledger owns commits "
        "(reference configuration.py:196: enable.auto.commit=False)"
    ),
    "kafka.enable.auto.offset.store": "ledger-owned (configuration.py:197)",
    "kafka.key.deserializer": "the source reads binary; decode via the codec seam",
    "kafka.value.deserializer": "the source reads binary; decode via the codec seam",
    "kafka.interceptor.classes": "not supported by the Spark Kafka source",
}

_SUBSCRIPTION_MODES = ("subscribe", "subscribepattern", "assign")


def validate_kafka_options(
    options: dict[str, str], strict: bool = True
) -> dict[str, str]:
    """Validate + normalize Kafka source options; raises ValueError early.

    Checks (construction-time, no broker needed — same stance as the
    reference's build_kafka_consumer_configuration):
    - exactly one subscription mode (subscribe / subscribePattern / assign)
    - kafka.bootstrap.servers present and non-empty
    - known non-``kafka.``-prefixed options only (typo guard), with
      per-option shape checks (ints positive, bools boolean, offsets one of
      earliest/latest/{json})
    - engine-owned kafka.* configs rejected with the replacement named

    ``strict=False`` downgrades the unknown-option rejection to a warning
    and passes the option through verbatim — the escape hatch for connector
    options newer than this list (shape checks and the engine-owned
    rejections still apply; the typo guard is the only thing relaxed).

    Returns the options dict with every value stringified.
    """
    out: dict[str, str] = {}
    lower_seen: set[str] = set()
    for k, v in options.items():
        lk = k.lower()
        sv = str(v)
        if lk.startswith("kafka."):
            if lk in _FORBIDDEN_KAFKA_PASSTHROUGH:
                raise ValueError(
                    f"kafka option {k!r} is engine-owned: "
                    f"{_FORBIDDEN_KAFKA_PASSTHROUGH[lk]}"
                )
            # other kafka.* configs pass through to the client unchecked
            # (same as the reference's override_params update,
            # configuration.py:40-41)
            out[k] = sv
            lower_seen.add(lk)
            continue
        shape = _KAFKA_SOURCE_OPTION_SHAPES.get(lk)
        if shape is None:
            import difflib

            hint = difflib.get_close_matches(lk, _KAFKA_SOURCE_OPTION_SHAPES, n=1)
            msg = f"unknown Kafka source option {k!r}" + (
                f" — did you mean {hint[0]!r}?" if hint else ""
            )
            if strict:
                raise ValueError(msg)
            import warnings

            warnings.warn(msg + " (passed through, strict=False)", stacklevel=2)
            out[k] = sv
            lower_seen.add(lk)
            continue
        if shape in ("posint", "int"):
            try:
                iv = int(sv)
            except ValueError:
                raise ValueError(f"option {k!r} must be an integer, got {sv!r}") from None
            if shape == "posint" and iv <= 0:
                raise ValueError(f"option {k!r} must be > 0, got {iv}")
        elif shape == "bool":
            if sv.lower() not in ("true", "false"):
                raise ValueError(f"option {k!r} must be true/false, got {sv!r}")
        elif shape == "offsets":
            if sv not in ("earliest", "latest") and not sv.lstrip().startswith("{"):
                raise ValueError(
                    f"option {k!r} must be earliest, latest, or a "
                    f"per-partition JSON object, got {sv!r}"
                )
        out[k] = sv
        lower_seen.add(lk)
    modes = [m for m in _SUBSCRIPTION_MODES if m in lower_seen]
    if len(modes) != 1:
        raise ValueError(
            "exactly one of subscribe / subscribePattern / assign is "
            f"required, got {modes or 'none'}"
        )
    if not out.get("kafka.bootstrap.servers"):
        raise ValueError("kafka.bootstrap.servers is required and non-empty")
    return out


def build_kafka_consumer_options(
    bootstrap_servers: str | list[str],
    topic: str,
    group_id: str | None = None,
    auto_offset_reset: str = "earliest",
    strict_offset_reset: bool | None = None,
    max_offsets_per_trigger: int | None = None,
    queued_max_messages_kbytes: int | None = None,
    override_params: dict[str, str] | None = None,
) -> dict[str, str]:
    """The reference's consumer-config builder, re-expressed for the Spark
    connector (configuration.py:168-212 contract):

    - ``auto_offset_reset`` (default ``earliest``, same default as
      configuration.py:180-181) -> ``startingOffsets``
    - ``strict_offset_reset`` (arroyo flag: error on reset-out-of-range)
      -> ``failOnDataLoss`` — True means a lost offset fails the query
    - ``group_id`` -> ``kafka.group.id`` (Spark manages its own group
      otherwise via ``groupIdPrefix``)
    - ``queued_max_messages_kbytes`` (librdkafka prefetch bound,
      DEFAULT_QUEUED_MAX_MESSAGE_KBYTES=50000 at configuration.py:17) ->
      ``kafka.fetch.max.bytes`` for the JVM client; the companion
      queued.min.messages knob has no byte-equivalent — per-trigger
      admission (``max_offsets_per_trigger``) is the Spark-native bound
    - ``override_params`` update LAST, then the whole dict is validated
    """
    servers = (
        ",".join(bootstrap_servers)
        if isinstance(bootstrap_servers, (list, tuple))
        else bootstrap_servers
    )
    if auto_offset_reset not in ("earliest", "latest"):
        raise ValueError(
            f"auto_offset_reset must be earliest or latest, got {auto_offset_reset!r}"
        )
    opts: dict[str, str] = {
        "kafka.bootstrap.servers": servers,
        "subscribe": topic,
        "startingOffsets": auto_offset_reset,
    }
    if group_id is not None:
        opts["kafka.group.id"] = group_id
    if strict_offset_reset is not None:
        opts["failOnDataLoss"] = "true" if strict_offset_reset else "false"
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if queued_max_messages_kbytes is None:
        queued_max_messages_kbytes = 50000  # reference default, configuration.py:17
    opts["kafka.fetch.max.bytes"] = str(queued_max_messages_kbytes * 1024)
    if override_params:
        opts.update({k: str(v) for k, v in override_params.items()})
    return validate_kafka_options(opts)


def kafka_source(
    bootstrap_servers: str,
    topic: str,
    value_schema: T.StructType | None = None,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    codec=None,
    strict_options: bool = True,
    **extra_options: str,
) -> StreamSource:
    """Kafka topic stream (the reference consumer's seam).

    The connector owns partition assignment, offset tracking and rebalance;
    ``maxOffsetsPerTrigger`` is the pause/backpressure analog. ``decode``
    maps the binary envelope to the typed schema + (partition, offset)
    lineage columns — the BrokerValue contract
    (/root/reference/arroyo/types.py:158-196). Requires the Kafka connector
    jar on the cluster (not in this sandbox — constructor + decode logic are
    unit-tested; the live path is exercised via rate/file sources).
    """
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        **{k: str(v) for k, v in extra_options.items()},
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    opts = validate_kafka_options(opts, strict=strict_options)

    def decode(df: DataFrame) -> DataFrame:
        from arroyo_spark.streaming.codecs import JSON

        cdc = codec if codec is not None else JSON
        out = df.select(
            F.col("partition").cast("int").alias("partition"),
            F.col("offset").cast("long").alias("offset"),
            F.col("timestamp").alias("ts"),
            F.col("value").alias("_wire"),
        )
        if value_schema is not None:
            payload_fields = [f.name for f in value_schema.fields if f.name != "ts"]
            out = out.select(
                "partition",
                "offset",
                "ts",
                # codec seam (arroyo/utils/codecs.py contract): the same
                # ColumnCodec used by to_kafka_records decodes the envelope
                cdc.decode(F.col("_wire"), value_schema).alias("_payload"),
            ).select("partition", "offset", "ts", *[f"_payload.{c}" for c in payload_fields])
        return out

    return StreamSource(format="kafka", options=opts, decode=decode)


def iceberg_source(
    table: str,
    stream_from_timestamp: str | None = None,
    max_files_per_trigger: int | None = None,
    **extra_options: str,
) -> StreamSource:
    """Iceberg table incremental-scan stream (the north_star's 10^12-turn
    transcript table). The connector streams appended snapshots; admission =
    files per micro-batch. Requires the iceberg-spark runtime jar + catalog
    conf on the cluster (not in this sandbox)."""
    opts = dict(extra_options)
    if stream_from_timestamp is not None:
        opts["stream-from-timestamp"] = stream_from_timestamp
    if max_files_per_trigger is not None:
        opts["streaming-max-files-per-micro-batch"] = str(max_files_per_trigger)
    return StreamSource(format="iceberg", options=opts, path=table)
