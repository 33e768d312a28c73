from arroyo_spark.streaming.commit import (  # noqa: F401
    CommitPolicy,
    CommitPolicyState,
    IMMEDIATE,
    ONCE_PER_SECOND,
)
from arroyo_spark.streaming.ledger import OffsetsLedger  # noqa: F401
from arroyo_spark.streaming.dlq import (  # noqa: F401
    DlqLimit,
    DlqLimitExceeded,
    DlqLimitState,
    split_dlq,
)
from arroyo_spark.streaming.sink import ExactlyOnceSink  # noqa: F401
from arroyo_spark.streaming.processor import FileStreamSource, StreamProcessor  # noqa: F401
from arroyo_spark.streaming.sources import (  # noqa: F401
    StreamSource,
    build_kafka_consumer_options,
    iceberg_source,
    kafka_source,
    rate_source,
    validate_kafka_options,
)
from arroyo_spark.streaming.produce import (  # noqa: F401
    PipeTopic,
    kafka_writer,
    produce_chain,
    to_kafka_records,
)
from arroyo_spark.streaming.metrics import METRIC_MAP  # noqa: F401
from arroyo_spark.streaming.codecs import (  # noqa: F401
    BINARY_JSON,
    JSON,
    BinaryJsonCodec,
    ColumnCodec,
    JsonCodec,
)
from arroyo_spark.streaming.profiler import QueryProfiler, stage_metrics  # noqa: F401
