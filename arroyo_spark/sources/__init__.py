from arroyo_spark.sources.layout import (  # noqa: F401
    rowgroup_admit_stats,
    write_clustered,
    write_zordered,
    zorder_key,
)
from arroyo_spark.sources.tables import (  # noqa: F401
    load_table,
    transcripts_from_events,
    TRANSCRIPTS_FROM_EVENTS_SQL,
)
