from .ingest import (  # noqa: F401
    incremental_refresh,
    stream_events_rollup,
)
