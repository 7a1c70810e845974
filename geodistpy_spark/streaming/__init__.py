from .ingest import (
    stream_dedup_exact,
    stream_extract_geo,
    stream_geofence,
    stream_windowed_event_counts,
)
from .stateful import stream_sessionize

__all__ = ["stream_dedup_exact", "stream_extract_geo", "stream_geofence",
           "stream_windowed_event_counts", "stream_sessionize"]
