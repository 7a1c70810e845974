from .documents import (
    SPANS_SCHEMA_DDL,
    explode_spans,
    extract_geo_spans,
    extract_media_spans,
    geotag_text_spans,
    reassemble_spans,
    span_fingerprint,
    simplify_path,
    span_path_stats,
    verify_roundtrip,
    verify_span_sequence,
)
from .fixtures import ensure_default_fixtures, write_fixtures
from .io import (
    adaptive_partitions_for_cover,
    cells_to_partitions,
    read_adaptive_for_radius,
    read_documents,
    write_adaptive_partitioned,
    write_bucketed_cells,
    write_cell_partitioned,
    write_documents,
)
from .resolver import coordinates_from_df, resolve_coordinate_columns

__all__ = [
    "SPANS_SCHEMA_DDL", "explode_spans", "extract_geo_spans",
    "extract_media_spans", "geotag_text_spans", "reassemble_spans",
    "simplify_path", "span_fingerprint", "span_path_stats",
    "verify_roundtrip", "verify_span_sequence",
    "ensure_default_fixtures", "write_fixtures",
    "adaptive_partitions_for_cover", "cells_to_partitions",
    "read_adaptive_for_radius", "read_documents",
    "write_adaptive_partitioned", "write_bucketed_cells",
    "write_cell_partitioned", "write_documents",
    "coordinates_from_df", "resolve_coordinate_columns",
]
