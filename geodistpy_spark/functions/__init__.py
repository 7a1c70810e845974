from .expressions import (
    bearing_sphere_deg,
    cell_id_col,
    cell_x,
    cell_y,
    great_circle_m,
    haversine_m,
    normalize_lon,
    parent_cell_col,
    to_unit,
    validate_coords,
)
from .udfs import (
    destination_udf,
    interpolate_udf,
    vincenty_udf,
)

__all__ = [
    "bearing_sphere_deg", "cell_id_col", "cell_x", "cell_y",
    "great_circle_m", "haversine_m", "normalize_lon", "parent_cell_col",
    "to_unit", "validate_coords", "destination_udf", "interpolate_udf",
    "vincenty_udf",
]
