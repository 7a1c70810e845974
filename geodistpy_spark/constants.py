"""Ellipsoid registry and unit-conversion factors.

Semantics contract mirrors the reference library (geodistpy):
- named ellipsoids + custom ``(a, f)`` tuples with validation
  (reference: geodesic.py:40-81),
- metric factors for meter/km/mile/nmi (reference: distance.py:60-83).

All values are public geodesy constants (WGS-84 et al.).
"""

from __future__ import annotations

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563

#: name -> (semi-major axis a [m], flattening f)
ELLIPSOIDS: dict[str, tuple[float, float]] = {
    "WGS-84": (6378137.0, 1.0 / 298.257223563),
    "GRS-80": (6378137.0, 1.0 / 298.257222101),
    "Airy (1830)": (6377563.396, 1.0 / 299.3249646),
    "Intl 1924": (6378388.0, 1.0 / 297.0),
    "Clarke (1880)": (6378249.145, 1.0 / 293.465),
    "GRS-67": (6378160.0, 1.0 / 298.25),
}

#: metric name -> multiplier applied to meters
UNIT_FACTORS: dict[str, float] = {
    "meter": 1.0,
    "m": 1.0,
    "km": 1e-3,
    "mile": 1.0 / 1609.344,
    "nmi": 1.0 / 1852.0,
}

#: mean earth radius used by the haversine formula (IUGG mean radius)
EARTH_RADIUS_M = 6371009.0


def resolve_ellipsoid(ellipsoid: str | tuple[float, float] = "WGS-84") -> tuple[float, float]:
    """Resolve a named ellipsoid or validate a custom ``(a, f)`` tuple."""
    if isinstance(ellipsoid, str):
        try:
            return ELLIPSOIDS[ellipsoid]
        except KeyError:
            raise ValueError(
                f"unknown ellipsoid {ellipsoid!r}; known: {sorted(ELLIPSOIDS)}"
            ) from None
    a, f = float(ellipsoid[0]), float(ellipsoid[1])
    if not a > 0:
        raise ValueError(f"ellipsoid semi-major axis must be > 0, got {a}")
    if not 0 <= f < 1:
        raise ValueError(f"ellipsoid flattening must be in [0, 1), got {f}")
    return a, f


#: absolute float allowance (meters) of a haversine value: two spellings
#: of one point (lon +-180, any lon at a pole) are ~1e-9 m apart, not 0
HAV_ROUND_M = 1e-6


def hav_bounds(a: float, f: float, exact: bool = True) -> tuple[float, float]:
    """``(inner, outer)`` with ``inner * d <= hav_a <= outer * d`` for
    every pair of points, where ``hav_a`` is the haversine on the sphere
    of radius ``a`` over geodetic (lat, lon) and ``d`` the geodesic
    distance on ``(a, f)`` (``exact=False``: its Andoyer-Lambert
    approximation), up to ``HAV_ROUND_M``.

    Geodetic (lat, lon) is the Gauss map of the surface normal, and
    every principal radius of curvature lies in ``[a(1-f)^2, a/(1-f)]``,
    so ``(1-f) * s <= hav_a <= s / (1-f)^2``. Andoyer-Lambert's error
    ``|AL/s - 1| <= f`` folds into both factors. A relative 1e-7 covers
    float rounding (1e-8 at near-antipodal pairs).
    """
    inner, outer = 1.0 - f, 1.0 / (1.0 - f) ** 2
    if not exact:
        inner, outer = inner / (1.0 + f), outer / (1.0 - f)
    return inner * (1.0 - 1e-7), outer * (1.0 + 1e-7)


def unit_factor(metric: str) -> float:
    """Meters -> requested unit multiplier (reference: distance.py:60-83)."""
    try:
        return UNIT_FACTORS[metric]
    except KeyError:
        raise ValueError(
            f"unknown metric {metric!r}; known: {sorted(UNIT_FACTORS)}"
        ) from None
