"""Hierarchical lat/lon quad-grid cell index (H3/S2 stand-in).

No h3/s2 wheels exist in this environment, so the engine implements a
hierarchical equirectangular quad-grid natively (SURVEY.md §2.4):

- resolution ``r`` divides the globe into ``2^r × 2^r`` cells
  (lon ∈ [-180, 180) wrapping, lat ∈ [-90, 90] clamped),
- ``cell_id = y * 2^r + x`` as a 64-bit integer — *plain integer math*,
  identically computable as a Spark Column expression, in ANSI SQL
  (DuckDB oracle), and in numpy,
- the ancestor ``s`` levels up is ``(y >> s) * 2^(r-s) + (x >> s)``
  (:func:`parent_cell`, ints or int64 arrays; the Column twin is
  ``expressions.parent_cell_col``),
- neighbor enumeration wraps in x (antimeridian) and clamps in y
  (polar caps).

:func:`cap_covers` is the one cap cover: vectorized over points, flat
``(offsets, cells)`` out, per-row longitude spans (so polar caps stay
proportional to their area). The radius and kNN joins run it inside an
Arrow UDF; the driver-side generators (:func:`cap_cover`,
:func:`k_ring`) produce the small cell-id sets that get broadcast into
joins. They only ever touch cell ids, never data rows. Cover
conservativeness (every point within ``radius_m`` geodesic meters of
the center lands in a covered cell) is what makes the cell-prefilter +
exact-refine join strategy *exact* (reference punts at >100k
candidates: docs/spatial-queries.md:286-289).
"""

from __future__ import annotations

import math

import numpy as np

from .constants import HAV_ROUND_M, WGS84_A, WGS84_F, hav_bounds

MAX_RES = 25


def nx(res: int) -> int:
    return 1 << res


def cell_xy(lat: float, lon: float, res: int) -> tuple[int, int]:
    """(x, y) cell coordinates of a point; lon wraps, lat clamps."""
    n = nx(res)
    x = int(math.floor(((lon + 180.0) % 360.0) / 360.0 * n))
    x = min(max(x, 0), n - 1)
    y = int(math.floor((lat + 90.0) / 180.0 * n))
    y = min(max(y, 0), n - 1)
    return x, y


def cell_id(lat: float, lon: float, res: int) -> int:
    x, y = cell_xy(lat, lon, res)
    return y * nx(res) + x


def cell_id_np(lat, lon, res: int) -> np.ndarray:
    """Vectorized cell ids (numpy) — same math as the Column expression,
    including its non-finite contract: NaN/±Inf coordinates yield -1
    (the numpy stand-in for the Column's NULL — np.clip(NaN) would
    otherwise floor/clip into a garbage-but-valid cell id, making the
    two API surfaces disagree on the same bad input)."""
    n = nx(res)
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        x = np.floor(np.mod(lon + 180.0, 360.0) / 360.0 * n)
        x = np.clip(x, 0, n - 1).astype(np.int64)
        y = np.floor((lat + 90.0) / 180.0 * n)
        y = np.clip(y, 0, n - 1).astype(np.int64)
    cells = y * n + x
    bad = ~(np.isfinite(lat) & np.isfinite(lon))
    if bad.any():
        cells = np.where(bad, np.int64(-1), cells)
    return cells


def parent_cell(cell, res: int, parent_res: int):
    """Cell id of the ancestor at a coarser resolution; ``cell`` may be
    an int or an int64 array (the one parent formula of the quad grid,
    mirrored by ``expressions.parent_cell_col``)."""
    n = nx(res)
    y, x = divmod(cell, n)
    shift = res - parent_res
    return (y >> shift) * nx(parent_res) + (x >> shift)


def cell_bounds(cell: int, res: int) -> tuple[float, float, float, float]:
    """(lat_min, lat_max, lon_min, lon_max) of a cell."""
    n = nx(res)
    y, x = divmod(cell, n)
    lat_min = -90.0 + 180.0 * y / n
    lat_max = -90.0 + 180.0 * (y + 1) / n
    lon_min = -180.0 + 360.0 * x / n
    lon_max = -180.0 + 360.0 * (x + 1) / n
    return lat_min, lat_max, lon_min, lon_max


def cell_center(cell: int, res: int) -> tuple[float, float]:
    la0, la1, lo0, lo1 = cell_bounds(cell, res)
    return (la0 + la1) / 2.0, (lo0 + lo1) / 2.0


def compact_cells(cells, res: int, min_res: int = 0) -> list[tuple[int, int]]:
    """H3-``compact`` analog: replace every COMPLETE group of 4 sibling
    cells by its parent, recursively up to ``min_res``. Input: uniform
    ``res`` cell ids; output: sorted (res', cell') pairs, res' in
    [min_res, res] — the minimal mixed-resolution set covering exactly
    the same area. Lossless: :func:`uncompact_cells` inverts it.

    Driver-side (covers are small by construction); the distributed
    twin for corpus-scale cell relations is
    ``operators.indexing.compact_cell_set``.
    """
    out: list[tuple[int, int]] = []
    cur = set(int(c) for c in cells)
    r = res
    while r > min_res and cur:
        n = nx(r)
        pn = nx(r - 1)
        groups: dict[int, int] = {}
        for c in cur:
            y, x = divmod(c, n)
            p = (y >> 1) * pn + (x >> 1)
            groups[p] = groups.get(p, 0) + 1
        full = {p for p, cnt in groups.items() if cnt == 4}
        for c in cur:
            y, x = divmod(c, n)
            if (y >> 1) * pn + (x >> 1) not in full:
                out.append((r, c))
        cur = full
        r -= 1
    out.extend((r, c) for c in cur)
    return sorted(out)


def uncompact_cells(mixed, res: int) -> list[int]:
    """Inverse of :func:`compact_cells`: expand (res', cell') pairs to
    the uniform ``res`` cell set (res' <= res required)."""
    out: set[int] = set()
    for r, c in mixed:
        if r > res:
            raise ValueError(f"cell at res {r} finer than target {res}")
        shift = res - r
        n = nx(r)
        tn = nx(res)
        y, x = divmod(int(c), n)
        for dy in range(1 << shift):
            for dx in range(1 << shift):
                out.add(((y << shift) + dy) * tn + (x << shift) + dx)
    return sorted(out)


def k_ring(lat: float, lon: float, res: int, k: int) -> list[int]:
    """Cell ids within Chebyshev distance k of the point's cell.

    x wraps across the antimeridian; y clamps at the poles (rows past a
    pole don't exist — polar coverage is handled by the cover radius
    math which switches to full rows near the poles).
    """
    n = nx(res)
    cx, cy = cell_xy(lat, lon, res)
    out = []
    for dy in range(-k, k + 1):
        y = cy + dy
        if y < 0 or y >= n:
            continue
        for dx in range(-k, k + 1):
            x = (cx + dx) % n
            out.append(y * n + x)
    return sorted(set(out))


def pick_resolution(radius_m: float, max_cover: int = 512) -> int:
    """Resolution whose cell height is ~ the search radius.

    Cell height in meters ≈ 2.0e7 / 2^r (half meridian / 2^r). Choosing
    cell ≈ radius keeps covers at ~3x3 cells away from the poles.
    """
    if radius_m <= 0:
        return MAX_RES
    r = int(math.floor(math.log2(2.0e7 / radius_m)))
    return min(max(r, 0), MAX_RES)


def cap_covers(lat, lon, sigma, res: int,
               max_cells: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Cap covers at ``res``, vectorized over points, as flat
    ``(offsets, cells)``: ``cells[offsets[i]:offsets[i + 1]]`` holds every
    cell containing a point whose geodetic (lat, lon), read as a
    unit-sphere direction, is within angle ``sigma[i]`` (radians) of
    ``(lat[i], lon[i])`` (``sigma`` may be a scalar; the geodesic disk of
    radius ``r`` is in the cap of angle ``outer * r / a``, see
    :func:`~geodistpy_spark.constants.hav_bounds`). No row repeats a cell.

    Each point spans the cell rows of its lat band ±σ; each row spans
    its own longitude half-width: asin(sin σ / cos lat) (the cap's
    bounding box) when no pole is inside the cap, else the
    law-of-cosines bound at the row's pole-nearest edge (the boundary's
    half-width grows toward the pole), with full rows past
    π - |lat| - σ and everywhere when the cap holds both poles. A point
    whose cover exceeds ``max_cells``, or whose center or ``sigma`` is
    not finite, gets an EMPTY row; per-row counts are known before any
    cell is built, so such a cover is never materialized.
    """
    la, lo, sigma = np.broadcast_arrays(*(np.atleast_1d(np.asarray(v, dtype=np.float64))
                                          for v in (lat, lon, sigma)))
    n = nx(res)
    sigma = np.minimum(sigma, np.pi)
    ok = np.isfinite(la) & np.isfinite(lo) & np.isfinite(sigma)
    la, lo, sigma = (np.where(ok, v, 0.0) for v in (la, lo, sigma))
    sigma_deg = np.degrees(sigma)
    y_lo = np.clip(np.floor((np.maximum(la - sigma_deg, -90.0) + 90.0) / 180.0 * n),
                   0, n - 1).astype(np.int64)
    y_hi = np.clip(np.floor((np.minimum(la + sigma_deg, 90.0) + 90.0 - 1e-12) / 180.0 * n),
                   0, n - 1).astype(np.int64)
    limit = np.iinfo(np.int64).max if max_cells is None else max_cells
    # every row holds >= 1 cell: more rows than the budget is over it
    n_rows = np.where(ok & (y_hi - y_lo < limit), y_hi - y_lo + 1, 0)

    # expansion 1: point -> cover row y
    row_off = np.concatenate(([0], np.cumsum(n_rows)))
    pt = np.repeat(np.arange(la.size), n_rows)
    y = y_lo[pt] + np.arange(pt.size) - row_off[pt]
    p_la, p_lo, p_sigma, p_deg = la[pt], lo[pt], sigma[pt], sigma_deg[pt]
    alat = np.radians(np.abs(p_la))
    box = np.degrees(np.arcsin(np.minimum(
        np.sin(p_sigma) / np.maximum(np.cos(alat), 1e-15), 1.0)))
    # the row's pole-nearest edge, mirrored into the north frame
    edge = np.where(p_la >= 0.0, -90.0 + 180.0 * (y + 1) / n, 90.0 - 180.0 * y / n)
    phi_e = np.radians(np.clip(edge, -90.0, 90.0))
    c = ((np.cos(p_sigma) - np.sin(phi_e) * np.sin(alat))
         / np.maximum(np.cos(phi_e) * np.cos(alat), 1e-300))
    polar = np.degrees(np.arccos(np.clip(c, -1.0, 1.0)))
    pole = np.abs(p_la) + p_deg >= 90.0
    full = pole & ((p_deg - np.abs(p_la) >= 90.0) | (phi_e >= np.pi - alat - p_sigma))
    dl = np.where(pole, polar, box)
    span = np.where(full, n, np.minimum(np.ceil(2.0 * dl / (360.0 / n)).astype(np.int64) + 2, n))
    lo_x = np.where(full, 0, np.floor(np.mod(p_lo - dl + 180.0, 360.0) / 360.0 * n)
                    .astype(np.int64))

    # over-budget points keep no row
    cum = np.concatenate(([0], np.cumsum(span)))
    count = cum[row_off[1:]] - cum[row_off[:-1]]
    count = np.where(count <= limit, count, 0)
    span = np.where(count[pt] > 0, span, 0)

    # expansion 2: cover row -> cell
    row = np.repeat(np.arange(y.size), span)
    cell_off = np.concatenate(([0], np.cumsum(span)))
    x = (lo_x[row] + np.arange(row.size) - cell_off[row]) % n
    return np.concatenate(([0], np.cumsum(count))), y[row] * n + x


def cap_cover(lat: float, lon: float, sigma: float, res: int | None = None,
              max_cover: int = 2048) -> tuple[int, list[int]]:
    """``(res, sorted cell_ids)`` of the :func:`cap_covers` cover of the
    cap of angle ``sigma`` (radians) around (lat, lon).

    When ``res`` is not forced by the caller, the resolution is coarsened
    until the cover fits in ``max_cover`` cells — a small polar cap
    otherwise degenerates to full 2^res-wide longitude rows (e.g. 1 km at
    lat 89.99 was ~16k cells at res 14), which would bloat the pushed-down
    IN predicate. Coarser cells keep the cover conservative; the exact
    refine absorbs the extra candidates.
    """
    auto = res is None
    if auto:
        # pick_resolution's meters are arcs of its 2e7 m half meridian
        res = pick_resolution(sigma * 2.0e7 / math.pi)
    while True:
        coarsen = auto and res > 0
        offsets, cells = cap_covers(lat, lon, sigma, res, max_cover if coarsen else None)
        cells = cells[offsets[0]:offsets[1]]
        # a finite cover holds at least the center's cell: empty means
        # over budget
        if coarsen and not len(cells):
            res -= 1
            continue
        return res, sorted(cells.tolist())


def cell_cover(lat: float, lon: float, radius_m: float, res: int | None = None,
               max_cover: int = 2048) -> tuple[int, list[int]]:
    """Conservative WGS-84 disk cover: every point whose geodesic
    distance to (lat, lon) is <= radius_m lies in one of the returned
    cells (the :func:`cap_cover` of angle ``outer * radius_m / a``)."""
    outer = hav_bounds(WGS84_A, WGS84_F)[1]
    return cap_cover(lat, lon, (outer * radius_m + HAV_ROUND_M) / WGS84_A, res, max_cover)
