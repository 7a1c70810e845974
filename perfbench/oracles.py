"""Brute-force references the benchmark checks the program's outputs
against. No grid, cover or join: every query is compared with every
point. A conservative spherical prefilter (unit-vector dot products,
i.e. central angles on a sphere of radius R) comes before the exact
distance: R times the central angle is within 0.56% of the WGS-84
geodesic, and the 2% margins here are far wider.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from itertools import combinations

import numpy as np

from geodistpy_spark import kernels as K
from geodistpy_spark.constants import EARTH_RADIUS_M as R

_MARGIN = 1.02


def _unit(lat, lon) -> np.ndarray:
    la, lo = np.radians(lat), np.radians(lon)
    return np.column_stack([np.cos(la) * np.cos(lo), np.cos(la) * np.sin(lo), np.sin(la)])


def _min_dot(angle) -> np.ndarray:
    """Dot-product threshold equivalent to 'central angle <= angle'."""
    return np.cos(np.minimum(angle, np.pi))


def _blocks(n: int, size: int = 256):
    for i in range(0, n, size):
        yield slice(i, min(i + size, n))


def _exact(qlat, qlon, plat, plon, qi, pj) -> np.ndarray:
    return K.geodesic_inverse(qlat[qi], qlon[qi], plat[pj], plon[pj])


def knn_distances(qlat, qlon, plat, plon, k: int) -> np.ndarray:
    """(n_queries, k) ascending geodesic distances of each query's k
    nearest points. Distances, not ids: ties cannot make them differ."""
    qlat, qlon = np.asarray(qlat, float), np.asarray(qlon, float)
    pu = _unit(plat, plon)
    out = np.empty((len(qlat), k))
    for b in _blocks(len(qlat)):
        dot = _unit(qlat[b], qlon[b]) @ pu.T
        dk = -np.partition(-dot, k - 1, axis=1)[:, k - 1:k]
        ang_k = np.arccos(np.clip(dk, -1.0, 1.0))
        qi, pj = np.nonzero(dot >= _min_dot(ang_k * _MARGIN / (2 - _MARGIN) + 1.0 / R))
        s = _exact(qlat[b], qlon[b], plat, plon, qi, pj)
        order = np.lexsort((s, qi))
        qi, s = qi[order], s[order]
        first = np.searchsorted(qi, np.arange(b.stop - b.start))
        out[b] = s[first[:, None] + np.arange(k)]
    return out


def radius_hits(qid, qlat, qlon, pkey, plat, plon, radius_m: float):
    """All (query id, point key, distance) with distance <= radius."""
    qlat, qlon = np.asarray(qlat, float), np.asarray(qlon, float)
    pu = _unit(plat, plon)
    lim = _min_dot((radius_m * _MARGIN + 10.0) / R)
    rows_q, rows_k, rows_d = [], [], []
    for b in _blocks(len(qlat)):
        qi, pj = np.nonzero(_unit(qlat[b], qlon[b]) @ pu.T >= lim)
        s = _exact(qlat[b], qlon[b], plat, plon, qi, pj)
        hit = s <= radius_m
        rows_q.append(qid[b][qi[hit]])
        rows_k.append(pkey[pj[hit]])
        rows_d.append(s[hit])
    return np.concatenate(rows_q), np.concatenate(rows_k), np.concatenate(rows_d)


# ---------------------------------------------------------------------------
# point in polygon: planar even-odd ray cast in unwrapped lat/lon,
# pole-encircling rings closed through their pole
# ---------------------------------------------------------------------------

def _offset(lon, ref):
    return np.mod(lon - ref + 180.0, 360.0) - 180.0


def _prep_ring(vlat, vlon):
    ref = float(vlon[0])
    u = _offset(vlon, ref)
    steps = np.diff(u)
    u = u - 360.0 * np.concatenate([[0], np.cumsum(np.round(steps / 360.0))])
    closing = np.mod(u[0] - u[-1] + 180.0, 360.0) - 180.0
    if abs(u[-1] - u[0] + closing) > 180.0:  # winds around a pole
        pole = 90.0 if vlat.mean() > 0 else -90.0
        vlat = np.concatenate([vlat, [pole, pole]])
        u = np.concatenate([u, [u[-1] + closing, u[0]]])
    return vlat, u, ref


def inside_ring(vlat, vlon, plat, plon) -> np.ndarray:
    vlat, u, ref = _prep_ring(np.asarray(vlat, float), np.asarray(vlon, float))
    x = u.min() + np.mod(_offset(plon, ref) - u.min(), 360.0)
    inside = np.zeros(len(plat), bool)
    for e in range(len(vlat)):
        x1, y1 = u[e], vlat[e]
        x2, y2 = u[(e + 1) % len(u)], vlat[(e + 1) % len(u)]
        if y1 == y2:
            continue
        crosses = (y1 > plat) != (y2 > plat)
        inside ^= crosses & (x < (x2 - x1) * (plat - y1) / (y2 - y1) + x1)
    return inside


def pip_pairs(rings, pid, plat, plon):
    """All (point id, polygon id) with the point inside the ring."""
    out_p, out_g = [], []
    for gid, vlat, vlon in rings:
        if len(vlat) < 3:
            continue
        m = inside_ring(vlat, vlon, plat, plon)
        out_p.append(pid[m])
        out_g.append(np.full(m.sum(), gid, np.int64))
    return np.concatenate(out_p), np.concatenate(out_g)


def zonal(rings, lat, lon, value) -> dict[int, tuple[int, float]]:
    """poly_id -> (tiles inside, sum of their values)."""
    out = {}
    for gid, vlat, vlon in rings:
        m = inside_ring(vlat, vlon, lat, lon)
        if m.any():
            out[int(gid)] = (int(m.sum()), float(value[m].sum()))
    return out


# ---------------------------------------------------------------------------
# text dedup
# ---------------------------------------------------------------------------

def shingle_set(text: str, k: int = 3) -> set:
    w = [t for t in text.lower().split(" ") if t]
    return {tuple(w[i:i + k]) for i in range(len(w) - k + 1)}


def near_dup_pairs(texts: list[str], threshold: float, k: int = 3) -> dict:
    """Every pair (i, j), i < j, of texts whose word k-shingle Jaccard is
    at least ``threshold``, mapped to that Jaccard. Exact: an inverted
    shingle index gives each pair's intersection size, so no pair that
    shares a shingle is skipped."""
    sets = [shingle_set(t, k) for t in texts]
    index = defaultdict(list)
    for i, s in enumerate(sets):
        for sh in s:
            index[sh].append(i)
    inter = Counter()
    for docs in index.values():
        if len(docs) > 1:
            inter.update(combinations(docs, 2))
    out = {}
    for (i, j), n in inter.items():
        jac = n / (len(sets[i]) + len(sets[j]) - n)
        if jac >= threshold:
            out[(i, j)] = jac
    return out
