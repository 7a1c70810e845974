"""Vectorized numpy geodesic kernels (no Spark imports).

These are the accuracy-bearing numerical cores of the engine. They are
designed to run on whole float64 arrays at once (Arrow batches inside
Arrow UDFs) — never per-row Python, per the north rule.

Implemented from public sources only:

- Vincenty inverse / full inverse / direct: T. Vincenty, "Direct and
  inverse solutions of geodesics on the ellipsoid with application of
  nested equations", Survey Review 23(176), 1975. Masked-iteration
  vectorization; semantics contract mirrors the reference kernels
  (geodistpy geodesic.py:84-201, :431-559, :562-673 — 200 iteration cap,
  1e-12 lambda convergence, coincident short-circuit, non-convergence
  sentinel protocol).
- Karney auxiliary-sphere inverse: C.F.F. Karney, "Algorithms for
  geodesics", J. Geodesy 87(1), 2013 (6th-order series), solved here by
  vectorized bisection on alpha1 (robust for all pairs incl. antipodal —
  replaces the reference's geographiclib fallback, geodesic.py:204-240,
  since geographiclib is not available in this environment).
- Haversine (sphere R=6371009 m) and Lambert/Andoyer flattening-corrected
  great circle (reference contract: geodesic.py:676-767, WGS-84
  hardcoded), both closed-form.
"""

from __future__ import annotations

import numpy as np

from .constants import EARTH_RADIUS_M, WGS84_A, WGS84_F

_MAX_ITER = 200
_CONV = 1e-12


def _as_f64(x) -> np.ndarray:
    return np.ascontiguousarray(np.asarray(x, dtype=np.float64))


# ---------------------------------------------------------------------------
# Closed-form spherical / near-spherical kernels
# ---------------------------------------------------------------------------

def haversine(lat1, lon1, lat2, lon2, radius: float = EARTH_RADIUS_M) -> np.ndarray:
    """Great-circle distance on a sphere of ``radius`` meters."""
    p1, l1, p2, l2 = (np.radians(_as_f64(v)) for v in (lat1, lon1, lat2, lon2))
    dphi = p2 - p1
    dlmb = l2 - l1
    h = np.sin(dphi / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlmb / 2.0) ** 2
    return 2.0 * radius * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def great_circle(lat1, lon1, lat2, lon2, a: float = WGS84_A, f: float = WGS84_F) -> np.ndarray:
    """Spherical central angle + Lambert (Andoyer) flattening correction.

    Matches the reference's fast-approximate path semantics
    (geodesic.py:676-767): atan2-stable central angle, first-order-in-f
    correction, WGS-84 by default. Typical error vs exact geodesic:
    ~10 m mean, sub-km max.
    """
    p1, l1, p2, l2 = (np.radians(_as_f64(v)) for v in (lat1, lon1, lat2, lon2))
    # reduced latitudes
    b1 = np.arctan((1.0 - f) * np.tan(p1))
    b2 = np.arctan((1.0 - f) * np.tan(p2))
    dlmb = l2 - l1
    sd, cd = np.sin(dlmb), np.cos(dlmb)
    s1, c1 = np.sin(b1), np.cos(b1)
    s2, c2 = np.sin(b2), np.cos(b2)
    # Vincenty-stable central angle between the *reduced*-latitude points
    t1 = c2 * sd
    t2 = c1 * s2 - s1 * c2 * cd
    y = np.sqrt(t1 * t1 + t2 * t2)
    x = s1 * s2 + c1 * c2 * cd
    sigma = np.arctan2(y, x)
    sin_sigma = np.sin(sigma)
    # Lambert correction: P = (b1+b2)/2, Q = (b2-b1)/2
    sp2 = np.sin((b1 + b2) / 2.0) ** 2
    sq2 = np.sin((b2 - b1) / 2.0) ** 2
    cp2 = 1.0 - sp2
    cq2 = 1.0 - sq2
    half = sigma / 2.0
    cos_half_sq = np.cos(half) ** 2
    sin_half_sq = np.sin(half) ** 2
    with np.errstate(divide="ignore", invalid="ignore"):
        X = np.where(cos_half_sq > 0, (sigma - sin_sigma) * sp2 * cq2 / np.where(cos_half_sq > 0, cos_half_sq, 1.0), 0.0)
        Y = np.where(sin_half_sq > 0, (sigma + sin_sigma) * cp2 * sq2 / np.where(sin_half_sq > 0, sin_half_sq, 1.0), 0.0)
    return a * (sigma - (f / 2.0) * (X + Y))


# ---------------------------------------------------------------------------
# Vincenty inverse (vectorized masked iteration)
# ---------------------------------------------------------------------------

def vincenty_inverse(lat1, lon1, lat2, lon2, a: float = WGS84_A, f: float = WGS84_F,
                     full: bool = False):
    """Vincenty inverse on arrays.

    Returns ``(s_m, converged)`` or, with ``full=True``,
    ``(s_m, az1_deg, az2_deg, converged)``. Azimuths are normalized to
    [0, 360); coincident points give distance 0 and azimuth 0
    (reference contract: geodesic.py:134-135, :462-463, :541-558).
    Non-converged lanes (near-antipodal) carry ``converged=False`` and
    must be recomputed with :func:`karney_inverse`.
    """
    p1, l1, p2, l2 = np.broadcast_arrays(
        *(np.radians(_as_f64(v)) for v in (lat1, lon1, lat2, lon2))
    )
    b = a * (1.0 - f)
    L = l2 - l1
    # wrap to (-pi, pi]
    L = np.mod(L + np.pi, 2.0 * np.pi) - np.pi
    U1 = np.arctan((1.0 - f) * np.tan(p1))
    U2 = np.arctan((1.0 - f) * np.tan(p2))
    sU1, cU1 = np.sin(U1), np.cos(U1)
    sU2, cU2 = np.sin(U2), np.cos(U2)

    lam_full = L.reshape(-1).copy()
    n = lam_full.size
    # flat working views (lane compression: each iteration only touches
    # the still-unconverged lanes — most pairs converge in 2-4 rounds, so
    # this cuts the dominant cost ~2-3x vs full-array masked iteration)
    Lf = L.reshape(-1)
    sU1f, cU1f = sU1.reshape(-1), cU1.reshape(-1)
    sU2f, cU2f = sU2.reshape(-1), cU2.reshape(-1)

    sin_sigma = np.zeros(n)
    cos_sigma = np.ones(n)
    sigma = np.zeros(n)
    sin_alpha = np.zeros(n)
    cos_sq_alpha = np.ones(n)
    cos2sm = np.zeros(n)
    diverged = np.zeros(n, dtype=bool)
    settled = np.zeros(n, dtype=bool)

    idx = np.arange(n)
    lam = lam_full.copy()
    for _ in range(_MAX_ITER):
        if idx.size == 0:
            break
        li = lam[idx]
        Li = Lf[idx]
        su1, cu1 = sU1f[idx], cU1f[idx]
        su2, cu2 = sU2f[idx], cU2f[idx]
        sl, cl = np.sin(li), np.cos(li)
        t1 = cu2 * sl
        t2 = cu1 * su2 - su1 * cu2 * cl
        # magnitudes <= 1: plain sqrt form is ~4x faster than np.hypot
        ss = np.sqrt(t1 * t1 + t2 * t2)
        cs = su1 * su2 + cu1 * cu2 * cl
        sg = np.arctan2(ss, cs)
        sa = np.divide(cu1 * cu2 * sl, ss, out=np.zeros_like(ss), where=ss != 0.0)
        c2a = 1.0 - sa * sa
        c2m = np.divide(2.0 * su1 * su2, c2a, out=np.zeros_like(c2a), where=c2a != 0.0)
        c2m = np.where(c2a != 0.0, cs - c2m, 0.0)
        C = (f / 16.0) * c2a * (4.0 + f * (4.0 - 3.0 * c2a))
        lam_new = Li + (1.0 - C) * f * sa * (
            sg + C * ss * (c2m + C * cs * (-1.0 + 2.0 * c2m * c2m))
        )
        # write back current state for these lanes
        sin_sigma[idx] = ss
        cos_sigma[idx] = cs
        sigma[idx] = sg
        sin_alpha[idx] = sa
        cos_sq_alpha[idx] = c2a
        cos2sm[idx] = c2m
        conv = np.abs(lam_new - li) < _CONV
        div = np.abs(lam_new) > np.pi
        fin = conv | div
        diverged[idx[div]] = True
        settled[idx[fin]] = True
        keep = ~fin
        lam[idx[keep]] = lam_new[keep]
        idx = idx[keep]

    shape = L.shape
    converged = (settled & ~diverged).reshape(shape)
    sin_sigma = sin_sigma.reshape(shape)
    cos_sigma = cos_sigma.reshape(shape)
    sigma = sigma.reshape(shape)
    sin_alpha = sin_alpha.reshape(shape)
    cos_sq_alpha = cos_sq_alpha.reshape(shape)
    cos2sm = cos2sm.reshape(shape)
    lam = lam.reshape(shape)

    ep2 = (a * a - b * b) / (b * b)
    u2 = cos_sq_alpha * ep2
    A = 1.0 + (u2 / 16384.0) * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)))
    B = (u2 / 1024.0) * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
    dsig = B * sin_sigma * (
        cos2sm + (B / 4.0) * (
            cos_sigma * (-1.0 + 2.0 * cos2sm ** 2)
            - (B / 6.0) * cos2sm * (-3.0 + 4.0 * sin_sigma ** 2) * (-3.0 + 4.0 * cos2sm ** 2)
        )
    )
    s = b * A * (sigma - dsig)
    coincident = (sin_sigma == 0.0)
    s = np.where(coincident, 0.0, s)
    converged = converged | coincident

    if not full:
        return s, converged

    sl, cl = np.sin(lam), np.cos(lam)
    az1 = np.degrees(np.arctan2(cU2 * sl, cU1 * sU2 - sU1 * cU2 * cl))
    az2 = np.degrees(np.arctan2(cU1 * sl, -sU1 * cU2 + cU1 * sU2 * cl))
    az1 = np.where(coincident, 0.0, np.mod(az1, 360.0))
    az2 = np.where(coincident, 0.0, np.mod(az2, 360.0))
    return s, az1, az2, converged


# ---------------------------------------------------------------------------
# Vincenty direct (vectorized sigma iteration)
# ---------------------------------------------------------------------------

def vincenty_direct(lat1, lon1, az1_deg, s_m, a: float = WGS84_A, f: float = WGS84_F):
    """Vincenty direct: start + forward azimuth + distance -> (lat2, lon2, az2).

    Longitude is normalized to [-180, 180] (reference contract:
    distance.py:272). Returns degrees.
    """
    p1 = np.radians(_as_f64(lat1))
    l1 = np.radians(_as_f64(lon1))
    alpha1 = np.radians(_as_f64(az1_deg))
    s = _as_f64(s_m)
    b = a * (1.0 - f)

    tanU1 = (1.0 - f) * np.tan(p1)
    cU1 = 1.0 / np.sqrt(1.0 + tanU1 ** 2)
    sU1 = tanU1 * cU1
    sa1, ca1 = np.sin(alpha1), np.cos(alpha1)
    sigma1 = np.arctan2(tanU1, ca1)
    sin_alpha = cU1 * sa1
    cos_sq_alpha = 1.0 - sin_alpha ** 2
    ep2 = (a * a - b * b) / (b * b)
    u2 = cos_sq_alpha * ep2
    A = 1.0 + (u2 / 16384.0) * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)))
    B = (u2 / 1024.0) * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))

    def _dsig(sig):
        c2 = np.cos(2.0 * sigma1 + sig)
        sn, cn = np.sin(sig), np.cos(sig)
        return B * sn * (
            c2 + (B / 4.0) * (
                cn * (-1.0 + 2.0 * c2 ** 2)
                - (B / 6.0) * c2 * (-3.0 + 4.0 * sn ** 2) * (-3.0 + 4.0 * c2 ** 2)
            )
        )

    target = s / (b * A)
    sigma = np.asarray(target, dtype=np.float64).copy()
    converged = np.zeros_like(sigma, dtype=bool)
    for _ in range(_MAX_ITER):
        sigma_new = target + _dsig(sigma)
        converged = np.abs(sigma_new - sigma) < _CONV
        sigma = sigma_new
        if converged.all():
            break
    # Non-convergence sentinel + rescue (reference contract: the direct
    # kernel returns nan on non-convergence and a fallback recomputes,
    # geodesic.py:643-644 + distance.py's geographiclib rescue). The
    # fixed-point map sigma -> target + dsig(sigma) has derivative
    # |dsig'| <= ~B(1+B) << 1, so f(sig) = sig - dsig(sig) - target is
    # strictly increasing: lanes the iteration failed to settle are
    # resolved exactly by bisection on sigma in [0, target + |B|-slack].
    bad = ~converged
    if bad.any():
        lo = np.zeros(int(bad.sum()))
        hi = np.abs(target[bad]) + 0.1
        tgt = target[bad]
        s1b = sigma1[bad] if np.ndim(sigma1) else sigma1
        Bb = B[bad] if np.ndim(B) else B

        def _f(sig):
            c2 = np.cos(2.0 * s1b + sig)
            sn, cn = np.sin(sig), np.cos(sig)
            d = Bb * sn * (
                c2 + (Bb / 4.0) * (
                    cn * (-1.0 + 2.0 * c2 ** 2)
                    - (Bb / 6.0) * c2 * (-3.0 + 4.0 * sn ** 2) * (-3.0 + 4.0 * c2 ** 2)
                )
            )
            return sig - d - tgt

        for _ in range(80):
            mid = 0.5 * (lo + hi)
            less = _f(mid) < 0.0
            lo = np.where(less, mid, lo)
            hi = np.where(less, hi, mid)
        sigma = sigma.copy()
        sigma[bad] = 0.5 * (lo + hi)

    cos2sm = np.cos(2.0 * sigma1 + sigma)
    ss, cs = np.sin(sigma), np.cos(sigma)
    t = sU1 * ss - cU1 * cs * ca1
    p2 = np.arctan2(
        sU1 * cs + cU1 * ss * ca1,
        (1.0 - f) * np.sqrt(sin_alpha * sin_alpha + t * t),
    )
    lam = np.arctan2(ss * sa1, cU1 * cs - sU1 * ss * ca1)
    C = (f / 16.0) * cos_sq_alpha * (4.0 + f * (4.0 - 3.0 * cos_sq_alpha))
    L = lam - (1.0 - C) * f * sin_alpha * (
        sigma + C * ss * (cos2sm + C * cs * (-1.0 + 2.0 * cos2sm ** 2))
    )
    l2 = l1 + L
    az2 = np.arctan2(sin_alpha, -(sU1 * ss - cU1 * cs * ca1))
    lat2 = np.degrees(p2)
    lon2 = ((np.degrees(l2) + 180.0) % 360.0) - 180.0
    az2 = np.mod(np.degrees(az2), 360.0)
    return lat2, lon2, az2


# ---------------------------------------------------------------------------
# Karney auxiliary-sphere inverse (series + vectorized bisection)
# ---------------------------------------------------------------------------

def _A1(eps):
    e2 = eps * eps
    return (1.0 + e2 * (1.0 / 4.0 + e2 * (1.0 / 64.0 + e2 / 256.0))) / (1.0 - eps)


def _C1(eps):
    """C1[1..6] coefficients (Karney 2013 eq. 18, order 6)."""
    e = eps
    e2 = e * e
    return (
        e * (-0.5 + e2 * (3.0 / 16.0 - e2 / 32.0)),
        e2 * (-1.0 / 16.0 + e2 * (1.0 / 32.0 - 9.0 * e2 / 2048.0)),
        e * e2 * (-1.0 / 48.0 + e2 * (3.0 / 256.0)),
        e2 * e2 * (-5.0 / 512.0 + e2 * (3.0 / 512.0)),
        e * e2 * e2 * (-7.0 / 1280.0),
        e2 * e2 * e2 * (-7.0 / 2048.0),
    )


def _A3(n, eps):
    """A3 (Karney 2013 eq. 24, order 6) — function of third flattening n and eps."""
    return (
        1.0
        - (0.5 - 0.5 * n) * eps
        - (0.25 + n / 8.0 - 3.0 * n * n / 8.0) * eps ** 2
        - (1.0 / 16.0 + 3.0 * n / 16.0 + n * n / 16.0) * eps ** 3
        - (3.0 / 64.0 + n / 32.0) * eps ** 4
        - (3.0 / 128.0) * eps ** 5
    )


def _C3(n, eps):
    """C3[1..5] coefficients (Karney 2013 eq. 25, order 6)."""
    n2 = n * n
    return (
        (0.25 - 0.25 * n) * eps
        + (1.0 / 8.0 - n2 / 8.0) * eps ** 2
        + (3.0 / 64.0 + 3.0 * n / 64.0 - n2 / 64.0) * eps ** 3
        + (5.0 / 128.0 + n / 64.0) * eps ** 4
        + (3.0 / 128.0) * eps ** 5,
        (1.0 / 16.0 - 3.0 * n / 32.0 + n2 / 32.0) * eps ** 2
        + (3.0 / 64.0 - n / 32.0 - 3.0 * n2 / 64.0) * eps ** 3
        + (3.0 / 128.0 + n / 128.0) * eps ** 4
        + (5.0 / 256.0) * eps ** 5,
        (5.0 / 192.0 - 3.0 * n / 64.0 + 5.0 * n2 / 192.0) * eps ** 3
        + (3.0 / 128.0 - 5.0 * n / 192.0) * eps ** 4
        + (7.0 / 512.0) * eps ** 5,
        (7.0 / 512.0 - 7.0 * n / 256.0) * eps ** 4 + (7.0 / 512.0) * eps ** 5,
        (21.0 / 2560.0) * eps ** 5,
    )


def _sin_series(coeffs, sig2, sig1):
    """sum_l c_l * (sin(2 l sig2) - sin(2 l sig1)) — elementwise arrays."""
    out = 0.0
    for l, c in enumerate(coeffs, start=1):
        out = out + c * (np.sin(2.0 * l * sig2) - np.sin(2.0 * l * sig1))
    return out


def _aux_eval(alp1, sbet1, cbet1, sbet2, cbet2, f, n, ep2, equal_beta):
    """Given trial alpha1 (canonical frame), return (lam12, sig1, sig2,
    sig12, eps, salp0, salp2, calp2)."""
    salp1, calp1 = np.sin(alp1), np.cos(alp1)
    salp0 = salp1 * cbet1
    t0 = salp1 * sbet1
    calp0 = np.sqrt(calp1 * calp1 + t0 * t0)

    sig1 = np.arctan2(sbet1, calp1 * cbet1)
    omg1 = np.arctan2(salp0 * sbet1, calp1 * cbet1)

    with np.errstate(divide="ignore", invalid="ignore"):
        salp2 = np.where(cbet2 > 0, salp0 / np.where(cbet2 > 0, cbet2, 1.0), salp1)
    # stable positive root for cos(alpha2) (alpha2 in [0, pi/2] in the
    # canonical arrangement); degenerate |beta2| == -beta1 -> |cos alpha1|
    t = np.where(
        cbet1 < cbet2,
        (cbet2 - cbet1) * (cbet1 + cbet2),
        (sbet1 - sbet2) * (sbet1 + sbet2),
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        calp2 = np.sqrt(np.maximum((calp1 * cbet1) ** 2 + t, 0.0)) / np.where(cbet2 > 0, cbet2, 1.0)
    calp2 = np.where(equal_beta, np.abs(calp1), calp2)

    sig2 = np.arctan2(sbet2, calp2 * cbet2)
    omg2 = np.arctan2(salp0 * sbet2, calp2 * cbet2)

    sig12 = np.mod(sig2 - sig1, 2.0 * np.pi)
    omg12 = np.mod(omg2 - omg1, 2.0 * np.pi)

    k2 = calp0 * calp0 * ep2
    sq = np.sqrt(1.0 + k2)
    eps = (sq - 1.0) / (sq + 1.0)

    c3 = _C3(n, eps)
    lam12 = omg12 - f * salp0 * _A3(n, eps) * (sig12 + _sin_series(c3, sig2, sig1))
    return lam12, sig1, sig2, sig12, eps, salp0, salp2, calp2


def karney_inverse(lat1, lon1, lat2, lon2, a: float = WGS84_A, f: float = WGS84_F,
                   full: bool = False, iters: int = 70):
    """Geodesic inverse via Karney's auxiliary-sphere series, solved by
    vectorized bisection on alpha1.

    Robust for ALL pairs including antipodal/near-antipodal where Vincenty
    fails to converge; 6th-order series gives sub-mm accuracy. Used as
    (a) the in-batch fallback for non-converged Vincenty lanes and
    (b) the accuracy oracle replacing geographiclib
    (reference: geodesic.py:204-240, benchmark.py:206-265).

    Returns ``s_m`` or ``(s_m, az1_deg, az2_deg)`` with ``full=True``.
    """
    phi1 = np.radians(_as_f64(lat1))
    lmb1 = np.radians(_as_f64(lon1))
    phi2 = np.radians(_as_f64(lat2))
    lmb2 = np.radians(_as_f64(lon2))
    phi1, lmb1, phi2, lmb2 = np.broadcast_arrays(phi1, lmb1, phi2, lmb2)
    shape = phi1.shape
    b = a * (1.0 - f)
    n = f / (2.0 - f)
    ep2 = (a * a - b * b) / (b * b)

    # reduced latitudes
    bet1 = np.arctan((1.0 - f) * np.tan(phi1))
    bet2 = np.arctan((1.0 - f) * np.tan(phi2))

    lam12 = np.mod(lmb2 - lmb1 + np.pi, 2.0 * np.pi) - np.pi
    lonsign = np.where(lam12 >= 0.0, 1.0, -1.0)
    lam12 = np.abs(lam12)

    swapp = np.where(np.abs(bet1) >= np.abs(bet2), 1.0, -1.0)
    b1 = np.where(swapp > 0, bet1, bet2)
    b2 = np.where(swapp > 0, bet2, bet1)
    latsign = np.where(b1 <= 0.0, 1.0, -1.0)
    b1 = b1 * latsign
    b2 = b2 * latsign
    # canonical: b1 <= 0, b1 <= b2 <= -b1, lam12 in [0, pi]

    # Exactly-equatorial pairs degenerate the sigma parametrization of the
    # general solver (sigma = asin(beta/cos(alpha0)) with beta = 0 exactly
    # is branch-ambiguous), so snap ONLY the machine-equator: maxb < 1e-13
    # rad. The snap's own worst-case error is first-order a*maxb < 1 um
    # even in the antipodal regime, so no case-analysis budget is needed.
    # All other near-equatorial pairs (incl. near-antipodal, where a
    # round-1 budget heuristic cost 2 mm — see tests/test_kernels.py
    # golden truths) go through the general solver, whose lambda-space
    # secant interpolation below keeps them sub-um.
    maxb = np.maximum(np.abs(b1), np.abs(b2))
    both_eq = maxb < 1e-13
    b1 = np.where(both_eq, -1e-12, b1)
    b2 = np.where(both_eq, 0.0, b2)

    sbet1, cbet1 = np.sin(b1), np.cos(b1)
    sbet2, cbet2 = np.sin(b2), np.cos(b2)
    equal_beta = (cbet1 == cbet2) & (np.abs(sbet2) == -sbet1)

    # --- special cases --------------------------------------------------
    coincident = (lam12 == 0.0) & (b1 == b2)

    eps_merid = np.sqrt(1.0 + ep2) - 1.0
    eps_merid = eps_merid / (np.sqrt(1.0 + ep2) + 1.0)  # eps at calp0 = 1
    a1m = _A1(eps_merid)
    c1m = _C1(eps_merid)

    def merid_arc(sig1, sig2):
        return b * a1m * ((sig2 - sig1) + _sin_series(c1m, sig2, sig1))

    # equatorial shortest path
    equatorial = both_eq & (lam12 <= (1.0 - f) * np.pi)

    # meridional (lam12 == 0): due-north arc
    meridional = (lam12 < 1e-14) & ~coincident

    # pole start (canonical b1 = -pi/2): all meridians equivalent
    pole = cbet1 < 1e-15

    general = ~(coincident | equatorial | meridional | pole)

    # --- general: bisection on alpha1 in (0, pi) ------------------------
    lo = np.full(shape, 1e-15)
    hi = np.full(shape, np.pi - 1e-15)
    for _ in range(iters):
        mid = 0.5 * (lo + hi)
        lam_t, *_ = _aux_eval(mid, sbet1, cbet1, sbet2, cbet2, f, n, ep2, equal_beta)
        less = lam_t < lam12
        lo = np.where(less, mid, lo)
        hi = np.where(less, hi, mid)
    alp1 = 0.5 * (lo + hi)
    _, sig1, sig2, sig12, eps_g, salp0, salp2, calp2 = _aux_eval(
        alp1, sbet1, cbet1, sbet2, cbet2, f, n, ep2, equal_beta
    )

    def _arc_len(alp):
        """s/b and lam12 at a trial alpha1 (for the secant step)."""
        lam_t, g1, g2, g12, eg, *_ = _aux_eval(
            alp, sbet1, cbet1, sbet2, cbet2, f, n, ep2, equal_beta
        )
        return lam_t, _A1(eg) * (g12 + _sin_series(_C1(eg), g2, g1))

    # Secant step in (lambda, s) space. Near-antipodal roots sit within
    # ~1 ulp of alpha1 = pi/2 where ds/dalpha1 reaches ~10^13 m/rad:
    # float64 alpha1 granularity alone costs +-3 mm there. Both lambda
    # and s are evaluated ulp-accurately at any representable alpha1
    # (verified against 40-digit mpmath), and s(lambda) is smooth, so
    # interpolating s between the final bracket endpoints at the target
    # lambda removes the quantization error entirely (sub-um).
    lam_lo, sb_lo = _arc_len(lo)
    lam_hi, sb_hi = _arc_len(hi)
    dlam = lam_hi - lam_lo
    with np.errstate(divide="ignore", invalid="ignore"):
        t_int = np.where(dlam > 0.0, (lam12 - lam_lo) / np.where(dlam > 0.0, dlam, 1.0), 0.5)
    t_int = np.clip(t_int, 0.0, 1.0)
    s_gen = b * (sb_lo + t_int * (sb_hi - sb_lo))

    # --- assemble distances --------------------------------------------
    s = s_gen
    s = np.where(meridional, merid_arc(b1, b2), s)
    s = np.where(pole, merid_arc(b1, b2), s)
    s = np.where(equatorial, a * lam12, s)
    s = np.where(coincident, 0.0, s)

    if not full:
        return s.reshape(shape) if shape else float(s)

    # canonical-frame azimuths
    salp1_c, calp1_c = np.sin(alp1), np.cos(alp1)
    salp2_c, calp2_c = salp2, calp2
    # specials
    salp1_c = np.where(meridional | pole, 0.0, salp1_c)
    calp1_c = np.where(meridional | pole, 1.0, calp1_c)
    salp2_c = np.where(meridional | pole, 0.0, salp2_c)
    calp2_c = np.where(meridional | pole, 1.0, calp2_c)
    salp1_c = np.where(equatorial, 1.0, salp1_c)
    calp1_c = np.where(equatorial, 0.0, calp1_c)
    salp2_c = np.where(equatorial, 1.0, salp2_c)
    calp2_c = np.where(equatorial, 0.0, calp2_c)

    # undo canonicalization (standard symmetry bookkeeping)
    sw = swapp < 0
    s1, c1_, s2_, c2_ = salp1_c, calp1_c, salp2_c, calp2_c
    salp1_o = np.where(sw, s2_, s1)
    calp1_o = np.where(sw, c2_, c1_)
    salp2_o = np.where(sw, s1, s2_)
    calp2_o = np.where(sw, c1_, c2_)
    # swapping points reverses travel direction AND negates the longitude
    # difference, so the sin factor reduces to the pre-swap lonsign alone
    salp1_o = salp1_o * lonsign
    calp1_o = calp1_o * swapp * latsign
    salp2_o = salp2_o * lonsign
    calp2_o = calp2_o * swapp * latsign

    az1 = np.mod(np.degrees(np.arctan2(salp1_o, calp1_o)), 360.0)
    az2 = np.mod(np.degrees(np.arctan2(salp2_o, calp2_o)), 360.0)
    az1 = np.where(coincident, 0.0, az1)
    az2 = np.where(coincident, 0.0, az2)
    return s, az1, az2


# ---------------------------------------------------------------------------
# Combined inverse: Vincenty fast path + Karney rescue (single batch pass)
# ---------------------------------------------------------------------------

def geodesic_inverse(lat1, lon1, lat2, lon2, a: float = WGS84_A, f: float = WGS84_F):
    """Exact geodesic distance: vectorized Vincenty with in-batch Karney
    rescue of the non-converged (near-antipodal) lanes.

    This is the engine's production kernel (reference pipeline analog:
    geodesic.py:204-240 + _apply_fallback geodesic.py:311-358 — sentinel
    scan replaced by a boolean mask, no second pass over the data).
    """
    lat1, lon1, lat2, lon2 = np.broadcast_arrays(
        _as_f64(lat1), _as_f64(lon1), _as_f64(lat2), _as_f64(lon2)
    )
    s, ok = vincenty_inverse(lat1, lon1, lat2, lon2, a, f)
    bad = ~ok
    if bad.any():
        s = np.asarray(s, dtype=np.float64).copy()
        s[bad] = karney_inverse(lat1[bad], lon1[bad], lat2[bad], lon2[bad], a, f)
    return s


def geodesic_inverse_full(lat1, lon1, lat2, lon2, a: float = WGS84_A, f: float = WGS84_F):
    """Exact (distance, fwd azimuth, back azimuth) with Karney rescue."""
    lat1, lon1, lat2, lon2 = np.broadcast_arrays(
        _as_f64(lat1), _as_f64(lon1), _as_f64(lat2), _as_f64(lon2)
    )
    s, az1, az2, ok = vincenty_inverse(lat1, lon1, lat2, lon2, a, f, full=True)
    # a NaN coordinate never converges, and the Karney series would give
    # it a finite azimuth (360 for a NaN longitude): it stays NaN
    bad = ~ok & ~np.isnan(lat1 + lon1 + lat2 + lon2)
    if bad.any():
        s = s.copy(); az1 = az1.copy(); az2 = az2.copy()
        sk, a1k, a2k = karney_inverse(lat1[bad], lon1[bad], lat2[bad], lon2[bad], a, f, full=True)
        s[bad] = sk
        az1[bad] = a1k
        az2[bad] = a2k
    return s, az1, az2


def interpolate_points(lat1, lon1, lat2, lon2, n_points: int,
                       a: float = WGS84_A, f: float = WGS84_F):
    """n evenly-spaced interior waypoints along the geodesic (endpoints
    excluded; n+1 equal segments) — reference contract distance.py:279-356.

    Returns (lats, lons) arrays of shape ``input_shape + (n_points,)``.
    Coincident endpoints repeat the point (distance.py:338-340).
    """
    s, az1, _ = geodesic_inverse_full(lat1, lon1, lat2, lon2, a, f)
    s = np.atleast_1d(s)
    az1 = np.atleast_1d(az1)
    l1 = np.atleast_1d(_as_f64(lat1))
    g1 = np.atleast_1d(_as_f64(lon1))
    fracs = np.arange(1, n_points + 1, dtype=np.float64) / (n_points + 1)
    # broadcast: (n_rows, n_points)
    dists = s[:, None] * fracs[None, :]
    lat_b = np.repeat(l1[:, None], n_points, axis=1)
    lon_b = np.repeat(g1[:, None], n_points, axis=1)
    az_b = np.repeat(az1[:, None], n_points, axis=1)
    la, lo, _ = vincenty_direct(lat_b.ravel(), lon_b.ravel(), az_b.ravel(), dists.ravel(), a, f)
    la = la.reshape(lat_b.shape)
    lo = lo.reshape(lon_b.shape)
    coincident = s == 0.0
    if coincident.any():
        la[coincident, :] = l1[coincident, None]
        lo[coincident, :] = g1[coincident, None]
    return la, lo
