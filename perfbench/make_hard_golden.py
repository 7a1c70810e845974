"""Writes hard_golden.json: fixed hard-case geodesic pairs with distances
from the 40-digit exact-integral solver in tests/truth_geodesic.py.

    PYTHONPATH=.:tests python3 perfbench/make_hard_golden.py

The pairs are near-antipodal (a third of them near the equator, where
Vincenty's iteration fails most), polar (|lat1| > 89.9) and a few
metres apart. The solver takes seconds per pair, so the file is made
once and committed; geodesic_pairs mixes these rows into every seed's
table next to the 1,500 golden pairs, and checks them with the same
tolerance.
"""

from __future__ import annotations

import json
import os
from multiprocessing import Pool

import numpy as np

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "hard_golden.json")
N_ANTIPODAL, N_EQUATORIAL, N_POLAR, N_SHORT = 80, 40, 80, 40


def _pairs() -> np.ndarray:
    rng = np.random.default_rng(7)

    def uniform(n):
        return np.degrees(np.arcsin(rng.uniform(-1, 1, n))), rng.uniform(-180, 180, n)

    def antipodal(lat1, lon1):
        n = len(lat1)
        lat2 = np.clip(-lat1 + rng.uniform(-0.5, 0.5, n), -90, 90)
        lon2 = np.mod(lon1 + rng.uniform(-0.5, 0.5, n), 360.0) - 180.0
        return lat2, lon2

    rows = []
    lat1, lon1 = uniform(N_ANTIPODAL)
    rows.append(np.column_stack([lat1, lon1, *antipodal(lat1, lon1)]))
    lat1, lon1 = rng.uniform(-1, 1, N_EQUATORIAL), rng.uniform(-180, 180, N_EQUATORIAL)
    rows.append(np.column_stack([lat1, lon1, *antipodal(lat1, lon1)]))
    lat1 = np.where(rng.random(N_POLAR) < 0.5, 1, -1) * rng.uniform(89.9, 90.0, N_POLAR)
    lon1 = rng.uniform(-180, 180, N_POLAR)
    rows.append(np.column_stack([lat1, lon1, *uniform(N_POLAR)]))
    lat1, lon1 = uniform(N_SHORT)
    lat2 = np.clip(lat1 + rng.uniform(-1e-4, 1e-4, N_SHORT), -90, 90)
    lon2 = np.mod(lon1 + rng.uniform(-1e-4, 1e-4, N_SHORT) + 180.0, 360.0) - 180.0
    rows.append(np.column_stack([lat1, lon1, lat2, lon2]))
    return np.round(np.concatenate(rows), 9)


def _truth(row) -> float:
    from truth_geodesic import geodesic_inverse_truth

    return geodesic_inverse_truth(*row)


def main() -> None:
    pairs = _pairs()
    with Pool(3) as pool:
        s = pool.map(_truth, [tuple(float(x) for x in r) for r in pairs], chunksize=4)
    write([[*map(float, r), d] for r, d in zip(pairs, s)])


def write(rows) -> None:
    """One pair a line."""
    with open(OUT, "w") as f:
        f.write('{"columns": ["lat1", "lon1", "lat2", "lon2", "s_m"], "rows": [\n')
        f.write(",\n".join(json.dumps(r) for r in rows))
        f.write("\n]}\n")


if __name__ == "__main__":
    main()
