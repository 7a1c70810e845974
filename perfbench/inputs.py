"""Seeded input generators, cached on disk by (workload, name, size, seed).

The program under test only ever sees the files written here. Documents,
places, polygons and raster tiles come from ``sources.fixtures``; the
geodesic pairs and the dedup texts are built here with stated hard-case
and near-duplicate shares.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import ROOT, WORK

GOLDEN_INVERSE = os.path.join(ROOT, "fixtures", "golden", "inverse.parquet")
HARD_GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "hard_golden.json")

# geodesic_pairs hard-case shares (the rest are area-uniform pairs)
ANTIPODAL_SHARE = 0.02
POLAR_SHARE = 0.02
COINCIDENT_SHARE = 0.01
# text_dedup: share of texts that are near-copies of an earlier text,
# and the share of a copy's words that are replaced
NEAR_DUP_SHARE = 0.10
NEAR_DUP_EDIT = 0.05


def cache_path(workload: str, name: str, size: int, seed: int) -> str:
    return os.path.join(WORK, "inputs", f"{workload}-{name}-{size}-s{seed}")


def cached(path: str, build) -> str:
    """Build ``path`` (a directory) once; a crash mid-build leaves no
    half-written cache behind."""
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def write_parts(table: pa.Table, out_dir: str, n_files: int) -> None:
    step = max((table.num_rows + n_files - 1) // n_files, 1)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(out_dir, f"part-{i:04d}.parquet"))


def read_dir(path: str) -> pa.Table:
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    return pa.concat_tables([pq.read_table(os.path.join(path, f)) for f in files])


def save_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def load_json(path: str):
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# geo inputs
# ---------------------------------------------------------------------------

def documents(workload: str, n: int, seed: int, n_files: int = 8) -> str:
    from geodistpy_spark.sources.fixtures import generate_documents

    return cached(cache_path(workload, "docs", n, seed),
                   lambda d: write_parts(generate_documents(n, seed=seed), d, n_files))


def geo_points(docs_dir: str) -> dict:
    """The geo spans of a documents table, parsed driver-side as
    ``extract_geo_spans`` keeps them: key = doc number * 8 + span index."""
    import pyarrow.compute as pc

    spans = read_dir(docs_dir).combine_chunks()
    lists = spans.column("spans").chunk(0)
    parent = pc.list_parent_indices(lists).to_numpy()
    flat = lists.flatten()
    geo = pc.equal(flat.field("kind"), "geo").to_numpy(zero_copy_only=False)
    offsets = lists.offsets.to_numpy()
    doc_num = np.array([int(d[3:]) for d in spans.column("doc_id").to_pylist()], np.int64)
    parent = parent[geo]
    span_idx = np.flatnonzero(geo) - offsets[parent]
    parts = pc.split_pattern(flat.field("text").filter(pa.array(geo)), ",")
    lat = pc.list_element(parts, 0).cast(pa.float64()).to_numpy()
    lon = pc.list_element(parts, 1).cast(pa.float64()).to_numpy()
    ok = (lat >= -90.0) & (lat <= 90.0) & (lon >= -180.0) & (lon <= 180.0)
    return {"key": (doc_num[parent] * 8 + span_idx)[ok], "lat": lat[ok], "lon": lon[ok]}


def places(workload: str, n: int, seed: int) -> str:
    """Query points (query_id, q_lat, q_lon) from the fixture mixture."""
    from geodistpy_spark.sources.fixtures import generate_places

    def build(d):
        t = generate_places(n, seed=seed)
        pq.write_table(pa.table({"query_id": t["place_id"], "q_lat": t["lat"],
                                 "q_lon": t["lon"]}), os.path.join(d, "part-0000.parquet"))

    return cached(cache_path(workload, "places", n, seed), build)


def polygons(workload: str, n: int, seed: int) -> str:
    from geodistpy_spark.sources.fixtures import generate_polygons

    return cached(cache_path(workload, "polygons", n, seed),
                   lambda d: pq.write_table(generate_polygons(n, seed=seed),
                                            os.path.join(d, "part-0000.parquet")))


def raster(workload: str, res: int, seed: int) -> str:
    from geodistpy_spark.sources.fixtures import generate_raster

    return cached(cache_path(workload, "raster", res, seed),
                   lambda d: pq.write_table(generate_raster(res, seed=seed),
                                            os.path.join(d, "part-0000.parquet")))


def rings(poly_dir: str) -> list[tuple[int, np.ndarray, np.ndarray]]:
    t = read_dir(poly_dir).to_pydict()
    return [(pid, np.array([v["lat"] for v in ring]), np.array([v["lon"] for v in ring]))
            for pid, ring in zip(t["poly_id"], t["ring"])]


# ---------------------------------------------------------------------------
# geodesic pairs
# ---------------------------------------------------------------------------

def golden_pairs() -> dict:
    """The 1,500 golden inverse pairs (coordinates from the integer
    recipe the golden fixture was made with, truth from the fixture),
    then the fixed hard-case pairs of hard_golden.json."""
    t = pq.read_table(GOLDEN_INVERSE).to_pydict()
    k = np.array(t["id"], np.int64)
    g = {
        "lat1": (k * 9973 % 17999) / 1e2 - 8.9995e1,
        "lon1": (k * 7919 % 35999) / 1e2 - 1.79995e2,
        "lat2": ((k * 104729 + 12345) % 17999) / 1e2 - 8.9995e1,
        "lon2": ((k * 95231 + 54321) % 35999) / 1e2 - 1.79995e2,
        "truth": np.array(t["s_m"]),
    }
    h = np.array(load_json(HARD_GOLDEN)["rows"])
    return {c: np.concatenate([v, h[:, i]]) for i, (c, v) in enumerate(g.items())}


def _uniform_points(rng, n):
    return np.degrees(np.arcsin(rng.uniform(-1, 1, n))), rng.uniform(-180, 180, n)


def _wrap(lon):
    return np.mod(lon + 180.0, 360.0) - 180.0


def pairs(n: int, seed: int) -> str:
    """``n`` point pairs: area-uniform, plus near-antipodal (within 0.5
    degrees of the antipode), polar (|lat| > 89.9) and coincident rows at
    the stated shares, plus the golden pairs; rows shuffled so the hard
    cases spread over all partitions. ``truth`` holds the golden
    distances; ``hard_ref`` holds the package's Karney kernel's solution,
    which converges everywhere, on every hard-case row. It checks the
    Vincenty-then-rescue path row by row; the hard-case golden rows
    check the Karney kernel itself."""
    from geodistpy_spark.kernels import karney_inverse

    def build(d):
        rng = np.random.default_rng(seed)
        g = golden_pairs()
        m = n - len(g["truth"])
        lat1, lon1 = _uniform_points(rng, m)
        lat2, lon2 = _uniform_points(rng, m)
        kind = rng.choice(4, size=m, p=[1 - ANTIPODAL_SHARE - POLAR_SHARE - COINCIDENT_SHARE,
                                        ANTIPODAL_SHARE, POLAR_SHARE, COINCIDENT_SHARE])
        a = kind == 1
        lat2[a] = np.clip(-lat1[a] + rng.uniform(-0.5, 0.5, a.sum()), -90, 90)
        lon2[a] = _wrap(lon1[a] + 180.0 + rng.uniform(-0.5, 0.5, a.sum()))
        p = kind == 2
        lat1[p] = np.where(rng.random(p.sum()) < 0.5, 1, -1) * rng.uniform(89.9, 90.0, p.sum())
        c = kind == 3
        lat2[c], lon2[c] = lat1[c], lon1[c]
        cols = {
            "lat1": np.concatenate([lat1, g["lat1"]]), "lon1": np.concatenate([lon1, g["lon1"]]),
            "lat2": np.concatenate([lat2, g["lat2"]]), "lon2": np.concatenate([lon2, g["lon2"]]),
        }
        hard = np.full(m, np.nan)
        h = kind > 0
        hard[h] = karney_inverse(lat1[h], lon1[h], lat2[h], lon2[h])
        refs = {"truth": np.concatenate([np.full(m, np.nan), g["truth"]]),
                "hard_ref": np.concatenate([hard, np.full(len(g["truth"]), np.nan)])}
        order = rng.permutation(n)
        table = pa.table({k: v[order] for k, v in cols.items()})
        for k, v in refs.items():
            v = v[order]
            table = table.append_column(k, pa.array(v, mask=np.isnan(v)))
        write_parts(table, d, 8)
        save_json(os.path.join(d, "_shares.json"), {
            "rows": n, "golden": len(g["truth"]), "antipodal": int(a.sum()),
            "polar": int(p.sum()), "coincident": int(c.sum())})

    return cached(cache_path("geodesic_pairs", "pairs", n, seed), build)


# ---------------------------------------------------------------------------
# dedup texts
# ---------------------------------------------------------------------------

def texts(n: int, seed: int) -> str:
    """``n`` texts of 20-60 words from a 20,000-word vocabulary; a
    NEAR_DUP_SHARE of them copy an earlier text with NEAR_DUP_EDIT of
    its words replaced (word 3-shingle Jaccard ~0.7-0.85)."""

    def build(d):
        rng = np.random.default_rng(seed)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        lens = rng.integers(3, 10, 20_000)
        vocab = np.array(["".join(rng.choice(letters, k)) for k in lens])
        n_words = rng.integers(20, 61, n)
        idx = rng.integers(0, len(vocab), (n, 60))
        dups = np.flatnonzero(rng.random(n) < NEAR_DUP_SHARE)
        dups = dups[dups > 0]
        src = (rng.random(len(dups)) * dups).astype(np.int64)  # an earlier text
        planted = []
        for d_i, s_i in zip(dups, src):
            idx[d_i] = idx[s_i]
            n_words[d_i] = n_words[s_i]
            n_edit = max(1, int(round(NEAR_DUP_EDIT * n_words[d_i])))
            pos = rng.choice(n_words[d_i], n_edit, replace=False)
            idx[d_i, pos] = rng.integers(0, len(vocab), n_edit)
            planted.append([int(s_i), int(d_i)])
        text = [" ".join(vocab[idx[i, : n_words[i]]]) for i in range(n)]
        write_parts(pa.table({"doc_id": pa.array(np.arange(n), pa.int64()),
                              "text": pa.array(text, pa.string())}), d, 8)
        save_json(os.path.join(d, "_planted.json"), planted)

    return cached(cache_path("text_dedup", "texts", n, seed), build)
