"""Quad-grid cell index tests: id math, covers, rings, conservativeness."""

import numpy as np

from geodistpy_spark import grid as G
from geodistpy_spark import kernels as K
from geodistpy_spark.constants import WGS84_A, WGS84_F, hav_bounds


class TestCellMath:
    def test_cell_id_bounds(self):
        res = 10
        n = 1 << res
        assert G.cell_id(-90.0, -180.0, res) == 0
        assert G.cell_id(89.9999, 179.9999, res) == n * n - 1
        # lon wraps: +180 == -180
        assert G.cell_id(10.0, 180.0, res) == G.cell_id(10.0, -180.0, res)
        # lat clamps at the pole
        assert G.cell_id(90.0, 0.0, res) == G.cell_id(89.99999, 0.0, res)

    def test_np_matches_scalar(self):
        rng = np.random.default_rng(1)
        lat = rng.uniform(-90, 90, 500)
        lon = rng.uniform(-180, 180, 500)
        for res in (3, 9, 15):
            ids = G.cell_id_np(lat, lon, res)
            for i in range(0, 500, 97):
                assert ids[i] == G.cell_id(lat[i], lon[i], res)

    def test_parent_child(self):
        res = 12
        for lat, lon in [(48.85, 2.35), (-33.9, 151.2), (89.95, -179.95)]:
            c = G.cell_id(lat, lon, res)
            p = G.parent_cell(c, res, res - 2)
            assert p == G.cell_id(lat, lon, res - 2)

    def test_cell_center_roundtrip(self):
        res = 8
        for cell in [0, 12345, (1 << (2 * res)) - 1]:
            la, lo = G.cell_center(cell, res)
            assert G.cell_id(la, lo, res) == cell


class TestKRing:
    def test_interior_ring_size(self):
        cells = G.k_ring(40.0, 30.0, 10, 1)
        assert len(cells) == 9

    def test_antimeridian_wrap(self):
        cells = G.k_ring(0.0, 179.999, 8, 1)
        assert len(cells) == 9
        n = 1 << 8
        xs = {c % n for c in cells}
        assert 0 in xs and n - 1 in xs  # wrapped across the seam

    def test_polar_clamp(self):
        cells = G.k_ring(89.999, 0.0, 8, 1)
        assert len(cells) == 6  # top row clipped


class TestCoverConservative:
    """The load-bearing property: cover(center, R) contains EVERY point
    within geodesic distance R — this is what makes prefilter+refine an
    exact rewrite of the distance theta-join."""

    def test_random_stress(self):
        rng = np.random.default_rng(7)
        for trial in range(120):
            clat = rng.uniform(-89.999, 89.999)
            clon = rng.uniform(-180, 180)
            if trial % 5 == 0:
                clat = rng.uniform(85, 89.999) * rng.choice([-1, 1])
            if trial % 7 == 0:
                clon = rng.uniform(179, 180) * rng.choice([-1, 1])
            radius = 10 ** rng.uniform(2.0, 6.8)
            res, cover = G.cell_cover(clat, clon, radius)
            cover_set = set(cover)
            m = 300
            dlat = radius / 110567 * 1.3
            plat = np.clip(clat + rng.uniform(-dlat, dlat, m), -90, 90)
            dlon = min(radius / (111319.49 * max(np.cos(np.radians(np.abs(plat).max())), 1e-6)) * 1.5, 180)
            plon = ((clon + rng.uniform(-dlon, dlon, m) + 180) % 360) - 180
            d = K.geodesic_inverse(np.full(m, clat), np.full(m, clon), plat, plon)
            cids = G.cell_id_np(plat[d <= radius], plon[d <= radius], res)
            assert all(c in cover_set for c in cids), (clat, clon, radius)

    def test_pole_cap_cover(self):
        res, cover = G.cell_cover(89.9, 0.0, 100_000.0)
        n = 1 << res
        top_row = {(n - 1) * n + x for x in range(n)}
        assert top_row <= set(cover)  # full top row present

    def test_polar_per_row_spans_conservative_and_small(self):
        # randomized pole-cap covers: every in-radius point must land in
        # a covered cell, and the per-row spans must beat full rows
        rng = np.random.default_rng(31)
        for trial in range(40):
            lat = float(rng.uniform(80, 90)) * (1 if trial % 2 else -1)
            lon = float(rng.uniform(-180, 180))
            radius = float(rng.uniform(5e3, 3e6))
            res = int(rng.integers(4, 11))
            _, cover = G.cell_cover(lat, lon, radius, res=res)
            cover_set = set(cover)
            az = rng.uniform(0, 360, 60)
            frac = np.concatenate([rng.uniform(0, 1, 50), np.full(10, 1.0)])
            pla, plo, _ = K.vincenty_direct(np.full(60, lat), np.full(60, lon),
                                            az, radius * frac * 0.999)
            cids = G.cell_id_np(pla, plo, res)
            assert all(c in cover_set for c in cids), (lat, lon, radius, res)
        # size win vs the round-1 full-row emission: the cover now tracks
        # the true cap (rows above phi_full legitimately span ALL
        # longitudes, so the win is bounded by the real cap area —
        # measured 44k vs 94k cells here)
        res, cover = G.cell_cover(89.9, 0.0, 50_000.0, res=12)
        n = 1 << res
        outer = hav_bounds(WGS84_A, WGS84_F)[1]
        sigma_deg = np.degrees(50_000.0 * outer / WGS84_A)
        rows = int(np.ceil(2 * sigma_deg / (180.0 / n))) + 2
        assert len(cover) < 0.6 * rows * n

    def test_polar_cover_bounded_and_conservative(self):
        # 1 km at lat 89.99 exploded to ~16k cells at res 14 in round 1;
        # auto-res must coarsen until the cover is bounded yet still
        # contain every in-radius point
        res, cover = G.cell_cover(89.99, 45.0, 1_000.0)
        assert len(cover) <= 2048
        cover_set = set(cover)
        rng = np.random.default_rng(5)
        az = rng.uniform(0, 360, 50)
        frac = rng.uniform(0, 1, 50)
        pla, plo, _ = K.vincenty_direct(np.full(50, 89.99), np.full(50, 45.0),
                                        az, 1_000.0 * frac)
        cids = G.cell_id_np(pla, plo, res)
        assert all(c in cover_set for c in cids)

    def test_explicit_res_not_coarsened(self):
        res, _ = G.cell_cover(89.99, 45.0, 1_000.0, res=14)
        assert res == 14  # caller-forced resolution is respected

    def test_cap_covers_flat_contract(self):
        # one row per point; a non-finite center gets an empty row; an
        # over-budget row is empty and leaves its neighbours unchanged;
        # no row repeats a cell
        lat = np.array([10.0, np.nan, 0.0, np.inf, 89.99, -30.0, 45.0, -np.inf])
        lon = np.array([20.0, 5.0, np.nan, 5.0, 45.0, 179.99, -np.inf, 0.0])
        sigma = np.array([0.01, 0.01, 0.01, 0.01, 0.001, 0.02, 0.01, 0.01])
        off, cells = G.cap_covers(lat, lon, sigma, 10)
        assert len(off) == len(lat) + 1
        sizes = np.diff(off)
        assert (sizes[[1, 2, 3, 6, 7]] == 0).all()
        for i in range(len(lat)):
            row = cells[off[i]:off[i + 1]]
            assert len(np.unique(row)) == len(row), i
        budget = max(sizes[0], sizes[5])
        assert sizes[4] > budget  # the polar row spans full longitude rows
        off_b, cells_b = G.cap_covers(lat, lon, sigma, 10, max_cells=budget)
        assert np.diff(off_b).tolist() == [sizes[0], 0, 0, 0, 0, sizes[5], 0, 0]
        for i in (0, 5):
            assert (cells_b[off_b[i]:off_b[i + 1]] == cells[off[i]:off[i + 1]]).all()

    def test_cell_density_smooth_matches_brute(self, spark, places):
        from geodistpy_spark.operators import cell_density_smooth

        res, k = 4, 2
        out = cell_density_smooth(places, res=res, k=k).toPandas().set_index("cell")
        pl = places.toPandas()
        cids = G.cell_id_np(pl.lat.values, pl.lon.values, res)
        vals, cnts = np.unique(cids, return_counts=True)
        counts = dict(zip(vals.tolist(), cnts.tolist()))
        n = 1 << res
        # brute: sum counts over each output cell's k-ring donors
        for row in out.itertuples():
            cell = row.Index
            y, x = divmod(int(cell), n)
            exp = 0
            for dy in range(-k, k + 1):
                yy = y + dy
                if not 0 <= yy < n:
                    continue
                for dx in range(-k, k + 1):
                    exp += counts.get(yy * n + ((x + dx) % n), 0)
            assert row.n_ring == exp, (cell, row.n_ring, exp)
            assert row.n == counts.get(int(cell), 0)

    def test_adaptive_cell_index_invariants(self, spark, places):
        # density-adaptive index: (a) each point's adaptive cell contains
        # it; (b) the chosen cell is NOT overfull unless clamped at
        # max_res; (c) minimal depth: the parent level IS overfull
        from geodistpy_spark.operators import adaptive_cell_index

        thr, rmin, rmax = 30, 2, 9
        out = adaptive_cell_index(places, max_per_cell=thr,
                                  min_res=rmin, max_res=rmax).toPandas()
        assert len(out) == places.count()
        assert out.a_res.between(rmin, rmax).all()
        # brute-force level counts
        counts = {}
        for r in range(rmin, rmax + 1):
            cid = G.cell_id_np(out.lat.values, out.lon.values, r)
            vals, cnts = np.unique(cid, return_counts=True)
            counts[r] = dict(zip(vals.tolist(), cnts.tolist()))
        for row in out.itertuples():
            r, c = int(row.a_res), int(row.a_cell)
            assert G.cell_id(row.lat, row.lon, r) == c          # (a)
            if r < rmax:
                assert counts[r][c] <= thr                      # (b)
            if r > rmin:
                parent = G.parent_cell(c, r, r - 1)
                assert counts[r - 1][parent] > thr              # (c)

    def test_pick_resolution_monotone(self):
        rs = [G.pick_resolution(r) for r in (100, 1e4, 1e6, 1e7)]
        assert rs == sorted(rs, reverse=True)


class TestGeoCentroid:
    def test_centroid_invariants(self, spark):
        # antimeridian-safe (naive lon average would give ~0 for a group
        # straddling 180), coincident -> resultant 1, antipodal -> ~0
        import numpy as np

        from geodistpy_spark.operators import geo_centroid

        df = spark.createDataFrame([
            ("am", 0.0, 179.9), ("am", 0.0, -179.9),
            ("one", -33.9, 151.2),
            ("anti", 0.0, 10.0), ("anti", 0.0, -170.0),
            ("spread", 10.0, 20.0), ("spread", 12.0, 22.0), ("spread", 11.0, 21.0),
        ], "g string, lat double, lon double")
        out = geo_centroid(df, "g").toPandas().set_index("g")
        am = out.loc["am"]
        assert abs(abs(am.c_lon) - 180.0) < 1e-9 and abs(am.c_lat) < 1e-9
        one = out.loc["one"]
        assert abs(one.c_lat - -33.9) < 1e-9 and abs(one.c_lon - 151.2) < 1e-9
        assert abs(one.resultant - 1.0) < 1e-12
        assert out.loc["anti"].resultant < 1e-9
        sp = out.loc["spread"]
        assert 10.0 < sp.c_lat < 12.0 and 20.0 < sp.c_lon < 22.0
        assert 0.99 < sp.resultant <= 1.0
        assert (out.n_points == [2, 2, 1, 3]).all() or set(out.n_points) == {1, 2, 3}

    def test_bbox_antimeridian_and_width(self, spark):
        from geodistpy_spark.operators import geo_bbox

        df = spark.createDataFrame([
            ("am", 1.0, 179.5), ("am", -1.0, -179.7), ("am", 0.0, 179.9),
            ("one", -33.9, 151.2),
            ("spread", 0.0, 0.0), ("spread", 0.0, 90.0), ("spread", 0.0, -90.0),
        ], "g string, lat double, lon double")
        out = geo_bbox(df, "g").toPandas().set_index("g")
        am = out.loc["am"]
        # minimal interval 179.5 -> east over 180 -> -179.7 (width 0.8)
        assert abs(am.lon_west - 179.5) < 1e-9
        assert abs(am.lon_east - -179.7) < 1e-9
        assert abs(am.lon_width - 0.8) < 1e-9
        assert am.lat_min == -1.0 and am.lat_max == 1.0
        one = out.loc["one"]
        assert one.lon_width == 0.0
        assert abs(one.lon_west - 151.2) < 1e-9 and one.lon_east == 151.2
        sp = out.loc["spread"]
        # three points every 90 deg: largest gap 180 (90 -> -90 wrap),
        # covered interval -90 -> 0 -> 90, width 180
        assert abs(sp.lon_width - 180.0) < 1e-9
        assert abs(sp.lon_west - -90.0) < 1e-9 and abs(sp.lon_east - 90.0) < 1e-9

    def test_bbox_random_groups_cover_and_minimal(self, spark):
        # property sweep in one job: for 200 random groups, every point
        # longitude lies in the reported circular interval, and the
        # width equals 360 minus the true largest gap (minimality)
        import numpy as np

        from geodistpy_spark.operators import geo_bbox

        rng = np.random.default_rng(17)
        rows, truth = [], {}
        for g in range(200):
            n = int(rng.integers(1, 12))
            lons = rng.uniform(-180.0, 180.0, n)
            lats = rng.uniform(-90.0, 90.0, n)
            rows += [(g, float(la), float(lo)) for la, lo in zip(lats, lons)]
            truth[g] = np.sort(np.unique(lons))
        df = spark.createDataFrame(rows, "g long, lat double, lon double")
        out = geo_bbox(df, "g").toPandas().set_index("g")
        assert len(out) == 200
        for g, lons in truth.items():
            r = out.loc[g]
            gaps = np.diff(np.concatenate([lons, [lons[0] + 360.0]]))
            assert abs(r.lon_width - (360.0 - gaps.max())) < 1e-9, g
            pos = np.mod(lons - r.lon_west, 360.0)
            pos = np.where(pos > 360.0 - 1e-6, pos - 360.0, pos)  # fp wrap
            assert (pos <= r.lon_width + 1e-9).all(), g
            assert abs(r.lat_min - min(la for gg, la, lo in rows if gg == g)) < 1e-12


class TestCompactCells:
    def test_complete_block_promotes_and_roundtrips(self):
        from geodistpy_spark.grid import compact_cells, uncompact_cells

        # all 16 res-7 descendants of one res-5 cell -> exactly that cell
        block = [(160 + dy) * 128 + 80 + dx for dy in range(4) for dx in range(4)]
        assert compact_cells(block, 7, min_res=4) == [(5, 40 * 32 + 20)]
        assert uncompact_cells([(5, 40 * 32 + 20)], 7) == sorted(block)
        # one missing leaf: its res-6 group stays at res 7, siblings at 6
        part = block[1:]
        out = compact_cells(part, 7, min_res=4)
        assert sum(1 for r, _ in out if r == 7) == 3
        assert sum(1 for r, _ in out if r == 6) == 3
        assert uncompact_cells(out, 7) == sorted(part)
        # min_res floor respected
        assert all(r >= 6 for r, _ in compact_cells(block, 7, min_res=6))

    def test_distributed_matches_driver_and_is_minimal(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from geodistpy_spark.grid import cell_id_np, compact_cells, nx, uncompact_cells
        from geodistpy_spark.operators import compact_cell_set

        rng = np.random.default_rng(5)
        cells = sorted(set(cell_id_np(rng.uniform(-89, 89, 4000),
                                      rng.uniform(-180, 180, 4000), 7).tolist()))
        drv = compact_cells(cells, 7, min_res=4)
        df = spark.createDataFrame([(c,) for c in cells], "cell long")
        dist = sorted((r["res"], r["cell"])
                      for r in compact_cell_set(df, 7, min_res=4).collect())
        assert dist == drv
        assert uncompact_cells(dist, 7) == cells
        # minimality: no complete 4-sibling group survives at any level
        for r in (7, 6, 5):
            level = [c for rr, c in dist if rr == r]
            n, pn = nx(r), nx(r - 1)
            groups = {}
            for c in level:
                y, x = divmod(c, n)
                groups.setdefault((y >> 1) * pn + (x >> 1), 0)
                groups[(y >> 1) * pn + (x >> 1)] += 1
            assert all(v < 4 for v in groups.values()), (r, groups)

    def test_edges(self, spark):
        import pytest as _p

        from geodistpy_spark.grid import compact_cells, uncompact_cells
        from geodistpy_spark.operators import compact_cell_set

        assert compact_cells([], 7) == []
        empty = spark.createDataFrame([], "cell long")
        assert compact_cell_set(empty, 7, min_res=4).count() == 0
        with _p.raises(ValueError, match="finer"):
            uncompact_cells([(8, 0)], 7)
        with _p.raises(ValueError, match="min_res"):
            compact_cell_set(empty, 7, min_res=9)

    def test_compact_roundtrip_property(self):
        # property: uncompact(compact(S)) == S for random cell sets at
        # several densities (incl. near-full grids, where compaction
        # promotes aggressively)
        import numpy as np

        from geodistpy_spark.grid import compact_cells, nx, uncompact_cells

        rng = np.random.default_rng(11)
        res = 5
        total = nx(res) * nx(res)
        for frac in (0.05, 0.5, 0.97, 1.0):
            cells = sorted(rng.choice(total, size=int(total * frac),
                                      replace=False).tolist())
            comp = compact_cells(cells, res)
            assert uncompact_cells(comp, res) == cells, frac
            assert len(comp) <= len(cells)
        # full grid collapses to the single res-0 cell
        assert compact_cells(range(total), res) == [(0, 0)]


class TestNonFiniteCellIds:
    def test_cell_id_np_nonfinite_is_minus_one(self):
        import numpy as np

        import geodistpy_spark.grid as G

        la = np.array([10.0, float("nan"), float("inf"), -float("inf"), 20.0])
        lo = np.array([20.0, 5.0, 5.0, float("nan"), float("nan")])
        out = G.cell_id_np(la, lo, 6)
        # finite rows keep the normal grid math; any non-finite
        # coordinate yields -1, mirroring the Column expression's NULL
        assert out[0] == G.cell_id(10.0, 20.0, 6)
        assert list(out[1:]) == [-1, -1, -1, -1]
