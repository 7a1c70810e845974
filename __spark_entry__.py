"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship pipeline; ``queries()`` exposes
one entry per implemented operator (SURVEY.md §2 + training-data ops);
``oracle_sql()`` provides exact ANSI-SQL mirrors DuckDB runs on the same
tables.

Portability rules that make the oracles EXACT (not just close):
- every non-integer literal in shared SQL uses e-notation (both Spark
  and DuckDB parse ``100.0`` as DECIMAL, which diverges from the double
  path; ``1e2`` is DOUBLE in both),
- distances are rounded to whole meters, ratios/cosines to 6 decimals
  (bridges JVM-vs-libm trig ulp differences),
- derived coordinates are pure integer arithmetic over table keys
  (bit-identical in both engines),
- hash/text ops are md5/string built-ins (bit-identical).

Iterative Vincenty/Karney paths are not SQL-expressible, so those
queries are value-gated against fixtures/golden/*.parquet — mpmath
40-digit exact-integral expected values (scripts/make_golden.py;
truth solver tests/truth_geodesic.py). Both the Spark query and the
DuckDB oracle read the SAME golden table; the Spark side returns
within-tolerance booleans (plus reference values taken from the golden
table so the columns hash-match), the oracle returns the same reference
values with ok=TRUE. A kernel regression flips ok and fails the hash.
No query is rows-only: the ANN trio (ivf/pq/ivfpq_topk) runs over
committed fixtures with full SQL mirrors like everything else.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

FIXTURE_DOCS = os.path.join(_REPO, "fixtures", "documents_interleaved.parquet")
FIXTURE_GOLDEN = os.path.join(_REPO, "fixtures", "golden")
FIXTURE_ANN = os.path.join(_REPO, "fixtures", "ann")

# gate bars for the golden-fixture value checks (fixtures/golden/META.json
# records the observed kernel-vs-truth errors: >=2x margin under each bar)
GOLDEN_DIST_TOL_M = 2.5e-4   # kernel distance vs mpmath truth
GOLDEN_POS_TOL_M = 5e-3      # derived positions (midpoint/waypoints)
GOLDEN_ROUNDTRIP_TOL_M = 1e-3  # inverse+bearing+direct composed
GOLDEN_PATH_TOL_M = 0.05     # span_path leg sum: <=7 legs x 0.5 mm quantization
GOLDEN_NET_TOL_M = 0.51      # span_path net: operator rounds to whole meters

# ---------------------------------------------------------------------------
# shared derived-point formulas (pure integer math -> exact in both engines)
# ---------------------------------------------------------------------------

PTS_LAT = "(({k} * 9973) % 17999) / 1e2 - 8.9995e1"
PTS_LON = "(({k} * 7919) % 35999) / 1e2 - 1.79995e2"
PTS_LAT2 = "(({k} * 104729 + 12345) % 17999) / 1e2 - 8.9995e1"
PTS_LON2 = "(({k} * 95231 + 54321) % 35999) / 1e2 - 1.79995e2"
QRY_LAT = "(({k} * 3571 + 11) % 17999) / 1e2 - 8.9995e1"
QRY_LON = "(({k} * 6763 + 13) % 35999) / 1e2 - 1.79995e2"


def _pair_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return cust.select(
        F.col("c_custkey").alias("id"),
        F.expr(PTS_LAT.format(k="c_custkey")).alias("lat1"),
        F.expr(PTS_LON.format(k="c_custkey")).alias("lon1"),
        F.expr(PTS_LAT2.format(k="c_custkey")).alias("lat2"),
        F.expr(PTS_LON2.format(k="c_custkey")).alias("lon2"),
    )


def _cand_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return cust.select(
        F.col("c_custkey").alias("cand_id"),
        F.expr(PTS_LAT.format(k="c_custkey")).alias("lat"),
        F.expr(PTS_LON.format(k="c_custkey")).alias("lon"),
    )


def _query_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return nat.select(
        F.col("n_nationkey").cast("long").alias("query_id"),
        F.expr(QRY_LAT.format(k="n_nationkey")).alias("q_lat"),
        F.expr(QRY_LON.format(k="n_nationkey")).alias("q_lon"),
    )


_PAIR_SQL = (
    "SELECT c_custkey AS id, "
    f"{PTS_LAT.format(k='c_custkey')} AS lat1, {PTS_LON.format(k='c_custkey')} AS lon1, "
    f"{PTS_LAT2.format(k='c_custkey')} AS lat2, {PTS_LON2.format(k='c_custkey')} AS lon2 "
    "FROM customer"
)
_CAND_SQL = (
    "SELECT c_custkey AS cand_id, "
    f"{PTS_LAT.format(k='c_custkey')} AS lat, {PTS_LON.format(k='c_custkey')} AS lon "
    "FROM customer"
)
_QRY_SQL = (
    "SELECT CAST(n_nationkey AS BIGINT) AS query_id, "
    f"{QRY_LAT.format(k='n_nationkey')} AS q_lat, {QRY_LON.format(k='n_nationkey')} AS q_lon "
    "FROM nation"
)


def _hav_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Haversine mirror of functions.expressions.haversine_m (R=6371009)."""
    p1, l1, p2, l2 = (f"radians({c})" for c in (lat1, lon1, lat2, lon2))
    h = (
        f"sin(({p2} - {p1}) / 2e0) * sin(({p2} - {p1}) / 2e0) + "
        f"cos({p1}) * cos({p2}) * (sin(({l2} - {l1}) / 2e0) * sin(({l2} - {l1}) / 2e0))"
    )
    return f"2e0 * 6.371009e6 * asin(sqrt(least(greatest({h}, 0e0), 1e0)))"


_ONE_MINUS_F = "9.966471893352525e-1"   # repr-exact 1 - 1/298.257223563
_HALF_F = "1.6764053323737402e-3"       # f / 2
_WGS_A = "6.378137e6"


def _gc_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Lambert great-circle mirror of functions.expressions.great_circle_m."""
    p1, l1, p2, l2 = (f"radians({c})" for c in (lat1, lon1, lat2, lon2))
    b1 = f"atan({_ONE_MINUS_F} * tan({p1}))"
    b2 = f"atan({_ONE_MINUS_F} * tan({p2}))"
    dl = f"({l2} - {l1})"
    y = (
        f"sqrt((cos({b2}) * sin({dl})) * (cos({b2}) * sin({dl})) + "
        f"(cos({b1}) * sin({b2}) - sin({b1}) * cos({b2}) * cos({dl})) * "
        f"(cos({b1}) * sin({b2}) - sin({b1}) * cos({b2}) * cos({dl})))"
    )
    x = f"sin({b1}) * sin({b2}) + cos({b1}) * cos({b2}) * cos({dl})"
    sg = f"atan2({y}, {x})"
    sp2 = f"(sin(({b1} + {b2}) / 2e0) * sin(({b1} + {b2}) / 2e0))"
    sq2 = f"(sin(({b2} - {b1}) / 2e0) * sin(({b2} - {b1}) / 2e0))"
    ch2 = f"(cos({sg} / 2e0) * cos({sg} / 2e0))"
    sh2 = f"(sin({sg} / 2e0) * sin({sg} / 2e0))"
    X = f"CASE WHEN {ch2} > 0e0 THEN ({sg} - sin({sg})) * {sp2} * (1e0 - {sq2}) / {ch2} ELSE 0e0 END"
    Y = f"CASE WHEN {sh2} > 0e0 THEN ({sg} + sin({sg})) * (1e0 - {sp2}) * {sq2} / {sh2} ELSE 0e0 END"
    return f"{_WGS_A} * ({sg} - {_HALF_F} * (({X}) + ({Y})))"


def _bearing_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    p1, l1, p2, l2 = (f"radians({c})" for c in (lat1, lon1, lat2, lon2))
    y = f"sin({l2} - {l1}) * cos({p2})"
    x = f"cos({p1}) * sin({p2}) - sin({p1}) * cos({p2}) * cos({l2} - {l1})"
    return f"((degrees(atan2({y}, {x})) % 3.6e2) + 3.6e2) % 3.6e2"


def _cell_sql(lat: str, lon: str, res: int) -> str:
    """Mirror of functions.expressions.cell_id_col (integer math)."""
    n = 1 << res
    x = (
        f"least(greatest(CAST(floor((({lon} + 1.8e2) % 3.6e2) / 3.6e2 * {n}) AS BIGINT), 0), {n - 1})"
    )
    y = f"least(greatest(CAST(floor(({lat} + 9e1) / 1.8e2 * {n}) AS BIGINT), 0), {n - 1})"
    return f"({y} * {n} + {x})"


# shared text-op fragments (documents table: doc_id, text)
_WORDS = "list_filter(string_split(lower(text), ' '), w -> w != '')"
_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, greatest(len(words) - 2, 0)), "
    "i -> array_to_string(words[i:i+2], ' ')))"
)
_N_SEEDS = 12
_N_BANDS = 4
_EMB_BANDS = 4   # hyperplane-LSH banding shared by query + oracle
_EMB_BITS = 4
_EMB_SEED = 42
_EMB_DIM = 64    # embeddings.parquet vector width (all sf dirs)
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "den"],
    "fr": ["le", "la", "et", "les", "des", "est", "pas", "une", "dans", "que"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "no"],
    "la": ["lorem", "ipsum", "dolor", "sit", "amet", "et", "ut", "ad", "ex", "ea"],
}


def _minhash_cte() -> str:
    mins = ", ".join(
        f"min(md5(concat('{s}:', shingle))) AS mh{s}" for s in range(_N_SEEDS)
    )
    return (
        f"WITH toks AS (SELECT doc_id, {_WORDS} AS words FROM documents), "
        f"sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM toks), "
        f"sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id)"
    )


def _bands_cte() -> str:
    rows = _N_SEEDS // _N_BANDS
    unions = " UNION ALL ".join(
        "SELECT doc_id, concat_ws('|', '{b}', {cols}) AS band_key FROM sig".format(
            b=b, cols=", ".join(f"mh{b * rows + r}" for r in range(rows))
        )
        for b in range(_N_BANDS)
    )
    return f"{_minhash_cte()}, bands AS ({unions})"


def _lsh_pairs_sql() -> str:
    return (
        f"{_bands_cte()} "
        "SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2 "
        "FROM bands a JOIN bands b ON a.band_key = b.band_key "
        "WHERE a.doc_id < b.doc_id"
    )


FIXTURE_POLYGONS = os.path.join(_REPO, "fixtures", "polygons.parquet")
FIXTURE_RASTER = os.path.join(_REPO, "fixtures", "raster.parquet")


def _posmod(x: str, m: str = "3.6e2") -> str:
    """np.mod semantics (result in [0, m)) for possibly-negative doubles."""
    return f"((({x}) % {m} + {m}) % {m})"


def _pip_hits_sql(points_sql: str, pid: str) -> str:
    """CTE chain computing (pt_id, poly_id) even-odd ray-cast hits —
    exact SQL mirror of operators/polygons.py semantics: per-ring
    ref-relative unwrap (cumulative, window sum over jump counts),
    polar-cap closure through the nearer pole, point longitude mapped
    into the ring's 360-degree window, horizontal edges skipped.
    Arithmetic is identical double ops in both engines (no trig), so the
    predicate is bit-reproducible.
    """
    fxp = f"read_parquet('{FIXTURE_POLYGONS}')"
    rel = _posmod("v.vlon - rf.ref + 1.8e2")
    plon_u = _posmod(f"p.lon - rf.ref + 1.8e2")
    return (
        f"WITH pts AS ({points_sql}), "
        f"v0 AS (SELECT poly_id, CAST(generate_subscripts(ring, 1) AS BIGINT) AS idx, "
        f"unnest(ring).lat AS vlat, unnest(ring).lon AS vlon FROM {fxp}), "
        "refs AS (SELECT poly_id, vlon AS ref FROM v0 WHERE idx = 1), "
        f"vrel AS (SELECT v.poly_id, v.idx, v.vlat, {rel} - 1.8e2 AS rlon "
        "FROM v0 v JOIN refs rf ON rf.poly_id = v.poly_id), "
        "vd AS (SELECT *, rlon - coalesce(lag(rlon) OVER "
        "(PARTITION BY poly_id ORDER BY idx), rlon) AS dd FROM vrel), "
        "u AS (SELECT poly_id, idx, vlat, rlon - 3.6e2 * "
        "sum(CASE WHEN dd > 1.8e2 THEN 1 WHEN dd < -1.8e2 THEN -1 ELSE 0 END) "
        "OVER (PARTITION BY poly_id ORDER BY idx) AS ulon FROM vd), "
        "agg AS (SELECT poly_id, max(idx) AS n, avg(vlat) AS mlat, "
        "arg_max(ulon, idx) AS ulast, arg_min(ulon, idx) AS u0 FROM u GROUP BY poly_id), "
        f"agg2 AS (SELECT *, {_posmod('u0 - ulast + 1.8e2')} - 1.8e2 AS closing, "
        "CASE WHEN mlat > 0e0 THEN 9e1 ELSE -9e1 END AS pole FROM agg), "
        "verts AS (SELECT poly_id, idx, vlat, ulon FROM u "
        "UNION ALL SELECT poly_id, n + 1, pole, ulast + closing FROM agg2 "
        "WHERE abs(ulast - u0 + closing) > 1.8e2 "
        "UNION ALL SELECT poly_id, n + 2, pole, u0 FROM agg2 "
        "WHERE abs(ulast - u0 + closing) > 1.8e2), "
        "vc AS (SELECT poly_id, count(*) AS nn, min(ulon) AS ring_min "
        "FROM verts GROUP BY poly_id), "
        "edges AS (SELECT a.poly_id, a.vlat AS yi, a.ulon AS xi, "
        "b.vlat AS yj, b.ulon AS xj FROM verts a "
        "JOIN vc ON vc.poly_id = a.poly_id "
        "JOIN verts b ON b.poly_id = a.poly_id AND b.idx = (a.idx % vc.nn) + 1), "
        f"crossings AS (SELECT p.{pid}, e.poly_id, "
        "sum(CASE WHEN e.yi <> e.yj AND ((e.yi > p.lat) <> (e.yj > p.lat)) AND "
        f"(vc.ring_min + {_posmod(f'({plon_u} - 1.8e2) - vc.ring_min')}) < "
        "((e.xj - e.xi) * (p.lat - e.yi) / (e.yj - e.yi) + e.xi) "
        "THEN 1 ELSE 0 END) AS nc "
        "FROM pts p "
        "JOIN edges e ON true "
        "JOIN refs rf ON rf.poly_id = e.poly_id "
        "JOIN vc ON vc.poly_id = e.poly_id "
        f"GROUP BY p.{pid}, e.poly_id), "
        f"pip_hits AS (SELECT {pid}, poly_id FROM crossings WHERE nc % 2 = 1)"
    )


_SPHERE_R2_HALF = repr(6_371_009.0 ** 2 / 2.0)


def _poly_area_sql() -> str:
    """Exact SQL mirror of operators.polygons.polygon_area: same window
    unwrap + polar-cap closure as the ray-cast oracle, then the
    trapezoidal sin(lat)-lon shoelace with per-edge integer-m² rounding
    (order-independent sum -> bit-identical across engines)."""
    fxp = f"read_parquet('{FIXTURE_POLYGONS}')"
    rel = _posmod("v.vlon - rf.ref + 1.8e2")
    return (
        f"WITH v0 AS (SELECT poly_id, CAST(generate_subscripts(ring, 1) AS BIGINT) - 1 AS idx, "
        f"unnest(ring).lat AS vlat, unnest(ring).lon AS vlon FROM {fxp}), "
        "refs AS (SELECT poly_id, vlon AS ref FROM v0 WHERE idx = 0), "
        f"vrel AS (SELECT v.poly_id, v.idx, v.vlat, {rel} - 1.8e2 AS rlon "
        "FROM v0 v JOIN refs rf ON rf.poly_id = v.poly_id), "
        "vd AS (SELECT *, rlon - coalesce(lag(rlon) OVER "
        "(PARTITION BY poly_id ORDER BY idx), rlon) AS dd FROM vrel), "
        "u AS (SELECT poly_id, idx, vlat, rlon - 3.6e2 * "
        "sum(CASE WHEN dd > 1.8e2 THEN 1 WHEN dd < -1.8e2 THEN -1 ELSE 0 END) "
        "OVER (PARTITION BY poly_id ORDER BY idx) AS ulon FROM vd), "
        "agg AS (SELECT poly_id, max(idx) AS n, avg(vlat) AS mlat, "
        "arg_max(ulon, idx) AS ulast, arg_min(ulon, idx) AS u0, "
        "arg_min(vlat, idx) AS flat FROM u GROUP BY poly_id), "
        f"agg2 AS (SELECT *, {_posmod('u0 - ulast + 1.8e2')} - 1.8e2 AS closing, "
        "CASE WHEN mlat > 0e0 THEN 9e1 ELSE -9e1 END AS pole FROM agg), "
        # pole-encircling rings: wrapped first vertex (ring finishes its
        # winding at its own latitude), then the two pole vertices; the
        # cyclic edge back to vertex 0 is the meridional descent
        "verts AS (SELECT poly_id, idx, vlat, ulon FROM u "
        "UNION ALL SELECT poly_id, n + 1, flat, ulast + closing FROM agg2 "
        "WHERE abs(ulast - u0 + closing) > 1.8e2 "
        "UNION ALL SELECT poly_id, n + 2, pole, ulast + closing FROM agg2 "
        "WHERE abs(ulast - u0 + closing) > 1.8e2 "
        "UNION ALL SELECT poly_id, n + 3, pole, u0 FROM agg2 "
        "WHERE abs(ulast - u0 + closing) > 1.8e2), "
        "vc AS (SELECT poly_id, count(*) AS nn FROM verts GROUP BY poly_id), "
        "rn AS (SELECT poly_id, vlat, ulon, row_number() OVER "
        "(PARTITION BY poly_id ORDER BY idx) AS r FROM verts), "
        "edges AS (SELECT a.poly_id, a.vlat, a.ulon, b.vlat AS nlat, b.ulon AS nulon "
        "FROM rn a JOIN vc ON vc.poly_id = a.poly_id "
        "JOIN rn b ON b.poly_id = a.poly_id AND b.r = (a.r % vc.nn) + 1), "
        "terms AS (SELECT poly_id, CAST(round("
        f"radians(nulon - ulon) * (sin(radians(vlat)) + sin(radians(nlat))) "
        f"* {_SPHERE_R2_HALF}, 0) AS BIGINT) AS t FROM edges) "
        "SELECT poly_id, round(abs(sum(t)) / 1e6, 3) AS area_km2 "
        "FROM terms GROUP BY poly_id"
    )


def _emb_planes():
    """The deterministic hyperplanes shared by embedding_near_pairs and
    its oracle (same seed/order as textops.dedup.embedding_near_pairs)."""
    import numpy as np

    rng = np.random.default_rng(_EMB_SEED)
    return rng.normal(0, 1, (_EMB_BANDS * _EMB_BITS, _EMB_DIM))


def _emb_near_pairs_sql() -> str:
    planes = _emb_planes()

    def bit(p):
        lits = ", ".join(repr(float(x)) for x in planes[p])
        return (f"CASE WHEN list_dot_product(v, [{lits}]) >= 0e0 "
                "THEN '1' ELSE '0' END")

    band_rows = " UNION ALL ".join(
        "SELECT vec_id, v, concat('{b}:', {bits}) AS band FROM c".format(
            b=b, bits=", ".join(bit(b * _EMB_BITS + r) for r in range(_EMB_BITS)))
        for b in range(_EMB_BANDS)
    )
    return (
        "WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        f"bands AS ({band_rows}), "
        "cand AS (SELECT DISTINCT a.vec_id AS id_1, b2.vec_id AS id_2 "
        "FROM bands a JOIN bands b2 ON a.band = b2.band WHERE a.vec_id < b2.vec_id), "
        "withv AS (SELECT cand.id_1, cand.id_2, "
        "list_dot_product(c1.v, c2.v) / "
        "(sqrt(list_dot_product(c1.v, c1.v)) * sqrt(list_dot_product(c2.v, c2.v))) AS cosine "
        "FROM cand JOIN c c1 ON c1.vec_id = cand.id_1 JOIN c c2 ON c2.vec_id = cand.id_2) "
        "SELECT id_1, id_2, round(cosine, 6) AS cos_r FROM withv WHERE cosine >= 3e-1"
    )


def _cos_sql(a: str, b: str) -> str:
    """Exact cosine between two DOUBLE[] expressions — the same
    sequential multiply-add fold as the engine's _dot/_norm column math
    (textops/ann.py)."""
    return (f"list_dot_product({a}, {b}) / "
            f"(greatest(sqrt(list_dot_product({a}, {a})), 1e-12) * "
            f"greatest(sqrt(list_dot_product({b}, {b})), 1e-12))")


# shared CTE prefixes for the ANN oracles: e = corpus as DOUBLE[],
# q = driver query vectors, asg = IVF nearest-centroid assignment over
# the committed fixture, enc = PQ codes over the committed codebooks
# (normalization mirrors the engine: x / max(||v||, 1e-12)).

def _ann_e_q() -> str:
    return (
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        "q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5)"
    )


def _ann_asg_sql() -> str:
    return (
        f"cents AS (SELECT cell, cv FROM read_parquet('{FIXTURE_ANN}/centroids.parquet')), "
        "asg AS (SELECT vec_id, v, cell FROM ("
        "SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id "
        f"ORDER BY {_cos_sql('e.v', 'c.cv')} DESC, c.cell ASC) AS rn "
        "FROM e, cents c) WHERE rn = 1)"
    )


def _ann_enc_sql() -> str:
    norm = "greatest(sqrt(list_dot_product({0}, {0})), 1e-12)"
    return (
        f"books AS (SELECT j, c, cv FROM read_parquet('{FIXTURE_ANN}/codebooks.parquet')), "
        f"en AS (SELECT vec_id, list_transform(v, x -> x / {norm.format('v')}) AS vn FROM e), "
        "enc AS (SELECT vec_id, j, c FROM ("
        "SELECT en.vec_id, b.j, b.c, row_number() OVER (PARTITION BY en.vec_id, b.j "
        "ORDER BY list_distance(list_slice(en.vn, b.j * 8 + 1, b.j * 8 + 8), b.cv) ASC, "
        "b.c ASC) AS rn FROM en, books b) WHERE rn = 1), "
        f"qn AS (SELECT query_id, qv, list_transform(qv, x -> x / {norm.format('qv')}) AS nq FROM q)"
    )


def _ann_topk_sql(cand: str, k: int = 5) -> str:
    """Exact cosine re-rank of a (query_id, vec_id) candidate relation."""
    return (
        f"cand AS (SELECT s.query_id, s.vec_id, {_cos_sql('e.v', 'q.qv')} AS cosine "
        f"FROM ({cand}) s JOIN e ON e.vec_id = s.vec_id "
        "JOIN q ON q.query_id = s.query_id) "
        "SELECT query_id, vec_id, round(cosine, 6) AS cos_r, "
        "CAST(rank AS BIGINT) AS rank FROM ("
        "SELECT query_id, vec_id, cosine, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank "
        f"FROM cand) WHERE rank <= {k}"
    )


def _ivf_sql() -> str:
    probes = (
        "probes AS (SELECT query_id, cell FROM ("
        "SELECT q.query_id, c.cell, row_number() OVER (PARTITION BY q.query_id "
        f"ORDER BY {_cos_sql('q.qv', 'c.cv')} DESC, c.cell ASC) AS rn "
        "FROM q, cents c) WHERE rn <= 4)"
    )
    cand = ("SELECT p.query_id, a.vec_id FROM probes p "
            "JOIN asg a ON a.cell = p.cell")
    return (f"WITH {_ann_e_q()}, {_ann_asg_sql()}, {probes}, "
            + _ann_topk_sql(cand))


def _pq_sql() -> str:
    adc = (
        "adc AS (SELECT qn.query_id, enc.vec_id, "
        "sum(list_dot_product(list_slice(qn.nq, enc.j * 8 + 1, enc.j * 8 + 8), b.cv)) AS adc "
        "FROM enc JOIN books b ON b.j = enc.j AND b.c = enc.c, qn "
        "GROUP BY qn.query_id, enc.vec_id)"
    )
    short = ("SELECT query_id, vec_id FROM ("
             "SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id "
             "ORDER BY adc DESC, vec_id ASC) AS rn FROM adc) WHERE rn <= 64")
    return (f"WITH {_ann_e_q()}, {_ann_enc_sql()}, {adc}, "
            + _ann_topk_sql(short))


def _ivfpq_sql() -> str:
    probes = (
        "probes AS (SELECT query_id, cell FROM ("
        "SELECT q.query_id, c.cell, row_number() OVER (PARTITION BY q.query_id "
        f"ORDER BY {_cos_sql('q.qv', 'c.cv')} DESC, c.cell ASC) AS rn "
        "FROM q, cents c) WHERE rn <= 4)"
    )
    adc = (
        "adc AS (SELECT p.query_id, a.vec_id, "
        "sum(list_dot_product(list_slice(qn.nq, enc.j * 8 + 1, enc.j * 8 + 8), b.cv)) AS adc "
        "FROM probes p JOIN asg a ON a.cell = p.cell "
        "JOIN enc ON enc.vec_id = a.vec_id "
        "JOIN books b ON b.j = enc.j AND b.c = enc.c "
        "JOIN qn ON qn.query_id = p.query_id "
        "GROUP BY p.query_id, a.vec_id)"
    )
    short = ("SELECT query_id, vec_id FROM ("
             "SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id "
             "ORDER BY adc DESC, vec_id ASC) AS rn FROM adc) WHERE rn <= 64")
    return (f"WITH {_ann_e_q()}, {_ann_asg_sql()}, {_ann_enc_sql()}, "
            f"{probes}, {adc}, " + _ann_topk_sql(short))


def _fixture_docs(spark: SparkSession) -> DataFrame:
    from geodistpy_spark.sources.fixtures import ensure_default_fixtures

    ensure_default_fixtures()
    return spark.read.parquet(FIXTURE_DOCS)


def _flat_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _r0(col):
    return F.round(col, 0).cast("double")


# ===========================================================================
# entry — flagship query
# ===========================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleaved docs -> geo-span extraction -> cell index ->
    radius join around a city center -> exact geodesic distances."""
    from geodistpy_spark.operators import point_in_radius
    from geodistpy_spark.sources.documents import extract_geo_spans

    sf_dir = "/root/testdata/sf0.001"
    docs = _fixture_docs(spark)
    geo = extract_geo_spans(docs)
    hits = point_in_radius(geo, (48.8566, 2.3522), 2_000_000.0)
    cands = _cand_points(spark, sf_dir)
    from geodistpy_spark.operators import radius_join

    rj = radius_join(_query_points(spark, sf_dir), cands, 1_500_000.0,
                     c_lat="lat", c_lon="lon")
    return rj.select("query_id", "cand_id", _r0(F.col("dist")).alias("dist_m")) \
        .unionByName(
            hits.select(
                F.xxhash64("doc_id").alias("query_id"),
                F.col("span_idx").cast("long").alias("cand_id"),
                _r0(F.col("dist")).alias("dist_m"),
            )
        )


# ===========================================================================
# queries — one per operator
# ===========================================================================

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from geodistpy_spark.functions.expressions import (
        bearing_sphere_deg,
        cell_id_col,
        great_circle_m,
        haversine_m,
        parent_cell_col,
    )
    from geodistpy_spark.operators import (
        bearing as op_bearing,
        destination as op_destination,
        geodist,
        geodist_matrix,
        geodist_to_many,
        interpolate as op_interpolate,
        knn_join,
        midpoint as op_midpoint,
        point_in_polygon_join,
        radius_join,
        zonal_stats,
    )
    from geodistpy_spark.sources.documents import (
        extract_geo_spans,
        extract_media_spans,
        span_fingerprint,
    )
    from geodistpy_spark.textops import (
        cosine_topk,
        dedup_exact,
        doc_fingerprint,
        language_id,
        lsh_candidate_pairs,
        near_duplicates_minhash,
        quality_score,
        simhash,
    )

    # --- geo: closed-form (oracle-checked) -----------------------------
    # NOTE (r4): the roster is consolidated to fit the driver's ~50-row
    # correctness budget — redundant single-function variants are merged
    # into one query each, with EVERY underlying operator still exercised
    # and value-gated (e.g. sphere_pairs carries haversine + great-circle
    # + unit conversion + bearing columns on the same pair relation).
    def q_sphere_pairs(spark, sf_dir):
        # haversine_m + great_circle_m + to_unit + bearing_sphere_deg in
        # one pair relation (was 4 separate r3 queries)
        from geodistpy_spark.functions.expressions import to_unit

        df = _pair_points(spark, sf_dir)
        d = great_circle_m("lat1", "lon1", "lat2", "lon2")
        return df.select(
            "id",
            _r0(haversine_m("lat1", "lon1", "lat2", "lon2")).alias("hav_m"),
            _r0(d).alias("gc_m"),
            F.round(to_unit(d, "km"), 3).cast("double").alias("gc_km"),
            F.round(to_unit(d, "mile"), 3).cast("double").alias("gc_mile"),
            F.round(to_unit(d, "nmi"), 3).cast("double").alias("gc_nmi"),
            F.round(bearing_sphere_deg("lat1", "lon1", "lat2", "lon2"), 6)
            .cast("double").alias("brg_deg"),
        )

    def q_geodist_to_many_gc(spark, sf_dir):
        cands = _cand_points(spark, sf_dir)
        out = geodist_to_many(cands, (48.8566, 2.3522), exact=False)
        return out.select("cand_id", _r0(F.col("dist")).alias("dist_m"))

    def q_cell_index_rollup(spark, sf_dir):
        # cell index counts at res 7 + parent rollup to res 4 + the
        # COMPACTED representation of the occupied res-7 cell set
        # (H3-compact analog, complete 4-sibling groups -> parent,
        # recursively to res 4; n = res-7 leaves each compacted cell
        # stands for), one grain-tagged union
        from geodistpy_spark.operators import compact_cell_set

        cands = _cand_points(spark, sf_dir).withColumn(
            "cell", cell_id_col("lat", "lon", 7))
        leaf = cands.groupBy("cell").agg(F.count("*").alias("n")) \
            .select(F.lit("cell").alias("grain"), F.col("cell").alias("key"), "n")
        parent = (
            cands.withColumn("parent", parent_cell_col("cell", 7, 4))
            .groupBy("parent").agg(F.count("*").alias("n"))
            .select(F.lit("parent").alias("grain"),
                    F.col("parent").alias("key"), "n")
        )
        comp = compact_cell_set(cands.select("cell"), 7, min_res=4).select(
            F.concat(F.lit("compact"), F.col("res").cast("string")).alias("grain"),
            F.col("cell").alias("key"),
            F.expr("CAST(shiftleft(1, (7 - res) * 2) AS BIGINT)").alias("n"),
        )
        return leaf.unionByName(parent).unionByName(comp)

    def q_matrix_gc(spark, sf_dir):
        q = _query_points(spark, sf_dir).select(
            F.col("query_id").alias("id"), F.col("q_lat").alias("lat"),
            F.col("q_lon").alias("lon"))
        m = geodist_matrix(q, id_col="id", exact=False)
        return m.select("id_1", "id_2", _r0(F.col("dist")).alias("dist_m"))

    def q_radius_join_gc(spark, sf_dir):
        # many-to-many radius join + the single-center point_in_radius
        # operator (query_id = -1 rows), one query (was 2 in r3)
        from geodistpy_spark.operators import point_in_radius

        rj = radius_join(_query_points(spark, sf_dir), _cand_points(spark, sf_dir),
                         1_500_000.0, c_lat="lat", c_lon="lon", exact=False)
        pir = point_in_radius(_cand_points(spark, sf_dir), (48.8566, 2.3522),
                              2_000_000.0, exact=False)
        return rj.select("query_id", "cand_id",
                         _r0(F.col("dist")).alias("dist_m")) \
            .unionByName(pir.select(
                F.lit(-1).cast("long").alias("query_id"), "cand_id",
                _r0(F.col("dist")).alias("dist_m")))

    def q_knn_gc(spark, sf_dir):
        kj = knn_join(_query_points(spark, sf_dir), _cand_points(spark, sf_dir),
                      5, exact=False, c_lat="lat", c_lon="lon", c_id="cand_id")
        return kj.select("query_id", "cand_id", _r0(F.col("dist")).alias("dist_m"))

    # --- geo: iterative kernels, value-gated against mpmath goldens ----
    def q_vincenty_pairs(spark, sf_dir):
        # second column pair (ref80_m, ok80): the SAME pairs on GRS-80
        # via resolve_ellipsoid — gates the ellipsoid registry and the
        # (a, f) plumbing end-to-end (round-4 verdict gap: every other
        # Vincenty row bakes WGS-84 into its closure)
        df = _pair_points(spark, sf_dir)
        g = spark.read.parquet(f"{FIXTURE_GOLDEN}/inverse.parquet") \
            .select("id", "s_m")
        g80 = spark.read.parquet(f"{FIXTURE_GOLDEN}/inverse_grs80.parquet") \
            .select("id", F.col("s_m").alias("s80_m"))
        out = geodist(df.join(g, on="id").join(g80, on="id"),
                      "lat1", "lon1", "lat2", "lon2")
        out = geodist(out, "lat1", "lon1", "lat2", "lon2",
                      ellipsoid="GRS-80", out="dist80")
        return out.select(
            "id", _r0(F.col("s_m")).alias("ref_m"),
            (F.abs(F.col("dist") - F.col("s_m")) <= GOLDEN_DIST_TOL_M).alias("ok"),
            (F.abs(F.col("dist80") - F.col("s80_m")) <= GOLDEN_DIST_TOL_M).alias("ok80"))

    def q_bearing_vincenty(spark, sf_dir):
        df = _pair_points(spark, sf_dir)
        g = spark.read.parquet(f"{FIXTURE_GOLDEN}/inverse.parquet") \
            .select("id", "azi1_deg", "azi_tol_deg")
        out = op_bearing(df.join(g, on="id"), "lat1", "lon1", "lat2", "lon2")
        diff = F.abs(F.pmod(F.col("bearing_deg") - F.col("azi1_deg") + 180.0,
                            F.lit(360.0)) - 180.0)
        return out.select(
            "id", F.round("azi1_deg", 6).alias("ref_brg"),
            (diff <= F.col("azi_tol_deg")).alias("ok"))

    def q_destination_roundtrip(spark, sf_dir):
        # truth is the INPUT (lat2, lon2): the exact direct problem shot
        # along the exact inverse azimuth/distance lands on the target by
        # definition, so inverse->bearing->direct must round-trip within
        # the composed kernel tolerance (no golden table needed)
        df = _pair_points(spark, sf_dir).filter(F.col("id") % 5 == 0)
        out = geodist(df, "lat1", "lon1", "lat2", "lon2", out="d_m")
        out = op_bearing(out, "lat1", "lon1", "lat2", "lon2")
        out = op_destination(out, "lat1", "lon1", "bearing_deg", "d_m")
        err = haversine_m("dest_lat", "dest_lon", "lat2", "lon2")
        return out.select("id", (err <= GOLDEN_ROUNDTRIP_TOL_M).alias("ok"))

    def q_interpolate(spark, sf_dir):
        df = _pair_points(spark, sf_dir).filter(F.col("id") % 7 == 0)
        out = op_interpolate(df, "lat1", "lon1", "lat2", "lon2", n_points=3)
        g = spark.read.parquet(f"{FIXTURE_GOLDEN}/interp.parquet") \
            .withColumnRenamed("wp_lat", "ref_lat_raw") \
            .withColumnRenamed("wp_lon", "ref_lon_raw")
        out = out.withColumn("waypoint_idx", F.col("waypoint_idx").cast("long")) \
            .join(g, on=["id", "waypoint_idx"])
        err = haversine_m("wp_lat", "wp_lon", "ref_lat_raw", "ref_lon_raw")
        return out.select(
            "id", "waypoint_idx",
            F.round("ref_lat_raw", 6).alias("ref_lat"),
            F.round("ref_lon_raw", 6).alias("ref_lon"),
            (err <= GOLDEN_POS_TOL_M).alias("ok"))

    def q_midpoint(spark, sf_dir):
        df = _pair_points(spark, sf_dir).filter(F.col("id") % 5 == 0)
        out = op_midpoint(df, "lat1", "lon1", "lat2", "lon2")
        g = spark.read.parquet(f"{FIXTURE_GOLDEN}/midpoint.parquet") \
            .withColumnRenamed("mid_lat", "ref_lat_raw") \
            .withColumnRenamed("mid_lon", "ref_lon_raw")
        out = out.join(g, on="id")
        err = haversine_m("mid_lat", "mid_lon", "ref_lat_raw", "ref_lon_raw")
        return out.select(
            "id", F.round("ref_lat_raw", 6).alias("ref_lat"),
            F.round("ref_lon_raw", 6).alias("ref_lon"),
            (err <= GOLDEN_POS_TOL_M).alias("ok"))

    def q_knn_exact(spark, sf_dir):
        from pyspark.sql import Window

        kj = knn_join(_query_points(spark, sf_dir),
                      _cand_points(spark, sf_dir).filter(F.col("cand_id") < 150),
                      3, c_lat="lat", c_lon="lon", c_id="cand_id")
        w = Window.partitionBy("query_id").orderBy(
            F.col("dist").asc(), F.col("cand_id").asc())
        r = kj.withColumn("rank", F.row_number().over(w).cast("long"))
        g = spark.read.parquet(f"{FIXTURE_GOLDEN}/knn.parquet") \
            .withColumnRenamed("rank", "ref_rank")
        out = r.join(g, on=["query_id", "cand_id"], how="left")
        ok = F.coalesce(
            (F.col("ref_rank") == F.col("rank"))
            & (F.abs(F.col("dist") - F.col("s_m")) <= GOLDEN_DIST_TOL_M),
            F.lit(False))
        return out.select("query_id", "cand_id", "rank", ok.alias("ok"))

    def q_point_in_polygon(spark, sf_dir):
        from geodistpy_spark.sources.fixtures import ensure_default_fixtures

        paths = ensure_default_fixtures()
        polys = spark.read.parquet(paths["polygons"])
        pts = _cand_points(spark, sf_dir)
        hit = point_in_polygon_join(pts, polys, lat_col="lat", lon_col="lon")
        return hit.select("cand_id", "poly_id")

    def q_point_in_polygon_rel(spark, sf_dir):
        # kept as its own key so the contract's key set stays fixed:
        # the same single plan as q_point_in_polygon, same oracle SQL
        from geodistpy_spark.sources.fixtures import ensure_default_fixtures

        paths = ensure_default_fixtures()
        polys = spark.read.parquet(paths["polygons"])
        pts = _cand_points(spark, sf_dir)
        hit = point_in_polygon_join(pts, polys, lat_col="lat", lon_col="lon")
        return hit.select("cand_id", "poly_id")

    def q_polygon_area(spark, sf_dir):
        from geodistpy_spark.operators import polygon_area
        from geodistpy_spark.sources.fixtures import ensure_default_fixtures

        paths = ensure_default_fixtures()
        polys = spark.read.parquet(paths["polygons"])
        return polygon_area(polys)

    def q_zonal_stats(spark, sf_dir):
        from geodistpy_spark.sources.fixtures import ensure_default_fixtures

        paths = ensure_default_fixtures()
        polys = spark.read.parquet(paths["polygons"])
        rast = spark.read.parquet(paths["raster"])
        zs = zonal_stats(rast, polys)
        return zs.select("poly_id", "n_tiles", F.round("sum_value", 6).alias("sum_v"))

    # --- interleaved spans (oracle via read_parquet on the fixture) ----
    def q_span_geo_extract(spark, sf_dir):
        docs = _fixture_docs(spark)
        geo = extract_geo_spans(docs)
        return geo.select("doc_id", F.col("span_idx").cast("long").alias("span_idx"),
                          "lat", "lon")

    def q_span_fingerprint(spark, sf_dir):
        docs = _fixture_docs(spark)
        return span_fingerprint(docs).select(
            "doc_id", F.col("n_spans").cast("long").alias("n_spans"), "span_fp")

    def q_geotag_spans(spark, sf_dir):
        from geodistpy_spark.sources.documents import geotag_text_spans

        out = geotag_text_spans(_fixture_docs(spark))
        return out.select(
            "doc_id", F.col("span_idx").cast("long").alias("span_idx"),
            F.col("geo_offset").cast("long").alias("geo_offset"),
            "lat", "lon")

    def q_doc_cell_histogram(spark, sf_dir):
        docs = _fixture_docs(spark)
        geo = extract_geo_spans(docs, res=6)
        return geo.groupBy(F.col("cell_r6").alias("cell")).agg(F.count("*").alias("n"))

    def q_simplify_path(spark, sf_dir):
        # Douglas-Peucker trajectory simplification at 10 km, gated
        # against the committed independent scalar-DP kept-set
        # (fixtures/golden/simplify.parquet, scripts/make_golden_docs.py)
        # — kept ids are integers, so the compare is tie-proof
        from geodistpy_spark.sources import simplify_path

        geo = extract_geo_spans(_fixture_docs(spark))
        out = simplify_path(geo, epsilon_m=10_000.0)
        return out.select("doc_id",
                          F.col("span_idx").cast("long").alias("span_idx"))

    def q_span_path(spark, sf_dir):
        # per-document trajectory over ordered geo spans, gated against
        # the committed mpmath Andoyer-Lambert golden
        # (fixtures/golden/span_path.parquet): within-tolerance booleans
        # + golden-sourced reference columns — tie-proof, unlike the r3
        # integer-mm quantization whose half-ties flipped on 1-ulp libm
        # differences between Spark and the DuckDB build
        from geodistpy_spark.sources.documents import span_path_stats

        out = span_path_stats(_fixture_docs(spark))
        g = spark.read.parquet(f"{FIXTURE_GOLDEN}/span_path.parquet") \
            .withColumnRenamed("n_points", "g_n") \
            .withColumnRenamed("path_m", "g_path") \
            .withColumnRenamed("net_m", "g_net")
        j = out.join(g, on="doc_id")
        return j.select(
            "doc_id",
            F.col("n_points").cast("long").alias("n_points"),
            F.round("g_path", 3).alias("ref_path_m"),
            F.round("g_net", 2).alias("ref_net_m"),
            (F.abs(F.col("path_mm") / 1000.0 - F.col("g_path"))
             <= GOLDEN_PATH_TOL_M).alias("ok_path"),
            (F.abs(F.col("net_m") - F.col("g_net"))
             <= GOLDEN_NET_TOL_M).alias("ok_net"),
        )

    # --- training-data ops over driver documents (oracle-checked) ------
    def q_dedup_exact(spark, sf_dir):
        docs = _flat_docs(spark, sf_dir)
        kept = dedup_exact(docs).select(F.col("doc_id"), F.lit(True).alias("keep"))
        return (
            docs.select("doc_id", F.md5("text").alias("text_hash"))
            .join(kept, on="doc_id", how="left")
            .na.fill({"keep": False})
        )

    def q_minhash_signatures(spark, sf_dir):
        from geodistpy_spark.textops import minhash_signatures

        return minhash_signatures(_flat_docs(spark, sf_dir), hash_fn="md5")

    def q_lsh_pairs_capped(spark, sf_dir):
        # hot-band cap engaged (drops the fixture's size-3 buckets):
        # gates the scale guard's semantics, not just the uncapped path
        return lsh_candidate_pairs(_flat_docs(spark, sf_dir), max_band_size=2,
                                   hash_fn="md5")

    def q_jaccard_pairs(spark, sf_dir):
        nd = near_duplicates_minhash(_flat_docs(spark, sf_dir), threshold=0.0,
                                     hash_fn="md5")
        return nd.select("id_1", "id_2", "n_inter", "n_1", "n_2",
                         F.round("jaccard", 6).alias("jacc"))

    def q_simhash(spark, sf_dir):
        return simhash(_flat_docs(spark, sf_dir))

    def q_text_quality(spark, sf_dir):
        # quality_score + language_id joined per doc (was 2 r3 queries)
        docs = _flat_docs(spark, sf_dir)
        qs = quality_score(docs).select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_chars").cast("long").alias("nch"),
            F.round("alpha_ratio", 6).alias("alpha_r"),
            F.round("stopword_ratio", 6).alias("stop_r"),
            F.round("quality", 6).alias("q"),
        )
        lid = language_id(docs).select("doc_id", "lang_pred")
        return qs.join(lid, on="doc_id")

    def q_text_lm(spark, sf_dir):
        # token_count_bpe + trigram_logprob joined per doc (was 2)
        from geodistpy_spark.textops import token_count_bpe, trigram_logprob

        docs = _flat_docs(spark, sf_dir)
        bpe = token_count_bpe(docs).select(
            "doc_id", F.col("n_tokens_bpe").cast("long").alias("n_bpe"))
        tri = trigram_logprob(docs).select(
            "doc_id", F.round("tri_logprob", 6).alias("tri_lp"))
        return bpe.join(tri, on="doc_id")

    def q_fingerprints(spark, sf_dir):
        # whole-doc fingerprint + rolling winnowed fingerprints (left
        # join keeps docs whose rolling selection is empty; was 2)
        from geodistpy_spark.textops import rolling_fingerprints

        docs = _flat_docs(spark, sf_dir)
        whole = doc_fingerprint(docs).select("doc_id", "fingerprint")
        roll = rolling_fingerprints(docs)
        return whole.join(roll, on="doc_id", how="left")

    def q_contamination(spark, sf_dir):
        # benchmark decontamination: docs sharing a word 5-gram with the
        # probe subset (every 50th doc stands in for an eval benchmark)
        from geodistpy_spark.textops import ngram_contamination

        docs = _flat_docs(spark, sf_dir)
        probes = docs.filter(F.col("doc_id") % 50 == 0).select(
            F.col("doc_id").alias("probe_id"), "text")
        out = ngram_contamination(docs, probes, n=5)
        return out.select("doc_id", "probe_id",
                          F.col("n_shared").cast("long").alias("n_shared"))

    def q_hash_split(spark, sf_dir):
        from geodistpy_spark.textops import hash_split

        out = hash_split(_flat_docs(spark, sf_dir), val_frac=0.1)
        return out.select("doc_id", "split")

    def q_stratified_sample(spark, sf_dir):
        # exact per-language 20% sample, md5-ranked (reproducible draw)
        from geodistpy_spark.textops import stratified_sample

        out = stratified_sample(_flat_docs(spark, sf_dir), "lang", frac=0.2)
        return out.select("doc_id", "lang")

    def q_dedup_best(spark, sf_dir):
        # near-dup dedup keeping the highest-quality (longest) member of
        # each duplicate cluster instead of an arbitrary one
        from geodistpy_spark.textops import dedup_near

        out = dedup_near(_flat_docs(spark, sf_dir), threshold=0.5,
                         keep="best", score_col="n_chars", hash_fn="md5")
        return out.select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))

    def q_embedding_topk(spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        out = cosine_topk(emb, q, 5)
        return out.select("query_id", "vec_id",
                          F.round("cosine", 6).alias("cos_r"),
                          F.col("rank").cast("long").alias("rank"))

    def q_sessionize(spark, sf_dir):
        from pyspark.sql import Window

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        out = (
            ev.withColumn("prev_ts", F.lag("ts").over(w))
            .withColumn(
                "new_sess",
                F.when(F.col("prev_ts").isNull(), 1)
                .when(F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800, 1)
                .otherwise(0),
            )
            .groupBy("user_id")
            .agg(F.count("*").alias("n_events"), F.sum("new_sess").alias("n_sessions"))
        )
        return out.select("user_id", "n_events", F.col("n_sessions").cast("long").alias("n_sessions"))

    def q_radius_join_salted(spark, sf_dir):
        rj = radius_join(_query_points(spark, sf_dir), _cand_points(spark, sf_dir),
                         800_000.0, c_lat="lat", c_lon="lon", exact=False, salt=4)
        return rj.select("query_id", "cand_id", _r0(F.col("dist")).alias("dist_m"))

    def q_simhash_near_pairs(spark, sf_dir):
        from geodistpy_spark.textops import simhash_near_pairs

        out = simhash_near_pairs(_flat_docs(spark, sf_dir), max_hamming=3)
        return out.select("id_1", "id_2", F.col("hamming").cast("long").alias("hamming"))

    def q_dimwise(spark, sf_dir):
        # geodist_dimwise + geodist_dimwise_haversine joined on the pair
        # ids (was 2 r3 queries). exact=False (great-circle) so the
        # driver can oracle-check the full relation; the Vincenty kernel
        # path is gated separately by vincenty_pairs + the pytest
        # golden-truth table. Haversine squares reported as sqrt meters:
        # the squared values reach 4e14, where JVM vs libm trig ulp
        # differences exceed integer rounding.
        from geodistpy_spark.operators import (
            geodist_dimwise, geodist_dimwise_haversine)

        q = _query_points(spark, sf_dir).select(
            F.col("query_id").alias("id"), F.col("q_lat").alias("lat"),
            F.col("q_lon").alias("lon"),
            (F.col("query_id") % 7).cast("double").alias("feat"))
        out = geodist_dimwise(q, "id", "lat", "lon", ["feat"], exact=False) \
            .select("id_1", "id_2", _r0(F.col("dist_m")).alias("dist_m"), "d_feat")
        hv = geodist_dimwise_haversine(q, "id", "lat", "lon", ["feat"]) \
            .select("id_1", "id_2",
                    _r0(F.sqrt("sq_lat")).alias("hv_lat_m"),
                    _r0(F.sqrt("sq_lon")).alias("hv_lon_m"),
                    _r0(F.sqrt("sq_feat")).alias("d_feat_abs"))
        return out.join(hv, on=["id_1", "id_2"])

    def q_embedding_near_pairs(spark, sf_dir):
        from geodistpy_spark.textops import embedding_near_pairs

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out = embedding_near_pairs(emb, threshold=0.3, n_bands=_EMB_BANDS,
                                   band_bits=_EMB_BITS, seed=_EMB_SEED)
        return out.select("id_1", "id_2", F.round("cosine", 6).alias("cos_r"))

    def q_near_dup_groups(spark, sf_dir):
        # large-star/small-star connected components: O(log n) rounds
        # on adversarial diameters; the recursive-CTE oracle is an
        # independent realization of the same labels
        from geodistpy_spark.textops import near_dup_groups

        return near_dup_groups(_flat_docs(spark, sf_dir), threshold=0.5,
                               hash_fn="md5")

    def q_cell_density_smooth(spark, sf_dir):
        from geodistpy_spark.operators import cell_density_smooth

        out = cell_density_smooth(_cand_points(spark, sf_dir), res=5, k=1)
        return out.select("cell", F.col("n").cast("long").alias("n"),
                          F.col("n_ring").cast("long").alias("n_ring"))

    def q_adaptive_index(spark, sf_dir):
        from geodistpy_spark.operators import adaptive_cell_index

        out = adaptive_cell_index(_cand_points(spark, sf_dir),
                                  max_per_cell=25, min_res=2, max_res=6)
        return out.select("cand_id",
                          F.col("a_res").cast("long").alias("a_res"),
                          F.col("a_cell").cast("long").alias("a_cell"))

    def q_asof_join(spark, sf_dir):
        # every non-purchase event tagged with the user's latest prior
        # purchase (backward as-of, exact matches allowed)
        from geodistpy_spark.operators import asof_join

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        left = ev.filter(F.col("event_type") != "purchase") \
            .select("event_id", "user_id", "ts")
        right = ev.filter(F.col("event_type") == "purchase") \
            .select("user_id", "ts", F.col("value").alias("purchase_value"))
        out = asof_join(left, right, on="user_id")
        return out.select(
            "event_id",
            F.round("purchase_value_asof", 6).alias("purch_v"),
            F.unix_timestamp("ts_asof").cast("long").alias("purch_ts_s"),
        )

    # --- multimodal + ANN scale path -----------------------------------
    def q_media_features(spark, sf_dir):
        # image decode features + parsed span metadata (media_key) +
        # AUDIO decode of the same spans in one relation (absorbed r3's
        # media_span_meta; audio merged r5). Audio gate: the header
        # columns (codec/channels/rate/bits/frames/duration/bytes) come
        # from the REAL RIFF parse of the payload and must equal the
        # sha256-derived synth parameters the oracle recomputes; the
        # waveform features are gated as within-tolerance booleans vs
        # analytic truths computed HERE via Catalyst sha2 (independent
        # of the Python hashlib the synth uses). Tolerances validated
        # over all 1850 fixture refs (worst: 8-bit quantization noise
        # floor shifts centroid <=2328 Hz, rolloff past f2; rms dev
        # <=4e-4).
        from geodistpy_spark.textops import (audio_feature_pipeline,
                                             media_feature_pipeline)

        docs = _fixture_docs(spark)
        mf = media_feature_pipeline(docs)
        meta = extract_media_spans(docs).select(
            "doc_id", F.col("span_idx").cast("long").alias("span_idx"),
            "media_key")
        img = mf.select("doc_id", F.col("span_idx").cast("long").alias("span_idx"),
                        "format",
                        F.col("width").cast("long").alias("width"),
                        F.col("height").cast("long").alias("height"), "n_bytes") \
            .join(meta, on=["doc_id", "span_idx"])

        au = audio_feature_pipeline(docs)
        sx = F.sha2(F.col("media_ref"), 256)

        def byt(i):
            return F.conv(F.substring(sx, 2 * i + 1, 2), 16, 10).cast("int")

        au = au.withColumns({
            "e_rate": F.element_at(
                F.array(*[F.lit(v) for v in (8000, 16000, 22050, 44100)]),
                byt(0) % 4 + 1),
            "e_bits": F.element_at(
                F.array(*[F.lit(v) for v in (16, 16, 8, 24, 32)]),
                byt(1) % 5 + 1),
            "e_ch": F.lit(1) + byt(2) % 2,
            "e_n": F.lit(1024) + (byt(3) + 256 * byt(4)) % 3072,
            "c1": F.lit(4) + byt(5) % 60,
            "c2": F.lit(70) + byt(6) % 120,
            "a1": F.lit(0.30) + (byt(7) % 100) / F.lit(400.0),
            "a2": F.lit(0.05) + (byt(8) % 50) / F.lit(1000.0),
        }).withColumns({
            "f1": F.col("c1") * F.col("e_rate") / F.col("e_n"),
            "f2": F.col("c2") * F.col("e_rate") / F.col("e_n"),
        })
        audio = au.select(
            "doc_id", F.col("span_idx").cast("long").alias("span_idx"),
            F.col("codec").alias("a_codec"),
            F.col("n_channels").cast("long").alias("a_ch"),
            F.col("sample_rate").cast("long").alias("a_rate"),
            F.col("bits").cast("long").alias("a_bits"),
            F.col("n_samples").cast("long").alias("a_frames"),
            # unrounded: 1000.0 * n / sr is the same two IEEE ops both
            # sides -> bit-identical doubles (rounding would ADD a
            # Java-vs-DuckDB half-tie hazard here)
            F.col("duration_ms").alias("a_dur_ms"),
            F.col("n_bytes").alias("a_bytes"),
            (F.abs(F.col("rms") - F.sqrt((F.col("a1") * F.col("a1")
                + F.col("a2") * F.col("a2")) / 2)) < 2e-3).alias("ok_rms"),
            ((F.col("peak") > F.col("a1") - F.col("a2") - 1e-2)
             & (F.col("peak") < F.col("a1") + F.col("a2") + 1e-2)).alias("ok_peak"),
            ((F.col("zcr_hz") >= 2 * F.col("f1") - 100)
             & (F.col("zcr_hz") <= 2 * (F.col("f1") + F.col("f2")))).alias("ok_zcr"),
            (F.abs(F.col("centroid_hz") - (F.col("f1") * F.col("a1")
                + F.col("f2") * F.col("a2")) / (F.col("a1") + F.col("a2")))
             < 3000).alias("ok_centroid"),
            ((F.col("rolloff_hz") >= F.col("f1") - 1)
             & (F.col("rolloff_hz") <= F.col("e_rate") / 2)).alias("ok_rolloff"),
            (F.col("silence_ratio") == 0.0).alias("ok_silence"),
        )

        # VIDEO (merged r5): MP4/ISO-BMFF container parse of the same
        # spans. Header columns (brand/dims/frame count/fps/duration)
        # come from the REAL box-tree parse (mvhd/tkhd/mdhd + stts)
        # and must equal the sha256('v:'+ref)-derived synth params the
        # oracle recomputes; frame extraction through the real
        # stsz/stsc/stco tables is gated as booleans HERE via Catalyst
        # sha2 (each sampled frame's first 32 bytes are the per-frame
        # digest) plus an exact pick-count check — independent of the
        # Python hashlib the synth uses.
        from geodistpy_spark.textops import (decode_video_meta,
                                             fetch_video_bytes,
                                             sample_video_frames)

        # ONE payload fetch feeds both the header decode and the frame
        # sampler (two fetches = two object-store reads per span in the
        # real deployment this stub models)
        vspans = extract_media_spans(docs).select(
            "doc_id", "span_idx", "media_ref")
        with_bytes = fetch_video_bytes(vspans)
        vm = decode_video_meta(with_bytes)
        video = vm.select(
            "doc_id", F.col("span_idx").cast("long").alias("span_idx"),
            F.col("brand").alias("v_brand"),
            F.col("width").cast("long").alias("v_w"),
            F.col("height").cast("long").alias("v_h"),
            F.col("timescale").cast("long").alias("v_ts"),
            F.col("n_frames").cast("long").alias("v_frames"),
            F.col("fps").alias("v_fps"),
            F.col("duration_ms").alias("v_dur_ms"),
        )
        frames = sample_video_frames(with_bytes, n_frames=4)
        fgate = frames.groupBy(
            "doc_id", F.col("span_idx").cast("long").alias("span_idx")) \
            .agg(
                F.every(
                    F.lower(F.hex(F.substring("frame_bytes", 1, 32)))
                    == F.sha2(F.concat_ws(
                        ":", "media_ref",
                        F.col("frame_idx").cast("string")), 256)
                ).alias("ok_frame_sha"),
                F.count("*").alias("n_sampled"),
                F.first("n_total").alias("n_total"))
        # expected pick count: min(4, n) distinct frames
        fgate = fgate.select(
            "doc_id", "span_idx", "ok_frame_sha",
            (F.col("n_sampled") == F.least(F.lit(4), F.col("n_total"))
             ).alias("ok_frame_count"))
        return (img.join(audio, on=["doc_id", "span_idx"])
                .join(video, on=["doc_id", "span_idx"])
                .join(fgate, on=["doc_id", "span_idx"]))

    def q_ivf_topk(spark, sf_dir):
        # IVF over the COMMITTED centroid fixture (fixtures/ann,
        # scripts/make_ann_fixtures.py): assignment -> probe -> exact
        # cosine is deterministic given the fixture, so the DuckDB
        # oracle mirrors the full path in SQL (value-gated since r4)
        from geodistpy_spark.textops import ivf_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents = spark.read.parquet(f"{FIXTURE_ANN}/centroids.parquet")
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        out = ivf_topk(emb, q, 5, centroids=cents)
        return out.select("query_id", "vec_id",
                          F.round("cosine", 6).alias("cos_r"),
                          F.col("rank").cast("long").alias("rank"))

    def q_geo_summary(spark, sf_dir):
        # spherical centroid + dispersion (3D unit-vector mean) AND
        # antimeridian-aware bbox (largest-gap circular lon interval)
        # per coarse cell, joined (was geo_centroid + geo_bbox in r3)
        from geodistpy_spark.functions.expressions import cell_id_col
        from geodistpy_spark.operators import geo_bbox, geo_centroid

        pts = _cand_points(spark, sf_dir).withColumn(
            "cell", cell_id_col("lat", "lon", 3))
        cen = geo_centroid(pts, "cell").select(
            F.col("cell").cast("long").alias("cell"),
            F.col("n_points").cast("long").alias("n_points"),
            F.round("c_lat", 6).alias("c_lat6"),
            F.round("c_lon", 6).alias("c_lon6"),
            F.round("resultant", 6).alias("resultant6"),
        )
        box = geo_bbox(pts, "cell").select(
            F.col("cell").cast("long").alias("cell"),
            F.round("lat_min", 6).alias("lat_min6"),
            F.round("lat_max", 6).alias("lat_max6"),
            F.round("lon_west", 6).alias("lon_west6"),
            F.round("lon_east", 6).alias("lon_east6"),
            F.round("lon_width", 6).alias("lon_width6"),
        )
        return cen.join(box, on="cell")

    def q_ivfpq_topk(spark, sf_dir):
        # the production ANN composition over the committed centroid +
        # codebook fixtures — assignment/probe (IVF) x ADC shortlist
        # (PQ) x exact re-rank, all deterministic and SQL-mirrored
        from geodistpy_spark.textops import codebooks_from_df, ivfpq_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents = spark.read.parquet(f"{FIXTURE_ANN}/centroids.parquet")
        books = codebooks_from_df(
            spark.read.parquet(f"{FIXTURE_ANN}/codebooks.parquet"))
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        out = ivfpq_topk(emb, q, 5, n_probe=4, shortlist=64,
                         centroids=cents, codebooks=books)
        return out.select("query_id", "vec_id",
                          F.round("cosine", 6).alias("cos_r"),
                          F.col("rank").cast("long").alias("rank"))

    def q_buffer_rings(spark, sf_dir):
        # geofence construction: 50 km spherical buffer around every
        # 10th candidate point, vertices exploded in ring order
        from geodistpy_spark.operators import geodesic_buffer

        pts = _cand_points(spark, sf_dir).filter(F.col("cand_id") % 10 == 0)
        buf = geodesic_buffer(pts, 50_000.0, n_vertices=8)
        return buf.select(
            "cand_id", F.posexplode("ring").alias("vertex_idx", "v")
        ).select(
            "cand_id", "vertex_idx",
            F.round(F.col("v.lat"), 6).alias("vlat6"),
            F.round(F.col("v.lon"), 6).alias("vlon6"),
        )

    def q_pq_topk(spark, sf_dir):
        # product-quantized ANN over the committed codebook fixture:
        # encode -> ADC shortlist -> exact re-rank, deterministic and
        # fully SQL-mirrored (value-gated since r4)
        from geodistpy_spark.textops import codebooks_from_df, pq_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        books = codebooks_from_df(
            spark.read.parquet(f"{FIXTURE_ANN}/codebooks.parquet"))
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        out = pq_topk(emb, q, 5, shortlist=64, codebooks=books)
        return out.select("query_id", "vec_id",
                          F.round("cosine", 6).alias("cos_r"),
                          F.col("rank").cast("long").alias("rank"))

    # 50 queries exactly — sized to the driver's correctness-file budget
    # so EVERY operator gets a fresh driver row each round (r3 had 62
    # registered / 50 checked; redundant variants are merged above)
    return {
        "sphere_pairs": q_sphere_pairs,
        "geodist_to_many_gc": q_geodist_to_many_gc,
        "cell_index_rollup": q_cell_index_rollup,
        "matrix_gc": q_matrix_gc,
        "radius_join_gc": q_radius_join_gc,
        "knn_gc": q_knn_gc,
        "vincenty_pairs": q_vincenty_pairs,
        "bearing_vincenty": q_bearing_vincenty,
        "destination_roundtrip": q_destination_roundtrip,
        "interpolate": q_interpolate,
        "midpoint": q_midpoint,
        "knn_exact": q_knn_exact,
        "point_in_polygon": q_point_in_polygon,
        "point_in_polygon_rel": q_point_in_polygon_rel,
        "polygon_area": q_polygon_area,
        "zonal_stats": q_zonal_stats,
        "span_geo_extract": q_span_geo_extract,
        "span_fingerprint": q_span_fingerprint,
        "doc_cell_histogram": q_doc_cell_histogram,
        "span_path": q_span_path,
        "simplify_path": q_simplify_path,
        "geotag_spans": q_geotag_spans,
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "lsh_pairs_capped": q_lsh_pairs_capped,
        "jaccard_pairs": q_jaccard_pairs,
        "simhash": q_simhash,
        "text_quality": q_text_quality,
        "text_lm": q_text_lm,
        "fingerprints": q_fingerprints,
        "embedding_topk": q_embedding_topk,
        "contamination": q_contamination,
        "hash_split": q_hash_split,
        "stratified_sample": q_stratified_sample,
        "dedup_best": q_dedup_best,
        "sessionize": q_sessionize,
        "media_features": q_media_features,
        "ivf_topk": q_ivf_topk,
        "pq_topk": q_pq_topk,
        "ivfpq_topk": q_ivfpq_topk,
        "buffer_rings": q_buffer_rings,
        "geo_summary": q_geo_summary,
        "radius_join_salted": q_radius_join_salted,
        "simhash_near_pairs": q_simhash_near_pairs,
        "dimwise": q_dimwise,
        "embedding_near_pairs": q_embedding_near_pairs,
        "near_dup_groups": q_near_dup_groups,
        "asof_join": q_asof_join,
        "adaptive_index": q_adaptive_index,
        "cell_density_smooth": q_cell_density_smooth,
    }


# ===========================================================================
# oracle_sql — DuckDB mirrors
# ===========================================================================

def oracle_sql() -> dict[str, str]:
    hav = _hav_sql("lat1", "lon1", "lat2", "lon2")
    gc = _gc_sql("lat1", "lon1", "lat2", "lon2")
    brg = _bearing_sql("lat1", "lon1", "lat2", "lon2")
    gc_q = _gc_sql("q_lat", "q_lon", "lat", "lon")
    gc_o = _gc_sql("4.88566e1", "2.3522e0", "lat", "lon")
    gc_m = _gc_sql("a.lat", "a.lon", "b.lat", "b.lon")
    cell7 = _cell_sql("lat", "lon", 7)

    fx = f"read_parquet('{FIXTURE_DOCS}')"
    span_cte = (
        f"WITH s AS (SELECT doc_id, unnest(spans) AS span, "
        f"CAST(generate_subscripts(spans, 1) - 1 AS BIGINT) AS span_idx FROM {fx})"
    )

    stop_all = sorted({w for ws in _STOPWORDS.values() for w in ws})
    stop_list = ", ".join(f"'{w}'" for w in stop_all)
    langs = sorted(_STOPWORDS)

    def hits(lang):
        ws = ", ".join(f"'{w}'" for w in _STOPWORDS[lang])
        return f"len(list_filter(words, w -> list_contains([{ws}], w)))"

    lang_case = "CASE WHEN best = 0 THEN 'unknown' " + " ".join(
        f"WHEN h_{lang} = best THEN '{lang}'" for lang in langs
    ) + " END"

    th_expr = " + ".join(
        f"(instr('0123456789abcdef', substr(md5(tok), {j + 1}, 1)) - 1) * {16 ** (3 - j)}"
        for j in range(4)
    )
    sim_sums = ", ".join(
        f"sum(CASE WHEN ((th >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(16)
    )
    sim_val = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(16)
    )

    jacc_base = (
        f"WITH toks AS (SELECT doc_id, {_WORDS} AS words FROM documents), "
        f"sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM toks), "
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
        f"pairs AS ({_lsh_pairs_sql().replace('WITH', 'WITH', 1)})"
    )
    # _lsh_pairs_sql already starts with WITH ...; inline its CTEs instead
    rows = _N_SEEDS // _N_BANDS
    mins = ", ".join(f"min(md5(concat('{s}:', shingle))) AS mh{s}" for s in range(_N_SEEDS))
    band_unions = " UNION ALL ".join(
        "SELECT doc_id, concat_ws('|', '{b}', {cols}) AS band_key FROM sig".format(
            b=b, cols=", ".join(f"mh{b * rows + r}" for r in range(rows)))
        for b in range(_N_BANDS)
    )
    jacc_base = (
        f"WITH toks AS (SELECT doc_id, {_WORDS} AS words FROM documents), "
        f"sh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM toks), "
        f"sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id), "
        f"bands AS ({band_unions}), "
        "pairs AS (SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2 "
        "FROM bands a JOIN bands b ON a.band_key = b.band_key WHERE a.doc_id < b.doc_id), "
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
        "inter AS (SELECT p.id_1, p.id_2, count(*) AS n_inter FROM pairs p "
        "JOIN sh s1 ON s1.doc_id = p.id_1 JOIN sh s2 ON s2.doc_id = p.id_2 "
        "AND s1.shingle = s2.shingle GROUP BY p.id_1, p.id_2)"
    )

    return {
        "sphere_pairs": (
            f"SELECT id, round({hav}, 0) AS hav_m, round({gc}, 0) AS gc_m, "
            f"round(({gc}) * 1e-3, 3) AS gc_km, "
            f"round(({gc}) * 6.213711922373339e-4, 3) AS gc_mile, "
            f"round(({gc}) * 5.399568034557235e-4, 3) AS gc_nmi, "
            f"round({brg}, 6) AS brg_deg FROM ({_PAIR_SQL})"
        ),
        "geodist_to_many_gc": (
            f"SELECT cand_id, round({gc_o}, 0) AS dist_m FROM ({_CAND_SQL})"
        ),
        # leaf counts + parent rollup + unrolled 3-level compaction of
        # the occupied cell set (complete 4-sibling groups -> parent,
        # res 7 -> 4; mirrors operators.indexing.compact_cell_set)
        "cell_index_rollup": (
            f"WITH cells AS (SELECT {cell7} AS cell FROM ({_CAND_SQL})), "
            "c7 AS (SELECT DISTINCT cell FROM cells), "
            "p7 AS (SELECT cell, ((cell // 128) // 2) * 64 + ((cell % 128) // 2) AS p FROM c7), "
            "f6 AS (SELECT p FROM p7 GROUP BY p HAVING count(*) = 4), "
            "k7 AS (SELECT cell FROM p7 ANTI JOIN f6 USING (p)), "
            "p6 AS (SELECT p AS cell, ((p // 64) // 2) * 32 + ((p % 64) // 2) AS q FROM f6), "
            "f5 AS (SELECT q FROM p6 GROUP BY q HAVING count(*) = 4), "
            "k6 AS (SELECT cell FROM p6 ANTI JOIN f5 USING (q)), "
            "p5 AS (SELECT q AS cell, ((q // 32) // 2) * 16 + ((q % 32) // 2) AS s FROM f5), "
            "f4 AS (SELECT s FROM p5 GROUP BY s HAVING count(*) = 4), "
            "k5 AS (SELECT cell FROM p5 ANTI JOIN f4 USING (s)), "
            "k4 AS (SELECT s AS cell FROM f4) "
            "SELECT 'cell' AS grain, cell AS key, count(*) AS n FROM cells GROUP BY 2 "
            "UNION ALL "
            "SELECT 'parent' AS grain, "
            "((cell // 128) // 8) * 16 + ((cell % 128) // 8) AS key, "
            "count(*) AS n FROM cells GROUP BY 2 "
            "UNION ALL SELECT 'compact7', cell, CAST(1 AS BIGINT) FROM k7 "
            "UNION ALL SELECT 'compact6', cell, CAST(4 AS BIGINT) FROM k6 "
            "UNION ALL SELECT 'compact5', cell, CAST(16 AS BIGINT) FROM k5 "
            "UNION ALL SELECT 'compact4', cell, CAST(64 AS BIGINT) FROM k4"
        ),
        "matrix_gc": (
            f"SELECT a.query_id AS id_1, b.query_id AS id_2, round({gc_m}, 0) AS dist_m "
            f"FROM (SELECT query_id, q_lat AS lat, q_lon AS lon FROM ({_QRY_SQL})) a, "
            f"(SELECT query_id, q_lat AS lat, q_lon AS lon FROM ({_QRY_SQL})) b "
            "WHERE a.query_id != b.query_id"
        ),
        "radius_join_gc": (
            f"SELECT q.query_id, c.cand_id, round({gc_q}, 0) AS dist_m "
            f"FROM ({_QRY_SQL}) q, ({_CAND_SQL}) c WHERE {gc_q} <= 1.5e6 "
            "UNION ALL "
            f"SELECT CAST(-1 AS BIGINT) AS query_id, cand_id, "
            f"round({gc_o}, 0) AS dist_m FROM ({_CAND_SQL}) WHERE {gc_o} <= 2e6"
        ),
        "knn_gc": (
            f"WITH d AS (SELECT q.query_id, c.cand_id, {gc_q} AS dm "
            f"FROM ({_QRY_SQL}) q, ({_CAND_SQL}) c), "
            "r AS (SELECT query_id, cand_id, dm, row_number() OVER "
            "(PARTITION BY query_id ORDER BY dm, cand_id) AS rn FROM d) "
            "SELECT query_id, cand_id, round(dm, 0) AS dist_m FROM r WHERE rn <= 5"
        ),
        # --- iterative-kernel value gates: both sides read the SAME
        # mpmath golden parquet (scripts/make_golden.py); the Spark query
        # computes its kernel value and emits ok = within-tolerance, the
        # oracle emits ok = TRUE — any kernel regression hash-mismatches.
        # The customer join restricts the golden rows to the ids present
        # at the current scale factor (goldens cover custkey 0..1499).
        "vincenty_pairs": (
            "SELECT g.id, round(g.s_m, 0) AS ref_m, TRUE AS ok, "
            "TRUE AS ok80 "
            f"FROM read_parquet('{FIXTURE_GOLDEN}/inverse.parquet') g "
            f"JOIN read_parquet('{FIXTURE_GOLDEN}/inverse_grs80.parquet') g80 "
            "ON g80.id = g.id "
            "JOIN customer c ON c.c_custkey = g.id"
        ),
        "bearing_vincenty": (
            "SELECT g.id, round(g.azi1_deg, 6) AS ref_brg, TRUE AS ok "
            f"FROM read_parquet('{FIXTURE_GOLDEN}/inverse.parquet') g "
            "JOIN customer c ON c.c_custkey = g.id"
        ),
        "destination_roundtrip": (
            "SELECT c_custkey AS id, TRUE AS ok FROM customer "
            "WHERE c_custkey % 5 = 0"
        ),
        "interpolate": (
            "SELECT g.id, g.waypoint_idx, round(g.wp_lat, 6) AS ref_lat, "
            "round(g.wp_lon, 6) AS ref_lon, TRUE AS ok "
            f"FROM read_parquet('{FIXTURE_GOLDEN}/interp.parquet') g "
            "JOIN customer c ON c.c_custkey = g.id"
        ),
        "midpoint": (
            "SELECT g.id, round(g.mid_lat, 6) AS ref_lat, "
            "round(g.mid_lon, 6) AS ref_lon, TRUE AS ok "
            f"FROM read_parquet('{FIXTURE_GOLDEN}/midpoint.parquet') g "
            "JOIN customer c ON c.c_custkey = g.id"
        ),
        "knn_exact": (
            "SELECT query_id, cand_id, rank, TRUE AS ok "
            f"FROM read_parquet('{FIXTURE_GOLDEN}/knn.parquet')"
        ),
        "span_geo_extract": (
            f"{span_cte} SELECT doc_id, span_idx, "
            "TRY_CAST(split_part(span.text, ',', 1) AS DOUBLE) AS lat, "
            "TRY_CAST(split_part(span.text, ',', 2) AS DOUBLE) AS lon "
            "FROM s WHERE span.kind = 'geo' "
            "AND TRY_CAST(split_part(span.text, ',', 1) AS DOUBLE) IS NOT NULL "
            "AND TRY_CAST(split_part(span.text, ',', 2) AS DOUBLE) IS NOT NULL "
            "AND TRY_CAST(split_part(span.text, ',', 1) AS DOUBLE) BETWEEN -9e1 AND 9e1 "
            "AND TRY_CAST(split_part(span.text, ',', 2) AS DOUBLE) BETWEEN -1.8e2 AND 1.8e2"
        ),
        "span_fingerprint": (
            f"SELECT doc_id, CAST(len(spans) AS BIGINT) AS n_spans, "
            "md5(array_to_string(list_transform(spans, x -> concat_ws('|,|', "
            "coalesce(x.kind, '|0|'), coalesce(x.text, '|0|'), "
            f"coalesce(x.media_ref, '|0|'))), '|#|')) AS span_fp FROM {fx}"
        ),
        # interleaved-payload geotag: DuckDB's native ASOF JOIN per doc
        # over span offsets, independent of the engine's window plan
        "geotag_spans": (
            f"{span_cte}, "
            "t AS (SELECT doc_id, span_idx, span.offset AS offset FROM s "
            "WHERE span.kind = 'text'), "
            "g AS (SELECT doc_id, span.offset AS goff, "
            "TRY_CAST(split_part(span.text, ',', 1) AS DOUBLE) AS lat, "
            "TRY_CAST(split_part(span.text, ',', 2) AS DOUBLE) AS lon "
            "FROM s WHERE span.kind = 'geo' "
            "AND TRY_CAST(split_part(span.text, ',', 1) AS DOUBLE) BETWEEN -9e1 AND 9e1 "
            "AND TRY_CAST(split_part(span.text, ',', 2) AS DOUBLE) BETWEEN -1.8e2 AND 1.8e2) "
            "SELECT t.doc_id, t.span_idx, CAST(g.goff AS BIGINT) AS geo_offset, "
            "g.lat, g.lon "
            "FROM t ASOF LEFT JOIN g ON t.doc_id = g.doc_id AND t.offset >= g.goff"
        ),
        "doc_cell_histogram": (
            f"{span_cte} SELECT {_cell_sql('lat', 'lon', 6)} AS cell, count(*) AS n FROM ("
            "SELECT TRY_CAST(split_part(span.text, ',', 1) AS DOUBLE) AS lat, "
            "TRY_CAST(split_part(span.text, ',', 2) AS DOUBLE) AS lon "
            "FROM s WHERE span.kind = 'geo') GROUP BY 1"
        ),
        # per-document trajectory: golden-gated (mpmath Andoyer-Lambert
        # truth committed as parquet, scripts/make_golden_docs.py) — the
        # oracle returns the same golden-sourced reference columns with
        # ok=TRUE; Spark's side computes the booleans. Tie-proof: no
        # engine-vs-engine float rounding anywhere in the compare.
        "span_path": (
            f"SELECT doc_id, n_points, round(path_m, 3) AS ref_path_m, "
            "round(net_m, 2) AS ref_net_m, TRUE AS ok_path, TRUE AS ok_net "
            f"FROM read_parquet('{FIXTURE_GOLDEN}/span_path.parquet')"
        ),
        # Douglas-Peucker kept-set: golden fixture from the independent
        # scalar DP implementation (scripts/make_golden_docs.py)
        "simplify_path": (
            "SELECT doc_id, span_idx "
            f"FROM read_parquet('{FIXTURE_GOLDEN}/simplify.parquet')"
        ),
        "dedup_exact": (
            "SELECT doc_id, md5(text) AS text_hash, "
            "(row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1) AS keep "
            "FROM documents"
        ),
        "minhash_signatures": (
            f"{_minhash_cte()} SELECT * FROM sig"
        ),
        # 3D unit-vector mean per coarse cell; 6dp rounding absorbs
        # summation-order and trig ulp noise
        # spherical centroid (3D unit-vector mean) + antimeridian-aware
        # bbox (largest-gap complement over distinct lons), joined per
        # cell (merged r4; identical window + arithmetic both engines)
        "geo_summary": (
            f"WITH pts AS ({_CAND_SQL}), "
            f"g AS (SELECT {_cell_sql('lat', 'lon', 3)} AS cell, lat, lon, "
            "radians(lat) AS la, radians(lon) AS lo FROM pts), "
            "a AS (SELECT cell, avg(cos(la) * cos(lo)) AS x, "
            "avg(cos(la) * sin(lo)) AS y, avg(sin(la)) AS z, "
            "count(*) AS n_points FROM g GROUP BY cell), "
            "cen AS (SELECT cell, n_points, "
            "round(degrees(atan2(z, sqrt(x * x + y * y))), 6) AS c_lat6, "
            "round(degrees(atan2(y, x)), 6) AS c_lon6, "
            "round(sqrt(x * x + y * y + z * z), 6) AS resultant6 FROM a), "
            "lats AS (SELECT cell, min(lat) AS lat_min, "
            "max(lat) AS lat_max FROM g GROUP BY cell), "
            "lons AS (SELECT DISTINCT cell, lon FROM g), "
            "k AS (SELECT cell, lon, coalesce("
            "lead(lon) OVER (PARTITION BY cell ORDER BY lon), "
            "first_value(lon) OVER (PARTITION BY cell ORDER BY lon "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) + 3.6e2"
            ") AS nxt FROM lons), "
            "b AS (SELECT cell, lon, nxt, nxt - lon AS gap, "
            "row_number() OVER (PARTITION BY cell "
            "ORDER BY (nxt - lon) DESC, lon ASC) AS rn FROM k) "
            "SELECT cen.cell, cen.n_points, cen.c_lat6, cen.c_lon6, "
            "cen.resultant6, "
            "round(l.lat_min, 6) AS lat_min6, round(l.lat_max, 6) AS lat_max6, "
            "round(" + _posmod("b.nxt + 1.8e2") + " - 1.8e2, 6) AS lon_west6, "
            "round(b.lon, 6) AS lon_east6, "
            "round(3.6e2 - b.gap, 6) AS lon_width6 "
            "FROM cen JOIN lats l ON l.cell = cen.cell "
            "JOIN b ON b.cell = cen.cell AND b.rn = 1"
        ),
        # spherical direct problem with the identical double ops (trig
        # ulp noise absorbed by the 6dp rounding)
        "buffer_rings": (
            f"WITH pts AS ({_CAND_SQL}), "
            "p AS (SELECT cand_id, lat, lon FROM pts WHERE cand_id % 10 = 0), "
            "v AS (SELECT cand_id, lat, lon, "
            "unnest(generate_series(0, 7)) AS vertex_idx FROM p), "
            "c AS (SELECT cand_id, vertex_idx, radians(lat) AS p1, "
            "radians(lon) AS l1, radians(vertex_idx * 4.5e1) AS th, "
            "5e4 / 6.371009e6 AS d FROM v), "
            "s AS (SELECT cand_id, vertex_idx, p1, l1, th, d, "
            "sin(p1) * cos(d) + cos(p1) * sin(d) * cos(th) AS sp2 FROM c) "
            "SELECT cand_id, vertex_idx, "
            "round(degrees(asin(least(greatest(sp2, -1.0), 1.0))), 6) AS vlat6, "
            "round(" + _posmod(
                "degrees(l1 + atan2(sin(th) * sin(d) * cos(p1), "
                "cos(d) - sin(p1) * sp2)) + 1.8e2")
            + " - 1.8e2, 6) AS vlon6 FROM s"
        ),
        # capped variant: buckets above max_band_size=2 dropped BEFORE
        # the self-join (mirrors dedup.lsh_candidate_pairs's hot-band
        # guard exactly)
        "lsh_pairs_capped": (
            f"{_bands_cte()}, "
            "bsz AS (SELECT band_key, count(*) AS n FROM bands GROUP BY band_key), "
            "kept AS (SELECT b.doc_id, b.band_key FROM bands b "
            "JOIN bsz z ON b.band_key = z.band_key WHERE z.n <= 2) "
            "SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2 "
            "FROM kept a JOIN kept b ON a.band_key = b.band_key "
            "WHERE a.doc_id < b.doc_id"
        ),
        "jaccard_pairs": (
            f"{jacc_base} "
            "SELECT p.id_1, p.id_2, coalesce(i.n_inter, 0) AS n_inter, "
            "z1.n_sh AS n_1, z2.n_sh AS n_2, "
            "round(coalesce(i.n_inter, 0) / (z1.n_sh + z2.n_sh - coalesce(i.n_inter, 0)), 6) AS jacc "
            "FROM pairs p LEFT JOIN inter i ON p.id_1 = i.id_1 AND p.id_2 = i.id_2 "
            "JOIN sizes z1 ON z1.doc_id = p.id_1 JOIN sizes z2 ON z2.doc_id = p.id_2"
        ),
        "simhash": (
            f"WITH t AS (SELECT doc_id, unnest({_WORDS}) AS tok FROM documents), "
            f"h AS (SELECT doc_id, CAST({th_expr} AS BIGINT) AS th FROM t), "
            f"b AS (SELECT doc_id, {sim_sums} FROM h GROUP BY doc_id) "
            f"SELECT doc_id, CAST({sim_val} AS BIGINT) AS simhash FROM b"
        ),
        # quality_score + language_id joined per doc (merged r4)
        "text_quality": (
            f"WITH toks AS (SELECT doc_id, text, {_WORDS} AS words FROM documents), "
            "qs AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens, "
            "CAST(length(text) AS BIGINT) AS nch, "
            "round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / greatest(length(text), 1), 6) AS alpha_r, "
            f"round(len(list_filter(words, w -> list_contains([{stop_list}], w))) / greatest(len(words), 1), 6) AS stop_r, "
            "round(least(len(words) / 2e1, 1e0) * 4e-1 + "
            "(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / greatest(length(text), 1)) * 4e-1 + "
            f"least((len(list_filter(words, w -> list_contains([{stop_list}], w))) / greatest(len(words), 1)) * 4e0, 1e0) * 2e-1, 6) AS q "
            "FROM toks), "
            "h AS (SELECT doc_id, "
            + ", ".join(f"{hits(lang)} AS h_{lang}" for lang in langs)
            + " FROM toks), "
            "b AS (SELECT doc_id, " + ", ".join(f"h_{lang}" for lang in langs)
            + f", greatest({', '.join('h_' + lang for lang in langs)}) AS best FROM h), "
            f"lid AS (SELECT doc_id, {lang_case} AS lang_pred FROM b) "
            "SELECT qs.doc_id, qs.n_tokens, qs.nch, qs.alpha_r, qs.stop_r, "
            "qs.q, lid.lang_pred FROM qs JOIN lid ON lid.doc_id = qs.doc_id"
        ),
        # token_count_bpe + trigram_logprob joined per doc (merged r4)
        "text_lm": (
            "WITH tri AS (SELECT doc_id, unnest(list_transform("
            "generate_series(1, greatest(length(lower(text)) - 2, 0)), "
            "i -> substring(lower(text), i, 3))) AS tg FROM documents), "
            "c AS (SELECT tg, count(*) AS n FROM tri GROUP BY tg), "
            "t AS (SELECT sum(n) AS tot FROM c), "
            "s AS (SELECT tri.doc_id, avg(ln(c.n / t.tot)) AS lp "
            "FROM tri JOIN c ON c.tg = tri.tg CROSS JOIN t GROUP BY tri.doc_id) "
            "SELECT d.doc_id, CAST(len(regexp_extract_all(d.text, "
            "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]+')) AS BIGINT) AS n_bpe, "
            "round(s.lp, 6) AS tri_lp "
            "FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id"
        ),
        # whole-doc fingerprint LEFT JOIN rolling winnowed fingerprints
        # (merged r4; left keeps docs whose winnowed selection is empty)
        "fingerprints": (
            f"WITH toks AS (SELECT doc_id, {_WORDS} AS words FROM documents), "
            "docfp AS (SELECT doc_id, "
            "md5(array_to_string(list_sort(list_distinct(words)), ' ')) "
            "AS fingerprint FROM toks), "
            "sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
            "generate_series(1, greatest(len(words) - 3, 0)), "
            "i -> array_to_string(words[i:i+3], ' ')))) AS shingle FROM toks), "
            "fps AS (SELECT doc_id, CAST("
            + " + ".join(
                f"(instr('0123456789abcdef', substr(md5(shingle), {j + 1}, 1)) - 1) "
                f"* {16 ** (11 - j)}"
                for j in range(12)
            )
            + " AS BIGINT) AS fp FROM sh), "
            "roll AS (SELECT DISTINCT doc_id, fp FROM fps WHERE fp % 8 = 0) "
            "SELECT d.doc_id, d.fingerprint, r.fp "
            "FROM docfp d LEFT JOIN roll r ON r.doc_id = d.doc_id"
        ),
        # exact word-5-gram contamination join: distinct shingles per
        # doc on both sides, so count(*) == distinct shared n-grams
        "contamination": (
            f"WITH toks AS (SELECT doc_id, {_WORDS} AS words FROM documents), "
            "sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
            "generate_series(1, greatest(len(words) - 4, 0)), "
            "i -> array_to_string(words[i:i+4], ' ')))) AS shingle FROM toks) "
            "SELECT d.doc_id, p.doc_id AS probe_id, count(*) AS n_shared "
            "FROM sh d JOIN sh p ON d.shingle = p.shingle "
            "WHERE p.doc_id % 50 = 0 GROUP BY 1, 2"
        ),
        "hash_split": (
            "SELECT doc_id, CASE WHEN ("
            + " + ".join(
                f"(instr('0123456789abcdef', substr(md5(concat('v1', ':', "
                f"CAST(doc_id AS VARCHAR))), {j + 1}, 1)) - 1) * {16 ** (3 - j)}"
                for j in range(4)
            )
            + ") < 6554 THEN 'val' ELSE 'train' END AS split FROM documents"
        ),
        # exact per-stratum quota: rank by md5(salt:id) inside each lang,
        # keep ceil(0.2 * stratum size)
        "stratified_sample": (
            "SELECT doc_id, lang FROM ("
            "SELECT doc_id, lang, "
            "row_number() OVER (PARTITION BY lang ORDER BY "
            "md5(concat('v1', ':', CAST(doc_id AS VARCHAR))), doc_id) AS rn, "
            "count(*) OVER (PARTITION BY lang) AS n FROM documents"
            ") WHERE rn <= ceil(2e-1 * n)"
        ),
        "embedding_topk": (
            "WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv "
            "FROM embeddings WHERE vec_id < 5), "
            "c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
            "s AS (SELECT query_id, vec_id, list_dot_product(v, qv) / "
            "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS cosine "
            "FROM c, q), "
            "r AS (SELECT query_id, vec_id, cosine, row_number() OVER "
            "(PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank FROM s) "
            "SELECT query_id, vec_id, round(cosine, 6) AS cos_r, "
            "CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5"
        ),
        # --- ANN trio: full SQL mirrors over the COMMITTED trained
        # fixtures (fixtures/ann, scripts/make_ann_fixtures.py).
        # assignment -> probe -> (ADC) -> exact re-rank is deterministic
        # given the fixtures; both engines read the same parquet doubles
        # and round cosines to 6dp (the proven embedding_topk pattern).
        "ivf_topk": _ivf_sql(),
        "pq_topk": _pq_sql(),
        "ivfpq_topk": _ivfpq_sql(),
        "radius_join_salted": (
            f"SELECT q.query_id, c.cand_id, round({gc_q}, 0) AS dist_m "
            f"FROM ({_QRY_SQL}) q, ({_CAND_SQL}) c WHERE {gc_q} <= 8e5"
        ),
        # brute-force ground truth (NOT a banding mirror): the pigeonhole
        # banding in simhash_near_pairs guarantees exact recall, so the
        # oracle verifies it against ALL pairs within the distance
        "simhash_near_pairs": (
            f"WITH t AS (SELECT doc_id, unnest({_WORDS}) AS tok FROM documents), "
            f"h AS (SELECT doc_id, CAST({th_expr} AS BIGINT) AS th FROM t), "
            f"b AS (SELECT doc_id, {sim_sums} FROM h GROUP BY doc_id), "
            f"sim AS (SELECT doc_id, CAST({sim_val} AS BIGINT) AS simhash FROM b) "
            "SELECT a.doc_id AS id_1, b2.doc_id AS id_2, "
            "CAST(bit_count(xor(a.simhash, b2.simhash)) AS BIGINT) AS hamming "
            "FROM sim a JOIN sim b2 ON a.doc_id < b2.doc_id "
            "WHERE bit_count(xor(a.simhash, b2.simhash)) <= 3"
        ),
        "point_in_polygon": (
            f"{_pip_hits_sql(_CAND_SQL, 'cand_id')} "
            "SELECT cand_id, poly_id FROM pip_hits"
        ),
        "point_in_polygon_rel": (
            f"{_pip_hits_sql(_CAND_SQL, 'cand_id')} "
            "SELECT cand_id, poly_id FROM pip_hits"
        ),
        "polygon_area": _poly_area_sql(),
        "zonal_stats": (
            _pip_hits_sql(
                f"SELECT tile_id, lat, lon, value FROM read_parquet('{FIXTURE_RASTER}')",
                "tile_id",
            )
            + ", tiles AS (SELECT h.poly_id, p.value FROM pip_hits h "
            "JOIN pts p ON p.tile_id = h.tile_id) "
            "SELECT poly_id, count(*) AS n_tiles, round(sum(value), 6) AS sum_v "
            "FROM tiles GROUP BY poly_id"
        ),
        # geodist_dimwise + geodist_dimwise_haversine on the same pair
        # relation (merged r4)
        "dimwise": (
            "WITH q AS (SELECT query_id AS id, q_lat AS lat, q_lon AS lon, "
            f"CAST(query_id % 7 AS DOUBLE) AS feat FROM ({_QRY_SQL})) "
            "SELECT a.id AS id_1, b.id AS id_2, "
            f"round({_gc_sql('a.lat', 'a.lon', 'b.lat', 'b.lon')}, 0) AS dist_m, "
            "b.feat - a.feat AS d_feat, "
            "round(2e0 * 6.371009e6 * asin(abs(sin(abs(radians(a.lat - b.lat)) / 2e0))), 0) AS hv_lat_m, "
            "round(2e0 * 6.371009e6 * asin(sqrt((1e0 "
            "- sin(abs(radians(a.lat - b.lat)) / 2e0) * sin(abs(radians(a.lat - b.lat)) / 2e0) "
            "- sin(radians(a.lat + b.lat) / 2e0) * sin(radians(a.lat + b.lat) / 2e0)) "
            "* sin(abs(radians(a.lon - b.lon)) / 2e0) * sin(abs(radians(a.lon - b.lon)) / 2e0))), 0) AS hv_lon_m, "
            "round(abs(b.feat - a.feat), 0) AS d_feat_abs "
            "FROM q a, q b"
        ),
        "embedding_near_pairs": _emb_near_pairs_sql(),
        # media decode mirror: the fetch stub synthesizes payloads whose
        # PNG/BMP header dimensions (and the raw path's pseudo-dims) are
        # functions of sha256(media_ref) — recomputable from the hex here
        "media_features": (
            f"{span_cte}, m AS (SELECT doc_id, span_idx, span.media_ref AS mr, "
            "sha256(span.media_ref) AS sx, "
            "sha256(concat('v:', span.media_ref)) AS vx "
            "FROM s WHERE span.kind = 'media'), "
            "b AS (SELECT doc_id, span_idx, mr, "
            + ", ".join(
                f"((instr('0123456789abcdef', substr(sx, {2 * i + 1}, 1)) - 1) * 16 + "
                f"(instr('0123456789abcdef', substr(sx, {2 * i + 2}, 1)) - 1)) AS b{i}"
                for i in range(9)
            )
            + ", "
            + ", ".join(
                f"((instr('0123456789abcdef', substr(vx, {2 * i + 1}, 1)) - 1) * 16 + "
                f"(instr('0123456789abcdef', substr(vx, {2 * i + 2}, 1)) - 1)) AS vb{i}"
                for i in range(8)
            )
            + " FROM m), "
            # audio synth params: same sha256 bytes drive the WAV stub
            # (textops/audio.py _synth_wav); header columns are exact,
            # waveform features are TRUE-gated booleans on the Spark side
            "au AS (SELECT *, "
            "CASE b0 % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 "
            "WHEN 2 THEN 22050 ELSE 44100 END AS e_rate, "
            "CASE b1 % 5 WHEN 2 THEN 8 WHEN 3 THEN 24 WHEN 4 THEN 32 "
            "ELSE 16 END AS e_bits, "
            "1 + b2 % 2 AS e_ch, "
            "1024 + (b3 + 256 * b4) % 3072 AS e_n, "
            # video synth params: sha256('v:' + ref) bytes drive the
            # MP4 stub (textops/video.py _synth_mp4); header columns
            # are exact, frame-extraction gates are TRUE-gated
            # booleans on the Spark side
            "3 + vb1 % 14 AS v_nf, "
            "100 + (vb2 % 9) * 50 AS v_delta, "
            "CASE vb3 % 4 WHEN 0 THEN 12 WHEN 1 THEN 24 WHEN 2 THEN 25 "
            "ELSE 30 END AS v_fpsi FROM b) "
            "SELECT doc_id, span_idx, "
            "CASE b0 % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' WHEN 2 THEN 'webp' "
            "WHEN 3 THEN 'tiff' ELSE 'raw' END AS format, "
            "CAST(CASE b0 % 5 WHEN 4 THEN (b0 + 256 * b1) % 1920 + 16 "
            "ELSE 16 + (b1 + 256 * b2) % 2033 END AS BIGINT) AS width, "
            "CAST(CASE b0 % 5 WHEN 4 THEN (b2 + 256 * b3) % 1080 + 16 "
            "ELSE 16 + (b3 + 256 * b4) % 1525 END AS BIGINT) AS height, "
            "CAST(128 AS BIGINT) AS n_bytes, "
            "split_part(mr, '://', 2) AS media_key, "
            "CASE WHEN e_bits = 32 THEN 'float' ELSE 'pcm' END AS a_codec, "
            "CAST(e_ch AS BIGINT) AS a_ch, "
            "CAST(e_rate AS BIGINT) AS a_rate, "
            "CAST(e_bits AS BIGINT) AS a_bits, "
            "CAST(e_n AS BIGINT) AS a_frames, "
            "1.0e3 * e_n / e_rate AS a_dur_ms, "
            "CAST(44 + e_n * e_ch * (e_bits // 8) AS BIGINT) AS a_bytes, "
            "TRUE AS ok_rms, TRUE AS ok_peak, TRUE AS ok_zcr, "
            "TRUE AS ok_centroid, TRUE AS ok_rolloff, TRUE AS ok_silence, "
            "CASE vb0 % 3 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42' "
            "ELSE 'avc1' END AS v_brand, "
            "CAST(16 + (vb4 + 256 * vb5) % 4080 AS BIGINT) AS v_w, "
            "CAST(16 + (vb6 + 256 * vb7) % 2160 AS BIGINT) AS v_h, "
            "CAST(v_delta * v_fpsi AS BIGINT) AS v_ts, "
            "CAST(v_nf AS BIGINT) AS v_frames, "
            "CAST(v_fpsi AS DOUBLE) AS v_fps, "
            "1.0e3 * (v_nf * v_delta) / (v_delta * v_fpsi) AS v_dur_ms, "
            "TRUE AS ok_frame_sha, TRUE AS ok_frame_count "
            "FROM au"
        ),
        # transitive closure (recursive CTE) over the near-dup pair graph
        # — an INDEPENDENT realization of the engine's large-star/
        # small-star connected components
        "near_dup_groups": (
            jacc_base.replace("WITH ", "WITH RECURSIVE ", 1)
            + ", jac AS (SELECT p.id_1, p.id_2 FROM pairs p "
            "JOIN sizes z1 ON z1.doc_id = p.id_1 JOIN sizes z2 ON z2.doc_id = p.id_2 "
            "LEFT JOIN inter i ON p.id_1 = i.id_1 AND p.id_2 = i.id_2 "
            "WHERE coalesce(i.n_inter, 0) / (z1.n_sh + z2.n_sh - coalesce(i.n_inter, 0)) >= 5e-1), "
            "e AS (SELECT id_1 AS a, id_2 AS b FROM jac "
            "UNION ALL SELECT id_2, id_1 FROM jac), "
            "reach(src, dst) AS ("
            "SELECT doc_id, doc_id FROM documents "
            "UNION SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.dst) "
            "SELECT src AS doc_id, min(dst) AS group_id FROM reach GROUP BY src"
        ),
        # same transitive closure, then keep the longest member (ties ->
        # smallest id) of each component
        "dedup_best": (
            jacc_base.replace("WITH ", "WITH RECURSIVE ", 1)
            + ", jac AS (SELECT p.id_1, p.id_2 FROM pairs p "
            "JOIN sizes z1 ON z1.doc_id = p.id_1 JOIN sizes z2 ON z2.doc_id = p.id_2 "
            "LEFT JOIN inter i ON p.id_1 = i.id_1 AND p.id_2 = i.id_2 "
            "WHERE coalesce(i.n_inter, 0) / (z1.n_sh + z2.n_sh - coalesce(i.n_inter, 0)) >= 5e-1), "
            "e AS (SELECT id_1 AS a, id_2 AS b FROM jac "
            "UNION ALL SELECT id_2, id_1 FROM jac), "
            "reach(src, dst) AS ("
            "SELECT doc_id, doc_id FROM documents "
            "UNION SELECT r.src, e.b FROM reach r JOIN e ON e.a = r.dst), "
            "grp AS (SELECT src AS doc_id, min(dst) AS group_id FROM reach GROUP BY src) "
            "SELECT d.doc_id, d.n_chars FROM documents d "
            "JOIN grp g ON d.doc_id = g.doc_id "
            "QUALIFY row_number() OVER (PARTITION BY g.group_id "
            "ORDER BY d.n_chars DESC, d.doc_id) = 1"
        ),
        # k-ring density smoothing: counted cells donate to (2k+1)^2
        # neighbors — x wraps, y clamps (same rules as grid.k_ring)
        "cell_density_smooth": (
            "WITH pts AS ({pts}), "
            f"c AS (SELECT {_cell_sql('lat', 'lon', 5)} AS cell, "
            "count(*) AS n FROM pts GROUP BY 1), "
            "o AS (SELECT dy, dx FROM (VALUES "
            + ", ".join(f"({dy}, {dx})" for dy in (-1, 0, 1) for dx in (-1, 0, 1))
            + ") AS v(dy, dx)), "
            "d AS (SELECT ((cell // 32) + dy) AS ny, "
            "((((cell % 32) + dx) % 32 + 32) % 32) AS nx, n "
            "FROM c CROSS JOIN o WHERE ((cell // 32) + dy) BETWEEN 0 AND 31), "
            "s AS (SELECT ny * 32 + nx AS cell, CAST(sum(n) AS BIGINT) AS n_ring "
            "FROM d GROUP BY 1) "
            "SELECT s.cell, CAST(coalesce(c.n, 0) AS BIGINT) AS n, s.n_ring "
            "FROM s LEFT JOIN c ON c.cell = s.cell"
        ).format(pts=_CAND_SQL),
        # density-adaptive index: per-level counts from the SAME integer
        # cell math, overfull sets, min non-overfull level per point
        "adaptive_index": (
            "WITH pts AS ({pts}), "
            + ", ".join(
                f"c{r} AS (SELECT {_cell_sql('lat', 'lon', r)} AS cell, "
                "count(*) AS n FROM pts GROUP BY 1)"
                for r in range(2, 7)
            )
            + ", ov AS ("
            + " UNION ALL ".join(
                f"SELECT {r} AS r, cell FROM c{r} WHERE n > 25"
                for r in range(2, 6)
            )
            + "), anc AS ("
            + " UNION ALL ".join(
                f"SELECT cand_id, {r} AS r, {_cell_sql('lat', 'lon', r)} AS cell FROM pts"
                for r in range(2, 6)
            )
            + "), fits AS (SELECT a.cand_id, min(a.r) AS a_res FROM anc a "
            "LEFT JOIN ov ON ov.r = a.r AND ov.cell = a.cell "
            "WHERE ov.cell IS NULL GROUP BY a.cand_id) "
            "SELECT p.cand_id, coalesce(f.a_res, 6) AS a_res, "
            "CASE coalesce(f.a_res, 6) "
            + " ".join(
                f"WHEN {r} THEN {_cell_sql('p.lat', 'p.lon', r)}"
                for r in range(2, 7)
            )
            + " END AS a_cell "
            "FROM pts p LEFT JOIN fits f ON f.cand_id = p.cand_id"
        ).format(pts=_CAND_SQL),
        # DuckDB's NATIVE ASOF JOIN — an independent realization of the
        # engine's union-tag + window carry-forward plan
        "asof_join": (
            "WITH l AS (SELECT event_id, user_id, ts FROM events "
            "WHERE event_type != 'purchase'), "
            "r AS (SELECT user_id, ts, value FROM events "
            "WHERE event_type = 'purchase') "
            "SELECT l.event_id, round(r.value, 6) AS purch_v, "
            "CAST(floor(epoch(r.ts)) AS BIGINT) AS purch_ts_s "
            "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"
        ),
        "sessionize": (
            "WITH o AS (SELECT user_id, ts, "
            "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts "
            "FROM events), "
            "m AS (SELECT user_id, CASE WHEN prev_ts IS NULL THEN 1 "
            "WHEN CAST(epoch(ts) AS BIGINT) - CAST(epoch(prev_ts) AS BIGINT) > 1800 "
            "THEN 1 ELSE 0 END AS new_sess FROM o) "
            "SELECT user_id, count(*) AS n_events, "
            "CAST(sum(new_sess) AS BIGINT) AS n_sessions FROM m GROUP BY user_id"
        ),
    }
