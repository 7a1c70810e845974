"""Interleaved text+media documents: span extraction & reassembly.

Input table shape (BASELINE.json ``input_hint``, authoritative)::

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

Geo-bearing spans carry ``kind='geo'`` with ``text = "<lat>,<lon>"``.
Extraction is the engine analog of the reference's tabular ingest
(pandas_support.py:25-136): order-preserving and non-destructive — the
per-row invariant is span-sequence equality (kind, text, media_ref,
order), enforced by :func:`verify_span_sequence`.

All of this is plain Catalyst: posexplode keeps ``span_idx``; payload
parsing is ``split`` + ``cast`` (no UDFs); reassembly is
``array_sort(collect_list(struct(span_idx, ...)))``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..constants import EARTH_RADIUS_M
from ..functions.expressions import cell_id_col, great_circle_m
from ..kernels import haversine

SPANS_SCHEMA_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def explode_spans(docs: DataFrame) -> DataFrame:
    """One row per span, position-preserving.

    Output: (doc_id, span_idx, kind, text, media_ref, offset).

    ``posexplode`` semantics: documents whose ``spans`` array is empty
    or NULL produce NO rows, so they do not survive an
    explode -> :func:`reassemble_spans` roundtrip (probed: spanful
    docs roundtrip fingerprint-exact, including duplicate offsets and
    null span fields). A pipeline that must retain empty documents
    should split them off (``F.size("spans") > 0``) before exploding
    and union them back after reassembly.
    """
    return docs.select(
        "doc_id",
        F.posexplode("spans").alias("span_idx", "span"),
    ).select(
        "doc_id",
        "span_idx",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def _geo_points(spans: DataFrame) -> DataFrame:
    """The geo rows of an :func:`explode_spans` relation with ``lat`` and
    ``lon`` parsed from ``text = "<lat>,<lon>"``; rows whose payload
    fails to parse or is out of range are dropped."""
    return (
        spans.filter(F.col("kind") == "geo")
        # F.get (not getItem): ANSI-safe NULL on malformed payloads with
        # no comma — Catalyst may evaluate the projection before the kind
        # filter (observed via a downstream explode plan), and getItem
        # throws INVALID_ARRAY_INDEX there
        .withColumn("lat", F.get(F.split("text", ","), 0).try_cast("double"))
        .withColumn("lon", F.get(F.split("text", ","), 1).try_cast("double"))
        .filter(
            F.col("lat").isNotNull() & F.col("lon").isNotNull()
            & F.col("lat").between(-90.0, 90.0)
            & F.col("lon").between(-180.0, 180.0)
        )
    )


def extract_geo_spans(docs: DataFrame, res: int | None = None) -> DataFrame:
    """Geo points from the documents table.

    Output: (doc_id, span_idx, lat, lon [, cell_r{res}]). Filter on
    ``kind='geo'`` is pushed as close to the scan as Catalyst allows;
    payload parse is split+cast column math. Rows whose payload fails to
    parse or is out of range are dropped (mirrors reference coordinate
    validation, distance.py:86-91).
    """
    pts = _geo_points(explode_spans(docs)).select("doc_id", "span_idx", "lat", "lon")
    if res is not None:
        pts = pts.withColumn(f"cell_r{res}", cell_id_col("lat", "lon", res))
    return pts


def span_path_stats(docs: DataFrame, exact: bool = False,
                    ellipsoid="WGS-84") -> DataFrame:
    """Per-document trajectory stats over the ORDERED geo spans — a
    geotagged interleaved document is a path, and this is its primitive:
    (doc_id, n_points, path_mm, net_m) where path_mm is the total length
    of consecutive legs in span order (integer millimeters: each leg
    rounds to mm BEFORE the sum, so the aggregate is order-independent
    and bit-reproducible across engines) and net_m the first->last
    displacement.

    Plan: one window (lag over span_idx within doc_id) + codegen
    great-circle legs + one groupBy(doc_id) with min_by/max_by endpoints
    — a single hash exchange on doc_id, no Python unless ``exact=True``
    (Vincenty legs via the Arrow kernel).
    """
    from ..functions.udfs import vincenty_udf

    pts = extract_geo_spans(docs)
    w = Window.partitionBy("doc_id").orderBy("span_idx")
    legs = (
        pts.withColumn("__plat", F.lag("lat").over(w))
        .withColumn("__plon", F.lag("lon").over(w))
    )
    if exact:
        leg = vincenty_udf(ellipsoid, once=True)(
            F.col("__plat"), F.col("__plon"), F.col("lat"), F.col("lon"))
    else:
        leg = great_circle_m("__plat", "__plon", "lat", "lon")
    leg_mm = F.when(F.col("__plat").isNotNull(),
                    F.round(leg * 1000.0, 0).cast("long")).otherwise(F.lit(0))
    stats = (
        legs.withColumn("__leg_mm", leg_mm)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("__leg_mm").alias("path_mm"),
            F.min_by(F.struct("lat", "lon"), "span_idx").alias("__first"),
            F.max_by(F.struct("lat", "lon"), "span_idx").alias("__last"),
        )
    )
    if exact:
        # same model for net as for the legs (Vincenty), so exact=True
        # output is single-model end to end
        net = vincenty_udf(ellipsoid, once=True)(
            F.col("__first.lat"), F.col("__first.lon"),
            F.col("__last.lat"), F.col("__last.lon"))
    else:
        net = great_circle_m(F.col("__first.lat"), F.col("__first.lon"),
                             F.col("__last.lat"), F.col("__last.lon"))
    return stats.select(
        "doc_id", "n_points", "path_mm",
        F.round(net, 0).cast("double").alias("net_m"),
    )


def simplify_path(points: DataFrame, epsilon_m: float,
                  id_col: str = "doc_id",
                  order_col: str = "span_idx",
                  lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Per-document Douglas-Peucker polyline simplification: keep the
    minimal ordered subset of each document's points such that every
    dropped point lies within ``epsilon_m`` (spherical
    distance-to-SEGMENT meters: |cross-track| where the along-track
    projection falls inside the segment, min endpoint distance where it
    falls outside — so doubling-back trajectories are measured against
    the segment actually kept, not its infinite great circle) of the
    simplified path. Endpoints always survive.

    Plan: ONE ``applyInArrow`` grouped map over ``id_col`` (an Arrow
    table in and out per document) — per-group work is the classic
    stack DP (numpy-vectorized cross-track per segment; a null
    coordinate is NaN), cost follows the longest document, not the
    corpus.
    Output: the input columns, kept rows only, order preserved.
    """
    import numpy as np
    import pyarrow as pa

    if epsilon_m < 0:
        raise ValueError(f"epsilon_m must be >= 0, got {epsilon_m}")

    def _xtrack(la1, lo1, la2, lo2, la, lo):
        """Distance of points (la, lo) to the great-circle SEGMENT 1->2,
        meters: |cross-track| when the along-track projection lands
        inside [0, len(1->2)], else min great-circle distance to the
        nearer endpoint (raw cross-track underestimates for points whose
        projection falls past an endpoint — doubling-back paths)."""
        p1, l1 = np.radians(la1), np.radians(lo1)
        p2, l2 = np.radians(la2), np.radians(lo2)
        p, l = np.radians(la), np.radians(lo)

        def brg(pa, laa, pb, lab):
            dl = lab - laa
            return np.arctan2(np.sin(dl) * np.cos(pb),
                              np.cos(pa) * np.sin(pb)
                              - np.sin(pa) * np.cos(pb) * np.cos(dl))

        d13 = haversine(la1, lo1, la, lo, radius=1.0)
        d12 = haversine(la1, lo1, la2, lo2, radius=1.0)
        if d12 < 1e-12:  # degenerate segment -> radial
            return d13 * EARTH_RADIUS_M
        dt = brg(p1, l1, p, l) - brg(p1, l1, p2, l2)
        xt = np.abs(np.arcsin(np.clip(np.sin(d13) * np.sin(dt), -1, 1)))
        # signed along-track angle: >0 ahead of 1, <0 behind; d12 = length
        at = np.arctan2(np.sin(d13) * np.cos(dt), np.cos(d13))
        d23 = haversine(la2, lo2, la, lo, radius=1.0)
        return np.where(at < 0, d13, np.where(at > d12, d23, xt)) * EARTH_RADIUS_M

    schema = points.select(id_col, order_col, lat_col, lon_col).schema

    def _simplify(tbl):
        tbl = tbl.sort_by(order_col)
        n = tbl.num_rows
        if n <= 2:
            return tbl
        la = np.asarray(tbl[lat_col].to_numpy(), dtype=float)
        lo = np.asarray(tbl[lon_col].to_numpy(), dtype=float)
        keep = np.zeros(n, dtype=bool)
        keep[0] = keep[-1] = True
        stack = [(0, n - 1)]
        while stack:
            i, j = stack.pop()
            if j - i < 2:
                continue
            mid = slice(i + 1, j)
            d = _xtrack(la[i], lo[i], la[j], lo[j], la[mid], lo[mid])
            worst = int(np.argmax(d))
            if d[worst] > epsilon_m:
                w = i + 1 + worst
                keep[w] = True
                stack.append((i, w))
                stack.append((w, j))
        return tbl.filter(pa.array(keep))

    return (
        points.select(id_col, order_col, lat_col, lon_col)
        .groupBy(id_col).applyInArrow(_simplify, schema)
    )


def extract_media_spans(docs: DataFrame) -> DataFrame:
    """Media spans with parsed scheme/key metadata (binary payloads are
    opaque references at this layer; decode happens in textops.multimodal).
    """
    return (
        explode_spans(docs)
        .filter(F.col("kind") == "media")
        .withColumn("media_scheme", F.get(F.split("media_ref", "://"), 0))
        .withColumn("media_key", F.get(F.split("media_ref", "://"), 1))
        .select("doc_id", "span_idx", "media_ref", "media_scheme", "media_key", "offset")
    )


def reassemble_spans(spans: DataFrame) -> DataFrame:
    """Inverse of :func:`explode_spans`: rows -> documents with the span
    array restored in original order (array_sort on a struct whose FIRST
    field is span_idx sorts by position).
    """
    return (
        spans.groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("span_idx", "kind", "text", "media_ref", "offset")
                    )
                ),
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans")
        )
    )


def geotag_text_spans(docs: DataFrame) -> DataFrame:
    """Attach to every TEXT span the nearest PRECEDING geo span of the
    same document (by byte offset) — the canonical interleaved-payload
    operation: text chunks inherit the geographic context established
    earlier in the document.

    Composed from the engine's as-of join keyed on doc_id over span
    offsets (one shuffle, no per-document loops). Text spans before any
    geo span keep nulls. Output: (doc_id, span_idx, offset, text,
    geo_offset, lat, lon).
    """
    from ..operators.temporal import asof_join

    sp = explode_spans(docs)
    text = sp.filter(F.col("kind") == "text").select(
        "doc_id", "span_idx", "offset", "text")
    geo = _geo_points(sp).select("doc_id", "offset", "lat", "lon")
    out = asof_join(text, geo, on="doc_id", left_ts="offset", right_ts="offset",
                    suffix="_g")
    return out.select(
        "doc_id", "span_idx", "offset", "text",
        F.col("offset_g").alias("geo_offset"),
        F.col("lat_g").alias("lat"),
        F.col("lon_g").alias("lon"),
    )


def _span_strs(spans_col):
    """Each span of a spans array column as its '|,|'-joined
    (kind, text, media_ref) string, null fields as '|0|'."""
    return F.transform(
        spans_col,
        lambda s: F.concat_ws(
            "|,|", *(F.coalesce(s[k], F.lit("|0|"))
                     for k in ("kind", "text", "media_ref"))),
    )


def _span_fp_expr(spans_col):
    """md5 over the ordered (kind, text, media_ref) sequence of a spans
    array column. Printable separators so the identical expression is
    writable in ANSI SQL (DuckDB oracle): span sep '|#|', field sep
    '|,|', null sentinel '|0|'."""
    return F.md5(F.concat_ws("|#|", _span_strs(spans_col)))


def span_fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, n_spans, span_fp) — md5 over the ordered
    (kind, text, media_ref) sequence. Two documents have equal
    fingerprints iff their span sequences are equal; this is the
    engine's span-sequence-equality verifier primitive.
    """
    return docs.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        _span_fp_expr("spans").alias("span_fp"),
    )


def verify_roundtrip(docs: DataFrame) -> int:
    """Single-pass explode->reassemble verification: count documents
    whose reassembled span sequence differs from the original (must
    be 0).

    Unlike :func:`verify_span_sequence` (two independent relations,
    hence two source scans), this computes the original fingerprint in
    the projection of the SAME scan that feeds the explode, carries it
    through the reassembly groupBy, and rebuilds the ordered span
    sequence + fingerprint inside that one aggregation — one scan, one
    shuffle, no join.

    What crosses the shuffle per span is (span_idx, span_str), where
    span_str is the exact '|,|'-joined (kind, text, media_ref) string
    the fingerprint hashes — not the 4-field struct plus offset the r5
    version carried (guide §2.3: shuffle only the bytes the decision
    needs; offset never participates in the fingerprint, and the three
    field strings are needed only concatenated). The reassembly is the
    same collect_list + array_sort-by-position machinery, applied to
    the fingerprint-relevant sequence.
    """
    # posexplode_OUTER: a doc with empty/null spans keeps one null row,
    # whose rebuilt fingerprint cannot match — flagged as a roundtrip
    # loss (a plain explode would silently skip such docs; the real
    # explode->reassemble pipeline does lose them). A real span's
    # string is never null (concat_ws with a non-null separator), so a
    # null __span_str identifies exactly that outer-null row; the
    # rebuild coalesces it to a '|X|' sentinel, which can never equal
    # the original fingerprint of an empty sequence (md5 of "" —
    # concat_ws treats a null array as empty).
    span_strs = _span_strs("spans")
    exploded = docs.select(
        "doc_id",
        F.md5(F.concat_ws("|#|", span_strs)).alias("__orig_fp"),
        F.posexplode_outer(span_strs).alias("span_idx", "__span_str"),
    )
    rebuilt = (
        exploded.groupBy("doc_id")
        .agg(
            F.first("__orig_fp").alias("__orig_fp"),
            F.array_sort(
                F.collect_list(F.struct("span_idx", "__span_str"))
            ).alias("__seq"),
        )
    )
    return rebuilt.filter(
        F.md5(F.concat_ws(
            "|#|",
            F.transform("__seq",
                        lambda s: F.coalesce(s["__span_str"], F.lit("|X|")))))
        != F.col("__orig_fp")
    ).count()


def verify_span_sequence(original: DataFrame, roundtripped: DataFrame) -> int:
    """Count documents whose span sequence changed (must be 0).

    Full-outer join on doc_id of the two fingerprint relations; any
    mismatch or missing doc counts as a violation.
    """
    a = span_fingerprint(original).alias("a")
    b = span_fingerprint(roundtripped).alias("b")
    return (
        a.join(b, on="doc_id", how="full_outer")
        .filter(
            F.col("a.span_fp").isNull()
            | F.col("b.span_fp").isNull()
            | (F.col("a.span_fp") != F.col("b.span_fp"))
        )
        .count()
    )
