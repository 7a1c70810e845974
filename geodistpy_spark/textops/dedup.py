"""Deduplication operators for training-data pipelines.

Exact + near-dup (MinHash-LSH, SimHash, n-gram Jaccard, embedding
cosine). The MinHash production path hashes shingles to 64-bit
``xxhash64`` longs (JVM codegen, 8 bytes through every shuffle);
``hash_fn='md5'`` switches to hex-string hashing built from explicit
strings so results are engine-portable — the DuckDB oracle in
__spark_entry__.py computes byte-identical md5 signatures, making the
dedup pipeline itself the correctness contract, not just row counts.

Scale notes: every operator is groupBy/join-shaped (no UDFs at all in
the exact/MinHash/SimHash paths — pure codegen'd string/array ops).
MinHash runs one pass over exploded shingles with S hash columns and a
single shuffle (groupBy doc_id); LSH banding turns the quadratic
candidate problem into an equi-join on band keys.
"""

from __future__ import annotations

import math
import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.expressions import _reusable

DEFAULT_SEEDS = 12
DEFAULT_BANDS = 4  # 3 rows per band


@_reusable
def _tokenize_col(text_col: str):
    return F.filter(F.split(F.lower(F.col(text_col)), " "), lambda w: w != "")


def tokenize(df: DataFrame, text_col: str = "text", out: str = "words") -> DataFrame:
    """Whitespace tokenization, lowercased, empty tokens removed."""
    return df.withColumn(out, _tokenize_col(text_col))


def shingles(df: DataFrame, text_col: str = "text", k: int = 3,
             out: str = "shingle") -> DataFrame:
    """Word k-gram shingles, one row per (doc, distinct shingle).
    Documents with fewer than k words yield no rows (the explicit
    size guard matters: Spark's ``sequence(1, 0)`` is the DESCENDING
    [1, 0], so the unguarded transform crashes ``slice`` at start=0 on
    short docs — and DuckDB's ``generate_series(1, 0)`` is empty, so
    the guard also keeps the oracle semantics identical).
    """
    toks = tokenize(df, text_col)
    sh = toks.withColumn(
        "__sh",
        F.expr(
            f"CASE WHEN size(words) >= {k} THEN "
            f"transform(sequence(1, size(words) - {k - 1}), "
            f"i -> concat_ws(' ', slice(words, i, {k}))) "
            "ELSE array() END"
        ),
    )
    return (
        sh.select(df.columns[0], F.explode(F.array_distinct("__sh")).alias(out))
    )


@_reusable
def _shingle_zip_col(k: int):
    n_sh = F.greatest(F.size("words") - (k - 1), F.lit(0))
    return F.arrays_zip(
        *[F.slice("words", i + 1, n_sh) for i in range(k)]).alias("__z")


@_reusable
def _shingle_id_col(k: int):
    return F.xxhash64(*[F.col(f"__s.{i}") for i in range(k)])


def shingle_hashes(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", k: int = 3,
                   out: str = "shingle") -> DataFrame:
    """Word k-gram shingle IDS as xxhash64 longs, one row per
    (doc, shingle position) — the whole-stage-codegen twin of
    :func:`shingles` for consumers that only need shingle EQUALITY and
    hash uniformity (MinHash signatures, the flag-based Jaccard
    verify), never the text.

    :func:`shingles` builds every k-gram STRING through interpreted
    higher-order functions (transform + slice + concat_ws per element,
    then array_distinct on strings) — measured 7.8 s of the 8.5 s
    signature derivation at 800k docs / local[8]. This path is pure
    codegen: k aligned ``slice`` views + ``arrays_zip`` + one Generate
    + one multi-arg ``xxhash64`` over the word triple (2.0 s for the
    same relation; 8.5 -> 2.4 s for the full signature derivation).

    Differences from :func:`shingles`, and why they are safe where this
    is used:

    - rows are NOT per-doc-distinct (no array_distinct). MIN-based
      signature aggregation is duplicate-invariant, and
      :func:`ngram_jaccard` reduces per (pair, shingle) with MAX
      presence flags before counting, so duplicates cannot change any
      result. A consumer that counts rows needs :func:`shingles`.
    - the id is ``xxhash64(w_i, .., w_{i+k-1})`` (multi-arg, no string
      materialization), not ``xxhash64(concat_ws(' ', ...))`` — a
      different (equally uniform, practically injective) hash family;
      docs with fewer than k words still contribute no rows.
    """
    toks = tokenize(df.select(id_col, text_col), text_col)
    zipped = toks.select(id_col, _shingle_zip_col(k))
    return zipped.select(
        id_col, F.explode("__z").alias("__s")
    ).select(id_col, _shingle_id_col(k).alias(out))


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: (text_hash, n_dups, keep_id, dup_ids).

    keep-first policy: the smallest id in each hash group survives.
    """
    hashed = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
    return (
        hashed.groupBy("text_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
            F.array_sort(F.collect_list(id_col)).alias("all_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Keep one row per distinct text (smallest id wins)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@_reusable
def _seed_hash(s: int, hash_fn: str):
    """Per-seed uniform hash of the ``shingle`` column.

    - ``xxhash64`` (production default): a JVM-codegen'd 64-bit long —
      8 bytes through the explode+groupBy shuffle, no string
      materialization. MIN over int64 is a uniform-hash MIN.
    - ``md5``: 32-char hex string — 4x the bytes and driver-side string
      hashing, kept ONLY because DuckDB has md5 but not xxhash64, so
      the correctness-oracle rows stay bit-mirrorable in ANSI SQL.
    """
    if hash_fn == "md5":
        return F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle")))
    if hash_fn == "xxhash64":
        return F.xxhash64(F.lit(s), F.col("shingle"))
    raise ValueError(f"unknown hash_fn={hash_fn!r} (xxhash64|md5)")


@_reusable
def _sig_cols(n_seeds: int, hash_fn: str) -> tuple:
    """(aliased seed-hash columns, aliased MIN aggregates) for
    :func:`minhash_signatures` — one immutable tree per shape."""
    hashes = tuple(_seed_hash(s, hash_fn).alias(f"h{s}")
                   for s in range(n_seeds))
    mins = tuple(F.min(f"h{s}").alias(f"mh{s}") for s in range(n_seeds))
    return hashes, mins


@_reusable
def _band_cols(n_bands: int, rows: int, hash_fn: str) -> tuple:
    """Aliased band-key columns over mh* for :func:`lsh_candidate_pairs`."""
    if hash_fn == "xxhash64":
        return tuple(
            F.xxhash64(F.lit(b), *[F.col(f"mh{b * rows + r}")
                                   for r in range(rows)]).alias(f"b{b}")
            for b in range(n_bands)
        )
    return tuple(
        F.concat_ws(
            "|",
            F.lit(str(b)),
            *[F.col(f"mh{b * rows + r}") for r in range(rows)],
        ).alias(f"b{b}")
        for b in range(n_bands)
    )


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 3,
                       n_seeds: int = DEFAULT_SEEDS,
                       hash_fn: str = "xxhash64",
                       _shingles: DataFrame | None = None) -> DataFrame:
    """MinHash signature per doc: mh{s} = min over shingles of a
    seed-keyed uniform hash (see :func:`_seed_hash` for the
    ``hash_fn`` choices — 64-bit longs by default, md5 hex for oracle
    portability). One explode + one groupBy shuffle. ``_shingles``
    lets a pipeline share one (cached) shingle relation.
    """
    sh = _shingles if _shingles is not None else shingles(
        df.select(id_col, text_col), text_col, k)
    hashes, mins = _sig_cols(n_seeds, hash_fn)
    hashed = sh.select(id_col, *hashes)
    return hashed.groupBy(id_col).agg(*mins)


def lsh_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        n_seeds: int = DEFAULT_SEEDS,
                        n_bands: int = DEFAULT_BANDS,
                        max_band_size: int | None = None,
                        hash_fn: str = "xxhash64",
                        _shingles: DataFrame | None = None) -> DataFrame:
    """Near-dup candidate pairs via LSH banding: docs sharing any band of
    the MinHash signature. Output: (id_1, id_2) with id_1 < id_2.

    ``max_band_size`` caps hot bands: a band key shared by m docs emits
    m*(m-1)/2 pairs, so one boilerplate-heavy bucket (empty docs, common
    headers) can go quadratic at corpus scale. Buckets above the cap are
    dropped BEFORE the self-join (one extra count agg on the band
    relation — map-side combined, cheap). Recall note: a true near-dup
    pair inside a dropped bucket is only lost if ALL of its matching
    bands are hot; default None keeps exact banding semantics (and the
    driver oracle mirrors the uncapped form).
    """
    rows = n_seeds // n_bands
    sig = minhash_signatures(df, id_col, text_col, k, n_seeds, hash_fn,
                             _shingles=_shingles)
    # band key = one codegen'd 64-bit hash over the band's signature
    # rows (seeded by the band index) — an 8-byte long through the
    # self-join shuffle instead of a ~100-char concat string
    # (md5 mode keeps the concat string for the DuckDB mirror)
    band_cols = _band_cols(n_bands, rows, hash_fn)
    bands = sig.select(id_col, F.explode(F.array(*band_cols)).alias("band_key"))
    if max_band_size is not None:
        sizes = bands.groupBy("band_key").count()
        keep = sizes.filter(F.col("count") <= max_band_size).select("band_key")
        bands = bands.join(keep, on="band_key", how="left_semi")
    a = bands.select(F.col(id_col).alias("id_1"), "band_key")
    b = bands.select(F.col(id_col).alias("id_2"), "band_key")
    return (
        a.join(b, on="band_key")
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )


def ngram_jaccard(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3,
                  _shingles: DataFrame | None = None) -> DataFrame:
    """Exact shingle-set Jaccard for given (id_1, id_2) pairs.
    ``pairs`` must hold DISTINCT pairs (the per-pair groupBy collapses
    a repeated input pair to one output row; LSH candidates are distinct
    by construction).

    The exploded pair-membership relation (two (id_1, id_2, doc) rows
    per pair, three longs each) joins the shingle relation — one hash
    join both filters the corpus-sized shingle scan to candidate docs
    and attaches the pair; the planner broadcasts it when the pair set
    is small, as it is for LSH output — then two long-only
    HashAggregates: per (pair, shingle) presence flags, then per pair
    counts (|A| = Σ side-1 present, |A ∩ B| = Σ both present). Nothing
    corpus-sized shuffles and nothing sorts. Duplicate (doc, shingle)
    rows are harmless — the MAX presence flags reduce per (pair,
    shingle) before anything is counted — so both :func:`shingles`
    (distinct) and :func:`shingle_hashes` (not distinct) are valid
    ``_shingles``; the default derives :func:`shingles` from ``df``.
    A pair touching a doc with no shingles (< k words) is dropped.
    """
    sh = _shingles if _shingles is not None else shingles(
        df.select(id_col, text_col), text_col, k)
    sides = pairs.select(
        "id_1", "id_2",
        F.explode(F.array("id_1", "id_2")).alias(id_col),
    )
    h1 = F.max(F.when(F.col(id_col) == F.col("id_1"), 1)
               .otherwise(0)).alias("__h1")
    h2 = F.max(F.when(F.col(id_col) == F.col("id_2"), 1)
               .otherwise(0)).alias("__h2")
    per_shingle = (
        sh.join(sides, on=id_col)
        .groupBy("id_1", "id_2", "shingle")
        .agg(h1, h2)
    )
    return (
        per_shingle.groupBy("id_1", "id_2")
        .agg(
            F.sum(F.col("__h1") * F.col("__h2")).alias("n_inter"),
            F.sum("__h1").alias("n_1"),
            F.sum("__h2").alias("n_2"),
        )
        # a pair whose doc has no shingles (< k words) has zero
        # presence rows on that side
        .filter((F.col("n_1") > 0) & (F.col("n_2") > 0))
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_1") + F.col("n_2") - F.col("n_inter")),
        )
        .select("id_1", "id_2", "n_inter", "n_1", "n_2", "jaccard")
    )


def near_duplicates_minhash(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", k: int = 3,
                            threshold: float = 0.7,
                            hash_fn: str = "xxhash64",
                            caches: list | None = None) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact Jaccard verify.

    NOTHING corpus-sized is ever cached or shuffled: the candidate
    stage streams the shingle explode once into the signature agg, the
    candidate pairs are cached and counted once (an unmaterialized
    candidate stage would run twice, once per consumer), and the verify
    re-derives shingles only for the candidate docs (semi-filter on the
    RAW docs before tokenizing, measured 6-15% of the corpus) and runs
    :func:`ngram_jaccard` on that narrow relation. Measured on the
    800k-doc sweep corpus vs the r4 cached-relational pipeline: 19 ->
    ~13 s at local[8], 44 -> ~33 s at local[2], and no multi-GB
    block-manager footprint (at 10^12 docs persisting the exploded
    relation would spill — streaming is the only shape that survives).

    ``caches``: a list that receives the cached candidate pairs so a
    caller that has fully consumed the result can ``unpersist()`` them —
    the result is lazy, so the function itself cannot safely release
    them.

    ``hash_fn`` also picks the shingle relation. ``xxhash64`` uses
    :func:`shingle_hashes`: every consumer (12 seed-hash mins, the band
    self-join, the Jaccard verify) only needs shingle EQUALITY and hash
    uniformity, never the text, so an 8-byte long from a codegen
    multi-arg hash of the word k-gram replaces a ~25-50-byte string in
    every corpus-sized scan and shuffle (measured 8.5 -> 2.4 s
    signature derivation at 800k docs / local[8]). The mapping is
    injective in practice: expected colliding distinct-shingle pairs
    is D^2 / 2^65 — 2.8e-5 at D = 32M distinct shingles, ~0.03 even at
    D = 1e9 — and one collision shifts one pair's intersection count
    by at most 1. ``md5`` uses the exact :func:`shingles` strings so
    the DuckDB correctness mirror stays bit-identical."""

    def _rel(docs: DataFrame) -> DataFrame:
        if hash_fn == "xxhash64":
            return shingle_hashes(docs, id_col, text_col, k)
        return shingles(docs.select(id_col, text_col), text_col, k)

    pairs = lsh_candidate_pairs(df, id_col, text_col, k, hash_fn=hash_fn,
                                _shingles=_rel(df)).cache()
    pairs.count()
    if caches is not None:
        caches.append(pairs)
    # No .distinct() on the id list: left_semi dedupes inherently, and
    # the distinct added one more exchange + AQE wave per call for
    # nothing
    cand = (
        pairs.select(F.col("id_1").alias(id_col))
        .union(pairs.select(F.col("id_2").alias(id_col)))
    )
    cand_docs = df.select(id_col, text_col).join(
        cand, on=id_col, how="left_semi")
    out = ngram_jaccard(df, pairs, id_col, text_col, k,
                        _shingles=_rel(cand_docs))
    return out.filter(F.col("jaccard") >= threshold)


def connected_components(nodes: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id",
                         max_iter: int = 25,
                         stats: dict | None = None) -> DataFrame:
    """Connected components over an undirected pair graph: every node
    labeled with its component's smallest id (singletons label
    themselves). ``pairs`` has columns (id_1, id_2).

    Alternating large-star/small-star rewiring (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014): every
    round REWIRES edges toward per-neighborhood minima instead of
    propagating labels one hop, so it converges in O(log n) rounds even
    on adversarial diameters (paths/chains). Edges are kept as a
    distinct (u, v) relation oriented u > v. Per round:

    - large-star: for every node c (over the symmetrized edge view),
      attach each strictly-larger neighbor to min(N(c) ∪ {c}).
    - small-star: for every node c (edges oriented c > v), attach its
      smaller neighbors and c itself to min(N⁻(c)).

    Both are one groupBy-min + one equi-join. Convergence = oriented
    edge set stable across a full round, detected with a deterministic
    (count, sum(xxhash64)) checksum — no set-difference shuffle. On
    convergence every component is a star around its min node, so the
    label map is a single groupBy.

    ``stats``: a dict that receives {"rounds": int, "converged": bool}.
    Hitting ``max_iter`` before the checksum is stable also warns: the
    labels may then not be component minima.

    Cache hygiene: every round is materialized once to truncate lineage
    — a reliable checkpoint when a checkpoint dir is set
    (``sc.setCheckpointDir``), so nothing persistent is left behind,
    else a local checkpoint that the ContextCleaner drops once its frame
    is unreferenced (the returned frame stays cached until then).
    """
    reliable = nodes.sparkSession.sparkContext.getCheckpointDir() is not None

    def _pin(df):
        # EVERY round must truncate lineage: a star round references its
        # input ~4x (symmetrize union + two self-join sides), so the
        # un-truncated logical plan grows 4^rounds and Catalyst analysis
        # alone hangs past ~10 rounds. Rounds are O(log n), so one
        # materialization per round is cheap.
        return (df.checkpoint(eager=True) if reliable
                else df.localCheckpoint(eager=True))

    e = _pin(
        pairs.select(F.greatest("id_1", "id_2").alias("u"),
                     F.least("id_1", "id_2").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def _checksum(df):
        # decimal(38,0) sum: long would overflow under ANSI on summed
        # 64-bit hashes
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h")
        ).collect()[0]
        return (row["n"], row["h"])

    def _large_star(edges):
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.first("u"), F.min("v")).alias("m"))
        return (
            sym.join(mins, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def _small_star(edges):
        mins = edges.groupBy("u").agg(F.min("v").alias("m"))
        rewired = (
            edges.join(mins, on="u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        centers = mins.select("u", F.col("m").alias("v"))
        return rewired.unionByName(centers).filter(
            F.col("u") != F.col("v")).distinct()

    prev = _checksum(e)
    rounds = 0
    converged = False
    for i in range(max_iter):
        e = _pin(_small_star(_large_star(e)))
        cur = _checksum(e)
        rounds = i + 1
        if cur == prev:
            converged = True
            break
        prev = cur
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        warnings.warn(
            f"connected_components hit max_iter={max_iter} without "
            "converging; labels may not be component minima",
            stacklevel=2)

    # converged: stars around component minima — one groupBy labels all
    # non-center nodes; singletons and centers label themselves.
    # (Superseded per-round materializations are dropped by the
    # ContextCleaner once unreferenced — nothing stays pinned.)
    star_map = e.groupBy(F.col("u").alias(id_col)).agg(
        F.min("v").alias("__m"))
    labels = (
        nodes.select(id_col)
        .join(star_map, on=id_col, how="left")
        .select(id_col,
                F.coalesce("__m", F.col(id_col)).alias("group_id"))
    )
    return _pin(labels)


def near_dup_groups(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 3,
                    threshold: float = 0.7, max_iter: int = 25,
                    hash_fn: str = "xxhash64",
                    caches: list | None = None) -> DataFrame:
    """Text near-dup components: :func:`connected_components` over the
    transitive closure of :func:`near_duplicates_minhash` pairs at
    ``threshold``. (For embeddings, feed
    :func:`embedding_near_pairs` output into connected_components the
    same way.)

    ``caches`` receives the minhash stage's cached intermediates so a
    caller that has fully materialized the result can ``unpersist()``
    them; without it they stay pinned for the session (the result may
    lazily recompute label partitions through them, so this function
    cannot safely release them itself)."""
    pairs = near_duplicates_minhash(df, id_col, text_col, k, threshold,
                                    hash_fn=hash_fn, caches=caches)
    return connected_components(df, pairs, id_col, max_iter)


def dedup_near(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
               k: int = 3, threshold: float = 0.7,
               keep: str = "min_id", score_col: str | None = None,
               hash_fn: str = "xxhash64",
               caches: list | None = None) -> DataFrame:
    """Near-duplicate dedup: keep ONE doc per connected component of the
    near-dup graph, all columns preserved.

    ``keep='min_id'`` keeps the smallest id (cheap: component labels ARE
    min-ids, no extra pass). ``keep='best'`` keeps the row maximizing
    ``score_col`` (ties broken by smallest id) — the production policy:
    survivors are the highest-QUALITY cluster member, not an arbitrary
    one. The ranking window partitions by component label, so its cost
    follows cluster sizes, not corpus size.
    """
    groups = near_dup_groups(df, id_col, text_col, k, threshold,
                             hash_fn=hash_fn, caches=caches)
    if keep == "min_id":
        keep_ids = groups.filter(F.col(id_col) == F.col("group_id")).select(id_col)
    elif keep == "best":
        if score_col is None:
            raise ValueError("keep='best' requires score_col")
        w = Window.partitionBy("group_id").orderBy(
            F.col(score_col).desc(), F.col(id_col))
        keep_ids = (
            df.select(id_col, score_col).join(groups, on=id_col, how="inner")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).select(id_col)
        )
    else:
        raise ValueError(f"unknown keep={keep!r} (min_id|best)")
    return df.join(keep_ids, on=id_col, how="left_semi")


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 16, out: str = "simhash") -> DataFrame:
    """SimHash over unigram tokens: bit b set iff the sum over tokens of
    ±1 (per the b-th bit of md5(token)) is positive.

    Token hash = first 4 hex chars of md5 -> 16-bit int, decoded with
    instr-based arithmetic (portable: the identical expression runs in
    Spark SQL and DuckDB — no engine-specific conv/from_hex).
    """
    toks = tokenize(df.select(id_col, text_col), text_col)
    t = toks.select(id_col, F.explode("words").alias("tok"))
    hexpr = " + ".join(
        f"(instr('0123456789abcdef', substr(md5(tok), {j + 1}, 1)) - 1) * {16 ** (3 - j)}"
        for j in range(4)
    )
    t = t.withColumn("th", F.expr(f"cast({hexpr} as bigint)"))
    agg = t.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    sim = agg.select(
        id_col,
        sum(
            (F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)))
            for b in range(bits)
        ).alias(out),
    )
    return sim


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", bits: int = 16,
                       max_hamming: int = 2) -> DataFrame:
    """Docs whose SimHashes differ in <= max_hamming bits. EXACT recall:
    the signature is banded into ``max_hamming + 1`` disjoint bit
    segments — by pigeonhole, any pair within the distance matches at
    least one segment exactly — then exact popcount refines. (Round-1
    banded two halves, which only guarantees recall for distance <= 1.)
    """
    sim = simhash(df, id_col, text_col, bits)
    n_seg = max_hamming + 1
    if n_seg > bits:
        raise ValueError(f"max_hamming={max_hamming} needs more segments than bits={bits}")
    base = bits // n_seg
    extra = bits % n_seg  # first ``extra`` segments get one more bit
    segs = []
    offset = 0
    for s in range(n_seg):
        width = base + (1 if s < extra else 0)
        segs.append(
            F.concat_ws(
                ":", F.lit(str(s)),
                (F.shiftright(F.col("simhash"), offset) % (1 << width)).cast("string"),
            )
        )
        offset += width
    banded = sim.select(
        id_col, "simhash",
        F.explode(F.array(*segs)).alias("band"),
    )
    a = banded.select(F.col(id_col).alias("id_1"), F.col("simhash").alias("sh_1"), "band")
    b = banded.select(F.col(id_col).alias("id_2"), F.col("simhash").alias("sh_2"), "band")
    cand = (
        a.join(b, on="band")
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2", "sh_1", "sh_2")
        .distinct()
    )
    return cand.withColumn(
        "hamming", F.bit_count(F.col("sh_1").bitwiseXOR(F.col("sh_2")))
    ).filter(F.col("hamming") <= max_hamming)


def embedding_near_pairs(emb: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         threshold: float = 0.95,
                         n_bands: int = 4, band_bits: int = 4,
                         seed: int = 42,
                         target_recall: float | None = None,
                         max_bands: int = 64) -> DataFrame:
    """Embedding cosine near-dup pairs, banded-LSH-bucketed for scale.

    Random-hyperplane signature of ``n_bands * band_bits`` sign bits
    (deterministic seeded planes enter the plan as literals), banded
    b x r: a pair is a candidate if ANY band matches exactly; exact
    cosine refines. For cos >= 0.95 the per-plane collision prob is
    p = 1 - acos(0.95)/pi ~ 0.899, so candidate recall with the default
    4 x 4 is 1 - (1 - p^4)^4 ~ 0.985 — tunable via n_bands/band_bits.

    ``target_recall`` auto-tunes instead: keeps ``band_bits`` (the
    precision/bucket-size knob) and derives the smallest ``n_bands``
    with expected recall >= target at ``threshold``, i.e.
    b = ceil(log(1 - target) / log(1 - p^r)), capped at ``max_bands``
    (shuffle volume grows linearly with b).

    (Round-1 joined on the FULL signature: one band of n_planes bits —
    recall ~0.65 at 8 planes and, worse, only 2^n_planes buckets total,
    which goes quadratic inside buckets at billions of rows. Banding
    bounds both: b independent r-bit bucketings, same shape as
    :func:`lsh_candidate_pairs`.)
    """
    import numpy as np

    if target_recall is not None:
        if not 0.0 < target_recall < 1.0:
            raise ValueError(f"target_recall must be in (0, 1), got {target_recall}")
        p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
        pr = p ** band_bits
        if pr >= 1.0:
            n_bands = 1
        else:
            n_bands = min(max_bands, max(1, math.ceil(
                math.log(1.0 - target_recall) / math.log(1.0 - pr))))

    n_planes = n_bands * band_bits
    rng = np.random.default_rng(seed)
    dim_row = emb.select(F.size(vec_col).alias("d")).first()
    if dim_row is None:  # empty input -> empty pair relation
        return emb.sparkSession.createDataFrame(
            [], "id_1 long, id_2 long, cosine double")
    dim = dim_row["d"]
    planes = rng.normal(0, 1, (n_planes, dim))

    v = emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))

    def _bit(p):
        return F.when(
            F.aggregate(
                F.zip_with(
                    "v",
                    F.array(*[F.lit(float(x)) for x in planes[p]]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))

    sig = v.withColumn(
        "band",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "", F.lit(f"{b}:"),
                        *[_bit(b * band_bits + r) for r in range(band_bits)],
                    )
                    for b in range(n_bands)
                ]
            )
        ),
    )
    # band join + distinct carry ONLY ids (a pair matching several bands
    # must not shuffle its vectors once per band); vectors rejoin after
    a = sig.select(F.col(id_col).alias("id_1"), "band")
    b = sig.select(F.col(id_col).alias("id_2"), "band")
    cand_ids = (
        a.join(b, on="band")
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )
    cand = (
        cand_ids
        .join(v.select(F.col(id_col).alias("id_1"), F.col("v").alias("v1")), on="id_1")
        .join(v.select(F.col(id_col).alias("id_2"), F.col("v").alias("v2")), on="id_2")
    )

    dot = F.aggregate(F.zip_with("v1", "v2", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    n1 = F.sqrt(F.aggregate(F.transform("v1", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    n2 = F.sqrt(F.aggregate(F.transform("v2", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return (
        cand.withColumn("cosine", dot / (n1 * n2))
        .filter(F.col("cosine") >= threshold)
        .select("id_1", "id_2", "cosine")
    )
