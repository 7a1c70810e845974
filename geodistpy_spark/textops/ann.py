"""Approximate-nearest-neighbor search over embedding columns.

One plan per operator:

- :func:`cosine_topk` — the exact top-k: one Arrow-batched
  ``mapInPandas`` matmul pass that keeps each batch's per-query top-k,
  then one ranking window.
- :func:`ivf_topk` — IVF: vectors are assigned to their nearest of K
  centroids (:func:`train_centroids`, or a pre-trained index), each
  query scores only the vectors of its ``n_probe`` nearest cells with
  exact cosine. Recall < 1 by design.
- :func:`pq_topk` (+ :func:`train_pq` / :func:`pq_encode`) — product
  quantization: vectors compressed to ``m`` one-byte codes (64 floats
  -> 8 bytes), scored in the compressed domain through asymmetric-
  distance lookup tables (ADC), then the per-query shortlist is
  re-ranked with exact cosine.
- :func:`ivfpq_topk` — IVF x PQ: the same ADC scorer, restricted to the
  rows of each query's probed cells.

Both trainers are deterministic Lloyd iterations on a driver-side
sample, the ``sample_size`` smallest ids (no RNG in the data path).
Every scorer and trainer skips null and wrong-length vectors: they
have no defined cosine, and one of them must not fail a whole batch.
The numpy scorers collect the queries on the driver (the
broadcast-small side by contract). Every top-k output is (query_id,
vec_id, cosine, rank), rank 1..k, ties broken by candidate id
ascending.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0),
                              lambda acc, x: acc + x))


def _cos(a, b):
    # null when either side is null or the lengths differ (zip_with pads
    # the shorter array with nulls); norms clamp at 1e-12 like _unit, so
    # an all-zero vector scores 0 instead of dividing by zero
    return _dot(a, b) / (F.greatest(_norm(a), F.lit(1e-12))
                         * F.greatest(_norm(b), F.lit(1e-12)))


def _unit(X):
    import numpy as np

    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                          X.dtype.type(1e-12))


def _stack_valid(vecs, dim=None):
    """(X, keep): the non-null rows of length ``dim`` (default: the
    first non-empty row's length) stacked into a 2-D array, and the
    selector of those rows in ``vecs``; X is None when no row is
    valid."""
    import numpy as np

    try:
        X = np.stack(vecs)  # every row valid: one C-level stack
        if X.ndim == 2 and X.shape[1] and X.shape[1] == (dim or X.shape[1]):
            return X, slice(None)
    except ValueError:
        pass
    if dim is None:
        dim = next((len(v) for v in vecs if v is not None and len(v)), 0)
    keep = np.array([v is not None and len(v) == dim > 0 for v in vecs], bool)
    return (np.stack(vecs[keep]) if keep.any() else None), keep


def _train_sample(emb: DataFrame, sample_size: int, id_col: str,
                  vec_col: str, who: str):
    """The unit-normalized valid vectors among the ``sample_size``
    smallest non-null ids."""
    pdf = (emb.filter(F.col(vec_col).isNotNull())
           .orderBy(F.col(id_col).asc()).limit(sample_size)
           .select(F.col(vec_col).cast("array<double>").alias("v"))
           .toPandas())
    X, _ = _stack_valid(pdf["v"].values)
    if X is None:
        raise ValueError(f"{who}: no non-null, non-empty vectors to "
                         "train on (empty corpus?)")
    return _unit(X)


def _queries(queries: DataFrame, q_id: str, q_vec: str) -> DataFrame:
    """(q_id, qv) of every query with a non-empty vector: a null or
    empty query vector has no cosine, so it gets no rows."""
    return queries.filter(F.size(q_vec) > 0).select(
        F.col(q_id), F.col(q_vec).cast("array<double>").alias("qv"))


def _collect_queries(q: DataFrame, q_id: str):
    """(query ids, unit-normalized query matrix), or None when there are
    no queries."""
    import numpy as np

    rows = q.collect()
    if not rows:
        return None
    Q = np.stack([np.asarray(r["qv"], float) for r in rows])
    return [r[q_id] for r in rows], _unit(Q)


def _scored_schema(emb, queries, id_col, q_id, score):
    return T.StructType([
        T.StructField(q_id, queries.schema[q_id].dataType),
        T.StructField(id_col, emb.schema[id_col].dataType),
        T.StructField(score, T.DoubleType()),
    ])


def _empty_result(emb, queries, id_col, q_id) -> DataFrame:
    schema = _scored_schema(emb, queries, id_col, q_id, "cosine")
    return emb.sparkSession.createDataFrame(
        [], schema.add("rank", T.IntegerType()))


def _top(df: DataFrame, score: str, n: int, part: str, tie: str,
         rank: str = "__rn") -> DataFrame:
    """The ``n`` rows of highest ``score`` per ``part``, lower ``tie``
    first on equal scores, numbered 1..n in ``rank``."""
    w = Window.partitionBy(part).orderBy(F.col(score).desc(),
                                         F.col(tie).asc())
    return df.withColumn(rank, F.row_number().over(w)) \
        .filter(F.col(rank) <= n)


def _ranked(scored: DataFrame, k: int, q_id: str, id_col: str) -> DataFrame:
    return _top(scored, "cosine", k, q_id, id_col, "rank") \
        .select(q_id, id_col, "cosine", "rank")


def cosine_topk(emb: DataFrame, queries: DataFrame, k: int,
                id_col: str = "vec_id", vec_col: str = "embedding",
                q_id: str = "query_id", q_vec: str = "q_vec") -> DataFrame:
    """Exact cosine top-k: for every query vector, the k most-similar
    candidate vectors. Scoring is ONE Arrow-batched ``mapInPandas``
    pass — a numpy matmul (batch x dim) @ (dim x n_queries) — that
    reduces each batch to its per-query top-k BEFORE any exchange, so
    the final ranking window sees only n_batches x n_queries x k rows.
    Exact: every global top-k row is top-k within its batch.

    Float32 sources take a filter-refine fast path: the vectors cross
    the Arrow boundary at their native width and the selection matmul
    runs in float32, keeping every candidate within ``1e-4`` of the
    batch's k-th best f32 score — ~25x the worst-case f32 dot+normalize
    error at dim<=4096 (n*u with u=2^-24), so the true f64 top-k
    provably survives. Survivors (~k per query) are then re-scored in
    float64 from the raw values — float32 widens to float64 exactly, so
    the result is bit-identical to the all-f64 path.
    """
    import numpy as np

    collected = _collect_queries(_queries(queries, q_id, q_vec), q_id)
    if collected is None:
        return _empty_result(emb, queries, id_col, q_id)
    qids, Qn = collected
    dim = Qn.shape[1]
    Qn32 = Qn.astype(np.float32)
    # selection margins cover the worst-case |select_score - true| so
    # the true top-k survives; the f32 one is ~25x the (2*dim+2)*u error
    # of unit vectors at dim 64. Final values always come from the same
    # f64 rescore, whichever dtype did the selection.
    F32_MARGIN = np.float32(1e-4)
    F64_MARGIN = 1e-9

    def _score(pdfs):
        import pandas as pd

        for pdf in pdfs:
            X, ok = _stack_valid(pdf["__v"].values, dim)
            if X is None:
                continue
            ids = pdf[id_col].values[ok]
            f32 = X.dtype == np.float32
            S = _unit(X) @ (Qn32 if f32 else Qn).T  # (B, nq)
            margin = F32_MARGIN if f32 else F64_MARGIN
            frames = []
            for qi, qid in enumerate(qids):
                s = S[:, qi]
                if len(s) > k:
                    kth = np.partition(s, len(s) - k)[len(s) - k]
                    cand = np.flatnonzero(s >= kth - margin)
                else:
                    cand = np.arange(len(s))
                s64 = _unit(X[cand].astype(np.float64)) @ Qn[qi]
                order = np.lexsort((ids[cand], -s64))[:k]
                frames.append(pd.DataFrame(
                    {id_col: ids[cand][order], q_id: qid,
                     "cosine": s64[order]}))
            yield pd.concat(frames, ignore_index=True)

    vec_type = emb.schema[vec_col].dataType.simpleString()
    src = emb.select(
        F.col(id_col),
        (F.col(vec_col) if vec_type in ("array<float>", "array<double>")
         else F.col(vec_col).cast("array<double>")).alias("__v"))
    partial = src.mapInPandas(
        _score, _scored_schema(emb, queries, id_col, q_id, "cosine"))
    return _ranked(partial, k, q_id, id_col)


def train_centroids(emb: DataFrame, n_cells: int, n_iters: int = 5,
                    sample_size: int = 4096, id_col: str = "vec_id",
                    vec_col: str = "embedding"):
    """Deterministic spherical k-means (Lloyd iterations) on the
    driver-side sample of the ``sample_size`` smallest ids; init = the
    first ``n_cells`` sample vectors. Returns a list of unit-normalized
    centroid vectors. At scale the sample collect is a partition-pruned
    scan of a few thousand rows, next to the assignment pass, which
    stays fully distributed.
    """
    import numpy as np

    X = _train_sample(emb, sample_size, id_col, vec_col, "train_centroids")
    C = X[:n_cells].copy()
    for _ in range(n_iters):
        assign = (X @ C.T).argmax(axis=1)
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                m = members.sum(axis=0)
                C[c] = m / max(np.linalg.norm(m), 1e-12)
    return [[float(x) for x in row] for row in C]


def _ivf_index(emb: DataFrame, n_cells: int, id_col: str, vec_col: str,
               centroids) -> tuple[DataFrame, DataFrame]:
    """(centroids (cell, cv), assigned (id, v, cell)): every valid vector
    assigned to its most similar centroid, ties to the lower cell.
    ``centroids`` is a pre-trained index — a (cell, cv) DataFrame or a
    list of vectors; absent, :func:`train_centroids` trains one."""
    if centroids is None:
        centroids = train_centroids(emb, n_cells, id_col=id_col,
                                    vec_col=vec_col,
                                    sample_size=max(4096, 4 * n_cells))
    if isinstance(centroids, DataFrame):
        cents = centroids.select(F.col("cell").cast("long"),
                                 F.col("cv").cast("array<double>"))
    else:
        cents = emb.sparkSession.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(centroids)],
            "cell long, cv array<double>")
    scored = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).crossJoin(F.broadcast(cents)).withColumn("sim", _cos("v", "cv")) \
        .filter(F.col("sim").isNotNull())
    return cents, _top(scored, "sim", 1, id_col, "cell") \
        .select(id_col, "v", "cell")


def _probe(q: DataFrame, cents: DataFrame, n_probe: int,
           q_id: str) -> DataFrame:
    """(q_id, qv, cell): each query's ``n_probe`` most similar cells,
    ties to the lower cell."""
    qc = q.crossJoin(F.broadcast(cents)).withColumn("csim", _cos("qv", "cv"))
    return _top(qc, "csim", n_probe, q_id, "cell").select(q_id, "qv", "cell")


def ivf_topk(emb: DataFrame, queries: DataFrame, k: int,
             n_cells: int = 16,
             n_probe: int = 4, id_col: str = "vec_id", vec_col: str = "embedding",
             q_id: str = "query_id", q_vec: str = "q_vec",
             centroids=None) -> DataFrame:
    """IVF-bucketed approximate top-k: probe only the ``n_probe`` cells
    whose centroids are most similar to the query; exact cosine within
    probed cells. Candidate work drops ~n_cells/n_probe-fold vs brute
    force. ``centroids`` loads a pre-trained index (a (cell, cv)
    DataFrame or a list of vectors) and skips training.
    """
    cents, assigned = _ivf_index(emb, n_cells, id_col, vec_col, centroids)
    cand = _probe(_queries(queries, q_id, q_vec), cents, n_probe, q_id) \
        .join(assigned, on="cell")
    return _ranked(cand.withColumn("cosine", _cos("v", "qv")), k, q_id,
                   id_col)


def train_pq(emb: DataFrame, m: int = 8, bits: int = 8,
             sample_size: int = 4096, id_col: str = "vec_id",
             vec_col: str = "embedding", n_iters: int = 8):
    """Deterministic product-quantization codebooks: the (unit-normalized)
    vector space is split into ``m`` contiguous subspaces and each gets
    its own ``2**bits``-entry k-means codebook, trained Lloyd-style on
    the same smallest-ids sample as :func:`train_centroids`. Returns
    ndarray (m, 2**bits, d/m). Dimension d must be divisible by m.
    """
    import numpy as np

    X = _train_sample(emb, sample_size, id_col, vec_col, "train_pq")
    n, d = X.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    ksub = 1 << bits
    books = np.zeros((m, ksub, dsub))
    for j in range(m):
        S = X[:, j * dsub:(j + 1) * dsub]
        C = books[j]
        C[:] = S[:ksub] if n >= ksub else np.resize(S, (ksub, dsub))
        for _ in range(n_iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
    return books


def pq_encode(emb: DataFrame, codebooks, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, codes array<smallint>) — every valid vector unit-normalized
    and quantized to its nearest codeword per subspace (mapInPandas,
    fully distributed; the codebooks ride the task closure, m * 2^bits
    * d/m floats). The codes relation is the PERSISTABLE compressed
    index: m bytes of payload per vector instead of 4-8 bytes per
    dimension.
    """
    import numpy as np

    books = np.asarray(codebooks)
    m, ksub, dsub = books.shape
    schema = T.StructType([
        T.StructField(id_col, emb.schema[id_col].dataType),
        T.StructField("codes", T.ArrayType(T.ShortType())),
    ])

    def _enc(pdfs):
        import pandas as pd

        for pdf in pdfs:
            X, ok = _stack_valid(pdf["__v"].values, m * dsub)
            if X is None:
                continue
            X = _unit(X)
            codes = np.empty((len(X), m), dtype=np.int16)
            for j in range(m):
                S = X[:, j * dsub:(j + 1) * dsub]
                d2 = ((S[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col].values[ok],
                                "codes": list(codes)})

    src = emb.select(F.col(id_col),
                     F.col(vec_col).cast("array<double>").alias("__v"))
    return src.mapInPandas(_enc, schema)


def codebooks_from_df(df) -> "object":
    """(j, c, cv) rows -> ndarray (m, 2**bits, dsub). Loads a committed
    codebook fixture (e.g. fixtures/ann/codebooks.parquet) back into
    the shape train_pq produces."""
    import numpy as np

    rows = df.select("j", "c", "cv").collect()
    if not rows:
        raise ValueError("codebooks_from_df: empty codebook DataFrame")
    m = 1 + max(r["j"] for r in rows)
    ksub = 1 + max(r["c"] for r in rows)
    # a sparse (j, c) grid would silently zero-fill missing entries and
    # corrupt every distance computed against the codebook — fail loud
    if len(rows) != m * ksub:
        raise ValueError(
            f"codebooks_from_df: expected dense {m}x{ksub}={m * ksub} "
            f"(j, c) entries, got {len(rows)} rows")
    if len({(r["j"], r["c"]) for r in rows}) != len(rows):
        raise ValueError("codebooks_from_df: duplicate (j, c) entries")
    dsub = len(rows[0]["cv"])
    books = np.zeros((m, ksub, dsub))
    for r in rows:
        books[r["j"], r["c"]] = np.asarray(r["cv"], dtype=float)
    return books


def _pq_index(emb, m, bits, codebooks, codes, id_col, vec_col):
    import numpy as np

    books = (np.asarray(codebooks) if codebooks is not None
             else train_pq(emb, m, bits, id_col=id_col, vec_col=vec_col))
    if codes is None:
        codes = pq_encode(emb, books, id_col, vec_col)
    return books, codes


def _adc_topk(emb: DataFrame, queries: DataFrame, k: int, shortlist: int,
              books, codes: DataFrame, id_col: str, vec_col: str,
              q_id: str, q_vec: str, probes: DataFrame | None = None):
    """The ADC scorer: per-query LUT[j, c] = <q_subvector_j, codeword_jc>,
    each code row scored by a gather-and-sum over its m codes (no float
    vector touched), the ``shortlist`` best per query re-ranked with
    exact cosine. With ``probes`` (q_id, cell), a query scores only the
    rows of ``codes`` whose ``cell`` it probes."""
    import numpy as np

    q = _queries(queries, q_id, q_vec)
    collected = _collect_queries(q, q_id)
    if collected is None:
        return _empty_result(emb, queries, id_col, q_id)
    qids, Qn = collected
    mm, ksub, dsub = books.shape
    lut = np.einsum("qjd,jcd->qjc", Qn.reshape(len(Qn), mm, dsub), books)
    probed = None
    if probes is not None:
        cells: dict = {}
        for r in probes.collect():  # n_queries x n_probe ints
            cells.setdefault(r[q_id], []).append(r["cell"])
        probed = [np.asarray(cells.get(qid, ()), np.int64) for qid in qids]

    def _score(pdfs):
        import pandas as pd

        rows = np.arange(mm)[None, :]
        for pdf in pdfs:
            C, ok = _stack_valid(pdf["codes"].values, mm)
            if C is None:
                continue
            C = C.astype(np.int64)  # (B, m)
            ids = pdf[id_col].values[ok]
            cells = None if probed is None else pdf["cell"].values[ok]
            frames = []
            for qi, qid in enumerate(qids):
                sel = slice(None)
                if probed is not None:
                    sel = np.isin(cells, probed[qi])
                    if not sel.any():
                        continue
                frames.append(pd.DataFrame(
                    {id_col: ids[sel], q_id: qid,
                     "adc": lut[qi][rows, C[sel]].sum(axis=1)}))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    scored = codes.mapInPandas(
        _score, _scored_schema(emb, queries, id_col, q_id, "adc"))
    short = _top(scored, "adc", shortlist, q_id, id_col)
    v = emb.select(F.col(id_col),
                   F.col(vec_col).cast("array<double>").alias("v"))
    cand = short.select(q_id, id_col).join(v, on=id_col) \
        .join(F.broadcast(q), on=q_id)
    return _ranked(cand.withColumn("cosine", _cos("v", "qv")), k, q_id,
                   id_col)


def pq_topk(emb: DataFrame, queries: DataFrame, k: int,
            m: int = 8, bits: int = 8, shortlist: int = 64,
            id_col: str = "vec_id", vec_col: str = "embedding",
            q_id: str = "query_id", q_vec: str = "q_vec",
            codebooks=None, codes: DataFrame | None = None) -> DataFrame:
    """Product-quantized approximate top-k: score every vector in the
    COMPRESSED domain (per-query lookup table of subspace partial dot
    products, gathered per code), keep a per-query ``shortlist``, then
    re-rank the shortlist with exact cosine against the original
    vectors. Approximate by design — gate with a recall test, not
    equality.

    ``codebooks`` (ndarray (m, 2**bits, dsub), the output of
    :func:`train_pq` / :func:`codebooks_from_df`) and ``codes`` (the
    output of :func:`pq_encode`) make the compressed index persistable:
    train/encode once, reuse across calls — absent, both are built here.
    """
    books, codes = _pq_index(emb, m, bits, codebooks, codes, id_col, vec_col)
    return _adc_topk(emb, queries, k, shortlist, books, codes, id_col,
                     vec_col, q_id, q_vec)


def ivfpq_topk(emb: DataFrame, queries: DataFrame, k: int,
               n_cells: int = 16, n_probe: int = 4,
               m: int = 8, bits: int = 8, shortlist: int = 64,
               id_col: str = "vec_id", vec_col: str = "embedding",
               q_id: str = "query_id", q_vec: str = "q_vec",
               centroids=None, codebooks=None,
               codes: DataFrame | None = None) -> DataFrame:
    """IVF x PQ — the production ANN composition: IVF prunes WHICH
    vectors each query scores (top-``n_probe`` cells only), PQ
    compresses WHAT that scan reads (m one-byte codes per vector), and
    the ADC shortlist re-ranks with exact cosine. Per-query cost is
    sublinear in both candidate count and bytes per candidate.

    Approximate by design — recall-gated, not equality-gated.
    ``centroids`` / ``codebooks`` / ``codes`` accept a pre-trained
    persistable index (see :func:`ivf_topk` / :func:`pq_topk`).
    """
    cents, assigned = _ivf_index(emb, n_cells, id_col, vec_col, centroids)
    books, codes = _pq_index(emb, m, bits, codebooks, codes, id_col, vec_col)
    probes = _probe(_queries(queries, q_id, q_vec), cents, n_probe, q_id)
    return _adc_topk(emb, queries, k, shortlist, books,
                     codes.join(assigned.select(id_col, "cell"), on=id_col),
                     id_col, vec_col, q_id, q_vec, probes)
