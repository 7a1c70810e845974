"""Training-data op tests: planted duplicates, numpy ANN oracle, stubs."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geodistpy_spark.textops import (
    cosine_topk,
    dedup_exact,
    doc_fingerprint,
    exact_duplicates,
    ivf_topk,
    language_id,
    lsh_candidate_pairs,
    near_duplicates_minhash,
    quality_score,
    simhash,
    simhash_near_pairs,
    token_count,
)


_BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
_NEAR = "the quick brown fox jumps over the lazy dog near the river bank tonight"
_FAR = "completely different content about spark distributed query engines"
PLANTED = {
    1: _BASE, 2: _BASE,                # exact dups
    3: _NEAR,                          # near-dup of 1/2
    4: _FAR, 5: _FAR + " extra",
    6: "unrelated tiny text",
}


@pytest.fixture(scope="module")
def planted(spark):
    """Docs with planted exact + near duplicates."""
    return spark.createDataFrame(list(PLANTED.items()),
                                 "doc_id long, text string")


def exact_jaccard(a: str, b: str, k: int = 3):
    """(n_inter, n_1, n_2, jaccard) of the word k-gram shingle SETS of
    two texts, tokenized like ``tokenize`` (lowercase, split on single
    spaces, empty tokens dropped) — the independent reference for the
    Spark verify."""
    def sh(t):
        w = [x for x in t.lower().split(" ") if x]
        return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}
    s1, s2 = sh(a), sh(b)
    n = len(s1 & s2)
    return n, len(s1), len(s2), n / (len(s1) + len(s2) - n)


class TestDedup:
    def test_exact_duplicates_found(self, planted):
        groups = exact_duplicates(planted).toPandas()
        assert len(groups) == 1
        assert groups.iloc[0].n_dups == 2
        assert groups.iloc[0].keep_id == 1

    def test_dedup_exact_keeps_smallest_id(self, planted):
        kept = dedup_exact(planted).toPandas()
        assert len(kept) == 5
        assert 1 in set(kept.doc_id) and 2 not in set(kept.doc_id)

    def test_minhash_finds_planted_near_dup(self, planted):
        nd = near_duplicates_minhash(planted, threshold=0.5).toPandas()
        pairs = set(zip(nd.id_1, nd.id_2))
        assert (1, 2) in pairs       # exact dup -> jaccard 1.0
        assert (1, 3) in pairs or (2, 3) in pairs  # near-dup shares most shingles
        jacc12 = nd[(nd.id_1 == 1) & (nd.id_2 == 2)].jaccard.iloc[0]
        assert jacc12 == 1.0

    def test_hashed_shingle_path_matches_string_path(self, planted):
        # the xxhash64 mode replaces shingle strings with codegen'd
        # longs, the md5 mode keeps the strings. The CANDIDATE sets may
        # differ between modes (different signature values -> different band
        # draws), but for every pair BOTH modes emit, the exact-verify
        # counts and jaccard must be identical (the long mapping is
        # injective absent a 64-bit collision), and the sure-thing
        # planted dup (jaccard 1.0 -> every band matches in any mode)
        # must appear in both
        cols = ["id_1", "id_2", "n_inter", "n_1", "n_2", "jaccard"]
        hashed = near_duplicates_minhash(
            planted, threshold=0.1).toPandas()[cols].set_index(
            ["id_1", "id_2"]).sort_index()
        strings = near_duplicates_minhash(
            planted, threshold=0.1, hash_fn="md5").toPandas()[
            cols].set_index(["id_1", "id_2"]).sort_index()
        assert (1, 2) in hashed.index and (1, 2) in strings.index
        common = hashed.index.intersection(strings.index)
        assert len(common) > 0
        assert hashed.loc[common].equals(strings.loc[common])

    def test_jaccard_matches_exact_set_jaccard(self, spark):
        # the flag verify against exact Python set Jaccard on explicit
        # pairs, including a ZERO-overlap pair (n_inter=0: no shingle
        # has both flags) and a pair touching a doc too short to
        # shingle (dropped: it has no presence rows on that side)
        from geodistpy_spark.textops.dedup import ngram_jaccard

        texts = {1: "alpha beta gamma delta epsilon",
                 2: "alpha beta gamma delta zeta",
                 3: "completely different words entirely here",
                 4: "too short"}
        docs = spark.createDataFrame(list(texts.items()),
                                     "doc_id long, text string")
        pairs = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 4)], "id_1 long, id_2 long")
        got = {(r.id_1, r.id_2): (r.n_inter, r.n_1, r.n_2, r.jaccard)
               for r in ngram_jaccard(docs, pairs).collect()}
        assert got == {(a, b): exact_jaccard(texts[a], texts[b])
                       for a, b in [(1, 2), (1, 3)]}
        assert got[(1, 3)][0] == 0

    @pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
    def test_near_dup_pairs_match_exact_set_jaccard(self, planted, hash_fn):
        # every reported pair carries the exact set Jaccard of its two
        # texts, whichever shingle relation fed the verify, and the
        # caches out-param receives the one cached relation (the
        # candidate pairs — nothing corpus-sized)
        caches = []
        rows = near_duplicates_minhash(
            planted, threshold=0.1, hash_fn=hash_fn, caches=caches).collect()
        got = {(r.id_1, r.id_2): (r.n_inter, r.n_1, r.n_2, r.jaccard)
               for r in rows}
        assert (1, 2) in got and len(got) == len(rows)
        assert got == {(a, b): exact_jaccard(PLANTED[a], PLANTED[b])
                       for a, b in got}
        assert len(caches) == 1
        caches[0].unpersist()

    def test_lsh_no_false_pairs_for_disjoint(self, planted):
        pairs = lsh_candidate_pairs(planted).toPandas()
        got = set(zip(pairs.id_1, pairs.id_2))
        assert (1, 6) not in got and (2, 6) not in got

    def test_lsh_hot_band_cap(self, spark):
        # 30 identical docs share every band (bucket of 30); cap 10 drops
        # the hot buckets so the quadratic blowup never materializes, while
        # a small distinct near-dup cluster survives
        same = "boilerplate header text repeated across the whole corpus segment"
        uniq = "one specific document about spark geodesics and cell covers"
        rows = [(i, same) for i in range(30)] + [(100, uniq), (101, uniq + " extra")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        capped = lsh_candidate_pairs(df, max_band_size=10).toPandas()
        got = set(zip(capped.id_1, capped.id_2))
        assert (100, 101) in got
        assert not any(a < 30 and b < 30 for a, b in got)  # hot bucket dropped
        full = lsh_candidate_pairs(df).toPandas()
        assert len(full) == 30 * 29 // 2 + 1  # uncapped default unchanged

    def test_near_dup_groups_transitive_chain(self, spark):
        # a -> b -> c chain where the LSH (deterministic for fixed
        # strings: md5 minhash) emits edges a-b and b-c but NOT a-c —
        # verified offline; components must close transitively, and the
        # singleton labels itself
        a = " ".join(f"w{i}" for i in range(1, 19))
        b = a.replace("w2 ", "xx ")          # jacc(a,b)=0.778, banded pair
        c = b.replace("w11 ", "yy ")         # jacc(b,c)=0.684, banded pair
        df = spark.createDataFrame(
            [(10, a), (20, b), (30, c), (40, "totally different words entirely here")],
            "doc_id long, text string")
        from geodistpy_spark.textops import dedup_near, near_dup_groups

        # pinned to the md5 mode the offline edge-set was verified for:
        # which band a given pair lands in depends on the signature hash,
        # so the emitted-edge set (a-b, b-c, not a-c) is only stable per
        # mode — transitive closure is the property under test
        g = near_dup_groups(df, threshold=0.5, hash_fn="md5").toPandas(
            ).set_index("doc_id").group_id
        assert g[10] == g[20] == g[30] == 10
        assert g[40] == 40
        kept = dedup_near(df, threshold=0.5, hash_fn="md5").toPandas()
        assert sorted(kept.doc_id) == [10, 40]

    def test_short_docs_dont_crash_the_pipelines(self, spark):
        # Spark's sequence(1, 0) is DESCENDING [1, 0]: unguarded shingle
        # transforms crashed slice(start=0) on sub-k-word docs (latent —
        # the driver corpus has no short docs)
        from geodistpy_spark.textops import shingles as mk_shingles

        df = spark.createDataFrame(
            [(1, "a b"), (2, "a"), (3, ""), (4, "one two three four")],
            "doc_id long, text string")
        sh = mk_shingles(df).toPandas()
        assert set(sh.doc_id) == {4}           # only the >=3-word doc
        nd = near_duplicates_minhash(df, threshold=0.1).toPandas()
        assert len(nd) == 0                    # and the full pipeline survives

    def test_empty_inputs_dont_crash(self, spark):
        # empty-corpus robustness across the dedup surface
        from geodistpy_spark.textops import embedding_near_pairs

        empty_docs = spark.createDataFrame([], "doc_id long, text string")
        empty_emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
        assert near_duplicates_minhash(empty_docs).count() == 0
        assert simhash_near_pairs(empty_docs).count() == 0
        assert dedup_exact(empty_docs).count() == 0
        assert embedding_near_pairs(empty_emb).count() == 0

    def test_connected_components_over_embedding_pairs(self, spark):
        # the generalized components API clusters embedding near-dups too
        rng = np.random.default_rng(11)
        v1 = rng.normal(0, 1, 8)
        rows = [(0, v1.tolist()),
                (1, (v1 + rng.normal(0, 0.01, 8)).tolist()),
                (2, (v1 + rng.normal(0, 0.01, 8)).tolist()),
                (3, rng.normal(0, 1, 8).tolist())]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        from geodistpy_spark.textops import connected_components, embedding_near_pairs

        pairs = embedding_near_pairs(emb, threshold=0.95)
        comp = connected_components(emb, pairs, id_col="vec_id") \
            .toPandas().set_index("vec_id").group_id
        assert comp[0] == comp[1] == comp[2] == 0
        assert comp[3] == 3

    def test_connected_components_cache_hygiene(self, spark, tmp_path):
        # with a checkpoint dir set, repeated dedup_near/components calls
        # must not leak persisted RDDs (every round and the result are
        # reliable checkpoints)
        from geodistpy_spark.textops import connected_components

        jsc = spark.sparkContext._jsc.sc()
        prev_dir = spark.sparkContext.getCheckpointDir()
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ck"))
        try:
            before = jsc.getPersistentRDDs().size()
            nodes = spark.createDataFrame(
                [(i,) for i in range(38)], "doc_id long")
            pairs = spark.createDataFrame(
                [(i, i + 1) for i in range(0, 38, 2)], "id_1 long, id_2 long")
            for _ in range(2):
                out = connected_components(nodes, pairs).toPandas()
                assert len(out) == 38
                assert (out.group_id == out.doc_id - out.doc_id % 2).all()
            after = jsc.getPersistentRDDs().size()
            assert after <= before, (before, after)
        finally:
            if prev_dir:
                spark.sparkContext.setCheckpointDir(prev_dir)
            else:
                getattr(jsc, "checkpointDir_$eq")(
                    spark._jvm.scala.Option.apply(None))

    def test_simhash_identical_for_exact_dups(self, planted):
        sh = simhash(planted).toPandas().set_index("doc_id").simhash
        assert sh[1] == sh[2]
        near = simhash_near_pairs(planted, max_hamming=3).toPandas()
        assert (1, 2) in set(zip(near.id_1, near.id_2))
        assert (near.hamming >= 0).all()

    def test_simhash_pigeonhole_banding_exact_recall(self, spark):
        # brute-force ground truth over 80 short docs: the pigeonhole
        # banding (max_hamming+1 segments) must find EVERY pair within
        # the distance — the round-1 two-half banding missed pairs whose
        # differing bits straddled both halves
        import itertools
        words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
                 "eta", "theta", "iota", "kappa"]
        rows = [(i, " ".join(words[j] for j in
                             [(i + s) % 10 for s in (0, 1, 2, 3, 4)]) +
                 f" tail{i % 7}") for i in range(80)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        for max_h in (2, 3):
            got = simhash_near_pairs(df, max_hamming=max_h).toPandas()
            got_pairs = set(zip(got.id_1, got.id_2))
            sh = simhash(df).toPandas().set_index("doc_id").simhash
            exp = {
                (a, b)
                for a, b in itertools.combinations(sorted(sh.index), 2)
                if bin(int(sh[a]) ^ int(sh[b])).count("1") <= max_h
            }
            assert got_pairs == exp, (max_h, exp - got_pairs, got_pairs - exp)

    def test_embedding_near_pairs_banded_recall(self, spark):
        # planted near-dups: base vectors + tiny perturbations (cos>0.95);
        # banded LSH must recover >= 95% of the brute-force pairs
        rng = np.random.default_rng(7)
        base = rng.normal(0, 1, (40, 16))
        rows = []
        vid = 0
        for i in range(40):
            rows.append((vid, base[i].tolist())); vid += 1
            if i % 2 == 0:  # plant a near-dup
                pert = base[i] + rng.normal(0, 0.02, 16)
                rows.append((vid, pert.tolist())); vid += 1
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        from geodistpy_spark.textops import embedding_near_pairs

        got = embedding_near_pairs(emb, threshold=0.95).toPandas()
        got_pairs = set(zip(got.id_1, got.id_2))
        V = np.array([r[1] for r in rows])
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        cos = Vn @ Vn.T
        exp = {(a, b) for a in range(len(rows)) for b in range(a + 1, len(rows))
               if cos[a, b] >= 0.95}
        assert len(exp) >= 15          # the plant worked
        recall = len(got_pairs & exp) / len(exp)
        assert recall >= 0.95, (recall, exp - got_pairs)
        assert got_pairs <= exp        # refine step guarantees precision 1.0

    def test_embedding_near_pairs_target_recall(self, spark):
        # target_recall derives n_bands from the threshold's per-plane
        # collision probability; achieved recall must meet the target at
        # two different thresholds (and more bands than the 4x4 default
        # must be used for the harder, lower threshold)
        import math

        rng = np.random.default_rng(9)
        base = rng.normal(0, 1, (40, 16))
        rows = []
        vid = 0
        for i in range(40):
            rows.append((vid, base[i].tolist())); vid += 1
            noise = 0.02 if i % 2 == 0 else 0.25  # near + medium planted pairs
            pert = base[i] + rng.normal(0, noise, 16)
            rows.append((vid, pert.tolist())); vid += 1
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        V = np.array([r[1] for r in rows])
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        cos = Vn @ Vn.T
        from geodistpy_spark.textops import embedding_near_pairs

        for thr in (0.95, 0.8):
            got = embedding_near_pairs(emb, threshold=thr,
                                       target_recall=0.98).toPandas()
            got_pairs = set(zip(got.id_1, got.id_2))
            exp = {(a, b) for a in range(len(rows)) for b in range(a + 1, len(rows))
                   if cos[a, b] >= thr}
            assert len(exp) >= 20
            recall = len(got_pairs & exp) / len(exp)
            assert recall >= 0.98, (thr, recall)
            assert got_pairs <= exp
        # the derived band count grows as the threshold drops
        p95 = 1 - math.acos(0.95) / math.pi
        p80 = 1 - math.acos(0.8) / math.pi
        b95 = math.ceil(math.log(0.02) / math.log(1 - p95 ** 4))
        b80 = math.ceil(math.log(0.02) / math.log(1 - p80 ** 4))
        assert b80 > b95 >= 4


class TestAnn:
    def test_cosine_topk_matches_numpy(self, spark, fixture_paths):
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        pdf = emb.toPandas()
        V = np.stack(pdf.embedding.values).astype(np.float64)
        ids = pdf.vec_id.values
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        got = cosine_topk(emb, q, 5).toPandas()
        norms = np.linalg.norm(V, axis=1)
        for qi in range(3):
            qv = V[ids == qi][0]
            cos = V @ qv / (norms * np.linalg.norm(qv))
            order = np.lexsort((ids, -np.round(cos, 12)))[:5]
            exp_ids = list(ids[order])
            got_ids = list(got[got.query_id == qi].sort_values("rank").vec_id)
            assert got_ids == exp_ids, (qi, got_ids, exp_ids)

    def test_ivf_recall_vs_brute(self, spark):
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        exact = cosine_topk(emb, q, 5).toPandas()
        approx = ivf_topk(emb, q, 5, n_cells=8, n_probe=4).toPandas()
        # rank-1 self-hit must always be found; overall recall reasonable
        for qi in range(10):
            a = set(approx[approx.query_id == qi].vec_id)
            e = set(exact[exact.query_id == qi].vec_id)
            assert qi in a
        recall = len(set(map(tuple, approx[["query_id", "vec_id"]].values))
                     & set(map(tuple, exact[["query_id", "vec_id"]].values))) / len(exact)
        assert recall >= 0.5

    def test_pq_roundtrip_and_recall(self, spark):
        from geodistpy_spark.textops import (
            cosine_topk, pq_encode, pq_topk, train_pq)

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        dim = len(emb.first()["embedding"])
        m = 8 if dim % 8 == 0 else 4
        # codes: one int16 per subspace, all within [0, 255]
        books = train_pq(emb, m=m)
        codes = pq_encode(emb, books).toPandas()
        assert codes.codes.map(len).eq(m).all()
        assert codes.codes.map(max).max() < 256
        assert codes.codes.map(min).min() >= 0
        n = emb.count()
        assert len(codes) == n and codes.vec_id.nunique() == n
        q = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        exact = cosine_topk(emb, q, 5).toPandas()
        # ADC + exact re-rank of the shortlist: high recall
        rr = pq_topk(emb, q, 5, m=m, shortlist=64).toPandas()
        hit = set(map(tuple, rr[["query_id", "vec_id"]].values))
        want = set(map(tuple, exact[["query_id", "vec_id"]].values))
        assert len(hit & want) / len(want) >= 0.8
        for qi in range(10):  # self-hit survives compression + re-rank
            assert qi in set(rr[rr.query_id == qi].vec_id)
        with pytest.raises(ValueError, match="divisible"):
            train_pq(emb, m=dim + 1)

    def test_f32_fast_path_exact_on_adversarial_near_ties(self, spark):
        # the float32 filter-refine path promises BIT-IDENTICAL output
        # to f64 scoring of the same stored values; stress it with 50
        # vectors whose true cosines to the query differ by only
        # 1e-9..1e-7 — far below the f32 selection precision, so every
        # near-tie must survive the margin filter and be ranked by the
        # f64 rescore
        import numpy as np

        from geodistpy_spark.textops.ann import cosine_topk

        rng = np.random.default_rng(7)
        d = 16
        base = rng.normal(size=d)
        base /= np.linalg.norm(base)
        rows = []
        for i in range(50):
            eps = 1e-9 * (i + 1)
            o = rng.normal(size=d)
            o -= (o @ base) * base
            o /= np.linalg.norm(o)
            v = base * np.cos(1e-3) + o * np.sin(1e-3) * (1 + eps)
            v /= np.linalg.norm(v)
            rows.append((i, [float(x) for x in v]))
        for i in range(50, 200):
            v = rng.normal(size=d)
            v /= np.linalg.norm(v)
            rows.append((i, [float(x) for x in v]))
        embf32 = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>").select(
            "vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
        q = spark.createDataFrame(
            [(0, [float(x) for x in base])],
            "query_id long, q_vec array<double>")
        got = [(r.vec_id, r.cosine)
               for r in cosine_topk(embf32, q, 20).orderBy("rank").collect()]
        stored = {r.vec_id: np.array(r.embedding, dtype=np.float64)
                  for r in embf32.collect()}
        qv = base.astype(np.float64)
        truth = sorted(
            ((float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv))), -i)
             for i, v in stored.items()), reverse=True)[:20]
        assert [g[0] for g in got] == [-mi for _, mi in truth]
        assert max(abs(g[1] - c) for g, (c, _) in zip(got, truth)) < 1e-15

    def test_train_init_filters_nulls_and_errors_on_empty(self, spark):
        # the INIT sample must mirror the assignment pass's null /
        # wrong-dim filtering (a null in the smallest-id window crashed
        # np.stack), and an empty corpus must raise a clear error
        import numpy as np

        from geodistpy_spark.textops.ann import train_centroids

        dirty = spark.createDataFrame(
            [(1, None), (2, [1.0, 0.0]), (3, [0.5]), (4, [0.0, 1.0])],
            "vec_id long, embedding array<double>")
        C = np.asarray(train_centroids(dirty, 2))
        assert C.shape == (2, 2) and np.isfinite(C).all()
        empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="no non-null"):
            train_centroids(empty, 2)

    def test_topk_empty_and_null_inputs(self, spark):
        # empty query set / empty corpus must not crash the Arrow-batched
        # scorers (np.stack on empties did); a null and a wrong-length
        # embedding row are skipped by every scorer, encoder and trainer
        # — the same output as without those rows, and never fatal
        from geodistpy_spark.textops import (
            codebooks_from_df, cosine_topk, ivf_topk, ivfpq_topk, pq_encode,
            pq_topk, train_pq)

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        q0 = q.filter(F.col("query_id") < 0)
        books = codebooks_from_df(
            spark.read.parquet("fixtures/ann/codebooks.parquet"))
        assert cosine_topk(emb, q0, 3).count() == 0
        assert cosine_topk(emb.filter(F.col("vec_id") < 0), q, 3).count() == 0
        assert pq_topk(emb, q0, 3, codebooks=books).count() == 0
        assert ivfpq_topk(emb, q0, 3, n_cells=4, codebooks=books).count() == 0

        # row 7 null, row 8 one element short; the queries are their
        # original vectors, so a row that is not skipped is a self-hit
        bad = {7, 8}
        dim = len(emb.first()["embedding"])
        dirty = emb.withColumn("embedding", F.when(
            F.col("vec_id") == 7, F.lit(None)).when(
            F.col("vec_id") == 8, F.slice("embedding", 1, dim - 1)).otherwise(
            F.col("embedding")))
        clean = emb.filter(~F.col("vec_id").isin(*bad))
        qb = emb.filter(F.col("vec_id").isin(*bad)).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))

        trained = train_pq(dirty, m=8)
        assert np.array_equal(trained, train_pq(clean, m=8))
        codes = pq_encode(dirty, books).toPandas()
        assert len(codes) == clean.count() and not bad & set(codes.vec_id)
        cases = {
            "cosine_topk": lambda e: cosine_topk(e, qb, 3),
            # every cell probed and k = the corpus size: a row that is
            # not skipped comes back with a null cosine
            "ivf_topk": lambda e: ivf_topk(e, qb, 500, n_cells=4),
            "pq_topk": lambda e: pq_topk(e, qb, 3),
            "ivfpq_topk": lambda e: ivfpq_topk(e, qb, 3, n_cells=4,
                                               codebooks=books),
        }
        for name, topk in cases.items():
            out = topk(dirty).toPandas()
            want = topk(clean).toPandas()
            assert len(want) and not bad & set(out.vec_id), name
            assert sorted(out.values.tolist()) \
                == sorted(want.values.tolist()), name

        # a null and an empty query vector get no rows; the other
        # queries' rows are unchanged
        qn = q.unionByName(spark.createDataFrame(
            [(98, None), (99, [])], q.schema))
        cases = {
            "cosine_topk": lambda qs: cosine_topk(emb, qs, 3),
            "ivf_topk": lambda qs: ivf_topk(emb, qs, 3, n_cells=4),
            "pq_topk": lambda qs: pq_topk(emb, qs, 3, codebooks=books),
            "ivfpq_topk": lambda qs: ivfpq_topk(emb, qs, 3, n_cells=4,
                                                codebooks=books),
        }
        for name, topk in cases.items():
            out = topk(qn).toPandas()
            want = topk(q).toPandas()
            assert len(want) == 6, name
            assert sorted(out.values.tolist()) \
                == sorted(want.values.tolist()), name

    def test_zero_vector_scores_zero(self, spark):
        # an all-zero embedding has cosine 0 to every query in every
        # scorer, not a division by zero (which raises under ANSI);
        # k = the corpus size and every cell probed, so the zero row is
        # always in the output
        from geodistpy_spark.textops import (
            codebooks_from_df, cosine_topk, ivf_topk, ivfpq_topk, pq_topk)

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        dim = len(emb.first()["embedding"])
        n = emb.count()
        zeroed = emb.withColumn("embedding", F.when(
            F.col("vec_id") == 5,
            F.array_repeat(F.lit(0.0).cast("float"), dim)).otherwise(
            F.col("embedding")))
        q = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        books = codebooks_from_df(
            spark.read.parquet("fixtures/ann/codebooks.parquet"))
        cases = {
            "cosine_topk": lambda: cosine_topk(zeroed, q, n),
            "ivf_topk": lambda: ivf_topk(zeroed, q, n, n_cells=4, n_probe=4),
            "pq_topk": lambda: pq_topk(zeroed, q, n, shortlist=n,
                                       codebooks=books),
            "ivfpq_topk": lambda: ivfpq_topk(zeroed, q, n, n_cells=4,
                                             n_probe=4, shortlist=n,
                                             codebooks=books),
        }
        for name, topk in cases.items():
            out = topk().toPandas()
            assert len(out) == 2 * n, name
            assert (out[out.vec_id == 5].cosine == 0.0).all(), name
            assert (out.vec_id == 5).sum() == 2, name


class TestAnalysis:
    def test_token_count(self, spark):
        df = spark.createDataFrame([(1, "a b  c"), (2, "")], "doc_id long, text string")
        out = token_count(df).toPandas().set_index("doc_id").n_tokens
        assert out[1] == 3 and out[2] == 0

    def test_token_count_bpe(self, spark):
        from geodistpy_spark.textops import token_count_bpe

        df = spark.createDataFrame(
            [(1, "don't stop: 42 times!"),  # don + ' + t + stop + : + 42 + times + !
             (2, ""), (3, "abc123...xyz")],  # abc + 123 + ... + xyz
            "doc_id long, text string")
        out = token_count_bpe(df).toPandas().set_index("doc_id").n_tokens_bpe
        assert out[1] == 8 and out[2] == 0 and out[3] == 4

    def test_trigram_logprob_flags_gibberish(self, spark):
        from geodistpy_spark.textops import trigram_logprob

        normal = "the quick brown fox jumps over the lazy dog and then the other"
        rows = ([(i, normal + f" variant {i}") for i in range(20)]
                + [(99, "qzx jqv wxk zzq vqk xjz")]   # gibberish
                + [(100, "ab")])                       # too short -> null
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = trigram_logprob(df).toPandas().set_index("doc_id").tri_logprob
        assert out[99] < out[0] - 1.0   # corpus-atypical scores far lower
        assert np.isnan(out[100])       # < 3 chars -> no trigrams

    def test_quality_monotone_in_length(self, spark):
        df = spark.createDataFrame(
            [(1, "the and of to in is that it for was good text here"),
             (2, "x")], "doc_id long, text string")
        q = quality_score(df).toPandas().set_index("doc_id").quality
        assert q[1] > q[2]

    def test_language_id_english(self, spark):
        df = spark.createDataFrame(
            [(1, "the cat and the dog went to the house in the morning"),
             (2, "der hund und die katze ist nicht mit dem auto auf den berg"),
             (3, "zzz qqq xxx")], "doc_id long, text string")
        out = language_id(df).toPandas().set_index("doc_id").lang_pred
        assert out[1] == "en" and out[2] == "de" and out[3] == "unknown"

    def test_fingerprint_order_insensitive(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "alpha beta delta")],
            "doc_id long, text string")
        fp = doc_fingerprint(df).toPandas().set_index("doc_id").fingerprint
        assert fp[1] == fp[2] and fp[1] != fp[3]


class TestMultimodal:
    def test_pipeline_shapes(self, spark, docs):
        from geodistpy_spark.textops import media_feature_pipeline

        mf = media_feature_pipeline(docs.limit(200)).toPandas()
        if len(mf):
            assert set(mf.columns) == {"doc_id", "span_idx", "media_ref", "format",
                                       "width", "height", "n_bytes", "features"}
            assert (mf.n_bytes == 128).all()
            assert all(len(f) == 8 for f in mf.features)
            assert set(mf.format) <= {"png", "bmp", "webp", "tiff", "raw"}

    def test_header_parse_real_formats(self):
        import struct
        from geodistpy_spark.textops.multimodal import parse_image_header, _PNG_MAGIC

        png = _PNG_MAGIC + b"\x00\x00\x00\x0dIHDR" + struct.pack(">II", 640, 480) + b"\x08\x06\x00\x00\x00"
        assert parse_image_header(png) == ("png", 640, 480)
        bmp = b"BM" + b"\x00" * 12 + struct.pack("<I", 40) + struct.pack("<ii", 320, -200)
        assert parse_image_header(bmp + b"\x00" * 8) == ("bmp", 320, 200)
        gif = b"GIF89a" + struct.pack("<HH", 12, 34)
        assert parse_image_header(gif) == ("gif", 12, 34)
        # minimal JPEG: SOI + APP0 (len 4, empty) + SOF0
        jpg = (b"\xff\xd8" + b"\xff\xe0\x00\x04\x00\x00"
               + b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", 480, 640) + b"\x00" * 10)
        assert parse_image_header(jpg) == ("jpeg", 640, 480)
        assert parse_image_header(b"\x00" * 64) is None
        # WEBP: extended (VP8X 24-bit canvas), lossy (VP8 frame tag +
        # sync code), lossless (VP8L bitstream 14-bit fields)
        vp8x = (b"RIFF" + struct.pack("<I", 30) + b"WEBPVP8X"
                + struct.pack("<I", 10) + b"\x00\x00\x00\x00"
                + (799).to_bytes(3, "little") + (599).to_bytes(3, "little"))
        assert parse_image_header(vp8x) == ("webp", 800, 600)
        vp8 = (b"RIFF" + struct.pack("<I", 30) + b"WEBPVP8 "
               + struct.pack("<I", 12) + b"\x00\x00\x00" + b"\x9d\x01\x2a"
               + struct.pack("<HH", 320, 240))
        assert parse_image_header(vp8) == ("webp", 320, 240)
        bits = (99) | (49 << 14)  # width-1=99, height-1=49
        vp8l = (b"RIFF" + struct.pack("<I", 20) + b"WEBPVP8L"
                + struct.pack("<I", 5) + b"\x2f" + struct.pack("<I", bits))
        assert parse_image_header(vp8l) == ("webp", 100, 50)
        # TIFF: little-endian LONG values and big-endian SHORT values
        tif_le = (b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 2)
                  + struct.pack("<HHI", 256, 4, 1) + struct.pack("<I", 1024)
                  + struct.pack("<HHI", 257, 4, 1) + struct.pack("<I", 768)
                  + struct.pack("<I", 0))
        assert parse_image_header(tif_le) == ("tiff", 1024, 768)
        tif_be = (b"MM\x00*" + struct.pack(">I", 8) + struct.pack(">H", 2)
                  + struct.pack(">HHI", 256, 3, 1) + struct.pack(">H", 640) + b"\x00\x00"
                  + struct.pack(">HHI", 257, 3, 1) + struct.pack(">H", 480) + b"\x00\x00"
                  + struct.pack(">I", 0))
        assert parse_image_header(tif_be) == ("tiff", 640, 480)
        # truncated/garbage RIFF and TIFF stay None, not crashes
        assert parse_image_header(b"RIFF\x00\x00\x00\x00WEBP") is None
        assert parse_image_header(b"II*\x00\xff\xff\xff\xff") is None

    def test_decoded_dims_match_synthesized_headers(self, spark, docs):
        from geodistpy_spark.textops import media_feature_pipeline
        import hashlib

        mf = media_feature_pipeline(docs.limit(100)).toPandas()
        png_bmp = mf[mf.format.isin(["png", "bmp"])]
        assert len(png_bmp) > 0
        for r in png_bmp.head(20).itertuples():
            h = hashlib.sha256(r.media_ref.encode()).digest()
            assert r.width == 16 + (h[1] | (h[2] << 8)) % 2033
            assert r.height == 16 + (h[3] | (h[4] << 8)) % 1525

    def test_decode_deterministic(self, spark, docs):
        from geodistpy_spark.textops import media_feature_pipeline

        a = media_feature_pipeline(docs.limit(50)).toPandas().sort_values(
            ["doc_id", "span_idx"]).reset_index(drop=True)
        b = media_feature_pipeline(docs.limit(50)).toPandas().sort_values(
            ["doc_id", "span_idx"]).reset_index(drop=True)
        assert (a.width == b.width).all() and (a.height == b.height).all()


class TestMultimodalFramesResize:
    def _spans(self, spark):
        return spark.createDataFrame(
            [("d1", 0, "media://a"), ("d2", 1, "media://b")],
            "doc_id string, span_idx int, media_ref string")

    def test_resize_media_bilinear(self, spark):
        from geodistpy_spark.textops import fetch_media_bytes, resize_media
        from geodistpy_spark.textops.multimodal import parse_image_header, _synth_payload

        wb = fetch_media_bytes(self._spans(spark))
        out = resize_media(wb, out_h=4, out_w=6).toPandas()
        assert len(out) == 2
        assert out.pixels.map(len).eq(24).all()
        v = np.concatenate(out.pixels.values)
        assert ((v >= 0.0) & (v <= 1.0)).all()
        # src dims match the real header parse when one exists
        hdr = parse_image_header(_synth_payload("media://a"))
        if hdr is not None:
            row = out[out.doc_id == "d1"].iloc[0]
            assert (row.src_w, row.src_h) == (hdr[1], hdr[2])
        # deterministic across runs
        again = resize_media(wb, out_h=4, out_w=6).toPandas()
        a = {d: list(p) for d, p in zip(out.doc_id, out.pixels)}
        b = {d: list(p) for d, p in zip(again.doc_id, again.pixels)}
        assert a == b
        with pytest.raises(ValueError, match="output shape"):
            resize_media(wb, out_h=0)

    def test_media_ops_survive_null_and_short_payloads(self, spark):
        # user-supplied payload columns can carry nulls and payloads
        # shorter than the stand-in feature window (32 B) or the
        # pseudo-dim header (4 B); every mapInPandas media op must
        # handle them (bytes(None) raised inside executors before the
        # guards)
        from geodistpy_spark.textops.multimodal import (
            decode_media, resize_media, MEDIA_FEATURE_DIM)

        rows = [
            ("d1", 0, "r1", bytearray(b"\x89PNG")),     # truncated magic
            ("d2", 0, "r2", bytearray(b"ab")),           # < 4-byte header
            ("d3", 0, "r3", bytearray(b"")),             # empty
            ("d4", 0, "r4", None),                        # null
        ]
        mb = spark.createDataFrame(
            rows,
            "doc_id string, span_idx int, media_ref string, payload binary")
        dec = decode_media(mb).toPandas()
        assert len(dec) == 4
        assert dec.features.map(len).eq(MEDIA_FEATURE_DIM).all()
        assert dec.set_index("doc_id").n_bytes.to_dict() == {
            "d1": 4, "d2": 2, "d3": 0, "d4": 0}
        rz = resize_media(mb, out_h=2, out_w=2).toPandas()
        assert len(rz) == 4 and rz.pixels.map(len).eq(4).all()


class TestSamplingOps:
    def test_contamination_planted_and_decontaminate(self, spark):
        from geodistpy_spark.textops import decontaminate, ngram_contamination

        probe_text = "the quick brown fox jumps over the lazy dog tonight"
        docs = spark.createDataFrame([
            (1, "prefix words then the quick brown fox jumps over nothing"),
            (2, "completely unrelated content with no overlap at all here"),
            (3, probe_text),  # exact duplicate of the benchmark row
        ], "doc_id long, text string")
        probes = spark.createDataFrame([(100, probe_text)],
                                       "probe_id long, text string")
        hits = ngram_contamination(docs, probes, n=5).toPandas()
        # doc 1 shares exactly one 5-gram window ("the quick brown fox
        # jumps" and "quick brown fox jumps over" -> two), doc 3 all six
        by_doc = hits.set_index("doc_id").n_shared
        assert 2 not in by_doc.index
        assert by_doc[1] == 2
        assert by_doc[3] == 6
        clean = decontaminate(docs, probes, n=5).toPandas()
        assert set(clean.doc_id) == {2}

    def test_hash_split_deterministic_and_balanced(self, spark):
        from geodistpy_spark.textops import hash_split

        df = spark.createDataFrame([(i,) for i in range(4000)], "doc_id long")
        a = hash_split(df, val_frac=0.1).toPandas().set_index("doc_id").split
        b = hash_split(df, val_frac=0.1).toPandas().set_index("doc_id").split
        assert (a == b).all()                       # deterministic
        frac = (a == "val").mean()
        assert 0.07 < frac < 0.13                   # ~10% of 4000 keys
        c = hash_split(df, val_frac=0.1, salt="v2").toPandas() \
            .set_index("doc_id").split
        assert (a != c).any()                       # independent draw
        # multi-row keys land on ONE side (no leakage)
        multi = spark.createDataFrame(
            [(i % 50, i) for i in range(500)], "doc_id long, row long")
        m = hash_split(multi, val_frac=0.3).toPandas()
        assert (m.groupby("doc_id").split.nunique() == 1).all()

    def test_stratified_sample_exact_quota(self, spark):
        import math

        from geodistpy_spark.textops import stratified_sample

        df = spark.createDataFrame(
            [(i, ["en", "fr", "de"][i % 3]) for i in range(1000)]
            + [(9999, "sw")],  # 1-row stratum: ceil keeps it
            "doc_id long, lang string")
        got = stratified_sample(df, "lang", frac=0.15).toPandas()
        per = got.groupby("lang").doc_id.count()
        sizes = {"en": 334, "fr": 333, "de": 333, "sw": 1}
        for lang, n in sizes.items():
            assert per[lang] == math.ceil(0.15 * n), lang
        # deterministic: identical draw on re-run
        again = stratified_sample(df, "lang", frac=0.15).toPandas()
        assert set(got.doc_id) == set(again.doc_id)
        # approx mode: no window, frac within binomial noise
        ap = stratified_sample(df, "lang", frac=0.5, exact=False).toPandas()
        assert 0.4 < len(ap) / 1001 < 0.6
        with pytest.raises(ValueError, match="frac"):
            stratified_sample(df, "lang", frac=-0.1)

    def test_dedup_near_keep_best(self, spark):
        from geodistpy_spark.textops import dedup_near

        base = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame([
            (10, base + " extra tail words here", 40),   # longest in cluster
            (11, base + " extra tail", 20),
            (12, base, 10),
            (50, "totally different content with no overlap at all", 8),
        ], "doc_id long, text string, n_chars long")
        best = dedup_near(docs, threshold=0.3, keep="best",
                          score_col="n_chars").toPandas()
        assert set(best.doc_id) == {10, 50}          # 10 beats 11/12 on score
        minid = dedup_near(docs, threshold=0.3).toPandas()
        assert set(minid.doc_id) == {10, 50}         # here min id == best
        # tie on score -> smallest id wins
        tied = spark.createDataFrame([
            (21, base, 10), (22, base, 10),
        ], "doc_id long, text string, n_chars long")
        t = dedup_near(tied, threshold=0.3, keep="best",
                       score_col="n_chars").toPandas()
        assert set(t.doc_id) == {21}
        with pytest.raises(ValueError, match="score_col"):
            dedup_near(docs, keep="best")


class TestIvfPq:
    def test_ivfpq_recall_vs_brute(self, spark):
        from geodistpy_spark.textops import cosine_topk, ivfpq_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        dim = len(emb.first()["embedding"])
        m = 8 if dim % 8 == 0 else 4
        q = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        exact = cosine_topk(emb, q, 5).toPandas()
        got = ivfpq_topk(emb, q, 5, n_cells=8, n_probe=4, m=m,
                         shortlist=64).toPandas()
        hit = set(map(tuple, got[["query_id", "vec_id"]].values))
        want = set(map(tuple, exact[["query_id", "vec_id"]].values))
        # recall bounded by the IVF probe pruning (self-cell always probed)
        assert len(hit & want) / len(want) >= 0.5
        for qi in range(8):  # self-hit survives IVF + PQ + re-rank
            assert qi in set(got[got.query_id == qi].vec_id)
        assert (got.groupby("query_id").vec_id.count() <= 5).all()


class TestDistributedLloyd:
    # the sampled Lloyd trainers behind the IVF and PQ indexes

    def test_distributed_centroids_drive_ivf_recall(self, spark):
        from geodistpy_spark.textops import cosine_topk, ivf_topk
        from geodistpy_spark.textops.ann import train_centroids

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cents = train_centroids(emb, 8)
        q = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"))
        exact = cosine_topk(emb, q, 5).toPandas()
        got = ivf_topk(emb, q, 5, n_cells=8, n_probe=4,
                       centroids=cents).toPandas()
        hit = set(map(tuple, got[["query_id", "vec_id"]].values))
        want = set(map(tuple, exact[["query_id", "vec_id"]].values))
        assert len(hit & want) / len(want) >= 0.5

    def test_distributed_ignores_malformed_vectors(self, spark):
        # a null and a wrong-length vector inside the sample are skipped:
        # both trainers return what they return without them
        import numpy as np

        from geodistpy_spark.textops.ann import train_centroids, train_pq

        base = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet").filter(
            F.col("vec_id") < 64).select(
            "vec_id", F.col("embedding").cast("array<double>")
            .alias("embedding"))
        dim = len(base.first()["embedding"])
        bad = spark.createDataFrame(
            [(10_001, None), (10_002, [1.0] * (dim - 1))],
            "vec_id long, embedding array<double>")
        merged = base.unionByName(bad)
        C = np.asarray(train_centroids(merged, 4))
        assert C.shape == (4, dim) and np.isfinite(C).all()
        assert np.array_equal(C, np.asarray(train_centroids(base, 4)))
        books = train_pq(merged, m=8)
        assert books.shape == (8, 256, dim // 8) and np.isfinite(books).all()
        assert np.array_equal(books, train_pq(base, m=8))


class TestAnnFixtures:
    def test_fixture_index_matches_fresh_training(self, spark):
        # the committed centroid/codebook fixtures must reproduce the
        # trained-inline results exactly (training is deterministic)
        from geodistpy_spark.textops import (
            codebooks_from_df, ivf_topk, pq_topk)

        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        cents = spark.read.parquet("fixtures/ann/centroids.parquet")
        books = codebooks_from_df(
            spark.read.parquet("fixtures/ann/codebooks.parquet"))

        fresh = ivf_topk(emb, q, 5, n_cells=16).toPandas()
        fixed = ivf_topk(emb, q, 5, centroids=cents).toPandas()
        assert sorted(map(tuple, fresh[["query_id", "vec_id", "rank"]].values)) \
            == sorted(map(tuple, fixed[["query_id", "vec_id", "rank"]].values))

        fresh_pq = pq_topk(emb, q, 5, m=8, shortlist=32).toPandas()
        fixed_pq = pq_topk(emb, q, 5, shortlist=32, codebooks=books).toPandas()
        assert sorted(map(tuple, fresh_pq[["query_id", "vec_id", "rank"]].values)) \
            == sorted(map(tuple, fixed_pq[["query_id", "vec_id", "rank"]].values))

    def test_pq_string_id_column(self, spark):
        # id dtype is derived from the input schema (round-3 advice:
        # LongType was hardcoded and broke string ids)
        from geodistpy_spark.textops import pq_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
            .select(F.concat(F.lit("v"), F.col("vec_id")).alias("vec_id"),
                    "embedding")
        q = emb.filter(F.col("vec_id").isin("v0", "v1")).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        out = pq_topk(emb, q, 3, m=8, shortlist=16).toPandas()
        assert set(out.query_id) == {"v0", "v1"}
        assert out.vec_id.map(lambda s: s.startswith("v")).all()

    def test_pq_precomputed_codes_reused(self, spark):
        # codes= skips re-encoding and returns identical results
        from geodistpy_spark.textops import (
            codebooks_from_df, pq_encode, pq_topk)

        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        books = codebooks_from_df(
            spark.read.parquet("fixtures/ann/codebooks.parquet"))
        codes = pq_encode(emb, books)
        q = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
        a = pq_topk(emb, q, 4, codebooks=books).toPandas()
        b = pq_topk(emb, q, 4, codebooks=books, codes=codes).toPandas()
        assert sorted(map(tuple, a[["query_id", "vec_id", "rank"]].values)) \
            == sorted(map(tuple, b[["query_id", "vec_id", "rank"]].values))


class TestStarConnectedComponents:
    def test_long_chain_converges_logarithmically(self, spark):
        # diameter-128 path graph: one-hop label propagation would need
        # ~128 rounds, the star algorithm must finish in O(log n)
        from geodistpy_spark.textops import connected_components

        n = 129
        nodes = spark.range(n).select(F.col("id").alias("doc_id"))
        pairs = spark.range(n - 1).select(
            F.col("id").alias("id_1"), (F.col("id") + 1).alias("id_2"))
        stats = {}
        out = connected_components(nodes, pairs, max_iter=15,
                                   stats=stats).toPandas()
        assert stats["rounds"] <= 10 and stats["converged"], stats
        assert (out.group_id == 0).all()
        assert len(out) == n

    def test_max_iter_without_convergence_warns(self, spark):
        # stopping before the edge checksum is stable leaves labels that
        # may not be component minima: that must not be silent
        from geodistpy_spark.textops import connected_components

        n = 129
        nodes = spark.range(n).select(F.col("id").alias("doc_id"))
        pairs = spark.range(n - 1).select(
            F.col("id").alias("id_1"), (F.col("id") + 1).alias("id_2"))
        stats = {}
        with pytest.warns(UserWarning, match="max_iter=2"):
            connected_components(nodes, pairs, max_iter=2, stats=stats)
        assert stats == {"rounds": 2, "converged": False}

    def test_star_matches_union_find_on_random_graph(self, spark):
        from geodistpy_spark.textops import connected_components

        rng = np.random.default_rng(7)
        n = 200
        edges = [(int(a), int(b)) for a, b in rng.integers(0, n, (150, 2))
                 if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)   # root = component min
        nodes = spark.range(n).select(F.col("id").alias("doc_id"))
        pairs = spark.createDataFrame(edges, "id_1 long, id_2 long")
        out = connected_components(nodes, pairs).toPandas()
        assert dict(zip(out.doc_id, out.group_id)) == {
            v: find(v) for v in range(n)}

    def test_repeated_calls_do_not_grow_persistent_rdds(self, spark):
        # without a checkpoint dir every round is a local checkpoint
        # (a persisted RDD); superseded rounds and dropped results must
        # be released once unreferenced, so the session's persistent-RDD
        # count is flat across calls
        import gc
        import time

        from geodistpy_spark.textops import connected_components

        sc = spark.sparkContext
        jsc = sc._jsc.sc()

        def settled():
            n = None
            for _ in range(40):
                gc.collect()
                spark._jvm.System.gc()
                time.sleep(0.25)
                m = jsc.getPersistentRDDs().size()
                if m == n:
                    return m
                n = m
            return n

        prev_dir = sc.getCheckpointDir()
        getattr(jsc, "checkpointDir_$eq")(spark._jvm.scala.Option.apply(None))
        try:
            # five 8-node paths
            nodes = spark.range(40).select(F.col("id").alias("doc_id"))
            pairs = spark.range(39).filter(F.col("id") % 8 != 7).select(
                F.col("id").alias("id_1"), (F.col("id") + 1).alias("id_2"))
            sizes = []
            for _ in range(4):
                out = connected_components(nodes, pairs).toPandas()
                assert len(out) == 40
                assert (out.group_id == out.doc_id - out.doc_id % 8).all()
                sizes.append(settled())
            assert sizes[-1] <= sizes[0], sizes
        finally:
            if prev_dir:
                sc.setCheckpointDir(prev_dir)

    def test_star_empty_and_selfloop(self, spark):
        from geodistpy_spark.textops import connected_components

        nodes = spark.range(5).select(F.col("id").alias("doc_id"))
        empty = spark.createDataFrame([], "id_1 long, id_2 long")
        out = connected_components(nodes, empty).toPandas()
        assert (out.doc_id == out.group_id).all()
        loops = spark.createDataFrame([(2, 2), (3, 4)], "id_1 long, id_2 long")
        out2 = connected_components(nodes, loops).toPandas()
        got = dict(zip(out2.doc_id, out2.group_id))
        assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 3}


class TestShingleHashes:
    def test_codegen_shingle_ids_edge_docs(self, spark):
        # the codegen word-triple hash path: short docs and null text
        # contribute no rows (same membership as shingles()), duplicate
        # k-grams DO repeat (min/max-flag consumers are invariant), and
        # ids are consistent for equal triples
        from geodistpy_spark.textops.dedup import shingle_hashes, shingles

        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, "too short"), (3, None),
             (4, "a b c a b c a b c")],  # duplicated 'a b c'
            "doc_id long, text string")
        rows = shingle_hashes(docs).toPandas()
        assert set(rows.doc_id) == {1, 4}
        assert len(rows[rows.doc_id == 1]) == 2   # 'a b c', 'b c d'
        assert len(rows[rows.doc_id == 4]) == 7   # positions, with dups
        # same triple -> same id across docs
        ids1 = set(rows[rows.doc_id == 1].shingle)
        ids4 = set(rows[rows.doc_id == 4].shingle)
        assert len(ids4) == 3 and len(ids1 & ids4) >= 1
        # membership parity with the string path
        str_rows = shingles(docs.na.drop(subset=["text"])).toPandas()
        assert set(str_rows[str_rows.columns[0]]) == {1, 4}

    def test_fast_path_jaccard_values_match_string_mode(self, spark):
        # near-dup verify values must be identical whichever shingle-id
        # scheme generated the candidate relation (equality-based math)
        from geodistpy_spark.textops import near_duplicates_minhash

        docs = spark.createDataFrame(
            [(i, f"w{i} common words here shared tail piece number {i % 3}")
             for i in range(40)] + [(100, "common words here shared tail piece number 1 w1")],
            "doc_id long, text string")
        fast = near_duplicates_minhash(docs, threshold=0.2).toPandas()
        slow = near_duplicates_minhash(
            docs, threshold=0.2, hash_fn="md5").toPandas()
        cols = ["n_inter", "n_1", "n_2", "jaccard"]
        f = fast.set_index(["id_1", "id_2"]).sort_index()
        s = slow.set_index(["id_1", "id_2"]).sort_index()
        common = f.index.intersection(s.index)
        assert len(common) > 0
        assert f.loc[common, cols].equals(s.loc[common, cols])
