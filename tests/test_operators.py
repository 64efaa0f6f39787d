"""LLM-pipeline operator tests: dedup, similarity, text analysis,
multimodal plumbing — against the driver's documents/embeddings tables
plus synthetic near-duplicates."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xdlake_spark.operators import dedup, multimodal, plan_max_rows, similarity
from xdlake_spark.operators import text as textops

from .utils import jobs_during


def _tiled(df) -> bool:
    """True when ``df``'s plan salts buckets into blocks (the hot-bucket
    tiling); False when it runs the plain one-block join."""
    return "__sb" in df._jdf.queryExecution().optimizedPlan().toString()


def _unbounded(spark, df, path):
    """``df`` written to parquet and read back: a file scan, whose plan
    carries no row bound."""
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def docs_with_dups(spark, documents):
    """documents + exact copies of 5 docs + near-copies (one word changed)
    of 5 others, with fresh doc_ids."""
    base = documents.limit(200)
    exact = (documents.limit(5)
             .withColumn("doc_id", F.col("doc_id") + 100000))
    near = (documents.filter("doc_id >= 5").limit(5)
            .withColumn("doc_id", F.col("doc_id") + 200000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" zzz"))))
    return base.unionByName(exact).unionByName(near)


class TestExactDedup:
    def test_removes_exact_copies(self, spark, docs_with_dups):
        out = dedup.exact_dedup(docs_with_dups)
        assert out.count() == 205  # 200 base + 5 near (not exact) kept
        # keeper is the lowest id
        assert out.filter("doc_id >= 100000 and doc_id < 200000").count() == 0

    def test_duplicate_groups(self, spark, docs_with_dups):
        groups = dedup.duplicate_groups(docs_with_dups).collect()
        assert len(groups) == 5
        assert all(g["n_dups"] == 2 for g in groups)
        assert all(g["keeper_id"] < 100000 for g in groups)


class TestMinHash:
    def test_near_dups_found(self, spark, docs_with_dups):
        pairs = dedup.minhash_lsh_pairs(docs_with_dups, threshold=0.6)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        # every exact copy must pair with its source
        for i in range(5):
            assert (i, i + 100000) in got
        # near copies (1 word appended) should mostly be found
        near_hits = sum((i, i + 200000) in got for i in range(5, 10))
        assert near_hits >= 4

    def test_jaccard_exact_for_identical(self, spark, docs_with_dups):
        pairs = dedup.minhash_lsh_pairs(docs_with_dups, threshold=0.99)
        ident = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in pairs.collect()}
        for i in range(5):
            assert ident.get((i, i + 100000)) == pytest.approx(1.0)

    def test_minhash_dedup_drops_later_ids(self, spark, docs_with_dups):
        out = dedup.minhash_dedup(docs_with_dups, threshold=0.6)
        assert out.filter("doc_id >= 100000 and doc_id < 200000").count() == 0
        # survivors = all docs minus exactly the id_b side of found pairs
        pairs = dedup.minhash_lsh_pairs(docs_with_dups, threshold=0.6)
        doomed = {r["id_b"] for r in pairs.collect()}
        assert out.count() == docs_with_dups.count() - len(doomed)


class TestMinhashArrow:
    def test_signature_arrow_equals_jvm(self, spark, documents):
        d = documents.limit(200)
        jvm = {r["id"]: r["signature"] for r in
               dedup.minhash_signature_df(d, use_arrow=False).collect()}
        arr = {r["id"]: r["signature"] for r in
               dedup.minhash_signature_df(d, use_arrow=True).collect()}
        assert jvm == arr and len(jvm) == 200

    def test_signature_arrow_null_and_short_text(self, spark):
        pdf = pd.DataFrame({"doc_id": [1, 2, 3],
                            "text": ["ab", "one two three four", None]})
        d = spark.createDataFrame(pdf)
        jvm = {r["id"]: r["signature"] for r in
               dedup.minhash_signature_df(d, use_arrow=False).collect()}
        arr = {r["id"]: r["signature"] for r in
               dedup.minhash_signature_df(d, use_arrow=True).collect()}
        assert jvm == arr
        # null text canonicalizes upstream: shingles(null) -> [""] (the
        # whole-text shingle of the empty string), so BOTH paths emit
        # the same real signature — null-text docs neither bucket
        # together spuriously nor silently drop out of the equi-join
        assert jvm[3] is not None and jvm[3] == arr[3]


class TestNgramJaccard:
    def test_matches_manual_jaccard(self, spark):
        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": ["a b c d e", "a b c d x", "q r s t u"],
        })
        df = spark.createDataFrame(pdf)
        pairs = dedup.ngram_jaccard_pairs(df, k_shingle=3, threshold=0.1)
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
        # shingles(1): {abc,bcd,cde}; (2): {abc,bcd,cdx}; inter=2 union=4
        assert got[(1, 2)] == pytest.approx(0.5)
        assert (1, 3) not in got and (2, 3) not in got

    def test_on_documents(self, spark, docs_with_dups):
        pairs = dedup.ngram_jaccard_pairs(docs_with_dups, threshold=0.8)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        for i in range(5):
            assert (i, i + 100000) in got


class TestNgramContainment:
    """r12: asymmetric containment c(A,B)=|A∩B|/|A| — the subsumption
    signal jaccard misses when a short doc is embedded in a long one."""

    def test_subsumed_doc_detected_where_jaccard_misses(self, spark):
        short = "a b c d e"                       # 3 shingles
        long = short + " " + " ".join(
            f"w{i} x{i} y{i}" for i in range(20))  # >> 3 shingles
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": [short, long, "q r s t u"]}))
        # jaccard at 0.8 misses the subsumption entirely
        j = dedup.ngram_jaccard_pairs(df, k_shingle=3, threshold=0.8)
        assert j.count() == 0
        got = {(r["id_a"], r["id_b"]): r for r in
               dedup.ngram_containment_pairs(
                   df, k_shingle=3, threshold=0.8).collect()}
        assert set(got) == {(1, 2)}
        r = got[(1, 2)]
        assert r["containment_a"] == pytest.approx(1.0)   # 1 ⊆ 2
        assert r["containment_b"] < 0.2

    def test_matches_manual_counts(self, spark):
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2],
            "text": ["a b c d e", "a b c d x"]}))
        r = dedup.ngram_containment_pairs(
            df, k_shingle=3, threshold=0.5).collect()
        # shingles(1)={abc,bcd,cde}, (2)={abc,bcd,cdx}: inter=2
        assert len(r) == 1
        assert r[0]["containment_a"] == pytest.approx(2 / 3)
        assert r[0]["containment_b"] == pytest.approx(2 / 3)

    def test_doc_freq_valve_consistent(self, spark, documents):
        """The stop-shingle valve adjusts index AND denominators; with
        a generous cutoff on the real corpus both paths agree."""
        a = dedup.ngram_containment_pairs(documents, threshold=0.9)
        b = dedup.ngram_containment_pairs(documents, threshold=0.9,
                                          max_doc_freq=10**9)
        ka = {(r["id_a"], r["id_b"]) for r in a.collect()}
        kb = {(r["id_a"], r["id_b"]) for r in b.collect()}
        assert ka == kb and ka


class TestContaminationBloomScreen:
    """contamination_pairs(eval_screen=True) (r10): the eval-shingle
    Bloom filter prunes the train inverted index as a pure JVM filter
    before any shuffle — no false negatives, so screened results equal
    unscreened EXACTLY."""

    def test_screened_equals_unscreened(self, spark, documents):
        tr = documents.filter("doc_id % 10 != 0")
        ev = documents.filter("doc_id % 10 = 0")
        a = dedup.contamination_pairs(tr, ev) \
            .orderBy("train_id", "eval_id").collect()
        b = dedup.contamination_pairs(tr, ev, eval_screen=True) \
            .orderBy("train_id", "eval_id").collect()
        assert a == b and len(a) > 0

    def test_screened_equals_unscreened_with_valve(self, spark,
                                                   documents):
        tr = documents.filter("doc_id % 10 != 0")
        ev = documents.filter("doc_id % 10 = 0")
        a = dedup.contamination_pairs(tr, ev, max_doc_freq=50) \
            .orderBy("train_id", "eval_id").collect()
        b = dedup.contamination_pairs(tr, ev, max_doc_freq=50,
                                      eval_screen=True) \
            .orderBy("train_id", "eval_id").collect()
        assert a == b

    def test_screen_actually_prunes(self, spark):
        """Disjoint train text must be eliminated by the screen: with
        a tight filter, zero pairs AND the planted containment case
        still survives end to end."""
        tr = spark.createDataFrame(
            [(1, "the full benchmark item appears verbatim right "
                 "here inside this training document today"),
             (2, "totally unrelated web page about cooking pasta "
                 "with garlic and fresh tomato sauce")],
            "doc_id long, text string")
        ev = spark.createDataFrame(
            [(100, "benchmark item appears verbatim right here")],
            "doc_id long, text string")
        out = dedup.contamination_pairs(
            tr, ev, threshold=0.8, eval_screen=True,
            screen_bits=1 << 14).collect()
        assert [(r["train_id"], r["eval_id"])
                for r in out] == [(1, 100)]

    def test_no_extra_shuffle_in_screen(self, spark, documents):
        """The screen is a filter fused ahead of the join — plan has
        no Python eval and no additional Exchange vs the unscreened
        plan."""
        tr = documents.filter("doc_id % 10 != 0")
        ev = documents.filter("doc_id % 10 = 0")
        plain = dedup.contamination_pairs(tr, ev) \
            ._jdf.queryExecution().executedPlan().toString()
        scr = dedup.contamination_pairs(tr, ev, eval_screen=True) \
            ._jdf.queryExecution().executedPlan().toString()
        assert scr.count("Exchange") <= plain.count("Exchange")
        assert "BatchEvalPython" not in scr


class TestCrossCorpusDedup:
    def test_bipartite_pairs_and_admission(self, spark):
        new = spark.createDataFrame(pd.DataFrame({
            "doc_id": [10, 11, 12],
            "text": ["a b c d e", "q r s t u", "z z z z z"]}))
        corpus = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2],
            "text": ["a b c d x", "a b c d e"]}))
        pairs = dedup.cross_corpus_jaccard_pairs(new, corpus,
                                                 threshold=0.1)
        got = {(r["new_id"], r["corpus_id"]): r["jaccard"]
               for r in pairs.collect()}
        # new 10 vs corpus 1: inter 2 of union 4; vs corpus 2: identical
        assert got[(10, 1)] == pytest.approx(0.5)
        assert got[(10, 2)] == pytest.approx(1.0)
        assert all(k[0] == 10 for k in got)  # 11, 12 share nothing
        kept = {r["doc_id"] for r in dedup.cross_corpus_dedup(
            new, corpus, threshold=0.5).collect()}
        assert kept == {11, 12}

    def test_never_pairs_new_with_new(self, spark):
        new = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2], "text": ["a b c d e", "a b c d e"]}))
        corpus = spark.createDataFrame(pd.DataFrame({
            "doc_id": [9], "text": ["totally different words here"]}))
        # identical new docs survive: only corpus matches can evict
        assert dedup.cross_corpus_dedup(new, corpus).count() == 2

    def test_tiled_equals_untiled(self, spark, documents, tmpdir):
        """A tiny bucket_cap forces multi-block tiling on every shared
        shingle; the pair set must be identical to the effectively
        untiled run (same guarantee as the self-join bucket test). The
        new side is bounded at 60 rows: below the cap it is one block
        and runs the broadcast join, above it the tiled grid. The same
        rows as a file scan carry no bound and must tile."""
        new = documents.filter(F.col("doc_id") % 4 == 0).limit(60)
        corpus = documents.filter(F.col("doc_id") % 4 != 0).limit(120)
        assert plan_max_rows(new) == 60

        def pairs(new_, cap, tiled):
            out = dedup.cross_corpus_jaccard_pairs(
                new_, corpus, threshold=0.1, bucket_cap=cap)
            assert _tiled(out) == tiled
            return {(r["new_id"], r["corpus_id"], r["jaccard"])
                    for r in out.collect()}

        untiled = pairs(new, 10 ** 9, tiled=False)
        assert pairs(new, 2, tiled=True) == untiled and len(untiled) > 0
        scan = _unbounded(spark, new, f"{tmpdir}/new")
        assert plan_max_rows(scan) is None
        assert pairs(scan, 10 ** 9, tiled=True) == untiled
        # the admission filter takes the bound before its checkpoint
        kept = {r["doc_id"] for r in dedup.cross_corpus_dedup(
            new, corpus, threshold=0.1).collect()}
        assert kept == ({r["doc_id"] for r in new.collect()}
                        - {n for n, _, _ in untiled})

    def test_long_documents_do_not_broadcast(self, spark):
        """Three documents are far below ``bucket_cap`` rows, but at
        110k tokens each their shingle index (~330k rows) is past the
        default 10 MB broadcast threshold: the join must tile rather
        than broadcast it, with the same pairs."""
        import pyarrow as pa

        rng = np.random.default_rng(11)
        vocab = np.array([f"v{i}" for i in range(5000)])
        long_docs = [" ".join(rng.choice(vocab, 110_000)) for _ in range(3)]
        new = spark.createDataFrame(pa.table(
            {"doc_id": pa.array([0, 1, 2], pa.int64()), "text": long_docs}))
        corpus = spark.createDataFrame(pd.DataFrame(
            {"doc_id": [7, 8], "text": [long_docs[0], "a b c d"]}))
        assert plan_max_rows(new) == 3
        out = dedup.cross_corpus_jaccard_pairs(new, corpus)
        assert _tiled(out)
        assert [(r["new_id"], r["corpus_id"], r["jaccard"])
                for r in out.collect()] == [(0, 7, 1.0)]

    def test_admission_jobs(self, spark, tmpdir):
        """One batch admission, ``write(cross_corpus_dedup(
        minhash_dedup(batch), corpus))``, on a 128-row Arrow batch: the
        batch is bounded below ``bucket_cap``, so both pair joins run
        untiled; one of its jobs sizes the batch's shingle index for the
        broadcast. Pins its Spark job count (the tiled plan ran 23)."""
        import pyarrow as pa

        from xdlake_spark import DeltaTable

        rng = np.random.default_rng(7)
        words = [f"w{i}" for i in range(300)]

        def texts(n):
            return [" ".join(rng.choice(words, 30)) for _ in range(n)]

        corpus = texts(400)
        t = DeltaTable(spark, f"{tmpdir}/corpus").write(
            spark.createDataFrame(pd.DataFrame(
                {"doc_id": range(400), "text": corpus})))
        fresh = texts(128)
        batch = pa.table({
            "doc_id": pa.array(range(1000, 1128), pa.int64()),
            # of every 4 docs, the 1st copies a corpus doc and the 3rd
            # the 2nd; the 2nd and 4th are fresh
            "text": [corpus[i] if i % 4 == 0
                     else fresh[i - 1] if i % 4 == 2 else fresh[i]
                     for i in range(128)]})

        def admit():
            new = spark.createDataFrame(batch)
            assert plan_max_rows(new) == 128
            return t.write(dedup.cross_corpus_dedup(
                dedup.minhash_dedup(new), t.to_df()))

        t2, jobs = jobs_during(spark, "dedup-admit", admit)
        assert t2.to_df().count() == 400 + 128 - 32 - 32
        assert len(jobs) == 16, len(jobs)

    def test_valve_noop_below_cutoff(self, spark, documents):
        new = documents.filter(F.col("doc_id") % 4 == 0)
        corpus = documents.filter(F.col("doc_id") % 4 != 0)
        base = {(r["new_id"], r["corpus_id"], r["jaccard"]) for r in
                dedup.cross_corpus_jaccard_pairs(
                    new, corpus, threshold=0.2).collect()}
        valved = {(r["new_id"], r["corpus_id"], r["jaccard"]) for r in
                  dedup.cross_corpus_jaccard_pairs(
                      new, corpus, threshold=0.2,
                      max_doc_freq=10 ** 9).collect()}
        assert base == valved and len(base) > 0


class TestSimHash:
    def test_identical_docs_zero_hamming(self, spark, docs_with_dups):
        pairs = dedup.simhash_pairs(docs_with_dups, max_hamming=3)
        got = {(r["id_a"], r["id_b"]): r["hamming"]
               for r in pairs.collect()}
        for i in range(5):
            assert got.get((i, i + 100000)) == 0

    def test_simhash_deterministic(self, spark, documents):
        a = {r["id"]: r["simhash"]
             for r in dedup.simhash_df(documents.limit(50)).collect()}
        b = {r["id"]: r["simhash"]
             for r in dedup.simhash_df(documents.limit(50)).collect()}
        assert a == b


@pytest.fixture(scope="module")
def planted_embeddings(spark):
    """300 random vectors + 20 planted near-duplicate pairs (cosine
    ~0.98) + a 12-member planted cluster around vector 0 — gives the
    approximate operators real positives to recall."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((300, 64))
    pair_pert = base[:20] + 0.06 * rng.standard_normal((20, 64))
    cluster = base[0] + 0.05 * rng.standard_normal((12, 64))
    ids = (list(range(300)) + [1000 + i for i in range(20)]
           + [2000 + i for i in range(12)])
    vecs = [r.tolist() for r in np.vstack([base, pair_pert, cluster])]
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": ids, "embedding": vecs}))


class TestEmbeddingDedup:
    def test_lsh_finds_what_exact_finds(self, spark, embeddings):
        # random corpus: LSH must stay a subset of exact (soundness of
        # the verify step) — recall is exercised on planted data below
        exact = dedup.embedding_neardup_pairs(embeddings, threshold=0.95,
                                              exact=True)
        exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
        lsh = dedup.embedding_neardup_pairs(embeddings, threshold=0.95,
                                            n_planes=8)
        lsh_pairs = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
        assert lsh_pairs <= exact_pairs

    def test_multitable_lsh_recall(self, spark, planted_embeddings):
        # 4 independent hash tables at 8 planes: expected recall
        # 1-(1-p^8)^4 ~ 0.99 for planted cosine ~0.98 pairs
        exact = {(r["id_a"], r["id_b"])
                 for r in dedup.embedding_neardup_pairs(
                     planted_embeddings, threshold=0.95,
                     exact=True).collect()}
        assert len(exact) >= 20  # the planted pairs are really there
        lsh = {(r["id_a"], r["id_b"])
               for r in dedup.embedding_neardup_pairs(
                   planted_embeddings, threshold=0.95, n_planes=8,
                   n_tables=4).collect()}
        assert lsh <= exact
        assert len(lsh & exact) / len(exact) >= 0.9


class TestSemDeDup:
    """semdedup (operators/dedup.py): within-k-means-cluster prefix
    pruning per Abbas et al. 2023 — numpy-twin differential, planted
    near-duplicate recovery, determinism, and the oversize-cluster
    guard."""

    def _twin(self, pdf, cents, thr):
        """Sequential numpy reimplementation of the per-cluster rule."""
        X = np.array(pdf["embedding"].tolist(), dtype="float64")
        n = np.linalg.norm(X, axis=1)
        n[n == 0] = 1.0
        Xn = X / n[:, None]
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        cl = d.argmin(axis=1)
        out = {}
        for c in np.unique(cl):
            idx = np.where(cl == c)[0]
            cv = cents[c] / (np.linalg.norm(cents[c]) or 1.0)
            csim = Xn[idx] @ cv
            ids = pdf["vec_id"].to_numpy()[idx]
            order = idx[np.lexsort((ids, csim))]
            for pos, i in enumerate(order):
                prior = -1.0 if pos == 0 else float(
                    (Xn[order[:pos]] @ Xn[i]).max())
                out[int(pdf["vec_id"].iloc[i])] = (
                    int(c), prior, pos == 0 or prior <= thr)
        return out

    def test_fixed_centroids_match_numpy_twin(self, spark, embeddings):
        pdf = embeddings.orderBy("vec_id").toPandas()
        cents = np.array(pdf["embedding"].tolist()[:6], dtype="float64")
        got = dedup.semdedup(embeddings, threshold=0.3,
                             centroids=cents).collect()
        want = self._twin(pdf, cents, 0.3)
        assert len(got) == len(pdf)
        for r in got:
            c, prior, keep = want[r["vec_id"]]
            assert r["cluster"] == c, r
            assert abs(r["max_prior_sim"] - prior) < 1e-9, r
            assert r["keep"] == keep, r

    def test_planted_duplicates_are_pruned(self, spark,
                                           planted_embeddings):
        """Each planted pair is near-identical (cosine ~0.98): exactly
        one member of each pair must survive at threshold 0.95."""
        out = dedup.semdedup(planted_embeddings, n_clusters=4,
                             threshold=0.95, iters=3)
        rows = {r["vec_id"]: r for r in out.collect()}
        exact = dedup.embedding_neardup_pairs(
            planted_embeddings, threshold=0.95, exact=True).collect()
        planted = [(r["id_a"], r["id_b"]) for r in exact]
        assert len(planted) >= 20
        dropped = 0
        for a, b in planted:
            ra, rb = rows[a], rows[b]
            if ra["cluster"] == rb["cluster"]:
                # same cluster + >thr similar: at most one survives
                # (both may drop inside a larger duplicate group)
                assert not (ra["keep"] and rb["keep"]), (a, b)
                dropped += 1
        assert dropped >= 15    # k-means rarely splits ~0.98 pairs
        # every drop is justified and every survivor is clean
        for r in rows.values():
            if r["keep"]:
                assert r["max_prior_sim"] <= 0.95, r
            else:
                assert r["max_prior_sim"] > 0.95, r

    def test_kmeans_path_is_deterministic(self, spark, embeddings):
        a = dedup.semdedup(embeddings, n_clusters=5, threshold=0.3,
                           iters=3).orderBy("vec_id").collect()
        b = dedup.semdedup(embeddings, n_clusters=5, threshold=0.3,
                           iters=3).orderBy("vec_id").collect()
        assert a == b

    def test_first_per_cluster_always_kept(self, spark, embeddings):
        out = dedup.semdedup(embeddings, n_clusters=6,
                             threshold=-1.1, iters=2).collect()
        # threshold below any cosine: everything drops EXCEPT each
        # cluster's first item, which survives unconditionally
        kept = [r for r in out if r["keep"]]
        assert len(kept) == len({r["cluster"] for r in out})
        assert all(r["max_prior_sim"] == -1.0 for r in kept)

    def test_oversize_cluster_raises_loudly(self, spark, embeddings):
        cents = np.zeros((1, 64))     # everything lands in cluster 0
        with pytest.raises(Exception, match="max_cluster"):
            dedup.semdedup(embeddings, centroids=cents,
                           max_cluster=10).collect()


QUERY_VEC = [0.1] * 32 + [-0.1] * 32


class TestSimilaritySearch:
    def test_brute_force_topk_matches_numpy(self, spark, embeddings):
        got = similarity.brute_force_topk(embeddings, QUERY_VEC, k=10)
        rows = got.collect()
        assert len(rows) == 10
        pdf = embeddings.toPandas()
        mat = np.array(pdf["embedding"].tolist(), dtype="float64")
        q = np.array(QUERY_VEC)
        sims = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
        order = np.lexsort((pdf["vec_id"].values, -sims))
        expect = pdf["vec_id"].values[order][:10].tolist()
        assert [r["vec_id"] for r in rows] == expect

    def test_knn_join(self, spark, embeddings):
        queries = spark.createDataFrame(pd.DataFrame({
            "q_id": [0, 1],
            "q_vec": [[1.0] * 64, [-1.0] * 64],
        }))
        out = similarity.knn_join(queries, embeddings, k=3)
        rows = out.collect()
        assert len(rows) == 6
        assert {r["q_id"] for r in rows} == {0, 1}
        for qid in (0, 1):
            scores = [r["score"] for r in rows if r["q_id"] == qid]
            assert scores == sorted(scores, reverse=True)

    def test_lsh_topk_subset_quality(self, spark, embeddings):
        exact = [r["vec_id"] for r in
                 similarity.brute_force_topk(embeddings, QUERY_VEC,
                                             k=10).collect()]
        approx = [r["vec_id"] for r in
                  similarity.lsh_topk(embeddings, QUERY_VEC, k=10,
                                      n_planes=6, multiprobe=3).collect()]
        assert len(approx) > 0
        # approximate results are real vectors with valid scores
        assert set(approx) <= set(
            r["vec_id"] for r in embeddings.select("vec_id").collect())

    def test_lsh_topk_recall(self, spark, planted_embeddings):
        q = [r["embedding"] for r in planted_embeddings
             .filter("vec_id = 0").collect()][0]
        exact = [r["vec_id"] for r in similarity.brute_force_topk(
            planted_embeddings, q, k=10).collect()]
        # clustered neighbors: modest multiprobe already recalls >= 0.9
        approx = [r["vec_id"] for r in similarity.lsh_topk(
            planted_embeddings, q, k=10, n_planes=6,
            multiprobe=8).collect()]
        assert len(set(approx) & set(exact)) / 10 >= 0.9
        # exhaustive probing degrades to EXACT: same ranked list
        full = [r["vec_id"] for r in similarity.lsh_topk(
            planted_embeddings, q, k=10, n_planes=6,
            multiprobe=64).collect()]
        assert full == exact

    def test_ivf(self, spark, embeddings):
        assigned, centroids = similarity.ivf_build(embeddings,
                                                   n_centroids=8)
        out = similarity.ivf_topk(assigned, centroids, QUERY_VEC,
                                  k=5, nprobe=4)
        rows = out.collect()
        assert len(rows) == 5
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)

    def test_ivf_recall(self, spark, planted_embeddings):
        q = [r["embedding"] for r in planted_embeddings
             .filter("vec_id = 0").collect()][0]
        exact = [r["vec_id"] for r in similarity.brute_force_topk(
            planted_embeddings, q, k=10).collect()]
        assigned, cents = similarity.ivf_build(planted_embeddings,
                                               n_centroids=8)
        assigned = assigned.localCheckpoint()
        # probing every inverted list IS exact: same ranked list
        full = [r["vec_id"] for r in similarity.ivf_topk(
            assigned, cents, q, k=10, nprobe=8).collect()]
        assert full == exact
        # the planted cluster quantizes together: half the lists recall
        # >= 0.9 of the true neighbors
        half = [r["vec_id"] for r in similarity.ivf_topk(
            assigned, cents, q, k=10, nprobe=4).collect()]
        assert len(set(half) & set(exact)) / 10 >= 0.9

    def test_sq_recall_and_determinism(self, spark, embeddings):
        """SQ-int8 (sq_train/sq_encode/sq_topk): codes in [0,255],
        re-ranked shortlist recalls >= 0.9 of brute-force top-10, and
        encode is deterministic. The approximate path's exactness is
        pinned by the oracle (`similarity_sq_topk`)."""
        bounds = similarity.sq_train(embeddings)
        assert bounds.shape[0] == 2
        codes = similarity.sq_encode(embeddings, bounds)
        sample = codes.limit(20).collect()
        for r in sample:
            assert all(0 <= c <= 255 for c in r["sq_codes"])
        exact = [r["vec_id"] for r in similarity.brute_force_topk(
            embeddings, QUERY_VEC, k=10).collect()]
        rer = [r["vec_id"] for r in similarity.sq_topk(
            codes, bounds, QUERY_VEC, k=10,
            vec_col="embedding").collect()]
        assert len(set(rer) & set(exact)) / 10 >= 0.9
        again = similarity.sq_encode(embeddings, bounds).limit(20) \
            .collect()
        assert [r["sq_codes"] for r in sample] \
            == [r["sq_codes"] for r in again]


class TestTextAnalysis:
    def test_analyze_matches_python(self, spark, documents):
        out = textops.analyze_documents(documents.limit(20)).collect()
        src = {r["doc_id"]: r["text"]
               for r in documents.limit(20).collect()}
        for r in out:
            text = src[r["doc_id"]]
            assert r["n_chars"] == len(text)
            assert r["n_tokens_ws"] == len(text.split())
            import hashlib
            import re
            norm = re.sub(r"\s+", " ", text.lower()).strip()
            assert r["fingerprint"] == hashlib.md5(
                norm.encode()).hexdigest()

    def test_n_chars_matches_column(self, spark, documents):
        bad = (textops.analyze_documents(documents)
               .join(documents, "doc_id")
               .filter("n_chars != documents.n_chars" if False else
                       F.col("n_chars") != F.col("documents.n_chars"))
               ) if False else None
        joined = (textops.analyze_documents(documents)
                  .withColumnRenamed("n_chars", "computed")
                  .join(documents.select("doc_id", "n_chars"), "doc_id"))
        assert joined.filter("computed != n_chars").count() == 0

    def test_detect_language_scores(self, spark):
        pdf = pd.DataFrame({
            "doc_id": [1, 2],
            "text": ["the cat and the dog is in that house for it",
                     "el perro y la casa es que un gato por los dias"],
        })
        out = {r["doc_id"]: r["lang_pred"]
               for r in textops.detect_language(
                   spark.createDataFrame(pdf)).collect()}
        assert out[1] == "en"
        assert out[2] == "es"

    def test_repetition_stats(self, spark):
        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3, 4],
            "text": [
                "same line\nsame line\nsame line\nunique line",  # 2/4 dup
                "spam spam spam spam spam",      # all 2-grams identical
                "a perfectly normal sentence with no repeats",
                "",                              # degenerate
            ]})
        out = {r["doc_id"]: r for r in
               textops.repetition_stats(
                   spark.createDataFrame(pdf)).collect()}
        assert out[1]["dup_line_frac"] == pytest.approx(0.5)
        assert out[1]["is_repetitive"]
        # 4 bigrams, all "spam spam" -> 3/4 duplicates
        assert out[2]["dup_2gram_frac"] == pytest.approx(0.75)
        assert out[2]["is_repetitive"]
        assert out[3]["dup_line_frac"] == 0.0
        assert out[3]["dup_2gram_frac"] == 0.0
        assert not out[3]["is_repetitive"]
        assert out[4]["dup_line_frac"] == 0.0
        assert not out[4]["is_repetitive"]

    def test_repetition_random_differential(self, spark):
        """Random word soups: the arrays_zip n-gram fractions must match
        a straightforward python reference exactly."""
        rng = np.random.default_rng(99)
        words = [f"w{i}" for i in range(12)]
        texts = [" ".join(rng.choice(words, size=int(n)))
                 for n in rng.integers(1, 60, size=30)]
        pdf = pd.DataFrame({"doc_id": range(30), "text": texts})
        out = {r["doc_id"]: r for r in
               textops.repetition_stats(
                   spark.createDataFrame(pdf)).collect()}

        def frac(toks, n):
            grams = [tuple(toks[i:i + n])
                     for i in range(len(toks) - n + 1)]
            return (len(grams) - len(set(grams))) / len(grams) \
                if grams else 0.0

        for i, t in enumerate(texts):
            toks = t.lower().split()
            assert out[i]["dup_2gram_frac"] == pytest.approx(
                round(frac(toks, 2), 6)), (i, t)
            assert out[i]["dup_3gram_frac"] == pytest.approx(
                round(frac(toks, 3), 6)), (i, t)

    def test_pii_stats_and_redaction(self, spark):
        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": [
                "mail me at jane.doe+x@example.co.uk or call +1 (555) 123-4567",
                "server at 192.168.0.1 and 10.0.0.255 responded",
                "nothing sensitive here at all",
            ]})
        out = {r["doc_id"]: r for r in
               textops.pii_stats(spark.createDataFrame(pdf),
                                 redacted=True).collect()}
        assert out[1]["n_emails"] == 1 and out[1]["n_phones"] == 1
        assert out[1]["has_pii"]
        assert "<EMAIL>" in out[1]["text_redacted"]
        assert "<PHONE>" in out[1]["text_redacted"]
        assert "jane.doe" not in out[1]["text_redacted"]
        assert out[2]["n_ipv4"] == 2
        assert out[2]["text_redacted"].count("<IP>") == 2
        assert not out[3]["has_pii"]
        assert out[3]["text_redacted"] == pdf["text"][2]

    def test_quality_filter(self, spark, documents):
        total = documents.count()
        kept = textops.quality_filter(documents, 0.5).count()
        assert 0 < kept <= total

    def test_token_summary(self, spark, documents):
        rows = textops.token_count_summary(documents).collect()
        langs = [r["lang"] for r in rows]
        assert langs == sorted(langs)
        assert sum(r["n_docs"] for r in rows) == documents.count()


class TestMultimodal:
    def test_decode_stub_raises_without_fake(self, spark, documents):
        payloads = multimodal.attach_fake_payloads(documents.limit(2))
        with pytest.raises(Exception) as exc_info:
            multimodal.decode_images(payloads).collect()
        assert "NotImplementedError" in str(exc_info.value) or \
            "image decode" in str(exc_info.value)

    def test_decode_fake_deterministic(self, spark, documents):
        payloads = multimodal.attach_fake_payloads(documents.limit(20))
        out = multimodal.decode_images(payloads, deterministic_fake=True)
        rows = out.collect()
        assert len(rows) == 20
        assert all(r["byte_size"] == 4096 for r in rows)
        assert all(len(r["features"]) == 8 for r in rows)
        assert all(64 <= r["width"] <= 256 for r in rows)
        # deterministic across runs
        again = {r["doc_id"]: r["sha256"] for r in
                 multimodal.decode_images(
                     payloads, deterministic_fake=True).collect()}
        assert {r["doc_id"]: r["sha256"] for r in rows} == again

    def test_frame_sampling_fanout(self, spark, documents):
        payloads = multimodal.attach_fake_payloads(documents.limit(3),
                                                   size=40960)
        out = multimodal.sample_frames(payloads, every_n=10,
                                       deterministic_fake=True)
        rows = out.collect()
        # 40960 bytes -> 40 frames -> sampled every 10 -> 4 per doc
        assert len(rows) == 12
        assert all(r["frame_index"] % 10 == 0 for r in rows)

    def test_resize_size_exact_and_deterministic(self, spark, documents):
        payloads = multimodal.attach_fake_payloads(documents.limit(10))
        out = multimodal.resize_images(payloads, target_w=16, target_h=16,
                                       deterministic_fake=True)
        rows = out.collect()
        assert len(rows) == 10
        for r in rows:
            assert (r["width"], r["height"]) == (16, 16)
            assert r["n_channels"] in (1, 3)
            assert len(r["payload"]) == 16 * 16 * r["n_channels"]
        again = {r["doc_id"]: bytes(r["payload"]) for r in
                 multimodal.resize_images(
                     payloads, target_w=16, target_h=16,
                     deterministic_fake=True).collect()}
        assert {r["doc_id"]: bytes(r["payload"]) for r in rows} == again

    def test_resize_raises_without_fake(self, spark, documents):
        payloads = multimodal.attach_fake_payloads(documents.limit(1))
        with pytest.raises(Exception) as exc_info:
            multimodal.resize_images(payloads).collect()
        assert "NotImplementedError" in str(exc_info.value) or \
            "image decode" in str(exc_info.value)

    def test_extract_features_chains_after_resize(self, spark, documents):
        payloads = multimodal.attach_fake_payloads(documents.limit(10))
        resized = multimodal.resize_images(payloads, deterministic_fake=True)
        feats = multimodal.extract_features(resized, dim=16,
                                            deterministic_fake=True)
        rows = feats.collect()
        assert len(rows) == 10
        assert all(len(r["features"]) == 16 for r in rows)
        assert all(0.0 <= v <= 1.0 for r in rows for v in r["features"])
        # digest-derived: same payloads give identical vectors
        again = {r["doc_id"]: tuple(r["features"]) for r in
                 multimodal.extract_features(
                     resized, dim=16, deterministic_fake=True).collect()}
        assert {r["doc_id"]: tuple(r["features"]) for r in rows} == again


class TestMultimodalRealDecode:
    """REAL decode paths (pure-numpy PPM/PGM/BMP/WAV) end-to-end in
    Spark — no deterministic_fake anywhere."""

    def test_ppm_decode_real(self, spark, documents):
        d = documents.limit(25)
        payloads = multimodal.attach_fake_payloads(d, media="ppm")
        rows = multimodal.decode_images(payloads).collect()
        assert len(rows) == 25
        for r in rows:
            # generator: w = 16 + id%17, h = 12 + id%13, RGB
            assert r["width"] == 16 + r["doc_id"] % 17
            assert r["height"] == 12 + r["doc_id"] % 13
            assert r["n_channels"] == 3
            assert len(r["features"]) == 8
            assert 0.0 <= r["features"][0] <= 1.0

    def test_png_decode_real(self, spark, documents):
        d = documents.limit(25)
        payloads = multimodal.attach_fake_payloads(d, media="png")
        rows = multimodal.decode_images(payloads).collect()
        assert len(rows) == 25
        for r in rows:
            assert r["width"] == 16 + r["doc_id"] % 17
            assert r["height"] == 12 + r["doc_id"] % 13
            assert r["n_channels"] == 3
            # real compression happened: gradient rasters shrink
            assert r["byte_size"] < (r["width"] * r["height"] * 3 + 100)

    def test_png_ppm_differential_identical_features(self, spark,
                                                     documents):
        """The PNG path (zlib + unfiltering, every filter type) must
        reconstruct byte-identical pixels to the PPM path for the same
        generator pattern — so decoded features match exactly."""
        d = documents.limit(30)
        ppm = multimodal.decode_images(
            multimodal.attach_fake_payloads(d, media="ppm")).collect()
        png = multimodal.decode_images(
            multimodal.attach_fake_payloads(d, media="png")).collect()
        by_id_ppm = {r["doc_id"]: r for r in ppm}
        for r in png:
            ref = by_id_ppm[r["doc_id"]]
            assert (r["width"], r["height"], r["n_channels"]) == \
                (ref["width"], ref["height"], ref["n_channels"])
            assert r["features"] == ref["features"]

    def test_png_unsupported_variants_raise(self, spark):
        import pytest as _pytest

        from xdlake_spark.operators.multimodal import (_encode_png,
                                                       _parse_png)
        import numpy as np
        pix = np.zeros((4, 4, 3), np.uint8)
        data = bytearray(_encode_png(pix))
        # corrupt IHDR bit depth 8 -> 16 (offset: 8 sig + 8 hdr + 8 = 24)
        data[24] = 16
        with _pytest.raises(NotImplementedError, match="8-bit"):
            _parse_png(bytes(data))
        data = bytearray(_encode_png(pix))
        data[28] = 3  # invalid interlace method
        with _pytest.raises(ValueError, match="interlace"):
            _parse_png(bytes(data))

    def test_png_adam7_roundtrip_matches_sequential(self):
        """Adam7: every pass geometry (odd sizes hit empty passes),
        every channel count, interleaved filters — the interlaced
        decode must equal the sequential decode of the same pixels."""
        import numpy as np

        from xdlake_spark.operators.multimodal import (_encode_png,
                                                       _parse_png)

        rng = np.random.default_rng(3)
        for h, w in [(1, 1), (3, 5), (7, 7), (8, 8), (9, 10), (16, 13),
                     (2, 31)]:
            for c in (1, 2, 3, 4):
                pix = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
                seq = _parse_png(_encode_png(pix, filter_cycle=True))
                inter = _parse_png(_encode_png(pix, filter_cycle=True,
                                               interlace=True))
                assert (seq == pix).all()
                assert (inter == pix).all(), (h, w, c)

    def test_png_adam7_flows_through_decode_images(self, spark,
                                                   documents):
        """An interlaced payload decodes through the full pipeline to
        the same features as its sequential twin."""
        import numpy as np

        from xdlake_spark.operators.multimodal import (_encode_png,
                                                       _parse_png,
                                                       _decode_pixels_real)

        rng = np.random.default_rng(5)
        pix = rng.integers(0, 256, size=(12, 9, 3), dtype=np.uint8)
        a = _decode_pixels_real(_encode_png(pix, interlace=True))
        b = _decode_pixels_real(_encode_png(pix))
        assert (a == b).all()

    def test_resize_then_decode_roundtrip_real(self, spark, documents):
        d = documents.limit(10)
        payloads = multimodal.attach_fake_payloads(d, media="ppm")
        resized = multimodal.resize_images(payloads, target_w=8,
                                           target_h=6)
        back = multimodal.decode_images(resized).collect()
        assert len(back) == 10
        assert all((r["width"], r["height"], r["n_channels"])
                   == (8, 6, 3) for r in back)

    def test_extract_histogram_features_real(self, spark, documents):
        d = documents.limit(10)
        payloads = multimodal.attach_fake_payloads(d, media="ppm")
        rows = multimodal.extract_features(payloads, dim=16).collect()
        assert len(rows) == 10
        for r in rows:
            assert len(r["features"]) == 16
            assert sum(r["features"]) == pytest.approx(1.0, abs=1e-3)

    def test_mp3_tone_chunks_real(self, spark, documents):
        """Full Layer III decode inside Spark: real-spectrum tone MP3s
        (operators/mp3.py encoder) chunked via _parse_audio ->
        decode_mp3; steady-state RMS must match the id-keyed tone
        amplitude (stereo docs downmix the half-amplitude right
        channel: x0.75)."""
        d = documents.filter(F.col("doc_id") < 8)
        payloads = multimodal.attach_fake_payloads(d, media="mp3_tone")
        rows = multimodal.chunk_audio(payloads,
                                      chunk_seconds=0.024).collect()
        per_doc: dict = {}
        for r in rows:
            per_doc.setdefault(r["doc_id"], []).append(r)
        assert len(per_doc) == 8
        for doc_id, chunks in per_doc.items():
            # 2304 samples per doc: 2 MPEG-1 frames at 48 kHz, or 4
            # MPEG-2 LSF frames at 22.05 kHz (every 3rd doc, r9)
            assert sum(c["n_samples"] for c in chunks) == 2304
            amp = 0.25 + 0.05 * (doc_id % 6)
            if doc_id % 6 == 5:
                # MPEG-1 intensity (r10): is_pos 0 pans the tone
                # fully right, left silent -> downmix halves it
                amp *= 0.5
            elif doc_id % 2:                # stereo: mono downmix
                amp *= 0.75
            expect = amp / np.sqrt(2.0)
            steady = max(c["rms"] for c in chunks)
            # codec SNR ~21 dB (coarse quantizer): 15% tolerance
            assert abs(steady - expect) / expect < 0.15, \
                (doc_id, steady, expect)

    def test_wav_chunks_real(self, spark, documents):
        d = documents.limit(10)
        payloads = multimodal.attach_fake_payloads(d, media="wav")
        rows = multimodal.chunk_audio(payloads,
                                      chunk_seconds=0.1).collect()
        # 0.25 s at 8 kHz -> 2000 samples -> 3 chunks of <=800
        per_doc: dict = {}
        for r in rows:
            per_doc.setdefault(r["doc_id"], []).append(r)
        assert len(per_doc) == 10
        for chunks in per_doc.values():
            assert len(chunks) == 3
            assert sorted(c["chunk_index"] for c in chunks) == [0, 1, 2]
            assert sum(c["n_samples"] for c in chunks) == 2000
            for c in chunks:
                # 0.5-amplitude sine: rms ~= 0.354, peak <= 0.5
                assert 0.2 < c["rms"] < 0.4
                assert 0.3 < c["peak"] <= 0.51

    def test_bmp_decode_real(self, spark):
        import struct

        import numpy as np
        wpx, hpx = 5, 4
        row = (wpx * 3 + 3) // 4 * 4
        rgb = np.arange(wpx * hpx * 3, dtype=np.uint8) \
            .reshape(hpx, wpx, 3)
        px = np.zeros((hpx, row), np.uint8)
        px[:, :wpx * 3] = rgb[..., ::-1].reshape(hpx, wpx * 3)[::-1]
        off = 14 + 40
        bmp = (b"BM" + struct.pack("<IHHI", off + px.size, 0, 0, off)
               + struct.pack("<IiiHHIIiiII", 40, wpx, hpx, 1, 24, 0,
                             px.size, 2835, 2835, 0, 0) + px.tobytes())
        df = spark.createDataFrame([(1, bytearray(bmp))],
                                   "doc_id: long, payload: binary")
        r = multimodal.decode_images(df).collect()[0]
        assert (r["width"], r["height"], r["n_channels"]) == (5, 4, 3)

    def test_unknown_format_still_raises(self, spark):
        # a TIFF magic payload must fail loudly, not decode garbage
        df = spark.createDataFrame(
            [(1, bytearray(b"II*\x00" + b"x" * 64))],
            "doc_id: long, payload: binary")
        with pytest.raises(Exception) as exc_info:
            multimodal.decode_images(df).collect()
        assert "NotImplementedError" in str(exc_info.value) or \
            "PPM" in str(exc_info.value)

    def test_jpeg_decode_real(self, spark, documents):
        d = documents.limit(25)
        payloads = multimodal.attach_fake_payloads(d, media="jpeg")
        rows = multimodal.decode_images(payloads).collect()
        assert len(rows) == 25
        for r in rows:
            assert r["width"] == 16 + r["doc_id"] % 17
            assert r["height"] == 12 + r["doc_id"] % 13
            assert r["n_channels"] == 3

    def test_jpeg_ppm_differential_features_close(self, spark,
                                                  documents):
        """JPEG is lossy, so the decoded features must be CLOSE to the
        PPM ground truth (same generator pixels), never equal-by-luck:
        mean-intensity feature within a few gray levels at quality 92."""
        d = documents.limit(20)
        ppm = {r["doc_id"]: r for r in multimodal.decode_images(
            multimodal.attach_fake_payloads(d, media="ppm")).collect()}
        jpg = multimodal.decode_images(
            multimodal.attach_fake_payloads(d, media="jpeg")).collect()
        for r in jpg:
            ref = ppm[r["doc_id"]]
            assert (r["width"], r["height"], r["n_channels"]) == \
                (ref["width"], ref["height"], ref["n_channels"])
            # feature[0] is mean/255; the generator raster is noisy
            # (mod-256 wraps), so allow a few gray levels of drift
            assert abs(r["features"][0] - ref["features"][0]) < 0.04

    def test_gif_decode_real(self, spark, documents):
        d = documents.limit(24)
        payloads = multimodal.attach_fake_payloads(d, media="gif")
        rows = multimodal.decode_images(payloads).collect()
        assert len(rows) == 24
        for r in rows:
            assert r["width"] == 16 + r["doc_id"] % 17
            assert r["height"] == 12 + r["doc_id"] % 13
            assert r["n_channels"] == 3

    def test_avi_frame_sampling_real(self, spark, documents):
        """MJPEG AVI payloads: the RIFF walk + per-frame JPEG decode
        runs for real — sampled rows carry true frame dims and a hash
        of the DECODED pixels (stable across runs)."""
        d = documents.limit(8)
        payloads = multimodal.attach_fake_payloads(d, media="avi")
        rows = multimodal.sample_frames(payloads, every_n=5).collect()
        per_doc: dict = {}
        for r in rows:
            per_doc.setdefault(r["doc_id"], []).append(r)
        assert len(per_doc) == 8
        for doc_id, frames in per_doc.items():
            # 12 frames sampled every 5 -> indexes 0, 5, 10
            assert sorted(f["frame_index"] for f in frames) == [0, 5, 10]
            for f in frames:
                assert f["width"] == 16 + doc_id % 17
                assert f["height"] == 12 + doc_id % 13
                assert len(f["frame_sha256"]) == 64
        again = {(r["doc_id"], r["frame_index"]): r["frame_sha256"]
                 for r in multimodal.sample_frames(
                     payloads, every_n=5).collect()}
        for r in rows:
            assert again[(r["doc_id"], r["frame_index"])] == \
                r["frame_sha256"]

    def test_animated_gif_frame_sampling_real(self, spark, documents):
        """Animated GIF payloads run the full composition decode
        (transparency + per-id disposal method) — 12 frames sampled
        every 4 at logical-screen dimensions, deterministic digests."""
        d = documents.limit(9)
        payloads = multimodal.attach_fake_payloads(d, media="agif")
        rows = multimodal.sample_frames(payloads, every_n=4).collect()
        per_doc: dict = {}
        for r in rows:
            per_doc.setdefault(r["doc_id"], []).append(r)
        assert len(per_doc) == 9
        for doc_id, frames in per_doc.items():
            assert sorted(f["frame_index"] for f in frames) == [0, 4, 8]
            for f in frames:
                assert f["width"] == 16 + doc_id % 17
                assert f["height"] == 12 + doc_id % 13

    def test_mp4_video_still_raises(self, spark):
        df = spark.createDataFrame(
            [(1, bytearray(b"\x00\x00\x00\x20ftypisom" + b"x" * 64))],
            "doc_id: long, payload: binary")
        with pytest.raises(Exception) as exc_info:
            multimodal.sample_frames(df, every_n=2).collect()
        assert "MJPEG AVI" in str(exc_info.value)

    @pytest.mark.parametrize("kind,rms_lo,rms_hi", [
        ("wav_ulaw", 0.2, 0.4), ("wav_alaw", 0.2, 0.4),
        ("wav_adpcm", 0.2, 0.4), ("wav_f32", 0.2, 0.4),
        ("flac", 0.2, 0.4)])
    def test_wav_codec_variants_chunk_real(self, spark, documents,
                                           kind, rms_lo, rms_hi):
        """G.711 / IMA-ADPCM / float WAV payloads chunk identically to
        the PCM16 path: same chunk geometry, energy within codec
        tolerance of the 0.5-amplitude sine."""
        d = documents.limit(6)
        payloads = multimodal.attach_fake_payloads(d, media=kind)
        rows = multimodal.chunk_audio(payloads,
                                      chunk_seconds=0.1).collect()
        per_doc: dict = {}
        for r in rows:
            per_doc.setdefault(r["doc_id"], []).append(r)
        assert len(per_doc) == 6
        for chunks in per_doc.values():
            assert sorted(c["chunk_index"] for c in chunks) == [0, 1, 2]
            assert sum(c["n_samples"] for c in chunks) == 2000
            for c in chunks:
                assert rms_lo < c["rms"] < rms_hi
                assert 0.3 < c["peak"] <= 0.55


class TestWinnowing:
    def test_edit_robustness(self, spark):
        """An edit at one end leaves most fingerprints shared (the
        winnowing guarantee that md5-style whole-doc hashing lacks)."""
        from xdlake_spark.operators.text import winnow_fingerprints
        base = "the quick brown fox jumps over the lazy dog " * 8
        df = spark.createDataFrame(
            [(1, base), (2, base + " EDITED TAIL!")],
            "doc_id LONG, text STRING")
        out = winnow_fingerprints(df)
        a = {r["fingerprint"] for r in out.filter("doc_id = 1").collect()}
        b = {r["fingerprint"] for r in out.filter("doc_id = 2").collect()}
        overlap = len(a & b) / max(len(a | b), 1)
        assert overlap > 0.7
        assert a != b

    def test_short_and_empty_texts(self, spark):
        from xdlake_spark.operators.text import winnow_fingerprints
        df = spark.createDataFrame(
            [(1, "ab"), (2, "   "), (3, "")],
            "doc_id LONG, text STRING")
        rows = winnow_fingerprints(df).collect()
        # whitespace-only and empty texts vanish; short text -> 1 print
        assert {r["doc_id"] for r in rows} == {1}
        assert len(rows) == 1

    def test_rolling_hash_deterministic(self, spark, documents):
        from xdlake_spark.functions.text import rolling_hash
        a = documents.select(rolling_hash(F.col("text")).alias("h")).collect()
        b = documents.select(rolling_hash(F.col("text")).alias("h")).collect()
        assert [r["h"] for r in a] == [r["h"] for r in b]
        assert all(0 <= r["h"] < (1 << 31) for r in a)


class TestConnectedComponents:
    def test_chain_and_clique(self, spark):
        # chain 1-2-3-4 (diameter 3), clique {10,11,12}, isolated pair
        edges = spark.createDataFrame(
            pd.DataFrame({"id_a": [1, 2, 3, 10, 10, 11, 20],
                          "id_b": [2, 3, 4, 11, 12, 12, 21]}))
        comp = {r["id"]: r["component"]
                for r in dedup.connected_components(edges).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 4: 1,
                        10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    def test_star_converges_one_round(self, spark):
        edges = spark.createDataFrame(
            pd.DataFrame({"id_a": [0] * 5, "id_b": [1, 2, 3, 4, 5]}))
        comp = {r["id"]: r["component"]
                for r in dedup.connected_components(edges).collect()}
        assert set(comp.values()) == {0}

    def test_keepers(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2, 3, 4, 9],
                          "text": ["a", "b", "c", "d", "e"]}))
        pairs = spark.createDataFrame(
            pd.DataFrame({"id_a": [1, 2], "id_b": [2, 3]}))
        kept = sorted(r["doc_id"] for r in
                      dedup.dedup_keepers_from_pairs(df, pairs).collect())
        # component {1,2,3} keeps 1; 4 and 9 unpaired
        assert kept == [1, 4, 9]


class TestBoundedBucketPairs:
    """The LSH skew valve: hot buckets tile into bounded block tasks
    with output identical to the naive bucket self-join."""

    def test_hot_bucket_exact_pairs(self, spark):
        n = 300
        entries = spark.createDataFrame(
            pd.DataFrame({"id": range(n), "band": [0] * n,
                          "bucket": [7] * n}))
        rows = dedup._bounded_bucket_pairs(
            entries, ["band", "bucket"], bucket_cap=50).collect()
        got = {(r["id_a"], r["id_b"]) for r in rows}
        assert len(rows) == len(got) == n * (n - 1) // 2
        assert all(a < b for a, b in got)

    def test_salt_groups_bounded(self, spark):
        # the per-task pair work is (left salt group) x (right salt
        # group); assert no salt group materially exceeds the cap
        n, cap = 300, 50
        entries = spark.createDataFrame(
            pd.DataFrame({"id": range(n), "band": [0] * n,
                          "bucket": [7] * n}))
        ns = -(-n // cap)
        sizes = (entries
                 .withColumn("__salt", F.pmod(F.xxhash64("id"), F.lit(ns)))
                 .groupBy("__salt").count().collect())
        assert len(sizes) == ns
        assert max(r["count"] for r in sizes) <= 2 * cap

    def test_payload_and_small_buckets(self, spark):
        entries = spark.createDataFrame(
            pd.DataFrame({"id": [3, 1, 2, 10, 11],
                          "band": [0, 0, 0, 1, 1],
                          "bucket": [5, 5, 5, 9, 9],
                          "tag": ["c", "a", "b", "x", "y"]}))
        rows = {(r["id_a"], r["id_b"]): (r["tag_a"], r["tag_b"])
                for r in dedup._bounded_bucket_pairs(
                    entries, ["band", "bucket"], payload=["tag"],
                    bucket_cap=2000).collect()}
        assert rows == {(1, 2): ("a", "b"), (1, 3): ("a", "c"),
                        (2, 3): ("b", "c"), (10, 11): ("x", "y")}

    @pytest.mark.parametrize("seed,cap", [(1, 1), (2, 3), (3, 7), (4, 10**6)])
    def test_randomized_differential_vs_naive(self, spark, seed, cap):
        """Random bucket memberships, extreme caps (cap=1 = maximal
        tiling): pair set must equal the naive per-bucket combinations,
        and multiplicity (distinct=False) must equal per-bucket
        co-occurrence counts."""
        import itertools
        from collections import Counter

        import pyarrow as pa

        rng = np.random.default_rng(seed)
        n_ids, n_buckets = 40, 6
        rows = [(int(i), int(b))
                for i in range(n_ids) for b in range(n_buckets)
                if rng.random() < 0.4]
        entries = spark.createDataFrame(pa.Table.from_pandas(
            pd.DataFrame(rows, columns=["id", "bucket"])))
        # a LocalRelation with one row per (id, bucket): its row count
        # bounds every bucket, so a bound at or below the cap (cap=10**6)
        # runs the plain self-join, and the others tile
        bound = plan_max_rows(entries)
        assert bound == len(rows)

        by_bucket: dict[int, list[int]] = {}
        for i, b in rows:
            by_bucket.setdefault(b, []).append(i)
        want = Counter()
        for members in by_bucket.values():
            for x, y in itertools.combinations(sorted(members), 2):
                want[(x, y)] += 1

        for max_members in (None, bound):
            multi = dedup._bounded_bucket_pairs(
                entries, ["bucket"], bucket_cap=cap, distinct=False,
                max_members=max_members)
            assert _tiled(multi) == (max_members is None or bound > cap)
            got_multi = Counter((r["id_a"], r["id_b"])
                                for r in multi.collect())
            assert got_multi == want

            got_set = sorted(
                (r["id_a"], r["id_b"]) for r in dedup._bounded_bucket_pairs(
                    entries, ["bucket"], bucket_cap=cap,
                    max_members=max_members).collect())
            assert got_set == sorted(set(want))

    def test_minhash_capped_equals_uncapped_on_hot_bucket(
            self, spark, documents, tmpdir):
        # 120 identical docs = one hot bucket in every band; tiling must
        # not change the result. The union is bounded at 180 rows: above
        # cap 20 it tiles, below cap 10**9 it runs the plain self-join;
        # the same rows as a file scan carry no bound and tile.
        base = documents.limit(60).select("doc_id", "text")
        one = documents.limit(1).select("text")
        hot = (spark.range(120)
               .select((F.col("id") + 500000).alias("doc_id"))
               .crossJoin(one))
        corpus = base.unionByName(hot)
        assert plan_max_rows(corpus) == 180

        def pairs(df, cap, tiled):
            out = dedup.minhash_lsh_pairs(df, threshold=0.7, bucket_cap=cap)
            assert _tiled(out) == tiled
            return sorted((r["id_a"], r["id_b"], round(r["jaccard"], 9))
                          for r in out.collect())

        plain = pairs(corpus, 10**9, tiled=False)
        assert pairs(corpus, 20, tiled=True) == plain
        scan = _unbounded(spark, corpus, f"{tmpdir}/corpus")
        assert pairs(scan, 10**9, tiled=True) == plain

    def test_ngram_jaccard_capped_equals_uncapped(self, spark, documents):
        base = documents.limit(60).select("doc_id", "text")
        one = documents.limit(1).select("text")
        hot = (spark.range(80)
               .select((F.col("id") + 500000).alias("doc_id"))
               .crossJoin(one))
        corpus = base.unionByName(hot)

        def pairs(cap):
            return sorted(
                (r["id_a"], r["id_b"], round(r["jaccard"], 9))
                for r in dedup.ngram_jaccard_pairs(
                    corpus, threshold=0.5, bucket_cap=cap).collect())

        capped = pairs(15)
        assert capped == pairs(10**9)
        # hot group fully paired with jaccard exactly 1
        hot_pairs = [p for p in capped if p[0] >= 500000]
        assert len(hot_pairs) == 80 * 79 // 2
        assert all(j == 1.0 for _, _, j in hot_pairs)

    def test_winnow_arrow_equals_jvm(self, spark, documents):
        """The vectorized winnowing path must reproduce the JVM
        expression path bit-for-bit (same pattern as simhash)."""
        d = documents.limit(300)
        jvm = {(r["doc_id"], r["fingerprint"]) for r in
               textops.winnow_fingerprints(d, use_arrow=False).collect()}
        arr = {(r["doc_id"], r["fingerprint"]) for r in
               textops.winnow_fingerprints(d, use_arrow=True).collect()}
        assert jvm == arr and len(jvm) > 0

    def test_winnow_arrow_edge_cases(self, spark):
        # short-text (< k chars), whitespace-only, empty, unicode
        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3, 4, 5],
            "text": ["ab", "   ", "", "héllo wörld ünïcode text",
                     "Tab\tand\nnewline   spaces"]})
        d = spark.createDataFrame(pdf)
        jvm = {(r["doc_id"], r["fingerprint"]) for r in
               textops.winnow_fingerprints(d, use_arrow=False).collect()}
        arr = {(r["doc_id"], r["fingerprint"]) for r in
               textops.winnow_fingerprints(d, use_arrow=True).collect()}
        assert jvm == arr

    def test_winnow_arrow_unicode_whitespace(self, spark):
        """Non-ASCII whitespace at string edges: Java's \\s is ASCII-only,
        so the JVM path keeps a leading \\u00a0 / \\u3000; the arrow path
        must not python-strip() it away."""
        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": [" padded with nbsp ",
                     "　ideographic space lead",
                     "mixed   inner and outer "]})
        d = spark.createDataFrame(pdf)
        jvm = {(r["doc_id"], r["fingerprint"]) for r in
               textops.winnow_fingerprints(d, use_arrow=False).collect()}
        arr = {(r["doc_id"], r["fingerprint"]) for r in
               textops.winnow_fingerprints(d, use_arrow=True).collect()}
        assert jvm == arr

    def test_winnow_valve_noop_at_low_df(self, spark, documents):
        """max_doc_freq above every fingerprint's document frequency
        must be a semantic no-op (same pattern as capped==uncapped)."""
        d = documents.limit(80).select("doc_id", "text")

        def pairs(mdf):
            return sorted(
                (r["id_a"], r["id_b"], r["n_shared"],
                 round(r["overlap"], 9))
                for r in textops.winnow_overlap_pairs(
                    d, threshold=0.3, max_doc_freq=mdf).collect())

        assert pairs(10**9) == pairs(None)

    def test_winnow_valve_drops_boilerplate(self, spark, documents):
        """Fingerprints shared by more than max_doc_freq docs are
        dropped from index AND denominators: a clone group larger than
        the valve loses all its (identical) fingerprints, so none of
        its pairs can appear."""
        base = documents.limit(30).select("doc_id", "text")
        one = documents.limit(1).select("text")
        hot = (spark.range(40)
               .select((F.col("id") + 500000).alias("doc_id"))
               .crossJoin(one))
        corpus = base.unionByName(hot)
        valve = {(r["id_a"], r["id_b"])
                 for r in textops.winnow_overlap_pairs(
                     corpus, threshold=0.5, max_doc_freq=35).collect()}
        assert not any(a >= 500000 for a, _ in valve)

    def test_winnow_capped_equals_uncapped(self, spark, documents):
        base = documents.limit(60).select("doc_id", "text")
        one = documents.limit(1).select("text")
        hot = (spark.range(50)
               .select((F.col("id") + 500000).alias("doc_id"))
               .crossJoin(one))
        corpus = base.unionByName(hot)

        def pairs(cap):
            return sorted(
                (r["id_a"], r["id_b"], r["n_shared"],
                 round(r["overlap"], 9))
                for r in textops.winnow_overlap_pairs(
                    corpus, threshold=0.5, bucket_cap=cap).collect())

        assert pairs(10) == pairs(10**9)

    def test_simhash_capped_equals_uncapped(self, spark, docs_with_dups):
        def pairs(cap):
            return sorted(
                (r["id_a"], r["id_b"], r["hamming"])
                for r in dedup.simhash_pairs(
                    docs_with_dups, max_hamming=3,
                    bucket_cap=cap).collect())

        assert pairs(16) == pairs(10**9)

    def test_embedding_lsh_capped_equals_uncapped(self, spark, embeddings):
        emb = embeddings.limit(300)

        def pairs(cap):
            return sorted(
                (r["id_a"], r["id_b"], round(r["cosine"], 9))
                for r in dedup.embedding_neardup_pairs(
                    emb, threshold=0.9, bucket_cap=cap).collect())

        assert pairs(10) == pairs(10**9)


class TestConnectedComponentsScale:
    """Large-star/small-star: round count is O(log^2 n) on ANY shape —
    the chain graph that degrades label propagation to O(n) rounds."""

    def test_long_chain_bounded_rounds(self, spark):
        n = 2000
        edges = spark.createDataFrame(
            pd.DataFrame({"id_a": range(n - 1), "id_b": range(1, n)}))
        # driver_threshold=0 forces the distributed star contraction
        comp = dedup.connected_components(edges, max_iter=15,
                                          driver_threshold=0)
        assert comp.count() == n
        assert comp.filter("component != 0").count() == 0

    def test_driver_path_equals_distributed(self, spark):
        rng = np.random.default_rng(23)
        a = rng.integers(0, 300, size=500)
        b = rng.integers(0, 300, size=500)
        edges = spark.createDataFrame(pd.DataFrame({"id_a": a, "id_b": b}))
        fast = {(r["id"], r["component"]) for r in
                dedup.connected_components(edges).collect()}
        dist = {(r["id"], r["component"]) for r in
                dedup.connected_components(
                    edges, driver_threshold=0).collect()}
        assert fast == dist

    def test_random_graph_matches_union_find(self, spark):
        rng = np.random.default_rng(7)
        a = rng.integers(0, 500, size=800)
        b = rng.integers(0, 500, size=800)
        edges = spark.createDataFrame(pd.DataFrame({"id_a": a, "id_b": b}))

        parent = list(range(500))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for x, y in zip(a.tolist(), b.tolist()):
            parent[find(x)] = find(y)
        want = {}
        touched = set(a.tolist()) | set(b.tolist())
        roots = {}
        for x in sorted(touched):
            r = find(x)
            roots.setdefault(r, x)  # min id in component
            want[x] = roots[r]

        got = {r["id"]: r["component"]
               for r in dedup.connected_components(
                   edges, driver_threshold=0).collect()}
        assert got == want

    def test_non_convergence_raises(self, spark):
        n = 64
        edges = spark.createDataFrame(
            pd.DataFrame({"id_a": range(n - 1), "id_b": range(1, n)}))
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.connected_components(edges, max_iter=1,
                                       driver_threshold=0)


class TestContamination:
    def test_embedded_benchmark_detected(self, spark):
        bench_text = "the quick brown fox jumps over the lazy dog"
        train = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2],
            "text": [
                "intro text " + bench_text + " trailing words here",
                "completely unrelated training document content",
            ]}))
        evals = spark.createDataFrame(pd.DataFrame({
            "doc_id": [100, 200],
            "text": [bench_text,
                     "another benchmark item nothing shares"]}))
        got = {(r["train_id"], r["eval_id"]): r["containment"]
               for r in dedup.contamination_pairs(
                   train, evals, threshold=0.8).collect()}
        # doc 1 fully contains the benchmark: every 3-gram of the eval
        # doc appears in the train doc
        assert got == {(1, 100): pytest.approx(1.0)}

    def test_jaccard_blind_containment_caught(self, spark):
        # short eval doc inside a LONG train doc: jaccard would be tiny,
        # containment is 1.0 — the reason decontamination uses it
        short = "alpha beta gamma delta"
        long_doc = " ".join(f"w{i}" for i in range(300)) + " " + short
        train = spark.createDataFrame(pd.DataFrame(
            {"doc_id": [1], "text": [long_doc]}))
        evals = spark.createDataFrame(pd.DataFrame(
            {"doc_id": [9], "text": [short]}))
        out = dedup.contamination_pairs(train, evals,
                                        threshold=0.99).collect()
        assert len(out) == 1 and out[0]["containment"] == pytest.approx(1.0)

    def test_max_doc_freq_shrinks_denominator_too(self, spark):
        """The valve must drop train-hot shingles from the eval side
        and the containment denominator, not just the index — else an
        eval item built from common shingles is systematically
        undercounted (false negatives)."""
        train = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3, 4, 5],
            "text": ["x y", "x f2", "x f3", "x f4", "x f5"]}))
        evals = spark.createDataFrame(pd.DataFrame(
            {"doc_id": [9], "text": ["x y"]}))
        # x has train df=5 > 3 -> dropped everywhere; surviving eval set
        # is {y}, fully covered by train doc 1 -> containment 1.0 (the
        # index-only drop would have scored 1/2 and missed it)
        got = {(r["train_id"], r["eval_id"]): r["containment"]
               for r in dedup.contamination_pairs(
                   train, evals, k_shingle=1, threshold=0.8,
                   max_doc_freq=3).collect()}
        assert got == {(1, 9): pytest.approx(1.0)}

    def test_max_doc_freq_keeps_unseen_eval_shingles(self, spark):
        """Eval shingles absent from train still count in the
        denominator — the valve removes train-hot shingles only."""
        train = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3], "text": ["a b", "a c", "a d"]}))
        evals = spark.createDataFrame(pd.DataFrame(
            {"doc_id": [9], "text": ["b zzz"]}))
        # 'a' dropped (df=3 > 2); eval set {b, zzz}: b matched by train
        # 1, zzz unseen but still in the denominator -> containment 0.5
        got = {(r["train_id"], r["eval_id"]): r["containment"]
               for r in dedup.contamination_pairs(
                   train, evals, k_shingle=1, threshold=0.4,
                   max_doc_freq=2).collect()}
        assert got == {(1, 9): pytest.approx(0.5)}


class TestParagraphDedup:
    def test_first_occurrence_wins(self, spark):
        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": [
                "intro\nshared boilerplate\nbody one",
                "shared boilerplate\nbody two",
                "body two\n\nbody three",
            ]})
        out = {r["doc_id"]: r["text"] for r in
               dedup.paragraph_dedup(
                   spark.createDataFrame(pdf)).collect()}
        assert out[1] == "intro\nshared boilerplate\nbody one"
        assert out[2] == "body two"        # boilerplate deduped away
        # "body two" already claimed by doc 2; empty line kept
        assert out[3] == "\nbody three"

    def test_all_deduped_doc_survives_empty(self, spark):
        pdf = pd.DataFrame({
            "doc_id": [1, 2],
            "text": ["only para", "only para"]})
        out = {r["doc_id"]: r["text"] for r in
               dedup.paragraph_dedup(
                   spark.createDataFrame(pdf)).collect()}
        assert out == {1: "only para", 2: ""}

    def test_within_doc_repeats_collapse(self, spark):
        pdf = pd.DataFrame({
            "doc_id": [7],
            "text": ["x\nx\nx\ny"]})
        out = dedup.paragraph_dedup(spark.createDataFrame(pdf)).collect()
        assert out[0]["text"] == "x\ny"

    def test_sep_is_literal_not_regex(self, spark):
        """A separator containing regex metacharacters must split
        literally ('.' used to split on EVERY character; '||' threw)."""
        pdf = pd.DataFrame({
            "doc_id": [1, 2],
            "text": ["aaa.bbb.aaa", "bbb.ccc"]})
        out = {r["doc_id"]: r["text"] for r in
               dedup.paragraph_dedup(
                   spark.createDataFrame(pdf), sep=".").collect()}
        assert out == {1: "aaa.bbb", 2: "ccc"}

        pdf2 = pd.DataFrame({"doc_id": [1], "text": ["p||q||p"]})
        out2 = dedup.paragraph_dedup(
            spark.createDataFrame(pdf2), sep="||").collect()
        assert out2[0]["text"] == "p||q"


class TestSampling:
    def test_hash_split_stable_and_proportional(self, spark, documents):
        from xdlake_spark.operators import sampling
        out = sampling.hash_split(
            documents, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        counts = {r["split"]: r["n"] for r in
                  out.groupBy("split").agg(
                      F.count(F.lit(1)).alias("n")).collect()}
        total = sum(counts.values())
        assert 0.6 < counts.get("train", 0) / total < 0.95
        # identical assignment regardless of partition layout
        a = {r["doc_id"]: r["split"] for r in out.collect()}
        b = {r["doc_id"]: r["split"]
             for r in sampling.hash_split(
                 documents.repartition(17), "doc_id",
                 {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
        assert a == b
        with pytest.raises(ValueError, match="sum to 1"):
            sampling.hash_split(documents, "doc_id", {"a": 0.5})

    def test_stratum_cap(self, spark, documents):
        from xdlake_spark.operators import sampling
        out = sampling.stratum_cap(documents, "lang", "doc_id", cap=7)
        per = out.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
        assert all(r["n"] <= 7 for r in per.collect())
        # deterministically the lowest ids per stratum
        langs = [r["lang"] for r in
                 documents.select("lang").distinct().collect()]
        for lang in langs[:2]:
            got = sorted(r["doc_id"] for r in
                         out.filter(F.col("lang") == lang).collect())
            exp = sorted(r["doc_id"] for r in
                         documents.filter(F.col("lang") == lang)
                         .collect())[:7]
            assert got == exp

    def test_shuffle_order_epochs_differ(self, spark, documents):
        from xdlake_spark.operators import sampling
        e0 = [r["doc_id"] for r in
              sampling.shuffle_order(documents, "doc_id", epoch=0)
              .orderBy("shuffle_key", "doc_id").collect()]
        e1 = [r["doc_id"] for r in
              sampling.shuffle_order(documents, "doc_id", epoch=1)
              .orderBy("shuffle_key", "doc_id").collect()]
        assert sorted(e0) == sorted(e1)   # same corpus
        assert e0 != e1                   # different permutation
        # reproducible
        e0b = [r["doc_id"] for r in
               sampling.shuffle_order(documents, "doc_id", epoch=0)
               .orderBy("shuffle_key", "doc_id").collect()]
        assert e0 == e0b


class TestPacking:
    def _toks(self, spark):
        pdf = pd.DataFrame({
            "doc_id": range(10),
            "n_tok": [500, 600, 900, 100, 2048, 30, 1000, 1500, 400, 700],
        })
        return spark.createDataFrame(pdf)

    def test_running_sum_manual(self, spark):
        from xdlake_spark.operators import packing
        out = {r["doc_id"]: r["bin"] for r in
               packing.pack_running_sum(self._toks(spark), "n_tok",
                                        "doc_id", capacity=2048).collect()}
        # cumsums: 500,1100,2000,2100,4148,4178,5178,6678,7078,7778
        # bins:      0,   0,   0,   1,   2,   2,   2,   3,   3,   3
        assert out == {0: 0, 1: 0, 2: 0, 3: 1, 4: 2, 5: 2, 6: 2,
                       7: 3, 8: 3, 9: 3}

    def test_first_fit_valid_and_no_worse(self, spark):
        from xdlake_spark.operators import packing
        toks = self._toks(spark)
        packed = packing.pack_first_fit(toks, "n_tok", "doc_id",
                                        capacity=2048, n_buckets=1)
        rows = packed.collect()
        assert len(rows) == 10            # every doc placed exactly once
        per_bin: dict = {}
        for r in rows:
            per_bin.setdefault(r["bin"], 0)
            per_bin[r["bin"]] += min(max(r["n_tok"], 1), 2048)
        assert all(v <= 2048 for v in per_bin.values())  # capacity holds
        rs_bins = packing.pack_running_sum(
            toks, "n_tok", "doc_id", 2048).select("bin").distinct().count()
        assert len(per_bin) <= rs_bins    # FFD never uses more bins

    def test_packing_stats(self, spark):
        from xdlake_spark.operators import packing
        packed = packing.pack_running_sum(self._toks(spark), "n_tok",
                                          "doc_id", capacity=2048)
        stats = {r["bin"]: r for r in
                 packing.packing_stats(packed, "n_tok", 2048).collect()}
        assert stats[0]["n_docs"] == 3 and stats[0]["tokens"] == 2000
        assert stats[2]["fill"] == pytest.approx(2048 / 2048, abs=0.51)


class TestChunkDocuments:
    def test_windows_and_overlap(self, spark):
        from xdlake_spark.operators import packing
        text = " ".join(f"t{i}" for i in range(20))  # 20 tokens
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [7], "text": [text]}))
        rows = sorted(packing.chunk_documents(
            df, max_tokens=8, overlap=2).collect(),
            key=lambda r: r["chunk_index"])
        # stride 6: starts 0, 6, 12 -> ceil((20-8)/6)+1 = 3 chunks
        assert [r["chunk_index"] for r in rows] == [0, 1, 2]
        assert rows[0]["chunk_text"].split() == [f"t{i}" for i in range(8)]
        assert rows[1]["chunk_text"].split() == \
            [f"t{i}" for i in range(6, 14)]
        assert rows[2]["chunk_text"].split() == \
            [f"t{i}" for i in range(12, 20)]
        # consecutive chunks share exactly `overlap` tokens
        assert rows[0]["chunk_text"].split()[-2:] == \
            rows[1]["chunk_text"].split()[:2]
        assert [r["n_tokens"] for r in rows] == [8, 8, 8]
        assert rows[1]["chunk_id"] == 7 * (1 << 20) + 1

    def test_short_doc_single_window(self, spark):
        from xdlake_spark.operators import packing
        df = spark.createDataFrame(pd.DataFrame(
            {"doc_id": [1, 2], "text": ["a b c", "exactly four token doc"]}))
        rows = packing.chunk_documents(df, max_tokens=4,
                                       overlap=1).collect()
        got = {r["doc_id"]: (r["chunk_index"], r["chunk_text"],
                             r["n_tokens"]) for r in rows}
        assert len(rows) == 2
        assert got[1] == (0, "a b c", 3)
        assert got[2] == (0, "exactly four token doc", 4)

    def test_final_window_never_empty(self, spark):
        from xdlake_spark.operators import packing
        # n = max_tokens + 1: second window must hold overlap+1 tokens,
        # not a stray single token beyond an empty window
        text = " ".join(f"t{i}" for i in range(9))
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "text": [text]}))
        rows = sorted(packing.chunk_documents(
            df, max_tokens=8, overlap=2).collect(),
            key=lambda r: r["chunk_index"])
        assert [r["n_tokens"] for r in rows] == [8, 3]

    def test_invalid_overlap_raises(self, spark):
        from xdlake_spark.operators import packing
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "text": ["x"]}))
        with pytest.raises(ValueError, match="overlap"):
            packing.chunk_documents(df, max_tokens=8, overlap=8)

    def test_chains_into_pack(self, spark, documents):
        from xdlake_spark.operators import packing
        chunks = packing.chunk_documents(documents, max_tokens=16,
                                         overlap=4)
        packed = packing.pack_running_sum(chunks, "n_tokens", "chunk_id",
                                          capacity=64)
        stats = packing.packing_stats(packed, "n_tokens", 64).collect()
        # running-sum bins use absolute capacity-multiple boundaries, so
        # a bin can overshoot by at most one item (< max_tokens)
        assert all(r["tokens"] <= 64 + 16 - 1 for r in stats)
        # every chunk fits its window, so no chunk gets a lone bin from
        # the over-capacity clamp
        assert chunks.filter("n_tokens > 16").count() == 0


class TestWinnowOverlap:
    def test_identical_and_contained(self, spark):
        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3, 4],
            "text": ["the quick brown fox jumps over the lazy dog",
                     "the quick brown fox jumps over the lazy dog",
                     "the quick brown fox jumps over the lazy dog "
                     "and keeps running far away",
                     "completely unrelated words about ships and stars"],
        })
        out = {(r["id_a"], r["id_b"]): r["overlap"] for r in
               textops.winnow_overlap_pairs(
                   spark.createDataFrame(pdf), threshold=0.3).collect()}
        assert out[(1, 2)] == pytest.approx(1.0)   # identical
        assert out[(1, 3)] >= 0.8                  # containment caught
        assert not any(4 in p for p in out)        # unrelated not paired


class TestShardedPacking:
    def test_sharded_running_sum(self, spark, documents):
        from xdlake_spark.operators import packing, sampling
        toks = (documents
                .withColumn("n_tok",
                            F.size(F.split(F.trim(F.col("text")),
                                           r"\s+"))))
        sharded = sampling.shuffle_order(toks, "doc_id", n_shards=8)
        packed = packing.pack_running_sum(sharded, "n_tok", "doc_id",
                                          capacity=2048,
                                          shard_col="shard")
        rows = packed.select("doc_id", "shard", "bin", "n_tok").collect()
        assert len(rows) == documents.count()
        # bins never cross shards
        for r in rows:
            assert r["bin"] >> 32 == r["shard"]
        # running-sum invariant: a bin spans at most one capacity window
        # of cumulative tokens plus one straddling document, so its
        # total is strictly < 2x capacity
        fill: dict = {}
        for r in rows:
            fill.setdefault(r["bin"], []).append(
                min(max(r["n_tok"], 1), 2048))
        assert all(sum(v) < 2 * 2048 for v in fill.values())


class TestAudioChunks:
    def test_chunking_shape_and_energy(self, spark, documents):
        payloads = multimodal.attach_fake_payloads(
            documents.limit(20), size=16000)  # 8000 samples = 0.5s@16k
        out = multimodal.chunk_audio(payloads, sample_rate=16000,
                                     chunk_seconds=0.25,
                                     deterministic_fake=True)
        rows = out.collect()
        # 8000 samples / 4000-sample chunks = 2 chunks per doc
        assert len(rows) == 40
        by_doc: dict = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
            assert 0.0 <= r["rms"] <= r["peak"] <= 1.0
            assert r["n_samples"] == 4000
        assert all(sorted(c["chunk_index"] for c in v) == [0, 1]
                   for v in by_doc.values())

    def test_real_path_rejects_non_wav(self, spark, documents):
        # a non-RIFF payload through the REAL path must fail loudly,
        # never be silently interpreted as headerless PCM
        payloads = multimodal.attach_fake_payloads(documents.limit(1))
        out = multimodal.chunk_audio(payloads)
        import pytest as _p
        with _p.raises(Exception, match="RIFF|WAVE"):
            out.collect()


class TestCorpusAnalysis:
    def test_tfidf_manual(self, spark):
        from xdlake_spark.operators import corpus
        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": ["apple banana apple", "banana cherry", "cherry dates"]})
        out = corpus.tfidf_top_terms(spark.createDataFrame(pdf),
                                     k=2, min_df=1).collect()
        import math
        got = {(r["doc_id"], r["term"]): (r["tf"], r["df"], r["score"])
               for r in out}
        # apple: tf 2 in doc1, df 1 -> 2*ln(3)
        assert got[(1, "apple")] == (2, 1, round(2 * math.log(3), 6))
        # banana in doc1: tf 1, df 2 -> ln(1.5)
        assert got[(1, "banana")] == (1, 2, round(math.log(1.5), 6))
        # every doc yields at most k rows
        per_doc: dict = {}
        for (d, _t2), _ in got.items():
            per_doc[d] = per_doc.get(d, 0) + 1
        assert all(v <= 2 for v in per_doc.values())

    def test_vocab_coverage_monotonic(self, spark, documents):
        from xdlake_spark.operators import corpus
        rows = sorted(corpus.build_vocab(documents).collect(),
                      key=lambda r: r["rank"])
        assert rows[0]["rank"] == 1
        # counts non-increasing, coverage non-decreasing to ~1.0
        ns = [r["n"] for r in rows]
        assert ns == sorted(ns, reverse=True)
        covs = [r["coverage"] for r in rows]
        assert covs == sorted(covs)
        assert covs[-1] == pytest.approx(1.0, abs=1e-4)

    def test_corpus_mix_fractions_sum_to_one(self, spark, documents):
        from xdlake_spark.operators import corpus
        rows = corpus.corpus_mix(documents).collect()
        assert sum(r["doc_frac"] for r in rows) == pytest.approx(1.0,
                                                                 abs=1e-3)
        assert sum(r["token_frac"] for r in rows) == pytest.approx(
            1.0, abs=1e-3)
        assert sum(r["n_docs"] for r in rows) == documents.count()

    def test_encoding_quality_flags_mojibake(self, spark):
        from xdlake_spark.operators import corpus
        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": ["perfectly clean text here",
                     "damag�d t�xt with r�placements",
                     "ctrl\x01char\x02soup"]})
        got = {r["doc_id"]: r for r in corpus.encoding_quality(
            spark.createDataFrame(pdf)).collect()}
        assert got[1]["is_clean"] and got[1]["bad_frac"] == 0.0
        assert got[2]["n_replacement"] == 3 and not got[2]["is_clean"]
        assert got[3]["n_control"] == 2 and not got[3]["is_clean"]
        # tab/newline are NOT control-flagged
        pdf2 = pd.DataFrame({"doc_id": [9], "text": ["a\tb\nc\rd"]})
        r = corpus.encoding_quality(spark.createDataFrame(pdf2)).collect()[0]
        assert r["n_control"] == 0 and r["is_clean"]

    def test_length_report_exact_percentiles(self, spark):
        from xdlake_spark.operators import corpus
        pdf = pd.DataFrame({
            "doc_id": range(5),
            "lang": ["en"] * 5,
            "text": ["a", "a b", "a b c", "a b c d", "a b c d e"]})
        r = corpus.length_report(spark.createDataFrame(pdf)).collect()[0]
        assert r["n_docs"] == 5 and r["mean_tokens"] == 3.0
        assert r["p50"] == 3.0                      # exact median
        assert r["p90"] == pytest.approx(4.6)       # linear interpolation


class TestSubstringDup:
    def test_planted_duplicated_span(self, spark):
        boiler = "SHARED BOILERPLATE SEGMENT THAT REPEATS EVERYWHERE"
        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": ["unique alpha prose here " + boiler,
                     boiler + " other unique words trailing",
                     "totally different content without repeats xyz"]})
        out = {r["doc_id"]: r for r in dedup.substring_dup_stats(
            spark.createDataFrame(pdf), k=12).collect()}
        # the shared span is duplicated in docs 1 and 2, absent in 3
        assert out[1]["dup_char_frac"] > 0.4
        assert out[2]["dup_char_frac"] > 0.4
        assert out[3]["n_dup_grams"] == 0
        assert out[3]["dup_char_frac"] == 0.0
        # coverage merges overlapping gram intervals: never exceeds 1
        assert all(r["dup_char_frac"] <= 1.0 for r in out.values())

    def test_identical_docs_fully_covered(self, spark):
        t = "an entirely duplicated document body of some length"
        pdf = pd.DataFrame({"doc_id": [1, 2], "text": [t, t]})
        out = dedup.substring_dup_stats(
            spark.createDataFrame(pdf), k=12).collect()
        assert all(r["dup_gram_frac"] == 1.0 for r in out)
        assert all(r["dup_char_frac"] == 1.0 for r in out)

    def test_arrow_equals_jvm(self, spark, documents):
        d = documents.limit(150)
        jvm = {(r["doc_id"], r["n_dup_grams"], r["dup_char_frac"])
               for r in dedup.substring_dup_stats(
                   d, use_arrow=False).collect()}
        arr = {(r["doc_id"], r["n_dup_grams"], r["dup_char_frac"])
               for r in dedup.substring_dup_stats(
                   d, use_arrow=True).collect()}
        assert jvm == arr and len(jvm) == 150

    def test_short_doc_clamped(self, spark):
        # doc shorter than k: one whole-text gram; duplicated coverage
        # clamps to the doc length (frac exactly 1, never > 1)
        pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["tiny", "tiny"]})
        out = dedup.substring_dup_stats(
            spark.createDataFrame(pdf), k=12).collect()
        assert all(r["n_grams"] == 1 and r["dup_char_frac"] == 1.0
                   for r in out)


class TestBpePairCounts:
    def test_bpe_pair_counts_manual(self, spark):
        from xdlake_spark.operators import corpus
        pdf = pd.DataFrame({
            "doc_id": [1, 2],
            "text": ["a b a b c", "a b x"]})
        rows = corpus.bpe_pair_counts(spark.createDataFrame(pdf)).collect()
        got = {(r["left"], r["right"]): (r["rank"], r["n"]) for r in rows}
        # pairs: doc1 (a,b)(b,a)(a,b)(b,c); doc2 (a,b)(b,x)
        assert got[("a", "b")] == (1, 3)   # most frequent -> rank 1
        assert got[("b", "a")][1] == 1
        assert got[("b", "c")][1] == 1 and got[("b", "x")][1] == 1
        # deterministic tie order: count desc, then left, right asc
        ranked = sorted(rows, key=lambda r: r["rank"])
        assert [(r["left"], r["right"]) for r in ranked] == \
            [("a", "b"), ("b", "a"), ("b", "c"), ("b", "x")]


class TestChunkDocumentsInvariants:
    @pytest.mark.parametrize("max_tokens, overlap", [
        (8, 2), (8, 7), (5, 0), (16, 4)])
    def test_against_python_reference(self, spark, max_tokens, overlap):
        """Differential: every (doc length, max, overlap) combo in one
        DataFrame vs an independent python re-implementation — window
        starts, chunk contents, token coverage, and overlap sharing."""
        from xdlake_spark.operators import packing
        docs = {n: " ".join(f"w{i}" for i in range(n))
                for n in range(1, 41)}
        df = spark.createDataFrame(pd.DataFrame(
            {"doc_id": list(docs), "text": list(docs.values())}))
        got: dict = {}
        for r in packing.chunk_documents(df, max_tokens=max_tokens,
                                         overlap=overlap).collect():
            got.setdefault(r["doc_id"], {})[r["chunk_index"]] = \
                (r["chunk_text"].split(), r["n_tokens"])

        stride = max_tokens - overlap
        for n, text in docs.items():
            toks = text.split()
            exp_chunks = 1 if n <= max_tokens else -(-(n - max_tokens)
                                                     // stride) + 1
            chunks = got[n]
            assert len(chunks) == exp_chunks, (n, max_tokens, overlap)
            covered = set()
            for i in range(exp_chunks):
                start = i * stride
                exp = toks[start:start + max_tokens]
                assert chunks[i][0] == exp
                assert chunks[i][1] == len(exp) > 0
                covered.update(range(start, start + len(exp)))
                if i > 0:  # consecutive windows share exactly `overlap`
                    prev = set(range((i - 1) * stride,
                                     min((i - 1) * stride + max_tokens, n)))
                    cur = set(range(start, start + len(exp)))
                    assert len(prev & cur) == min(overlap, len(cur))
            assert covered == set(range(n))  # no token lost


class TestUnigramLogprob:
    def test_manual_model(self, spark):
        import math

        from xdlake_spark.operators import corpus
        pdf = pd.DataFrame({
            "doc_id": [1, 2],
            "text": ["a a b", "c"]})
        got = {r["doc_id"]: (r["n_tokens"], r["avg_neg_logp"])
               for r in corpus.unigram_logprob(
                   spark.createDataFrame(pdf)).collect()}
        # corpus counts: a=2, b=1, c=1, total=4
        exp1 = (2 * (math.log(4) - math.log(2))
                + (math.log(4) - math.log(1))) / 3
        assert got[1] == (3, round(exp1, 6))
        assert got[2] == (1, round(math.log(4), 6))
        # the all-rare-tokens doc scores HIGHER (less corpus-typical)
        assert got[2][1] > got[1][1]


class TestBigramLogprob:
    def test_manual_model(self, spark):
        import math

        from xdlake_spark.operators import corpus
        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": ["a b a b", "a b", "x"]})
        got = {r["doc_id"]: (r["n_bigrams"], r["avg_neg_logp"])
               for r in corpus.bigram_logprob(
                   spark.createDataFrame(pdf)).collect()}
        # bigrams: (a,b)x3, (b,a)x1; c1: a=3, b=1; V = {a,b,x} = 3
        p_ab = (3 + 1) / (3 + 3)
        p_ba = (1 + 1) / (1 + 3)
        exp1 = (2 * -math.log(p_ab) + -math.log(p_ba)) / 3
        assert got[1] == (3, round(exp1, 6))
        assert got[2] == (1, round(-math.log(p_ab), 6))
        # single-token doc has no bigrams and drops out
        assert 3 not in got

    def test_transition_signal(self, spark):
        """Word salad with common unigrams but rare transitions scores
        higher than fluent repetition of the same tokens."""
        from xdlake_spark.operators import corpus
        fluent = "the cat sat . " * 10
        salad = "sat the . cat cat . the sat"
        pdf = pd.DataFrame({"doc_id": [1, 2],
                            "text": [fluent.strip(), salad]})
        got = {r["doc_id"]: r["avg_neg_logp"]
               for r in corpus.bigram_logprob(
                   spark.createDataFrame(pdf)).collect()}
        assert got[2] > got[1]


class TestApproxDistinct:
    def test_sketch_within_rsd_of_exact(self, spark, sf_dir):
        from xdlake_spark.queries import queries
        rows = queries()["events_approx_distinct"](spark, sf_dir) \
            .collect()
        assert len(rows) > 0
        for r in rows:
            # HLL++ at rsd=0.02: allow 3 sigma
            assert abs(r["approx_users"] - r["exact_users"]) \
                <= max(3, 0.06 * r["exact_users"]), dict(r.asDict())


class TestLeakageSafeSplit:
    def test_components_monochromatic_and_unpaired_match_hash_split(
            self, spark, documents):
        from xdlake_spark.operators import sampling
        pairs = dedup.ngram_jaccard_pairs(documents, k_shingle=3,
                                          threshold=0.2)
        out = sampling.leakage_safe_split(documents, pairs)
        rows = {r["doc_id"]: r["split"]
                for r in out.select("doc_id", "split").collect()}
        # every near-dup pair shares a split (transitively: components)
        leaked = [(r["id_a"], r["id_b"]) for r in pairs.collect()
                  if rows[r["id_a"]] != rows[r["id_b"]]]
        assert leaked == []
        # docs in no pair split exactly as plain hash_split would
        paired = {x for r in pairs.collect()
                  for x in (r["id_a"], r["id_b"])}
        plain = {r["doc_id"]: r["split"] for r in sampling.hash_split(
            documents, "doc_id",
            {"train": 0.8, "val": 0.1, "test": 0.1})
            .select("doc_id", "split").collect()}
        for d, s in rows.items():
            if d not in paired:
                assert s == plain[d], d
        # all three splits are populated at this corpus size
        assert set(rows.values()) == {"train", "val", "test"}


class TestKmeans:
    @staticmethod
    def _blobs(spark, n_per=40):
        """Three well-separated 3-d blobs with deterministic jitter."""
        rows = []
        centers = [(0.0, 0.0, 0.0), (10.0, 10.0, 0.0), (-10.0, 5.0, 5.0)]
        for i in range(n_per * 3):
            cx, cy, cz = centers[i % 3]
            j = ((i * 2654435761) % 1000) / 1000.0 - 0.5  # in [-0.5, 0.5)
            rows.append((i, [cx + j, cy - j, cz + j / 2]))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    def test_recovers_blobs(self, spark):
        from xdlake_spark.operators import clustering
        df = self._blobs(spark)
        assigned, cents = clustering.kmeans(df, n_clusters=3, iters=4)
        rows = assigned.select("vec_id", "cluster").collect()
        # every blob lands in exactly one cluster and vice versa
        blob_to_cluster = {}
        for r in rows:
            b = r["vec_id"] % 3
            blob_to_cluster.setdefault(b, set()).add(r["cluster"])
        assert all(len(cs) == 1 for cs in blob_to_cluster.values())
        assert len(set.union(*blob_to_cluster.values())) == 3

    def test_inertia_non_increasing(self, spark):
        from xdlake_spark.operators import clustering
        df = self._blobs(spark)
        inertias = []
        for iters in (0, 1, 2, 4):
            rep = clustering.cluster_report(df, 3, iters=iters)
            inertias.append(sum(r["inertia"] for r in rep.collect()))
        assert all(a >= b - 1e-6 for a, b in zip(inertias, inertias[1:])), \
            inertias

    def test_deterministic_across_partitionings(self, spark):
        from xdlake_spark.operators import clustering
        df = self._blobs(spark)
        a = {(r["vec_id"], r["cluster"])
             for r in clustering.kmeans(df, 3, iters=2)[0]
             .select("vec_id", "cluster").collect()}
        b = {(r["vec_id"], r["cluster"])
             for r in clustering.kmeans(df.repartition(13), 3, iters=2)[0]
             .select("vec_id", "cluster").collect()}
        assert a == b

    def test_assign_matches_numpy(self, spark):
        import numpy as np

        from xdlake_spark.operators import clustering
        df = self._blobs(spark, n_per=10)
        cents = np.array([[0.0, 0.0, 0.0], [10.0, 10.0, 0.0],
                          [-10.0, 5.0, 5.0]])
        got = {r["vec_id"]: r["cluster"]
               for r in clustering.assign_to_centroids(df, cents)
               .collect()}
        for r in df.collect():
            x = np.array(r["embedding"])
            want = int(np.argmin(((cents - x) ** 2).sum(axis=1)))
            assert got[r["vec_id"]] == want

    def test_balanced_sample_caps_and_nests(self, spark):
        from xdlake_spark.operators import clustering
        df = self._blobs(spark)
        out = clustering.cluster_balanced_sample(df, 3, per_cluster=7,
                                                 iters=2)
        sizes = {r["cluster"]: r["n"] for r in out.groupBy("cluster")
                 .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert all(v <= 7 for v in sizes.values()) and len(sizes) == 3
        # smaller cap selects a subset of the bigger cap's rows
        small = {r["vec_id"] for r in clustering.cluster_balanced_sample(
            df, 3, per_cluster=3, iters=2).select("vec_id").collect()}
        big = {r["vec_id"] for r in out.select("vec_id").collect()}
        assert small <= big

    def test_too_few_rows_raises(self, spark):
        import pytest

        from xdlake_spark.operators import clustering
        df = self._blobs(spark, n_per=1)
        with pytest.raises(ValueError, match="seed"):
            clustering.kmeans(df, n_clusters=10)


class TestLinearClassifier:
    def test_manual_model(self, spark):
        import math

        from xdlake_spark.operators import corpus
        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": ["good good bad", "meh meh", "bad"]})
        got = {r["doc_id"]: (r["n_tokens"], r["score"], r["label"])
               for r in corpus.linear_classifier_scores(
                   spark.createDataFrame(pdf),
                   {"good": 1.0, "bad": -1.0}, bias=0.5).collect()}

        def sig(x):
            return round(1.0 / (1.0 + math.exp(-x)), 6)

        # doc 1: mean = (1 + 1 - 1)/3; doc 2: all OOV -> mean 0
        assert got[1] == (3, sig(0.5 + 1.0 / 3.0), True)
        assert got[2] == (2, sig(0.5), True)
        assert got[3] == (1, sig(0.5 - 1.0), False)

    def test_weight_join_broadcasts(self, spark):
        from xdlake_spark.operators import corpus
        pdf = pd.DataFrame({"doc_id": [1], "text": ["a b"]})
        plan = corpus.linear_classifier_scores(
            spark.createDataFrame(pdf),
            {"a": 1.0})._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan


class TestWeightedSample:
    def test_rates_and_nesting(self, spark, documents):
        from xdlake_spark.operators import sampling
        full = documents.count()
        half = sampling.weighted_sample(
            documents, "lang", "doc_id", {}, default_rate=0.5)
        quarter = sampling.weighted_sample(
            documents, "lang", "doc_id", {}, default_rate=0.25)
        nh, nq = half.count(), quarter.count()
        assert 0.35 * full < nh < 0.65 * full
        assert 0.12 * full < nq < 0.4 * full
        # nested: the lower-rate sample is a strict subset
        hids = {r["doc_id"] for r in half.select("doc_id").collect()}
        qids = {r["doc_id"] for r in quarter.select("doc_id").collect()}
        assert qids <= hids
        # deterministic across partitionings
        again = {r["doc_id"] for r in sampling.weighted_sample(
            documents.repartition(13), "lang", "doc_id", {},
            default_rate=0.5).select("doc_id").collect()}
        assert again == hids

    def test_per_stratum_rates(self, spark, documents):
        from xdlake_spark.operators import sampling
        out = sampling.weighted_sample(
            documents, "lang", "doc_id",
            {"en": 1.0, "de": 0.0}, default_rate=1.0)
        langs = {r["lang"] for r in out.select("lang").distinct().collect()}
        assert "de" not in langs
        n_en = documents.filter("lang = 'en'").count()
        assert out.filter("lang = 'en'").count() == n_en  # rate 1.0 keeps all

    def test_bad_rate_raises(self, spark, documents):
        from xdlake_spark.operators import sampling
        with pytest.raises(ValueError, match="rate"):
            sampling.weighted_sample(documents, "lang", "doc_id",
                                     {"en": 1.5})


class TestHistogramAndReadability:
    def test_histogram_manual(self, spark):
        from xdlake_spark.operators import corpus
        pdf = pd.DataFrame({"v": [-5.0, 0.0, 4.9, 5.0, 99.0, 150.0, None]})
        rows = corpus.value_histogram(
            spark.createDataFrame(pdf), "v", lo=0.0, hi=100.0,
            n_bins=20).collect()
        got = {r["bin"]: r["n"] for r in rows}
        # -5 clamps into bin 0; 150 clamps into bin 19; None dropped
        assert got[0] == 3      # -5.0, 0.0, 4.9
        assert got[1] == 1      # 5.0
        assert got[19] == 2     # 99.0, 150.0
        assert sum(got.values()) == 6
        r0 = next(r for r in rows if r["bin"] == 0)
        assert (r0["bin_lo"], r0["bin_hi"]) == (0.0, 5.0)

    def test_histogram_bad_range_raises(self, spark):
        from xdlake_spark.operators import corpus
        df = spark.createDataFrame(pd.DataFrame({"v": [1.0]}))
        with pytest.raises(ValueError, match="hi > lo"):
            corpus.value_histogram(df, "v", lo=5.0, hi=5.0)

    def test_readability_manual(self, spark):
        from xdlake_spark.operators import corpus
        pdf = pd.DataFrame({
            "doc_id": [1],
            "text": ["The cat sat. The dog ran!"]})
        r = corpus.readability_scores(
            spark.createDataFrame(pdf)).collect()[0]
        # 2 sentences, 6 words, 6 vowel groups (one per word)
        assert (r["n_sentences"], r["n_words"], r["n_syllables"]) \
            == (2, 6, 6)
        flesch = 206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6)
        assert r["flesch"] == round(flesch, 4)
        fk = 0.39 * 3 + 11.8 * 1 - 15.59
        assert r["fk_grade"] == round(fk, 4)


class TestBpe:
    """Distributed BPE trainer vs the pure-Python classic algorithm
    (operators/bpe.py reference_bpe — same tie-breaks)."""

    def _word_freqs(self, documents, n):
        import collections
        wf = collections.Counter()
        for r in documents.limit(n).select("text").collect():
            for w in (r[0] or "").lower().split():
                wf[w] += 1
        return dict(wf)

    def test_exact_match_classic(self, spark, documents):
        from xdlake_spark.operators import bpe
        d = documents.limit(120)
        got = [(r["rank"], r["left"], r["right"], r["merged"],
                r["pair_count"])
               for r in bpe.train_bpe(d, n_merges=15,
                                      batch_k=1).collect()]
        want = bpe.reference_bpe(self._word_freqs(documents, 120), 15)
        assert got == want

    def test_batched_deterministic_and_disjoint(self, spark, documents):
        from xdlake_spark.operators import bpe
        d = documents.limit(120)
        a = bpe.train_bpe(d, n_merges=16, batch_k=5).collect()
        b = bpe.train_bpe(d, n_merges=16, batch_k=5).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
        # first merge always equals the classic first merge
        want = bpe.reference_bpe(self._word_freqs(documents, 120), 1)
        assert (a[0]["left"], a[0]["right"]) == (want[0][1], want[0][2])

    def test_apply_reconstructs_words(self, spark, documents):
        from xdlake_spark.operators import bpe
        d = documents.limit(60)
        m = bpe.train_bpe(d, n_merges=20, batch_k=5)
        toks = bpe.apply_bpe(d, m).collect()
        texts = {r["doc_id"]: r["text"] for r in d.collect()}
        assert len(toks) == 60
        for r in toks:
            joined = "".join(r["tokens"]).replace(bpe.EOW, " ").split()
            assert joined == texts[r["id"]].lower().split()
            assert r["n_tokens"] == len(r["tokens"])

    def test_merges_reduce_token_count(self, spark, documents):
        from xdlake_spark.operators import bpe
        d = documents.limit(60)
        m = bpe.train_bpe(d, n_merges=25, batch_k=5)
        with_merges = bpe.apply_bpe(d, m) \
            .agg(F.sum("n_tokens")).collect()[0][0]
        without = bpe.apply_bpe(d, []) \
            .agg(F.sum("n_tokens")).collect()[0][0]
        assert with_merges < without

    def test_early_stop_on_min_count(self, spark, documents):
        from xdlake_spark.operators import bpe
        d = documents.limit(20)
        m = bpe.train_bpe(d, n_merges=500, batch_k=8,
                          min_pair_count=10_000_000)
        assert m.count() == 0


class TestUnigram:
    """Distributed unigram-LM trainer vs the pure-Python sequential EM
    (operators/unigram.py reference_unigram — same seed, EM schedule and
    prune tie-breaks); float tolerance covers partition-order sums."""

    def _word_freqs(self, documents, n):
        import collections
        wf = collections.Counter()
        for r in documents.limit(n).select("text").collect():
            for w in (r[0] or "").lower().split():
                wf[w] += 1
        return dict(wf)

    def test_exact_match_reference(self, spark, documents):
        from xdlake_spark.operators import unigram
        d = documents.limit(120)
        got = {r["piece"]: r["logprob"]
               for r in unigram.train_unigram(
                   d, vocab_size=200, seed_size=1000,
                   em_iters=2).collect()}
        want = unigram.reference_unigram(
            self._word_freqs(documents, 120), 200, seed_size=1000,
            em_iters=2)
        assert set(got) == set(want)
        assert max(abs(got[k] - want[k]) for k in got) < 1e-9

    def test_deterministic(self, spark, documents):
        from xdlake_spark.operators import unigram
        d = documents.limit(100)
        a = unigram.train_unigram(d, vocab_size=150, seed_size=800,
                                  em_iters=1).collect()
        b = unigram.train_unigram(d, vocab_size=150, seed_size=800,
                                  em_iters=1).collect()
        assert [(r["piece"], r["logprob"]) for r in a] \
            == [(r["piece"], r["logprob"]) for r in b]

    def test_probs_normalized_and_chars_kept(self, spark, documents):
        import math
        from xdlake_spark.operators import unigram
        d = documents.limit(80)
        rows = unigram.train_unigram(d, vocab_size=100, seed_size=500,
                                     em_iters=1).collect()
        # probabilities from the final M-step sum to ~1
        assert abs(sum(math.exp(r["logprob"]) for r in rows) - 1) < 1e-9
        # every single character of the corpus with nonzero expected
        # count survives (never pruned), so every word is segmentable
        assert any(len(r["piece"]) == 1 for r in rows)

    def test_apply_covers_corpus(self, spark, documents):
        from xdlake_spark.operators import unigram
        d = documents.limit(60)
        vocab = unigram.train_unigram(d, vocab_size=150, seed_size=800,
                                      em_iters=1)
        toks = unigram.apply_unigram(d, vocab).collect()
        texts = {r["doc_id"]: r["text"] for r in d.collect()}
        assert len(toks) == 60
        for r in toks:
            n_words = len(texts[r["id"]].lower().split())
            # at least one piece per word, never more than characters
            assert r["n_tokens"] >= n_words
            assert r["n_unk"] == 0  # in-corpus text is fully known

    def test_viterbi_unknown_char_fallback(self):
        from xdlake_spark.operators import unigram
        logp = {"a": -1.0, "b": -1.0, "ab": -0.5}
        assert unigram.viterbi_segment("ab", logp, 8) == ["ab"]
        # 'z' is unseen: falls back to a single-char piece, never fails
        assert unigram.viterbi_segment("azb", logp, 8) == ["a", "z", "b"]

    def test_merges_reduce_token_count(self, spark, documents):
        from xdlake_spark.operators import unigram
        d = documents.limit(60)
        vocab = unigram.train_unigram(d, vocab_size=200, seed_size=800,
                                      em_iters=1)
        with_vocab = unigram.apply_unigram(d, vocab) \
            .agg(F.sum("n_tokens")).collect()[0][0]
        chars_only = unigram.apply_unigram(d, {}) \
            .agg(F.sum("n_tokens")).collect()[0][0]
        assert with_vocab < chars_only


class TestEditDistancePairs:
    def test_known_near_dups(self, spark):
        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3, 4],
            "text": ["the quick brown fox jumps over the lazy dog",
                     "the quick brown fox jumps over the lazy cat",
                     "the quick brown fox leaps over the lazy dog",
                     "completely different content with other words"]})
        out = {(r["id_a"], r["id_b"]): r["distance"]
               for r in dedup.edit_distance_pairs(
                   spark.createDataFrame(pdf), k_shingle=3,
                   max_distance=10).collect()}
        assert out[(1, 2)] == 3   # dog -> cat
        assert out[(1, 3)] == 3   # jumps -> leaps
        assert (1, 4) not in out and (2, 4) not in out
        # pairs are ordered and symmetric-free
        assert all(a < b for a, b in out)

    def test_threshold_and_len_guards(self, spark):
        long_text = "word " * 200  # 1000 chars > max_len=400
        pdf = pd.DataFrame({
            "doc_id": [1, 2],
            "text": [long_text, long_text + "tail"]})
        out = dedup.edit_distance_pairs(
            spark.createDataFrame(pdf), max_len=400).collect()
        assert out == []  # both excluded by the length guard


class TestParagraphDedupWithin:
    def test_keeps_first_and_structural(self, spark):
        from xdlake_spark.operators.dedup import paragraph_dedup_within
        df = spark.createDataFrame(
            [(1, "a\nb\na\n \nb\nc"),      # dups of a and b
             (2, "x\nx \n x"),             # trim-keyed dups
             (3, ""),                      # empty doc
             (4, "only")],
            "doc_id long, text string")
        got = {r["doc_id"]: (r["text"], r["n_removed"])
               for r in paragraph_dedup_within(df).collect()}
        assert got[1] == ("a\nb\n \nc", 2)
        assert got[2] == ("x", 2)          # first original form kept
        assert got[3] == ("", 0)           # whitespace-only: structural
        assert got[4] == ("only", 0)


class TestKCenterSelect:
    """Greedy k-center selection (operators/clustering.py
    kcenter_select): seed determinism, monotone non-increasing
    coverage radius (the greedy invariant), and selected ids distinct.
    Exactness vs the unrolled-SQL twin is pinned by the registry
    (`kcenter_coreset`, oracle-exact)."""

    def test_greedy_invariants(self, spark, embeddings):
        from xdlake_spark.operators.clustering import kcenter_select
        rows = kcenter_select(embeddings, k=5).orderBy(
            "sel_order").collect()
        assert [r["sel_order"] for r in rows] == list(range(5))
        ids = [r["id"] for r in rows]
        assert len(set(ids)) == 5
        # round 0 seeds at the lowest id; its radius is NULL
        assert ids[0] == min(
            r["vec_id"] for r in embeddings.select("vec_id").collect())
        assert rows[0]["radius"] is None
        radii = [r["radius"] for r in rows[1:]]
        assert all(r is not None and r >= 0 for r in radii)
        # the max-min coverage radius can only shrink as the set grows
        assert all(a >= b for a, b in zip(radii, radii[1:]))

    def test_large_k_matches_numpy_twin(self, spark):
        """r9: running-min bookkeeping (one new distance per round,
        localCheckpoint state, O(1) plan literals) must reproduce the
        sequential greedy bit-for-bit at curation-scale k — numpy twin
        replays the identical algorithm (round-6 snap AFTER the min,
        id tie-breaks), and the run completes without the plan
        blowing up the way a growing least(*d2s) list would."""
        import numpy as np
        from xdlake_spark.operators.clustering import kcenter_select
        rng = np.random.default_rng(7)
        n, dim, k = 120, 8, 48
        vecs = rng.normal(size=(n, dim)).round(3)
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(n)],
            "vec_id long, embedding array<double>")
        got = [(r["sel_order"], r["id"], r["radius"])
               for r in kcenter_select(df, k=k).orderBy(
                   "sel_order").collect()]
        # sequential reference: same seed, same snap, same tie-break
        chosen = [0]
        dm = ((vecs - vecs[0]) ** 2).sum(axis=1)
        want = [(0, 0, None)]
        for r in range(1, k):
            snapped = np.round(dm, 6)
            best = min(range(n), key=lambda i: (-snapped[i], i))
            if best in chosen:
                break
            want.append((r, best, float(snapped[best])))
            chosen.append(best)
            dm = np.minimum(dm, ((vecs - vecs[best]) ** 2).sum(axis=1))
        assert got == want


class TestBloomFilter:
    """Bloom-filter guarantees (operators/sketch.py bloom_build /
    bloom_screen): no false negatives, shard mergeability, sane false
    positives at the design load, determinism of the seeded md5 bits.
    The end-to-end screen is also oracle-exact vs DuckDB
    (bloom_incremental_screen in the registry)."""

    def test_no_false_negatives(self, spark, documents):
        from xdlake_spark.operators import sketch
        hist = documents.filter(F.col("doc_id") % 3 != 0)
        bloom = sketch.bloom_build(hist.select("text"), "text",
                                   k=3, m_bits=4096)
        out = sketch.bloom_screen(
            bloom, documents.select("doc_id", "text"), "text",
            k=3, m_bits=4096).collect()
        members = {r["doc_id"] for r in out if r["doc_id"] % 3 != 0}
        flagged = {r["doc_id"] for r in out if r["maybe_present"]}
        assert members <= flagged          # never miss a member

    def test_shards_merge_to_the_full_filter(self, spark, documents):
        from xdlake_spark.operators import sketch
        full = sketch.bloom_build(documents.select("text"), "text",
                                  k=3, m_bits=2048)
        a = sketch.bloom_build(
            documents.filter(F.col("doc_id") % 2 == 0).select("text"),
            "text", k=3, m_bits=2048)
        b = sketch.bloom_build(
            documents.filter(F.col("doc_id") % 2 == 1).select("text"),
            "text", k=3, m_bits=2048)
        merged = (a.unionByName(b).groupBy("word_i")
                  .agg(F.expr("bit_or(bits)").alias("bits")))
        f = {r["word_i"]: r["bits"] for r in full.collect()}
        m = {r["word_i"]: r["bits"] for r in merged.collect()}
        assert f == m

    def test_false_positive_rate_at_design_load(self, spark):
        from xdlake_spark.operators import sketch
        # n=400 values into m=8192, k=3: theoretical FP ~ 0.3%
        hist = spark.range(400).select(
            F.concat(F.lit("member-"), F.col("id")).alias("v"))
        probe = spark.range(4000).select(
            F.concat(F.lit("novel-"), F.col("id")).alias("v"))
        bloom = sketch.bloom_build(hist, "v", k=3, m_bits=8192)
        out = sketch.bloom_screen(bloom, probe, "v",
                                  k=3, m_bits=8192).collect()
        fp = sum(1 for r in out if r["maybe_present"])
        assert fp / len(out) < 0.02        # generous 6x headroom

    def test_deterministic(self, spark, documents):
        from xdlake_spark.operators import sketch
        d = documents.limit(50).select("text")
        a = sorted((r["word_i"], r["bits"]) for r in
                   sketch.bloom_build(d, "text").collect())
        b = sorted((r["word_i"], r["bits"]) for r in
                   sketch.bloom_build(d, "text").collect())
        assert a == b


class TestHeavyHitters:
    """Misra-Gries guarantees: estimates never overcount, true counts
    lie within [est, est + max_err], and every sufficiently-frequent
    item survives; exact when cap exceeds the cardinality."""

    def _toks(self, spark, documents, n=200):
        return documents.limit(n).select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+"))
            .alias("tok"))

    def test_bounds_and_coverage_under_pressure(self, spark, documents):
        from xdlake_spark.operators.sketch import heavy_hitters
        toks = self._toks(spark, documents)
        hh = heavy_hitters(toks, "tok", k=30, cap=16).collect()
        exact = {r["tok"]: r["count"] for r in
                 toks.groupBy("tok").count().collect()}
        n = sum(exact.values())
        err = hh[0]["max_err"]
        assert 0 < err  # cap 16 << vocab: reductions happened
        for r in hh:
            true = exact[r["term"]]
            assert r["est_count"] <= true <= r["est_count"] + err, \
                (r["term"], r["est_count"], err, true)
        # MG guarantee: anything with count > n/cap-summed error bound
        # must appear among the survivors' estimates
        top_est = {r["term"] for r in
                   heavy_hitters(toks, "tok", k=10**6,
                                 cap=16).collect()}
        for term, c in exact.items():
            if c > err:
                assert term in top_est, (term, c, err)

    def test_exact_when_cap_exceeds_cardinality(self, spark, documents):
        from xdlake_spark.operators.sketch import heavy_hitters
        toks = self._toks(spark, documents, 100)
        hh = heavy_hitters(toks, "tok", k=25, cap=10**6).collect()
        exact = (toks.groupBy("tok").count()
                 .orderBy(F.col("count").desc(), "tok").limit(25)
                 .collect())
        assert [(r["term"], r["est_count"]) for r in hh] \
            == [(r["tok"], r["count"]) for r in exact]
        assert all(r["max_err"] == 0 for r in hh)

    def test_deterministic(self, spark, documents):
        from xdlake_spark.operators.sketch import heavy_hitters
        toks = self._toks(spark, documents)
        a = heavy_hitters(toks, "tok", k=20, cap=256).collect()
        b = heavy_hitters(toks, "tok", k=20, cap=256).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]


class TestTdigest:
    """t-digest accuracy gates: rank error of every estimate against
    the exact empirical quantile, tail behavior, and merge-invariance
    across partition layouts."""

    def _vals(self, n=50_000, seed=7):
        import numpy as np
        rng = np.random.default_rng(seed)
        return rng.lognormal(3.0, 1.0, n)

    def test_rank_error_within_bound(self, spark):
        import numpy as np

        from xdlake_spark.operators.sketch import tdigest_quantiles
        vals = self._vals()
        df = spark.createDataFrame([(float(v),) for v in vals],
                                   "v: double").repartition(8)
        qs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
        est = {r["q"]: r["value_est"] for r in
               tdigest_quantiles(df, "v", qs, delta=100).collect()}
        svals = np.sort(vals)
        for q in qs:
            rank = np.searchsorted(svals, est[q]) / len(svals)
            # k1 scale: rank error ~ q(1-q)/delta; 0.01 is ~10x slack
            assert abs(rank - q) < 0.01, f"q={q}: rank err {abs(rank-q)}"

    def test_partition_layout_invariance_is_bounded(self, spark):
        # a mergeable sketch must give (nearly) the same answer no
        # matter how the rows are split across partitions
        from xdlake_spark.operators.sketch import tdigest_quantiles
        vals = self._vals(20_000)
        rows = [(float(v),) for v in vals]
        qs = [0.1, 0.5, 0.9]
        outs = []
        for nparts in (1, 4, 16):
            df = spark.createDataFrame(rows, "v: double") \
                .repartition(nparts)
            outs.append({r["q"]: r["value_est"] for r in
                         tdigest_quantiles(df, "v", qs).collect()})
        for q in qs:
            vs = [o[q] for o in outs]
            spread = (max(vs) - min(vs)) / max(abs(max(vs)), 1e-9)
            assert spread < 0.05, f"q={q}: layouts disagree by {spread}"

    def test_extremes_clamped_to_observed_range(self, spark):
        from xdlake_spark.operators.sketch import tdigest_quantiles
        vals = self._vals(5_000)
        df = spark.createDataFrame([(float(v),) for v in vals],
                                   "v: double").repartition(4)
        est = {r["q"]: r["value_est"] for r in
               tdigest_quantiles(df, "v", [0.0, 1.0]).collect()}
        assert est[0.0] >= float(vals.min()) - 1e-9
        assert est[1.0] <= float(vals.max()) + 1e-9

    def test_grouped_tdigest_matches_exact_per_group(self, spark, events):
        import numpy as np

        from xdlake_spark.operators.sketch import tdigest_quantiles_by
        got = {r["key"]: r for r in tdigest_quantiles_by(
            events, "event_type", "value", [0.5, 0.95]).collect()}
        pdf = events.select("event_type", "value").toPandas()
        for key, grp in pdf.groupby("event_type"):
            v = grp["value"].dropna().to_numpy()
            r = got[str(key)]
            assert abs(r["n_est"] - len(v)) < 1e-6
            sv = np.sort(v)
            for q, est in zip([0.5, 0.95], r["value_est"]):
                rank = np.searchsorted(sv, est) / len(sv)
                assert abs(rank - q) < 0.02, f"{key} q={q}"

    def test_nulls_ignored(self, spark):
        from xdlake_spark.operators.sketch import tdigest_quantiles
        df = spark.createDataFrame(
            [(None,)] * 50 + [(float(i),) for i in range(1, 100)],
            "v: double").repartition(4)
        est = tdigest_quantiles(df, "v", [0.5]).collect()
        assert len(est) == 1
        assert abs(est[0]["value_est"] - 50.0) < 5.0


class TestWeightedReservoir:
    """A-RES selection: layout-independent, weight-sensitive, without
    replacement."""

    def test_layout_invariant_and_no_duplicates(self, spark, documents):
        from xdlake_spark.operators import sampling
        d = documents.withColumn("w", F.length("text")) \
            .filter(F.col("w") > 0)
        a = sampling.weighted_reservoir(d.repartition(2), "doc_id",
                                        "w", k=40).collect()
        b = sampling.weighted_reservoir(d.repartition(13), "doc_id",
                                        "w", k=40).collect()
        ids_a = sorted(r["doc_id"] for r in a)
        ids_b = sorted(r["doc_id"] for r in b)
        assert ids_a == ids_b            # same winners, any layout
        assert len(set(ids_a)) == 40     # without replacement

    def test_weights_bias_selection(self, spark):
        # two strata with 100x weight gap: the heavy stratum must
        # dominate the sample far beyond its population share
        from xdlake_spark.operators import sampling
        rows = [(i, 1000.0 if i % 10 == 0 else 10.0)
                for i in range(5000)]
        df = spark.createDataFrame(rows, "doc_id: long, w: double")
        got = sampling.weighted_reservoir(df, "doc_id", "w", k=200) \
            .collect()
        heavy = sum(1 for r in got if r["doc_id"] % 10 == 0)
        # heavy stratum is 10% of rows but ~91% of total weight
        assert heavy > 120, f"only {heavy}/200 heavy rows selected"


class TestHilbertIndex:
    """plans/hilbert.py: the clustering curve must be a bijection whose
    consecutive cells are L1-adjacent (the locality property Z-order
    lacks — exactly why per-file bounds come out tighter)."""

    def test_bijective_and_adjacent_2d(self):
        import numpy as np

        from xdlake_spark.plans.hilbert import hilbert_index

        n_bits = 4
        side = 1 << n_bits
        xs, ys = np.meshgrid(np.arange(side), np.arange(side))
        coords = np.column_stack([xs.ravel(), ys.ravel()])
        idx = hilbert_index(coords, n_bits)
        assert sorted(idx.tolist()) == list(range(side * side))
        order = coords[np.argsort(idx)]
        steps = np.abs(np.diff(order.astype(int), axis=0)).sum(axis=1)
        assert (steps == 1).all()          # face-adjacent walk
        assert (order[0] == [0, 0]).all()  # canonical start

    def test_bijective_and_adjacent_3d(self):
        import numpy as np

        from xdlake_spark.plans.hilbert import hilbert_index

        n_bits = 3
        side = 1 << n_bits
        g = np.arange(side)
        coords = np.stack(np.meshgrid(g, g, g), -1).reshape(-1, 3)
        idx = hilbert_index(coords, n_bits)
        assert sorted(idx.tolist()) == list(range(side ** 3))
        order = coords[np.argsort(idx)]
        steps = np.abs(np.diff(order.astype(int), axis=0)).sum(axis=1)
        assert (steps == 1).all()

    def test_matches_scalar_reference(self):
        """Differential vs a straight-from-the-paper scalar
        transcription (Skilling 2004), on random coordinates."""
        import numpy as np

        from xdlake_spark.plans.hilbert import hilbert_index

        def scalar(coords, b):
            X = list(coords)
            n = len(X)
            q = 1 << (b - 1)
            while q > 1:
                p = q - 1
                for i in range(n):
                    if X[i] & q:
                        X[0] ^= p
                    else:
                        t = (X[0] ^ X[i]) & p
                        X[0] ^= t
                        X[i] ^= t
                q >>= 1
            for i in range(1, n):
                X[i] ^= X[i - 1]
            t = 0
            q = 1 << (b - 1)
            while q > 1:
                if X[n - 1] & q:
                    t ^= q - 1
                q >>= 1
            for i in range(n):
                X[i] ^= t
            h = 0
            for bit in range(b):
                for i in range(n):
                    h |= ((X[i] >> bit) & 1) << (bit * n + (n - 1 - i))
            return h

        rng = np.random.default_rng(7)
        for d, b in [(2, 8), (3, 7), (4, 5), (7, 8)]:
            coords = rng.integers(0, 1 << b, size=(200, d))
            got = hilbert_index(coords, b)
            exp = [scalar(row.tolist(), b) for row in coords]
            assert got.tolist() == exp, (d, b)

    def test_first_dim_only_is_identity(self):
        import numpy as np

        from xdlake_spark.plans.hilbert import hilbert_index

        r = np.arange(256).reshape(-1, 1)
        assert hilbert_index(r, 8).tolist() == list(range(256))


class TestBM25:
    def _mk(self, spark, texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")

    def test_hand_computed(self, spark):
        import math
        # corpus: 3 docs, query {"cat"}; df(cat)=2, N=3, dls 2,2,4 avgdl=8/3
        d = self._mk(spark, ["cat dog", "cat cat cat dog",  # dl 2,4
                             "fish dog"])
        from xdlake_spark.operators import retrieval
        rows = {r["doc_id"]: r for r in
                retrieval.bm25_scores(d, ["cat"]).collect()}
        idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
        avgdl = (2 + 4 + 2) / 3
        def s(tf, dl):
            return round(idf * tf * 2.2
                         / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6)
        assert set(rows) == {0, 1}  # doc 2 has no query term
        assert rows[0]["score"] == s(1, 2)
        assert rows[1]["score"] == s(3, 4)
        # ranking: tf=3 beats tf=1 despite the length penalty here
        assert rows[1]["score"] > rows[0]["score"]

    def test_multi_term_sums_and_topk(self, spark):
        from xdlake_spark.operators import retrieval
        d = self._mk(spark, ["a b", "a", "b", "c"])
        both = {r["doc_id"]: r["n_terms"] for r in
                retrieval.bm25_scores(d, ["a", "b"]).collect()}
        assert both == {0: 2, 1: 1, 2: 1}
        top1 = retrieval.bm25_scores(d, ["a", "b"], top_k=1).collect()
        assert len(top1) == 1 and top1[0]["doc_id"] == 0

    def test_empty_query_raises(self, spark):
        from xdlake_spark.operators import retrieval
        with pytest.raises(ValueError):
            retrieval.bm25_scores(self._mk(spark, ["x"]), [])


class TestPageRank:
    def _ranks(self, spark, edges, **kw):
        from xdlake_spark.operators import retrieval
        e = spark.createDataFrame(edges, "src long, dst long")
        return {r["node"]: r["rank"]
                for r in retrieval.pagerank(e, **kw).collect()}

    def test_mass_conserved_and_symmetric(self, spark):
        # triangle: symmetry forces the uniform fixed point exactly
        r = self._ranks(spark, [(1, 2), (2, 3), (3, 1),
                                (2, 1), (3, 2), (1, 3)])
        assert abs(sum(r.values()) - 1.0) < 1e-5
        assert r[1] == r[2] == r[3]

    def test_dangling_mass_redistributed(self, spark):
        # star into a sink: without dangling handling, total mass decays
        r = self._ranks(spark, [(1, 4), (2, 4), (3, 4)], iterations=6)
        assert abs(sum(r.values()) - 1.0) < 1e-5
        assert r[4] > r[1] == r[2] == r[3]

    def test_authority_ordering(self, spark):
        # node 10 is linked by everyone and spreads back evenly
        edges = ([(i, 10) for i in range(1, 6)]
                 + [(10, i) for i in range(1, 6)])
        r = self._ranks(spark, edges)
        assert r[10] == max(r.values())

    def test_deterministic(self, spark):
        edges = [(i, (i * 7) % 23) for i in range(80)]
        assert self._ranks(spark, edges) == self._ranks(spark, edges)

    def test_personalize_df_matches_list(self, spark):
        # the DataFrame restart vector is the scale path; on the same
        # seeds it must reproduce the literal-IN path bit-for-bit
        edges = [(i, (i * 7) % 23) for i in range(80)] + \
            [((i * 7) % 23, i) for i in range(80)]
        via_list = self._ranks(spark, edges, iterations=3,
                               personalize=[1, 2, 3])
        seeds_df = spark.createDataFrame([(1,), (2,), (3,)],
                                         "node long")
        via_df = self._ranks(spark, edges, iterations=3,
                             personalize=seeds_df)
        assert via_list == via_df

    def test_personalize_df_weights_and_dupes(self, spark):
        # duplicate seed rows aggregate; equal weights == uniform
        edges = [(1, 2), (2, 3), (3, 1)]
        seeds_eq = spark.createDataFrame(
            [(1, 2.0), (2, 2.0), (1, 0.0)], "node long, weight double")
        via_w = self._ranks(spark, edges, iterations=4,
                            personalize=seeds_eq)
        via_u = self._ranks(spark, edges, iterations=4,
                            personalize=[1, 2])
        assert via_w == via_u
        import pytest as _pt
        zero = spark.createDataFrame([(1, 0.0)], "node long, weight double")
        with _pt.raises(ValueError, match="sum > 0"):
            self._ranks(spark, edges, personalize=zero)

    def test_personalize_df_ten_thousand_seeds(self, spark):
        # VERDICT r7 item 3: seed sets beyond literal-IN scale must
        # work through the joined restart vector
        from pyspark.sql import functions as F
        edges = [(i, (i + 1) % 20000) for i in range(20000)]
        e = spark.createDataFrame(edges, "src long, dst long")
        seeds = spark.range(10000).select(F.col("id").alias("node"))
        from xdlake_spark.operators import retrieval
        out = retrieval.pagerank(e, iterations=2, personalize=seeds)
        rows = {r["node"]: r["rank"] for r in out.collect()}
        assert len(rows) == 20000
        assert abs(sum(rows.values()) - 1.0) < 1e-3
        # restart mass concentrates on/near the seed half of the ring
        assert sum(v for k, v in rows.items() if k < 10002) > 0.9

    def test_tol_stops_at_fixed_point(self, spark):
        # symmetric triangle is AT the fixed point after round 1 —
        # tol must stop early and agree with a long fixed run
        edges = [(1, 2), (2, 3), (3, 1), (2, 1), (3, 2), (1, 3)]
        fixed = self._ranks(spark, edges, iterations=12)
        conv = self._ranks(spark, edges, iterations=12, tol=1e-9)
        assert conv == fixed

    def test_tol_converged_ranks_match_long_run(self, spark):
        # damping 0.5 converges ~0.5^n: 1e-9 is reached near round 30,
        # so the tol run stops early yet matches the full fixed run to
        # the 6 output decimals
        edges = [(i, (i * 7) % 23) for i in range(80)]
        long_run = self._ranks(spark, edges, iterations=45,
                               damping=0.5)
        conv = self._ranks(spark, edges, iterations=45, tol=1e-9,
                           damping=0.5)
        assert conv == long_run


class TestApproxDeciles:
    def test_rank_error_vs_exact_twin(self, spark):
        """Gate for the rows-only customer_value_deciles_approx query:
        every approx decile's population within 2% of N/10 (plus a
        1-row slack for cut-point ties), bucket bounds monotone."""
        from xdlake_spark.queries import REGISTRY
        sf = "/root/testdata/sf0.001"
        exact = {r.decile: r for r in
                 REGISTRY["customer_value_deciles"][0](spark, sf)
                 .collect()}
        approx = {r.decile: r for r in
                  REGISTRY["customer_value_deciles_approx"][0](spark,
                                                               sf)
                  .collect()}
        n_total = sum(r.n for r in exact.values())
        assert sum(r.n for r in approx.values()) == n_total
        assert set(approx) == set(range(1, 11))
        tol = max(1, int(0.02 * n_total))
        for d in range(1, 11):
            assert abs(approx[d].n - n_total / 10.0) <= \
                n_total / 10.0 * 0.5 + tol
        # cumulative rank error: bucket boundaries within 2% of exact
        cum_e = cum_a = 0
        for d in range(1, 10):
            cum_e += exact[d].n
            cum_a += approx[d].n
            assert abs(cum_a - cum_e) <= tol + 1
        # bounds are monotone and tile the value range
        for d in range(1, 10):
            assert approx[d].hi <= approx[d + 1].lo + 1e-9


class TestRemoveDuplicatedSpans:
    def test_planted_spans_removed_exactly(self, spark):
        from xdlake_spark.operators import dedup
        seg = "the quick brown fox jumps over the lazy dog"
        docs = [(0, f"alpha unique one {seg} tail zero"),
                (1, f"beta other words {seg} end one"),
                (2, "entirely unique content with no repeats here")]
        d = spark.createDataFrame(docs, "doc_id long, text string")
        out = {r.doc_id: r
               for r in dedup.remove_duplicated_spans(d, k=12)
               .collect()}
        assert seg not in out[0].clean_text
        assert seg not in out[1].clean_text
        # the shared substring is " seg " — flanking spaces repeat too
        assert out[0].clean_text == "alpha unique onetail zero"
        assert out[1].clean_text == "beta other wordsend one"
        assert out[0].chars_removed == len(seg) + 2
        assert out[0].n_spans_removed == 1
        assert out[2].chars_removed == 0
        assert out[2].n_spans_removed == 0
        assert out[2].clean_text == docs[2][1]

    def test_whole_short_duplicate_erased(self, spark):
        from xdlake_spark.operators import dedup
        # shorter than k: the whole-text hash duplicates -> everything
        # is one removed span
        d = spark.createDataFrame(
            [(0, "tiny dup"), (1, "tiny dup"), (2, "different")],
            "doc_id long, text string")
        out = {r.doc_id: r
               for r in dedup.remove_duplicated_spans(d, k=12)
               .collect()}
        assert out[0].clean_text == "" and out[1].clean_text == ""
        assert out[2].clean_text == "different"

    def test_overlapping_spans_merge(self, spark):
        from xdlake_spark.operators import dedup
        # two overlapping duplicated regions merge into ONE span
        a = "abcdefghijklmnopqrstuvwxyz0123456789"
        docs = [(0, f"XX{a}YY"), (1, f"PP{a}QQ")]
        d = spark.createDataFrame(docs, "doc_id long, text string")
        out = {r.doc_id: r
               for r in dedup.remove_duplicated_spans(d, k=12)
               .collect()}
        assert out[0].n_spans_removed == 1
        assert out[0].chars_removed == len(a)


class TestKneserNey:
    def test_probability_decomposition(self, spark):
        import math
        # corpus "a b a b a c": c(a b)=2 c(a c)=1 c(b a)=2 -> c1(a)=3
        # T(a.)=2, T(.b)=1, T(.a)=1, T(.c)=1, B=3
        d = spark.createDataFrame([(0, "a b a b a c")],
                                  "doc_id long, text string")
        from xdlake_spark.operators import corpus
        row = corpus.bigram_logprob_kn(d).collect()[0]
        D = 0.75
        p_ab = (2 - D) / 3 + D * 2 / 3 * (1 / 3)
        p_ac = (1 - D) / 3 + D * 2 / 3 * (1 / 3)
        p_ba = (2 - D) / 2 + D * 1 / 2 * (1 / 3)
        want = (-math.log(p_ab) * 2 - math.log(p_ac)
                - math.log(p_ba) * 2) / 5
        assert row["n_bigrams"] == 5
        assert abs(row["avg_neg_logp"] - want) < 1e-6

    def test_salad_scores_worse_than_fluent(self, spark):
        # fluent docs repeat a fixed phrase (transitions recur across
        # docs); salad docs use the SAME unigram mix but scrambled
        # per-doc (transitions are mostly novel). Scored jointly under
        # one shared model, the fluent population must win — the
        # continuation-probability property add-k lacks.
        import random
        from xdlake_spark.operators import corpus
        words = "the quick brown fox jumps over the lazy dog".split()
        rnd = random.Random(11)
        rows = []
        for i in range(40):
            rows.append((i, " ".join(words * 3)))
            shuffled = words * 3
            rnd.shuffle(shuffled)
            rows.append((1000000 + i, " ".join(shuffled)))
        d = spark.createDataFrame(rows, "doc_id long, text string")
        scores = {r["doc_id"]: r["avg_neg_logp"]
                  for r in corpus.bigram_logprob_kn(d).collect()}
        fluent = [v for k, v in scores.items() if k < 1000000]
        salad = [v for k, v in scores.items() if k >= 1000000]
        assert sum(fluent) / len(fluent) < sum(salad) / len(salad)

    def test_bad_discount_raises(self, spark):
        from xdlake_spark.operators import corpus
        d = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError):
            corpus.bigram_logprob_kn(d, discount=1.5)


class TestTokenBudget:
    def _docs(self, spark, n=300):
        import random
        rnd = random.Random(7)
        rows = [(i, round(rnd.uniform(0, 1), 4), rnd.randint(10, 200))
                for i in range(n)]
        return spark.createDataFrame(
            rows, "doc_id long, score double, n_tok long")

    def test_matches_naive_global_window(self, spark):
        from pyspark.sql import Window
        from xdlake_spark.operators import sampling
        d = self._docs(spark)
        got = sampling.token_budget_select(d, "score", "n_tok",
                                           "doc_id", 5000)
        w = (Window.orderBy(F.col("score").desc(), F.col("doc_id"))
             .rowsBetween(Window.unboundedPreceding, 0))
        naive = (d.withColumn("running_tokens", F.sum("n_tok").over(w))
                 .filter(F.col("running_tokens") <= 5000))
        a = sorted((r["doc_id"], r["running_tokens"])
                   for r in got.collect())
        b = sorted((r["doc_id"], r["running_tokens"])
                   for r in naive.collect())
        assert a == b and len(a) > 0

    def test_ties_break_on_id(self, spark):
        from xdlake_spark.operators import sampling
        d = spark.createDataFrame(
            [(i, 0.5, 10) for i in range(10)],
            "doc_id long, score double, n_tok long")
        kept = sorted(r["doc_id"] for r in sampling.token_budget_select(
            d, "score", "n_tok", "doc_id", 35).collect())
        assert kept == [0, 1, 2]  # lowest ids first within the tie

    def test_zero_budget_and_negative_raise(self, spark):
        from xdlake_spark.operators import sampling
        d = self._docs(spark, 20)
        assert sampling.token_budget_select(
            d, "score", "n_tok", "doc_id", 0).count() == 0
        with pytest.raises(ValueError):
            sampling.token_budget_select(d, "score", "n_tok",
                                         "doc_id", -1)


class TestTemperatureRates:
    def test_alpha_one_keeps_natural_mix(self, spark, documents):
        from xdlake_spark.operators import sampling
        rates = sampling.temperature_rates(documents, "source", alpha=1.0)
        assert rates and all(r == 1.0 for r in rates.values())

    def test_alpha_zero_flattens(self, spark):
        from xdlake_spark.operators import sampling
        rows = ([(i, "big") for i in range(400)]
                + [(i + 400, "small") for i in range(100)])
        d = spark.createDataFrame(rows, "doc_id long, source string")
        rates = sampling.temperature_rates(d, "source", alpha=0.0)
        # alpha=0 targets a uniform mix: big gets 100/400, small keeps 1
        assert rates == {"big": 0.25, "small": 1.0}
        kept = sampling.weighted_sample(d, "source", "doc_id", rates)
        counts = {r["source"]: r["n"] for r in
                  kept.groupBy("source").agg(
                      F.count(F.lit(1)).alias("n")).collect()}
        # hash thresholding approximates the target rate on 400 ids
        assert abs(counts["big"] - 100) < 30
        assert counts["small"] == 100

    def test_monotone_in_alpha(self, spark, documents):
        from xdlake_spark.operators import sampling
        lo = sampling.temperature_rates(documents, "source", alpha=0.2)
        hi = sampling.temperature_rates(documents, "source", alpha=0.8)
        assert all(lo[s] >= hi[s] or lo[s] == 1.0 for s in lo)

    def test_bad_alpha_raises(self, spark, documents):
        from xdlake_spark.operators import sampling
        with pytest.raises(ValueError):
            sampling.temperature_rates(documents, "source", alpha=2.0)


class TestNaiveBayes:
    def test_hand_computed_model(self, spark):
        import math

        from xdlake_spark.operators import classify
        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3],
            "lang": ["x", "y", "x"],
            "text": ["a a b", "b c", "a"]})
        rows = {r["doc_id"]: r for r in
                classify.nb_train_classify(
                    spark.createDataFrame(pdf)).collect()}
        # model: tok_x=4 (a:3,b:1), tok_y=2 (b:1,c:1), V=3, N=3
        assert rows[3]["pred"] == "x"
        assert rows[2]["pred"] == "y"
        assert rows[1]["pred"] == "x"
        # doc 3 = "a": score(x) = ln(2/3) + ln((3+1)/(4+3))
        want = round(math.log(2 / 3) + math.log(4 / 7), 6)
        assert rows[3]["score"] == want
        assert rows[3]["n_tokens"] == 1
        # doc 2 = "b c": score(y) = ln(1/3) + ln(2/5) + ln(2/5)
        want2 = round(math.log(1 / 3) + 2 * math.log(2 / 5), 6)
        assert rows[2]["score"] == want2

    def test_self_training_recovers_labels(self, spark):
        # two lexically distinct classes with a little shared noise: NB
        # trained on the labels should recover them (the driver's
        # documents table can't test this — its lang column is random
        # metadata over one shared vocabulary, so chance is the ceiling)
        from xdlake_spark.operators import classify
        rows = []
        for i in range(40):
            w = ["alpha", "beta", "gamma"][i % 3]
            rows.append((i, "x", f"{w} {w} noise{i % 5} shared"))
        for i in range(40, 80):
            w = ["delta", "eps", "zeta"][i % 3]
            rows.append((i, "y", f"{w} shared {w} noise{i % 7}"))
        d = spark.createDataFrame(rows, "doc_id long, lang string, "
                                        "text string")
        got = classify.nb_train_classify(d) \
            .withColumn("ok", (F.col("pred") == F.col("label"))
                        .cast("int")) \
            .agg(F.avg("ok").alias("acc"), F.count("*").alias("n")) \
            .collect()[0]
        assert got["n"] == 80
        assert got["acc"] == 1.0, got["acc"]

    def test_plan_has_no_python_eval(self, spark, documents):
        from xdlake_spark.operators import classify
        plan = classify.nb_train_classify(documents) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        # the class/consts side must broadcast, never sort-merge
        assert "BroadcastNestedLoopJoin" in plan or \
            "BroadcastHashJoin" in plan


class TestDsirWeights:
    @staticmethod
    def _py_bucket(term: str, n_buckets: int) -> int:
        import hashlib
        return int(hashlib.md5(term.encode()).hexdigest()[:13], 16) \
            % n_buckets

    def test_matches_direct_computation(self, spark):
        import math

        from xdlake_spark.operators import classify
        pdf = pd.DataFrame({
            "doc_id": [1, 2, 3, 4],
            "lang": ["en", "en", "fr", "fr"],
            "text": ["the cat sat", "the dog ran", "le chat noir",
                     "le chien the"]})
        B = 64
        got = {r["doc_id"]: r["logweight"] for r in
               classify.dsir_weights(
                   spark.createDataFrame(pdf), F.col("lang") == "en",
                   n_buckets=B).collect()}

        toks = {i: t.split() for i, t in zip(pdf.doc_id, pdf.text)}
        raw: dict[int, int] = {}
        tgt: dict[int, int] = {}
        for i, ts in toks.items():
            for t in ts:
                b = self._py_bucket(t, B)
                raw[b] = raw.get(b, 0) + 1
                if i in (1, 2):
                    tgt[b] = tgt.get(b, 0) + 1
        t_raw, t_tgt = sum(raw.values()), sum(tgt.values())
        for i, ts in toks.items():
            w = sum(
                math.log((tgt.get(self._py_bucket(t, B), 0) + 1)
                         / (t_tgt + B))
                - math.log((raw[self._py_bucket(t, B)] + 1) / (t_raw + B))
                for t in ts)
            assert got[i] == round(w, 6), (i, got[i], w)

    def test_target_docs_rank_higher(self, spark):
        # target domain has its own vocabulary: every target-looking
        # doc must outrank every raw-only-looking doc (the driver's
        # documents table has one shared vocabulary across langs, so it
        # can't separate — synthetic domains can)
        from xdlake_spark.operators import classify
        rows = [(i, "tgt", "quantum flux entangle qubit gate")
                for i in range(30)]
        rows += [(i + 30, "raw", "invoice payment ledger account tax")
                 for i in range(30)]
        d = spark.createDataFrame(rows, "doc_id long, lang string, "
                                        "text string")
        top = classify.dsir_weights(
            d, F.col("lang") == "tgt", top_k=30) \
            .join(d.select("doc_id", "lang"), "doc_id") \
            .filter(F.col("lang") == "tgt").count()
        assert top == 30, top

    def test_ratio_join_broadcasts(self, spark, documents):
        from xdlake_spark.operators import classify
        plan = classify.dsir_weights(documents, F.col("lang") == "en") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "BroadcastHashJoin" in plan


class TestImageHash:
    def _payloads(self, spark, n=120):
        from xdlake_spark.operators import multimodal
        d = spark.range(n).withColumnRenamed("id", "doc_id") \
            .withColumn("text", F.lit("x"))
        return multimodal.attach_fake_payloads(d, media="noise_ppm")

    def test_differential_vs_numpy(self, spark):
        from xdlake_spark.operators import imagehash, multimodal
        rows = self._payloads(spark, 24).collect()
        for kind in ("ahash", "dhash", "phash"):
            got = {r["doc_id"]: r["hash"] for r in
                   imagehash.phash_images(
                       self._payloads(spark, 24), kind=kind).collect()}
            for r in rows:
                pix = multimodal._decode_pixels_real(bytes(r["payload"]))
                want = imagehash.hash_pixels(pix, kind)
                assert got[r["doc_id"]] == want, (kind, r["doc_id"])

    def test_dhash_brightness_invariant(self, spark):
        import numpy as np

        from xdlake_spark.operators import imagehash
        rng = np.random.default_rng(7)
        pix = rng.integers(8, 240, size=(33, 47, 3)).astype(np.uint8)
        shifted = (pix.astype(np.int16) + 9).astype(np.uint8)
        assert imagehash.hash_pixels(pix, "dhash") == \
            imagehash.hash_pixels(shifted, "dhash")
        # unrelated noise must be far: expected Hamming ~32
        other = rng.integers(8, 240, size=(33, 47, 3)).astype(np.uint8)
        x = imagehash.hash_pixels(pix, "dhash") ^ \
            imagehash.hash_pixels(other, "dhash")
        assert bin(x & ((1 << 64) - 1)).count("1") > 12

    def test_banded_pairs_full_recall(self, spark):
        # every within-group pair must be found: banding with 4x16-bit
        # bands has perfect recall for hamming <= 15 by pigeonhole
        from xdlake_spark.operators import imagehash
        hashes = imagehash.phash_images(self._payloads(spark, 120),
                                        kind="dhash")
        got = {(r["id_a"], r["id_b"]) for r in
               imagehash.phash_neardup_pairs(hashes, max_hamming=15)
               .collect()}
        hs = {r["doc_id"]: r["hash"] for r in hashes.collect()}

        def ham(a, b):
            return bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")

        want = {(a, b) for a in range(120) for b in range(a + 1, 120)
                if ham(a, b) <= 15}
        assert got == want
        # the planted groups (id % 40) are all recovered
        assert all((a % 40) == (b % 40) for a, b in got)
        assert len(got) == 40 * 3  # 3 members per group -> C(3,2)=3

    def test_no_python_after_hash(self, spark):
        from xdlake_spark.operators import imagehash
        hashes = imagehash.phash_images(self._payloads(spark, 24))
        plan = imagehash.phash_neardup_pairs(hashes) \
            ._jdf.queryExecution().executedPlan().toString()
        # the decode ran once into the checkpoint: the pair plan reads
        # the materialized hash table, with NO Python stage and no
        # all-pairs join — banding + bit_count verify are pure JVM
        assert "MapInPandas" not in plan, plan
        assert "CartesianProduct" not in plan
        assert "bit_count" in plan

    def test_bad_kind_raises(self, spark):
        from xdlake_spark.operators import imagehash
        with pytest.raises(ValueError):
            imagehash.phash_images(self._payloads(spark, 4),
                                   kind="whash")
        with pytest.raises(ValueError):
            imagehash.phash_neardup_pairs(
                imagehash.phash_images(self._payloads(spark, 4)),
                max_hamming=16)


class TestMp3StreamInfo:
    def test_walker_matches_closed_form(self, spark):
        """mp3_stream_info byte-walks synthesized streams; every field
        must equal the closed form of doc_id the corpus generator used
        (the same arithmetic the DuckDB oracle runs)."""
        from xdlake_spark.operators import multimodal
        d = spark.range(24).withColumnRenamed("id", "doc_id") \
            .withColumn("text", F.lit("x"))
        p = multimodal.attach_fake_payloads(d, media="mp3")
        out = {r["doc_id"]: r for r in
               multimodal.mp3_stream_info(p).collect()}
        assert len(out) == 24
        for i in range(24):
            r = out[i]
            n = 8 + i % 17
            assert r["sample_rate"] == 44100
            assert r["channels"] == 1 + i % 2
            assert r["n_frames"] == n
            assert r["duration_s"] == pytest.approx(n * 1152 / 44100)
            if i % 3 == 0:
                sched = [96, 160, 256]
                want = sum(sched[f % 3] for f in range(n)) / n
                assert r["is_vbr"]
            else:
                want = (64, 128, 192, 320)[i % 4]
                assert not r["is_vbr"]
            assert r["bitrate_kbps"] == pytest.approx(want)

    def test_undecodable_payload_drops_row(self, spark):
        from xdlake_spark.operators import multimodal
        df = spark.createDataFrame(
            [(1, bytearray(b"\x00" * 64))], "doc_id long, payload binary")
        assert multimodal.mp3_stream_info(df).count() == 0

    def test_parse_audio_dispatches_mp3(self):
        import numpy as np

        from xdlake_spark.operators import codecs, multimodal
        sr, pcm, canon = multimodal._parse_audio(
            codecs.build_mp3_stream(5, id3_title="t"))
        assert sr == 44100 and len(pcm) == 5 * 1152
        assert not np.asarray(pcm).any()
        assert canon == b"\x00" * (5 * 1152 * 2)


class TestMp4ContainerInfo:
    def test_walker_matches_closed_form(self, spark):
        from xdlake_spark.operators import multimodal
        d = spark.range(18).withColumnRenamed("id", "doc_id") \
            .withColumn("text", F.lit("x"))
        p = multimodal.attach_fake_payloads(d, media="mp4")
        out = {r["doc_id"]: r for r in
               multimodal.mp4_stream_info(p).collect()}
        dims = ((640, 360), (1280, 720), (1920, 1080), (320, 240))
        assert len(out) == 18
        for i in range(18):
            r = out[i]
            assert r["major_brand"] == "isom"
            assert r["duration_s"] == pytest.approx(
                (500 + (i % 20) * 250) / 1000.0)
            assert r["video_codec"] == ("avc1", "hev1")[i % 2]
            assert (r["width"], r["height"]) == dims[i % 4]
            assert r["n_video_samples"] == 24 + i % 30
            if i % 3 == 0:
                assert r["n_tracks"] == 1 and r["audio_codec"] is None
            else:
                assert r["n_tracks"] == 2
                assert r["audio_codec"] == "mp4a"
                assert r["n_audio_samples"] == 40 + i % 25

    def test_undecodable_payload_drops_row(self, spark):
        from xdlake_spark.operators import multimodal
        df = spark.createDataFrame(
            [(1, bytearray(b"\xff" * 64))], "doc_id long, payload binary")
        assert multimodal.mp4_stream_info(df).count() == 0


class TestAudioFingerprint:
    def _melodies(self, spark, n, snip=False):
        from xdlake_spark.operators import multimodal
        d = spark.range(n).withColumnRenamed("id", "doc_id") \
            .withColumn("text", F.lit("x"))
        return multimodal.attach_fake_payloads(
            d, media="melody_snip" if snip else "melody_wav")

    def test_snippet_recovers_exact_offset(self, spark):
        from xdlake_spark.operators import audiofp
        corpus = audiofp.audio_fingerprints(self._melodies(spark, 60))
        snips = audiofp.audio_fingerprints(
            self._melodies(spark, 4, snip=True))
        # valve = 2: every melody exists in exactly 2 copies, so its
        # own hashes survive while any landmark shared across groups
        # (present in >= 4 docs) is dropped before the join
        got = audiofp.match_fingerprints(corpus_fp=corpus,
                                         query_fp=snips,
                                         min_votes=40,
                                         max_hash_freq=2).collect()
        matches = {(r["query_id"], r["corpus_id"]): r for r in got}
        # each snippet q hits both copies of its melody (q and q+30)
        for q in range(4):
            for c in (q, q + 30):
                r = matches[(q, c)]
                # snip = notes 2..5 -> 2*2048 samples / 256 hop = 16
                assert r["offset"] == 16, r
        assert all((q % 30) == (c % 30) for q, c in matches)

    def test_packed_hash_field_bounds_validated(self):
        """fanout >= 512 would overflow dt into the f2 bit field of
        f1<<18 | f2<<9 | dt, silently colliding hashes; same for a
        frame whose rFFT bin count exceeds the 9-bit frequency
        fields. Both must refuse loudly."""
        import numpy as np

        from xdlake_spark.operators import audiofp
        sig = np.random.default_rng(0).standard_normal(4096)
        with pytest.raises(ValueError, match="fanout"):
            audiofp.fingerprint_samples(sig, fanout=512)
        with pytest.raises(ValueError, match="frame"):
            audiofp.fingerprint_samples(sig, frame=2048)
        assert audiofp.fingerprint_samples(sig, fanout=511)

    def test_fingerprints_deterministic(self, spark):
        import numpy as np

        from xdlake_spark.operators import audiofp, multimodal
        rows = self._melodies(spark, 3).collect()
        fps = audiofp.audio_fingerprints(self._melodies(spark, 3)) \
            .collect()
        by_doc: dict = {}
        for r in fps:
            by_doc.setdefault(r["doc_id"], set()).add((r["hash"], r["t"]))
        for r in rows:
            _, mono, _ = multimodal._parse_audio(bytes(r["payload"]))
            want = set(audiofp.fingerprint_samples(
                mono.astype(np.float64)))
            assert by_doc[r["doc_id"]] == want

    def test_stop_hash_valve(self, spark):
        from xdlake_spark.operators import audiofp
        corpus = audiofp.audio_fingerprints(self._melodies(spark, 60))
        # a valve of 1 drops every hash shared by the two copies of
        # each melody -> no matches survive
        snips = audiofp.audio_fingerprints(
            self._melodies(spark, 2, snip=True))
        got = audiofp.match_fingerprints(snips, corpus, min_votes=1,
                                         max_hash_freq=1).count()
        assert got == 0

    def test_match_plan_is_hash_join(self, spark):
        from xdlake_spark.operators import audiofp
        corpus = audiofp.audio_fingerprints(self._melodies(spark, 8))
        snips = audiofp.audio_fingerprints(
            self._melodies(spark, 2, snip=True))
        plan = audiofp.match_fingerprints(snips, corpus) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestNormalizeText:
    def _norm(self, spark, texts):
        from xdlake_spark.operators.text import normalize_text
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                   "doc_id int, text string")
        rows = normalize_text(df).orderBy("doc_id").collect()
        return [r.norm_text for r in rows]

    def test_nfc_composes_decomposed_accents(self, spark):
        composed, decomposed = "caf\u00e9", "cafe\u0301"
        assert self._norm(spark, [composed, decomposed]) == \
            ["caf\u00e9", "caf\u00e9"]

    def test_zero_width_and_soft_hyphen_stripped(self, spark):
        dirty = "a\u200bb\u200cc\u200dd\ufeffe\u00adf"
        assert self._norm(spark, [dirty]) == ["abcdef"]

    def test_case_whitespace_and_trim(self, spark):
        assert self._norm(spark, ["  Hello\t\tWORLD \n"]) == \
            ["hello world"]

    def test_null_passthrough(self, spark):
        assert self._norm(spark, [None, "x"]) == [None, "x"]


class TestLshTune:
    def test_inflection_tracks_threshold(self):
        from xdlake_spark.operators.dedup import lsh_tune
        for thr in (0.3, 0.5, 0.7, 0.9):
            b, r, s50 = lsh_tune(thr, 128)
            assert b * r == 128
            assert abs(s50 - thr) < 0.15
            # collision probability is high right of the threshold...
            p_hi = 1 - (1 - min(0.999, thr + 0.2) ** r) ** b
            assert p_hi > 0.75
            # ...and low well left of it
            p_lo = 1 - (1 - max(0.001, thr - 0.25) ** r) ** b
            assert p_lo < 0.45

    def test_known_textbook_point(self):
        from xdlake_spark.operators.dedup import lsh_tune
        b, r, s50 = lsh_tune(0.5, 32)
        assert abs((1.0 / b) ** (1.0 / r) - s50) < 1e-6

    def test_bad_inputs(self):
        import pytest
        from xdlake_spark.operators.dedup import lsh_tune
        with pytest.raises(ValueError):
            lsh_tune(1.5)
        with pytest.raises(ValueError):
            lsh_tune(0.5, 1)


class TestScriptProfile:
    def test_counts_dominant_and_mix(self, spark):
        from xdlake_spark.operators.text import script_profile
        df = spark.createDataFrame(
            [(1, "hello world"),
             (2, "привет hello"),          # cyrillic 6 > latin 5
             (3, "你好 こんにちは 你好"),     # han 4, kana 5
             (4, "12345 !!!"),             # no script at all
             (5, "abcde владимир")],       # cyrillic 8 > latin 5
            "doc_id long, text string")
        got = {r["doc_id"]: r for r in script_profile(df).collect()}
        assert got[1]["dominant_script"] == "latin"
        assert got[1]["script_mix"] == 1
        assert got[2]["dominant_script"] == "cyrillic"
        assert got[2]["n_cyrillic"] == 6 and got[2]["n_latin"] == 5
        assert got[3]["dominant_script"] == "kana"
        assert got[3]["n_han"] == 4 and got[3]["n_kana"] == 5
        assert got[3]["script_mix"] == 2
        assert got[4]["dominant_script"] == "none"
        assert got[4]["script_mix"] == 0
        assert got[5]["dominant_script"] == "cyrillic"

    def test_tie_breaks_alphabetically(self, spark):
        from xdlake_spark.operators.text import script_profile
        # 2 han vs 2 cyrillic: cyrillic wins the tie alphabetically
        df = spark.createDataFrame([(1, "你好 да")],
                                   "doc_id long, text string")
        r = script_profile(df).collect()[0]
        assert r["n_han"] == 2 and r["n_cyrillic"] == 2
        assert r["dominant_script"] == "cyrillic"


class TestCompressionRatio:
    def test_matches_stdlib_zlib(self, spark, documents):
        import zlib
        from xdlake_spark.operators.text import compression_ratio
        src = {r["doc_id"]: r["text"]
               for r in documents.limit(30).collect()}
        got = {r["doc_id"]: r for r in
               compression_ratio(documents.limit(30)).collect()}
        assert set(got) == set(src)
        for doc_id, text in src.items():
            raw = (text or "").encode("utf-8")
            comp = zlib.compress(raw, 6)
            r = got[doc_id]
            assert r["n_bytes"] == len(raw)
            assert r["n_compressed"] == len(comp)
            assert r["ratio"] == round(len(comp) / len(raw), 6)

    def test_repetitive_text_compresses_harder(self, spark):
        from xdlake_spark.operators.text import compression_ratio
        import random
        random.seed(7)
        noise = "".join(random.choice("abcdefgh ") for _ in range(2000))
        df = spark.createDataFrame(
            [(1, "spam " * 400), (2, noise), (3, "")],
            "doc_id long, text string")
        got = {r["doc_id"]: r["ratio"]
               for r in compression_ratio(df).collect()}
        assert got[1] < 0.05          # boilerplate crushes
        assert got[2] > 0.3           # noise resists
        assert got[3] == 1.0          # empty sentinel


class TestTrainableQualityClassifier:
    """Distributed full-batch logistic regression over hashed unigram
    features (operators/classify.py train_quality_classifier — the
    training half linear_classifier_scores lacked, VERDICT r8 missing
    item 4): differential vs a sequential numpy twin running the
    identical algorithm (deterministic zero init, same md5 buckets,
    same GD updates), plus an AUC gate on a learnable label."""

    def _numpy_twin(self, rows, n_buckets, epochs, lr):
        import hashlib
        feats, ys = [], []
        for text, y in rows:
            toks = [t for t in text.strip().lower().split() if t]
            cnt: dict = {}
            for t in toks:
                b = int(hashlib.md5(t.encode()).hexdigest()[:13],
                        16) % n_buckets
                cnt[b] = cnt.get(b, 0) + 1
            n = sum(cnt.values())
            feats.append({b: c / n for b, c in cnt.items()})
            ys.append(float(y))
        w = np.zeros(n_buckets)
        b = 0.0
        n_docs = len(rows)
        for _ in range(epochs):
            g = np.zeros(n_buckets)
            gb = 0.0
            for f, y in zip(feats, ys):
                m = b + sum(w[k] * v for k, v in f.items())
                r = 1.0 / (1.0 + np.exp(-m)) - y
                for k, v in f.items():
                    g[k] += r * v
                gb += r
            w -= lr * g / n_docs
            b -= lr * gb / n_docs
        return w, b

    def test_matches_numpy_twin(self, spark, documents):
        from xdlake_spark.operators import classify
        d = documents.filter(F.col("doc_id") < 80)
        labeled = d.withColumn(
            "y", F.col("text").contains("query").cast("int"))
        w, b = classify.train_quality_classifier(
            labeled, "y", n_buckets=64, epochs=4, lr=2.0)
        rows = [(r["text"], 1 if "query" in r["text"] else 0)
                for r in d.select("text").collect()]
        w2, b2 = self._numpy_twin(rows, 64, 4, 2.0)
        assert np.allclose(w, w2, rtol=1e-9, atol=1e-12)
        assert abs(b - b2) < 1e-10

    def test_learns_separable_label_auc(self, spark, documents):
        from xdlake_spark.operators import classify
        labeled = documents.withColumn(
            "y", F.col("text").contains("query").cast("int"))
        w, b = classify.train_quality_classifier(
            labeled, "y", n_buckets=256, epochs=6)
        scored = (classify.quality_classifier_predict(documents, w, b)
                  .join(labeled.select("doc_id", "y"), "doc_id")
                  .collect())
        import bisect
        pos = sorted(r["score"] for r in scored if r["y"] == 1)
        neg = sorted(r["score"] for r in scored if r["y"] == 0)
        auc = sum(
            bisect.bisect_left(neg, p)
            + 0.5 * (bisect.bisect_right(neg, p)
                     - bisect.bisect_left(neg, p))
            for p in pos) / (len(pos) * len(neg))
        assert auc > 0.85, auc
        # scoring output shape/rounding contract
        assert all(0.0 <= r["score"] <= 1.0 for r in scored)


class TestShuffleShards:
    """Deterministic corpus shuffle (operators/sampling.py
    shuffle_shards, r9): reproducible permutation, complete cover,
    contiguous intra-shard positions, seed sensitivity; the window is
    partitioned by shard (plan-visible bounded state)."""

    def test_permutation_properties(self, spark, documents):
        from xdlake_spark.operators.sampling import shuffle_shards
        out = shuffle_shards(documents, n_shards=8, seed=3).collect()
        n = documents.count()
        assert len(out) == n
        assert len({r["doc_id"] for r in out}) == n
        by_shard: dict = {}
        for r in out:
            assert 0 <= r["shard"] < 8
            by_shard.setdefault(r["shard"], []).append(r["pos"])
        for poss in by_shard.values():
            assert sorted(poss) == list(range(1, len(poss) + 1))
        # deterministic across invocations
        again = shuffle_shards(documents, n_shards=8, seed=3).collect()
        assert {(r["doc_id"], r["shard"], r["pos"]) for r in out} \
            == {(r["doc_id"], r["shard"], r["pos"]) for r in again}
        # a different seed is a different permutation
        other = shuffle_shards(documents, n_shards=8, seed=4).collect()
        assert {(r["doc_id"], r["shard"], r["pos"]) for r in out} \
            != {(r["doc_id"], r["shard"], r["pos"]) for r in other}

    def test_window_is_shard_partitioned(self, spark, documents):
        import re as _re
        from xdlake_spark.operators.sampling import shuffle_shards
        plan = shuffle_shards(documents, n_shards=8)._jdf \
            .queryExecution().executedPlan().toString()
        specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs and all("shard" in s for s in specs), plan


class TestUnimaxMix:
    """UniMax epoch-capped mixture (operators/sampling.py unimax_mix,
    r12 — Chung et al. 2023): the closed-form integer water-filling
    must equal the paper's SEQUENTIAL allocation loop, and the
    doc-level unroll must equal a pure-Python replay of the
    hash-ordered partial-epoch prefix."""

    @staticmethod
    def _sequential_alloc(totals: dict, budget: int, epochs: int):
        """The paper's loop in EXACT rational arithmetic (smallest
        stratum first, uniform share of the remaining budget capped
        at `epochs` passes of its data), floored to integers at the
        end — the operator's documented discretization (a truncating
        per-step loop would instead cascade flooring remainders onto
        later strata, a different and layout-order-sensitive policy)."""
        from fractions import Fraction
        remaining = Fraction(budget)
        items = sorted(totals.items(), key=lambda kv: (kv[1], kv[0]))
        alloc = {}
        for idx, (s, n) in enumerate(items):
            share = max(Fraction(0), remaining) / (len(items) - idx)
            exact = min(Fraction(epochs * n), share)
            alloc[s] = int(exact)          # floor (non-negative)
            remaining -= exact
        return alloc

    @staticmethod
    def _expected_copies(rows, alloc):
        """Pure-Python replay of the doc-level unroll."""
        import hashlib
        by_s: dict = {}
        for r in rows:
            k = int(hashlib.md5(
                f"unimax:{r['doc_id']}".encode()).hexdigest()[:13], 16)
            by_s.setdefault(r["lang"], []).append(
                (k, r["doc_id"], r["n_chars"]))
        out = {}
        for s, docs in by_s.items():
            n = sum(d[2] for d in docs)
            full, rem = alloc[s] // n, alloc[s] % n
            csum = 0
            for k, doc_id, sz in sorted(docs):
                csum += sz
                c = full + (1 if csum <= rem else 0)
                if c > 0:
                    out[doc_id] = (s, c)
        return out

    def test_matches_sequential_twin(self, spark, documents):
        from xdlake_spark.operators.sampling import unimax_mix
        rows = documents.select("doc_id", "lang", "n_chars").collect()
        totals: dict = {}
        for r in rows:
            totals[r["lang"]] = totals.get(r["lang"], 0) + r["n_chars"]
        budget = sum(totals.values()) * 2
        alloc = self._sequential_alloc(totals, budget, epochs=3)
        expected = self._expected_copies(rows, alloc)
        got = {r["doc_id"]: (r["lang"], r["n_copies"])
               for r in unimax_mix(documents, "lang", "n_chars",
                                   "doc_id", budget, 3).collect()}
        assert got == expected
        # the regime is interesting: a 2x-corpus budget forces
        # multi-epoch repetition, and at least one stratum lands on a
        # full-epochs + partial-prefix mix of copy counts
        per_s = {}
        for s, c in got.values():
            per_s.setdefault(s, set()).add(c)
        assert any(max(cs) >= 2 for cs in per_s.values())
        assert any(len(cs) > 1 for cs in per_s.values())

    def test_budget_and_cap_invariants(self, spark, documents):
        from pyspark.sql import functions as F
        from xdlake_spark.operators.sampling import unimax_mix
        budget = 50_000
        out = unimax_mix(documents, "lang", "n_chars", "doc_id",
                         budget, max_epochs=2)
        j = (out.join(documents.select("doc_id", "n_chars"), "doc_id")
             .withColumn("chars", F.col("n_copies") * F.col("n_chars")))
        assert j.agg(F.sum("chars")).first()[0] <= budget
        assert out.agg(F.max("n_copies")).first()[0] <= 2
        per = (j.groupBy("lang").agg(F.sum("chars").alias("c"))
               .join(documents.groupBy("lang")
                     .agg(F.sum("n_chars").alias("n")), "lang")
               .collect())
        for r in per:
            assert r["c"] <= 2 * r["n"]

    def test_degenerate_budgets(self, spark, documents):
        from pyspark.sql import functions as F
        from xdlake_spark.operators.sampling import unimax_mix
        assert unimax_mix(documents, "lang", "n_chars", "doc_id",
                          0, 3).count() == 0
        # budget >= sum of caps: every document at exactly max_epochs
        total = documents.agg(F.sum("n_chars")).first()[0]
        out = unimax_mix(documents, "lang", "n_chars", "doc_id",
                         int(total) * 10, max_epochs=2)
        assert out.filter(F.col("n_copies") != 2).count() == 0
        assert out.count() == documents.count()

    def test_skewed_cap_release(self, spark):
        """A tiny stratum caps out and releases budget to the big
        one — the core UniMax fairness mechanic."""
        from xdlake_spark.operators.sampling import unimax_mix
        rows = ([(i, "small", 10) for i in range(5)]
                + [(100 + i, "big", 100) for i in range(50)])
        df = spark.createDataFrame(rows, "id long, s string, sz long")
        # uniform share would be 1000 each; small caps at 3*50=150
        out = {(r["id"], r["n_copies"])
               for r in unimax_mix(df, "s", "sz", "id", 2000, 3)
               .collect()}
        small = {c for i, c in out if i < 100}
        big_chars = sum(100 * c for i, c in out if i >= 100)
        assert small == {3}
        assert 2000 - 150 - 100 < big_chars <= 2000 - 150

    def test_validation(self, spark, documents):
        import pytest as _pytest
        from xdlake_spark.operators.sampling import unimax_mix
        with _pytest.raises(ValueError):
            unimax_mix(documents, "lang", "n_chars", "doc_id", -1, 3)
        with _pytest.raises(ValueError):
            unimax_mix(documents, "lang", "n_chars", "doc_id", 10, 0)


class TestBitextMarginMine:
    """Margin-based bitext mining (similarity.bitext_margin_mine, r12
    — Artetxe & Schwenk 2019): the distributed pipeline must equal a
    numpy twin of the ratio-margin criterion, demote hub vectors that
    a raw-cosine matcher would pick, and honor the ANN-candidates
    path."""

    @staticmethod
    def _numpy_twin(src_rows, tgt_rows, k, threshold):
        import numpy as np
        sids = [r[0] for r in src_rows]
        tids = [r[0] for r in tgt_rows]
        S = np.array([r[1] for r in src_rows], dtype=np.float64)
        T = np.array([r[1] for r in tgt_rows], dtype=np.float64)
        S /= np.clip(np.linalg.norm(S, axis=1, keepdims=True),
                     1e-12, None)
        T /= np.clip(np.linalg.norm(T, axis=1, keepdims=True),
                     1e-12, None)
        C = np.round(S @ T.T, 6)
        # k-NN means with (cos desc, id asc) tie-breaks
        def topk_mean(scores, ids, kk):
            order = sorted(range(len(ids)),
                           key=lambda j: (-scores[j], ids[j]))[:kk]
            return sum(scores[j] for j in order) / len(order)
        df_ = [topk_mean(C[i], tids, k) for i in range(len(sids))]
        db_ = [topk_mean(C[:, j], sids, k) for j in range(len(tids))]
        M = np.zeros_like(C)
        for i in range(len(sids)):
            for j in range(len(tids)):
                M[i, j] = round(
                    C[i, j] / max((df_[i] + db_[j]) / 2, 1e-9), 4)
        out = set()
        for i in range(len(sids)):
            jbest = min(range(len(tids)),
                        key=lambda j: (-M[i, j], tids[j]))
            ibest = min(range(len(sids)),
                        key=lambda i2: (-M[i2, jbest], sids[i2]))
            if ibest == i and M[i, jbest] >= threshold:
                out.add((sids[i], tids[jbest], M[i, jbest]))
        return out

    def _sides(self, embeddings):
        from pyspark.sql import functions as F
        src = (embeddings.filter(F.col("vec_id") % 4 == 0)
               .select(F.col("vec_id").alias("src_id"), "embedding"))
        tgt = (embeddings.filter(F.col("vec_id") % 4 == 1)
               .select(F.col("vec_id").alias("tgt_id"), "embedding"))
        return src, tgt

    def test_matches_numpy_twin(self, spark, embeddings):
        src, tgt = self._sides(embeddings)
        got = {(r["src_id"], r["tgt_id"], r["margin"])
               for r in similarity.bitext_margin_mine(
                   src, tgt, k=4, threshold=1.0).collect()}
        want = self._numpy_twin(
            [(r["src_id"], r["embedding"]) for r in src.collect()],
            [(r["tgt_id"], r["embedding"]) for r in tgt.collect()],
            k=4, threshold=1.0)
        assert got == want and got

    def test_hub_demotion(self, spark):
        """A tgt hub close to EVERY src wins every raw-cosine argmax,
        but the margin criterion (hub's own k-NN mean is high) keeps
        genuine pairs instead."""
        import numpy as np
        rng = np.random.default_rng(7)
        base = rng.normal(size=(6, 8))
        # tgt j is a slightly perturbed copy of src j -> true pairs
        src_rows = [(i, base[i].tolist()) for i in range(6)]
        tgt_rows = [(100 + i, (base[i] + 0.05 * rng.normal(size=8))
                     .tolist()) for i in range(6)]
        # the hub: the normalized centroid, moderately close to all
        hub = base.sum(axis=0)
        tgt_rows.append((999, (hub / np.linalg.norm(hub)).tolist()))
        src = spark.createDataFrame(
            src_rows, "src_id long, embedding array<double>")
        tgt = spark.createDataFrame(
            tgt_rows, "tgt_id long, embedding array<double>")
        out = similarity.bitext_margin_mine(src, tgt, k=3,
                                            threshold=1.0).collect()
        mined = {(r["src_id"], r["tgt_id"]) for r in out}
        true_pairs = {(i, 100 + i) for i in range(6)}
        assert len(mined & true_pairs) >= 4
        assert sum(1 for _, t in mined if t == 999) <= 1

    def test_candidates_path(self, spark, embeddings):
        """Candidate pairs covering the full product reproduce the
        exact result; a restricted candidate set stays within it."""
        src, tgt = self._sides(embeddings)
        full = (src.select("src_id").crossJoin(tgt.select("tgt_id")))
        exact = {(r["src_id"], r["tgt_id"], r["margin"])
                 for r in similarity.bitext_margin_mine(
                     src, tgt, k=4, threshold=1.0).collect()}
        via_cand = {(r["src_id"], r["tgt_id"], r["margin"])
                    for r in similarity.bitext_margin_mine(
                        src, tgt, k=4, threshold=1.0,
                        candidates=full).collect()}
        assert via_cand == exact

    def test_validation(self, spark, embeddings):
        import pytest as _pytest
        src, tgt = self._sides(embeddings)
        with _pytest.raises(ValueError):
            similarity.bitext_margin_mine(src, tgt, k=0)


class TestR12Plans:
    """Physical-plan pins for the r12 operators: the documented
    shuffle counts and JVM-only row paths are contracts, not
    accidents."""

    def test_bitext_exactly_three_exchanges_no_python(self, spark,
                                                      embeddings):
        import re as _re
        from pyspark.sql import functions as F
        src = (embeddings.filter(F.col("vec_id") % 4 == 0)
               .select(F.col("vec_id").alias("src_id"), "embedding"))
        tgt = (embeddings.filter(F.col("vec_id") % 4 == 1)
               .select(F.col("vec_id").alias("tgt_id"), "embedding"))
        plan = (similarity.bitext_margin_mine(src, tgt, k=4)
                ._jdf.queryExecution().executedPlan().toString())
        assert len(_re.findall(r"Exchange hashpartitioning",
                               plan)) == 3, plan
        assert "EvalPython" not in plan

    def test_unimax_corpus_window_is_stratum_partitioned(
            self, spark, documents):
        import re as _re
        from xdlake_spark.operators.sampling import unimax_mix
        plan = (unimax_mix(documents, "lang", "n_chars", "doc_id",
                           100_000, 3)
                ._jdf.queryExecution().executedPlan().toString())
        # every window over the CORPUS must be partitioned by the
        # stratum; the only unpartitioned windows run on the k-row
        # stratum table (upstream of the broadcast join)
        assert "windowspecdefinition(lang" in plan, plan
        assert "EvalPython" not in plan
        # the stratum plan reaches the corpus via a broadcast join
        assert "BroadcastHashJoin" in plan or \
            "BroadcastNestedLoopJoin" in plan


class TestUnimaxWaterFillingProperty:
    """Hypothesis proof of the identity the Spark implementation
    relies on: closed-form integer water-filling (max over split
    points, then clamp) equals the UniMax paper's sequential
    allocation loop for every input."""

    def test_closed_form_equals_sequential(self):
        from fractions import Fraction

        from hypothesis import given, settings, strategies as st

        @settings(max_examples=300, deadline=None)
        @given(st.lists(st.integers(min_value=1, max_value=10**9),
                        min_size=1, max_size=12),
               st.integers(min_value=0, max_value=10**10),
               st.integers(min_value=1, max_value=8))
        def check(sizes, budget, epochs):
            totals = {f"s{i:02d}": n for i, n in enumerate(sizes)}
            items = sorted(totals.items(),
                           key=lambda kv: (kv[1], kv[0]))
            # the paper's loop, exact arithmetic, floored at the end
            remaining = Fraction(budget)
            seq = {}
            for idx, (s, n) in enumerate(items):
                share = max(Fraction(0),
                            remaining) / (len(items) - idx)
                exact = min(Fraction(epochs * n), share)
                seq[s] = int(exact)
                remaining -= exact
            # closed form (the Spark implementation's math): integer
            # truncating division on clamped non-negative operands
            prefix, U = 0, 0
            for i, (s, n) in enumerate(items):
                U = max(U, max(0, budget - prefix)
                        // (len(items) - i))
                prefix += epochs * n
            closed = {s: max(0, min(epochs * n, U))
                      for s, n in totals.items()}
            assert closed == seq

        check()
