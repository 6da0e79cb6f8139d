"""Dedup + similarity operators against planted duplicates (the test
tables carry none at low thresholds, so we plant our own)."""

import pytest
from pyspark.sql import functions as F

from biosets_spark.operators import dedup as D
from biosets_spark.operators import similarity as S

BASE = (
    "the quick brown fox jumps over the lazy dog while the spark engine "
    "shuffles partitions across the cluster and the optimizer prunes columns "
    "from the parquet scan before the broadcast join begins"
)


@pytest.fixture()
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("lazy", "sleepy")),  # near dup of 0
        (3, "completely different content about databases and indexes and btrees and pages"),
        (4, "  " + BASE.upper() + "  "),  # case/whitespace dup of 0 (normalized-exact)
        (5, "short doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = D.exact_dedup(docs).collect()
    groups = {r.keep_id: r.dup_count for r in out}
    assert groups[0] == 3  # 0, 1, 4 share a normalized fingerprint
    assert groups[2] == 1 and groups[3] == 1 and groups[5] == 1


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in D.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 < pairs[(0, 2)] < 1.0
    assert not any({3, 5} & set(k) for k in pairs)


def test_minhash_lsh_recall(docs):
    exact = {(r.id_a, r.id_b) for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    # verification step guarantees precision; LSH banding should catch
    # all high-jaccard pairs here
    assert lsh == exact and (0, 1) in lsh


def test_simhash_identical_for_dups(docs):
    sigs = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    assert sigs[0] == sigs[1]
    ham02 = bin(sigs[0] ^ sigs[2]).count("1")
    ham03 = bin(sigs[0] ^ sigs[3]).count("1")
    assert ham02 < ham03


def test_simhash_pairs(docs):
    pairs = {(r.id_a, r.id_b) for r in D.simhash_pairs(docs, max_hamming=6).collect()}
    assert (0, 1) in pairs
    assert not any({3} & set(k) for k in pairs)


@pytest.fixture()
def embeddings(spark):
    import random

    rnd = random.Random(42)
    rows = []
    for i in range(50):
        rows.append((i, [rnd.gauss(0, 1) for _ in range(16)]))
    # plant: vec 50 = vec 0 + tiny noise (near-dup)
    rows.append((50, [x + 0.001 for x in rows[0][1]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_knn_bruteforce_finds_planted(embeddings):
    q = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).first().embedding]
    top = S.knn_bruteforce(embeddings, q, k=3, exclude_self=0).collect()
    assert top[0].neighbor_id == 50 and top[0].sim > 0.999


def test_all_pairs_topk(embeddings):
    top = S.all_pairs_topk(embeddings, k=5).collect()
    assert (top[0].id_a, top[0].id_b) == (0, 50)
    sims = [r.sim for r in top]
    assert sims == sorted(sims, reverse=True)


def test_lsh_knn_recall(embeddings):
    q = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).first().embedding]
    exact = [r.neighbor_id for r in S.knn_bruteforce(embeddings, q, k=3, exclude_self=0).collect()]
    approx = [r.neighbor_id for r in S.lsh_knn(embeddings.filter("vec_id != 0"), q, dim=16, k=3).collect()]
    # the planted near-dup lands in the same bucket by construction
    assert 50 in approx and exact[0] == 50


def test_ivf_knn(embeddings):
    q = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).first().embedding]
    assigned, cents = S.ivf_build(embeddings.filter("vec_id != 0"), n_cells=4)
    got = [r.neighbor_id for r in S.ivf_knn(assigned, cents, q, k=3, n_probe=2).collect()]
    assert 50 in got


def test_connected_components_chain_and_clique(spark):
    from biosets_spark.operators.graph import connected_components

    # chain 1-2-3-4 (diameter 3) + clique {10,11,12} + isolated pair (20,21)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    # both strategies must produce identical labels: the driver-side
    # union-find fast path (default for <=100k edges) and the
    # distributed min-label loop (forced via small_graph_threshold=0)
    for thr in (100_000, 0):
        comp = {
            r.node: r.component
            for r in connected_components(
                pairs, small_graph_threshold=thr
            ).collect()
        }
        assert comp[1] == comp[2] == comp[3] == comp[4] == 1
        assert comp[10] == comp[11] == comp[12] == 10
        assert comp[20] == comp[21] == 20


def test_dedup_clusters_end_to_end(spark, docs):
    from biosets_spark.operators import dedup as D
    from biosets_spark.operators.graph import dedup_clusters

    pairs = D.ngram_jaccard_pairs(docs, threshold=0.3)
    decided = dedup_clusters(docs, pairs)
    rows = {r.doc_id: (r.cluster_id, r.keep) for r in decided.collect()}
    # docs 0,1,2 cluster together (rep 0); 4 is normalized-dup of 0 only
    # under exact dedup, but shares shingles case-sensitively? -> check
    assert rows[0] == (0, True)
    assert rows[1][0] == 0 and not rows[1][1]
    assert rows[2][0] == 0 and not rows[2][1]
    assert rows[3] == (3, True)  # unrelated doc keeps itself
    assert rows[5] == (5, True)


def test_clean_corpus_pipeline(spark, docs):
    from biosets_spark.operators.pipeline import clean_corpus

    kept = clean_corpus(docs, jaccard_threshold=0.3)
    ids = sorted(r.doc_id for r in kept.collect())
    # 1 and 4 are exact dups of 0; 2 is a near-dup of 0; 5 ("short doc")
    # fails the quality gate; 3 is distinct and long enough
    assert ids == [0, 3]
    # LSH variant makes the same decisions here
    kept_lsh = clean_corpus(docs, jaccard_threshold=0.3, use_lsh=True)
    assert sorted(r.doc_id for r in kept_lsh.collect()) == ids


def test_all_pairs_topk_blocked_matches_single_block(embeddings):
    """Grid-blocking must not change the result: force multiple index
    blocks with a tiny max_index_rows and compare to the one-block run."""
    single = [(r.id_a, r.id_b) for r in S.all_pairs_topk(embeddings, k=5).collect()]
    blocked = [
        (r.id_a, r.id_b)
        for r in S.all_pairs_topk(embeddings, k=5, max_index_rows=10).collect()
    ]
    assert blocked == single
    assert blocked[0] == (0, 50)


def _ranked_pairs(df):
    return [(r.id_a, r.id_b, r.sim) for r in df.collect()]


def _sorted_pairs(df):
    return sorted((r.id_a, r.id_b, r.sim) for r in df.collect())


def _sorted_neighbors(df):
    return sorted((r.qid, r.nid, r.sim, r.rank) for r in df.collect())


# each grid operator's call on n identical vectors, and the rows it
# must return: every pair ties at sim 1.0, so the id order decides
TIE_CASES = {
    "all_pairs_topk": (
        lambda df, m: _ranked_pairs(S.all_pairs_topk(df, k=5, max_index_rows=m)),
        lambda n: [(0, b, 1.0) for b in range(1, 6)]),
    "knn_all": (
        lambda df, m: _sorted_neighbors(S.knn_all(df, k=3, max_index_rows=m)),
        lambda n: [(q, nid, 1.0, rank + 1) for q in range(n)
                   for rank, nid in enumerate([i for i in range(n) if i != q][:3])]),
    "embedding_dup_pairs": (
        lambda df, m: _sorted_pairs(S.embedding_dup_pairs(df, threshold=0.99, max_index_rows=m)),
        lambda n: [(a, b, 1.0) for a in range(n) for b in range(a + 1, n)]),
}


def _identical(spark, n):
    return spark.createDataFrame([(i, [2.0, 0.0, 0.0, 0.0]) for i in range(n)],
                                 "vec_id long, embedding array<double>")


@pytest.mark.parametrize("n", [40, 300])
@pytest.mark.parametrize("max_index_rows", [200_000, 10])
@pytest.mark.parametrize("op", list(TIE_CASES))
def test_grid_kernels_break_ties_by_id(spark, op, max_index_rows, n):
    """Identical vectors tie at sim 1.0 on every pair, so each
    operator's partner cut must keep the lowest ids among tied
    partners, in the single-block plan and the block-pair grid alike:
    the top 5 pairs are (0,1)..(0,5), each row's 3 neighbors are its 3
    lowest other ids, and every pair a < b clears the threshold."""
    run, expected = TIE_CASES[op]
    assert run(_identical(spark, n), max_index_rows) == expected(n)


@pytest.mark.parametrize("n", [0, 1, 2])
@pytest.mark.parametrize("max_index_rows", [200_000, 1])
@pytest.mark.parametrize("op", list(TIE_CASES))
def test_grid_kernels_on_tiny_corpora(spark, op, max_index_rows, n):
    """An empty, one-row and two-row corpus each give the operator's
    schema; only two identical rows make a pair."""
    fn = getattr(S, op)
    out = fn(_identical(spark, n), max_index_rows=max_index_rows)
    if op == "knn_all":
        assert out.dtypes == [("qid", "bigint"), ("nid", "bigint"), ("sim", "double"),
                              ("rank", "int")]
        assert _sorted_neighbors(out) == ([(0, 1, 1.0, 1), (1, 0, 1.0, 1)] if n == 2 else [])
    else:
        assert out.dtypes == [("id_a", "bigint"), ("id_b", "bigint"), ("sim", "double")]
        assert _sorted_pairs(out) == ([(0, 1, 1.0)] if n == 2 else [])


def test_embedding_dup_pairs_planted_and_blocked(embeddings):
    """The planted near-dup (0, 50) is the only pair above 0.95; the
    grid-blocked run (tiny max_index_rows) must equal the single-block
    run exactly."""
    single = {(r.id_a, r.id_b) for r in S.embedding_dup_pairs(embeddings, threshold=0.95).collect()}
    assert single == {(0, 50)}
    blocked = {
        (r.id_a, r.id_b)
        for r in S.embedding_dup_pairs(embeddings, threshold=0.95, max_index_rows=10).collect()
    }
    assert blocked == single


def test_ngram_hot_shingle_cutoff(docs):
    """max_shingle_df drops stopword-shingles from BOTH sides of the
    jaccard: with an aggressive cutoff the planted dup pair must still
    surface (its rare shingles survive) while hot shingles shared by
    many docs no longer join."""
    exact = {(r.id_a, r.id_b) for r in D.ngram_jaccard_pairs(docs, threshold=0.9).collect()}
    bounded = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.9, max_shingle_df=2).collect()
    }
    # the exact-dup pair (0,1) shares every shingle — all with df >= 2
    # only because doc 1 duplicates doc 0; shingles with df > 2 are cut,
    # the rest still give jaccard 1.0 for the identical pair
    assert (0, 1) in exact and (0, 1) in bounded


def test_connected_components_nonconvergence_raises(spark):
    from biosets_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )  # diameter 6 > max_iterations=2
    # the distributed label path must be forced: union-find solves any
    # small graph in one pass, and the star default converges a
    # 7-node chain within 2-3 rounds regardless of diameter
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            chain, max_iterations=2, small_graph_threshold=0,
            algorithm="label",
        ).collect()
    # warn mode returns (partial) labels instead
    with pytest.warns(RuntimeWarning, match="did not converge"):
        out = connected_components(
            chain, max_iterations=2, on_nonconvergence="warn",
            small_graph_threshold=0, algorithm="label",
        )
        assert out.count() == 7
    # the fast path solves the same chain exactly, no iteration bound
    comp = {
        r.node: r.component
        for r in connected_components(chain, max_iterations=2).collect()
    }
    assert all(v == 0 for v in comp.values())


def test_grid_kernels_reject_non_integral_ids(spark):
    """The grid-block kernels emit long ids from their Arrow batches;
    a string id must fail fast with guidance, not coerce mid-job."""
    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], "vec_id string, embedding array<double>"
    )
    for fn in (S.all_pairs_topk, S.knn_all, S.embedding_dup_pairs):
        with pytest.raises(TypeError, match="integral id column"):
            fn(df)


def test_portable_mix60_cross_engine(spark):
    """portable_mix60 (Spark) and the DuckDB twin produce identical
    integers, stay inside [0, 2^60), and separate salts decorrelate:
    the derive-k-from-1 minhash derivation is engine-portable."""
    import duckdb
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from biosets_spark.operators.dedup import portable_hash60, portable_mix60
    from biosets_spark.queries.wave13 import _mix60_sql

    words = [f"shingle {i} text" for i in range(50)]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    out = (
        df.withColumn("h0", portable_hash60(col("s")))
        .select("s", "h0", *[portable_mix60(col("h0"), i).alias(f"m{i}") for i in range(4)])
        .collect()
    )
    con = duckdb.connect()
    for r in out:
        for i in range(4):
            v = con.execute(
                f"SELECT {_mix60_sql('h0', i)} FROM (SELECT CAST(? AS BIGINT) AS h0)",
                [r["h0"]],
            ).fetchone()[0]
            assert v == r[f"m{i}"], (r["s"], i)
            assert 0 <= v < (1 << 60)
    # distinct salts must not collide on the same base hash
    for r in out:
        assert len({r[f"m{i}"] for i in range(4)}) == 4


def test_near_dup_pairs_simhash_rejects_threshold(docs):
    """r6 ADVICE: method='simhash' bounds similarity by max_hamming;
    an explicitly passed threshold must raise, never be silently
    dropped (near_dup_clusters would otherwise ignore the caller's
    similarity bound)."""
    from biosets_spark.dataset import BioDataset

    ds = BioDataset(docs)
    with pytest.raises(TypeError, match="max_hamming"):
        ds.near_dup_pairs(method="simhash", threshold=0.9)
    with pytest.raises(TypeError, match="max_hamming"):
        ds.near_dup_clusters(method="simhash", threshold=0.9)
    # the supported spellings still work
    assert ds.near_dup_pairs(method="simhash", max_hamming=6).count() >= 0
    assert ds.near_dup_pairs(method="minhash", threshold=0.5).count() >= 0


def test_near_dup_pairs_embedding_method(spark):
    """method='embedding' on the dataset surface: exact cosine pairs
    over a vector column, composing into near_dup_clusters."""
    from biosets_spark.dataset import BioDataset

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
    ]
    ds = BioDataset(spark.createDataFrame(
        rows, "doc_id long, embedding array<double>"))
    pairs = {(r.id_a, r.id_b)
             for r in ds.near_dup_pairs(method="embedding", id_col="doc_id",
                                        threshold=0.99).collect()}
    assert pairs == {(0, 1)}
    clustered = ds.near_dup_clusters(method="embedding", id_col="doc_id",
                                     threshold=0.99)
    got = {r.doc_id: (r.cluster_id, r.keep) for r in clustered.df.collect()}
    assert got[0] == (0, True) and got[1] == (0, False)
    assert got[2][1] and got[3][1]


def test_knn_all_blocked_matches_single_block(embeddings):
    """r8: knn_all's block-pair bucketed path (single job) must equal
    the single-block broadcast path exactly, including tie-breaks."""
    single = sorted(
        (r.qid, r.rank, r.nid)
        for r in S.knn_all(embeddings, k=3).collect())
    blocked = sorted(
        (r.qid, r.rank, r.nid)
        for r in S.knn_all(embeddings, k=3, max_index_rows=10).collect())
    assert blocked == single


def test_lsh_signature_kernel_matches_expression(embeddings):
    # the Arrow kernel must produce bit-identical bucket ids to the
    # JVM literal-expression path (same IEEE fold order)
    expr = {r.vec_id: r._bucket for r in
            S.lsh_signatures(embeddings, dim=16, n_planes=16).collect()}
    kern = {r.vec_id: r._bucket for r in
            S.lsh_signatures(embeddings, dim=16, n_planes=16,
                             kernel=True).collect()}
    assert expr == kern


def test_ivf_assign_kernel_matches_literal(embeddings):
    # same centroid sample either way (driver-side); force both
    # assignment paths over it and compare cells exactly
    _, cents = S.ivf_build(embeddings, n_cells=8)
    lit_a = {r.vec_id: r._cell for r in
             S.ivf_build(embeddings, n_cells=8)[0].collect()}
    kern = {r.vec_id: r._cell for r in
            S._ivf_assign_kernel(embeddings, cents, "embedding").collect()}
    assert lit_a == kern


def test_ivf_assign_kernel_tie_breaks_to_highest_cell(spark):
    # two identical centroids -> every row ties exactly; array_max's
    # struct ordering picks the HIGHEST cell, the kernel must too
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.5, 0.5])],
        "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [-1.0, 0.0])]
    kern = {r.vec_id: r._cell for r in
            S._ivf_assign_kernel(df, cents, "embedding").collect()}
    assert kern == {1: 1, 2: 1}


def test_ivf_assign_zero_norm_raises_on_both_paths(spark):
    # zero-norm vector: under ANSI semantics the literal path raises
    # DIVIDE_BY_ZERO; the kernel must mirror it (never silently
    # assign), so the two paths cannot diverge on degenerate input
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        S.ivf_build(df, n_cells=2)[0].collect()
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    with pytest.raises(Exception, match="zero-norm|DIVIDE_BY_ZERO"):
        S._ivf_assign_kernel(df, cents, "embedding").collect()


def test_knn_bruteforce_kernel_matches_expression(embeddings):
    q = [float(x) for x in
         embeddings.filter(F.col("vec_id") == 0).first().embedding]
    expr = [(r.neighbor_id, r.sim) for r in
            S.knn_bruteforce(embeddings, q, k=10, exclude_self=0).collect()]
    kern = [(r.neighbor_id, r.sim) for r in
            S.knn_bruteforce(embeddings, q, k=10, exclude_self=0,
                             kernel=True).collect()]
    assert expr == kern  # bit-identical sims, same order


def test_knn_batch_matches_per_query_bruteforce(embeddings):
    rows = embeddings.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()
    qs = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in rows]
    corpus = embeddings.filter(F.col("vec_id") >= 3)
    batch = {(r.qid, r.rnk): (r.neighbor_id, r.sim) for r in
             S.knn_batch(corpus, qs, k=4).collect()}
    for qid, vec in qs:
        single = S.knn_bruteforce(corpus, vec, k=4).collect()
        for i, r in enumerate(single):
            assert batch[(qid, i + 1)] == (r.neighbor_id, r.sim)


def test_knn_bruteforce_kernel_zero_norm_raises(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="zero-norm|DIVIDE_BY_ZERO"):
        S.knn_bruteforce(df, [1.0, 0.0], k=2, kernel=True).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        S.knn_bruteforce(df, [1.0, 0.0], k=2).collect()


@pytest.fixture()
def boilerplate_docs(spark):
    """A pathological hot-bucket corpus: 60 identical boilerplate docs
    plus a handful of distinct ones — every LSH band bucket / simhash
    chunk bucket for the boilerplate group holds all 60 members."""
    rows = [(i, BASE) for i in range(60)]
    rows += [
        (100, BASE.replace("lazy", "sleepy")),
        (101, "completely different content about databases and indexes and btrees"),
        (102, "another unrelated document describing airplanes and weather patterns"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_hot_bucket_cap_star_coverage(boilerplate_docs):
    """Hot buckets (> max_bucket_size) degrade to star pairs against the
    min-id representative: O(n) output, full cluster connectivity."""
    capped = D.minhash_lsh_pairs(boilerplate_docs, threshold=0.5, max_bucket_size=16)
    pairs = {(r.id_a, r.id_b): r.jaccard for r in capped.collect()}
    # star shape: exactly one pair per non-representative member of the
    # identical group (59 star pairs), all verified at jaccard 1.0, plus
    # the near-dup 100 which shares only sub-cap buckets with doc 0
    star = {(0, i) for i in range(1, 60)}
    assert star <= set(pairs)
    assert all(pairs[p] == 1.0 for p in star)
    hot_members = set(range(60))
    quad = {(a, b) for (a, b) in pairs if a in hot_members and b in hot_members and a != 0}
    assert not quad, f"non-star intra-hot-bucket pairs leaked: {sorted(quad)[:5]}"
    # connected components over the star pairs recover the full group
    from biosets_spark.operators.graph import connected_components
    edges = capped.select("id_a", "id_b")
    comp = connected_components(edges)
    labels = {r[0]: r[1] for r in comp.collect()}
    assert len({labels[i] for i in range(60)}) == 1


def test_minhash_cap_matches_uncapped_below_threshold(docs):
    """On a corpus whose buckets are all below the cap, the capped plan
    is pair-for-pair identical to the exact quadratic plan."""
    capped = {(r.id_a, r.id_b, r.jaccard)
              for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    exact = {(r.id_a, r.id_b, r.jaccard)
             for r in D.minhash_lsh_pairs(docs, threshold=0.5, max_bucket_size=None).collect()}
    assert capped == exact and capped


def test_simhash_hot_bucket_cap_star_coverage(boilerplate_docs):
    capped = D.simhash_pairs(boilerplate_docs, max_hamming=3, max_bucket_size=16)
    pairs = {(r.id_a, r.id_b): r.hamming for r in capped.collect()}
    star = {(0, i) for i in range(1, 60)}
    assert star <= set(pairs)
    assert all(pairs[p] == 0 for p in star)
    hot_members = set(range(60))
    quad = {(a, b) for (a, b) in pairs if a in hot_members and b in hot_members and a != 0}
    assert not quad
    # uncapped emits the full quadratic set for comparison
    full = D.simhash_pairs(boilerplate_docs, max_hamming=3, max_bucket_size=None)
    n_full = full.filter((F.col("id_a") < 60) & (F.col("id_b") < 60)).count()
    assert n_full == 60 * 59 // 2


def test_hot_bucket_cap_emits_runtime_warning(boilerplate_docs):
    """The star-degradation path changes the pair contract — it must
    announce itself (r12, per the r11 ADVICE): a RuntimeWarning with
    hot-bucket count and max size fires at plan-build time."""
    import warnings

    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        D.minhash_lsh_pairs(boilerplate_docs, threshold=0.5, max_bucket_size=16)
    msgs = [str(x.message) for x in rec if issubclass(x.category, RuntimeWarning)]
    assert any("hot-bucket cap engaged" in m and "max_bucket_size=16" in m
               for m in msgs), msgs


def test_no_hot_bucket_warning_below_cap(docs):
    """A corpus with no over-cap bucket takes the exact plan silently."""
    import warnings

    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        D.minhash_lsh_pairs(docs, threshold=0.5)
        D.simhash_pairs(docs, max_hamming=8)
    assert not [x for x in rec if issubclass(x.category, RuntimeWarning)
                and "hot-bucket" in str(x.message)]


def test_simhash_cap_matches_uncapped_below_threshold(docs):
    capped = {(r.id_a, r.id_b, r.hamming)
              for r in D.simhash_pairs(docs, max_hamming=8).collect()}
    exact = {(r.id_a, r.id_b, r.hamming)
             for r in D.simhash_pairs(docs, max_hamming=8, max_bucket_size=None).collect()}
    assert capped == exact and capped


def test_connected_components_star_long_chain(spark):
    """The star-contraction default converges a 10k-node path graph in
    O(log n) rounds: max_iterations = 2*log2(n) would RAISE if it
    needed more (label propagation needs ~10k rounds here)."""
    import math

    from biosets_spark.operators.graph import connected_components

    n = 10_000
    chain = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    budget = 2 * math.ceil(math.log2(n))  # 28
    comp = connected_components(
        chain, max_iterations=budget, small_graph_threshold=0
    )
    assert comp.filter(F.col("component") != 0).count() == 0
    assert comp.count() == n


def test_connected_components_strategies_agree(spark):
    """union-find, star, and label paths produce identical labels on a
    mixed-shape graph (chain + clique + pair + self-loop node)."""
    from biosets_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12),
         (20, 21), (30, 30)],
        "id_a long, id_b long",
    )
    results = []
    for kw in (
        dict(small_graph_threshold=100_000),                      # union-find
        dict(small_graph_threshold=0, algorithm="star"),          # star
        dict(small_graph_threshold=0, algorithm="label"),         # label
    ):
        comp = connected_components(pairs, **kw)
        results.append({(r.node, r.component) for r in comp.collect()})
    assert results[0] == results[1] == results[2]
    assert (30, 30) in results[0]  # self-loop-only node kept, self-labeled


def _random_pairs(seed, n_nodes=60, n_pairs=70):
    """Seeded random pair list over ``n_nodes`` ids: repeated and
    reversed pairs, self-loops and one null endpoint, plus a path so
    every graph has some depth."""
    import random

    rng = random.Random(seed)
    ids = rng.sample(range(1000), n_nodes)
    pairs = [(rng.choice(ids), rng.choice(ids)) for _ in range(n_pairs)]
    pairs += [(ids[i], ids[i + 1]) for i in range(8)]
    pairs += [(b, a) for a, b in pairs[:10]]   # reversed
    pairs += pairs[10:20]                       # repeated
    pairs += [(ids[-1], ids[-1]), (None, ids[0]), (ids[1], None)]
    rng.shuffle(pairs)
    return pairs


def _union_find_labels(pairs):
    parent = {}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        if a is None or b is None:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(n, find(n)) for n in parent}


@pytest.mark.parametrize("seed", [3, 17, 41])
def test_connected_components_paths_agree_on_random_graphs(spark, seed):
    """Star, union-find and label return the same (node, component)
    set as a reference union-find on seeded random graphs."""
    from biosets_spark.operators.graph import connected_components

    pairs = _random_pairs(seed)
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    want = _union_find_labels(pairs)
    for kw in (
        dict(),                                                   # union-find
        dict(small_graph_threshold=0, algorithm="star"),
        dict(small_graph_threshold=0, algorithm="label", max_iterations=80),
    ):
        got = [tuple(r) for r in connected_components(df, **kw).collect()]
        assert len(got) == len(set(got)), kw  # one row per node
        assert set(got) == want, kw


def test_connected_components_star_warn_returns_partial_labels(spark):
    from biosets_spark.operators.graph import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long")
    with pytest.warns(RuntimeWarning, match="did not converge"):
        out = connected_components(
            chain, max_iterations=1, on_nonconvergence="warn",
            small_graph_threshold=0, algorithm="star")
    labels = dict(tuple(r) for r in out.collect())
    assert sorted(labels) == list(range(7))
    # partial: every label is a node of the chain at or below its own
    # node, and one round cannot reach 0 from the far end
    assert all(0 <= c <= n for n, c in labels.items())
    assert labels[6] != 0


def test_connected_components_star_forest_converges_in_one_round(spark, count_jobs):
    """A star forest is the contraction's fixpoint: one round proves it
    through the round's own Observation, with no probe job after it."""
    from biosets_spark.operators.graph import connected_components

    stars = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 1), (10, 11), (12, 10), (20, 20)],
        "id_a long, id_b long")
    out, jobs = count_jobs(lambda: connected_components(
        stars, small_graph_threshold=0, algorithm="star", max_iterations=1))
    # 2 for the canonical edge checkpoint (its distinct's exchange, then
    # the checkpoint) and 4 for the round (three exchanges, then the
    # checkpoint); a fixpoint probe or an output pin would add more
    assert jobs == 6
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (12, 10), (20, 20)]


@pytest.mark.parametrize("id_limit", [2_000_000, 0], ids=["broadcast", "shuffled"])
def test_minhash_verification_prune_matches_unpruned(docs, monkeypatch, id_limit):
    """The LSH verification prune, forced on the six-doc corpus, keeps
    every verified pair in both its broadcast and its shuffled
    semi-join. The prune starts one doc below the corpus size, so it
    also checks the doc count read from the bucket aggregate."""
    want = {tuple(r) for r in D.minhash_lsh_pairs(docs, threshold=0.3).collect()}
    assert want

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    monkeypatch.setattr(D, "_BROADCAST_ID_LIMIT", id_limit)
    monkeypatch.setattr(D, "_PRUNE_MIN_DOCS", 6)
    assert "LeftSemi" not in plan(D.minhash_lsh_pairs(docs, threshold=0.3))
    monkeypatch.setattr(D, "_PRUNE_MIN_DOCS", 5)
    pruned = D.minhash_lsh_pairs(docs, threshold=0.3)
    semi = [ln for ln in plan(pruned).splitlines() if "LeftSemi" in ln]
    assert semi
    assert any("strategy=broadcast" in ln for ln in semi) == (id_limit > 0)
    assert {tuple(r) for r in pruned.collect()} == want


def test_single_block_grid_reads_one_spread(spark, count_jobs):
    """The single-block grid plan collects its index from one pinned
    ``spread`` and streams the same pin, so the repartition runs once:
    the n count (its exchange, then the result), the spread's
    repartition, the index collect that fills the pin, and the output
    pin that reads it back. A second repartition would add a job."""
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    # one scan task, so spread() repartitions
    assert emb.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out, jobs = count_jobs(lambda: S.embedding_dup_pairs(emb, threshold=0.3))
    assert jobs == 5
    single = {(r.id_a, r.id_b) for r in out.collect()}
    blocked = S.embedding_dup_pairs(emb, threshold=0.3, max_index_rows=10)
    assert single and single == {(r.id_a, r.id_b) for r in blocked.collect()}
