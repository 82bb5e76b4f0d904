"""Unit tests for dedup + similarity operators on engineered micro-fixtures
with hand-computable expected values."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_feature_demo_spark.operators import dedup, similarity

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),       # exact dup of 1
    (3, "the  quick Brown fox jumps over the lazy dog"),      # dup after normalize
    (4, "the quick brown fox jumps over the sleepy dog"),     # near-dup (1 token)
    (5, "completely different text about spark and hive"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_clusters(docs_df):
    clusters = dedup.exact_duplicate_clusters(docs_df, "doc_id", "text").collect()
    assert len(clusters) == 1
    assert clusters[0]["n_copies"] == 3  # 1, 2, and case/space-normalized 3
    assert clusters[0]["keeper_id"] == 1


def test_dedup_exact_survivors(docs_df):
    ids = sorted(r["doc_id"] for r in dedup.dedup_exact(docs_df, "doc_id", "text").collect())
    assert ids == [1, 4, 5]


def test_jaccard_exact_value(docs_df):
    """docs 1 vs 4: 9 tokens -> 7 word-3-gram shingles each; the changed
    token (position 8) appears in the 2 shingles starting at 6 and 7, so 5
    are shared -> J = 5/(7+7-5) = 5/9."""
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs_df, "doc_id", "text", threshold=0.3).collect()
    }
    assert pairs[(1, 4)] == pytest.approx(5 / 9)
    assert pairs[(1, 2)] == pytest.approx(1.0)


def test_minhash_lsh_finds_duplicates(docs_df):
    nd = dedup.minhash_near_duplicates(docs_df, "doc_id", "text", threshold=0.9)
    got = {(r["id_a"], r["id_b"]) for r in nd.collect()}
    # exact duplicates are certain to collide in every band
    assert (1, 2) in got


def test_simhash_properties(docs_df):
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs_df, "doc_id", "text").collect()}
    assert all(len(v) == 16 for v in fp.values())
    assert fp[1] == fp[2]  # identical text -> identical fingerprint

    def hamming(a: str, b: str) -> int:
        return sum(bin(int(x, 16) ^ int(y, 16)).count("1") for x, y in zip(a, b))

    assert hamming(fp[1], fp[4]) < hamming(fp[1], fp[5])


def test_simhash_token_bound_guard(spark):
    """Docs beyond 32767 distinct tokens must fail LOUDLY — 32767 (not
    65535) so the packed signed-long SUM also never sets bit 63, which
    ANSI mode would reject before any 16-bit-field wrap (r6 ADVICE 1)."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    big = " ".join(f"t{i}" for i in range(32768))
    df = spark.createDataFrame([(1, big)], "doc_id long, text string")
    with pytest.raises(SparkRuntimeException, match="32767"):
        dedup.simhash64(df, "doc_id", "text").collect()
    ok = " ".join(f"t{i}" for i in range(1000))
    df2 = spark.createDataFrame([(1, ok)], "doc_id long, text string")
    assert len(dedup.simhash64(df2, "doc_id", "text").collect()) == 1


VECS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [1.0, 0.0, 0.0]),     # identical to 0
    (2, [0.0, 1.0, 0.0]),     # orthogonal
    (3, [0.6, 0.8, 0.0]),
    (4, [-1.0, 0.0, 0.0]),    # opposite
]


@pytest.fixture(scope="module")
def vecs_df(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(vecs_df):
    res = similarity.cosine_topk(vecs_df, vecs_df.filter(F.col("vec_id") == 0), k=4)
    rows = [(r["neighbor_id"], r["cos_sim"]) for r in res.collect()]
    assert rows[0] == (1, 1.0)
    assert rows[1] == (3, pytest.approx(0.6))
    assert rows[2] == (2, 0.0)
    assert rows[3] == (4, -1.0)


def test_lsh_topk_is_subset_of_bruteforce(vecs_df):
    brute = similarity.cosine_topk(vecs_df, vecs_df, k=4)
    approx = similarity.lsh_bucketed_topk(vecs_df, vecs_df, dim=3, k=4, bits=2)
    b = {(r["query_id"], r["neighbor_id"], r["cos_sim"]) for r in brute.collect()}
    a = {(r["query_id"], r["neighbor_id"], r["cos_sim"]) for r in approx.collect()}
    assert a <= b or all(x[2] is not None for x in a)  # candidates score identically
    # identical vectors always share every bucket -> (0,1) must be found
    assert any(q == 0 and n == 1 for q, n, _ in a)


def test_train_centroids_matches_numpy_lloyd(spark, sf_dir):
    """Distributed deterministic k-means == single-node Lloyd reference
    (same init, same argmin tie-breaks, same rounded means)."""
    import math

    import numpy as np

    from hive_feature_demo_spark.catalog import table
    from hive_feature_demo_spark.operators import similarity

    k, iters, digits = 8, 2, 6
    emb = table(spark, sf_dir, "embeddings")
    got = {
        r["cid"]: list(r["embedding"])
        for r in similarity.train_centroids(emb, k=k, iters=iters).collect()
    }

    rows = sorted(
        (r["vec_id"], np.array(r["embedding"], dtype=np.float64))
        for r in emb.collect()
    )
    vecs = np.stack([v for _, v in rows])
    cents = vecs[:k].copy()

    def round_det_py(x):
        return math.floor(x * 10**digits + 0.5) / 10**digits

    for _ in range(iters):
        # same metric as ivf_assign: rounded L2, centroid-id tie-break
        assign = []
        for v in vecs:
            dists = [round_det_py(float(np.sqrt(((v - c) ** 2).sum()))) for c in cents]
            assign.append(int(np.argmin(dists)))  # argmin takes first on ties
        new = []
        for cid in range(k):
            members = vecs[[i for i, a in enumerate(assign) if a == cid]]
            new.append([round_det_py(float(c)) for c in members.mean(axis=0)])
        cents = np.array(new)

    for cid in range(k):
        assert got[cid] == [pytest.approx(x, abs=1e-9) for x in cents[cid]], cid


def test_connected_components_transitive_chain(spark):
    """A~B~C collapses into one cluster even though A!~C; D~E separate."""
    from hive_feature_demo_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    comp = {r["node"]: r["cluster"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_lsh_recall_and_multitable_improvement(spark, sf_dir):
    """LSH recall@5 vs brute-force ground truth is meaningful, and adding
    hash tables can only add candidate pairs (recall is monotone in T)."""
    from hive_feature_demo_spark.catalog import table
    from hive_feature_demo_spark.operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    truth = pairs(similarity.cosine_topk(emb, queries, k=5))
    one = pairs(
        similarity.lsh_bucketed_topk(emb, queries, dim=64, k=5, bits=8, seed=42)
    )
    multi = pairs(
        similarity.lsh_multitable_topk(
            emb, queries, dim=64, k=5, bits=8, n_tables=3, seed=42
        )
    )
    recall_one = len(one & truth) / len(truth)
    recall_multi = len(multi & truth) / len(truth)
    assert recall_multi >= recall_one  # more tables never hurt
    # candidate coverage strictly grows with tables (union of buckets);
    # absolute recall on *random* embeddings at tiny SF is inherently low,
    # so the floor is structural, not numeric
    assert len(multi) >= len(one)


def test_ml_minhashlsh_agrees_on_exact_duplicates(spark, sf_dir):
    """Stock ml.feature.MinHashLSH (SURVEY §2.3's built-in mapping) must
    place exact duplicate documents at distance 0 — cross-checks our
    custom MinHash pipeline against Spark ML's implementation."""
    pytest.importorskip("pyspark.ml.feature")
    from pyspark.ml.feature import CountVectorizer, MinHashLSH
    from pyspark.sql import functions as F2

    from hive_feature_demo_spark.catalog import table
    from hive_feature_demo_spark.operators import textops

    base = table(spark, sf_dir, "documents").select("doc_id", "text")
    # inject guaranteed duplicates: copies of three docs under new ids
    copies = (
        base.orderBy("doc_id")
        .limit(3)
        .select((F2.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    docs = base.unionByName(copies)

    shingled = docs.select(
        "doc_id",
        textops.word_shingles(textops.tokens("text"), n=3).alias("shingles"),
    ).filter(F2.size("shingles") > 0)
    cv = CountVectorizer(inputCol="shingles", outputCol="features", binary=True)
    model = cv.fit(shingled)
    feats = model.transform(shingled)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=4, seed=42)
    lsh_model = lsh.fit(feats)
    pairs = (
        lsh_model.approxSimilarityJoin(feats, feats, 0.1, distCol="jd")
        .filter(F2.col("datasetA.doc_id") < F2.col("datasetB.doc_id"))
        .select(
            F2.col("datasetA.doc_id").alias("id_a"),
            F2.col("datasetB.doc_id").alias("id_b"),
            "jd",
        )
        .collect()
    )
    ml_pairs = {(r["id_a"], r["id_b"]) for r in pairs if r["jd"] == 0.0}
    # our exact clusters: every same-digest pair must be found by ML LSH at
    # distance 0 (identical shingle sets collide in every hash table)
    digests = docs.select(
        "doc_id", textops.normalized_md5("text").alias("digest")
    ).collect()
    by_digest: dict[str, list[int]] = {}
    for r in digests:
        by_digest.setdefault(r["digest"], []).append(r["doc_id"])
    want = {
        (min(a, b), max(a, b))
        for ids in by_digest.values()
        if len(ids) > 1
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
    }
    assert want <= ml_pairs


def test_connected_components_nonconvergence_raises(spark):
    """A path graph longer than max_iters propagation rounds must raise
    (silent partial clustering would under-dedup)."""
    from hive_feature_demo_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=2)
    # and with enough rounds it fully collapses
    comp = connected_components(edges, max_iters=15)
    assert {r["cluster"] for r in comp.collect()} == {0}


def test_approx_sketches_within_bounds(spark, sf_dir):
    """HLL++ distinct count lands within its configured error of exact."""
    from hive_feature_demo_spark.catalog import table

    e = table(spark, sf_dir, "events")
    exact = e.select("user_id").distinct().count()
    approx = e.agg(
        F.approx_count_distinct("user_id", rsd=0.05).alias("a")
    ).collect()[0]["a"]
    assert abs(approx - exact) / exact <= 0.15  # 3x the configured rsd


def test_alternating_cc_matches_label_propagation(spark):
    """Large-star/small-star must produce the identical (node, cluster)
    assignment as min-label propagation on random graphs, including long
    chains (its raison d'etre) and multi-component mixes."""
    import random

    from hive_feature_demo_spark.operators.dedup import (
        connected_components,
        connected_components_alternating,
    )

    rng = random.Random(11)
    cases = []
    # long chain (diameter stress), star, two blobs + bridge, random pairs
    cases.append([(i, i + 1) for i in range(1, 40)])
    cases.append([(1, i) for i in range(2, 12)])
    cases.append(
        [(1, 2), (2, 3), (10, 11), (11, 12), (3, 10), (20, 21)]
    )
    for _ in range(3):
        nodes = list(range(1, 30))
        cases.append(
            [tuple(sorted(rng.sample(nodes, 2))) for _ in range(25)]
        )

    for pairs in cases:
        edges = spark.createDataFrame(pairs, "id_a long, id_b long")
        want = {
            (r["node"], r["cluster"])
            for r in connected_components(edges, max_iters=60).collect()
        }
        got = {
            (r["node"], r["cluster"])
            for r in connected_components_alternating(edges).collect()
        }
        assert got == want


def test_collapsed_clusters_match_uncollapsed(spark):
    """minhash_near_dup_clusters(collapse_exact=True) must equal
    connected_components(minhash_near_duplicates(...)) row-for-row — the
    equivalence that lets q86/q95/q304 keep their uncollapsed oracles.
    Corpus engineered to hit every branch: exact dups (byte-identical AND
    whitespace-variant), a case variant (same normalized_md5 family but
    DIFFERENT shingles — must NOT merge), a transitive near-dup chain, a
    shingle-less dup group (< n tokens — excluded both ways), a singleton."""
    rows = [
        (1, "a b c d e f g h i"),
        (2, "a b c d e f g h i"),  # exact dup of 1
        (3, "a  b c d e f g h i"),  # whitespace variant: same token seq
        (4, "a b c d e f g h X"),  # near-dup of 1
        (5, "a b c d e f g Y X"),  # chain link via 4
        (6, "A b c d e f g h i"),  # case variant: different shingle set
        (7, "zz yy"),  # < 3 tokens: no shingles
        (8, "zz yy"),  # exact dup of 7, still shingle-less
        (9, "totally different words here now then"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(n=3, n_perm=16, bands=4, rows=4, threshold=0.5)
    base = sorted(
        (r["node"], r["cluster"])
        for r in dedup.connected_components(
            dedup.minhash_near_duplicates(df, "doc_id", "text", **kw)
        ).collect()
    )
    coll = sorted(
        (r["node"], r["cluster"])
        for r in dedup.minhash_near_dup_clusters(
            df, "doc_id", "text", collapse_exact=True, **kw
        ).collect()
    )
    assert coll == base
    # sanity on the fixture itself: the exact-dup family collapsed into
    # cluster 1, and the shingle-less dup group is absent from both
    nodes = {n for n, _ in base}
    assert {1, 2, 3}.issubset(nodes) and 7 not in nodes and 8 not in nodes


def test_collapsed_clusters_isolated_dup_group(spark):
    """A dup group with NO near-dup neighbors must still come out as its
    own cluster under collapse (it was a Jaccard-1 clique uncollapsed)."""
    rows = [
        (1, "p q r s t u v w"),
        (2, "p q r s t u v w"),  # exact dup of 1; nothing else similar
        (3, "completely unrelated sentence about other things entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(n=3, n_perm=16, bands=4, rows=4, threshold=0.5)
    coll = sorted(
        (r["node"], r["cluster"])
        for r in dedup.minhash_near_dup_clusters(
            df, "doc_id", "text", collapse_exact=True, **kw
        ).collect()
    )
    assert coll == [(1, 1), (2, 1)]


def test_lsh_bucket_width_cap(spark):
    """max_bucket_width: capped candidates are the deterministic min-id
    prefix of each bucket and a subset of the uncapped pairs; a width-w
    bucket contributes C(min(w, cap), 2) pairs, not C(w, 2)."""
    rows = [(i, "w x y z u v q r s") for i in range(1, 7)] + [
        (10, "different stuff entirely for this one here")
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = dedup.minhash_signatures(df, "doc_id", "text")
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sig, "doc_id").collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(
            sig, "doc_id", max_bucket_width=3
        ).collect()
    }
    assert {(a, b) for (a, b) in uncapped if a < 7 and b < 7} == {
        (a, b) for a in range(1, 7) for b in range(a + 1, 7)
    }  # 6 identical docs: full clique uncapped
    assert capped <= uncapped
    # the min-id prefix {1,2,3} survives in every band
    assert {(a, b) for (a, b) in capped if a < 7 and b < 7} == {
        (1, 2), (1, 3), (2, 3)
    }


def test_packed_band_key_matches_md5_digest_candidates(docs_df):
    """r13: the LSH bucket key packs each band's minhash values pairwise
    into longs instead of md5-ing their string concat. Bucket membership
    is exact band-signature equality either way, so the candidate pair
    set must be IDENTICAL to the legacy digest formulation (which the
    DuckDB oracles still replay) — capped and uncapped."""
    from pyspark.sql import Window

    sig = dedup.minhash_signatures(docs_df, "doc_id", "text")

    def md5_digest_pairs(max_bucket_width=None):
        band_rows = []
        for bi in range(4):
            cols = [F.col(f"mh_{bi * 4 + r}").cast("string") for r in range(4)]
            band_rows.append(
                sig.select(
                    F.col("doc_id"),
                    F.lit(bi).alias("band"),
                    F.md5(F.concat_ws("_", *cols)).alias("bd"),
                )
            )
        buckets = band_rows[0]
        for br in band_rows[1:]:
            buckets = buckets.unionByName(br)
        if max_bucket_width is not None:
            w = Window.partitionBy("band", "bd").orderBy("doc_id")
            buckets = (
                buckets.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= max_bucket_width)
                .drop("_rk")
            )
        a = buckets.select(F.col("doc_id").alias("id_a"), "band", "bd")
        b = buckets.select(F.col("doc_id").alias("id_b"), "band", "bd")
        return (
            a.join(b, ["band", "bd"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )

    for cap in (None, 2):
        got = {
            (r["id_a"], r["id_b"])
            for r in dedup.lsh_candidate_pairs(
                sig, "doc_id", max_bucket_width=cap
            ).collect()
        }
        want = {
            (r["id_a"], r["id_b"]) for r in md5_digest_pairs(cap).collect()
        }
        assert got == want, f"cap={cap}: {got ^ want}"
    assert got, "corpus must produce at least one candidate pair"


def test_packed_band_key_int_signatures_match_long(spark):
    """The band key packs two minhashes as ``hi << 31 + lo``. On an
    IntegerType signature that shift wraps in 32 bits, so docs whose band
    heads differ by an even amount land in one bucket. Docs 1 and 2 share
    no band, doc 3 equals doc 1: int- and long-typed signatures must give
    the same candidate pairs, {(1, 3)}."""
    base = [1000 + 7 * k for k in range(16)]
    other = [v + 2 if k % 4 == 0 else v for k, v in enumerate(base)]
    rows = [(1, *base), (2, *other), (3, *base)]
    mh = ", ".join(f"mh_{k} {{t}}" for k in range(16))
    pairs = {
        t: {
            (r["id_a"], r["id_b"])
            for r in dedup.lsh_candidate_pairs(
                spark.createDataFrame(rows, f"doc_id long, {mh.format(t=t)}"), "doc_id"
            ).collect()
        }
        for t in ("int", "long")
    }
    assert pairs["int"] == pairs["long"] == {(1, 3)}


def test_auto_collapse_probe_statistic_is_exact(spark):
    """r13: the collapse_exact='auto' probe is an EXACT distinct count
    over the 64-bit digest of the whitespace-collapsed text — not an HLL
    estimate. The inherited rsd-0.02 HLL flipped the branch choice on
    estimator noise (the 1% threshold sits inside ±2%), engaging the
    collapse machinery on near-dup-free corpora (q86 sf0.1: +2.5 s/run).
    Pins (a) exactness and (b) whitespace-jitter normalization of the
    statistic the decision reads."""
    rows = (
        [(i, f"unique sentence number {i} right here") for i in range(1, 8)]
        + [(10, "dup text body"), (11, "dup text body")]
        + [(12, "  dup   text  body ")]  # whitespace jitter == same digest
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stat = df.agg(
        F.count_distinct(
            F.xxhash64(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
        ).alias("r")
    ).first()["r"]
    assert stat == 8  # 7 unique + the 3-way dup group counted once


def test_collapsed_clusters_auto_both_branches(spark):
    """collapse_exact='auto' must return the identical clusters whether
    the dup-mass stats trip the collapse (dup-heavy corpus) or skip it
    (dup-free corpus) — the choice is physical, never logical."""
    heavy = [(i, "m n o p q r s t") for i in range(1, 6)] + [
        (9, "m n o p q r s X"),
        (10, "unrelated words in this one completely"),
    ]
    free = [(i, f"doc number {i} has its own unique little sentence here")
            for i in range(1, 8)]
    for rows in (heavy, free):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        kw = dict(n=3, n_perm=16, bands=4, rows=4, threshold=0.5)
        base = sorted(
            (r["node"], r["cluster"])
            for r in dedup.connected_components(
                dedup.minhash_near_duplicates(df, "doc_id", "text", **kw)
            ).collect()
        )
        got = sorted(
            (r["node"], r["cluster"])
            for r in dedup.minhash_near_dup_clusters(
                df, "doc_id", "text", collapse_exact="auto", **kw
            ).collect()
        )
        assert got == base


# ---------------------------------------------------------------------------
# Property test: collapse equivalence on RANDOM corpora. Documents draw
# from a tiny vocabulary with random repetition, forced exact-dup copies
# (with whitespace jitter), case-flips, and sub-n-token shorts — the full
# branch surface of minhash_near_dup_clusters in one generator.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_VOCAB = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]

_doc = st.lists(
    st.integers(min_value=0, max_value=len(_VOCAB) - 1), min_size=1, max_size=10
).map(lambda ix: " ".join(_VOCAB[i] for i in ix))

_corpus = st.lists(
    st.tuples(
        _doc,
        st.integers(min_value=1, max_value=3),  # exact copies of this doc
        st.booleans(),  # add a whitespace-jitter copy
        st.booleans(),  # add a case-flipped copy (NOT an exact dup)
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_corpus)
def test_collapse_equivalence_property(spark, corpus):
    rows = []
    next_id = 1
    for text, copies, jitter, flip in corpus:
        for _ in range(copies):
            rows.append((next_id, text)); next_id += 1
        if jitter:
            rows.append((next_id, "  " + text.replace(" ", "  ") + " "))
            next_id += 1
        if flip:
            rows.append((next_id, text.upper())); next_id += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(n=3, n_perm=16, bands=4, rows=4, threshold=0.5)
    base = sorted(
        (r["node"], r["cluster"])
        for r in dedup.connected_components(
            dedup.minhash_near_duplicates(df, "doc_id", "text", **kw)
        ).collect()
    )
    coll = sorted(
        (r["node"], r["cluster"])
        for r in dedup.minhash_near_dup_clusters(
            df, "doc_id", "text", collapse_exact=True, **kw
        ).collect()
    )
    assert coll == base, (rows, base, coll)


def test_signatures_refuse_ambiguous_int_shingles(docs_df):
    """A bigint shingle column is only valid input when the caller declares
    it is the 60-bit md5 fold: dtype can't distinguish a hashed index from
    raw integer shingles, and signing raw ints as folds would silently
    diverge from the string path."""
    hashed = dedup.hashed_shingle_index(docs_df, "doc_id", "text")
    with pytest.raises(ValueError, match="already_hashed"):
        dedup.minhash_signatures_from_index(hashed, "doc_id")
    sigs = dedup.minhash_signatures_from_index(
        hashed, "doc_id", already_hashed=True
    )
    via_strings = dedup.minhash_signatures(docs_df, "doc_id", "text")
    assert sorted(map(tuple, sigs.collect())) == sorted(
        map(tuple, via_strings.collect())
    )


def test_verify_zero_threshold_excludes_disjoint_pairs(docs_df):
    """threshold<=0 must not admit candidate pairs with zero common
    shingles — the pre-array verify dropped them via its inner join on
    the intersection, and the oracle CTEs' shingle equi-join still does."""
    sh = dedup.hashed_shingle_index(docs_df, "doc_id", "text")
    cands = docs_df.sparkSession.createDataFrame(
        [(1, 4), (1, 5)], "id_a long, id_b long"
    )  # 1-4 share 5 shingles; 1-5 share none
    got = dedup.verify_jaccard_on_candidates(sh, cands, "doc_id", 0.0).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 4)]
