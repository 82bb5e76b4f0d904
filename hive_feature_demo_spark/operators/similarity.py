"""Vector similarity search over embedding columns (``array<float>``).

- :func:`cosine_topk` — brute-force exact top-k: broadcast the (small) query
  set against the corpus; per-row dot products are array folds (JVM-side,
  no UDF), selection via ranking window. At 100 TB the corpus side stays
  partition-parallel; cost is linear in corpus x queries.
- :func:`lsh_bucketed_topk` — the scale path: random-hyperplane signatures
  (deterministic seeded planes) bucket the corpus; candidates only within
  matching buckets, then exact re-rank. Recall is tunable via bits/tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hive_feature_demo_spark.functions.numeric import round_det


def dot(a: Column, b: Column) -> Column:
    """Deterministic left-fold dot product of two float arrays, in double."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, p: acc + p)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: ``query_id, neighbor_id, cos_sim, rank`` — ranking on the
    rounded similarity with id tie-breaks so selection is fully
    deterministic across engines and partitionings (raw float ordering
    differs in the last ulp between platforms).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            round_det(cosine(F.col("q_vec"), F.col("c_vec")), round_digits).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def l2(a: Column, b: Column) -> Column:
    """Euclidean distance between two float arrays (double fold)."""
    sq = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, p: acc + p))


def near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_digits: int = 4,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (``id_a < id_b``).

    Baseline O(n^2) self-join — correct by construction; the 100 TB scale
    path replaces the cross join with :func:`lsh_bucketed_topk`-style
    bucketing (candidates share a random-projection signature) at the cost
    of recall. Threshold comparison happens on the *rounded* similarity so
    the cut is reproducible across engines.

    Norms are computed ONCE per row before the pair join (the same
    left-fold, so the value — and therefore the rounded cosine — is
    bit-identical to folding per pair, which cost 3 array aggregates per
    pair instead of 1). The stream side fans out to the session
    parallelism when the scan arrives as fewer splits: a small corpus is
    one parquet split, which would nest-loop the whole pair space on a
    single task (69 s -> ~2 s at sf0.1).
    """
    withn = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        norm(F.col(vec_col)).alias("_n"),
    )
    from hive_feature_demo_spark.operators.skew import fan_out_scan

    a = fan_out_scan(
        withn.select(
            F.col("_id").alias("id_a"), F.col("_v").alias("va"), F.col("_n").alias("na")
        ),
        "id_a",
    )
    b = withn.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("vb"), F.col("_n").alias("nb")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            round_det(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                round_digits,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


def pairwise_dim_terms(
    df: DataFrame, vec_col: str = "embedding", keep: list[str] | None = None
) -> DataFrame:
    """Map-side ``d^2`` dimension-pair expansion: one row per
    ``(input row, i, j)`` with columns ``i, j, xi, xj`` (1-based dims,
    the row's values at those dims, as doubles) plus any ``keep`` columns.

    This is the X^T X / Gram-matrix building block (q281 PCA, q284
    incremental covariance). Two chained posexplodes of the SAME row's
    array generate every dimension pair WITHOUT the classic
    explode-then-self-join-on-row-id formulation — which shuffles the
    exploded table twice and, when the source arrives as a single file
    split (a one-file micro-batch, a small dimension table), runs the
    entire d^2 join output on ONE task. Here the expansion is narrow and
    feeds partial aggregation map-side; the only shuffle is the final
    d^2-cell combine. Narrow inputs are widened to the session's core
    count first (row-count-sized shuffle, trivial; no-op when the input
    is already wide, i.e. always at cluster scale).

    Downstream decimal sums over ``xi * xj`` are order-independent, so
    results are bit-identical to the join formulation (same product
    multiset) — pinned by tests/test_numeric_properties.py.
    """
    from hive_feature_demo_spark.operators.skew import fan_out_scan

    df = fan_out_scan(df)
    keep = keep or []
    e = df.select(*keep, F.col(vec_col).cast("array<double>").alias("_e"))
    d1 = e.select(*keep, "_e", F.posexplode("_e").alias("_pos", "xi"))
    return d1.select(
        *keep,
        (F.col("_pos") + 1).alias("i"),
        "xi",
        F.posexplode("_e").alias("_pos2", "xj"),
    ).select(*keep, "i", (F.col("_pos2") + 1).alias("j"), "xi", "xj")


def dim_terms(
    df: DataFrame, vec_col: str = "embedding", keep: list[str] | None = None
) -> DataFrame:
    """Single-dimension expansion ``(i, xi)`` per row (first-moment pass),
    with the same narrow-input widening as :func:`pairwise_dim_terms`."""
    from hive_feature_demo_spark.operators.skew import fan_out_scan

    df = fan_out_scan(df)
    keep = keep or []
    return df.select(
        *keep, F.posexplode(F.col(vec_col).cast("array<double>")).alias("_pos", "xi")
    ).select(*keep, (F.col("_pos") + 1).alias("i"), "xi")


def rp_banded_near_dup_pairs(
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 8,
    rows_per_band: int = 4,
    seed: int = 42,
    threshold: float = 0.9,
    round_digits: int = 4,
) -> DataFrame:
    """Scale-path embedding near-dup: banded LSH candidates -> exact verify.

    Mirrors the text-dedup MinHash shape (``dedup.minhash_near_duplicates``):
    each vector gets a ``bands*rows_per_band``-bit random-projection
    signature computed ONCE (narrow map, no shuffle of the corpus); band
    ``b`` buckets on bit-slice ``[b*r, (b+1)*r)``; candidate pairs come
    from the (band, band_sig) bucket self-join — bucket sizes, never the
    n^2 pair matrix, bound the cost — and exact cosine runs ONLY on
    candidates. Approximate by construction: a pair whose signatures agree
    in no band is never scored (recall rises with ``bands``, precision of
    the candidate set with ``rows_per_band``). At 100 TB tune both up and
    salt any hot bucket; the exact self-join (:func:`near_dup_pairs`) is
    the small-scale verifier for this operator, not the production path.
    """
    planes = hyperplanes(dim, bands * rows_per_band, seed)
    tagged = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        rp_signature(F.col(vec_col), planes).alias("sig"),
    ).localCheckpoint(eager=True)  # signature feeds every band + the verify join
    band_rows = [
        tagged.select(
            "vid",
            F.lit(b).alias("band"),
            F.substring("sig", b * rows_per_band + 1, rows_per_band).alias("bsig"),
        )
        for b in range(bands)
    ]
    buckets = band_rows[0]
    for br in band_rows[1:]:
        buckets = buckets.unionByName(br)
    a = buckets.select(F.col("vid").alias("id_a"), "band", "bsig")
    b = buckets.select(F.col("vid").alias("id_b"), "band", "bsig")
    cands = (
        a.join(b, ["band", "bsig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = tagged.select(F.col("vid").alias("id_a"), F.col("vec").alias("va"))
    vb = tagged.select(F.col("vid").alias("id_b"), F.col("vec").alias("vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            round_det(cosine(F.col("va"), F.col("vb")), round_digits).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    out_id: str = "vec_id",
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids (L2).

    Classic IVF coarse quantization: the centroid set is tiny and
    broadcast, so assignment is a narrow map over the corpus — no shuffle
    of the 100 TB side. Distances are rounded before ranking with
    centroid-id tie-breaks, making list membership deterministic.
    """
    c = centroids.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("c_vec")
    )
    v = vectors.select(F.col(id_col).alias(out_id), F.col(vec_col).alias("v_vec"))
    w = Window.partitionBy(out_id).orderBy(F.asc("dist"), F.asc("cid"))
    return (
        v.crossJoin(F.broadcast(c))
        .select(
            out_id,
            "v_vec",
            "cid",
            round_det(l2(F.col("v_vec"), F.col("c_vec")), 6).alias("dist"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .drop("rn", "dist")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 4,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize, probe, exact re-rank.

    Centroids are the ``n_centroids`` lowest-id corpus vectors — a
    deterministic stand-in for a trained k-means codebook (train offline
    at scale; the query plan is identical). Corpus rows shuffle once on
    the short ``cid`` key; each query probes ``nprobe`` inverted lists, so
    scanned candidates shrink by ~``nprobe / n_centroids`` vs brute force.
    """
    centroids = corpus.filter(F.col(id_col) < n_centroids)
    lists = ivf_assign(
        corpus, centroids, id_col, vec_col, nprobe=1, out_id="neighbor_id"
    ).withColumnRenamed("v_vec", "c_vec")
    probes = ivf_assign(
        queries, centroids, id_col, vec_col, nprobe=nprobe, out_id="query_id"
    ).withColumnRenamed("v_vec", "q_vec")
    scored = (
        lists.join(F.broadcast(probes), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            round_det(cosine(F.col("c_vec"), F.col("q_vec")), round_digits).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG-based, library-free)."""
    state = seed
    planes: list[list[float]] = []
    for _ in range(bits):
        plane = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            plane.append(state / float(1 << 31) - 0.5)
        planes.append(plane)
    return planes


def rp_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-projection signature: one bit per hyperplane (sign of dot)."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(w) for w in plane]),
                    lambda x, w: x.cast("double") * w,
                ),
                F.lit(0.0),
                lambda acc, p: acc + p,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share the random-projection bucket.

    At 100 TB the corpus is scanned once to tag buckets (narrow), then the
    join shuffles only on the short signature key. Approximate by
    construction — callers trade recall for the dropped cross join.
    """
    planes = hyperplanes(dim, bits, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        rp_signature(F.col(vec_col), planes).alias("sig"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        rp_signature(F.col(vec_col), planes).alias("sig"),
    )
    scored = (
        c.join(F.broadcast(q), "sig")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            round_det(cosine(F.col("q_vec"), F.col("c_vec")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def avg_vectors(assigned: DataFrame, group_col: str, vec_col: str, digits: int = 6) -> DataFrame:
    """Per-group mean vector via posexplode/groupBy (no UDF).

    Components are summed in DECIMAL space and floor-rounded so the result
    is independent of row order — required for deterministic k-means.
    """
    per_dim = (
        assigned.select(group_col, F.posexplode(vec_col).alias("dim", "val"))
        .groupBy(group_col, "dim")
        .agg(
            round_det(
                F.sum(F.col("val").cast("decimal(25,10)")).cast("double") / F.count("*"),
                digits,
            ).alias("mean_val")
        )
    )
    return (
        per_dim.groupBy(group_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("mean_val")))
            ).alias("pairs")
        )
        .select(
            group_col,
            F.transform("pairs", lambda p: p["mean_val"]).alias(vec_col),
        )
    )


def train_centroids(
    vectors: DataFrame,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic distributed Lloyd k-means for the IVF codebook.

    Init = the ``k`` lowest-id vectors (reproducible, no sampling). Each
    iteration: broadcast the k centroids, assign every vector to its
    nearest (argmin L2, rounded + id tie-break — the :func:`ivf_assign`
    machinery), then recompute per-cluster means with order-independent
    decimal sums. Per-iteration cost is one narrow pass over the corpus +
    a k x dim aggregate; nothing large ever shuffles. Returns centroids as
    ``(cid, <vec_col>)``.
    """
    cents = (
        vectors.orderBy(id_col)
        .limit(k)
        .select(F.col(id_col).alias("cid"), F.col(vec_col))
        .withColumn("cid", F.row_number().over(Window.orderBy("cid")) - 1)
    )
    for _ in range(iters):
        assigned = ivf_assign(
            vectors,
            cents.withColumnRenamed("cid", id_col),
            id_col=id_col,
            vec_col=vec_col,
            nprobe=1,
            out_id="row_id",
        )
        cents = avg_vectors(
            assigned.select("cid", F.col("v_vec").alias(vec_col)), "cid", vec_col
        )
    return cents


def lsh_multitable_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 8,
    n_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Multi-table LSH: union of candidates over ``n_tables`` independent
    hash tables, then exact re-rank — the standard recall lever (miss
    probability decays as ``p^T``).

    All T signatures are computed in ONE pass over the corpus
    (posexplode of the signature array), so the 100 TB side is still
    scanned once; the join key is ``(table_idx, signature)``. Candidate
    pairs found by several tables are deduplicated before scoring.
    """
    all_planes = [hyperplanes(dim, bits, seed + t) for t in range(n_tables)]

    def tagged(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        sigs = F.array(*[rp_signature(F.col(vec_col), p) for p in all_planes])
        return df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(out_vec),
            F.posexplode(sigs).alias("tbl", "sig"),
        )

    c = tagged(corpus, "neighbor_id", "c_vec")
    q = tagged(queries, "query_id", "q_vec")
    pairs = (
        c.join(F.broadcast(q), ["tbl", "sig"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "c_vec", "q_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        round_det(cosine(F.col("q_vec"), F.col("c_vec")), 4).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _pq_sliced(
    df: DataFrame, out_id: str, m: int, dim: int, id_col: str, vec_col: str
) -> DataFrame:
    """Explode a vector column into its ``m`` subvector slices: (id, j, subvec)."""
    sub = dim // m
    js = F.sequence(F.lit(0), F.lit(m - 1))
    slices = F.transform(js, lambda j: F.slice(F.col(vec_col), j * sub + 1, sub))
    return df.select(
        F.col(id_col).alias(out_id), F.posexplode(slices).alias("j", "subvec")
    )


def _pq_codes(v_sliced: DataFrame, c_sliced: DataFrame, out_id: str) -> DataFrame:
    """Per-(vector, subvector) nearest sub-centroid: (out_id, j, cid).

    The single source of the PQ code derivation (rounding digits,
    tie-breaks) — every PQ entry point shares it so the indexes can never
    drift apart.
    """
    w = Window.partitionBy(out_id, "j").orderBy(F.asc("dist"), F.asc("cid"))
    return (
        v_sliced.join(F.broadcast(c_sliced), "j")
        .select(
            out_id,
            "j",
            "cid",
            round_det(l2(F.col("subvec"), F.col("csub")), 6).alias("dist"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(out_id, "j", "cid")
    )


def _pq_query_tables(q_sliced: DataFrame, c_sliced: DataFrame) -> DataFrame:
    """Squared sub-distance lookup tables per query: (query_id, j, cid, d2)."""
    d = round_det(l2(F.col("subvec"), F.col("csub")), 6)
    return q_sliced.join(F.broadcast(c_sliced), "j").select(
        "query_id", "j", "cid", (d * d).alias("d2")
    )


def _adc_rank(scored_pairs: DataFrame, k: int) -> DataFrame:
    """Sum the d2 lookups exactly, rank ascending with id tie-breaks."""
    agg = scored_pairs.groupBy("query_id", "neighbor_id").agg(
        round_det(
            F.sum(F.col("d2").cast("decimal(25,10)")).cast("double"), 6
        ).alias("adc_dist2")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist2"), F.asc("neighbor_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def pq_encode(
    corpus: DataFrame,
    centroids: DataFrame,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codes: per-subvector nearest-centroid ids.

    The vector splits into ``m`` subvectors; each is quantized against the
    (broadcast) codebook's matching slice — compressing dim x 4 bytes to
    ``m`` small codes, the memory trick that lets IVF-PQ indexes hold
    billions of vectors in RAM. Output: ``(id, pq_code)`` with the code as
    a zero-padded digit string (engine-portable representation).
    """
    v = _pq_sliced(corpus, "vid", m, dim, id_col, vec_col)
    c = _pq_sliced(centroids, "cid", m, dim, id_col, vec_col).withColumnRenamed(
        "subvec", "csub"
    )
    codes = _pq_codes(v, c, "vid")
    return (
        codes.groupBy(F.col("vid").alias(id_col))
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "cid"))),
                    lambda p: F.lpad(p["cid"].cast("string"), 2, "0"),
                ),
            ).alias("pq_code")
        )
        .orderBy(id_col)
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """PQ search via asymmetric distance computation (ADC).

    Corpus vectors exist only as ``m`` sub-codes; each query computes a
    distance table to every sub-codebook entry (m x |codebook| scalars,
    broadcast), and candidate distance = sum of table lookups — no
    full-vector math against the corpus at query time. This is how PQ
    indexes scan billions of codes cheaply; exactness is traded for the
    quantization error.
    """
    c = _pq_sliced(centroids, "cid", m, dim, id_col, vec_col).withColumnRenamed(
        "subvec", "csub"
    )
    codes = _pq_codes(_pq_sliced(corpus, "neighbor_id", m, dim, id_col, vec_col), c, "neighbor_id")
    qtab = _pq_query_tables(_pq_sliced(queries, "query_id", m, dim, id_col, vec_col), c)
    scored = codes.join(F.broadcast(qtab), ["j", "cid"]).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _adc_rank(scored, k)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """The full production vector index: IVF pruning + PQ-ADC scoring.

    Coarse quantizer restricts candidates to ``nprobe`` inverted lists
    (~nprobe/n_centroids of the corpus touched), then candidates are
    scored from their PQ codes via the query's broadcast distance tables —
    at no point does query-time math touch a full corpus vector. This is
    the FAISS IVFPQ layout expressed as broadcast joins + one grouped sum,
    all deterministic (rounded distances, id tie-breaks).
    """
    centroids = corpus.filter(F.col(id_col) < n_centroids)
    lists = ivf_assign(corpus, centroids, id_col, vec_col, nprobe=1, out_id="neighbor_id")
    probes = ivf_assign(
        queries, centroids, id_col, vec_col, nprobe=nprobe, out_id="query_id"
    )
    cands = (
        lists.select("neighbor_id", "cid")
        .join(F.broadcast(probes.select("query_id", "cid")), "cid")
        .select("query_id", "neighbor_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    c = _pq_sliced(centroids, "cid", m, dim, id_col, vec_col).withColumnRenamed(
        "subvec", "csub"
    )
    codes = _pq_codes(_pq_sliced(corpus, "neighbor_id", m, dim, id_col, vec_col), c, "neighbor_id")
    qtab = _pq_query_tables(_pq_sliced(queries, "query_id", m, dim, id_col, vec_col), c)
    scored = cands.join(codes, "neighbor_id").join(
        F.broadcast(qtab), ["query_id", "j", "cid"]
    )
    return _adc_rank(scored, k)
