"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale notes (the point of each variant):

- **exact**: hash-groupBy on a digest of the normalized text. One shuffle on
  a 16-byte key; at 100 TB the digest (not the document) shuffles, so
  network volume is rows x 16B. ``keep='min_id'`` makes survivor choice
  deterministic.
- **n-gram Jaccard**: exact pairwise similarity via an inverted shingle
  index (explode -> self-join on shingle -> count intersections). Cost is
  sum over shingles of c^2 where c = docs sharing a shingle — fine for
  candidate verification, quadratic in hot shingles; the MinHash path is the
  100 TB pre-filter in front of it.
- **MinHash+LSH**: signature = per-permutation min over shingle hashes;
  band-bucket join yields candidate pairs with cost ~ sum of bucket^2,
  tunable via (bands, rows). All hashing is closed-form column math
  (``a*x+b mod p``) — deterministic, no ML-lib model state, identical
  formula runs in the DuckDB oracle.
- **SimHash**: 64-bit fingerprint from md5-nibble bit votes; near-dup =
  small Hamming distance. One narrow pass + explode(64) vote aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_feature_demo_spark.operators.textops import normalized_md5, tokens, word_shingles

# Deterministic MinHash permutation parameters: h_i(x) = (a_i*x + b_i) mod p.
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne)
_A_MULT = 1_103_515_245
_B_MULT = 12_345


def minhash_params(n_perm: int) -> list[tuple[int, int]]:
    """Seeded (a, b) pairs — a simple LCG stream, identical in the oracle."""
    return [
        ((_A_MULT * (i + 1) + _B_MULT) % MINHASH_PRIME or 1, (_B_MULT * (i + 1) + 7) % MINHASH_PRIME)
        for i in range(n_perm)
    ]


def _ckpt_disk(df: DataFrame) -> DataFrame:
    """Materialize a CORPUS-SCALE multi-consumer intermediate on local
    disk only (no storage-memory caching).

    The dedup pipelines eagerly localCheckpoint their shingle index /
    signature tables because 2-3 downstream stages consume them; default
    MEMORY_AND_DISK parks those blocks in the unified region, and at the
    x1000 corpus (2.5B index rows) the cached blocks starved the very
    aggregations that read them (AGGREGATE_OUT_OF_MEMORY in the
    signature groupBy). DISK_ONLY streams the blocks to local disk —
    re-reads ride the page cache at small SFs, and execution memory
    stays whole for aggregation state. Pair-scale intermediates (CC
    iterations) keep the default level: they are orders of magnitude
    smaller and re-read once per iteration.
    """
    from pyspark.storagelevel import StorageLevel

    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)


def exact_duplicate_clusters(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical (normalized) docs: digest, size, keeper id."""
    return (
        df.select(F.col(id_col), normalized_md5(text_col).alias("digest"))
        .groupBy("digest")
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_copies") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id row per normalized-text digest (deterministic survivor).

    Implemented as a min-id aggregation + semi join rather than
    ``dropDuplicates`` so the survivor is defined (dropDuplicates keeps an
    arbitrary partition-order row).
    """
    keepers = (
        df.select(F.col(id_col), normalized_md5(text_col).alias("digest"))
        .groupBy("digest")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keepers, on=id_col, how="left_semi")


def shingle_index(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Inverted index: (id, shingle) — distinct word n-grams per doc.

    The whitespace tokenize (textops.tokens) + shingle zip is the
    CPU-heavy narrow stage of
    every dedup pipeline; fan a single-split scan out first so it
    parallelizes (no-op once scan splits exceed cores; the index is
    per-row, partitioning-independent).
    """
    from hive_feature_demo_spark.operators.skew import fan_out_scan

    df = fan_out_scan(df, id_col)
    return df.select(
        F.col(id_col), F.explode(word_shingles(tokens(text_col), n)).alias("shingle")
    )


def jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (id_a < id_b, jaccard >= threshold)."""
    # materialize the index once: it feeds BOTH self-join sides and the
    # size table, and the shingling expression (regex split + per-position
    # slices) dominates cost if re-executed per consumer
    sh = _ckpt_disk(shingle_index(df, id_col, text_col, n))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _shingle_int(shingle_col):
    """60-bit integer from the first 15 hex chars of the shingle's md5.

    ``conv(hex,16,10)`` stays within int64 for 15 hex digits; the identical
    value is computed oracle-side by folding hex nibbles.
    """
    return F.conv(F.substring(F.md5(shingle_col), 1, 15), 16, 10).cast("long")


def hashed_shingle_index(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Shingle index with the shingle HASHED to its 60-bit md5 int.

    The MinHash pipelines never need the shingle text — signatures use
    ``xi % p`` (identical to hashing the string at signature time) and
    the exact-Jaccard verify only needs set-membership equality — so the
    index they checkpoint and join on can carry an 8-byte long instead of
    a ~25-byte UTF8 3-gram: smaller checkpoint, long-vs-string join keys,
    one md5 per index row total. Row multiplicity is preserved (one row
    per distinct shingle STRING per doc — a within-doc 60-bit collision
    keeps both rows), and the oracles replay the same fold (llmops `shi`
    CTE), so engine and oracle see identical values, collisions included;
    exact-Jaccard-on-strings queries (q39/q232/q296/q300) keep the string
    index.
    """
    sh = shingle_index(df, id_col, text_col, n)
    return sh.select(F.col(id_col), _shingle_int(F.col("shingle")).alias("shingle"))


def minhash_signatures_from_index(
    shingles: DataFrame,
    id_col: str,
    n_perm: int = 16,
    already_hashed: bool | None = None,
) -> DataFrame:
    """MinHash signatures from a prebuilt (id, shingle) index.

    Split out so pipelines that also need the index for candidate
    verification (``minhash_near_duplicates``) shingle the corpus ONCE —
    at 100 TB the tokenize+shingle scan is the dominant cost and must not
    run per consumer.

    ``already_hashed`` declares whether ``shingle`` already carries the
    60-bit md5 fold (:func:`hashed_shingle_index`) or is raw text to hash
    here — ``xi % p`` on the fold is bit-identical to hashing the string
    at signature time, so the two paths agree. The default ``None``
    accepts a string column as obviously-unhashed but REFUSES an integer
    column: a raw integer shingle and a pre-hashed fold are
    indistinguishable by dtype, and signing raw ints as if they were
    folds would silently produce different signatures than the string
    path gives the same values.
    """
    if already_hashed is None:
        dtype = dict(shingles.dtypes).get("shingle")
        if dtype != "string":
            raise ValueError(
                f"shingle column has dtype {dtype!r}: pass "
                "already_hashed=True for a hashed_shingle_index, or "
                "already_hashed=False to md5-fold raw integer shingles"
            )
        already_hashed = False
    # reduce x mod p BEFORE multiplying: a < p < 2^31 and (x mod p) < 2^31,
    # so a*(x mod p)+b < 2^62 stays in int64 (Spark 4 ANSI mode overflows
    # loudly otherwise); (a*x+b) mod p == (a*(x mod p)+b) mod p.
    sh = shingles.withColumn(
        "x",
        (
            F.col("shingle") if already_hashed else _shingle_int(F.col("shingle"))
        )
        % F.lit(MINHASH_PRIME),
    )
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_params(n_perm))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, n_perm: int = 16
) -> DataFrame:
    """MinHash signature per doc: columns mh_0..mh_{n_perm-1}.

    Docs with fewer than ``n`` tokens have no shingles and drop out (they
    cannot be near-duplicates under shingle Jaccard).
    """
    return minhash_signatures_from_index(
        shingle_index(df, id_col, text_col, n), id_col, n_perm
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    bands: int = 4,
    rows: int = 4,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band signature become candidate pairs.

    Shuffles on (band, packed band key) — bucket sizes, not the full pair
    matrix, bound the cost. Returns distinct (id_a < id_b).

    The bucket key packs the band's ``rows`` minhash values PAIRWISE into
    longs (each value < MINHASH_PRIME = 2^31 - 1, so two fit a signed
    int64 exactly: ``hi << 31 | lo``; packing into disjoint bit ranges is
    injective). Bucket membership is therefore EXACT band-signature
    equality — the same buckets the previous md5-of-concat digest
    produced (digest equality ⇔ value equality absent an md5 collision,
    which can only MERGE distinct buckets, never split one) — at ~16
    bytes of join key instead of a 32-char digest string, with zero
    hashing/concat CPU per bucket row (r13; the candidate join is q86's
    widest shuffle and its payload is why the x1000 tier is
    cache-bound). The DuckDB oracles replay the md5-digest formulation;
    pair sets are A/B-identical at every SF (tests pin the packed-key
    join shape and the oracle gates q46/q86/q326 pin the values).

    ``max_bucket_width`` caps how many docs any one bucket contributes
    (deterministic: the ``max_bucket_width`` lowest ids survive, the
    q157 prefix-cap trick). A hot bucket of width w costs w² in the
    self-join — one pathological bucket (boilerplate text, an
    empty-signature class) can dominate the whole stage at 100 TB. With
    the cap, stage cost is ≤ Σ min(w, cap)² ≤ cap · corpus — LINEAR.
    Recall tradeoff: pairs whose only shared bucket was truncated are
    missed; near-dup families wider than the cap still collapse through
    the surviving prefix clique (min ids are kept, so the cluster
    SURVIVOR is unaffected). Default ``None`` = exact (no cap) — the
    registered q86/q95/q304 oracles replay the exact variant.
    """
    # one row per doc and it feeds 2 join sides x `bands` projections —
    # materialize instead of recomputing the upstream shingle aggregation
    # per consumer (a full corpus re-scan per band at 100 TB). Packing
    # happens BEFORE the checkpoint so (a) it is computed once, not per
    # band projection, and (b) the DISK_ONLY checkpoint carries
    # bands*ceil(rows/2) packed longs instead of bands*rows raw minhashes
    # — half the materialized bytes at the default 4x4 config.
    n_keys = (rows + 1) // 2
    key_cols = ["band"] + [f"bk_{j}" for j in range(n_keys)]
    packed_cols = []
    for bi in range(bands):
        cols = [F.col(f"mh_{bi * rows + r}") for r in range(rows)]
        for j in range(0, rows - 1, 2):
            # widen first: on an IntegerType signature shiftleft wraps in 32
            # bits (Catalyst drops the cast on long inputs)
            packed_cols.append(
                (F.shiftleft(cols[j].cast("long"), 31) + cols[j + 1]).alias(f"bk_{bi}_{j // 2}")
            )
        if rows % 2:
            packed_cols.append(cols[-1].alias(f"bk_{bi}_{rows // 2}"))
    packed = _ckpt_disk(signatures.select(F.col(id_col), *packed_cols))
    band_rows = [
        packed.select(
            F.col(id_col),
            F.lit(bi).alias("band"),
            *[F.col(f"bk_{bi}_{j}").alias(f"bk_{j}") for j in range(n_keys)],
        )
        for bi in range(bands)
    ]
    buckets = band_rows[0]
    for br in band_rows[1:]:
        buckets = buckets.unionByName(br)
    if max_bucket_width is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(*key_cols).orderBy(id_col)
        buckets = (
            buckets.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= max_bucket_width)
            .drop("_rk")
        )
    a = buckets.select(F.col(id_col).alias("id_a"), *key_cols)
    b = buckets.select(F.col(id_col).alias("id_b"), *key_cols)
    return (
        a.join(b, key_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def verify_jaccard_on_candidates(
    sh: DataFrame, cands: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard over CANDIDATE pairs only, from a shared shingle index.

    Cost ~ candidates × shingles-per-doc, never all-pairs — the verify
    stage behind :func:`minhash_near_duplicates`, split out so pipelines
    that restructure candidate generation (bucket caps, exact-dup
    collapse) reuse the identical verify semantics.

    The index is first SEMI-JOINED down to docs that appear in some
    candidate pair (r6: the x10 stage profile showed the two verify
    joins re-shuffling the FULL corpus index even when candidates touch
    a fraction of it). Per-doc shingle counts are unchanged by an id
    filter, so the result is identical; the verify joins now scale with
    candidate-doc mass, not corpus mass.

    n_common is computed per pair as ``size(array_intersect)`` over
    per-doc shingle SETS (r10): one groupBy collapses the restricted
    index to an array + count per candidate doc, then each pair joins
    exactly two array rows. The previous formulation exploded candidates
    x shingles-per-doc rows through a (id, shingle) equi-join and
    re-aggregated them — linear in the same quantities here, but at
    adversarial candidate density (the bench stress row: 945k pairs x
    ~50 shingles = 47M exploded rows) the explosion dominated the whole
    pipeline; the array form moves pairs + docs rows instead and won a
    measured ~2x at x100 (PERF.md "Round-10 (cont.): array-intersect
    verify"). Intersection is over the 60-bit shingle ints
    (hashed_shingle_index), set-semantics;
    the oracles replay the identical distinct-int join, so collisions —
    were one to occur — land the same on both engines. Per-doc array
    width is bounded by the doc's distinct-shingle count (corpus ~52;
    a pathological 1M-shingle doc would make an ~8 MB row — chunk such
    docs upstream, as the curation splitters do).
    """
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # feeds BOTH join sides (sa/sb) — materialize so the semi-join +
    # aggregation runs once per action, not once per consumer (the
    # pre-array form checkpointed its restricted index for the same
    # reason); disk-only, the arrays are candidate-doc-scale
    sets = _ckpt_disk(
        sh.join(cand_ids, id_col, "left_semi")
        .groupBy(id_col)
        .agg(
            F.collect_set("shingle").alias("_sh"),
            F.count("*").alias("n_sh"),
        )
    )
    sa = sets.select(
        F.col(id_col).alias("id_a"),
        F.col("_sh").alias("_sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"),
        F.col("_sh").alias("_sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    n_common = F.size(F.array_intersect("_sh_a", "_sh_b"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            n_common.alias("_n_common"),
            (
                n_common / (F.col("n_a") + F.col("n_b") - n_common)
            ).alias("jaccard"),
        )
        # zero-intersection pairs vanished through the pre-array form's
        # inner join on `common` (and vanish in the oracle CTEs' shingle
        # equi-join); keep that contract so a threshold of 0 can't admit
        # disjoint pairs
        .filter((F.col("_n_common") > 0) & (F.col("jaccard") >= threshold))
        .drop("_n_common")
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_perm: int = 16,
    bands: int = 4,
    rows: int = 4,
    threshold: float = 0.8,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """The full scale-path near-dup pipeline: LSH candidates -> exact verify.

    Exact Jaccard is computed ONLY for LSH candidate pairs: the shingle
    index joins onto the candidate set (cost ~ candidates x shingles),
    never all-pairs — this is the whole point of the LSH pre-filter; a
    corpus-wide exact pass here would re-introduce the quadratic join the
    banding exists to avoid. Result set is identical to exact-then-filter.
    ``max_bucket_width`` bounds the hot-bucket blowup (see
    :func:`lsh_candidate_pairs`); ``None`` = exact.

    The corpus shingle index is never MATERIALIZED (r11): signatures
    aggregate the shingle stream in one pass (the map-side partial runs
    in the same stage as the explode, so the shuffle carries one row per
    doc, not per shingle), candidate pairs are checkpointed
    (pairs-scale), and the verify stage RE-SHINGLES only the candidate
    docs. The previous shape checkpointed the full (id, shingle) index
    for its two consumers — at the x1000 corpus that is ~40 GB written
    and read back, and it dominated the pipeline: A/B
    (commit 18c87d5, identical pair sets asserted)
    measured 12.6 s vs 20.2 s at x100 (1.6x), 112.8 s vs 207.5 s at
    x1000 (1.8x; 3.9x cold), with a worst case of +13% on the
    adversarial-density stress corpus where candidate docs approach the
    whole corpus and the second shingling pass is corpus-sized.

    DETERMINISTIC-INPUT REQUIREMENT: ``df`` is scanned twice (signature
    aggregation, then the candidate semi-join re-shingle). The old eager
    index checkpoint pinned one snapshot; now a non-deterministic
    upstream (``sample()`` without a seed, ``rand()``-derived ids, a
    mutating source) can yield different shingle sets between the two
    passes. Callers with such inputs must pin a snapshot first, e.g.
    ``df = df.localCheckpoint(eager=True)``. Every registered query
    feeds this from deterministic parquet scans.
    """
    sig = minhash_signatures_from_index(
        hashed_shingle_index(df, id_col, text_col, n),
        id_col,
        n_perm,
        already_hashed=True,
    )
    # pairs-scale; feeds BOTH the candidate-doc restriction and the
    # verify join, and materializing it also stops the banding self-join
    # from executing once per consumer
    cands = lsh_candidate_pairs(
        sig, id_col, bands, rows, max_bucket_width
    ).localCheckpoint(eager=True)
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh_c = hashed_shingle_index(
        df.join(cand_ids, id_col, "left_semi"), id_col, text_col, n
    )
    return verify_jaccard_on_candidates(sh_c, cands, id_col, threshold)


def minhash_near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_perm: int = 16,
    bands: int = 4,
    rows: int = 4,
    threshold: float = 0.8,
    collapse_exact: bool | str = "auto",
    max_bucket_width: int | None = None,
    collapse_min_dup_frac: float = 0.01,
) -> DataFrame:
    """Near-dup CLUSTERS ``(node, cluster)`` with exact-dup pre-collapse.

    ``collapse_exact=True`` runs an exact-dup representative-collapse
    BEFORE shingling (r5 verdict item 1): only the min-id doc per digest
    group enters the MinHash/LSH/verify/CC pipeline, and collapsed
    members are re-expanded into their representative's cluster
    afterwards. In real 100 TB corpora exact-dup mass dominates, and this
    keeps it out of every super-linear-in-pair-density stage (bucket
    self-join, candidate verify, CC edge shuffles) at the cost of one
    digest groupBy + one semi join — both linear, digest-only shuffles.

    ``collapse_exact="auto"`` (default) makes that call from the data,
    the way AQE re-plans from runtime stats: the digest aggregation (16
    bytes/doc, the cheapest possible full-corpus statistic) runs first,
    and the collapse machinery is engaged only when exact dups are at
    least ``collapse_min_dup_frac`` of the corpus — below that the extra
    joins cost more than the shingles they avoid. Either branch returns
    the identical result, so the choice is purely physical.

    The collapse key is the md5 of the whitespace-collapsed,
    case-PRESERVING text — digest equality ⇔ identical token sequence
    under :func:`textops.tokens` (NOT :func:`normalized_md5`, whose
    lowercasing would merge docs with different case and hence different
    shingle sets, changing results).

    The result is IDENTICAL to clustering the full corpus
    (``connected_components(minhash_near_duplicates(df, ...))``):

    - same digest ⇒ identical token sequence ⇒ identical shingle sets ⇒
      Jaccard 1 with each other and equal Jaccard against every third
      doc, so a dup group is a clique whose members all join exactly the
      components their representative joins;
    - the representative is the group MIN id, so component labels
      (= min reachable id) are unchanged by collapsing;
    - dup groups (size ≥ 2) whose representative has no near-dup edges
      are still emitted as their own cluster — they were a Jaccard-1
      clique in the uncollapsed graph. Groups whose docs produce no
      shingles (< n tokens) are excluded, exactly as shingle-less docs
      drop out of the uncollapsed pipeline.

    Equivalence is property-tested in tests/test_dedup_similarity.py and
    oracle-gated by q86/q95/q304 (whose DuckDB oracles replay the
    UNcollapsed formulation).
    """
    # shingle-consistent digest: whitespace-collapse only (see docstring)
    digest_expr = F.md5(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))

    if collapse_exact == "auto":
        # one aggregation job: count + EXACT distinct over a 64-bit
        # xxhash64 of the collapsed text. Exact, not HLL (r13): the
        # collapse threshold (default 1%) sits INSIDE an rsd-0.02 HLL's
        # noise band, so the decision flipped corpus-to-corpus on
        # estimator luck — the inherited md5-HLL probe engaged the
        # collapse machinery at sf0.001 (true dup mass: ZERO) and an
        # xxhash64-HLL flipped sf0.1 the same way (~+2.5 s/run for 0.16%
        # dup mass); a tighter HLL (rsd 0.005) costs 6.2 s warm at the
        # x100 corpus vs 0.8–1.0 s for the exact count (map-side partial
        # dedup: the shuffle carries one 8-byte digest per DISTINCT text
        # per task, and warm it measured at or below the rsd-0.02 HLL's
        # 0.9 s). The decision is now a deterministic property of the
        # corpus. Scale note: worst-case probe shuffle is distinct-count
        # x 8 B (the collapse branch's own digest groupBy shuffles the
        # same mass when it engages); a 100 TB deployment that wants a
        # registers-only probe can pass collapse_exact explicitly.
        # xxhash64, not md5: codegen-native, and a 64-bit collision only
        # perturbs a COUNT feeding a physical-only choice — the COLLAPSE
        # branch below keeps the md5 digest, where grouping equality
        # decides results.
        stats = df.agg(
            F.count("*").alias("_t"),
            F.count_distinct(
                F.xxhash64(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
            ).alias("_r"),
        ).first()
        n_docs, n_reps = int(stats["_t"] or 0), int(stats["_r"] or 0)
        collapse_exact = (n_docs - n_reps) >= collapse_min_dup_frac * n_docs

    if not collapse_exact:
        pairs = minhash_near_duplicates(
            df, id_col, text_col, n, n_perm, bands, rows, threshold,
            max_bucket_width,
        )
        return connected_components(pairs)

    digests = df.select(F.col(id_col), digest_expr.alias("_digest"))
    groups = digests.groupBy("_digest").agg(
        F.min(id_col).alias("_rep"), F.count("*").alias("_g")
    )
    # (id, _rep): every doc mapped to its group representative
    members = digests.join(groups, "_digest").select(id_col, "_rep", "_g")
    reps = df.join(
        members.filter(F.col(id_col) == F.col("_rep")).select(id_col),
        id_col,
        "left_semi",
    )
    # same streamed shape as minhash_near_duplicates (no materialized
    # corpus index; see its docstring for the r11 A/B numbers)
    rep_pairs = minhash_near_duplicates(
        reps, id_col, text_col, n, n_perm, bands, rows, threshold,
        max_bucket_width,
    )
    comp_reps = connected_components(rep_pairs)  # (node=rep, cluster)
    # dup-group cliques whose rep has shingles but no near-dup edges:
    # they form their own component in the uncollapsed graph. "Has
    # shingles" without the index: word_shingles is non-empty iff the
    # doc has >= n whitespace tokens (textops.word_shingles emits
    # array() below that, and explode of array()/null yields no rows).
    shingled = reps.filter(F.size(tokens(text_col)) >= n).select(
        F.col(id_col).alias("_rep")
    )
    extra = (
        groups.filter(F.col("_g") > 1)
        .join(shingled, "_rep", "left_semi")
        .join(
            comp_reps.select(F.col("node").alias("_rep")), "_rep", "left_anti"
        )
        .select(F.col("_rep").alias("node"), F.col("_rep").alias("cluster"))
    )
    rep_clusters = comp_reps.unionByName(extra).withColumnRenamed("node", "_rep")
    # expand every clustered rep back to its dup-group members
    return members.join(rep_clusters, "_rep").select(
        F.col(id_col).alias("node"), "cluster"
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per doc as a 16-char hex string.

    Bit j's vote = +1/-1 per distinct token whose md5 has bit j set; the
    fingerprint sets bit j when the vote sum is positive. Bits come from
    md5 hex nibbles (position in '0123456789abcdef'), so the identical
    computation runs in ANSI SQL oracle-side. No UDFs, all codegen.

    Shape (r6): 16 PACKED aggregate columns over one row per distinct
    token. Each md5 nibble's 4 bit-indicators live in their own 16-bit
    count field of one long (packed[v] = Σ_r ((v>>r)&1) << 16r, a
    16-element literal lookup per nibble), so Catalyst partial-aggregates
    map-side and the only shuffle is 17 longs per doc keyed by id. Bit j
    is set iff 2*count_j > n_tokens — algebraically identical to the
    ±1-vote sum being positive (vote = 2*count - n), so ties (sum == 0)
    resolve the same way. The previous formulation exploded 64 (j, vote)
    rows per token and shuffled tokens×64 rows through two (id, position)
    groupBys — 64× the shuffle volume; a 64-separate-agg variant fixed
    the shuffle but paid ~6 s of whole-stage-codegen compile for the 64
    CASE-WHEN aggregates. This packed form keeps codegen narrow: sf0.01
    cold 1.5 s (vs 7.2 s for 64-agg) / warm 0.39 s (vs 0.68 s), and the
    16-bit fields are exact for docs up to 32767 distinct tokens (corpus
    max ~200; the count(*) guard below raises beyond the bound rather
    than silently wrapping). The bound is 32767, not 65535: once the
    top field's count reaches 32768 the packed SIGNED long sum sets bit
    63 — harmless under default Spark (extraction masks 16 bits) but an
    ArithmeticException under spark.sql.ansi.enabled=true BEFORE the
    guard fires, so the guard is pinned to the range that is safe under
    BOTH modes. Output verified bit-identical to the exploded
    formulation via exceptAll both ways.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    ).withColumn(
        "nibs",
        F.expr(
            "transform(sequence(1, 16),"
            " i -> instr('0123456789abcdef', substring(md5(tok), i, 1)) - 1)"
        ),
    )
    packed = [
        sum(((v >> r) & 1) << (16 * r) for r in range(4)) for v in range(16)
    ]
    pk = "array(" + ",".join(f"{v}L" for v in packed) + ")"
    aggs = [
        F.sum(F.expr(f"element_at({pk}, element_at(nibs, {i + 1}) + 1)")).alias(
            f"p_{i}"
        )
        for i in range(16)
    ] + [F.count(F.lit(1)).alias("n_tok")]
    sums = toks.groupBy(id_col).agg(*aggs)
    # bit j of nibble i set iff 2*count_field > n_tok; nibble value =
    # Σ_{r<4} bit << r; hex char lookup per nibble. assert_true guards
    # the packed-field bound (docs with >32767 distinct tokens must fail
    # loudly, not wrap counts — 32767, not 65535, so the SUM also stays
    # below the signed-long bit-63 threshold that ANSI mode rejects).
    nib_hex = [
        F.expr(
            "substring('0123456789abcdef', CAST("
            + " + ".join(
                f"shiftleft(CASE WHEN 2 * ((p_{i} >> {16 * r}) & 65535)"
                f" > n_tok THEN 1 ELSE 0 END, {r})"
                for r in range(4)
            )
            + " AS INT) + 1, 1)"
        )
        for i in range(16)
    ]
    return sums.select(
        F.col(id_col),
        F.when(
            F.assert_true(
                F.col("n_tok") <= F.lit(32767),
                F.lit("simhash64: >32767 distinct tokens overflows packed counts"),
            ).isNull(),
            F.concat(*nib_hex),
        ).alias("simhash"),
    )


def connected_components_alternating(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 30,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): the O(log n)-round scale
    path for graphs whose DIAMETER is too large for per-hop min-label
    propagation (:func:`connected_components` needs diameter rounds; chains
    of near-dups at 100 TB can be long).

    Each round rewires the edge set toward stars centered at component
    minima:

    - **large-star**: per node u, connect every strictly-larger neighbor to
      min(N(u) ∪ {u});
    - **small-star**: per node u, connect every not-larger neighbor (and u
      itself) to that minimum.

    Both steps are a groupBy(u) + window-min — embarrassingly parallel, no
    driver data. Converged when the edge set stops changing; the final
    graph is exactly (node -> component-min) stars. Output matches
    :func:`connected_components` row-for-row (equivalence is
    property-tested in tests/test_dedup_similarity.py).
    """
    sym = edges.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).unionByName(
        edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    # canonical undirected form (min, max); nodes also self-edge so
    # singletons inside the edge set survive the rewiring
    und = (
        sym.select(
            F.least("src", "dst").alias("lo"), F.greatest("src", "dst").alias("hi")
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _star(e: DataFrame, large: bool) -> DataFrame:
        # neighborhood view centered at u (both directions + self)
        nodes = (
            e.select(F.col("lo").alias("u"))
            .unionByName(e.select(F.col("hi").alias("u")))
            .distinct()
        )
        nbrs = (
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
            .unionByName(e.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
            # every node is in its own neighborhood (v = u), so a node whose
            # neighbors are all smaller still emits its (u -> m) edge in the
            # small-star step
            .unionByName(nodes.withColumn("v", F.col("u")))
        )
        m = nbrs.groupBy("u").agg(F.min("v").alias("m"))
        joined = nbrs.join(m, "u")
        if large:
            out = joined.filter(F.col("v") > F.col("u"))
        else:
            out = joined.filter(F.col("v") <= F.col("u"))
        return (
            out.select(
                F.least("v", "m").alias("lo"), F.greatest("v", "m").alias("hi")
            )
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )

    for _ in range(max_iters):
        new = _star(_star(und, large=True), large=False).localCheckpoint(eager=True)
        # converged when the (canonical, distinct) edge sets are identical
        if new.count() == und.count() and new.exceptAll(und).isEmpty():
            und = new
            break
        und = new
    else:
        raise RuntimeError(
            f"alternating CC did not converge in {max_iters} rounds"
        )
    # fixed point is a star forest: (hi -> lo) with lo = component min
    centers = und.select(F.col("lo").alias("node")).distinct().withColumn(
        "cluster", F.col("node")
    )
    return (
        und.select(F.col("hi").alias("node"), F.col("lo").alias("cluster"))
        .unionByName(centers)
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 20,
    strict: bool = True,
) -> DataFrame:
    """Cluster ids for an undirected pair graph: min-label propagation.

    Near-dup *pairs* are not enough for dedup — transitive chains
    (A~B~C) must collapse into one cluster with one survivor. Each
    iteration joins current labels across edges (both directions) and
    takes the min; convergence is checked with a count of changed labels
    (driver-side scalar only — no data collected). Iterations needed =
    graph diameter; near-dup graphs are shallow (dup chains, not paths),
    so this terminates in a handful of rounds. The large-star/small-star
    variant drops diameter to O(log n) if ever needed.

    Returns ``(node, cluster)`` where cluster = min node id reachable.
    """
    sym = edges.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).unionByName(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
    # materialize the edge set once: every iteration joins against it, and
    # without this the (possibly expensive) upstream pair-generation plan
    # re-executes per iteration
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("cluster", F.col("node"))
    )
    for _ in range(max_iters):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy(F.col("src").alias("node2"))
            .agg(F.min("cluster").alias("nbr_cluster"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.node2, "left")
            .select(
                "node",
                F.least(
                    F.col("cluster"), F.coalesce("nbr_cluster", F.col("cluster"))
                ).alias("cluster"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)  # cut lineage growth
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.cluster") != F.col("o.cluster"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        if strict:
            raise RuntimeError(
                f"connected_components did not converge in {max_iters} "
                "iterations (graph diameter too large); raise max_iters or "
                "switch to the large-star/small-star formulation"
            )
    return labels


def simhash_near_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, with banding.

    Pigeonhole: two 64-bit hashes within Hamming distance d < n_bands must
    agree exactly on at least one of the ``n_bands`` contiguous bands —
    candidates join on (band index, band substring), never all-pairs; the
    exact nibble-wise Hamming check verifies candidates only. Requires
    ``max_hamming < n_bands`` for completeness.
    """
    if max_hamming >= n_bands:
        raise ValueError("completeness needs max_hamming < n_bands")
    band_len = 16 // n_bands  # hex chars per band
    bands = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.substring(F.col(hash_col), b * band_len + 1, band_len).alias("bh"),
            ),
        )
    )
    # parse the 64-bit hash ONCE per row into two unsigned 32-bit halves so
    # the per-pair Hamming is bit_count(xor) on longs inside codegen — the
    # value is the popcount of the full 64-bit xor, identical to the
    # nibble-wise fold the oracle spells out, which as a Spark higher-order
    # aggregate ran interpreted (16 instr+substring+xor per CANDIDATE pair)
    hexhalf = lambda start: F.conv(  # noqa: E731
        F.substring(F.col(hash_col), start, 8), 16, 10
    ).cast("long")
    tagged = fingerprints.select(
        F.col(id_col),
        F.col(hash_col),
        hexhalf(1).alias("hi"),
        hexhalf(9).alias("lo"),
        bands.alias("b"),
    ).select(
        id_col,
        hash_col,
        "hi",
        "lo",
        F.col("b.band").alias("band"),
        F.col("b.bh").alias("bh"),
    )
    a = tagged.select(
        F.col(id_col).alias("id_a"),
        F.col(hash_col).alias("h_a"),
        F.col("hi").alias("hi_a"),
        F.col("lo").alias("lo_a"),
        "band",
        "bh",
    )
    b = tagged.select(
        F.col(id_col).alias("id_b"),
        F.col(hash_col).alias("h_b"),
        F.col("hi").alias("hi_b"),
        F.col("lo").alias("lo_b"),
        "band",
        "bh",
    )
    hamming = F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    ) + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    # hamming is a pure function of the pair, so thresholding BEFORE the
    # distinct is value-identical and shrinks the dedup shuffle to the
    # surviving pairs (band-collision candidates are the wide set)
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "h_a", "h_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )
