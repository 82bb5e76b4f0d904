"""Text-analysis operators for LLM training-data pipelines.

All hot-path logic is built-in column expressions (JVM-side, whole-stage
codegen) — no Python UDFs. Every function returns Columns/DataFrames that
scale linearly with no shuffle; aggregations downstream shuffle only on the
caller's keys.

Design for 100 TB: these are narrow per-row transforms — they pipeline with
the parquet scan and never materialize intermediate state. The only memory
concern is very long documents (arrays of tokens); ``mapInPandas`` chunking
is unnecessary because token arrays are bounded by document size.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny English stopword list used by quality scoring (deterministic,
#: shared verbatim with the DuckDB oracle).
STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")

#: Marker words per language for the n-gram/stopword language-ID heuristic.
LANG_MARKERS = {
    "en": ("the", "and", "of", "to"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "die", "und", "das"),
    "es": ("el", "los", "que", "y"),
    "zh": ("de", "shi", "bu", "le"),
}

_ROLL_MOD = 1_000_000_007
_ROLL_MULT = 131


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of trimmed text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("long")


def word_tokens_regex(text: Column | str) -> Column:
    """BPE-ish regex tokenization: alnum runs + single punctuation marks."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), 0)


def stopword_ratio(toks: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return hits / F.greatest(F.size(toks), F.lit(1))


def avg_token_len(toks: Column) -> Column:
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t).cast("long")
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(n_tokens: Column, stop_ratio: Column, avg_len: Column) -> Column:
    """Composite [0,1] quality heuristic (length / stopword / token-shape).

    score = 0.5*min(1, n/100) + 0.3*(1 - stop_ratio) + 0.2*min(1, avg_len/8)
    """
    return (
        0.5 * F.least(F.lit(1.0), n_tokens / F.lit(100.0))
        + 0.3 * (F.lit(1.0) - stop_ratio)
        + 0.2 * F.least(F.lit(1.0), avg_len / F.lit(8.0))
    )


def lang_scores(toks: Column) -> dict[str, Column]:
    """Marker-hit count per language (the language-ID heuristic core)."""
    lowered = F.transform(toks, lambda t: F.lower(t))
    out = {}
    for lang, markers in LANG_MARKERS.items():
        marks = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(lowered, lambda t: F.array_contains(marks, t))).cast("long")
    return out


def predict_lang(toks: Column) -> Column:
    """Argmax language by marker hits; ties -> lexicographically first lang;
    zero hits -> 'und' (undetermined)."""
    scores = lang_scores(toks)
    pairs = F.array(
        *[
            F.struct(scores[lang].alias("hits"), F.lit(lang).alias("lang"))
            for lang in sorted(LANG_MARKERS)
        ]
    )
    # max over (hits, reversed-lang) == max hits with lexicographically
    # smallest lang on ties is not directly expressible; sort desc by hits,
    # asc by lang via struct ordering on (-hits, lang).
    best = F.array_min(
        F.transform(pairs, lambda p: F.struct((-p["hits"]).alias("neg"), p["lang"].alias("lang")))
    )
    return F.when(best["neg"] == 0, F.lit("und")).otherwise(best["lang"])


def normalized_md5(text: Column | str) -> Column:
    """Document fingerprint: md5 over whitespace-normalized lowercase text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def rolling_hash(toks: Column) -> Column:
    """Polynomial rolling hash over tokens, mod 1e9+7 (order-sensitive).

    Per-token value = ascii(first char)*31 + length — cheap, deterministic,
    and expressible identically in ANSI SQL. The fold stays within int64
    (acc < 1e9, *131 + v < 2^40), so no overflow on either engine.
    """
    vals = F.transform(toks, lambda t: (F.ascii(t) * 31 + F.length(t)).cast("long"))
    return F.aggregate(
        vals,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * _ROLL_MULT + v) % _ROLL_MOD,
    )


def word_ngrams(toks: Column, n: int) -> Column:
    """ALL word n-grams of a token array, duplicates preserved, in order.

    The non-distinct sibling of :func:`word_shingles` — repetition metrics
    need the multiplicity that dedup shingling deliberately throws away.
    Same shifted-copies zip construction (three bulk array copies, no
    per-position slice)."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(toks, k + 1, m) for k in range(n)])
    grams = F.transform(z, lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)]))
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a token array (for MinHash/Jaccard).

    Empty result when the document has fewer than ``n`` tokens.
    Implemented as a zip of ``n`` shifted copies of the token array —
    measured 4-5x faster than a per-position ``slice`` transform (three
    bulk copies instead of one small allocation per shingle), and
    verified element-identical.
    """
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(toks, k + 1, m) for k in range(n)])
    grams = F.transform(z, lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)]))
    return F.array_distinct(F.when(F.size(toks) >= n, grams).otherwise(F.array()))


def word_tokens_lower(text: Column | str) -> Column:
    """Lowercase alphanumeric word tokens (shared verbatim with oracles)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(c), F.lit(r"[a-z0-9]+"), 0)


def bigrams(toks: Column) -> Column:
    """Adjacent word bigrams ("a b") of a token array; empty below 2 tokens."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - 2, F.lit(-1)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)))
    return F.when(F.size(toks) >= 2, grams).otherwise(F.array().cast("array<string>"))


def tfidf_topk(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
):
    """Top-k TF-IDF terms per document, as pure DataFrame ops.

    Deliberately NOT ``ml.feature.HashingTF`` — hashing buckets collide and
    are not oracle-checkable; the explode/groupBy formulation is exact,
    hash-verifiable, and at 100 TB its two shuffles (doc-term counts, then
    per-term document frequency) are both partial-aggregated map-side by
    Catalyst. ``idf = ln(n_docs / df)``; score rounded for cross-engine
    rank stability (ties break on the term string).
    """
    from pyspark.sql import Window

    from hive_feature_demo_spark.functions.numeric import round_det

    n_docs = df.select(F.count("*").alias("n_docs"))
    toks = df.select(
        F.col(id_col), F.explode(word_tokens_lower(text_col)).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("term").agg(F.count_distinct(id_col).alias("doc_freq"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            "tf",
            round_det(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("doc_freq").cast("double")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy(id_col, "rank")
    )


def char_pair_counts(df, text_col: str = "text"):
    """Frequency-weighted adjacent character pairs — the statistic BPE
    training's first merge iteration maximizes over.

    Tokens case-fold, then every occurrence (not distinct) contributes its
    within-word adjacent char pairs; counts aggregate corpus-wide. Built as
    a zip of two shifted char arrays (the word_shingles trick at the
    character level) — all JVM array ops, no UDF; the only shuffle is the
    final pair-count aggregation, pre-combined map-side. At 100 TB this is
    a scan + one partial-agg shuffle keyed on ~|alphabet|^2 pairs.
    """
    from pyspark.sql import functions as F

    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != ""
    )
    word = F.explode(toks).alias("word")
    chars = F.split(F.col("word"), "")
    m = F.greatest(F.size(chars) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(chars, 1, m), F.slice(chars, 2, m), lambda a, b: F.concat(a, b)
    )
    return (
        df.select(word)
        .filter(F.length("word") >= 2)
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n_occurrences"))
    )
