"""Multimodal decode-pipeline query plans (real pixel math, synthetic codec).

The codec is synthetic (no media libraries in this container — reference
analogue: SURVEY.md §2.3 "Multimodal columns"): an asset's RGB buffer is its
payload bytes tiled to header dims derived from the content digest. Every
FEATURE, though, is real arithmetic on the decoded buffer (NumPy means,
strip pooling, per-frame luminance, bilinear resize — see
``operators/multimodal.py``), and because those statistics are exact integer
byte sums until one final IEEE division, the DuckDB oracle replays them
bit-identically: it reconstructs per-document byte prefix sums and evaluates
the same tiled-range sums the kernel's buffers realize. The one genuinely
interpolating op (bilinear resize, fractional weights) is not
SQL-replayable; q121 surfaces it as a bounds boolean the oracle asserts, and
pytest checks the pixels against an independent per-pixel reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_feature_demo_spark.catalog import table
from hive_feature_demo_spark.functions.numeric import sql_hex_to_int
from hive_feature_demo_spark.operators import multimodal
from hive_feature_demo_spark.plans.registry import register


def _hex2int(h: str, pos: str) -> str:
    """DuckDB: value of the 2-hex-digit pair of ``h`` at 1-based ``pos``."""
    return sql_hex_to_int(h, pos, 2)


_H = "md5(text)"
_WIDTH = f"16 * (1 + {_hex2int(_H, '1')} % 64)"
_HEIGHT = f"16 * (1 + {_hex2int(_H, '3')} % 64)"
_NFRAMES = f"1 + {_hex2int(_H, '5')} % 120"

#: shared prelude: per-document byte stream (ASCII text -> code point ==
#: utf-8 byte, asserted in tests), running prefix sums, totals, and header
#: dims. A tiled-range sum over [lo, hi) of the infinitely-repeated payload
#: is then (hi//L - lo//L)*t + P(hi%L) - P(lo%L) — exactly the bytes the
#: kernel's decoded buffers contain.
_PX_CTE = f"""byt AS (
      SELECT doc_id,
             unnest(generate_series(1, length(text))) AS i,
             unnest(list_transform(generate_series(1, length(text)),
                    j -> CAST(ascii(substring(text, CAST(j AS INT), 1)) AS BIGINT))) AS b
      FROM documents
    ),
    pf AS (SELECT doc_id, i, SUM(b) OVER (PARTITION BY doc_id ORDER BY i) AS p FROM byt),
    tot AS (SELECT doc_id, SUM(b) AS t, COUNT(*) AS l FROM byt GROUP BY doc_id),
    dims AS (
      SELECT doc_id AS asset_id,
             CAST({_WIDTH} AS BIGINT) AS width,
             CAST({_HEIGHT} AS BIGINT) AS height,
             CAST({_NFRAMES} AS BIGINT) AS n_frames
      FROM documents
    )"""


def _tiled_sum_select(ranges_cte: str) -> str:
    """SELECT computing the tiled-range byte sum ``s`` for a CTE exposing
    (asset_id, lo, hi, ...passthrough cols referenced by name later)."""
    return f"""
  SELECT r.*, (r.hi // tt.l - r.lo // tt.l) * tt.t
         + COALESCE(ph.p, 0) - COALESCE(pl.p, 0) AS s
  FROM {ranges_cte} r
  JOIN tot tt ON tt.doc_id = r.asset_id
  LEFT JOIN pf ph ON ph.doc_id = r.asset_id AND ph.i = r.hi % tt.l
  LEFT JOIN pf pl ON pl.doc_id = r.asset_id AND pl.i = r.lo % tt.l
"""


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    assets = multimodal.assets_from_documents(docs)
    return multimodal.media_features(assets)


# ---------------------------------------------------------------------------
# q66 — image decode + aspect-preserving integer resize dims + REAL mean
# pixel value of the decoded frame-0 buffer (exact byte math, replayed by
# the oracle from prefix sums).
# ---------------------------------------------------------------------------


@register(
    "q66_media_resize",
    oracle=f"""
    WITH {_PX_CTE},
    ranges AS (
      SELECT asset_id, width, height,
             CAST(0 AS BIGINT) AS lo, width * height * 3 AS hi
      FROM dims
    ),
    summed AS ({_tiled_sum_select('ranges')})
    SELECT asset_id,
           CAST(width AS INT) AS width, CAST(height AS INT) AS height,
           CAST(GREATEST(1, width * {multimodal.RESIZE_TARGET}
                // GREATEST(width, height)) AS INT) AS out_width,
           CAST(GREATEST(1, height * {multimodal.RESIZE_TARGET}
                // GREATEST(width, height)) AS INT) AS out_height,
           FLOOR((CAST(s AS DOUBLE) / hi) * 1000000.0 + 0.5) / 1000000.0 AS mean_px
    FROM summed
    ORDER BY asset_id
    """,
    category="multimodal",
)
def q66_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _media(spark, sf_dir).select(
        "asset_id", "width", "height", "out_width", "out_height", "mean_px"
    ).orderBy("asset_id")


# ---------------------------------------------------------------------------
# q67 — frame sampling with REAL per-frame luminance: one row per sampled
# frame; each frame is decoded from its own offset of the payload stream
# and its mean luminance computed from the pixels.
# ---------------------------------------------------------------------------


@register(
    "q67_frame_samples",
    oracle=f"""
    WITH {_PX_CTE},
    frames AS (
      SELECT d.asset_id, d.n_frames,
             unnest(generate_series(0, CAST(d.n_frames - 1 AS INT),
                                    {multimodal.FRAME_STRIDE})) AS frame_idx
      FROM dims d
    ),
    ranges AS (
      SELECT f.asset_id, f.n_frames, CAST(f.frame_idx AS BIGINT) AS frame_idx,
             CAST(f.frame_idx AS BIGINT) * d.width * d.height * 3 AS lo,
             (CAST(f.frame_idx AS BIGINT) + 1) * d.width * d.height * 3 AS hi
      FROM frames f JOIN dims d ON d.asset_id = f.asset_id
    ),
    summed AS ({_tiled_sum_select('ranges')})
    SELECT asset_id, n_frames, frame_idx,
           FLOOR((CAST(s AS DOUBLE) / (hi - lo) / 255.0) * 1000000.0 + 0.5)
             / 1000000.0 AS frame_lum
    FROM summed
    ORDER BY asset_id, frame_idx
    """,
    category="multimodal",
)
def q67_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _media(spark, sf_dir)
        .select(
            "asset_id",
            F.col("n_frames").cast("long").alias("n_frames"),
            F.arrays_zip(
                F.col("sampled_frames").cast("array<long>").alias("frame_idx"),
                F.col("frame_lums").alias("frame_lum"),
            ).alias("zipped"),
        )
        .select("asset_id", "n_frames", F.explode("zipped").alias("z"))
        .select(
            "asset_id",
            "n_frames",
            F.col("z.frame_idx").alias("frame_idx"),
            F.col("z.frame_lum").alias("frame_lum"),
        )
        .orderBy("asset_id", "frame_idx")
    )


# ---------------------------------------------------------------------------
# q68 — REAL feature-extraction embeddings: 8 horizontal-strip means of the
# decoded frame-0 buffer (grid pooling), exploded to (asset, dim, value).
# ---------------------------------------------------------------------------


@register(
    "q68_media_embeddings",
    oracle=f"""
    WITH {_PX_CTE},
    ranges AS (
      SELECT d.asset_id, CAST(g.sb AS BIGINT) AS dim_idx,
             d.width * d.height * 3 // {multimodal.EMBED_DIM} AS seg,
             g.sb * (d.width * d.height * 3 // {multimodal.EMBED_DIM}) AS lo,
             (g.sb + 1) * (d.width * d.height * 3 // {multimodal.EMBED_DIM}) AS hi
      FROM dims d, generate_series(0, {multimodal.EMBED_DIM - 1}) g(sb)
    ),
    summed AS ({_tiled_sum_select('ranges')})
    SELECT asset_id, dim_idx,
           FLOOR((CAST(s AS DOUBLE) / seg / 255.0 - 0.5) * 1000000.0 + 0.5)
             / 1000000.0 AS value
    FROM summed
    ORDER BY asset_id, dim_idx
    """,
    category="multimodal",
)
def q68_media_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _media(spark, sf_dir)
        .select("asset_id", F.posexplode("embedding").alias("dim_idx", "value"))
        .withColumn("dim_idx", F.col("dim_idx").cast("long"))
        .orderBy("asset_id", "dim_idx")
    )


# ---------------------------------------------------------------------------
# q121 — REAL bilinear resize output statistics, restructured so every
# emitted column is exactly reproducible: resize geometry is md5-derivable
# (the oracle recomputes it from the content digest), and the one
# genuinely-interpolating value (the resized buffer's mean) is surfaced as
# a BOUNDS BOOLEAN — bilinear downsampling preserves the area mean up to
# edge effects, so |resized_mean - mean_px| < 16 is a deterministic
# invariant of a correct kernel, which the oracle asserts as TRUE. If the
# resize kernel ever drifts, the boolean flips and the hash check fails.
# Fractional per-pixel parity stays in tests/test_multimodal_math.py
# against an independent reference implementation.
# ---------------------------------------------------------------------------


@register(
    "q121_media_resized_stats",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id AS asset_id,
             CAST({_WIDTH} AS INT) AS width,
             CAST({_HEIGHT} AS INT) AS height,
             CAST({_NFRAMES} AS BIGINT) AS n_frames
      FROM documents
    )
    SELECT asset_id, width, height, n_frames,
           CAST(GREATEST(1, width * {multimodal.RESIZE_TARGET}
                // GREATEST(width, height)) AS INT) AS out_width,
           CAST(GREATEST(1, height * {multimodal.RESIZE_TARGET}
                // GREATEST(width, height)) AS INT) AS out_height,
           TRUE AS mean_preserved
    FROM dims
    ORDER BY asset_id
    """,
    category="multimodal",
)
def q121_media_resized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _media(spark, sf_dir)
        .select(
            "asset_id",
            F.col("width").cast("int").alias("width"),
            F.col("height").cast("int").alias("height"),
            F.col("n_frames").cast("long").alias("n_frames"),
            "out_width",
            "out_height",
            # real bilinear-resize math feeds this bound; the oracle pins it
            (F.abs(F.col("resized_mean") - F.col("mean_px")) < F.lit(16.0)).alias(
                "mean_preserved"
            ),
        )
        .orderBy("asset_id")
    )


# ---------------------------------------------------------------------------
# q235 — binary chunk manifest: split every asset payload into fixed
# 128-byte chunks, one manifest row per chunk with its length and md5.
# This is the shipping layer for large media at 100 TB — multipart upload
# / content-addressed dedupe both consume exactly this manifest; the
# explode is bounded by payload_size/chunk_size per row and nothing wide
# happens (no shuffle at all: scan -> generate -> project).
# ---------------------------------------------------------------------------

_CHUNK = 128


@register(
    "q235_media_chunk_manifest",
    oracle=f"""
    WITH c AS (
      SELECT doc_id AS asset_id, text,
             CAST(GREATEST(CEIL(length(text) / {_CHUNK}.0), 1) AS BIGINT)
               AS n_chunks,
             unnest(generate_series(0,
               CAST(GREATEST(CEIL(length(text) / {_CHUNK}.0), 1) AS BIGINT) - 1))
               AS chunk_idx
      FROM documents
    )
    SELECT asset_id, chunk_idx, n_chunks,
           CAST(length(substr(text, CAST(chunk_idx * {_CHUNK} + 1 AS INT),
                              {_CHUNK})) AS BIGINT) AS chunk_len,
           md5(substr(text, CAST(chunk_idx * {_CHUNK} + 1 AS INT), {_CHUNK}))
             AS chunk_md5
    FROM c
    ORDER BY asset_id, chunk_idx
    """,
    category="multimodal",
)
def q235_media_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n_chunks = (
        F.greatest(F.ceil(F.length("text") / F.lit(float(_CHUNK))), F.lit(1))
        .cast("long")
        .alias("n_chunks")
    )
    c = docs.select(
        F.col("doc_id").alias("asset_id"), "text", n_chunks
    ).select(
        "asset_id",
        "text",
        "n_chunks",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)
        ).alias("chunk_idx"),
    )
    chunk = F.col("text").substr(
        (F.col("chunk_idx") * _CHUNK + 1).cast("int"), F.lit(_CHUNK)
    )
    return c.select(
        "asset_id",
        "chunk_idx",
        "n_chunks",
        F.length(chunk).cast("long").alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
    ).orderBy("asset_id", "chunk_idx")


# ---------------------------------------------------------------------------
# q236 — perceptual strip-hash near-duplicates: every asset gets a 32-bit
# aHash-style signature (strip byte-sum > frame mean, exact integer
# comparison — operators/multimodal.strip_hash_kernel), then pairs within
# Hamming distance 3 are reported. Scale shape: the payloads never
# shuffle — only (asset_id, int64 hash) rows do; candidates come from
# 4x8-bit band buckets (pigeonhole: <=3 differing bits leave >=1 of 4
# bands identical, so banding is LOSSLESS for the threshold — same trick
# as SimHash q47/q109), and Hamming is one bit_count(xor) per candidate.
# The oracle replays the hash bit-for-bit from byte prefix sums and joins
# all pairs directly (feasible at oracle scale; equal by the pigeonhole
# argument).
# ---------------------------------------------------------------------------

_HAM_T = 3


@register(
    "q236_strip_hash_neardup",
    oracle=f"""
    WITH {_PX_CTE},
    ranges AS (
      SELECT d.asset_id, CAST(g.sb AS BIGINT) AS strip,
             g.sb * (d.width * d.height * 3 // {multimodal.STRIP_HASH_BITS}) AS lo,
             (g.sb + 1) * (d.width * d.height * 3 // {multimodal.STRIP_HASH_BITS}) AS hi
      FROM dims d, generate_series(0, {multimodal.STRIP_HASH_BITS - 1}) g(sb)
    ),
    summed AS ({_tiled_sum_select('ranges')}),
    tot2 AS (SELECT asset_id, SUM(s) AS total FROM summed GROUP BY asset_id),
    bits AS (
      SELECT m.asset_id, m.strip,
             CASE WHEN m.s * {multimodal.STRIP_HASH_BITS} > t.total
                  THEN 1 ELSE 0 END AS bit
      FROM summed m JOIN tot2 t USING (asset_id)
    ),
    sig AS (
      SELECT asset_id, CAST(SUM(bit << strip) AS BIGINT) AS sig
      FROM bits GROUP BY asset_id
    ),
    ham AS (
      -- pack the 32 bits into one BIGINT so the pair space carries one
      -- bit_count(xor) per pair instead of 32 joined bit-rows (the
      -- bit-row form cost 105 s at sf0.1 vs 1.3 s packed, same rows)
      SELECT a.asset_id AS id_a, b.asset_id AS id_b,
             CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      FROM sig a JOIN sig b ON a.asset_id < b.asset_id
    )
    SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
    FROM ham WHERE hamming <= {_HAM_T}
    ORDER BY id_a, id_b
    """,
    category="multimodal",
)
def q236_strip_hash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    assets = multimodal.assets_from_documents(docs)
    # one Python pass over the payloads; everything after is 8-byte rows
    hashes = multimodal.strip_hashes(assets).localCheckpoint(eager=True)
    bands = hashes.select(
        "asset_id",
        "strip_hash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band_idx"),
                        F.shiftright("strip_hash", 8 * k)
                        .bitwiseAND(F.lit(255))
                        .alias("band_val"),
                    )
                    for k in range(4)
                ]
            )
        ).alias("band"),
    ).select("asset_id", "strip_hash", "band.band_idx", "band.band_val")
    a = bands.select(
        F.col("asset_id").alias("id_a"),
        F.col("strip_hash").alias("h_a"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col("asset_id").alias("id_b"),
        F.col("strip_hash").alias("h_b"),
        "band_idx",
        "band_val",
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("long")
    return (
        cand.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _HAM_T)
        .orderBy("id_a", "id_b")
    )
