"""Multimodal columns: opaque binary payloads + typed metadata.

Spark-side plumbing is real (BinaryType columns, metadata structs,
Arrow-batched ``mapInPandas`` decode pipeline, partition-size awareness);
the actual media codec is synthetic — image/audio libraries are not in this
container (see ``media_features_kernel``). The schema/batching contract is
what a real decoder would drop into.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("meta", T.StructType([
            T.StructField("source", T.StringType()),
            T.StructField("n_bytes", T.LongType()),
        ]), True),
    ]
)


def assets_from_documents(docs: DataFrame) -> DataFrame:
    """Model documents as binary assets: payload = utf-8 bytes of the text.

    Stands in for image/audio blobs; every downstream op (size, digest,
    batch decode) treats ``content`` as opaque bytes.
    """
    content = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        content.alias("content"),
        F.lit("text/plain").alias("mime"),
        F.struct(
            F.col("source").alias("source"),
            F.length(content).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def asset_digests(assets: DataFrame) -> DataFrame:
    """Binary-column metadata pass: sizes + content digests (JVM-side)."""
    return assets.select(
        "asset_id",
        F.col("meta.source").alias("source"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5("content").alias("digest"),
        F.sha2("content", 256).alias("sha256"),
    )


# ---------------------------------------------------------------------------
# Media features with REAL pixel arithmetic. The codec step is synthetic —
# no PIL/ffmpeg in this container, so "decoding" a payload means tiling its
# bytes into an RGB buffer whose header dims derive from the content digest —
# but everything DOWNSTREAM of decode is genuine image math on the decoded
# buffer: NumPy mean/strip-pooling/per-frame luminance and a real bilinear
# resize. A production decoder replaces the tiling step with the codec call
# and keeps every other line. All buffer statistics are exact-integer sums
# until one final IEEE division, so the DuckDB oracle replays them
# bit-identically from byte prefix sums over the same payload.
# ---------------------------------------------------------------------------

RESIZE_TARGET = 256
FRAME_STRIDE = 7
EMBED_DIM = 8

MEDIA_SCHEMA = (
    "asset_id long, width int, height int, out_width int, out_height int, "
    "n_frames int, sampled_frames array<int>, frame_lums array<double>, "
    "embedding array<double>, mean_px double, resized_mean double"
)


def _floor_round(x: float, digits: int = 6) -> float:
    """Python spelling of functions.numeric.round_det (same IEEE ops)."""
    import math

    scale = float(10**digits)
    return math.floor(x * scale + 0.5) / scale


def resize_bilinear(img, out_h: int, out_w: int):
    """Pure-NumPy bilinear resize of an (h, w, c) uint8/float buffer.

    Standard align-corners=False sampling: output pixel (i, j) samples the
    source at ((i+0.5)*h/out_h - 0.5, (j+0.5)*w/out_w - 0.5), clamped, with
    bilinear weights — the same convention as PIL/torch. Vectorized gather
    + lerp; no Python per-pixel loop. Gathers index the SOURCE dtype and
    promote to float64 in the lerp (int→float conversion is exact, so
    values are identical to promoting first, without materializing an
    8×-wider copy of a source that may be 64× the output size).
    """
    import numpy as np

    src = img
    h, w = src.shape[0], src.shape[1]
    ys = (np.arange(out_h) + 0.5) * (h / out_h) - 0.5
    xs = (np.arange(out_w) + 0.5) * (w / out_w) - 0.5
    y0 = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :, None]
    top = src[y0][:, x0] * (1 - wx) + src[y0][:, x1] * wx
    bot = src[y1][:, x0] * (1 - wx) + src[y1][:, x1] * wx
    return top * (1 - wy) + bot * wy


def media_features_kernel():
    """``mapInPandas`` kernel: decode + resize + frame-sample + embed.

    Per asset: decode the RGB frame buffer, then compute — with real
    arithmetic on the decoded pixels —

    - ``mean_px``: mean channel value of frame 0 (0-255 scale);
    - ``embedding``: 8 horizontal-strip means of frame 0, scaled to
      [-0.5, 0.5] (grid-pooling, the classic cheap visual descriptor);
    - ``frame_lums``: mean luminance (mean byte / 255) of each SAMPLED
      frame, each decoded from its own offset of the payload stream;
    - ``resized_mean``: mean of the bilinear-resized frame 0 at the
      aspect-preserving target size (real interpolation — fractional
      weights, not oracle-replayable; hash-checked in pytest against a
      per-pixel reference instead).

    Deterministic across engines, partitionings, and batch boundaries:
    integer byte sums + one final division per statistic, floor-rounded.
    """
    import hashlib

    import numpy as np

    def _features(content: bytes) -> dict:
        h = hashlib.md5(content).hexdigest()
        width = 16 * (1 + int(h[0:2], 16) % 64)
        height = 16 * (1 + int(h[2:4], 16) % 64)
        m = max(width, height)
        out_width = max(1, width * RESIZE_TARGET // m)
        out_height = max(1, height * RESIZE_TARGET // m)
        n_frames = 1 + int(h[4:6], 16) % 120
        src = np.frombuffer(content, dtype=np.uint8)
        if src.size == 0:
            src = np.zeros(1, dtype=np.uint8)
        npx3 = width * height * 3

        # Every per-frame/per-strip statistic is a byte sum over a window
        # of the infinitely-tiled payload (frame f = [f·npx3, (f+1)·npx3)),
        # so compute them from ONE prefix-sum pass over the payload instead
        # of materializing an npx3-byte buffer per frame (npx3 is up to 3 MB
        # from a KB-scale payload; 18 sampled frames made that the dominant
        # per-asset cost). Sums of uint8 are exact integers < 2^53, and
        # np.mean's float64 pairwise summation of exact integers is itself
        # exact, so s/n reproduces .mean() bit-for-bit — the same identity
        # the DuckDB oracle's prefix-sum replay (plans/mediaops._PX_CTE)
        # already relies on. Only frame 0 is materialized, for the real
        # bilinear resize.
        cs = np.concatenate([[0], np.cumsum(src, dtype=np.int64)])
        payload_len = src.size
        total = int(cs[payload_len])

        def _wsum(lo: int, hi: int) -> int:
            """Byte sum of the tiled payload over [lo, hi)."""
            return (hi // payload_len - lo // payload_len) * total + int(
                cs[hi % payload_len]
            ) - int(cs[lo % payload_len])

        frame0 = np.resize(src, npx3).reshape(height, width, 3)
        seg = npx3 // EMBED_DIM  # h % 16 == 0 -> exact strip split
        sampled = list(range(0, n_frames, FRAME_STRIDE))
        return {
            "width": width,
            "height": height,
            "out_width": out_width,
            "out_height": out_height,
            "n_frames": n_frames,
            "sampled_frames": sampled,
            "frame_lums": [
                _floor_round(
                    float(_wsum(f * npx3, (f + 1) * npx3)) / npx3 / 255.0
                )
                for f in sampled
            ],
            "embedding": [
                _floor_round(
                    float(_wsum(b * seg, (b + 1) * seg)) / seg / 255.0 - 0.5
                )
                for b in range(EMBED_DIM)
            ],
            "mean_px": _floor_round(float(_wsum(0, npx3)) / npx3),
            "resized_mean": _floor_round(
                float(resize_bilinear(frame0, out_height, out_width).mean())
            ),
        }

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_features(c) for c in pdf["content"]]
            out = pd.DataFrame(feats)
            out.insert(0, "asset_id", pdf["asset_id"].values)
            yield out

    return kernel


#: backward-compatible alias (the kernel is no longer a stub past decode)
media_features_stub = media_features_kernel

STRIP_HASH_BITS = 32


def strip_hash_kernel():
    """``mapInPandas`` kernel: 32-bit perceptual strip hash of frame 0.

    The aHash idea on the synthetic codec: split the decoded frame-0
    buffer into 32 equal horizontal strips (w*h*3 is divisible by 32 —
    dims are multiples of 16, so 768 | w*h*3), set bit s iff strip s's
    byte sum exceeds the frame average (``sum_s * 32 > total`` — an exact
    integer comparison, no division). Visually-similar buffers differ in
    few bits, so near-duplicate detection is Hamming distance on an int64
    — 8 bytes per asset shuffled instead of the payload.
    """
    import hashlib

    import numpy as np

    def _hash_one(content: bytes) -> int:
        h = hashlib.md5(content).hexdigest()
        width = 16 * (1 + int(h[0:2], 16) % 64)
        height = 16 * (1 + int(h[2:4], 16) % 64)
        src = np.frombuffer(content, dtype=np.uint8)
        if src.size == 0:
            src = np.zeros(1, dtype=np.uint8)
        npx3 = width * height * 3
        # strip s's byte sum over the tiled frame-0 window [s·seg, (s+1)·seg)
        # from one payload prefix-sum pass — exact integers, identical to
        # materializing and reshaping the npx3-byte buffer (which is up to
        # 3 MB tiled from a KB payload)
        cs = np.concatenate([[0], np.cumsum(src, dtype=np.int64)])
        payload_len = src.size
        t = int(cs[payload_len])
        seg = npx3 // STRIP_HASH_BITS

        def _wsum(lo: int, hi: int) -> int:
            return (hi // payload_len - lo // payload_len) * t + int(
                cs[hi % payload_len]
            ) - int(cs[lo % payload_len])

        sums = [_wsum(s * seg, (s + 1) * seg) for s in range(STRIP_HASH_BITS)]
        total = _wsum(0, npx3)
        return int(
            sum(
                1 << s
                for s in range(STRIP_HASH_BITS)
                if sums[s] * STRIP_HASH_BITS > total
            )
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "strip_hash": [_hash_one(c) for c in pdf["content"]],
                }
            )

    return kernel


def _fan_out(df: DataFrame) -> DataFrame:
    """Spread a CPU-bound Python kernel's input across the cluster.

    A small corpus often arrives as ONE scan split (a few MB of parquet),
    which would serialize the decode on a single task no matter how many
    cores exist — at sf0.1 the media family ran 80 s on one core vs ~4 s
    fanned out. Hash-repartition on asset_id only when the scan gives
    fewer splits than cores; at real scale input splits already exceed
    parallelism and this is a no-op (values are per-asset, so the result
    is partitioning-independent either way).
    """
    from hive_feature_demo_spark.operators.skew import fan_out_scan

    return fan_out_scan(df, "asset_id")


def strip_hashes(assets: DataFrame) -> DataFrame:
    """(asset_id, strip_hash): 8-byte visual signature per binary asset."""
    return _fan_out(assets.select("asset_id", "content")).mapInPandas(
        strip_hash_kernel(), schema="asset_id long, strip_hash long"
    )


def media_features(assets: DataFrame) -> DataFrame:
    """Decode-pipeline features over binary assets (Arrow-batched)."""
    return _fan_out(assets.select("asset_id", "content")).mapInPandas(
        media_features_kernel(), schema=MEDIA_SCHEMA
    )
