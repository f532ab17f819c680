"""Perceptual image dedup: dHash + banded Hamming join.

Exact content_sha dedup (multimodal.extract_media_features) only catches
bit-identical files; the same photo re-encoded, resized, or
re-compressed hashes differently. The standard cheap fix is a
perceptual hash — here dHash (difference hash): downscale the luma to
(hash_w+1)×hash_h, compare horizontal neighbors, pack the 64 bits.
Near-duplicate images differ in a few bits of dHash, so near-dup
detection is a Hamming-distance ≤ k join — the exact problem the
SimHash machinery already solves: split the 64-bit hash into b bands;
two hashes within k < b bits must collide on at least one band
(pigeonhole), so candidates come from b equi-joins on band values and
only candidates pay the exact popcount check. No all-pairs comparison
anywhere.

Decode happens once per image inside ``mapInPandas`` (Arrow-batched,
any of the stdlib codecs: PNG/BMP/GIF/JPEG); everything after the hash
column exists is pure Catalyst — the image bytes never travel through
the join.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

_DHASH_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("dhash", LongType(), True),
        StructField("decode_error", StringType(), True),
    ]
)


def dhash_bits(arr: np.ndarray, hash_w: int = 8, hash_h: int = 8) -> int:
    """uint8 (h, w[, c]) image → dHash as an int of hash_w*hash_h bits.
    Luma via the BT.601 weights the codecs' YCbCr conversion uses, in
    integers (299R + 587G + 114B; grayscale scaled by 1000), so an RGB
    image with equal channels hashes exactly like its grayscale image; the
    downscale is area-averaging over an even grid (deterministic, no
    resampling library), and neighbouring cells compare by exact integer
    cross-multiplication of their sums and sizes."""
    if arr.ndim == 3:
        a = arr[:, :, :3].astype(np.int64)
        luma = 299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]
    else:
        luma = arr.astype(np.int64) * 1000
    h, w = luma.shape
    gw, gh = hash_w + 1, hash_h
    ys = (np.arange(gh + 1) * h) // gh
    xs = (np.arange(gw + 1) * w) // gw
    sums = [[0] * gw for _ in range(gh)]
    sizes = [[0] * gw for _ in range(gh)]
    for i in range(gh):
        for j in range(gw):
            cell = luma[ys[i] : max(ys[i + 1], ys[i] + 1), xs[j] : max(xs[j + 1], xs[j] + 1)]
            sums[i][j], sizes[i][j] = int(cell.sum()), cell.size
    # mean(right) > mean(left), in Python ints: no float rounding, no overflow
    bits = [
        sums[i][j + 1] * sizes[i][j] > sums[i][j] * sizes[i][j + 1]
        for i in range(gh)
        for j in range(gw - 1)
    ]
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    # keep the sign bit clear for BIGINT friendliness (63 usable bits is
    # fine: dHash default is 64 comparisons, drop the last)
    return out & 0x7FFFFFFFFFFFFFFF


def image_dhash(df: DataFrame, on_error: str = "null") -> DataFrame:
    """(media_id, content) → (media_id, dhash, decode_error) via one
    Arrow-batched decode pass over the stdlib codecs. Corrupt payloads
    quarantine per row by default (crawl posture — see
    extract_media_features)."""
    if on_error not in ("raise", "null"):
        raise ValueError("on_error must be 'raise' or 'null'")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from valentinus_spark.imaging import (
            decode_bmp,
            decode_gif,
            decode_png,
            is_bmp,
            is_gif,
            is_png,
        )
        from valentinus_spark.jpeg import decode_jpeg, is_jpeg

        def decode(payload: bytes) -> np.ndarray:
            if is_png(payload):
                return decode_png(payload)
            if is_bmp(payload):
                return decode_bmp(payload)
            if is_gif(payload):
                return decode_gif(payload)
            if is_jpeg(payload):
                return decode_jpeg(payload)
            raise NotImplementedError("unsupported image container for dhash")

        for pdf in batches:
            hashes, errs = [], []
            for payload in pdf["content"]:
                try:
                    hashes.append(dhash_bits(decode(payload)))
                    errs.append(None)
                except Exception as exc:
                    if on_error == "raise":
                        raise
                    hashes.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}"[:200])
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "dhash": hashes, "decode_error": errs}
            )

    return df.select("media_id", "content").mapInPandas(run, schema=_DHASH_SCHEMA)


def dhash_near_pairs(
    hashed: DataFrame,
    max_bits: int = 6,
    n_bands: int = 8,
    id_col: str = "media_id",
    hash_col: str = "dhash",
) -> DataFrame:
    """Images whose dHashes differ in ≤ ``max_bits`` bits, via banded
    candidate generation: with ``n_bands`` bands of ~8 bits each, any
    pair within ``max_bits < n_bands`` bits shares at least one intact
    band (pigeonhole), so candidates come from ``n_bands`` self
    equi-joins on (band index, band value) — never an all-pairs scan —
    then the exact XOR popcount verifies. Returns
    ``(id_a, id_b, hamming)``."""
    if not (0 < max_bits < n_bands):
        raise ValueError("need 0 < max_bits < n_bands (pigeonhole bound)")
    width = 64 // n_bands
    src = hashed.where(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("_mid"), F.col(hash_col).alias("_h")
    )
    banded = src.select(
        "_mid",
        "_h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("_h"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("_b"),
    ).select("_mid", "_h", F.col("_b.band").alias("_band"), F.col("_b.val").alias("_val"))
    a = banded.select(
        F.col("_band"), F.col("_val"), F.col("_mid").alias("id_a"), F.col("_h").alias("_ha")
    )
    b = banded.select(
        F.col("_band"), F.col("_val"), F.col("_mid").alias("id_b"), F.col("_h").alias("_hb")
    )
    return (
        a.join(b, ["_band", "_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.col("_ha"), F.col("_hb"))
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))))
        .where(F.col("hamming") <= max_bits)
        .select("id_a", "id_b", "hamming")
    )


_AHASH_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("ahash", LongType(), True),
        StructField("decode_error", StringType(), True),
    ]
)


def audio_fingerprint_bits(samples: np.ndarray, sample_rate: int) -> int:
    """Chromaprint-style coarse fingerprint: 16 time windows × 4
    frequency bands; bit = this window's band energy exceeds the
    previous window's (the same neighbor-difference trick as dHash, in
    the time-frequency plane). Robust to gain changes (comparisons, not
    levels) and to re-encoding; 63 usable bits packed into a BIGINT."""
    n_win, n_bands = 16, 4
    if samples.size < n_win * 2:
        samples = np.pad(samples.astype(np.float64), (0, n_win * 2 - samples.size))
    windows = np.array_split(samples.astype(np.float64), n_win)
    energies = np.zeros((n_win, n_bands))
    nyq = sample_rate / 2.0
    edges = np.array([0.0, 0.1, 0.25, 0.5, 1.0]) * nyq
    for i, w in enumerate(windows):
        mag = np.abs(np.fft.rfft(w)) ** 2
        freqs = np.fft.rfftfreq(w.size, d=1.0 / sample_rate)
        for b in range(n_bands):
            sel = (freqs >= edges[b]) & (freqs < edges[b + 1])
            energies[i, b] = mag[sel].sum() if sel.any() else 0.0
    bits = (energies[1:] > energies[:-1]).reshape(-1)  # 15*4 = 60 bits
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out & 0x7FFFFFFFFFFFFFFF


def audio_fingerprint(df: DataFrame, on_error: str = "null") -> DataFrame:
    """(media_id, content) → (media_id, ahash, decode_error): one
    Arrow-batched WAV decode + fingerprint pass. Near-dup pairs come
    from :func:`dhash_near_pairs` on the ``ahash`` column — the banded
    Hamming join is hash-agnostic."""
    if on_error not in ("raise", "null"):
        raise ValueError("on_error must be 'raise' or 'null'")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from valentinus_spark.audio import decode_wav, is_wav

        for pdf in batches:
            hashes, errs = [], []
            for payload in pdf["content"]:
                try:
                    if not is_wav(payload):
                        raise NotImplementedError(
                            "unsupported audio container for fingerprint"
                        )
                    samples, rate = decode_wav(payload)
                    hashes.append(audio_fingerprint_bits(samples, rate))
                    errs.append(None)
                except Exception as exc:
                    if on_error == "raise":
                        raise
                    hashes.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}"[:200])
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "ahash": hashes, "decode_error": errs}
            )

    return df.select("media_id", "content").mapInPandas(run, schema=_AHASH_SCHEMA)


_PHASH_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("phash", LongType(), True),
        StructField("decode_error", StringType(), True),
    ]
)


def phash_bits(arr: np.ndarray, hash_size: int = 8, img_size: int = 32) -> int:
    """uint8 (h, w[, c]) image → pHash (DCT perceptual hash) as an int
    of hash_size²−1 bits. Luma (BT.601) → ``img_size``² area-average
    downscale (the dhash grid, deterministic) → 2-D DCT-II by explicit
    basis matmul → keep the top-left hash_size×hash_size LOW
    frequencies, drop the DC term, threshold at their exact median.
    Dropping DC makes the hash invariant to GLOBAL brightness shifts
    by construction (dHash is only locally so) — the two hashes fail
    differently, which is why the panel carries both. Coefficients are
    rounded to 6 dp before the median compare so a last-ulp BLAS
    difference can never flip a bit."""
    if arr.ndim == 3:
        a = arr[:, :, :3].astype(np.float64)
        luma = 0.299 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.114 * a[:, :, 2]
    else:
        luma = arr.astype(np.float64)
    h, w = luma.shape
    n = img_size
    ys = (np.arange(n + 1) * h) // n
    xs = (np.arange(n + 1) * w) // n
    grid = np.empty((n, n))
    for i in range(n):
        for j in range(n):
            cell = luma[
                ys[i] : max(ys[i + 1], ys[i] + 1),
                xs[j] : max(xs[j + 1], xs[j] + 1),
            ]
            grid[i, j] = cell.mean()
    k = np.arange(n).reshape(-1, 1)
    m = np.arange(n).reshape(1, -1)
    basis = np.cos(np.pi * (m + 0.5) * k / n)  # DCT-II, unnormalized
    coef = basis @ grid @ basis.T
    low = coef[:hash_size, :hash_size].reshape(-1)[1:]  # drop DC
    low = np.round(low, 6)
    med = float(np.median(low))
    out = 0
    for v in low:
        out = (out << 1) | int(v > med)
    return out & 0x7FFFFFFFFFFFFFFF


def image_phash(df: DataFrame, on_error: str = "null") -> DataFrame:
    """(media_id, content) → (media_id, phash, decode_error) — the
    DCT-perceptual twin of :func:`image_dhash`, same Arrow-batched
    single decode pass over the stdlib codecs, same quarantine
    posture. Feed the result to :func:`dhash_near_pairs` with
    ``hash_col='phash'`` (the banded Hamming join is hash-agnostic)."""
    if on_error not in ("raise", "null"):
        raise ValueError("on_error must be 'raise' or 'null'")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from valentinus_spark.imaging import (
            decode_bmp,
            decode_gif,
            decode_png,
            is_bmp,
            is_gif,
            is_png,
        )
        from valentinus_spark.jpeg import decode_jpeg, is_jpeg

        def decode(payload: bytes) -> np.ndarray:
            if is_png(payload):
                return decode_png(payload)
            if is_bmp(payload):
                return decode_bmp(payload)
            if is_gif(payload):
                return decode_gif(payload)
            if is_jpeg(payload):
                return decode_jpeg(payload)
            raise NotImplementedError("unsupported image container for phash")

        for pdf in batches:
            hashes, errs = [], []
            for payload in pdf["content"]:
                try:
                    hashes.append(phash_bits(decode(payload)))
                    errs.append(None)
                except Exception as exc:
                    if on_error == "raise":
                        raise
                    hashes.append(None)
                    errs.append(f"{type(exc).__name__}: {exc}"[:200])
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "phash": hashes, "decode_error": errs}
            )

    return df.select("media_id", "content").mapInPandas(run, schema=_PHASH_SCHEMA)
