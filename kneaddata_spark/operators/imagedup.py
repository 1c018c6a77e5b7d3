"""Perceptual image AND video near-dup detection: dHash + banded Hamming.

Completes the dedup x modality matrix (text MinHash/SimHash/Jaccard,
audio acoustic MinHash — operators/audiodup.py — THIS for images and,
via a per-bit majority vote over frame dhashes, for video too):
the classic difference hash — integer grayscale, nearest-neighbor 9x8
downsample, horizontal gradient signs — is stable under re-encoding
(the same picture as BMP vs PNG vs JPEG), mild resizing and brightness
shifts, exactly the transforms a web-scraped image corpus repeats.
Reference analog: first-occurrence duplicate collapse (SURVEY S6,
fastq.py first_occurrence), lifted to perceptual image identity.

Shape at 100 TB: ONE Arrow stage decodes payloads through the
multimodal.IMAGE_DECODERS registry and emits (id, 64-bit dhash) — image
bytes never leave the scan stage and never reshuffle. Candidates come
from pigeonhole band buckets (the SimHash shape, dedup.py simhash):
Hamming(a, b) <= max_hamming with n_bands > max_hamming guarantees at
least one identical 16-bit band, so pair expansion is strictly
in-bucket; the exact popcount verify (bit_count, JVM codegen) runs only
on candidates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_BANDS = 4  # 4 x 16-bit bands: pigeonhole-complete for max_hamming <= 3


def dhash64(px: np.ndarray) -> int:
    """64-bit difference hash of an (H, W, 3) uint8 RGB array. Integer
    luma ((299R + 587G + 114B) // 1000), nearest-neighbor sample onto a
    9x8 grid, bit (row*8 + col) set iff luma[row, col+1] > luma[row, col].
    Returned as a SIGNED int64 (bit 63 wraps negative) so it stores in a
    Spark long; band extraction uses shiftrightunsigned."""
    p = px.astype(np.int64)
    luma = (299 * p[:, :, 0] + 587 * p[:, :, 1] + 114 * p[:, :, 2]) // 1000
    h, w = luma.shape
    g = luma[(np.arange(8) * h) // 8][:, (np.arange(9) * w) // 9]
    bits = (g[:, 1:] > g[:, :-1]).ravel()
    out = 0
    for k in range(64):
        if bits[k]:
            out |= 1 << k
    return out - (1 << 64) if out >= (1 << 63) else out


def image_dhash(df: DataFrame, strict: bool = False) -> DataFrame:
    """(id, dhash) per image — the one Arrow decode stage. Undecodable
    payloads yield NULL dhash (or raise under strict=True, the marked
    missing-kernel mode, like image_feature_stage)."""

    def stage(it):
        from .. import multimodal

        for pdf in it:
            ids, hs = [], []
            for mid, raw, mime in zip(pdf["media_id"], pdf["bytes"], pdf["mime"]):
                decode = multimodal.IMAGE_DECODERS.get(mime)
                px = decode(bytes(raw)) if (decode and raw is not None) else None
                if px is None:
                    if strict:
                        raise ValueError(f"undecodable image {mid} ({mime})")
                    ids.append(mid)
                    hs.append(None)
                    continue
                ids.append(mid)
                hs.append(dhash64(px))
            yield pd.DataFrame({"media_id": ids, "dhash": pd.array(hs, dtype="Int64")})

    return df.select("media_id", "bytes", "mime").mapInPandas(
        stage, schema="media_id string, dhash long"
    )


def banded_hamming_pairs(
    h: DataFrame, id_col: str, hash_col: str, max_hamming: int
) -> DataFrame:
    """(id_a < id_b, hamming) for every pair of 64-bit signatures within
    max_hamming — the shared scale core of the image AND video dup paths:
    pigeonhole 16-bit band buckets for candidates (only (id, hash) rows
    ever move), exact JVM bit_count verify in-bucket."""
    if max_hamming >= N_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the {N_BANDS}-band pigeonhole"
        )
    # r6 session 3: the band self-join's two sides otherwise each
    # re-evaluate `h` — which embeds the Python image/video DECODE stage
    # (guide §7.2 duplicated subtrees; the simhash/minhash persist
    # precedent). |media| x (id, hash) rows, persist_tracked discipline.
    from .caching import persist_tracked

    h = persist_tracked(h)
    bands = h.select(
        id_col,
        hash_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(
                            f"shiftrightunsigned({hash_col}, {16 * i}) & 65535"
                        ).alias("chunk"),
                    )
                    for i in range(N_BANDS)
                ]
            )
        ).alias("bc"),
    ).select(id_col, hash_col, "bc.band", "bc.chunk")
    a = bands.select(
        F.col(id_col).alias("id_a"), F.col(hash_col).alias("h_a"), "band", "chunk"
    )
    b = bands.select(
        F.col(id_col).alias("id_b"), F.col(hash_col).alias("h_b"), "band", "chunk"
    )
    cand = (
        a.join(b, ["band", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        F.expr("bit_count(h_a ^ h_b)").cast("long").alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def image_dup_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs (id_a < id_b, Hamming(dhash) <=
    max_hamming); see banded_hamming_pairs for the candidate shape."""
    if max_hamming >= N_BANDS:  # fail before any decode work is planned
        raise ValueError(
            f"max_hamming={max_hamming} breaks the {N_BANDS}-band pigeonhole"
        )
    h = image_dhash(df).where(F.col("dhash").isNotNull())
    return banded_hamming_pairs(h, "media_id", "dhash", max_hamming)


def video_dhash64(frames: "list[np.ndarray]") -> int:
    """64-bit video signature: per-frame dhash64, then a MAJORITY vote per
    bit (ties -> 0) — robust to a minority of changed, inserted or dropped
    frames (re-encodes, watermark intros), the video analog of the
    audio-fingerprint band consensus. Signed int64 like dhash64."""
    hs = [dhash64(f) for f in frames]
    out = 0
    for k in range(64):
        ones = sum((x >> k) & 1 for x in hs)
        if 2 * ones > len(hs):
            out |= 1 << k
    return out - (1 << 64) if out >= (1 << 63) else out


def video_dhash(df: DataFrame, strict: bool = False) -> DataFrame:
    """(id, vhash) per video — ONE Arrow stage through the
    multimodal.VIDEO_DECODERS registry, hashing every frame. Undecodable
    payloads yield NULL (or raise under strict=True)."""

    def stage(it):
        from .. import multimodal

        for pdf in it:
            ids, hs = [], []
            for mid, raw, mime in zip(pdf["media_id"], pdf["bytes"], pdf["mime"]):
                decode = multimodal.VIDEO_DECODERS.get(mime)
                frames = decode(bytes(raw)) if (decode and raw is not None) else None
                if not frames:
                    if strict:
                        raise ValueError(f"undecodable video {mid} ({mime})")
                    ids.append(mid)
                    hs.append(None)
                    continue
                ids.append(mid)
                hs.append(video_dhash64(frames))
            yield pd.DataFrame({"media_id": ids, "vhash": pd.array(hs, dtype="Int64")})

    return df.select("media_id", "bytes", "mime").mapInPandas(
        stage, schema="media_id string, vhash long"
    )


def video_dup_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate video pairs (id_a < id_b, Hamming(majority-dhash)
    <= max_hamming) — same banded candidate shape as images; video bytes
    never leave the one Arrow decode stage."""
    if max_hamming >= N_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the {N_BANDS}-band pigeonhole"
        )
    h = video_dhash(df).where(F.col("vhash").isNotNull())
    return banded_hamming_pairs(h, "media_id", "vhash", max_hamming)


def image_band_index(df: DataFrame) -> DataFrame:
    """(band, chunk, id, dhash) — the stored corpus-side index an ingest
    pipeline maintains (write it bucketed/partitioned by band, chunk):
    each image contributes N_BANDS rows; the corpus is decoded ONCE when
    the index is built and never again."""
    h = image_dhash(df).where(F.col("dhash").isNotNull())
    return h.select(
        "media_id",
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(
                            f"shiftrightunsigned(dhash, {16 * i}) & 65535"
                        ).alias("chunk"),
                    )
                    for i in range(N_BANDS)
                ]
            )
        ).alias("bc"),
    ).select("bc.band", "bc.chunk", F.col("media_id").alias("id"), "dhash")


def incremental_image_dedup(
    new_images: DataFrame,
    band_index: DataFrame,
    max_hamming: int = 3,
) -> "tuple[DataFrame, DataFrame]":
    """Screen an ingest batch of images against a stored corpus band
    index: (survivors, flagged) — the image analog of
    dedup.incremental_band_screen / audiodup.incremental_audio_screen,
    same production contract: only the NEW batch is decoded and hashed;
    the corpus is represented by its index (image_band_index), never
    re-decoded or reshuffled. Unlike the probabilistic audio screen, the
    pigeonhole banding is EXACT here: an in-bucket candidate is flagged
    iff its full-hash Hamming distance <= max_hamming, so the screen has
    zero false positives and zero false negatives w.r.t. the dhash
    metric. Flagged ids are persist_tracked (both returned frames read
    them; the pin stops a second batch decode — the caching.py
    contract)."""
    from .caching import persist_tracked

    if max_hamming >= N_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the {N_BANDS}-band pigeonhole"
        )
    probe = image_band_index(new_images)
    flagged_ids = persist_tracked(
        probe.join(
            band_index.select(
                "band", "chunk", F.col("dhash").alias("__seen_h")
            ),
            ["band", "chunk"],
        )
        .where(F.expr(f"bit_count(dhash ^ __seen_h) <= {max_hamming}"))
        .select(F.col("id").alias("media_id"))
        .distinct()
    )
    flagged = new_images.join(F.broadcast(flagged_ids), "media_id", "left_semi")
    survivors = new_images.join(F.broadcast(flagged_ids), "media_id", "left_anti")
    return survivors, flagged
