"""Acoustic near-duplicate detection: the audio-axis analog of MinHash+LSH.

Detects re-encoded / truncated / re-recorded copies of the same audio
content — the dedup step an audio training corpus needs that text MinHash
(operators/dedup.py) cannot provide, because byte-level shingles see two
encodings of the same signal as unrelated.

Fingerprint kernel (integer, deterministic — the oracle-parity discipline
of functions/audio.py): decode to int16 PCM via the SAME codec registry as
the QC pipeline (functions/audio.CODECS, including registered real WAV
decode), then per non-overlapping 512-sample frame compute
  - quantized log-energy  q = bit_length(mean |x|)         (0..15)
  - zero-crossing count   z = #(sign flips within the frame) (0..511)
and form the frame symbol s = q * 1024 + z. ZCR carries the pitch
information that makes pure tones distinguishable (a constant-amplitude
sine has a FLAT energy envelope — energy-only fingerprints degenerate);
energy separates silence/levels. Symbols are shingled (w=4 consecutive
frames, base-2^14 packing — exact in int64) and min-hashed per band
(16 bands, LCG-derived odd multipliers mod 2^31, shingle pre-reduced mod
2^31 so the product stays in int64). Clips shorter than w frames (< 2048
samples) or undecodable return a NULL signature and never reach the join.

Pair screen (pure JVM): posexplode the 16-value signature to (band, value)
rows, group by (band, value) bucket, expand each bucket's sorted id list
into its unordered pairs with higher-order array functions (each pair
emitted once per bucket), then count matched bands per pair and keep pairs
with >= min_bands matches. E[matched bands] = 16 * J(shingle sets), so
min_bands=12 targets J >~ 0.75 — exact copies match 16/16, a
75%-truncation ~12/16, same-pitch re-recordings (different noise) land
well below. The bucket-collect form (not a self-equi-join) scans the
fingerprint frame ONCE — a self-join's two branches would each re-run the
Arrow decode stage (and concurrent branch scheduling defeats a cache).
Scale shape: a bucket is an acoustic near-dup group (plus ~n²/2^31
random hash collisions per band — negligible), so per-bucket state is
bounded by true duplicate-group size and pair output is df-squared-
weighted WITHIN those groups only — the inherent LSH property, exactly as
documented at dedup.minhash_dedup_pairs (which makes the same per-bucket
fan-out via its band join).

Boundary contract: `bytes` crosses JVM->Python once, zero-copy, inside ONE
ArrowEvalPython stage; only an array<long> signature returns (no binary
ever travels Python->JVM — the pipeline.bytes_trimmed_col invariant).

Reference lineage: the contaminant-screen role of bowtie2/BMTagger
(run.py:334-450) — flag reads matching an index of known sequence — with
the index replaced by the corpus's own fingerprints (self-dedup), and the
reference's first-occurrence dedup policy (utilities.py:63-106) supplying
the keep-lowest-id convention downstream.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.audio import clip_udf

FP_FRAME = 512          # samples per analysis frame
FP_SHINGLE_W = 4        # frames per shingle
FP_SYMBOL_BASE = 1 << 14  # symbol packing base (symbol = q*1024 + z < 2^14)
FP_N_BANDS = 16
FP_MOD = 1 << 31
FP_SEED = 9176          # band_coeffs LCG seed


def band_coeffs() -> list[tuple[int, int]]:
    """(A, C) per band from a fixed LCG; A forced odd so x -> A*x + C is a
    bijection mod 2^31. Inlined in the pure-python test replica the same
    way similarity.int_planes is inlined in its oracle."""
    out, x = [], FP_SEED
    for _ in range(FP_N_BANDS):
        x = (x * 1103515245 + 12345) % FP_MOD
        a = (2 * x + 1) % FP_MOD
        x = (x * 1103515245 + 12345) % FP_MOD
        out.append((a, x))
    return out


def fingerprint_samples(x: np.ndarray) -> "list[int] | None":
    """int16 samples -> FP_N_BANDS minhash signature (None if < w frames).
    Shared by the Arrow UDF below and callers embedding the kernel; the
    test replica reimplements this in pure python from the docstring."""
    n_frames = len(x) // FP_FRAME
    if n_frames < FP_SHINGLE_W:
        return None
    fx = x[: n_frames * FP_FRAME].reshape(n_frames, FP_FRAME)
    e = np.abs(fx.astype(np.int64)).sum(axis=1)
    # bit_length via searchsorted over powers of two — exact (no float log)
    q = np.searchsorted(
        1 << np.arange(16, dtype=np.int64), e // FP_FRAME, side="right"
    ).astype(np.int64)
    neg = fx < 0
    z = np.count_nonzero(neg[:, 1:] != neg[:, :-1], axis=1).astype(np.int64)
    sym = q * 1024 + z
    sh = np.zeros(n_frames - FP_SHINGLE_W + 1, dtype=np.int64)
    for k in range(FP_SHINGLE_W):
        sh = sh * FP_SYMBOL_BASE + sym[k : k + len(sh)]
    shr = np.unique(sh % FP_MOD)
    return [int(((a * shr + c) % FP_MOD).min()) for a, c in band_coeffs()]


_audio_fp_udf = clip_udf(T.ArrayType(T.LongType()), fingerprint_samples)


def audio_fingerprint(df: DataFrame) -> DataFrame:
    """(id, sig array<long> | null) — one ArrowEvalPython stage."""
    return df.select(F.col("clip_id").alias("id"), _audio_fp_udf().alias("sig"))


def audio_dup_pairs(clips: DataFrame, min_bands: int = 12) -> DataFrame:
    """(id_a, id_b, n_match) for clip pairs whose fingerprints agree in >=
    min_bands of the 16 bands (id_a < id_b). See module docstring for the
    kernel and the scale argument."""
    ex = audio_fingerprint(clips).where(F.col("sig").isNotNull()).select(
        "id", F.posexplode("sig").alias("band", "v")
    )
    buckets = (
        ex.groupBy("band", "v")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.expr(
                    "transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "y -> struct(x as id_a, y as id_b)))"
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count("*").cast("int").alias("n_match"))
        .where(F.col("n_match") >= min_bands)
    )


def audio_band_table(clips: DataFrame) -> DataFrame:
    """Persistable (band, v) index of a clip corpus — the audio analog of
    dedup.corpus_band_table (the artifact a production incremental audio
    dedup pipeline stores as a table and probes per ingest batch). One
    Arrow decode stage, one distinct shuffle."""
    return (
        audio_fingerprint(clips)
        .where(F.col("sig").isNotNull())
        .select(F.posexplode("sig").alias("band", "v"))
        .distinct()
    )


def incremental_audio_screen(
    new_clips: DataFrame,
    band_table: DataFrame,
    min_bands: int = 1,
) -> "tuple[DataFrame, DataFrame]":
    """Screen an ingest batch against a stored corpus band index:
    (survivors, flagged) — the audio analog of
    dedup.incremental_band_screen, same production contract (only the NEW
    batch is fingerprinted; the corpus is represented by its index, never
    re-decoded or reshuffled). min_bands=1 is the recall-oriented screen
    (any shared band flags — E[matched] = 16*J, so J >= ~0.06 content
    overlaps are surfaced and random 2^-31 collisions are the only false
    positives); raise it toward 12-16 for a precision screen on exact
    re-uploads. Flagged ids are persist_tracked: they feed BOTH returned
    frames, and without the pin each action would re-run the batch decode
    (the caching.py contract — released when the next tracked query
    builds)."""
    from .caching import persist_tracked

    ex = (
        audio_fingerprint(new_clips)
        .where(F.col("sig").isNotNull())
        .select("id", F.posexplode("sig").alias("band", "v"))
    )
    flagged_ids = persist_tracked(
        ex.join(band_table, ["band", "v"], "left_semi")
        .groupBy("id")
        .agg(F.count("*").alias("__nb"))
        .where(F.col("__nb") >= min_bands)
        .select(F.col("id").alias("clip_id"))
    )
    flagged = new_clips.join(F.broadcast(flagged_ids), "clip_id", "left_semi")
    survivors = new_clips.join(F.broadcast(flagged_ids), "clip_id", "left_anti")
    return survivors, flagged
