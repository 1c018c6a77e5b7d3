"""Log-mel filterbank features: the standard ASR training front-end.

The sixth audio-axis operator (QC trim -> acoustic near-dup -> VAD ->
canonical prep -> pitch/SNR screens -> THIS): every speech model since
the GMM era trains on log-mel frames, so a corpus engine that ships
training shards (sources/webdataset.py) needs to compute them at corpus
scale. The reference's analog is FastQC's per-read summary statistics —
a fixed per-item feature panel computed in one pass (SURVEY §2 A-family);
here the panel is the spectral front-end itself.

Kernel (constants in rules.py, the single source of truth; the pytest
replica re-derives everything from a DIRECT DFT double sum and explicit
triangle filters):
- decode to int16 via the shared codec registry (raw amplitude scale —
  a global gain shifts every log value by a constant, irrelevant to
  normalized training features and tested as such),
- preemphasis y[i] = x[i] - 0.97*x[i-1] (y[0] = 0.03*x[0]),
- FULL 25 ms frames at a 10 ms hop (short tails drop — the clip_windows
  rule), Hamming window, power spectrum over the next-pow2 FFT,
- FBANK_N_MELS triangular filters, continuous-frequency triangles on
  the HTK mel scale from FBANK_FMIN_HZ to sr/2, evaluated at FFT bin
  centers,
- natural log with the FBANK_LOG_FLOOR energy floor.

Engine shape: ONE ArrowEvalPython stage per scan partition (the
VAD/resample nondeterministic pin), rfft vectorized across all frames
of a clip, mel projection one matmul. The udf returns BOTH the
per-clip scalar witness panel (driver query `fbank_stats` — rows-only,
binary decode basis) and the frame matrix as array<struct>; callers
explode the frames JVM-side (`fbank_frames`) so the plan stays
decode-once with zero shuffles either way.

Witness integers use explicit half-up milli rounding
(floor(v*1000 + 0.5)) — np.round is half-even and Spark round() is
HALF_UP, the CLAUDE.md cross-engine trap; an in-repo explicit rule
keeps the pytest replica bit-identical.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import rules
from ..functions.audio import clip_udf

__all__ = ["clip_frames", "fbank_stats", "fbank_frames", "logmel_of", "mel_filterbank"]


def _hz_to_mel(f):
    return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64) / 700.0)


def _mel_to_hz(m):
    return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0) - 1.0)


def mel_filterbank(sr: int, nfft: int, n_mels: int, fmin: float) -> np.ndarray:
    """(n_mels, nfft//2 + 1) triangle weights at the FFT bin centers."""
    edges_mel = np.linspace(_hz_to_mel(fmin), _hz_to_mel(sr / 2.0), n_mels + 2)
    edges = _mel_to_hz(edges_mel)                      # (n_mels + 2,) Hz
    bins = np.arange(nfft // 2 + 1, dtype=np.float64) * sr / nfft
    fl, fc, fr = edges[:-2, None], edges[1:-1, None], edges[2:, None]
    up = (bins[None, :] - fl) / np.maximum(fc - fl, 1e-12)
    down = (fr - bins[None, :]) / np.maximum(fr - fc, 1e-12)
    return np.maximum(0.0, np.minimum(up, down))


def logmel_of(x: np.ndarray, sr: int) -> np.ndarray:
    """(n_frames, FBANK_N_MELS) float64 log-mel matrix; (0, n_mels) when
    the clip is shorter than one window."""
    win = sr * rules.FBANK_WIN_MS // 1000
    hop = sr * rules.FBANK_HOP_MS // 1000
    n = len(x)
    if win < 2 or hop < 1 or n < win:
        return np.zeros((0, rules.FBANK_N_MELS), dtype=np.float64)
    y = x.astype(np.float64)
    y = y - (rules.FBANK_PREEMPH_MILLI / 1000.0) * np.concatenate([[0.0], y[:-1]])
    n_frames = (n - win) // hop + 1
    idx = np.arange(win)[None, :] + hop * np.arange(n_frames)[:, None]
    frames = y[idx]
    ham = 0.54 - 0.46 * np.cos(2.0 * np.pi * np.arange(win) / (win - 1))
    nfft = 1 << int(np.ceil(np.log2(win)))
    spec = np.fft.rfft(frames * ham[None, :], n=nfft, axis=1)
    power = spec.real**2 + spec.imag**2
    fb = mel_filterbank(sr, nfft, rules.FBANK_N_MELS, float(rules.FBANK_FMIN_HZ))
    return np.log(np.maximum(power @ fb.T, rules.FBANK_LOG_FLOOR))


def _milli(v: float) -> int:
    return int(np.floor(v * 1000.0 + 0.5))            # explicit half-up


_FB_T = T.StructType(
    [
        T.StructField(
            "stats",
            T.StructType(
                [
                    T.StructField("n_frames", T.LongType()),
                    T.StructField("n_mels", T.LongType()),
                    T.StructField("dominant_band", T.LongType()),
                    T.StructField("logmel_mean_milli", T.LongType()),
                    T.StructField("logmel_std_milli", T.LongType()),
                ]
            ),
        ),
        T.StructField(
            "frames",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("frame_idx", T.IntegerType()),
                        T.StructField("mel", T.ArrayType(T.FloatType())),
                    ]
                )
            ),
        ),
    ]
)


def _make_fbank_udf(with_frames: bool):
    def fbank_of(x: np.ndarray, sr: int) -> tuple:
        lm = logmel_of(x, sr)
        nf = int(lm.shape[0])
        if nf:
            dom = int(np.argmax(lm.mean(axis=0)))
            mean = float(lm.mean())
            std = float(lm.std())
        else:
            dom, mean, std = 0, 0.0, 0.0
        frames = (
            [(int(j), lm[j].astype(np.float32).tolist()) for j in range(nf)]
            if with_frames
            else []
        )
        return (nf, int(rules.FBANK_N_MELS), dom, _milli(mean), _milli(std)), frames

    return clip_udf(_FB_T, fbank_of, rate=True)


_STATS_UDF = _make_fbank_udf(with_frames=False)
_FRAMES_UDF = _make_fbank_udf(with_frames=True)


def fbank_stats(clips: DataFrame) -> DataFrame:
    """(clip_id, n_frames, n_mels, dominant_band, logmel_mean_milli,
    logmel_std_milli) — one row per decodable clip (clips shorter than a
    window report n_frames = 0). ONE Arrow stage, zero shuffles; the
    frame matrices never cross back to the JVM on this path."""
    e = clips.select("clip_id", _STATS_UDF().alias("f")).where(
        F.col("f").isNotNull()
    )
    return e.select("clip_id", "f.stats.*")


def clip_frames(clips: DataFrame) -> DataFrame:
    """(clip_id, frames array<struct<frame_idx, mel>>) for every clip with
    at least one full frame — the frames schema the feature family
    (mfcc, cmvn, specaugment) composes over. One Arrow stage."""
    e = clips.select("clip_id", _FRAMES_UDF().alias("f")).where(
        F.col("f").isNotNull()
    )
    return e.select("clip_id", F.col("f.frames").alias("frames")).where(
        F.size("frames") > 0
    )


def fbank_frames(clips: DataFrame) -> DataFrame:
    """(clip_id, frame_idx, mel array<float>) — the training-feature
    surface, one row per 10 ms frame. Same single Arrow stage; the
    fan-out is a JVM posexplode under whole-stage codegen (clips with
    no full frame emit nothing)."""
    e = clips.select("clip_id", _FRAMES_UDF().alias("f")).where(
        F.col("f").isNotNull()
    )
    return e.select("clip_id", F.explode(F.col("f.frames")).alias("fr")).select(
        "clip_id",
        F.col("fr.frame_idx").alias("frame_idx"),
        F.col("fr.mel").alias("mel"),
    )
