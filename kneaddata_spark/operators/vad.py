"""Voice-activity segmentation: split clips into speech segments.

The third audio-axis operator (after QC trim and acoustic near-dup): an ASR
training pipeline does not feed 40-second clips to the model — it cuts them
into speech segments at silence boundaries first. This is the segmentation
the reference's SLIDINGWINDOW trim (run.py trimmomatic stage; see
functions/audio.py for the parity lineage) almost is — trim finds the OUTER
loud envelope, VAD finds EVERY internal (speech, silence) alternation.

Kernel (integer-exact; constants in rules.py so engine and replica share
one source of truth): decode to int16 PCM via the shared codec registry,
cut into non-overlapping frames of ``sr * VAD_FRAME_MS // 1000`` samples,
mark a frame SPEECH when ``sum(|x|) // frame_len >= VAD_ENERGY_MIN``
(mean-abs analog of the -40 dBFS trim floor). Runs of speech frames become
segments; silence gaps of <= VAD_MAX_GAP frames merge into the surrounding
speech (hangover — a plosive pause is not a boundary); merged segments
shorter than VAD_MIN_FRAMES are noise ticks and are dropped. The gap merge
runs BEFORE the min-length drop (standard VAD order: a long utterance
chopped by micro-pauses must survive as one segment, not die as many short
ones).

Boundary contract: bytes crosses JVM->Python once inside ONE
ArrowEvalPython stage and only an array<struct<s,e>> of FRAME indices
returns; millisecond conversion happens JVM-side from the sr column
(start_ms = s * frame_len * 1000 // sr, integer, both engines exact) —
the same asymmetric-boundary shape as audiodup and the QC pipeline.

Scale shape: embarrassingly parallel — zero shuffles; the posexplode is a
Generate over each clip's own (bounded: dur/frame) segment list. Output is
segment ROWS keyed by (clip_id, seg_idx), the shape downstream packing /
training-window ops consume.

Reference lineage: the status taxonomy of the trim stage (SLIDINGWINDOW,
trimmomatic invocation run.py:334-380) extended from one (start, end) pair
per read to the full alternation list.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import rules
from ..functions.audio import clip_udf


def segment_samples(x: np.ndarray, sr: int) -> list[tuple[int, int]]:
    """int16 samples -> [(start_frame, end_frame_exclusive), ...].
    Pure function of (x, sr) and the rules constants; the pytest replica
    re-derives this from the rules docstring over oracle.decode_pcm."""
    frame_len = sr * rules.VAD_FRAME_MS // 1000
    if frame_len <= 0:
        return []
    n_frames = len(x) // frame_len
    if n_frames == 0:
        return []
    fx = x[: n_frames * frame_len].reshape(n_frames, frame_len)
    energy = np.abs(fx.astype(np.int64)).sum(axis=1) // frame_len
    speech = energy >= rules.VAD_ENERGY_MIN
    # raw runs of consecutive speech frames
    edges = np.flatnonzero(np.diff(np.concatenate(([0], speech.view(np.int8), [0]))))
    runs = list(zip(edges[0::2], edges[1::2]))  # [s, e) pairs
    # hangover merge BEFORE min-length drop
    merged: list[list[int]] = []
    for s, e in runs:
        if merged and s - merged[-1][1] <= rules.VAD_MAX_GAP:
            merged[-1][1] = e
        else:
            merged.append([int(s), int(e)])
    return [(s, e) for s, e in merged if e - s >= rules.VAD_MIN_FRAMES]


_SEG_T = T.ArrayType(
    T.StructType(
        [T.StructField("s", T.LongType()), T.StructField("e", T.LongType())]
    )
)


_vad_udf = clip_udf(_SEG_T, segment_samples, rate=True)


def vad_segments(clips: DataFrame) -> DataFrame:
    """(clip_id, seg_idx, start_ms, end_ms, n_frames) — one row per speech
    segment; undecodable clips and clips with no qualifying segment emit
    nothing (posexplode of null/empty). Zero shuffles."""
    # integer frame_len, exactly the kernel's sr * VAD_FRAME_MS // 1000;
    # `div` (not float floor) so ms math is bit-identical to the replica's
    # // — the integer-arithmetic-for-shared-thresholds rule
    segs = clips.select(
        "clip_id",
        F.col("sr_hz").cast("long").alias("__sr"),
        F.expr(f"cast(sr_hz as bigint) * {rules.VAD_FRAME_MS} div 1000").alias("__fl"),
        F.posexplode(_vad_udf()).alias("seg_idx", "seg"),
    )
    return segs.select(
        "clip_id",
        F.col("seg_idx").cast("int").alias("seg_idx"),
        F.expr("seg.s * __fl * 1000 div __sr").cast("long").alias("start_ms"),
        F.expr("seg.e * __fl * 1000 div __sr").cast("long").alias("end_ms"),
        (F.col("seg.e") - F.col("seg.s")).cast("long").alias("n_frames"),
    )


def speech_only_clips(clips: DataFrame) -> DataFrame:
    """Silence removal — rebuild each clip with ONLY its speech segments
    (the prep stage between VAD and packing/training: non-speech audio is
    wasted tokens). Returns (clip_id, codec, sr_hz, n_segments, speech_ms,
    speech_bytes); clips that are undecodable, have no qualifying speech
    segment, or carry payloads that JVM byte algebra cannot re-slice
    (non-canonical wavs, real FLAC and other compressed codecs) emit NULL
    speech_bytes (a production sink re-encodes those — the
    bytes_trimmed_col rule).

    Boundary contract (the pipeline's asymmetric-Arrow shape): the VAD
    UDF runs ONCE and returns only the frame-index segment list; the
    speech payload is rebuilt JVM-side by folding the segment array with
    binary substring/concat (SQL `aggregate` over `bytes`, laid out per
    codec by functions/audio.resliced_bytes, which the QC trim shares:
    fake/wav headers re-emitted with corrected LE-u32 sizes), so
    re-decoding the rebuilt clip reproduces the kernel's concatenated
    speech PCM bit-for-bit and no binary ever crosses Python->JVM. Zero
    shuffles, embarrassingly parallel — the multi-segment generalization
    of the QC trim's single (start, end) envelope
    (pipeline.bytes_trimmed_col)."""
    from ..functions.audio import resliced_bytes

    a = clips.select(
        "clip_id",
        "codec",
        F.col("sr_hz").cast("long").alias("sr_hz"),
        "bytes",
        F.expr(f"cast(sr_hz as bigint) * {rules.VAD_FRAME_MS} div 1000").alias("__fl"),
        _vad_udf().alias("__segs"),
    )
    tot = "aggregate(__segs, cast(0 as bigint), (a, s) -> a + (s.e - s.s))"

    def fold(base: int, width: int) -> str:
        """Concat the per-segment byte slices of the original payload
        (1-based start = base + width*s.s*__fl)."""
        return (
            "aggregate(__segs, cast('' as binary), (acc, s) -> concat(acc, "
            f"substring(bytes, {base} + {width}*s.s*__fl, "
            f"{width}*(s.e - s.s)*__fl)))"
        )

    no_speech = F.col("__segs").isNull() | (F.size("__segs") == 0)
    speech_bytes = F.when(~no_speech, resliced_bytes(fold, f"(2 * __fl * ({tot}))"))
    return a.select(
        "clip_id",
        "codec",
        "sr_hz",
        F.coalesce(F.size("__segs"), F.lit(0)).cast("int").alias("n_segments"),
        F.expr(f"coalesce((__fl * ({tot})) * 1000 div sr_hz, 0)")
        .cast("long")
        .alias("speech_ms"),
        speech_bytes.alias("speech_bytes"),
    )
