"""Real-codec seam: RIFF/WAVE registered through register_codec
— VERDICT r2 next-round #6.

Covers: the pure-numpy parser against canonical / chunk-reordered /
malformed files; the registered decoder through the vectorized trim/clip
kernel; and the full pipeline round trip where a kept wav row's trimmed
bytes are re-emitted JVM-side as a VALID wav that re-decodes byte-exactly
to the trimmed PCM.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from kneaddata_spark import oracle, rules
from kneaddata_spark.functions.audio import CODECS, audio_features_batch, decode_wav


def make_wav(
    pcm: np.ndarray,
    sr: int = 16000,
    channels: int = 1,
    bits: int = 16,
    fmt_tag: int = 1,
    pre_chunks: list | None = None,
    post_chunks: list | None = None,
) -> bytes:
    """Hand-rolled RIFF writer (independent of both parsers under test)."""
    payload = pcm.astype("<i2").tobytes()
    chunks = list(pre_chunks or [])
    chunks.append((b"fmt ", struct.pack("<HHIIHH", fmt_tag, channels, sr, sr * 2, 2, bits)))
    chunks.extend(post_chunks or [])
    chunks.append((b"data", payload))
    body = b"WAVE"
    for cid, cbody in chunks:
        body += cid + struct.pack("<I", len(cbody)) + cbody
        if len(cbody) % 2:
            body += b"\x00"  # spec word alignment
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_registered_through_seam():
    assert CODECS["wav"] is decode_wav
    assert "wav" in rules.VALID_CODECS


def test_decode_wav_canonical_and_oracle_agree():
    pcm = (np.sin(np.arange(4000) / 20.0) * 20000).astype(np.int16)
    raw = make_wav(pcm)
    got = decode_wav(raw)
    assert got is not None and np.array_equal(got, pcm)
    ref = oracle.decode_pcm(raw, "wav")
    assert ref is not None and np.allclose(ref, pcm.astype(np.float32) / 32768.0)


def test_decode_wav_chunk_order_free():
    """LIST chunk first, an odd-sized chunk (forcing the pad byte), data
    after fmt — both parsers must still find fmt + data."""
    pcm = np.arange(-500, 500, dtype=np.int16)
    raw = make_wav(
        pcm,
        pre_chunks=[(b"LIST", b"INFOIART" + struct.pack("<I", 5) + b"abcde\x00")],
        post_chunks=[(b"fact", b"\x01\x02\x03")],  # odd size -> pad byte
    )
    got = decode_wav(raw)
    assert got is not None and np.array_equal(got, pcm)
    ref = oracle.decode_pcm(raw, "wav")
    assert ref is not None and len(ref) == len(pcm)


@pytest.mark.parametrize(
    "bad",
    [
        b"",
        b"RIFF\x00\x00\x00\x00WAVE",  # no chunks
        make_wav(np.zeros(100, dtype=np.int16), channels=2),  # stereo
        make_wav(np.zeros(100, dtype=np.int16), bits=8),
        make_wav(np.zeros(100, dtype=np.int16), fmt_tag=3),  # float
        make_wav(np.zeros(100, dtype=np.int16))[:60],  # truncated data chunk
        b"JUNK" + make_wav(np.zeros(100, dtype=np.int16))[4:],
    ],
)
def test_decode_wav_rejects_malformed(bad):
    assert decode_wav(bad) is None
    assert oracle.decode_pcm(bad, "wav") is None


def test_wav_flows_through_vectorized_kernel():
    """the registered decoder feeds the SAME trim/clip math: a wav with silent
    edges gets the oracle's exact trim bounds; a clipped wav gets the exact
    clip fraction."""
    sr = 16000
    n = sr  # 1 s
    loud = (np.sin(np.arange(n) / 10.0) * 20000).astype(np.int16)
    lead = int(0.1 * sr)
    pcm = loud.copy()
    pcm[:lead] = 3  # silent lead (below TRIM_DB_FLOOR)
    raw = make_wav(pcm, sr=sr)

    out = audio_features_batch(
        np.asarray([raw], dtype=object),
        np.asarray(["wav"], dtype=object),
        np.asarray([sr]),
        np.asarray([1000]),
    )
    r = out.iloc[0]
    assert bool(r["decode_ok"]) and r["n_samples"] == n
    ts, te = oracle.trim_bounds(pcm.astype(np.float32) / 32768.0, sr)
    assert (int(r["trim_start"]), int(r["trim_end"])) == (ts, te)

    clipped = np.full(n, 32767, dtype=np.int16)
    out2 = audio_features_batch(
        np.asarray([make_wav(clipped, sr=sr)], dtype=object),
        np.asarray(["wav"], dtype=object),
        np.asarray([sr]),
        np.asarray([1000]),
    )
    assert out2.iloc[0]["clip_frac"] == 1.0


def test_wav_pipeline_roundtrip_byte_exact(spark):
    """End-to-end: synth wav clips -> annotate -> kept rows' bytes_trimmed
    is a VALID canonical wav whose payload re-decodes byte-exactly to the
    trimmed PCM slice of the source (the SNR-exactness invariant extended
    to the real-codec path)."""
    from kneaddata_spark.pipeline import annotate, broadcast_models
    from kneaddata_spark.synth import gen_clips_pdf

    pdf = gen_clips_pdf(600)
    pdf = pdf[pdf["codec"] == "wav"]
    assert len(pdf) >= 20
    df = spark.createDataFrame(pdf)
    ann = annotate(df, *broadcast_models(spark)).where("keep").select(
        "clip_id", "bytes", "bytes_trimmed", "trim_start", "trim_end", "sr_hz"
    )
    rows = ann.collect()
    assert len(rows) >= 10
    for r in rows:
        src = decode_wav(bytes(r["bytes"]))
        out = decode_wav(bytes(r["bytes_trimmed"]))
        assert out is not None, r["clip_id"]
        assert np.array_equal(out, src[r["trim_start"] : r["trim_end"]]), r["clip_id"]
        # and the oracle's independent parser agrees on the emitted file
        ref = oracle.decode_pcm(bytes(r["bytes_trimmed"]), "wav")
        assert ref is not None and len(ref) == len(out)


def test_wav_noncanonical_trimmed_is_null(spark):
    """A decodable but non-canonical wav (extra chunk before fmt) KEEPS its
    verdict but gets NULL trimmed bytes — the documented JVM re-emission
    limit for layouts the binary algebra cannot re-slice."""
    from pyspark.sql import functions as F

    from kneaddata_spark.pipeline import annotate, broadcast_models

    sr = 16000
    pcm = (np.sin(np.arange(sr) / 10.0) * 20000).astype(np.int16)
    raw = make_wav(pcm, sr=sr, pre_chunks=[(b"LIST", b"INFO")])
    df = spark.createDataFrame(
        [("w0", bytearray(raw), sr, 1000, "wav", "the quick brown fox jumps over the lazy dog today")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
    )
    r = annotate(df, *broadcast_models(spark)).select(
        "decode_ok", "keep", F.col("bytes_trimmed").isNull().alias("null_trim")
    ).collect()[0]
    assert r["decode_ok"] and r["null_trim"]
