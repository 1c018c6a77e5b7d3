"""Deterministic synthetic generator for the audio clip + transcript table.

Shape fixed by BASELINE.json ``input_hint``:
    (clip_id string, bytes binary, sr_hz int, dur_ms int, codec string,
     transcript string)

Every clip is generated from a Philox stream keyed by (GLOBAL_SEED, i) so
generation is order-independent, chunkable, and identical regardless of how
many partitions produce it — the property a 10^12-row generator needs.

Mirrors the reference's fixture philosophy (tests/data/demo.fastq +
merge*.fastq: deterministic inputs whose expected outcomes are derivable;
random.seed(0) precedent in db_preprocessing/downsample.py:12). Planted
defect classes exercise each rule in rules.RULE_ORDER.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd

from . import rules
from .vocab import LANGS, make_sentence

GLOBAL_SEED = 20260816
CLIP_DDL = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, "
    "codec string, transcript string"
)

# skewed distributions (skew exercises salting / AQE per north_rule)
CODECS = ["pcm_s16le", "pcm_u8", "flac", "opus", "mp3", "wav", "bogus"]
CODEC_P = [0.46, 0.15, 0.11, 0.08, 0.07, 0.07, 0.06]
LANG_P = {"en": 0.58, "es": 0.15, "fr": 0.11, "de": 0.09, "zh": 0.07}
SRS = [8000, 16000, 22050, 44100, 48000]
SR_P = [0.15, 0.45, 0.10, 0.15, 0.15]

PII_SNIPPETS = [
    "contact me at john.doe42@example.com please",
    "call +1 (415) 555-0133 tomorrow",
    "ssn is 523-12-9876 ok",
    "card 4111 1111 1111 1111 expires soon",
    "server at 192.168.10.44 is down",
]


def _rng(i: int) -> np.random.Generator:
    return np.random.default_rng(np.random.Philox(key=[GLOBAL_SEED, i]))


def _encode(pcm: np.ndarray, codec: str, rng: np.random.Generator, sr_hz: int = 16000) -> bytes:
    """Serialize float32 [-1,1] PCM per codec. opus/mp3 use the
    deterministic fake container (rules.FAKE_MAGIC): real codec libs are
    absent in this environment; decode plumbing stays real. flac is a
    REAL compressed stream (functions/flaccodec.py) since r5."""
    s16 = np.clip(np.round(pcm * 32767.0), -32768, 32767).astype("<i2")
    if codec == "pcm_s16le":
        return s16.tobytes()
    if codec == "pcm_u8":
        u8 = np.clip(np.round(pcm * 127.0) + 128, 0, 255).astype(np.uint8)
        return u8.tobytes()
    if codec == "flac":
        from .functions.flaccodec import encode_flac

        return encode_flac(s16.view(np.int16), sr_hz if sr_hz > 0 else 16000)
    if codec in rules.FAKE_MAGIC:
        payload = s16.tobytes()
        return rules.FAKE_MAGIC[codec] + struct.pack("<I", len(payload)) + payload
    if codec == "wav":
        # REAL canonical RIFF/WAVE: 44-byte header (fmt chunk first, then
        # data) + 16-bit mono PCM — decoded by the registered decoder
        # (functions/audio.decode_wav), re-emitted after trim by the
        # JVM-side canonical-wav branch of pipeline.bytes_trimmed_col
        payload = s16.tobytes()
        sr = sr_hz if sr_hz > 0 else 16000
        header = (
            b"RIFF"
            + struct.pack("<I", 36 + len(payload))
            + b"WAVE"
            + b"fmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
            + b"data"
            + struct.pack("<I", len(payload))
        )
        return header + payload
    # bogus codec: junk bytes
    return rng.integers(0, 256, size=64, dtype=np.uint8).tobytes()


def gen_clip(i: int) -> dict:
    """One deterministic clip row (plus hidden defect-class tag for tests)."""
    rng = _rng(i)
    lang = rng.choice(list(LANG_P), p=list(LANG_P.values()))
    codec = rng.choice(CODECS, p=CODEC_P)
    sr = int(rng.choice(SRS, p=SR_P))
    dur_ms = int(np.exp(rng.uniform(np.log(350), np.log(4000))))

    # ~14% of rows get a planted structural/audio defect
    defect = "none"
    u = rng.uniform()
    if u < 0.02:
        defect, dur_ms = "too_short", int(rng.integers(20, rules.MIN_DUR_MS - 1))
    elif u < 0.03:
        defect, dur_ms = "too_long", int(rng.integers(rules.MAX_DUR_MS + 1, 90_000))
    elif u < 0.05:
        defect, sr = "bad_sr", int(rng.choice([0, 7, 12345, 96000]))
    elif u < 0.07:
        defect = "truncated"       # payload shorter than dur claims
    elif u < 0.10:
        defect = "mostly_silence"  # trims away below POST_TRIM_MIN_RATIO
    elif u < 0.12:
        defect = "clipped"
    elif u < 0.14:
        defect = "edge_silence"    # healthy but needs trimming (keep case)

    n = max(1, int(round(dur_ms * sr / 1000.0))) if sr > 0 else 160
    n = min(n, 48000 * 40)  # cap payload for the too_long rows
    t = np.arange(n, dtype=np.float32) / max(sr, 1)
    f0 = float(rng.uniform(80, 1200))
    pcm = 0.45 * np.sin(2 * np.pi * f0 * t) + 0.18 * np.sin(2 * np.pi * 2.7 * f0 * t)
    pcm += rng.normal(0, 0.02, size=n)
    pcm = pcm.astype(np.float32)

    if defect == "mostly_silence":
        keep = int(n * rng.uniform(0.05, 0.35))
        quiet = np.full(n, 0.0005, dtype=np.float32)
        start = int(rng.integers(0, max(1, n - keep)))
        quiet[start : start + keep] = pcm[start : start + keep]
        pcm = quiet
    elif defect == "edge_silence":
        lead = int(n * rng.uniform(0.05, 0.15))
        tail = int(n * rng.uniform(0.05, 0.15))
        pcm[:lead] = rng.normal(0, 0.0008, size=lead)
        pcm[n - tail :] = rng.normal(0, 0.0008, size=tail)
    elif defect == "clipped":
        pcm = np.clip(pcm * 6.0, -1.0, 1.0)
    pcm = np.clip(pcm, -1.0, 1.0)

    raw = _encode(pcm, codec, rng, sr)
    if defect == "truncated" and (
        codec.startswith("pcm") or codec in ("wav", "flac")
    ):
        raw = raw[: max(2, len(raw) // 3)]

    # transcript: ~10% planted text defects, ~8% PII insertion
    v = rng.uniform()
    n_tok = int(rng.integers(4, 40))
    if v < 0.02:
        transcript, tdef = "", "empty"
    elif v < 0.03:
        transcript, tdef = "   ", "whitespace"
    elif v < 0.06:
        tok = make_sentence(rng, lang, 1)
        transcript, tdef = " ".join([tok] * int(rng.integers(8, 25))), "repeat"
    elif v < 0.08:
        transcript, tdef = "aaaaaaaaaaaaaaaaaaaaaa", "low_entropy"
    elif v < 0.10:
        # gibberish from the wrong alphabet -> langid should reject
        transcript = "".join(rng.choice(list("qxzkvw#@!~")) for _ in range(60))
        tdef = "gibberish"
    elif v < 0.12:
        # interleaved two-language word salad: trigram profile still
        # resolves a language but bigram LM perplexity blows past PPL_MAX
        other = rng.choice([x for x in LANGS if x != lang])
        a = make_sentence(rng, lang, 12).split()
        b = make_sentence(rng, str(other), 12).split()
        transcript = " ".join(x for pair in zip(a, b) for x in pair)
        tdef = "mixed_lang"
    else:
        transcript, tdef = make_sentence(rng, lang, n_tok), "none"
        if rng.uniform() < 0.08:
            snip = PII_SNIPPETS[int(rng.integers(0, len(PII_SNIPPETS)))]
            transcript = transcript + " " + snip
            tdef = "pii"

    return {
        "clip_id": f"c{i:010d}",
        "bytes": raw,
        "sr_hz": sr,
        "dur_ms": dur_ms,
        "codec": codec,
        "transcript": transcript,
        "_lang": str(lang),
        "_defect": defect,
        "_tdefect": tdef,
    }


def gen_clips_pdf(n: int, start: int = 0, hidden: bool = False) -> pd.DataFrame:
    """Generate rows [start, start+n) as a pandas frame.

    hidden=False drops the ``_``-prefixed oracle-helper columns, giving the
    exact BASELINE.json input_hint schema.
    """
    rows = [gen_clip(i) for i in range(start, start + n)]
    pdf = pd.DataFrame(rows)
    if not hidden:
        pdf = pdf[["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]]
    pdf["sr_hz"] = pdf["sr_hz"].astype("int32")
    pdf["dur_ms"] = pdf["dur_ms"].astype("int32")
    return pdf


def write_clips_parquet(
    path: str, n: int, chunk: int = 2000, parts: int | None = None
) -> str:
    """Write n clips to parquet deterministically, in chunks (bounded RAM).
    With ``parts``, ``path`` is a directory of that many files, file i
    holding ids [i*n//parts, (i+1)*n//parts): Spark's ``range`` bounds,
    the layout ``clips_spark_df(n, parts)`` writes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("clip_id", pa.string()),
            ("bytes", pa.binary()),
            ("sr_hz", pa.int32()),
            ("dur_ms", pa.int32()),
            ("codec", pa.string()),
            ("transcript", pa.string()),
        ]
    )
    if parts is None:
        files = [(path, 0, n)]
    else:
        files = [
            (f"{path}/part-{i:05d}.parquet", i * n // parts, (i + 1) * n // parts)
            for i in range(parts)
        ]
    for file, lo, hi in files:
        os.makedirs(os.path.dirname(file) or ".", exist_ok=True)
        with pq.ParquetWriter(file, schema) as w:
            for s in range(lo, hi, chunk):
                pdf = gen_clips_pdf(min(chunk, hi - s), start=s)
                w.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False))
    return path


def clips_spark_df(spark, n: int, n_partitions: int = 32):
    """Distributed generation: each Spark partition generates its own id
    range with the per-row Philox keying — no driver bottleneck. This is the
    scale path (a 10^12-row table would be generated exactly like this)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("clip_id", T.StringType(), False),
            T.StructField("bytes", T.BinaryType(), False),
            T.StructField("sr_hz", T.IntegerType(), False),
            T.StructField("dur_ms", T.IntegerType(), False),
            T.StructField("codec", T.StringType(), False),
            T.StructField("transcript", T.StringType(), False),
        ]
    )
    bounds = spark.range(0, n, 1, n_partitions)

    def gen(iterator):
        for pdf in iterator:
            ids = pdf["id"].to_numpy()
            if len(ids):
                out = pd.concat([gen_clips_pdf(1, start=int(i)) for i in ids])
                yield out

    return bounds.mapInPandas(gen, schema=schema)
