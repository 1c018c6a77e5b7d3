"""The per-clip audio UDF seam (functions/audio.clip_udf): its row
semantics, the one-Arrow-stage pin it carries for every driver query
built on it, and the guard that keeps operators on it."""

from __future__ import annotations

import ast
import glob
import os

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from test_partitioning import SF_DIR

# Every driver query whose build calls a clip_udf-made UDF (found by
# instrumenting UserDefinedFunction.__call__ over all query builders).
CLIP_UDF_QUERIES = [
    "audio_adpcm",
    "audio_dup_pairs",
    "audio_flac",
    "audio_g711",
    "audio_loudnorm",
    "audio_prep",
    "audio_resample",
    "audio_screens",
    "bandwidth_screen",
    "click_screen",
    "cmvn_stats",
    "crossmodal_dup_pairs",
    "declip_stats",
    "dropout_screen",
    "dynrange_screen",
    "fbank_stats",
    "hum_screen",
    "mfcc_stats",
    "noise_mix",
    "pitch_screen",
    "reverb_screen",
    "snr_screen",
    "specaugment",
    "speech_only_trim",
    "speech_rate",
    "speed_perturb",
    "vad_segments",
]


def test_clip_udf_nulls_gate_and_pin(spark):
    """Undecodable rows are NULL without calling the kernel; rate=True
    adds the NULL-or-non-positive rate gate and passes the rate as an int;
    without it the rate is never looked at. Reading two fields of the
    returned struct plans ONE Arrow stage (the non-deterministic pin)."""
    from kneaddata_spark.functions.audio import clip_udf
    from tools.audit_plans import arrow_stages, plan_of

    pcm = np.array([3, -4, 5], dtype="<i2").tobytes()
    rows = [
        ("ok", pcm, "pcm_s16le", 16000),
        ("odd", pcm[:-1], "pcm_s16le", 16000),
        ("empty", b"", "pcm_s16le", 16000),
        ("bogus", pcm, "no_such_codec", 16000),
        ("sr_null", pcm, "pcm_s16le", None),
        ("sr_zero", pcm, "pcm_s16le", 0),
        ("sr_neg", pcm, "pcm_s16le", -8000),
    ]
    df = spark.createDataFrame(rows, "id string, bytes binary, codec string, sr_hz int")

    def with_rate(x, sr):
        assert isinstance(sr, int) and sr > 0
        return (len(x), sr, int(x.astype(np.int64).sum()))

    def no_rate(x):
        return [int(v) for v in x]

    rated = clip_udf(
        T.StructType(
            [T.StructField(n, T.LongType()) for n in ("n", "sr", "total")]
        ),
        with_rate,
        rate=True,
    )
    plain = clip_udf(T.ArrayType(T.LongType()), no_rate)
    out = df.select(
        "id",
        rated().alias("r"),
        plain().alias("p"),
    )
    got = {r["id"]: (r["r"] and tuple(r["r"]), r["p"]) for r in out.collect()}
    decoded = [3, -4, 5]
    assert got == {
        "ok": ((3, 16000, 4), decoded),
        "odd": (None, None),
        "empty": (None, None),
        "bogus": (None, None),
        "sr_null": (None, decoded),
        "sr_zero": (None, decoded),
        "sr_neg": (None, decoded),
    }
    two_fields = out.where(F.col("r").isNotNull()).select("r.n", "r.total")
    assert arrow_stages(plan_of(two_fields)) == 1


@pytest.mark.parametrize("name", CLIP_UDF_QUERIES)
def test_clip_udf_queries_plan_one_arrow_stage(spark, name):
    """The decode-once pin lives in clip_udf: every driver query built on
    it plans exactly one ArrowEvalPython."""
    from kneaddata_spark.plans.entry_queries import QUERIES
    from tools.audit_plans import arrow_stages, plan_of

    assert arrow_stages(plan_of(QUERIES[name](spark, SF_DIR))) == 1


def test_operators_leave_the_clip_boundary_to_the_builder():
    """No operator module decodes clips, caches UDFs or builds Arrow types
    by hand: the buffer view, the s16 decode and the Arrow return type
    belong to functions/audio.clip_udf. bpe.py and similarity.py hold
    text/vector UDFs and are out of scope."""
    import kneaddata_spark.operators as pkg

    boundary = {"_binary_bounds", "_decode_s16"}
    udf_makers = {"arrow_udf", "pandas_udf"}
    bad = []
    for path in sorted(glob.glob(os.path.join(os.path.dirname(pkg.__file__), "*.py"))):
        name = os.path.basename(path)
        if name in ("bpe.py", "similarity.py"):
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            ident = (
                node.id
                if isinstance(node, ast.Name)
                else node.attr
                if isinstance(node, ast.Attribute)
                else node.name
                if isinstance(node, ast.alias)
                else None
            )
            if ident in boundary or ident in udf_makers or ident == "_UDF_CACHE":
                bad.append(f"{name}:{node.lineno}: {ident}")
            if (
                isinstance(node, ast.Attribute)
                and node.attr in ("struct", "list_")
                and isinstance(node.value, ast.Name)
                and node.value.id == "pa"
            ):
                bad.append(f"{name}:{node.lineno}: pa.{node.attr}")
    assert bad == []


def test_qc_kernel_decodes_through_the_clip_decoder():
    """The QC kernel and every clip_udf share one decode: a row is
    decode_ok exactly when it passes the codec/sr whitelists, expects
    samples, decodes through `_decode_s16` and matches the expected
    length, and then n_samples is that decode's length. Rows cover the
    synth corpus plus, for every registered codec, a valid payload and
    its None, empty, truncated, odd-length and random variants."""
    from kneaddata_spark import rules
    from kneaddata_spark.functions.audio import (
        CODECS,
        _decode_s16,
        audio_features_batch,
    )
    from kneaddata_spark.functions.oggopus import encode_ogg_opus
    from kneaddata_spark.synth import gen_clips_pdf

    pdf = gen_clips_pdf(400)
    rows = list(zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"], pdf["dur_ms"]))
    valid = {c: (b, sr, d) for b, c, sr, d in reversed(rows)}
    valid["ogg_opus"] = (encode_ogg_opus(960 * 3), 48000, 60)
    assert set(CODECS) <= set(valid), "add a valid payload for each codec"
    junk = np.random.default_rng(0).integers(0, 256, 3201, dtype=np.uint8).tobytes()
    for codec in CODECS:
        raw, sr, dur = valid[codec]
        for b in (raw, raw[:-1], raw[: len(raw) // 2], raw[:9], junk, junk[:-1], b"", None):
            rows += [(b, codec, sr, dur), (b, codec, 12345, dur)]
    raws, codecs, srs, durs = (np.array(col, dtype=object) for col in zip(*rows))
    out = audio_features_batch(raws, codecs, srs.astype(np.int64), durs.astype(np.int64))

    data = np.frombuffer(b"".join(b for b in raws if b is not None), dtype=np.uint8)
    pos, n_decoded = 0, 0
    for i, (b, codec, sr, dur) in enumerate(rows):
        nb = 0 if b is None else len(b)
        x = _decode_s16(data, pos, pos + nb, codec)
        pos += nb
        n_exp = round(dur * sr / 1000)
        ok = (
            codec in rules.VALID_CODECS
            and sr in rules.VALID_SR_HZ
            and n_exp > 0
            and x is not None
            and abs(len(x) - n_exp) <= rules.DECODE_LEN_RTOL * n_exp
        )
        n_decoded += ok
        assert out["decode_ok"][i] == ok, (i, codec, nb)
        assert out["n_samples"][i] == (len(x) if ok else 0), (i, codec, nb)
    assert n_decoded > 200


def test_only_the_row_decode_reads_the_codec_registry():
    """`CODECS` is read by `_decode_s16` and written by `register_codec`
    only: no second dispatch over the registry grows back beside them."""
    import kneaddata_spark.functions.audio as audio

    with open(audio.__file__) as fh:
        tree = ast.parse(fh.read())
    users = set()
    for stmt in tree.body:
        if isinstance(stmt, (ast.Assign, ast.AnnAssign)) and "CODECS" in {
            getattr(t, "id", None)
            for t in (stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target])
        }:
            continue  # the registry's own definition
        if any(isinstance(n, ast.Name) and n.id == "CODECS" for n in ast.walk(stmt)):
            users.add(getattr(stmt, "name", f"<module line {stmt.lineno}>"))
    assert users == {"_decode_s16", "register_codec"}


# The operator modules that read the clip (or media) table; `rate.py`'s
# speaking_rate and imagedup's generic banded_hamming_pairs keep their
# column arguments because callers pass different columns.
CLIP_SCHEMA_MODULES = (
    "adpcm audiodup audioprep audioscreen bandwidth click clipwindows cmvn "
    "companding declip dropout dynrange fbank flacarchive hum mediaprobe mfcc "
    "pitch rate resample reverb snr specaugment vad imagedup"
).split()
COLUMN_ARGS_KEPT = {"speaking_rate", "banded_hamming_pairs"}
CLIP_COLUMNS = {"bytes", "codec", "sr_hz", "bytes_col", "codec_col", "sr_col"}


def test_operators_read_the_clip_schema_by_name():
    """Media operators read the fixed clip/media schema by name: no
    function takes a `*_col` argument, and no call to a clip_udf-made UDF
    passes the `bytes`/`codec`/`sr_hz` columns the builder binds."""
    import kneaddata_spark.operators as pkg

    bad = []
    for mod in CLIP_SCHEMA_MODULES:
        path = os.path.join(os.path.dirname(pkg.__file__), f"{mod}.py")
        with open(path) as fh:
            tree = ast.parse(fh.read())
        # names bound to a clip_udf result, and factories returning one
        makers = {
            fn.name
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef)
            for r in ast.walk(fn)
            if isinstance(r, ast.Return)
            and isinstance(r.value, ast.Call)
            and getattr(r.value.func, "id", None) == "clip_udf"
        }
        udfs = {
            t.id
            for a in tree.body
            if isinstance(a, ast.Assign) and isinstance(a.value, ast.Call)
            and getattr(a.value.func, "id", None) in makers | {"clip_udf"}
            for t in a.targets
            if isinstance(t, ast.Name)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name not in COLUMN_ARGS_KEPT:
                a = node.args
                for arg in a.posonlyargs + a.args + a.kwonlyargs:
                    if arg.arg.endswith("_col"):
                        bad.append(f"{mod}.py:{node.lineno}: {node.name}({arg.arg})")
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            is_udf = getattr(f, "id", None) in udfs or (
                isinstance(f, ast.Call) and getattr(f.func, "id", None) in makers
            )
            if not is_udf:
                continue
            for arg in node.args:
                names = {
                    n.id if isinstance(n, ast.Name) else n.value
                    for n in ast.walk(arg)
                    if isinstance(n, ast.Name)
                    or (isinstance(n, ast.Constant) and isinstance(n.value, str))
                }
                if names & CLIP_COLUMNS:
                    bad.append(f"{mod}.py:{node.lineno}: {ast.unparse(arg)}")
    assert bad == []
