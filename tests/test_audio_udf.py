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
    df = spark.createDataFrame(rows, "id string, bytes binary, codec string, sr int")

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
        rated(F.col("bytes"), F.col("codec"), F.col("sr")).alias("r"),
        plain(F.col("bytes"), F.col("codec")).alias("p"),
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
