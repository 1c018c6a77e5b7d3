"""Shared fixtures: one local[8] session per test run, a deterministic
clips parquet, and the oracle label frame for it."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_CLIPS = 600


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: spawns its own spark-submit JVM (tens of seconds)"
    )


@pytest.fixture(scope="session")
def spark():
    from kneaddata_spark.session import get_spark

    s = get_spark(app="kneaddata_spark_tests", cores=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def clips_path(tmp_path_factory):
    from kneaddata_spark.synth import write_clips_parquet

    p = tmp_path_factory.mktemp("clips") / "clips.parquet"
    write_clips_parquet(str(p), N_CLIPS)
    return str(p)


@pytest.fixture(scope="session")
def models():
    from kneaddata_spark.models import train_langid, train_perplexity

    return train_langid(), train_perplexity()


@pytest.fixture(scope="session")
def oracle_labels(models):
    from kneaddata_spark.oracle import label_frame
    from kneaddata_spark.synth import gen_clips_pdf

    return label_frame(gen_clips_pdf(N_CLIPS), *models)


@pytest.fixture(scope="session")
def annotated_pdf(spark, clips_path):
    from kneaddata_spark.pipeline import annotate, broadcast_models

    df = spark.read.parquet(clips_path)
    ann = annotate(df, *broadcast_models(spark))
    return ann.select(
        "clip_id",
        "drop_rule",
        "keep",
        "transcript_scrubbed",
        "bytes",
        "bytes_trimmed",
        "codec",
        "trim_start",
        "trim_end",
        "lang",
    ).toPandas()
