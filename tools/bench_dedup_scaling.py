"""Data-scaling evidence for the dedup/near-dup tier: run the same
operators on N and 4N synthetic documents and report the wall-clock growth
ratio. The QC tier's N-vs-4N CORE scaling lives in bench_scaling.py; this
measures the other axis the 100 TB question asks about — does the work
grow ~linearly with the DATA (bucketed LSH joins, salted df guard,
map-side-combined signatures), or does a hidden quadratic blow up?

A guard-less shingle self-join would grow ~16x in joined rows from N to
4N docs on a corpus with common shingles; the expected wall ratio for the
implemented plans is ~4-6x (linear data growth + shuffle log factors).

    python tools/bench_dedup_scaling.py [N]   # default 25000; runs N and 4N
Writes BENCH_DEDUP_SCALING.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_BASE = int(sys.argv[1]) if len(sys.argv) > 1 else 25_000


def docs_spark_df(spark, n: int, n_partitions: int = 32):
    """Deterministic synthetic document table, generated distributed (the
    same per-row Philox keying as synth.clips_spark_df): ~60-token
    sentences; every 50th doc is a near-dup of its predecessor (same
    sentence + a small tail), so the pair operators have real work."""
    import pandas as pd

    from kneaddata_spark.synth import _rng
    from kneaddata_spark.vocab import make_sentence

    def gen(iterator):
        for pdf in iterator:
            ids = pdf["id"].to_numpy()
            rows = []
            for i in ids:
                i = int(i)
                src = i - 1 if (i % 50 == 0 and i > 0) else i
                rng = _rng(src + 10_000_000)
                toks = make_sentence(rng, "en", 60).split()
                # web-scale diversity: every 3rd token carries doc-unique
                # entropy, else a small shared vocab makes EVERY doc a
                # near-dup of every other (measured: 78M simhash pairs
                # from 100k vocab-only docs) and mid-frequency shingles
                # drive the exact-jaccard self-join super-linear
                for j in range(0, len(toks), 3):
                    toks[j] = f"{toks[j]}{rng.integers(0, 1 << 30):x}"
                text = " ".join(toks)
                if src != i:
                    text = text + " trailing near dup marker"
                rows.append((f"d{i}", text))
            yield pd.DataFrame(rows, columns=["doc_id", "text"])

    return spark.range(0, n, 1, n_partitions).mapInPandas(
        gen, schema="doc_id string, text string"
    )


def run_suite(spark, n: int) -> dict:
    from kneaddata_spark.operators import dedup, textstats
    from kneaddata_spark.operators.caching import release_tracked

    from pyspark.sql import functions as F

    docs = docs_spark_df(spark, n)
    docs.write.mode("overwrite").parquet(f"/tmp/kneaddata_bench/dedup_docs_{n}")
    docs = spark.read.parquet(f"/tmp/kneaddata_bench/dedup_docs_{n}")
    # benchmark split for the decontamination screens (5% of docs)
    bench = docs.where(F.expr("cast(substring(doc_id, 2) as int) % 20 = 0"))
    corpus = docs.where(F.expr("cast(substring(doc_id, 2) as int) % 20 <> 0"))
    walls = {}

    def timed(name, fn, reps=2):
        best, count = float("inf"), None
        for _ in range(reps):
            # cold reps (r4 protocol, matches bench.py): raw operator calls
            # persist_tracked their intermediates but only driver-query
            # BUILDS release them — do it here so reps neither read a
            # previous rep's cache nor accumulate pinned storage
            release_tracked()
            spark.catalog.clearCache()
            t0 = time.time()
            count = fn().count()
            best = min(best, time.time() - t0)
        walls[name] = {"wall_sec": round(best, 2), "rows": count}

    timed("ngram_jaccard_pairs", lambda: dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5))
    timed("minhash_dedup_pairs", lambda: dedup.minhash_dedup_pairs(docs, "doc_id", "text", n=3, threshold=0.5))
    timed(
        "simhash_near_dups",
        lambda: dedup.simhash_near_dup_pairs(
            dedup.simhash_signatures(docs, "doc_id", "text"), max_hamming=3
        ),
    )
    timed(
        "dup_clusters",
        lambda: dedup.dup_clusters(
            dedup.minhash_dedup_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
        ),
    )
    # r4 additions: the repetition screen (explode + 2 map-side aggs) and
    # the winnowing family (keyed window passes; substring decontamination
    # adds the broadcast fp semi-join) — all should track the linear band
    timed("repetition_screen", lambda: textstats.repetition_screen(docs, "doc_id", "text"))
    timed("winnowing_fingerprints", lambda: textstats.winnowing_fingerprints(docs, "doc_id", "text"))
    timed(
        "decontaminate_substrings",
        lambda: dedup.decontaminate_substrings(corpus, bench, "doc_id", "text"),
    )
    # r4d additions: the substring self-join (fp-bucket pair expansion),
    # the vocab top-n (TakeOrdered + tiny self-join), snapshot diff (two
    # hashed sides, full-outer SMJ) and normalization-keyed dedup (one
    # window) — the first can grow super-linearly only via fp-bucket
    # fan-out (df-guarded); the rest are strictly linear shapes
    timed(
        "substring_dup_pairs",
        lambda: dedup.substring_dup_pairs(docs, "doc_id", "text"),
    )
    from kneaddata_spark.operators import corpus as corpus_ops
    from kneaddata_spark.operators import delta

    timed("vocab_build", lambda: corpus_ops.vocab_build(docs, "doc_id", "text", 200))
    perturbed = docs.where(
        F.expr("cast(substring(doc_id, 2) as int) % 17 <> 3")
    ).select(
        "doc_id",
        F.expr(
            "CASE WHEN cast(substring(doc_id, 2) as int) % 13 = 5 "
            "THEN text || ' v2' ELSE text END"
        ).alias("text"),
    )
    timed("snapshot_diff", lambda: delta.snapshot_diff(docs, perturbed, "doc_id"))
    timed("normalized_dedup", lambda: dedup.normalized_dedup(docs, "doc_id", "text"))
    release_tracked()
    spark.catalog.clearCache()
    return walls


def clips_table(spark, n: int):
    """Stored clip table for the audio-axis scaling runs: deterministic
    synth clips with planted exact duplicates (crc32(clip_id) % 7 == 0
    gets a dup_ copy — the driver query's planting rule), written once per
    level so GENERATION is outside the timed path: at 100 TB the corpus is
    parquet on disk and the operators' cost is decode + join, which is
    what the ratio must measure."""
    from pyspark.sql import functions as F

    from kneaddata_spark.plans.entry_queries import (
        cached,
        clip_sources,
        generator_sources,
    )
    from kneaddata_spark.synth import clips_spark_df

    parts = 32

    def build(d: str) -> None:
        clips_spark_df(spark, n, n_partitions=parts).select(
            F.explode(
                F.when(
                    F.crc32(F.col("clip_id")) % 7 == 0,
                    F.array(
                        F.col("clip_id"),
                        F.concat(F.lit("dup_"), F.col("clip_id")),
                    ),
                ).otherwise(F.array(F.col("clip_id")))
            ).alias("clip_id"),
            "bytes",
            "codec",
            "sr_hz",
        ).write.mode("overwrite").parquet(d)

    key = (n, parts, *clip_sources(), *generator_sources(clips_table))
    return spark.read.parquet(cached("scale_clips", build, *key))


def run_audio_suite(spark, n: int) -> dict:
    """Audio-axis data scaling: the banded fingerprint join and the
    zero-shuffle VAD explode over N and 4N STORED clips."""
    from kneaddata_spark.operators import audiodup, vad
    from kneaddata_spark.operators.caching import release_tracked

    clips = clips_table(spark, n)
    walls = {}

    def timed(name, fn, reps=2):
        best, count = float("inf"), None
        for _ in range(reps):
            release_tracked()
            spark.catalog.clearCache()
            t0 = time.time()
            count = fn().count()
            best = min(best, time.time() - t0)
        walls[name] = {"wall_sec": round(best, 2), "rows": count}

    timed("audio_dup_pairs", lambda: audiodup.audio_dup_pairs(clips, min_bands=12))
    timed("vad_segments", lambda: vad.vad_segments(clips))
    from kneaddata_spark.operators import audioprep

    timed("audio_prep", lambda: audioprep.prep_audio(clips))
    release_tracked()
    spark.catalog.clearCache()
    return walls


N_CLIPS_BASE = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000


def main() -> None:
    from kneaddata_spark.session import get_spark

    spark = get_spark(app="dedup_scale")
    spark.range(1_000_000).count()
    out = {"n_base": N_BASE, "n_clips_base": N_CLIPS_BASE, "levels": {}}
    for n in (N_BASE, 4 * N_BASE):
        t0 = time.time()
        out["levels"][str(n)] = run_suite(spark, n)
        print(f"# n={n}: {round(time.time()-t0, 1)}s total", file=sys.stderr)
    for n in (N_CLIPS_BASE, 4 * N_CLIPS_BASE):
        t0 = time.time()
        audio = run_audio_suite(spark, n)
        out["levels"].setdefault(str(n), {}).update(audio)
        print(f"# clips n={n}: {round(time.time()-t0, 1)}s total", file=sys.stderr)
    ratios = {}
    for op in out["levels"][str(N_BASE)]:
        a = out["levels"][str(N_BASE)][op]["wall_sec"]
        b = out["levels"][str(4 * N_BASE)][op]["wall_sec"]
        ratios[op] = round(b / a, 2)
    for op in ("audio_dup_pairs", "vad_segments", "audio_prep"):
        a = out["levels"][str(N_CLIPS_BASE)][op]["wall_sec"]
        b = out["levels"][str(4 * N_CLIPS_BASE)][op]["wall_sec"]
        ratios[op] = round(b / a, 2)
    out["wall_ratio_4x_data"] = ratios
    out["note"] = (
        "same operator, 4x the documents, "
        f"local[{spark.sparkContext.defaultParallelism}]; a hidden quadratic "
        "would show ~16x wall growth — the bucketed/guarded plans should "
        "stay near the 4-6x linear+shuffle band"
    )
    print(json.dumps(out, indent=2))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "BENCH_DEDUP_SCALING.json"), "w") as f:
        json.dump(out, f, indent=2)
    spark.stop()


if __name__ == "__main__":
    main()
