"""The quality-filter pipeline as one declarative DataFrame program.

Reference lifecycle being re-expressed (/root/reference/kneaddata/
knead_data.py:449-610): trim -> tandem-repeat screen -> decontaminate
(N databases, clean = pass all) -> write clean/contam outputs + counters.
Here every stage appends columns; the verdict is a single when-chain in
``rules.RULE_ORDER`` (first failing rule = drop_rule, mirroring the
``_contam_`` file taxonomy of config.py:94-116); the output is one
status-partitioned table plus per-rule counters from observe().

Physical shape (the 100 TB argument):
 - the hot path is MAP-ONLY: scan -> ONE ArrowEvalPython stage holding two
   independent scalar pandas UDFs (audio decode/trim over `bytes`;
   text complexity + broadcast model scores over `transcript`) ->
   Column-algebra verdict -> partitioned write. Zero shuffles, one
   JVM<->Arrow round trip; metrics ride the write via observe().
 - the Arrow boundary is ASYMMETRIC by design: the heavy `bytes` column
   crosses JVM->Python once (decode needs it) but ONLY small feature
   structs come back — the trimmed payload is re-sliced JVM-side from the
   original column via binary substring/concat (bytes_trimmed_col). At
   ~80 KB audio per row, echoing binaries Python->JVM measurably costs
   more than the entire decode kernel; this plan never does it.
 - model artifacts are broadcast once (bowtie2-index analog).
 - binary column is pruned from the text-side expressions by Catalyst;
   the scan never reads columns a stage does not use.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import rules
from .functions.audio import audio_features, resliced_bytes
from .functions.text import make_text_features_udf, scrub_col
from .models import train_langid, train_perplexity


def broadcast_models(spark: SparkSession):
    """Train (driver-side, deterministic) and broadcast the two scorer
    'databases'. In production these would be loaded from artifacts, not
    trained inline; the broadcast lifecycle is identical."""
    sc = spark.sparkContext
    return sc.broadcast(train_langid()), sc.broadcast(train_perplexity())


def bytes_trimmed_col() -> F.Column:
    """Trimmed payload re-sliced from the ORIGINAL `bytes` column, pure JVM
    binary algebra (substring/concat/unhex) over the UDF's sample bounds —
    re-decoding the slice reproduces the trimmed PCM bit-for-bit, so the
    SNR invariant is exact by construction and no binary ever crosses
    Python->JVM. The per-codec layout is functions/audio.resliced_bytes,
    shared with operators/vad; rows that failed decode or kept nothing are
    NULL."""

    def span(base: int, width: int) -> str:
        return f"substring(bytes, {base} + {width}*trim_start, {width}*(trim_end - trim_start))"

    kept = F.col("decode_ok") & (F.col("trim_end") > F.col("trim_start"))
    return F.when(kept, resliced_bytes(span, "(2*(trim_end - trim_start))"))


def scoring_gate_col() -> F.Column:
    """Cheap metadata-only model-scoring gate (ADVICE r1): rows failing the
    dur/sr/codec whitelists or with a zero expected sample count skip the
    langid/ppl scorers inside the text UDF. Integer/whitelist algebra only
    — measured ~free in codegen, unlike a full JVM byte-shape replica of
    the decode gate (measured at ~8% of pipeline wall: per-row binary
    hex/conv dominates any model-compute saving now that the scorers are
    vectorized). Rows that pass this gate but die later in the audio
    cascade still get scored; their OUTPUT columns are masked to the
    oracle's first-failing-rule semantics in annotate() (lang='und',
    conf=0, ppl=NaN), which is exact for every drop class — including
    post_trim/clipping, which no pre-UDF mask can see."""
    dur_ok = F.col("dur_ms").between(rules.MIN_DUR_MS, rules.MAX_DUR_MS)
    sr_ok = F.col("sr_hz").isin(*rules.VALID_SR_HZ)
    codec_ok = F.col("codec").isin(*rules.VALID_CODECS)
    n_exp_pos = (
        F.col("dur_ms").cast("long") * F.col("sr_hz").cast("long")
        >= rules.N_EXP_MIN_DUR_SR
    )
    return F.coalesce(dur_ok & sr_ok & codec_ok & n_exp_pos, F.lit(False))


def annotate(df: DataFrame, langid_bc, ppl_bc) -> DataFrame:
    """Append every rule column + drop_rule + keep. Pure transformation.

    ONE ArrowEvalPython stage evaluates both scalar pandas UDFs (audio over
    `bytes`, text+models over `transcript`) in a single JVM<->Arrow round
    trip returning only small structs; the verdict below is pure Column
    algebra over those features (whole-stage codegen)."""
    text_features = make_text_features_udf(langid_bc, ppl_bc)
    a = (
        df.withColumns(
            {
                "_af": audio_features("bytes", "codec", "sr_hz", "dur_ms"),
                # the gate is a Column EXPRESSION input (not a UDF
                # dependency), so both UDFs still share one ArrowEvalPython
                "_tf": text_features("transcript", scoring_gate_col()),
            }
        )
        .select("*", "_af.*", "_tf.*")
        .drop("_af", "_tf")
    )
    a = a.withColumn("bytes_trimmed", bytes_trimmed_col())

    # try_divide: sr_hz=0 rows (sr_invalid) must not abort under ANSI mode
    sr = F.col("sr_hz").cast("double")
    kept_ms = F.try_divide(F.col("trim_end") - F.col("trim_start"), sr) * 1000.0
    input_ms = F.try_divide(F.col("n_samples"), sr) * 1000.0
    a = a.withColumn("kept_ms", kept_ms).withColumn("input_ms", input_ms)

    fail_dur = ~F.col("dur_ms").between(rules.MIN_DUR_MS, rules.MAX_DUR_MS)
    fail_sr = ~F.col("sr_hz").isin(*rules.VALID_SR_HZ)
    fail_codec = ~F.col("codec").isin(*rules.VALID_CODECS)
    fail_decode = ~F.col("decode_ok")
    fail_trim = (F.col("kept_ms") < rules.POST_TRIM_MIN_MS) | (
        F.col("kept_ms") < rules.POST_TRIM_MIN_RATIO * F.col("input_ms")
    )
    fail_clip = F.col("clip_frac") > rules.CLIP_FRAC_MAX
    fail_tempty = F.col("transcript").isNull() | (
        F.length(F.trim(F.col("transcript"))) < rules.MIN_TRANSCRIPT_CHARS
    )

    fail_ent = F.col("entropy") < rules.MIN_CHAR_ENTROPY_BITS
    fail_run = F.col("max_run") > rules.MAX_TOKEN_RUN
    fail_top = (F.col("n_tokens") >= rules.TOP_TOKEN_MIN_TOKENS) & (
        F.col("top_frac") > rules.MAX_TOP_TOKEN_FRAC
    )
    fail_lang = (~F.col("lang").isin(*rules.ALLOWED_LANGS)) | (
        F.col("lang_conf") < rules.LANGID_MIN_CONF
    )
    fail_ppl = F.col("ppl") > rules.PPL_MAX

    # canonical first-failing-rule verdict (rules.RULE_ORDER)
    drop_rule = (
        F.when(fail_dur, "dur_bounds")
        .when(fail_sr, "sr_invalid")
        .when(fail_codec, "codec_invalid")
        .when(fail_decode, "decode_error")
        .when(fail_trim, "post_trim_short")
        .when(fail_clip, "clipping")
        .when(fail_tempty, "transcript_empty")
        .when(fail_ent, "low_entropy")
        .when(fail_run, "repeat_run")
        .when(fail_top, "top_token")
        .when(fail_lang, "langid")
        .when(fail_ppl, "perplexity")
        .otherwise(F.lit(None).cast("string"))
    )
    a = a.withColumn("drop_rule", drop_rule).withColumn("keep", F.col("drop_rule").isNull())
    # Exact oracle parity for the model-score columns on EVERY row (not
    # just kept ones): the oracle assigns lang/conf only when a row reaches
    # the langid stage and ppl only at the perplexity stage
    # (oracle.label_row's first-failing-rule cascade); mask the scored
    # values with the verdict accordingly. The verdict itself was computed
    # from the RAW scores above, so this cannot flip any keep/drop.
    reaches_lang = F.col("drop_rule").isNull() | F.col("drop_rule").isin(
        "langid", "perplexity"
    )
    reaches_ppl = F.col("drop_rule").isNull() | (F.col("drop_rule") == "perplexity")
    a = (
        a.withColumn("lang", F.when(reaches_lang, F.col("lang")).otherwise("und"))
        .withColumn("lang_conf", F.when(reaches_lang, F.col("lang_conf")).otherwise(F.lit(0.0)))
        .withColumn("ppl", F.when(reaches_ppl, F.col("ppl")).otherwise(F.lit(float("nan"))))
    )
    a = a.withColumn(
        "transcript_scrubbed",
        F.when(F.col("keep"), scrub_col(F.col("transcript"))),
    )
    return a


def qc_output_select(ann: DataFrame) -> DataFrame:
    """The QC output projection, shared by run_qc and streaming.stream_qc
    (one contract, two execution modes — kneaddata's per-stage tmp files
    collapse into this single partitioned table, run.py:372-450).

    Payload contract for kept rows: `bytes` is the TRIMMED payload when
    JVM byte algebra can re-slice the codec (pcm/canonical-wav/fake
    containers — bytes_trimmed_col), else the ORIGINAL payload passes
    through with `needs_reencode=true` and the exact `trim_start`/
    `trim_end` sample bounds so an archival sink can re-encode (real FLAC
    since r5, non-canonical wavs). Passing the original through instead of
    NULL is the 100 TB-correct move: dropping a compressed payload the
    annotate stage chose to KEEP would lose data; the trim metadata makes
    the deferred re-encode exact (operators/flacarchive.reencode_trimmed
    is that sink; its pytest proves slice-equality)."""
    return ann.select(
        "clip_id",
        F.when(
            F.col("keep"), F.coalesce(F.col("bytes_trimmed"), F.col("bytes"))
        ).alias("bytes"),
        (
            F.col("keep") & F.col("bytes_trimmed").isNull() & F.col("decode_ok")
        ).alias("needs_reencode"),
        F.col("trim_start").cast("long").alias("trim_start"),
        F.col("trim_end").cast("long").alias("trim_end"),
        "sr_hz",
        F.when(F.col("keep"), F.col("kept_ms").cast("int"))
        .otherwise(F.col("dur_ms"))
        .alias("dur_ms"),
        "codec",
        F.when(F.col("keep"), F.col("transcript_scrubbed")).alias("transcript"),
        F.col("lang"),
        F.coalesce(F.col("drop_rule"), F.lit("kept")).alias("status"),
    )


@dataclass
class QcResult:
    out_path: str       # one table, partitioned by status (kept | <drop_rule>)
    kept_path: str      # partition subtree of out_path
    metrics: dict       # rule -> count, plus n_rows / n_kept / n_scrubbed


def run_qc(
    spark: SparkSession,
    clips: DataFrame,
    out_dir: str,
    langid_bc=None,
    ppl_bc=None,
) -> QcResult:
    """ONE map-only job: scan -> annotate -> write partitioned by status;
    metrics ride along via observe() (no second scan — kneaddata re-reads
    its files per stage; we deliberately don't)."""
    from pyspark.sql import Observation

    if langid_bc is None or ppl_bc is None:
        langid_bc, ppl_bc = broadcast_models(spark)
    ann = annotate(clips, langid_bc, ppl_bc)

    obs = Observation("qc_metrics")
    rule_counts = [
        F.sum(F.when(F.col("drop_rule") == r, 1).otherwise(0)).alias(f"drop_{r}")
        for r in rules.RULE_ORDER
    ]
    ann = ann.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum(
            (
                F.col("keep") & (F.col("transcript_scrubbed") != F.col("transcript"))
            ).cast("long")
        ).alias("n_scrubbed"),
        *rule_counts,
    )

    out = qc_output_select(ann)
    out_path = f"{out_dir}/clips_qc"
    out.write.mode("overwrite").partitionBy("status").parquet(out_path)
    # observe() sums are NULL over an empty input; normalize to 0 so callers
    # can always do arithmetic on the counters (kneaddata's empty-file gate)
    metrics = {k: (0 if v is None else v) for k, v in obs.get.items()}
    return QcResult(
        out_path=out_path, kept_path=f"{out_path}/status=kept", metrics=metrics
    )


def run_training_pipeline(
    spark: SparkSession,
    clips: DataFrame,
    out_dir: str,
    near_dup_threshold: float = 0.7,
) -> dict:
    """The full training-data shape end-to-end: QC -> exact transcript
    dedup -> MinHash-LSH near-dup screen -> final corpus table.

    Composition of the engine's stages exactly as a corpus build would run
    them: kept clips from the QC pass feed the dedup family (the corpus-
    level analog of the reference's per-sample pipeline, knead_data.py:
    534-568, with FastQC's corpus screens promoted to first-class stages).
    Near-dup policy: resolve the pair graph into connected components
    (dedup.dup_clusters) and keep the min-id row per CLUSTER — the
    reference's keep-first-occurrence convention (utilities.py:519-520)
    made transitive (a per-PAIR drop of id_b mangles chains a~b~c).
    Returns stage counters (the READ COUNT ladder); the two table counts
    ride their writes via observe() instead of re-reading the tables."""
    from pyspark.sql import Observation

    from .operators.dedup import dedup_exact, dup_clusters, minhash_dedup_pairs
    from .operators.setops import anti_join_ids

    qc = run_qc(spark, clips, out_dir)
    kept = spark.read.parquet(qc.out_path).where(F.col("status") == "kept").drop("status")

    uniq = dedup_exact(kept, "clip_id", "transcript")
    uniq_path = f"{out_dir}/clips_unique"
    uniq_obs = Observation("clips_unique")
    uniq.observe(uniq_obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(uniq_path)
    uniq = spark.read.parquet(uniq_path)

    near = minhash_dedup_pairs(
        uniq, "clip_id", "transcript", n=2, threshold=near_dup_threshold
    )
    clusters = dup_clusters(near)
    drop_ids = (
        clusters.where(F.col("id") != F.col("cluster_id"))
        .select(F.col("id").alias("clip_id"))
    )
    final = anti_join_ids(uniq, drop_ids, key="clip_id")
    final_path = f"{out_dir}/clips_final"
    final_obs = Observation("clips_final")
    final.observe(final_obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(final_path)

    # the near-dup stage's shingle frame is persisted (operators/caching);
    # the final corpus is on disk, so release it before returning
    from .operators.caching import release_tracked

    release_tracked()

    n_kept = int(qc.metrics["n_kept"])
    n_uniq = int(uniq_obs.get["n"])
    n_final = int(final_obs.get["n"])
    return {
        "n_rows": int(qc.metrics["n_rows"]),
        "n_kept": n_kept,
        "n_exact_unique": n_uniq,
        "n_final": n_final,
        "n_exact_dups_removed": n_kept - n_uniq,
        "n_near_dups_removed": n_uniq - n_final,
        "final_path": final_path,
    }
