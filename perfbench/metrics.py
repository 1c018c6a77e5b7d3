"""The benchmark's metric catalogue: name, unit, and which end-to-end metric
each one should move on which workload. ``BENCHMARK.json`` lists the same
names; ``run.py`` checks at every run that the two agree.

Every run prints every end-to-end metric; every traced run prints every
per-layer metric. A layer that a workload bypasses did no work there and
reads 0 (``q.*`` on ``qc_batch``, the QC layers on ``doc_queries``), which
is the "bypassed, predicted unchanged" side of each layer's pairing.
"""

from __future__ import annotations

CODECS = ("flac", "pcm_s16le", "pcm_u8", "wav", "opus", "mp3", "bogus")
DROP_RULES = (
    "dur_bounds", "sr_invalid", "codec_invalid", "decode_error",
    "post_trim_short", "clipping", "transcript_empty", "low_entropy",
    "repeat_run", "top_token", "langid", "perplexity",
)
DOC_QUERIES = (
    "minhash_dedup_pairs", "dup_clusters", "simhash_near_dups",
    "substring_dup_pairs", "paragraph_dedup", "pmi_collocations",
    "distinctive_terms", "rollup_lattice", "pii_report", "dedup_exact",
)


# name -> (unit, better, what it measures)
END_TO_END = {
    "wall_s": (
        "s", "lower",
        "best wall of the run's timed units of work over the seed's input: "
        "four run_qc passes after three warm-up ones (qc_batch; clips/s is "
        "printed too), or one noop-sink pass of the queries after the "
        "warm-up pass (doc_queries: suite_wall_s). The best, not the "
        "median, because other tenants' CPU steal only ever adds time",
    ),
    "cpu_s": (
        "s", "lower",
        "median CPU time (user + system) that the JVM, the Python workers "
        "and the driver spend on one unit of work; unlike wall_s it does "
        "not grow when other tenants take the machine's CPUs",
    ),
    "setup_s": (
        "s", "lower",
        "get_spark (which launches the JVM) + broadcast_models + a warm-up "
        "job that starts one Python worker per core",
    ),
}

# name -> (unit, moves: end-to-end metric on workload)
PER_LAYER = {
    "mem.peak_pss_mb": ("MB", "none gated: peak summed PSS of the JVM and Python workers"),
    "session.get_spark_s": ("s", "setup_s on all workloads"),
    "models.broadcast_s": ("s", "setup_s on all workloads"),
    "models.langid_us_per_text": ("us", "wall_s on qc_batch"),
    "models.ppl_us_per_text": ("us", "wall_s on qc_batch"),
    **{
        f"audio.us_per_clip.{c}": ("us", "wall_s on qc_batch; not doc_queries")
        for c in CODECS
    },
    "text.us_per_clip": ("us", "wall_s on qc_batch"),
    "scan.clips_noop_s": ("s", "wall_s on qc_batch"),
    "pipeline.annotate_noop_s": ("s", "wall_s on qc_batch"),
    "pipeline.run_qc_s": ("s", "wall_s on qc_batch"),
    "pipeline.sink_s": ("s", "wall_s on qc_batch"),
    "pipeline.out_bytes_per_in_byte": ("ratio", "wall_s on qc_batch"),
    "pipeline.n_kept": ("count", "wall_s on qc_batch (output volume)"),
    **{
        f"pipeline.drop.{r}": ("count", "wall_s on qc_batch (which kernels run)")
        for r in DROP_RULES
    },
    **{f"q.{n}_s": ("s", "wall_s on doc_queries") for n in DOC_QUERIES},
    **{f"q.{n}_tasks": ("count", "wall_s on doc_queries") for n in DOC_QUERIES},
    "trace.overhead_s": ("s", "none: traced unit wall minus the untraced median"),
}
