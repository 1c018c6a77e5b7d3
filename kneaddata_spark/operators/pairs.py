"""Pair-policy operators (SURVEY.md §2.3 D2-D5) and order-sensitive
record ops (S6 first-occurrence dedup, D8 reorder).

The reference models a read pair as two physically separate files plus
orphan side files (run.py:390-396); pair state is recovered by an
in-memory dict keyed on read id (bowtie2_discordant_pairs.py:162-189).
Here a pair is just rows sharing a key with a ``mate`` column; pair-level
verdicts are window aggregates — one shuffle on the group key, no second
pass over the data (the reference re-reads its SAM file twice,
bowtie2_discordant_pairs.py:162,191).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pair_verdict(
    df: DataFrame,
    policy: str,
    key: str = "read_id",
    flag_col: str = "aligned",
) -> DataFrame:
    """Append ``pair_drop`` per the decontaminate-pairs policy.

    strict   — drop BOTH mates if EITHER aligns (promotion of the unaligned
               mate: bowtie2_discordant_pairs.py:183-189; default,
               knead_data.py:237-241) -> max(flag) over the pair.
    lenient  — drop the pair only if BOTH mates align (concordant-only
               bowtie2 --un-conc, run.py:126-139; knead_data.py:363-366)
               -> min(flag) over the pair.
    unpaired — per-row decision, forced for single-end
               (knead_data.py:360-361) -> the flag itself.
    """
    f = F.col(flag_col).cast("int")
    if policy == "unpaired":
        return df.withColumn("pair_drop", f == 1)
    w = Window.partitionBy(key)
    if policy == "strict":
        return df.withColumn("pair_drop", F.max(f).over(w) == 1)
    if policy == "lenient":
        return df.withColumn("pair_drop", F.min(f).over(w) == 1)
    raise ValueError(f"unknown policy {policy!r}")


def classify_pairs(
    df: DataFrame, key: str = "read_id", mate_col: str = "mate", flag_col: str = "aligned"
) -> DataFrame:
    """D2 discordant-pairs classifier as ONE groupBy (replaces the
    reference's two-pass SAM scan + two dicts,
    bowtie2_discordant_pairs.py:157-219): per key, emit mate presence and
    per-mate alignment verdicts, from which all 8 reference output routes
    ({pair1,pair2,orphan1,orphan2} x {aligned,unaligned}) derive."""
    m = F.col(mate_col)
    f = F.col(flag_col).cast("int")
    return df.groupBy(key).agg(
        F.max(F.when(m == 1, f)).alias("m1_aligned"),
        F.max(F.when(m == 2, f)).alias("m2_aligned"),
        F.count(F.when(m == 1, 1)).alias("m1_n"),
        F.count(F.when(m == 2, 1)).alias("m2_n"),
    )


def first_occurrence_dedup(
    df: DataFrame, key: str = "read_id", pos_col: str = "pos"
) -> DataFrame:
    """S6 exact parity: keep the FIRST occurrence per id, by input ordinal
    (sam_to_fastq removes the id from the pending set after first write,
    utilities.py:519-520)."""
    w = Window.partitionBy(key).orderBy(F.col(pos_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def shuffle_width(df: DataFrame) -> int:
    """The session's shuffle width (spark.sql.shuffle.partitions): the
    partition count of every explicit repartition in the operators."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based rank by `order_cols` WITHOUT a single-partition window
    (VERDICT r1 #2: `Window.orderBy(...)` plans every row through ONE task).

    The zipWithIndex shape, kept fully declarative: range-repartition on the
    order keys (a distributed sort), rank within each range partition, then
    add per-partition offsets. Offsets come from a triangular self-join over
    the (tiny, = #partitions rows) count frame — no global window anywhere,
    no driver collect. Rows with equal keys land in the same range
    partition, so ranks are exactly row_number() over a global sort.

    The ranged frame is persist_tracked (r5 correctness fix): the offsets
    subtree and the data subtree MUST see the SAME range partitioning.
    ReuseExchange used to be what aligned them, but it only fires when the
    two subtrees stay identical after optimization — a downstream
    projection that prunes columns on one side (e.g. an aggregate over a
    payload column the count side never reads) breaks reuse, and each
    range exchange then SAMPLES ITS OWN boundaries (RangePartitioner
    seeds per RDD), silently mis-ranking rows near partition edges
    (caught by the webdataset_manifest oracle at sf0.1). The persist pins
    ONE evaluation of the sort for both subtrees regardless of pruning
    (the cache is matched on the pre-pruning logical plan) — and drops
    the second sort ReuseExchange used to leave behind when it missed.
    Callers should rank slim projections (every in-repo caller ranks
    (id, key) columns; payload columns join back afterwards).
    """
    from .caching import persist_tracked

    cols = [F.col(c).asc() for c in order_cols]
    if num_partitions is None:
        num_partitions = shuffle_width(df)
    s = persist_tracked(
        df.repartitionByRange(num_partitions, *cols).withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    cnt = s.groupBy("__pid").agg(F.count("*").alias("__cnt"))
    offs = (
        cnt.alias("a")
        .join(cnt.alias("b"), F.col("b.__pid") < F.col("a.__pid"), "left")
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(F.coalesce(F.sum("b.__cnt"), F.lit(0)).alias("__off"))
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    return (
        s.join(F.broadcast(offs), "__pid")
        .withColumn(rank_col, (F.row_number().over(w) + F.col("__off")).cast("int"))
        .drop("__pid", "__off")
    )
