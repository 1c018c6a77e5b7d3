"""Temporal joins Spark's DataFrame API lacks as primitives — as-of join
and range (band) join — built as compositions of existing operators, per
the engine's custom-operator policy (composition > Pandas UDF > RDD).

Reference lineage: the reference's paired-read reconciliation walks two
time-ordered streams picking the latest matching record per key
(utilities.py:63-106 reorder + the SAM two-pass scan) — the as-of join is
that walk expressed as one window pass; the TRF chunk overlap check is a
band predicate (trf_parallel.py:141-204).

Scale shapes:
 - asof_join: union the two streams, ONE shuffle on the key, one ordered
   window pass carrying the last right-side payload forward
   (last(ignorenulls) over rows-unbounded-preceding). No per-key loops, no
   self-join, no range scan — the classic merge-join formulation of as-of,
   linear in total rows. Skewed keys behave like any window key (salt the
   key upstream if one user owns half the stream).
 - range_join: equi-join on (key, time-bucket) with the LEFT side exploded
   into the three adjacent buckets, then the exact band filter. Each
   candidate pair arises from exactly one (probe-bucket == right-bucket)
   combination, so no dedup pass is needed. The O(n*m) inequality join a
   naive plan produces becomes O(pairs-within-2*delta) — the band-join
   pattern AQE cannot derive on its own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    value_cols: list[str],
    seq: str,
    how: str = "backward",
) -> DataFrame:
    """For every left row, attach the value columns of the LATEST right
    row with right.ts <= left.ts for the same key (``backward``; ties at
    equal ts match, broken toward the largest ``seq``). Right rows must
    carry ``seq`` as a deterministic tiebreaker (retry idempotency).
    Returns the left rows + value_cols (NULL when no right row precedes).
    """
    if how != "backward":
        raise ValueError("only backward as-of is implemented")
    lcols = left.columns
    payload = F.struct(*[F.col(c) for c in value_cols])
    l_tag = left.select(
        *lcols,
        F.lit(0).alias("__is_r"),
        F.lit(None).cast("long").alias("__rseq"),
        F.lit(None).cast(
            right.select(payload.alias("p")).schema["p"].dataType.simpleString()
        ).alias("__payload"),
    )
    r_tag = right.select(
        F.col(key),
        F.col(ts),
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in lcols if c not in (key, ts)],
        F.lit(1).alias("__is_r"),
        F.col(seq).cast("long").alias("__rseq"),
        payload.alias("__payload"),
    ).select(*lcols, "__is_r", "__rseq", "__payload")
    u = l_tag.unionByName(r_tag)
    # right rows sort BEFORE left rows at equal ts (is_r desc) so an
    # equal-ts right row is visible to the left row; among equal-ts right
    # rows the largest seq sorts last and wins the `last()`
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("__is_r").desc(), F.col("__rseq").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = u.withColumn("__p", F.last("__payload", ignorenulls=True).over(w))
    out = carried.where(F.col("__is_r") == 0).select(
        *lcols, *[F.col(f"__p.{c}").alias(c) for c in value_cols]
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: Column,
    right_ts: Column,
    delta: int,
    left_cols: list[str],
    right_cols: list[str],
) -> DataFrame:
    """All (left, right) pairs sharing ``key`` with
    |left_ts - right_ts| <= delta (ts expressions must evaluate to epoch
    seconds / any integer timeline). Bucketed band join: left probes its
    own and both adjacent delta-buckets; exact filter after the equi-join.
    """
    l = left.select(key, left_ts.cast("long").alias("__lts"), *left_cols).withColumn(
        "__bucket",
        F.explode(
            F.array(
                F.expr(f"__lts div {delta} - 1"),
                F.expr(f"__lts div {delta}"),
                F.expr(f"__lts div {delta} + 1"),
            )
        ),
    )
    r = right.select(key, right_ts.cast("long").alias("__rts"), *right_cols).withColumn(
        "__bucket", F.expr(f"__rts div {delta}")
    )
    return (
        l.join(r, [key, "__bucket"])
        .where(F.abs(F.col("__lts") - F.col("__rts")) <= delta)
        .select(key, *left_cols, *right_cols, (F.col("__rts") - F.col("__lts")).alias("ts_diff"))
    )


def funnel_steps(
    ev: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: for steps [s1, s2, ..., sn], how many
    users performed s1, then later s2, ..., as an ordered SUBSEQUENCE of
    their event stream (other events may interleave) — the product-
    analytics staple over an events table.

    Plan: one shuffle on the user key (sort_array over
    (ts, tiebreak, type) structs — the event_sequences deterministic-
    ordering rule), then a single JVM `aggregate` HOF walks each user's
    type sequence advancing a step pointer (no Python, no per-step
    joins, no window). The per-user `reached` level reduces to a
    <= n+1-row histogram; cumulative step counts come from a tiny
    step x level cross join — nothing global. Output:
    (step_idx, step, n_users) with n_users = |users reaching >= idx|.
    """
    from pyspark.sql import functions as F

    n = len(steps)
    steps_arr = "array(" + ", ".join(f"'{s}'" for s in steps) + ")"
    seq = F.expr(
        f"transform(sort_array(collect_list(struct({ts_col}, {tiebreak_col}, "
        f"{type_col}))), x -> x.{type_col})"
    )
    reached = F.expr(
        f"aggregate(__seq, 0, (acc, t) -> CASE WHEN acc < {n} AND "
        f"t = element_at({steps_arr}, acc + 1) THEN acc + 1 ELSE acc END)"
    )
    per_user = (
        ev.groupBy(user_col)
        .agg(seq.alias("__seq"))
        .select(reached.alias("__reached"))
    )
    hist = per_user.groupBy("__reached").agg(F.count("*").cast("long").alias("__n"))
    ks = F.explode(
        F.arrays_zip(
            F.array(*[F.lit(i + 1) for i in range(n)]).alias("step_idx"),
            F.array(*[F.lit(s) for s in steps]).alias("step"),
        )
    ).alias("k")
    kframe = ev.sparkSession.range(1).select(ks).select("k.step_idx", "k.step")
    joined = F.broadcast(kframe).crossJoin(hist).where(
        F.col("__reached") >= F.col("step_idx")
    )
    return joined.groupBy("step_idx", "step").agg(
        F.sum("__n").cast("long").alias("n_users")
    ).select(F.col("step_idx").cast("long"), "step", "n_users")


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    anchor: str = "2024-01-01",
    week_days: int = 7,
) -> DataFrame:
    """Weekly cohort-retention grid: users cohorted by the week of their
    FIRST event (weeks are first-day-anchored `week_days`-day buckets
    counted from `anchor`), and each (cohort_week, offset_weeks) cell
    counts how many of them were active that many weeks later —
    retained_permille = 1000 * n_users div cohort_size, exact integer
    arithmetic (offset 0 is by construction the full cohort).

    Scale shape: the event stream pays ONE shuffle — a user-keyed window
    carries min(day) to every row (no first-events self-join, the
    asof_join rule), then (user, cohort, offset) dedup is map-side
    combinable and everything after is cohort-grid-sized (weeks x weeks
    rows). Cohort sizes come from the grid's own offset-0 cell via a
    cohort-keyed window over the TINY grid — the corpus is scanned once,
    no join-back. Day arithmetic is date-based (datediff from the
    anchor) so the DuckDB oracle agrees regardless of session timezone;
    days are non-negative by contract (events precede the anchor ->
    pick an earlier anchor).
    """
    d = df.select(
        F.col(user_col).alias("user_id"),
        F.datediff(F.col(ts_col).cast("date"), F.lit(anchor).cast("date"))
        .cast("long")
        .alias("day"),
    )
    w = Window.partitionBy("user_id")
    a = (
        d.withColumn("first_day", F.min("day").over(w))
        .select(
            "user_id",
            F.expr(f"first_day div {week_days}").alias("cohort_week"),
            F.expr(f"(day - first_day) div {week_days}").alias("offset_weeks"),
        )
        .distinct()
    )
    grid = a.groupBy("cohort_week", "offset_weeks").agg(
        F.count("*").cast("long").alias("n_users")
    )
    wc = Window.partitionBy("cohort_week")
    return (
        grid.withColumn(
            "cohort_size",
            F.max(
                F.when(F.col("offset_weeks") == 0, F.col("n_users"))
            ).over(wc),
        )
        .select(
            "cohort_week",
            "offset_weeks",
            "n_users",
            "cohort_size",
            F.expr("(n_users * 1000) div cohort_size").alias("retained_permille"),
        )
    )
