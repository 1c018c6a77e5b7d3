"""Sampling operators (SURVEY.md §2.6 O4/O5).

Reference semantics: Bernoulli keep-with-prob-p over records with a fixed
seed (db_preprocessing/downsample.py:8-32, random.seed(0)) and an exact-k
reservoir (db_preprocessing/reservoir.py:4-25).

Both are deterministic: multiplicative-hash filtering that yields the
SAME rows in any engine (used for the DuckDB oracle checks). Hash-based
sampling is also the scale-correct answer: no RNG state, stable under
retries and partition reshuffles — a property Spark's sample() does not
give across different partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KNUTH = 2654435761  # Fibonacci-hash multiplier
M32 = 4294967296


def det_hash(key: Column) -> Column:
    """Portable 32-bit multiplicative hash of an integer key: identical
    arithmetic evaluates in Spark SQL and DuckDB."""
    return (key.cast("long") * F.lit(KNUTH)) % F.lit(M32)


def bernoulli_deterministic(df: DataFrame, key: str, fraction: float) -> DataFrame:
    """O4: keep rows whose hashed key falls in the [0, fraction) slice."""
    return df.where(det_hash(F.col(key)) < int(fraction * M32))


def reservoir_deterministic(df: DataFrame, key: str, k: int) -> DataFrame:
    """O5: exact-k uniform-ish sample = top-k by hashed key. Same rows in
    any engine; one partial top-k per partition + tiny final merge (Spark's
    TakeOrderedAndProject), no full sort."""
    return df.orderBy(det_hash(F.col(key)).asc(), F.col(key).asc()).limit(k)


def weighted_reservoir_deterministic(
    df: DataFrame, key: str, weight_col: str, k: int
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (integer weights), exact-k,
    engine-portable: an item of weight w acts as w replicated copies,
    each copy gets an independent deterministic hash, the item's priority
    is the MIN copy-hash, and the k smallest priorities win.

    min of w iid uniforms ~ Beta(1, w), so P(item has the globally
    smallest priority) = w_i / sum(w) and the induced without-replacement
    draw is exactly A-RES weighted reservoir sampling — but with no RNG
    state: retries, partition reshuffles and a DuckDB replica all select
    the SAME rows. The float A-ES formulation (priority = -ln(u)/w) needs
    one transcendental per row and is NOT cross-engine bit-stable, which
    is why the portable variant replicates instead.

    Scale: explode inflates the scan by sum(w)/n — intended for bounded
    small integer weights (duration buckets, length//16, epoch counts).
    The aggregate is a map-side-combined min per key and the top-k is
    TakeOrderedAndProject (per-partition partial top-k + tiny merge), so
    nothing global materializes. Requires non-negative keys (the
    multiplicative hash feeds on key*K + copy*salt mod 2^32).
    """
    from .sketches import mix32

    w = F.greatest(F.lit(1), F.col(weight_col).cast("long"))
    copies = df.select(
        F.col(key), w.alias("__w"), F.explode(F.sequence(F.lit(1), w)).alias("__i")
    )
    ch = mix32(
        (F.col(key).cast("long") * F.lit(KNUTH) + F.col("__i") * F.lit(97)) % F.lit(M32)
    )
    pri = copies.select(key, "__w", ch.alias("__ch")).groupBy(key).agg(
        F.min("__ch").alias("priority"), F.min("__w").alias("weight")
    )
    return pri.orderBy(F.col("priority").asc(), F.col(key).asc()).limit(k)


def weighted_reservoir_sql(table_sql: str, key: str, weight_expr: str, k: int) -> str:
    """DuckDB replica of ``weighted_reservoir_deterministic``."""
    from .sketches import mix32_sql

    ch = mix32_sql(f"(({key}::BIGINT * {KNUTH}) + (i.i * 97)) % {M32}")
    return f"""
    WITH src AS ({table_sql}),
    w AS (SELECT {key}, greatest(1, ({weight_expr})::BIGINT) AS weight FROM src),
    copies AS (
      SELECT {key}, weight, ({ch}) AS ch
      FROM w, LATERAL (SELECT unnest(range(1, weight + 1)) AS i) i
    ),
    pri AS (SELECT {key}, min(ch) AS priority, min(weight) AS weight
            FROM copies GROUP BY {key})
    SELECT {key}, priority, weight FROM pri
    ORDER BY priority ASC, {key} ASC LIMIT {k}
    """
