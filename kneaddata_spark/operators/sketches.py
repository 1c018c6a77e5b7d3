"""Mergeable sketch operators: HyperLogLog distinct-count and Count-Min
frequency estimation (SURVEY.md §2 "novel sketch" family; reference
lineage: kneaddata counts unique reads per stage exactly —
utilities.py log counters — which is the operation that stops scaling
first at 10^12 clips; a register/counter sketch is the standard
distributed answer).

Design constraints shared by both sketches:

 - INTEGER-ONLY portable arithmetic. Every hash, register and estimate
   is computed with BIGINT-safe multiply/mod/shift/xor/CASE so the
   driver's DuckDB oracle reproduces the exact same sketch — the gate
   then proves the distributed partial-aggregation identity (merge of
   per-partition registers == single-node sketch), which is the whole
   point of a mergeable sketch.
 - The avalanche mix keeps every intermediate < 2^63: inputs are
   reduced mod 2^32 first and both multipliers are < 2^31
   (x*K <= 2^32 * 1.55e9 ~ 6.6e18 < 9.2e18). Spark's `div` and
   DuckDB's `//` agree on non-negative operands (both truncate); no
   negative value ever enters a division.
 - Registers are ordinary rows, merged with max()/sum() — map-side
   combinable, two shuffles total, nothing driver-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

M32 = 1 << 32
MIX_K1 = 1315423911  # public Bernstein-style constant, < 2^31
MIX_K2 = 1540483477  # MurmurHash2 'M' constant, < 2^31


def mix32(x: Column) -> Column:
    """Portable 32-bit avalanche: multiply / xor-shift / multiply /
    xor-shift. Input must already be in [0, 2^32); output in [0, 2^32).
    Identical arithmetic exists in DuckDB (``mix32_sql``)."""
    h1 = (x * F.lit(MIX_K1)) % F.lit(M32)
    h2 = (h1.bitwiseXOR(F.shiftright(h1, 16)) * F.lit(MIX_K2)) % F.lit(M32)
    return h2.bitwiseXOR(F.shiftright(h2, 15))


def mix32_sql(expr: str) -> str:
    """DuckDB replica of ``mix32`` over an expression string (the caller
    guarantees the expression is in [0, 2^32))."""
    h1 = f"(({expr}) * {MIX_K1}) % {M32}"
    h2 = f"((xor(({h1}), ({h1}) >> 16)) * {MIX_K2}) % {M32}"
    return f"xor(({h2}), ({h2}) >> 15)"


# ---------------------------------------------------------------- HLL ----

HLL_P = 8  # 2^8 = 256 registers; standard error 1.04/sqrt(256) ~ 6.5%
HLL_M = 1 << HLL_P
HLL_WBITS = 32 - HLL_P  # remainder bits used for the rho (leading-zero) count
# alpha_256 = 0.7213/(1 + 1.079/256) scaled to parts-per-million so the
# estimate is one integer multiply + one integer divide on both engines
HLL_ALPHA_PPM = 718273


def _rho(w: Column) -> Column:
    """rho = (number of leading zeros of the WBITS-bit word) + 1, via an
    explicit threshold CASE chain — no log2/bin() portability risk."""
    expr = F.lit(HLL_WBITS + 1)  # w == 0
    # build from smallest threshold up so the final expression checks the
    # largest threshold first (F.when chains evaluate in order)
    chain = F.when(w >= F.lit(1 << (HLL_WBITS - 1)), F.lit(1))
    for r in range(2, HLL_WBITS + 1):
        chain = chain.when(w >= F.lit(1 << (HLL_WBITS - r)), F.lit(r))
    return chain.otherwise(expr)


def _rho_sql(w: str) -> str:
    branches = " ".join(
        f"WHEN ({w}) >= {1 << (HLL_WBITS - r)} THEN {r}"
        for r in range(1, HLL_WBITS + 1)
    )
    return f"(CASE {branches} ELSE {HLL_WBITS + 1} END)"


def hll_registers(df: DataFrame, key: str, group_cols: list[str]) -> DataFrame:
    """Per-group HLL register table: (group..., __bucket, __m). One
    projection computes bucket (top p bits of the mixed hash) and rho
    (leading zeros of the remainder + 1); groupBy(group, bucket).max(rho)
    is map-side combined, so each partition ships at most m rows per
    group. The register table IS the persistable sketch state: two
    register tables merge with ``hll_merge_registers`` (max per bucket)
    and fold with ``hll_fold`` — the incremental-ingest shape."""
    # pmod, not % (ADVICE r4): Spark % preserves the dividend's sign, so a
    # negative key would silently violate mix32's [0, 2^32) precondition
    # (negative buckets, > m register rows per group, degraded estimate)
    h = mix32(F.pmod(F.col(key).cast("long"), F.lit(M32)))
    bucketed = df.select(
        *group_cols,
        F.shiftright(h, HLL_WBITS).alias("__bucket"),
        _rho(h % F.lit(1 << HLL_WBITS)).alias("__rho"),
    )
    return bucketed.groupBy(*group_cols, "__bucket").agg(
        F.max("__rho").alias("__m")
    )


def hll_merge_registers(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge two register tables (max per bucket): exactly the union
    semantics of the underlying sets — sketch(A) ⊔ sketch(B) ==
    sketch(A ∪ B), which the incremental_distinct oracle proves by
    computing the right-hand side directly."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "__bucket")
        .agg(F.max("__m").alias("__m"))
    )


def hll_fold(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Fold a register table into the per-group estimate. Integer-exact:
    a register M contributes 2^(WBITS+1-M) to a scaled Z-sum, empty
    registers contribute 2^(WBITS+1), and

        est = ALPHA_PPM * m^2 * 2^(WBITS+1) // (10^6 * zsum)

    stays < 2^61 throughout. Raw estimate (no small-range correction) is
    emitted with the register sum so a coordinator can re-merge later."""
    scale = HLL_WBITS + 1
    # python F.shiftleft() only takes an int bit-count; the SQL builtin
    # accepts a column expression for it
    zsum_seen = F.expr(f"sum(shiftleft(cast(1 as bigint), {scale} - __m))").cast("long")
    seen = F.count("*").cast("long")
    out = regs.groupBy(*group_cols).agg(
        seen.alias("seen_buckets"),
        (zsum_seen + (F.lit(HLL_M) - seen) * F.lit(1 << scale)).alias("zsum"),
    )
    num = HLL_ALPHA_PPM * HLL_M * HLL_M * (1 << scale)
    return out.select(
        *group_cols,
        "seen_buckets",
        "zsum",
        F.expr(f"{num} div (1000000 * zsum)").cast("long").alias("est_distinct"),
    )


def hll_distinct(df: DataFrame, key: str, group_cols: list[str]) -> DataFrame:
    """Per-group HyperLogLog distinct estimate of an integer key:
    ``hll_registers`` then ``hll_fold`` (see those for the plan shape and
    the integer-exact fold contract)."""
    return hll_fold(hll_registers(df, key, group_cols), group_cols)


def hll_distinct_sql(table_sql: str, key: str, group_cols: list[str]) -> str:
    """DuckDB replica of ``hll_distinct`` (same constants, same CASE
    chain, same scaled integer fold)."""
    g = ", ".join(group_cols)
    # ((x % m) + m) % m: DuckDB % also preserves sign; mirror Spark's pmod
    h = mix32_sql(f"((({key}::BIGINT) % {M32} + {M32}) % {M32})")
    scale = HLL_WBITS + 1
    num = HLL_ALPHA_PPM * HLL_M * HLL_M * (1 << scale)
    return f"""
    WITH src AS ({table_sql}),
    b AS (
      SELECT {g}, (({h}) >> {HLL_WBITS}) AS bucket,
             {_rho_sql(f"({h}) % {1 << HLL_WBITS}")} AS rho
      FROM src
    ),
    regs AS (SELECT {g}, bucket, max(rho) AS m FROM b GROUP BY {g}, bucket),
    folded AS (
      SELECT {g}, count(*)::BIGINT AS seen_buckets,
             (sum((1::BIGINT << ({scale} - m)))::BIGINT
              + ({HLL_M} - count(*)::BIGINT) * {1 << scale}) AS zsum
      FROM regs GROUP BY {g}
    )
    SELECT {g}, seen_buckets, zsum,
           ({num} // (1000000 * zsum))::BIGINT AS est_distinct
    FROM folded
    """


# ---------------------------------------------------------- Count-Min ----

CMS_D = 4  # hash rows
CMS_W_BITS = 10  # 1024 counters per row
CMS_W = 1 << CMS_W_BITS
CMS_ROW_SALT = 1000003  # per-row hash offset multiplier


def _cms_col(h32: Column, row: int) -> Column:
    """Counter column for hash row ``row``: top CMS_W_BITS bits of the
    re-mixed (hash + row*salt) value."""
    return F.shiftright(
        mix32((h32 + F.lit(row * CMS_ROW_SALT)) % F.lit(M32)), 32 - CMS_W_BITS
    )


def cms_build(tokens: DataFrame, hash_col: str = "__h32") -> DataFrame:
    """Count-Min sketch over a token stream: d x w counter rows.

    One explode (d rows per token) + one map-side-combined count — the
    sketch is at most d*w = 4096 rows regardless of corpus size, and two
    sketches merge by summing counters (same groupBy), which is what
    makes it usable as an incremental corpus-frequency monitor."""
    h = F.col(hash_col)
    cells = tokens.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"), _cms_col(h, r).alias("col")
                    )
                    for r in range(CMS_D)
                ]
            )
        ).alias("c")
    ).select("c.row", "c.col")
    return cells.groupBy("row", "col").agg(F.count("*").cast("long").alias("cnt"))


def cms_estimate(sketch: DataFrame, probes: DataFrame, hash_col: str = "__h32") -> DataFrame:
    """Point-estimate counts for a (small) probe frame carrying the same
    32-bit hash: explode the d cells per probe, LEFT-join against the
    (<= d*w row, broadcast) sketch, min(coalesce(cnt, 0)) over rows. The
    left join matters (ADVICE r4): a probe key whose cells are all absent
    has true count 0 and must return cms_est = 0, not vanish — and min()
    must range over all d rows, with absent cells counting as 0, which is
    the canonical CMS estimate. CMS guarantees est >= true count
    (one-sided error), asserted in tests."""
    h = F.col(hash_col)
    probe_cells = probes.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("row"), _cms_col(h, r).alias("col"))
                    for r in range(CMS_D)
                ]
            )
        ).alias("c"),
    ).select(*[c for c in probes.columns], "c.row", "c.col")
    joined = probe_cells.join(F.broadcast(sketch), ["row", "col"], "left")
    keep = [c for c in probes.columns if c != hash_col]
    return joined.groupBy(*keep).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0)).cast("long")).alias("cms_est")
    )


# ------------------------------------------------- log-bucket quantiles ----

# The third classic mergeable sketch (after cardinality and frequency):
# rank/quantile estimation from a log-scaled histogram. Bucket =
# 4*floor(log2(v)) + next-2-mantissa-bits — every octave splits in 4, so
# any quantile lands in a bucket whose [lo, hi] spans a <= 25% relative
# range. Counts merge by SUM (shard/batch/stream all compose), the
# per-group state is <= ~130 rows for 32-bit values, and everything is
# integer CASE/shift arithmetic reproducible in DuckDB.

QB_BITS = 31  # supported value range [0, 2^31)


def _msb_chain_branches(bits: int):
    """(threshold, msb) pairs from the top down for a CASE chain."""
    return [(1 << e, e) for e in range(bits - 1, -1, -1)]


def log_bucket(v: Column) -> Column:
    """Monotone log-scale bucket id for a non-negative integer column:
    0 for v <= 0 is INVALID (caller filters); v in [1, 3] -> v - 1;
    v >= 4 -> 4*msb(v) + ((v >> (msb-2)) & 3). Monotone in v, so rank
    queries against bucket cumsums are order-correct."""
    chain = None
    for t, e in _msb_chain_branches(QB_BITS):
        if e < 2:
            continue
        b = F.lit(4 * e) + (F.shiftright(v, e - 2) % F.lit(4))
        chain = F.when(v >= F.lit(t), b) if chain is None else chain.when(
            v >= F.lit(t), b
        )
    return chain.otherwise(v - F.lit(1)).cast("long")


def log_bucket_sql(expr: str) -> str:
    branches = " ".join(
        f"WHEN ({expr}) >= {t} THEN (4 * {e} + (({expr}) >> {e - 2}) % 4)"
        for t, e in _msb_chain_branches(QB_BITS)
        if e >= 2
    )
    return f"(CASE {branches} ELSE ({expr}) - 1 END)"


def _bucket_lo(b: Column) -> Column:
    """Inverse mapping: smallest v in bucket b (closed-form integer)."""
    e = F.expr("__bucket div 4")
    m = F.col("__bucket") % F.lit(4)
    big = F.expr("shiftleft(4 + (__bucket % 4), (__bucket div 4) - 2)")
    return F.when(b < F.lit(8), b + F.lit(1)).otherwise(big).cast("long")


def _bucket_hi(b: Column) -> Column:
    width = F.expr("shiftleft(cast(1 as bigint), (__bucket div 4) - 2)")
    return F.when(b < F.lit(8), b + F.lit(1)).otherwise(
        _bucket_lo(b) + width - F.lit(1)
    ).cast("long")


def quantile_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    q_permille: list[int] = (500, 900, 990),
) -> DataFrame:
    """Per-group quantile estimates from the log-bucket histogram.

    Plan: one map-side-combined count per (group, bucket); cumulative
    rank via a KEYED window over the <=130-bucket frame (partitionBy
    group — never a global window); quantile q = the first bucket whose
    cumulative count reaches ceil(q * n / 1000), selected by the
    standard cum-prev < target <= cum band join against the exploded
    quantile list. Emits the bucket's integer [lo, hi] envelope — the
    true quantile provably lies inside it (monotone bucketing), pytest
    checks exactly that. Values must be in [1, 2^31); rows outside drop.
    """
    from pyspark.sql import Window as W

    v = F.col(value_col).cast("long")
    src = df.where(v >= 1).where(v < F.lit(1 << QB_BITS))
    counts = src.select(*group_cols, log_bucket(v).alias("__bucket")).groupBy(
        *group_cols, "__bucket"
    ).agg(F.count("*").cast("long").alias("__n"))
    w = W.partitionBy(*group_cols).orderBy("__bucket")
    cum = counts.select(
        *group_cols,
        "__bucket",
        "__n",
        F.sum("__n").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("__cum"),
    )
    tot = counts.groupBy(*group_cols).agg(F.sum("__n").cast("long").alias("__tot"))
    qf = F.explode(
        F.array(*[F.lit(int(q)) for q in q_permille])
    ).alias("q_permille")
    want = tot.select(*group_cols, "__tot", qf).select(
        *group_cols,
        "__tot",
        "q_permille",
        # ceil(q * tot / 1000) in integers: (q*tot + 999) div 1000
        F.expr("(q_permille * __tot + 999) div 1000").cast("long").alias("__target"),
    )
    j = cum.join(want, group_cols).where(
        (F.col("__cum") >= F.col("__target"))
        & (F.col("__cum") - F.col("__n") < F.col("__target"))
    )
    return j.select(
        *group_cols,
        "q_permille",
        F.col("__bucket").alias("bucket"),
        _bucket_lo(F.col("__bucket")).alias("lo"),
        _bucket_hi(F.col("__bucket")).alias("hi"),
        F.col("__cum").alias("n_le"),
        F.col("__tot").alias("n_total"),
    )


def quantile_sketch_sql(
    table_sql: str, value_expr: str, group_cols: list[str], q_permille=(500, 900, 990)
) -> str:
    g = ", ".join(group_cols)
    qvals = ", ".join(f"({int(q)})" for q in q_permille)
    b = log_bucket_sql(f"v")
    return f"""
    WITH src AS (
      SELECT {g}, ({value_expr})::BIGINT AS v FROM ({table_sql}) s0
      WHERE ({value_expr})::BIGINT >= 1 AND ({value_expr})::BIGINT < {1 << QB_BITS}
    ),
    counts AS (
      SELECT {g}, {b} AS bucket, count(*)::BIGINT AS n
      FROM src GROUP BY {g}, {b}
    ),
    cum AS (
      SELECT {g}, bucket, n,
             sum(n) OVER (PARTITION BY {g} ORDER BY bucket
                          ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
      FROM counts
    ),
    tot AS (SELECT {g}, sum(n)::BIGINT AS tot FROM counts GROUP BY {g}),
    want AS (
      SELECT {g}, tot, q.q AS q_permille,
             ((q.q * tot + 999) // 1000)::BIGINT AS target
      FROM tot, (VALUES {qvals}) q(q)
    )
    SELECT c.{', c.'.join(group_cols)}, w.q_permille, c.bucket,
           (CASE WHEN c.bucket < 8 THEN c.bucket + 1
                 ELSE (4 + (c.bucket % 4)) << ((c.bucket // 4) - 2) END)::BIGINT AS lo,
           (CASE WHEN c.bucket < 8 THEN c.bucket + 1
                 ELSE ((4 + (c.bucket % 4)) << ((c.bucket // 4) - 2))
                      + (1::BIGINT << ((c.bucket // 4) - 2)) - 1 END)::BIGINT AS hi,
           c.cum AS n_le, w.tot AS n_total
    FROM cum c JOIN want w ON {' AND '.join(f'c.{x} = w.{x}' for x in group_cols)}
    WHERE c.cum >= w.target AND c.cum - c.n < w.target
    """


def hll_overlap(df: DataFrame, key: str, set_col: str) -> DataFrame:
    """Set-overlap estimation from HLL register algebra: for every pair
    of sets (values of ``set_col``), est(|A ∩ B|) by inclusion-exclusion
    est(A) + est(B) - est(A ∪ B), where est(A ∪ B) folds the max-merged
    registers — no rescan, no join of the underlying rows.

    The audience-overlap / cross-source-contamination question at
    10^12 rows: the raw data is scanned ONCE (register build); every
    pairwise union after that is an O(m) register merge. Emitted
    est_inter can be slightly negative on near-disjoint sets (standard
    inclusion-exclusion noise) — clamped at 0, with the three raw
    estimates emitted so the caller sees the arithmetic."""
    regs = hll_registers(df, key, [set_col]).withColumnRenamed(set_col, "__set")
    singles = hll_fold(regs, ["__set"]).select(
        "__set", F.col("est_distinct").alias("__est")
    )
    # union registers must cover buckets present in EITHER set (an inner
    # join on bucket would silently treat one-sided buckets as empty and
    # overestimate the union's Z-sum): enumerate the tiny pair frame,
    # tag each side's registers with it, max-merge
    sets = regs.select("__set").distinct()
    pairs = (
        sets.select(F.col("__set").alias("set_a"))
        .crossJoin(sets.select(F.col("__set").alias("set_b")))
        .where(F.col("set_a") < F.col("set_b"))
    )
    tagged = (
        F.broadcast(pairs)
        .join(regs, pairs["set_a"] == regs["__set"])
        .select("set_a", "set_b", "__bucket", "__m")
        .unionByName(
            F.broadcast(pairs)
            .join(regs, pairs["set_b"] == regs["__set"])
            .select("set_a", "set_b", "__bucket", "__m")
        )
    )
    pair_regs = tagged.groupBy("set_a", "set_b", "__bucket").agg(
        F.max("__m").alias("__m")
    )
    unions = hll_fold(pair_regs, ["set_a", "set_b"]).select(
        "set_a", "set_b", F.col("est_distinct").alias("est_union")
    )
    ea = singles.select(F.col("__set").alias("set_a"), F.col("__est").alias("est_a"))
    eb = singles.select(F.col("__set").alias("set_b"), F.col("__est").alias("est_b"))
    out = unions.join(F.broadcast(ea), "set_a").join(F.broadcast(eb), "set_b")
    return out.select(
        "set_a",
        "set_b",
        "est_a",
        "est_b",
        "est_union",
        F.greatest(
            F.lit(0), (F.col("est_a") + F.col("est_b") - F.col("est_union"))
        ).cast("long").alias("est_inter"),
    )


def hll_overlap_sql(table_sql: str, key: str, set_col: str) -> str:
    """DuckDB replica of ``hll_overlap`` (same registers, same merges,
    same folds — bit-identical estimates)."""
    h = mix32_sql(f"((({key}::BIGINT) % {M32} + {M32}) % {M32})")
    scale = HLL_WBITS + 1
    num = HLL_ALPHA_PPM * HLL_M * HLL_M * (1 << scale)
    fold = (
        f"(sum((1::BIGINT << ({scale} - m)))::BIGINT"
        f" + ({HLL_M} - count(*)::BIGINT) * {1 << scale})"
    )
    return f"""
    WITH src AS ({table_sql}),
    b AS (
      SELECT {set_col} AS s, (({h}) >> {HLL_WBITS}) AS bucket,
             {_rho_sql(f"({h}) % {1 << HLL_WBITS}")} AS rho
      FROM src
    ),
    regs AS (SELECT s, bucket, max(rho) AS m FROM b GROUP BY s, bucket),
    singles AS (
      SELECT s, ({num} // (1000000 * {fold}))::BIGINT AS est
      FROM regs GROUP BY s
    ),
    sets AS (SELECT DISTINCT s FROM regs),
    pairs AS (SELECT a.s AS set_a, b.s AS set_b
              FROM sets a JOIN sets b ON a.s < b.s),
    tagged AS (
      SELECT p.set_a, p.set_b, r.bucket, r.m
      FROM pairs p JOIN regs r ON r.s = p.set_a
      UNION ALL
      SELECT p.set_a, p.set_b, r.bucket, r.m
      FROM pairs p JOIN regs r ON r.s = p.set_b
    ),
    pair_regs AS (
      SELECT set_a, set_b, bucket, max(m) AS m
      FROM tagged GROUP BY set_a, set_b, bucket
    ),
    unions AS (
      SELECT set_a, set_b, ({num} // (1000000 * {fold}))::BIGINT AS est_union
      FROM pair_regs GROUP BY set_a, set_b
    )
    SELECT u.set_a, u.set_b, ea.est AS est_a, eb.est AS est_b, u.est_union,
           greatest(0, ea.est + eb.est - u.est_union)::BIGINT AS est_inter
    FROM unions u
    JOIN singles ea ON u.set_a = ea.s
    JOIN singles eb ON u.set_b = eb.s
    """
