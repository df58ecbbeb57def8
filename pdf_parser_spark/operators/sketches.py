"""Distinct-count sketching: a KMV (k-minimum-values) estimator.

Engine-built-in HLL sketches (`approx_count_distinct`) differ between
Spark and DuckDB, so they can't be oracle-checked value-for-value. KMV
over the deterministic md5-derived hash IS: both engines keep the k
smallest 60-bit hashes per group and apply the same estimator
``(k-1) / (max_kth_hash / 2^60)`` — identical arithmetic, identical
result, still one shuffle and O(k) state per group at any scale.

Estimator: Bar-Yossef et al., "Counting distinct elements in a data
stream" (RANDOM 2002) — the classic KMV bottom-k construction.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.operators.dedup import md5_long

HASH_SPACE = float(1 << 60)  # md5_long yields 15 hex chars = 60 bits


def _partial_bottom_k(group_col: str, k: int):
    """Per-task partial sketch: for each group seen in this input
    partition, keep only its k smallest distinct hashes. State is
    bounded at k values per group per task; the pass is narrow (no
    shuffle) — the map-side combiner the round-1 plan lacked (the old
    window row_number sorted EVERY distinct hash of a group on one
    reducer, a scale-killer for high-cardinality groups)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: dict[object, list] = {}
        for pdf in batches:
            # dropna=False: a NULL group key is a group like any other
            # (matching Spark's groupBy and the oracle's window
            # partition). NULL hashes never reach here — they are
            # filtered JVM-side so the Arrow column stays exact int64.
            # Keys normalize to None: a fresh NaN per batch would never
            # match `g in state` (nan != nan) and fragment the NULL
            # group into one bounded sketch PER BATCH.
            for g, sub in pdf.groupby(group_col, sort=False, dropna=False)["h"]:
                key = None if pd.isna(g) else g
                merged = pd.concat([pd.Series(state[key]), sub]) if key in state else sub
                state[key] = merged.drop_duplicates().nsmallest(k).tolist()
        yield pd.DataFrame(
            [(g, h) for g, hs in state.items() for h in hs],
            columns=[group_col, "h"],
        )

    return run


def kmv_distinct(
    df: DataFrame, group_col: str, value_col: str, k: int = 8
) -> DataFrame:
    """Per-group approximate distinct count of ``value_col``.

    Exact when a group has fewer than k distinct values (the sketch
    holds them all); the KMV estimate otherwise.

    Physical plan: two-phase bottom-k. Phase 1 (narrow) computes a
    partial bottom-k sketch per (group, task) — bottom-k of a union is
    the bottom-k of the per-part bottom-k's, so this is algebraic, like
    a partial aggregate. Phase 2 shuffles only the ≤ k·tasks candidate
    hashes per group and merges with sort+slice on arrays of ≤ k·tasks
    elements. The estimate is identical to the single-pass form (and to
    the DuckDB oracle's window formulation) at any partitioning."""
    # NULL hashes (NULL values) are excluded JVM-side, BEFORE the Arrow
    # transfer: COUNT(DISTINCT) semantics don't count NULLs, and — the
    # sharper reason — a null in a bigint batch makes pandas receive the
    # column as float64, whose 53-bit mantissa silently rounds the
    # 60-bit hashes (the same value then merges as TWO distinct hashes
    # when partitions disagree on nullability)
    # group keys travel through the pandas stage AS STRINGS: a nullable
    # numeric group column would otherwise arrive as float64 (the same
    # 53-bit-mantissa corruption the h-filter above prevents for
    # hashes, but on the GROUP KEY). The encoding is chosen per dtype
    # so the round trip is lossless AND grouping-faithful: binary keys
    # go through base64 (a plain string cast replaces invalid UTF-8
    # with U+FFFD, merging distinct keys); float/double normalize -0.0
    # to 0.0 first (Spark's groupBy merges them, their strings differ);
    # everything else round-trips through a plain string cast exactly.
    from pyspark.sql.types import BinaryType, DoubleType, FloatType

    dt = df.schema[group_col].dataType
    gtype = dt.simpleString()
    gcol = F.col(group_col)
    if isinstance(dt, BinaryType):
        enc = F.base64(gcol)
        def dec(c):
            return F.unbase64(c)
    elif isinstance(dt, (FloatType, DoubleType)):
        enc = F.when(gcol == 0, F.lit(0).cast(gtype)).otherwise(gcol).cast("string")
        def dec(c):
            return c.cast(gtype)
    else:
        enc = gcol.cast("string")
        def dec(c):
            return c.cast(gtype)
    hashed = df.select(
        enc.alias(group_col),
        md5_long(F.col(value_col)).alias("h"),
    ).filter(F.col("h").isNotNull())
    partials = hashed.mapInPandas(
        _partial_bottom_k(group_col, k), schema=f"{group_col} string, h bigint"
    )
    agg = partials.groupBy(group_col).agg(
        F.slice(F.array_sort(F.array_distinct(F.collect_list("h"))), 1, k).alias("bk")
    )
    n_kept = F.size("bk")
    kth = F.element_at(F.col("bk"), n_kept)
    est = F.when(n_kept < k, n_kept.cast("double")).otherwise(
        F.lit(float(k - 1)) / (kth / F.lit(HASH_SPACE))
    )
    return agg.select(
        dec(F.col(group_col)).alias(group_col),
        F.round(est, 2).alias("distinct_est"),
        n_kept.cast("bigint").alias("sketch_size"),
    )


def _hll_consts(p: int) -> tuple[int, int, int, float]:
    """(m, w_bits, max_rank, alpha·m²·2^max_rank−1 scaling constant).
    The estimator constant is folded into ONE Python float so both
    engines evaluate a single literal-over-integer division — no
    multiplication-association drift."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4,16], got {p}")
    m = 1 << p
    w_bits = 60 - p  # md5_long yields 60-bit hashes
    max_rank = w_bits + 1
    alpha = 0.7213 / (1 + 1.079 / m)
    # the register sum S carries Σ 2^(max_rank − M_j), i.e. the
    # harmonic sum scaled by 2^max_rank — the constant must unscale by
    # the SAME power: E = α·m²·2^max_rank / S
    c = alpha * m * m * float(1 << max_rank)
    return m, w_bits, max_rank, c


def hll_distinct(
    df: DataFrame, group_col: str, value_col: str, p: int = 8
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate (Flajolet et al.
    2007), built from scratch in pure Catalyst so an external oracle
    reproduces it BIT-EXACTLY (the engine-native
    ``approx_count_distinct`` sketches differ between engines and
    can't be value-checked):

    - bucket = low ``p`` bits of the 60-bit md5 hash; rank = leading
      zeros of the remaining ``60-p`` bits + 1 (via ``length(bin(w))``
      — integer arithmetic, no log2 float edge cases);
    - registers = ``max(rank)`` per (group, bucket) — ONE partial-
      aggregatable groupBy, O(m) state per group;
    - the harmonic sum is carried as the INTEGER ``Σ 2^(max_rank −
      reg_j)`` (empty registers contribute ``2^max_rank``), so
      register-merge order cannot perturb it — the only float ops are
      one literal/integer division and the small-range linear-counting
      branch (``m·ln(m/V)`` when the raw estimate ≤ 2.5m and empty
      registers exist).

    Scale posture: two partial-aggregatable groupBys (the second on
    ``m·|groups|`` rows); the shuffle carries register rows, never
    values. Mergeable across shards: build register tables per shard
    with :func:`hll_registers`, union them, and estimate once with
    :func:`hll_estimate` — the standard HLL union (register-wise max),
    pinned exactly-equal to the single-pass sketch by test."""
    return hll_estimate(hll_registers(df, group_col, value_col, p), group_col, p)


def hll_registers(
    df: DataFrame, group_col: str, value_col: str, p: int = 8
) -> DataFrame:
    """The sketch STATE: ``(group, bucket, mj)`` — max rank per
    register. This is the shard-local artifact at 100 TB: each
    shard/partition/day builds its own register table (O(m) rows per
    group), tables union with register-wise max (``hll_merge`` is just
    the same groupBy-max over the union — max is associative and
    idempotent), and the estimate is computed once at the end."""
    m, w_bits, max_rank, _ = _hll_consts(p)
    h = md5_long(F.col(value_col))
    sel = (
        df.select(F.col(group_col), h.alias("h"))
        .filter(F.col("h").isNotNull())
        .select(
            group_col,
            F.pmod(F.col("h"), F.lit(m)).alias("bucket"),
            F.expr(f"h div {m}").alias("w"),
        )
    )
    rank = F.when(F.col("w") == 0, F.lit(max_rank)).otherwise(
        F.lit(max_rank) - F.length(F.bin(F.col("w")))
    )
    return (
        sel.select(group_col, "bucket", rank.alias("rank"))
        .groupBy(group_col, "bucket")
        .agg(F.max("rank").alias("mj"))
    )


def hll_merge(*register_tables: DataFrame) -> DataFrame:
    """HLL union of shard register tables: register-wise max."""
    from functools import reduce

    u = reduce(DataFrame.unionByName, register_tables)
    gcols = [c for c in u.columns if c not in ("bucket", "mj")]
    return u.groupBy(*gcols, "bucket").agg(F.max("mj").alias("mj"))


def hll_estimate(reg: DataFrame, group_col: str, p: int = 8) -> DataFrame:
    """Estimate from a register table (built by :func:`hll_registers`
    or merged by :func:`hll_merge`)."""
    m, w_bits, max_rank, c = _hll_consts(p)
    agg = reg.groupBy(group_col).agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {max_rank} - mj)")
        ).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    v = F.lit(m) - F.col("n_present")
    s = F.col("s_present") + v * F.lit(1 << max_rank)
    e_raw = F.lit(c) / s
    est = F.when(
        (v > 0) & (e_raw <= 2.5 * m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(e_raw)
    return agg.select(
        group_col,
        F.round(est, 2).alias("distinct_est"),
        s.cast("bigint").alias("register_sum"),
        v.cast("bigint").alias("empty_registers"),
    )


def hll_oracle_sql(table: str, group_col: str, value_col: str, p: int = 8) -> str:
    """The identical HLL computation in ANSI SQL for the DuckDB oracle
    — same bucket split, same integer register sum, same single-
    division estimator constant."""
    m, w_bits, max_rank, c = _hll_consts(p)
    return f"""
WITH h AS (
  SELECT {group_col},
         CAST(concat('0x', substr(md5({value_col}), 1, 15)) AS BIGINT) AS h
  FROM {table} WHERE {value_col} IS NOT NULL),
b AS (SELECT {group_col}, h % {m} AS bucket, h // {m} AS w FROM h),
r AS (SELECT {group_col}, bucket,
             max(CASE WHEN w = 0 THEN {max_rank}
                      ELSE {max_rank} - length(bin(w)) END) AS mj
      FROM b GROUP BY 1, 2),
a AS (SELECT {group_col},
             sum(CAST(1 AS BIGINT) << ({max_rank} - mj)) AS s_present,
             count(*) AS n_present
      FROM r GROUP BY 1),
f AS (SELECT {group_col},
             s_present + ({m} - n_present) * (CAST(1 AS BIGINT) << {max_rank}) AS s,
             {m} - n_present AS v
      FROM a)
SELECT {group_col},
       round(CASE WHEN v > 0 AND {c!r} / s <= {2.5 * m}
                  THEN {float(m)!r} * ln({float(m)!r} / v)
                  ELSE {c!r} / s END, 2) AS distinct_est,
       CAST(s AS BIGINT) AS register_sum,
       CAST(v AS BIGINT) AS empty_registers
FROM f ORDER BY {group_col}
"""


def cms_build(
    df: DataFrame, value_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of ``value_col``
    frequencies: ``depth`` independent hash rows × ``width`` counters,
    ``(row, bucket, cnt)``. Point estimate = min over rows of the
    counter the value hashes to — always ≥ the true count (collisions
    only ADD), with error ≤ 2N/width at ≥ 1−(1/2)^depth probability.

    Scale posture: one narrow projection fans each value to its
    ``depth`` (row, bucket) cells, then ONE partial-aggregatable
    groupBy — the shuffle carries at most depth×width counter rows per
    task, never values. Sketches merge by adding counters cell-wise
    (sums are associative), so shard-local sketches union for free.
    All integer arithmetic — an external oracle reproduces it
    bit-exactly (unlike sampled/randomized counters)."""
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1, width >= 2; got {depth}, {width}")
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                F.pmod(md5_long(F.col(value_col), f"cms{i}"), F.lit(width)).alias(
                    "bucket"
                ),
            )
            for i in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("c"))
        .select(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_query(
    cms: DataFrame, items: DataFrame, value_col: str, depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-estimate the frequency of every row of ``items``: join
    each item's ``depth`` cells against the (tiny, broadcast) sketch
    and take the min counter. Items absent from the stream hit
    counters that may still be non-zero (overestimate-only, never
    under)."""
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                F.pmod(md5_long(F.col(value_col), f"cms{i}"), F.lit(width)).alias(
                    "bucket"
                ),
            )
            for i in range(depth)
        ]
    )
    exploded = items.select(F.col(value_col), F.explode(cells).alias("c")).select(
        value_col, F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket")
    )
    return (
        exploded.join(F.broadcast(cms), ["row", "bucket"], "left")
        .groupBy(value_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt"))
    )


def _global_bottom_k(df: DataFrame, value_col: str, k: int) -> DataFrame:
    """One-row DataFrame holding the sorted bottom-k distinct hashes of
    ``value_col`` as an array. ``orderBy().limit(k)`` plans as
    TakeOrdered — each task ships only its local bottom-k, no global
    sort shuffle."""
    bk = (
        df.select(md5_long(F.col(value_col)).alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    return bk.agg(F.array_sort(F.collect_list("h")).alias("arr"))


def _kmv_est(arr: Column, k: int) -> Column:
    n = F.size(arr)
    kth = F.element_at(arr, n)
    return F.when(n < k, n.cast("double")).otherwise(
        F.lit(float(k - 1)) / (kth / F.lit(HASH_SPACE))
    )


def kmv_set_ops(
    df_a: DataFrame, df_b: DataFrame, value_col: str, k: int = 64
) -> DataFrame:
    """Distinct-set algebra from two KMV sketches (Beyer et al. 2007):
    one row ``(est_a, est_b, est_union, jaccard_est,
    est_intersection)``.

    - union sketch = bottom-k of the two sketches' union (exactly the
      sketch of A ∪ B — the KMV closure property);
    - Jaccard = fraction of union-sketch hashes present in BOTH input
      sketches (each union-sketch element is a uniform sample of
      A ∪ B, so membership-in-both estimates |A∩B| / |A∪B|);
    - intersection = Jaccard × union estimate.

    Scale posture: each sketch is a TakeOrdered bottom-k (no global
    sort); everything after operates on two ≤k arrays in one row.
    Deterministic — the DuckDB oracle reproduces it exactly."""
    a = _global_bottom_k(df_a, value_col, k).select(F.col("arr").alias("a"))
    b = _global_bottom_k(df_b, value_col, k).select(F.col("arr").alias("b"))
    row = a.crossJoin(b)
    u = F.slice(F.array_sort(F.array_union(F.col("a"), F.col("b"))), 1, k)
    inter_cnt = F.size(
        F.filter(
            u,
            lambda x: F.array_contains(F.col("a"), x)
            & F.array_contains(F.col("b"), x),
        )
    )
    # empty inputs → empty union sketch; define Jaccard as 0.0 rather
    # than NULL-by-division-by-zero
    j = F.when(F.size(u) > 0, inter_cnt / F.size(u)).otherwise(F.lit(0.0))
    est_u = _kmv_est(u, k)
    return row.select(
        F.round(_kmv_est(F.col("a"), k), 2).alias("est_a"),
        F.round(_kmv_est(F.col("b"), k), 2).alias("est_b"),
        F.round(est_u, 2).alias("est_union"),
        F.round(j, 6).alias("jaccard_est"),
        F.round(j * est_u, 2).alias("est_intersection"),
    )


def kmv_setops_oracle_sql(a_sql: str, b_sql: str, k: int = 64) -> str:
    """The identical set-operation estimates in ANSI SQL. ``a_sql`` /
    ``b_sql`` are subqueries yielding a column ``v``."""
    def bk(src: str, name: str) -> str:
        return f"""
{name}_h AS (
  SELECT DISTINCT CAST(concat('0x', substr(md5(v), 1, 15)) AS BIGINT) AS h
  FROM ({src}) WHERE v IS NOT NULL),
{name} AS (
  SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM {name}_h)
  WHERE rn <= {k})"""

    est = (
        "CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE) "
        "ELSE {km1} / (max(h) / {hs}) END"
    ).format(k=k, km1=float(k - 1), hs=HASH_SPACE)
    return f"""
WITH {bk(a_sql, 'abk')},
{bk(b_sql, 'bbk')},
u AS (
  SELECT h FROM (
    SELECT h, row_number() OVER (ORDER BY h) AS rn
    FROM (SELECT h FROM abk UNION SELECT h FROM bbk))
  WHERE rn <= {k}),
ea AS (SELECT {est} AS est_a FROM abk),
eb AS (SELECT {est} AS est_b FROM bbk),
eu AS (SELECT {est} AS est_union, count(*) AS nu FROM u),
ix AS (SELECT count(*) AS ni FROM u
       WHERE h IN (SELECT h FROM abk) AND h IN (SELECT h FROM bbk))
SELECT round(est_a, 2) AS est_a,
       round(est_b, 2) AS est_b,
       round(est_union, 2) AS est_union,
       round(CASE WHEN nu > 0 THEN CAST(ni AS DOUBLE) / nu ELSE 0.0 END,
             6) AS jaccard_est,
       round(CASE WHEN nu > 0 THEN CAST(ni AS DOUBLE) / nu ELSE 0.0 END
             * est_union, 2) AS est_intersection
FROM ea, eb, eu, ix
"""


def kmv_oracle_sql(table: str, group_col: str, value_col: str, k: int = 8) -> str:
    """The identical computation in ANSI SQL for the DuckDB oracle."""
    return f"""
WITH hashed AS (
  SELECT DISTINCT {group_col},
         CAST(concat('0x', substr(md5({value_col}), 1, 15)) AS BIGINT) AS h
  FROM {table} WHERE {value_col} IS NOT NULL),
bottom_k AS (
  SELECT {group_col}, h,
         row_number() OVER (PARTITION BY {group_col} ORDER BY h) AS rn
  FROM hashed),
agg AS (
  SELECT {group_col}, count(*) AS n_kept, max(h) AS kth_hash
  FROM bottom_k WHERE rn <= {k} GROUP BY {group_col})
SELECT {group_col},
       round(CASE WHEN n_kept < {k} THEN CAST(n_kept AS DOUBLE)
                  ELSE {float(k - 1)} / (kth_hash / {HASH_SPACE}) END, 2) AS distinct_est,
       CAST(n_kept AS BIGINT) AS sketch_size
FROM agg ORDER BY {group_col}
"""
