"""Approximate (sketch-based) aggregations — the 100 TB answer to exact
operators whose state would not fit: HyperLogLog++ distinct counts and
KLL/GK-style approximate percentiles.

These are *deliberately not* oracle-checked against DuckDB: sketch
implementations differ across engines by design, so cross-engine value
equality is the wrong contract. The contract is bounded error vs the exact
answer, asserted in tests/test_sketches.py at several cardinalities.

Exact counterparts in this engine: q17 (count_distinct), q58
(grouped_percentiles_disc). Use the sketch forms when the group count x
per-group cardinality makes exact state the bottleneck — HLL state is
~1.5 KB per group at rsd=0.05 regardless of cardinality, and both sketches
merge associatively, so they aggregate map-side and tolerate any
re-partitioning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def approx_distinct(df: DataFrame, keys: Sequence[str], value_col: str,
                    rsd: float = 0.05) -> DataFrame:
    """Per-group HyperLogLog++ distinct count (relative std dev ``rsd``).
    State per group is O(1/rsd^2) bytes, independent of cardinality."""
    return df.groupBy(*keys).agg(
        F.approx_count_distinct(value_col, rsd).alias("approx_distinct")
    )


def cm_bucket(item, row: int, width: int):
    """Counter index of ``item`` in count-min hash row ``row``.

    Sketches built separately merge only if they share this bucket
    function bit for bit."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"r{row}:"), item)), 1, 8),
            16,
            10,
        ).cast("long"),
        F.lit(width),
    )


def countmin_counts(df: DataFrame, item_col: str, width: int = 1024,
                    depth: int = 4) -> DataFrame:
    """Count-min sketch estimates for every distinct item: ``depth``
    independent hash rows of ``width`` counters; the estimate is the MIN of
    an item's counters across rows (always an over-estimate; error <=
    2N/width with prob 1 - 2^-depth).

    Dataflow: ONE posexplode + (row, bucket) groupBy builds all depth
    sketch rows in a single map-side-combined agg (state = depth x width
    counters TOTAL, vs one counter per distinct item for the exact
    count; through round 5 this was depth separate aggs union'd — depth
    scans of the persisted frame and depth stages of fixed overhead for
    identical output, the q40 union-branch anti-pattern). The skinny
    sketch table broadcasts back onto the distinct items. The point at
    100 TB: heavy-hitter estimation whose state is independent of
    vocabulary size. Exact counterpart: q63 heavy hitters.
    """
    from chemharmony_spark.cache import registered_persist

    item = F.col(item_col)
    # persisted (registry-released): the sketch agg + the distinct items
    # pass each consume this frame — one scan instead of two
    buckets = registered_persist(df.select(
        item.alias("item"),
        *[cm_bucket(item, r, width).alias(f"b{r}") for r in range(depth)],
    ))
    # persisted too (r7 ADVICE): the depth `where(row == r)` broadcasts
    # below each re-ran the full depth x N explode+agg otherwise — the
    # filter on the GENERATED `row` column cannot push below the
    # posexplode, and the differing predicates defeat ReuseExchange, so
    # without the cache the 'one agg instead of depth' claim only held
    # at plan-declaration time. State is depth x width counters — tiny.
    rows = registered_persist(
        buckets.select(
            F.posexplode(
                F.array(*[F.col(f"b{r}") for r in range(depth)])
            ).alias("row", "bucket")
        )
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    items = buckets.select(
        "item", *[F.col(f"b{r}") for r in range(depth)]
    ).distinct()
    est = items
    for r in range(depth):
        sk = rows.where(F.col("row") == r).select(
            F.col("bucket").alias(f"b{r}"), F.col("c").alias(f"c{r}")
        )
        est = est.join(F.broadcast(sk), on=f"b{r}")
    return est.select(
        "item",
        F.least(*[F.col(f"c{r}") for r in range(depth)]).alias("est_count"),
    )


def approx_quantiles(df: DataFrame, keys: Sequence[str], value_col: str,
                     quantiles: Sequence[float],
                     accuracy: int = 10_000) -> DataFrame:
    """Per-group approximate percentiles (Greenwald-Khanna style;
    ``accuracy`` trades state for error: rank error <= 1/accuracy)."""
    qs = F.array(*[F.lit(float(q)) for q in quantiles])
    out = df.groupBy(*keys).agg(
        F.percentile_approx(value_col, qs, accuracy).alias("__qs")
    )
    cols = [
        F.col("__qs")[i].alias(f"p{int(round(q * 100)):02d}")
        for i, q in enumerate(quantiles)
    ]
    return out.select(*keys, *cols)


def hll64_bucket_rho(key_col: Column | str) -> tuple[Column, Column]:
    """Engine-portable 64-bucket HyperLogLog ingredients for one key:
    (bucket, rho) from the md5 hex of the key — bucket is the first 8
    bits mod 64, rho the leading-zero rank (+1) of the next 24 bits.
    Pure integer/string arithmetic (no engine HLL state), so the sketch
    is bit-reproducible in ANSI SQL and MERGEABLE: max(rho) per
    (group, bucket) is the whole state, and maxima combine across
    partitions, epochs, or engines. Used by q248."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    h = F.md5(c.cast("string"))

    def hexv(ch: Column) -> Column:
        return F.instr(F.lit("0123456789abcdef"), ch) - 1

    bucket = (
        (hexv(F.substring(h, 1, 1)) * 16 + hexv(F.substring(h, 2, 1))) % 64
    )
    v: Column = F.lit(0)
    for i in range(3, 9):  # 24 bits from hex chars 3..8
        v = v * 16 + hexv(F.substring(h, i, 1))
    v = v.cast("long")
    rho = F.when(v == 0, F.lit(25)).otherwise(25 - F.length(F.bin(v)))
    return bucket, rho


def hll64_estimate(bucket_maxima: DataFrame, group_cols: Sequence[str],
                   m_col: str = "m") -> DataFrame:
    """Estimate from merged 64-bucket maxima (one row per (group, bucket)
    with ``m_col`` = max rho): integer harmonic sum (1 << (25 - m),
    absent buckets at 1 << 25), then the single float alpha*m^2/Z
    divide. Input maxima may come from any union of partial sketches —
    merging is just max()."""
    groups = list(group_cols)
    z = bucket_maxima.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), 25 - {m_col})"))
        .alias("zp"),
    ).select(
        *groups,
        (
            F.col("zp")
            + (F.lit(64) - F.col("nb")) * F.lit(1 << 25).cast("long")
        ).alias("z"),
    )
    est = (
        F.lit(0.709) * F.lit(4096.0) * F.lit(33554432.0)
        / F.col("z").cast("double")
    )
    return z.select(
        *groups,
        F.floor(est * 1_000_000).cast("long").alias("hll_est_micro"),
    )
