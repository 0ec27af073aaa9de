"""The generic operator kit (SURVEY.md §2.2-2.9, §7 step 3).

Every operator the reference's 15 integration scripts use, as composable,
lazy DataFrame transformations built from Spark built-ins — no Python UDFs,
so the whole kit stays inside whole-stage codegen and Catalyst can push
filters/prune columns through it.

Scale notes per operator are inline; the common theme: express the logic as
one groupBy/window on an explicit key so the shuffle count is visible and
minimal, broadcast anything dimension-sized, and never collect to the driver.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from chemharmony_spark.cache import registered_persist


def recode(col: Column | str, mapping: Mapping[str, str],
           default: Column | str | None = None, lowercase: bool = False) -> Column:
    """Multi-branch value recode: chained ``when/otherwise`` (P6).

    reference: 02_integrate_chembl.R:31-37,43-51 (case_when on activity
    comments, lowered first at 02:42); 07_integrate_ctdbase.R:63-70.
    Unmapped values -> ``default`` (None drops them downstream via filter).
    """
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    expr: Column | None = None
    for k, v in mapping.items():
        branch = F.when(c == F.lit(k), F.lit(v))
        expr = branch if expr is None else expr.when(c == F.lit(k), F.lit(v))
    assert expr is not None, "recode() needs a non-empty mapping"
    if default is None:
        return expr.otherwise(F.lit(None))
    return expr.otherwise(F.lit(default) if isinstance(default, str) else default)


def strip_qualifiers_to_double(col: Column | str, pattern: str = "[><=~ ]") -> Column:
    """Strip comparison qualifiers then cast to double (P8).

    reference: 10_integrate_bindingdb.R:76 ``as.numeric(gsub(">|<","",value))``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, pattern, "").cast("double")


def keep_unique_keys(df: DataFrame, *keys: str) -> DataFrame:
    """Keep only rows whose key occurs exactly once (W1).

    reference: 09_integrate_pubchem.py:28-29 — count over a partition window,
    filter count==1, drop the helper column. One shuffle on the key; at scale
    AQE coalesces the window shuffle and skew-splits hot keys.
    """
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("__n", F.count(F.lit(1)).over(w))
        .where(F.col("__n") == 1)
        .drop("__n")
    )


def discordance_filter(df: DataFrame, keys: Sequence[str], value_col: str) -> DataFrame:
    """Drop key groups whose value is not unanimous (W4).

    reference: 02_integrate_chembl.R:60; 03_integrate_tox21.R:47 — per
    (sid,pid) keep rows iff exactly one distinct value. Implemented as a
    windowed distinct-count (one shuffle, no join back).
    """
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("__nv", F.size(F.collect_set(value_col).over(w)))
        .where(F.col("__nv") == 1)
        .drop("__nv")
    )


def having_filter(df: DataFrame, keys: Sequence[str], predicate_agg: Column) -> DataFrame:
    """Keep groups satisfying an aggregate predicate; return original rows (A8).

    reference: 01_integrate_toxvaldb.R:23 (``n() > 500``);
    03:50; 05:52-54; 06:99,139. Implemented as agg + broadcast-friendly
    left-semi join back — Catalyst broadcasts the (usually tiny) surviving
    key set, so the fact table is *not* shuffled (vs. the window formulation
    which always shuffles all rows).
    """
    surviving = df.groupBy(*keys).agg(predicate_agg.alias("__ok")).where("__ok")
    return df.join(surviving.select(*keys), on=list(keys), how="left_semi")


def grouped_median_binarize(
    df: DataFrame,
    substance_keys: Sequence[str],
    property_keys: Sequence[str],
    value_col: str,
    out_col: str = "value",
    positive_when_low: bool = True,
) -> DataFrame:
    """Collapse replicates to a per-(substance,property) median, then binarize
    each at the per-property median threshold (A3/W5).

    reference: 01_integrate_toxvaldb.R:22-27 — ``median(value)`` per (sid,pid)
    then threshold at the per-pid median (the script maps below-median to
    "negative", i.e. ``positive_when_low=False``; the default here keeps
    the toxicology orientation lower-dose-is-potent). Two shuffles: one agg on
    (substance,property), one window on property. Exact ``F.median``
    (Spark 3.4+) so a DuckDB oracle reproduces it bit-for-bit.
    """
    all_keys = [*substance_keys, *property_keys]
    collapsed = df.groupBy(*all_keys).agg(F.median(value_col).alias("medvalue"))
    w = Window.partitionBy(*property_keys)
    thresholded = collapsed.withColumn("__pthresh", F.median("medvalue").over(w))
    cmp = F.col("medvalue") <= F.col("__pthresh")
    if not positive_when_low:
        cmp = F.col("medvalue") >= F.col("__pthresh")
    return thresholded.withColumn(
        out_col, F.when(cmp, F.lit("positive")).otherwise(F.lit("negative"))
    ).drop("__pthresh")


def pivot_value_counts(df: DataFrame, key: str, value_col: str,
                       values: Sequence[str] | None = None) -> DataFrame:
    """Long -> wide count pivot (A6).

    reference: 09_integrate_pubchem.py:66 ``groupBy('pid').pivot('value').count()``.
    Pass ``values`` explicitly at scale — it skips the extra distinct-values job.
    """
    p = df.groupBy(key).pivot(value_col, list(values) if values else None)
    return p.count()


def melt(df: DataFrame, ids: Sequence[str], value_cols: Sequence[str],
         var_name: str = "metric", value_name: str = "value",
         drop_nulls: bool = True) -> DataFrame:
    """Unpivot wide measurement columns to long (O14) — narrow, no shuffle.

    reference: 10_integrate_bindingdb.R:54 (Ki/IC50/Kd/EC50/kon/koff ->
    (metric, value), values_drop_na=TRUE); 13_integrate_skinsensdb.py:9.
    """
    out = df.unpivot(list(ids), list(value_cols), var_name, value_name)
    if drop_nulls:
        out = out.where(F.col(value_name).isNotNull())
    return out


def balanced_class_floor(df: DataFrame, keys: Sequence[str], value_col: str,
                         positive: str = "positive", negative: str = "negative",
                         floor: int = 50) -> DataFrame:
    """Keep groups having more than ``floor`` of *both* classes (A5).

    reference: 02_integrate_chembl.R:62 (``sum(value=='positive') > 50`` and
    negatives likewise); 05:52-53. Single agg + semi join.
    """
    pos = F.sum(F.when(F.col(value_col) == positive, 1).otherwise(0))
    neg = F.sum(F.when(F.col(value_col) == negative, 1).otherwise(0))
    return having_filter(df, keys, (pos > floor) & (neg > floor))


def grid_negatives(
    df: DataFrame,
    substance_key: str,
    property_keys: Sequence[str],
    value_col: str = "value",
    negative_label: str = "negative",
) -> DataFrame:
    """Synthesize negatives: cross-join the distinct substance set with the
    distinct property set, right-join observed rows onto the grid, and label
    unobserved combinations negative (J5/J7).

    reference: 06_integrate_ice.R:102-104 (``expand.grid`` then right join,
    ``is.na -> 'negative'``). Scale note: the grid is |S| x |P| — property
    side is dimension-sized here, so Spark broadcasts it into a
    BroadcastNestedLoopJoin; the subsequent left join shuffles on the
    composite key once.
    """
    subs = df.select(substance_key).distinct()
    props = df.select(*property_keys).distinct()
    grid = subs.crossJoin(F.broadcast(props))
    joined = grid.join(df, on=[substance_key, *property_keys], how="left")
    return joined.withColumn(
        value_col, F.coalesce(F.col(value_col), F.lit(negative_label))
    )


def stratified_sample_exact(
    df: DataFrame,
    strata: Sequence[str],
    n_per_stratum: Column | int,
    order_by: Column | None = None,
    seed: int = 42,
) -> DataFrame:
    """Exactly-n-per-stratum sample (R1) — the reference's
    ``group_by(...) |> sample_n(mincnt)`` (06_integrate_ice.R:107-110).

    ``df.sampleBy`` is only approximate, so: row_number over a per-stratum
    window ordered by ``order_by`` (default: seeded ``F.rand``), filter
    ``<= n``. With ``order_by=F.md5(...)`` the sample is deterministic across
    engines (oracle-reproducible); with F.rand(seed) it is reproducible
    across re-runs of the same plan. One shuffle on the strata.
    ``n_per_stratum`` may be a per-row Column (e.g. the minority-class count
    for balanced downsampling, 06:107-108).

    r9: input spread to core width first (hints.spread_scan; no-op at
    scale) — the per-row order-key md5 + the map-side WindowGroupLimit
    sort are the hot loop, and a few-split fixture scan serializes them
    (measured 1.57 s -> 1.02 s at sf0.1, element-identical output).
    Applied ONLY with a caller-supplied ``order_by``: the default
    ``F.rand(seed)`` draws per-partition, so repartitioning would change
    WHICH rows the seeded sample picks (the explicit-order sample is a
    pure function of row values, partitioning-independent).
    """
    if order_by is not None:
        from chemharmony_spark.hints import spread_scan

        df = spread_scan(df)
    order = order_by if order_by is not None else F.rand(seed)
    # ONE window for both the constant-n and per-row-Column forms (r10:
    # the two branches became character-identical when r9 removed the
    # constant-n salt pre-pass — collapsed). The giant-stratum hazard
    # (every row of a stratum funneling through one sort task) is handled
    # by the planner, not by hand: a row_number-<=-k filter over a window
    # plants a PARTIAL WindowGroupLimit before the exchange (SPARK-37099,
    # 3.5+), so each map task forwards at most n rows per stratum and the
    # post-shuffle sort sees n x map-tasks rows — the same bound the
    # r4-r8 explicit 16-salt two-phase formulation achieved with a SECOND
    # full exchange + two extra sorts. Plan proof:
    # plans/r09/q26_stratified_sample_{before,after}.txt (2 Exchange +
    # 4 Sort -> 1 Exchange + 2 Sort); results identical (any global
    # per-stratum top-n is a subset of per-partition top-n's), measured
    # 1.53s -> 1.34s at sf0.1 and verified element-identical both ways
    # (r9 opt). (For the Column form the planner keeps the full window —
    # WindowGroupLimit needs a literal limit — which is the pre-r9
    # behavior for that form, unchanged.)
    w = Window.partitionBy(*strata).orderBy(order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: Mapping[str, float],
    out_col: str = "split",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: buckets of md5(salt:key)
    proportioned by ``weights``. Unlike randomSplit this is stable across
    runs, engines, partitionings, and retries, rows with the same key
    always land in the same split (no leakage between train and eval when
    a document appears twice), and membership is reproducible from the key
    alone — no assignment table to persist.
    """
    total = sum(weights.values())
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    u = h / F.lit(float(16 ** 8))
    expr: Column | None = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        branch = F.when(u < acc, F.lit(name))
        expr = branch if expr is None else expr.when(u < acc, F.lit(name))
    out = F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))
    return df.withColumn(out_col, out)


def weighted_sample(
    df: DataFrame,
    keys: Sequence[str],
    weight_col: str,
    id_col: str,
    k: int,
    salt: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling without replacement, per group:
    Efraimidis-Spirakis (2006, public paper) with *hash-derived* uniforms —
    each row's key is ln(u)/w for u = md5-uniform(salt:id), and the k
    largest keys per group are the sample. Selection probability is
    proportional to weight (the E-S theorem), yet the draw is a pure
    function of (salt, id, weight): reproducible across runs, engines, and
    partitionings, re-drawable by changing the salt.

    ln only — no pow — so the key is bit-identical cross-engine (pow
    implementations differ in final ulps; ln is correctly rounded
    everywhere). One window shuffle via grouped_topk.

    Rows with NULL or non-positive weight are EXCLUDED (zero selection
    probability): E-S is defined for w > 0, and without the filter a
    negative weight flips ln(u)/w positive — outranking every valid row
    and getting picked deterministically in every sample.
    """
    df = df.where(F.col(weight_col) > 0)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    u = (h + 1) / F.lit(float((1 << 32) + 1))
    key = F.log(u) / F.col(weight_col)
    ranked = grouped_topk(
        df.withColumn("__es_key", key),
        keys,
        [F.col("__es_key").desc(), F.col(id_col)],
        k,
    )
    return ranked.drop("__es_key")


def _grouped_value_cum(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Shared selector core for the exact percentile family: one row per
    distinct (group, value) with ``__pq_cum`` (running count of ROWS with
    value <= this value, duplicates included) and ``__pq_n`` (group row
    count). See grouped_percentiles_disc for the scale rationale.

    Scale design (no group ever funnels through one task):

    1. the full table is reduced FIRST by a ``groupBy(keys, value)`` count —
       a hash aggregation with map-side partial combine, so the only
       full-data exchange carries one row per distinct (group, value);
    2. distinct values are bucketed by a deterministic linear split of the
       group's [min, max] value range into ``n_buckets`` cells, so the
       cumulative-count window partitions on (group, bucket) — bounded
       parallelism even when the value column is near-unique (doubles);
    3. per-bucket subtotals (≤ n_buckets rows per group) roll up into
       bucket offsets, global cum = bucket offset + in-bucket running
       count, and the value at rank r is the smallest value whose cum
       reaches r.

    Bucket boundaries are pure arithmetic on broadcast min/max scalars —
    deterministic, so re-computed plan branches always agree (unlike
    ``spark_partition_id`` after a sampled ``repartitionByRange``). Output
    is identical to ranking every row; only the physical shape changes.
    """
    keys = list(keys)
    # NULL values are IGNORED, matching SQL percentile_disc/cont and
    # median: without this filter NULL rows inflate __pq_n and bucket
    # into the top cell (least() skips its NULL operand), silently
    # shifting every rank. A group whose values are ALL NULL emits no
    # row (SQL would emit a NULL percentile — callers joining back see
    # the same absence either way).
    df = df.where(F.col(value_col).isNotNull())
    # persisted: three consumers (min/max range agg, the in-bucket window,
    # the per-bucket subtotal agg) would otherwise each re-run the
    # full-data count aggregation — the same single-evaluation rule as
    # grouped_cumsum(materialize=True). MEMORY_AND_DISK, distinct-value
    # sized (the reduction is the point of step 1).
    counts = registered_persist(
        df.groupBy(*keys, value_col)
        .agg(F.count(F.lit(1)).alias("__pq_c"))
    )
    rng = counts.groupBy(*keys).agg(
        F.min(value_col).alias("__pq_mn"), F.max(value_col).alias("__pq_mx")
    )
    v = F.col(value_col).cast("double")
    mn = F.col("__pq_mn").cast("double")
    mx = F.col("__pq_mx").cast("double")
    width = (mx - mn) / F.lit(float(n_buckets))
    bucket = F.when(mx == mn, F.lit(0)).otherwise(
        F.least(F.lit(n_buckets - 1), F.floor((v - mn) / width))
    ).cast("int")
    joined = (
        counts.join(F.broadcast(rng), on=keys)
        if keys
        else counts.crossJoin(F.broadcast(rng))  # 1-row global min/max
    )
    b = joined.withColumn("__pq_b", bucket).drop("__pq_mn", "__pq_mx")
    wloc = Window.partitionBy(*keys, "__pq_b").orderBy(value_col)
    loc = b.withColumn("__pq_lcum", F.sum("__pq_c").over(wloc))
    per_b = b.groupBy(*keys, "__pq_b").agg(F.sum("__pq_c").alias("__pq_bc"))
    woff = (
        Window.partitionBy(*keys)
        .orderBy("__pq_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = per_b.select(
        *keys,
        "__pq_b",
        F.coalesce(F.sum("__pq_bc").over(woff), F.lit(0)).alias("__pq_off"),
        F.sum("__pq_bc").over(Window.partitionBy(*keys)).alias("__pq_n"),
    )
    j = loc.join(F.broadcast(offs), on=[*keys, "__pq_b"])
    return j.withColumn("__pq_cum", F.col("__pq_lcum") + F.col("__pq_off"))


def grouped_percentiles_disc(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    quantiles: Sequence[float],
) -> DataFrame:
    """Exact *discrete* per-group percentiles: the value at sorted position
    ``ceil(q * n)`` (lower quantile-disc convention). Discrete on purpose —
    no float interpolation, so results are bit-identical across engines
    (continuous interpolation formulas differ by ulps between
    implementations). Physical shape: the bucketed distinct-value selector
    (_grouped_value_cum)."""
    keys = list(keys)
    j = _grouped_value_cum(df, keys, value_col)
    cum = F.col("__pq_cum")
    aggs = []
    for q in quantiles:
        target = F.greatest(F.lit(1), F.ceil(F.lit(q) * F.col("__pq_n")))
        name = f"p{int(round(q * 100)):02d}"
        aggs.append(F.min(F.when(cum >= target, F.col(value_col))).alias(name))
    return j.groupBy(*keys).agg(*aggs)


def grouped_percentile_cont(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    quantiles: Sequence[tuple[str, int, int]],
) -> DataFrame:
    """Exact *continuous* (PERCENTILE_CONT / type-7) per-group percentiles:
    the value at fractional position 1 + (n-1)*q, linearly interpolated
    between the two bracketing row ranks.

    ``quantiles`` are (name, num, den) EXACT RATIONALS (e.g. ("p90", 9,
    10)) so the bracketing ranks and the interpolation fraction are pure
    integer arithmetic — lo = 1 + (n-1)*num div den, frac = ((n-1)*num %
    den) / den — and the single interpolation expression v_lo + (v_hi -
    v_lo) * frac is one fixed IEEE sequence, engine-identical.

    Same physical shape as the discrete selector (_grouped_value_cum):
    the full table shuffles once into distinct-value counts; both
    bracketing values come out of the same conditional MIN aggregation —
    no ranked window over the facts."""
    keys = list(keys)
    j = _grouped_value_cum(df, keys, value_col)
    cum = F.col("__pq_cum")
    aggs = []
    for name, num, den in quantiles:
        lo = F.expr(f"1L + (((__pq_n - 1) * {num}) div {den})")
        fnum = F.expr(f"((__pq_n - 1) * {num}) % {den}")
        hi = F.least(lo + 1, F.col("__pq_n"))
        v_lo = F.min(F.when(cum >= lo, F.col(value_col)))
        v_hi = F.min(F.when(cum >= hi, F.col(value_col)))
        frac = F.min(fnum).cast("double") / F.lit(float(den))
        aggs.append((v_lo + (v_hi - v_lo) * frac).alias(name))
    return j.groupBy(*keys).agg(*aggs)


def grouped_topk(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Per-group top-k (row_number <= k). ``order_cols`` must be a *total*
    order (tie-broken by a unique key) for deterministic, engine-portable
    results.

    Low-cardinality groups need no manual pre-pass: a ``row_number() <= k``
    filter over a window plants a PARTIAL WindowGroupLimit before the
    exchange (SPARK-37099, 3.5+), so each map task forwards at most k rows
    per group and the post-shuffle sort sees k x map-tasks rows (plan
    proof plans/r10/q53_grouped_topk_{before,after}.txt: a salted
    two-phase pre-pass cost 2 Exchange + 4 Sort against 1 Exchange +
    2 Sort).
    """
    order = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).where(
        F.col(rank_col) <= k
    )


def global_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
    bucket: Column | None = None,
) -> DataFrame:
    """Scalable global prefix sum over a total order.

    ``Window.orderBy`` with no ``partitionBy`` — the naive spelling — drags
    the entire table through ONE task; at 100 TB that is the job. The
    distributed decomposition: split the order into contiguous buckets,
    running-sum *within* each bucket, then add each bucket's broadcast
    offset (the sum of all earlier buckets).

    ``bucket`` (preferred): a caller-supplied Column mapping each row to an
    ordered bucket id that is *monotone non-decreasing in the order key*
    (e.g. a hex prefix of an md5 order key — uniform AND monotone). The
    bucket totals aggregate map-side into a |buckets|-row table, so the
    whole op costs ONE full-data shuffle (the per-bucket window) plus a
    second cheap scan of two columns.

    Without ``bucket``: fall back to sampled range repartitioning with
    ``spark_partition_id`` as the bucket. Correct for any orderable key,
    but the nondeterministic pid column blocks exchange reuse, so the plan
    pays two range shuffles + one hash shuffle. Use an explicit bucket
    whenever the key distribution allows.

    ``order_col`` must be unique (a total order), or intra-bucket tie order
    is undefined.
    """
    if bucket is not None:
        return grouped_cumsum(
            df, (), order_col, value_col, out_col=out_col, bucket=bucket
        )
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    part = df.repartitionByRange(num_partitions, F.col(order_col)).withColumn(
        "__cs_pid", F.spark_partition_id()
    )
    w_intra = (
        Window.partitionBy("__cs_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # offsets: exclusive prefix of per-partition totals — |partitions| rows,
    # so the unpartitioned window is over a tiny table, not the data
    w_off = Window.orderBy("__cs_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        part.groupBy("__cs_pid")
        .agg(F.sum(value_col).alias("__cs_tot"))
        .withColumn("__cs_off", F.coalesce(F.sum("__cs_tot").over(w_off), F.lit(0)))
        .select("__cs_pid", "__cs_off")
    )
    return (
        part.withColumn("__cs_run", F.sum(value_col).over(w_intra))
        .join(F.broadcast(offsets), on="__cs_pid")
        .withColumn(out_col, F.col("__cs_run") + F.col("__cs_off"))
        .drop("__cs_pid", "__cs_run", "__cs_off")
    )


def grouped_cumsum(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
    bucket: Column | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Per-group prefix sum with the same bucketed decomposition as
    :func:`global_cumsum` — the running-sum window partitions on
    (keys, bucket) and the per-bucket offsets roll up per group, so a
    low-cardinality ``keys`` (e.g. corpus source) never funnels its whole
    group through one task. ``keys=()`` degenerates to the global form."""
    keys = list(keys)
    if bucket is not None:
        w_intra = (
            Window.partitionBy(*keys, "__cs_b")
            .orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        run = df.withColumn("__cs_b", bucket).withColumn(
            "__cs_run", F.sum(value_col).over(w_intra)
        )
        if materialize:
            # the windowed frame feeds BOTH the output join and the
            # offsets agg; persisting guarantees the caller's upstream
            # pipeline evaluates once even when Catalyst's ReusedExchange
            # can't prove the two branches canonical-equal (pushed-filter
            # asymmetry). Use when upstream >> frame size — e.g. a fact
            # aggregation feeding a distinct-value cumsum.
            run = registered_persist(run)
        # Bucket totals come from the WINDOWED frame, not from a second
        # aggregation over ``df``: both consumers then share the identical
        # (keys, bucket) exchange over the same child, so Catalyst's
        # ReusedExchange evaluates the caller's upstream pipeline ONCE
        # (the old formulation re-derived ``df`` — at 100 TB, a second
        # pass over the fact aggregation — inside the offsets branch).
        # The total is sum(value_col) over the frame's rows — exact even
        # when order_col has ties at a bucket's max position (max_by on
        # the running sum would pick an arbitrary tied row there, whose
        # run is not necessarily the bucket total).
        w_off = (
            Window.partitionBy(*keys).orderBy("__cs_b")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = (
            run.groupBy(*keys, "__cs_b")
            .agg(F.sum(value_col).alias("__cs_tot"))
            .withColumn(
                "__cs_off", F.coalesce(F.sum("__cs_tot").over(w_off), F.lit(0))
            )
            .select(*keys, "__cs_b", "__cs_off")
        )
        return (
            run.join(F.broadcast(offsets), on=[*keys, "__cs_b"])
            .withColumn(out_col, F.col("__cs_run") + F.col("__cs_off"))
            .drop("__cs_b", "__cs_run", "__cs_off")
        )
    raise ValueError(
        "grouped_cumsum requires an explicit bucket Column monotone in "
        "order_col (e.g. an md5 hex prefix); the sampled-range fallback "
        "lives in global_cumsum only"
    )


def global_row_number(
    df: DataFrame,
    order_cols: Sequence[str | Column],
    bucket: Column,
    out: str = "rn",
    validate: bool = False,
) -> DataFrame:
    """Global total-order row_number WITHOUT an unpartitioned ranked
    window (the canonical one-task funnel at 100 TB). Same bucketed
    decomposition as :func:`grouped_cumsum`: rows rank inside their
    bucket (a window partitioned on ``bucket``), per-bucket counts roll
    up into offsets with one tiny cumulative pass over the bucket ids,
    and the global rank is in-bucket rank + bucket offset. Output is
    bit-identical to ``row_number().over(Window.orderBy(*order_cols))``.

    ``bucket`` MUST be monotone non-decreasing in the total order —
    i.e. a function of a PREFIX of ``order_cols`` (a substring of the
    leading sort key, ``key DIV c``, a date's year...). Equal-bucket
    ties are resolved by the full in-bucket order, so any
    order-consistent coarsening works; correctness under that contract
    is asserted against the plain window in tests.

    The offsets frame has one row per bucket (an aggregation, never
    row-scale), so its cumulative window and the join-back broadcast
    are bounded by the bucket count, not the corpus.

    ``validate=True`` runs one bucket-count-scale action checking the
    contract the result silently depends on: per-bucket [min, max]
    ranges of the LEADING order key must not overlap across buckets in
    bucket order (assumes ``bucket`` is a function of ``order_cols[0]``,
    which every in-repo caller satisfies); a non-monotone bucket raises
    instead of silently producing wrong global ranks. Debug-priced —
    one extra aggregation over ``df`` — so off by default."""
    order = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    # the join-back key is a NON-NULL string encoding of the bucket
    # ("\x00" for the NULLS-FIRST bucket, "v"+cast otherwise): a NULL
    # leading key buckets to NULL and must rank first, but (a) a plain
    # equi-join would DROP those rows, and (b) an eqNullSafe condition is
    # treated as non-equi by Catalyst's size estimator — it inflated this
    # operator's estimate ~18,000x and silently flipped downstream joins
    # from broadcast to sort-merge. The ORIGINAL bucket still drives the
    # offsets ordering (asc_nulls_first), so ranks stay bit-identical to
    # the plain window.
    w_intra = Window.partitionBy("__rn_k").orderBy(*order)
    run = (
        df.withColumn("__rn_b", bucket)
        .withColumn(
            "__rn_k",
            F.when(F.col("__rn_b").isNull(), F.lit("\x00")).otherwise(
                F.concat(F.lit("v"), F.col("__rn_b").cast("string"))
            ),
        )
        .withColumn("__rn_i", F.row_number().over(w_intra).cast("long"))
    )
    if validate:
        spans = (
            run.groupBy("__rn_b")
            .agg(F.min(order[0]).alias("lo"), F.max(order[0]).alias("hi"))
            .orderBy("__rn_b")
            .collect()
        )
        for prev, cur in zip(spans, spans[1:]):
            # an all-NULL span is the NULLS-FIRST bucket (NULL order keys
            # bucket to NULL under any function-of-the-key); only
            # non-NULL range overlaps indicate a broken bucket
            if prev.hi is not None and cur.lo is not None and prev.hi >= cur.lo:
                raise ValueError(
                    "global_row_number: bucket is not order-monotone — "
                    f"bucket {prev['__rn_b']} spans up to {prev.hi!r} but "
                    f"bucket {cur['__rn_b']} starts at {cur.lo!r}; ranks "
                    "would interleave across buckets"
                )
    w_off = (
        Window.orderBy(F.col("__rn_ord").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        run.groupBy("__rn_k")
        # min(__rn_b) IS the bucket (constant within a group; the NULL
        # group yields NULL) — it orders the cumulative pass exactly as
        # the raw bucket would, nulls first
        .agg(F.count(F.lit(1)).alias("__rn_n"), F.min("__rn_b").alias("__rn_ord"))
        .withColumn(
            "__rn_off",
            F.coalesce(F.sum("__rn_n").over(w_off), F.lit(0)).cast("long"),
        )
        .select("__rn_k", "__rn_off")
    )
    return (
        run.join(F.broadcast(offsets), on="__rn_k")
        .withColumn(out, F.col("__rn_i") + F.col("__rn_off"))
        .drop("__rn_b", "__rn_k", "__rn_i", "__rn_off")
    )


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the skewed side with a random bucket
    and replicate the small side across all buckets, so one hot key spreads
    over ``n_salts`` tasks instead of one straggler.

    AQE's skew-join splitting usually makes this unnecessary (session.py
    enables it); use this when AQE can't help — e.g. the skew is inside a
    single shuffle block, or on engines/paths without AQE. Results are
    identical to a plain join (verified in tests); cost is n_salts x
    duplication of the small side.

    Only skewed-side-preserving modes are accepted: under right/full
    outer joins every UNMATCHED small-side row would surface once per
    salt replica (n_salts null-padded copies instead of one), and
    right_semi/right_anti ask a question about the replicated side —
    both silently violate the identical-results contract.
    """
    keys = list(on)
    if how not in ("inner", "left", "left_outer", "leftouter",
                   "left_semi", "leftsemi", "semi",
                   "left_anti", "leftanti", "anti", "cross"):
        raise ValueError(
            f"salted_join: how={how!r} would emit unmatched small-side "
            f"rows once per salt replica; use a plain join for "
            f"right/full-outer semantics"
        )
    salt = F.pmod(F.hash(F.rand(seed=0).cast("string")), F.lit(n_salts))
    left = skewed.withColumn("__salt", salt)
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("__salt")
    right = small.select("*", salts)
    return left.join(right, on=[*keys, "__salt"], how=how).drop("__salt")
