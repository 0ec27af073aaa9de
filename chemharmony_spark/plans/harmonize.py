"""The flagship query: staging -> harmonized brick (SURVEY.md §3.3).

Re-expression of reference 80_harmonize.py as one lazy Spark plan per output
table, with explicit materialization points where the reference checkpoints
to scratch parquet (80:42-43,57-58,76-77) — those breaks are load-bearing:
they truncate lineage before the re-key joins and let each dimension build
feed its output frame and its re-key map without recomputation.

Dataflow (per 80_harmonize.py):
  1. scan per-source properties; provenance is resolved once per staged
     path and carried as a literal                      (80:33-35)
  2. distinct (pid, data, source) first; canonicalize each distinct raw
     payload ONCE (dedup -> UDF -> join back), pid=md5  (80:37,39-40)
  3. same for substances -> sid=md5(data)               (80:48-58)
  4. activities: scan                                   (80:63-67)
  5. re-key activities on (source, local sid/pid)       (80:76-78)
  6. distinct, binary_value, aid=md5(sid||pid||inchi||value) (80:68,81-84)
  7. smiles from distinct inchis via deduped UDF + join back (80:71-73)
  8. invariants: ``DataFrame.observe`` counts on the frames this call
     materializes, checked by :func:`check_report` before the call
     returns; no action runs only to check           (80:96-105)

Materialization points: each dimension build (steps 2-3: local id, source,
canonical data, global id) is persisted once (``cache.registered_persist``)
or, with ``scratch_dir``, checkpointed to parquet; its output frame and its
re-key map both read it. With ``check_invariants`` (the default) the call
fills the three output frames as eager local checkpoints: substances and
properties first, one thread each, which fills both builds side by side
while activities is planned; then activities, whose re-key maps read the
filled builds. The caller's writes read those checkpoints. Without
``check_invariants`` the outputs stay lazy, carry no observation, and the
builds fill on the caller's first action.

Scale design: the two re-key joins shuffle activities on (source, sid) then
(source, pid). The id maps are dimension-sized relative to activities
(1e6/1e3 vs 1e7+ rows) but their cardinality GROWS WITH THE DATA
(substances >1e6 at reference production scale, 80_harmonize.py:96 —
multi-GB at 100×), so the broadcast is size-gated, never forced:
``rekey_strategy='auto'`` attaches a hint only when Catalyst's plan
estimate of the dimension clears autoBroadcastJoinThreshold
(hints.size_gated_broadcast), else leaves the join unhinted for AQE to
pick from runtime statistics; ``rekey_strategy='bucket'`` is the explicit
100×-scale path — shuffle-hash joins with the map as build side, no sort,
no broadcast build at all. At rest, writing staging bucketed by
(source, sid) (writers.write_parquet bucket_by) removes even the map-side
exchange — proven zero-Exchange on the exact composite-key re-key shape in
tests/test_bucketing.py::test_harmonize_rekey_shape_cobucketed_composite_key.
"""

from __future__ import annotations

import time
from collections.abc import Mapping, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from chemharmony_spark.cache import registered_persist
from chemharmony_spark.functions.chem import inchi_to_smiles, with_derived_column_deduped
from chemharmony_spark.functions.ids import surrogate_aid
from chemharmony_spark.hints import size_gated_broadcast
from chemharmony_spark.functions.json_payload import canonicalize_json_udf
from chemharmony_spark.sources.readers import read_staging_glob

BRICK_TABLES = ("substances", "properties", "activities")


class HarmonizeInvariantError(AssertionError):
    """A harmonize invariant failed. Raised explicitly (never a bare
    ``assert``), so the checks still run under ``python -O``; subclasses
    AssertionError, so callers that caught the earlier asserts still do."""


@dataclass
class HarmonizeResult:
    substances: DataFrame
    properties: DataFrame
    activities: DataFrame
    # what the call did (harmonize_report), from the observed counts of
    # the checked call; None when check_invariants=False
    report: dict | None = None

    def unpersist(self) -> None:
        """Release any cache the caller took on the output frames (the
        checked call's own outputs are local checkpoints, freed with the
        frames). Frames stay usable (recompute-on-reference)."""
        for frame in (self.substances, self.properties, self.activities):
            frame.unpersist()


class _Observer:
    """The named ``DataFrame.observe`` counts of one harmonize call. With
    checks off it is the identity, so the lazy plan carries no
    CollectMetrics node."""

    def __init__(self, enabled: bool, sources: Sequence[str]):
        self.enabled = enabled
        self._obs: dict[str, Observation] = {}
        # the shared counts, built once
        self.rows = F.count(F.lit(1)).alias("rows")
        self.per_source = [
            F.count(F.when(F.col("source") == s, 1)).alias(f"source_{i}")
            for i, s in enumerate(sources)]
        self.undeclared = F.count(F.when(
            F.col("source").isNull() | ~F.col("source").isin(list(sources)),
            1)).alias("undeclared")

    def new(self, name: str) -> Observation | None:
        if not self.enabled:
            return None
        self._obs[name] = obs = Observation()
        return obs

    def on(self, df: DataFrame, name: str, *metrics: Column) -> DataFrame:
        obs = self.new(name)
        return df if obs is None else df.observe(obs, *metrics)

    def metrics(self) -> dict[str, dict | None]:
        """Each observation's counts, read after the filling actions. An
        observation completes with the first action whose plan holds it;
        one whose node the executed plans skipped (AQE drops the other side
        of a join with an empty input) reads ``None`` and is never waited
        on."""
        from py4j.protocol import Py4JJavaError

        out: dict[str, dict | None] = {}
        for name, obs in self._obs.items():
            try:
                out[name] = obs.get if obs._jo.future().isCompleted() else None
            except Py4JJavaError:  # completed without a row
                out[name] = None
        return out


def _dimension(spark: SparkSession, scan: DataFrame, name: str, local_id: str,
               global_id: str, obs: _Observer,
               scratch_dir: str | None) -> DataFrame:
    """Steps 1-3 for one dimension: one (local_id, source, canonical data,
    global_id) row per distinct staged (local_id, data, source) row,
    persisted once (or checkpointed under ``scratch_dir``).

    The distinct runs first; each distinct raw payload is canonicalized
    once and joined back (the dedup-then-join of the smiles UDF). The
    payload mapping harvests from the unobserved scan, so every
    observation sits on exactly one branch of the plan. Its join-back is
    left unhinted: both sides are dimension-sized, and AQE sizes the join
    from runtime statistics."""
    raw = scan.select(local_id, "data", "source")
    dim = obs.on(raw, f"{name}.staged", obs.rows, *obs.per_source)
    dim = obs.on(dim.distinct(), f"{name}.distinct", obs.rows)
    dim = with_derived_column_deduped(
        dim, "data", "__canon", canonicalize_json_udf("data"),
        broadcast=False, universe=raw, observation=obs.new(f"{name}.payloads"),
    )
    build = dim.select(local_id, "source", F.col("__canon").alias("data"),
                       F.md5("__canon").alias(global_id))
    if scratch_dir:  # checkpoint: truncate lineage before fan-out reuse
        path = f"{scratch_dir}/{name}"
        build.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)
    return registered_persist(build)


def harmonize(
    spark: SparkSession,
    staging_root: str,
    sources: list[str],
    scratch_dir: str | None = None,
    check_invariants: bool = True,
    min_rows: tuple[int, int, int] = (0, 0, 0),
    rekey_strategy: str = "auto",
    staging_tables: dict[str, str] | None = None,
    max_rekey_drops: int | None = None,
) -> HarmonizeResult:
    """Run the harmonize plan; returns the three brick DataFrames.

    With ``check_invariants`` (default) the call fills the three output
    frames, builds ``HarmonizeResult.report`` from the counts observed on
    those actions, and raises :class:`HarmonizeInvariantError`
    (:func:`check_report`) before it returns if any invariant fails.
    Without it the frames are lazy and ``report`` is None. ``scratch_dir``
    checkpoints the dimension builds like the reference's cache/harmonize
    (80_harmonize.py:20,42-43,76-77).

    ``min_rows``: (substances, properties, activities) floors — the
    reference's production values are (1e6, 1e3, 1e7) (80:96-98).
    ``max_rekey_drops``: the most staged activities the re-key joins may
    drop (rows whose (source, sid/pid) resolves in no dimension); default
    no limit.

    ``rekey_strategy``: how the (source, sid/pid) -> global-id re-key joins
    execute. ``'auto'`` (default): size-gated broadcast hint — attached only
    when Catalyst estimates the staged dimension under
    autoBroadcastJoinThreshold, else unhinted (AQE decides from runtime
    stats). ``'bucket'``: the pre-bucket path for corpora whose id maps
    outgrow broadcast — shuffle-hash joins with the map as build side (no
    sort, no broadcast build); pair with staging written bucketed by
    (source, sid) to drop the map-side exchange.

    ``staging_tables``: {'substances': name, 'properties': name,
    'activities': name} catalog tables to read INSTEAD of the provenance
    glob — the at-rest completion of ``rekey_strategy='bucket'``. Each
    table must already carry its ``source`` column (the glob derives it
    from the path; a saved table stores it). Write activities bucketed by
    (source, sid) (writers.write_parquet bucket_by) and the sid re-key
    join reads the fact side with ZERO exchanges — the bucketed scan's
    output partitioning satisfies the join's required distribution
    (proven end-to-end in tests/test_bucketing.py).
    """
    if rekey_strategy not in ("auto", "bucket"):
        raise ValueError(
            f"rekey_strategy must be 'auto' or 'bucket', got {rekey_strategy!r}"
        )
    if staging_tables:
        unknown = set(staging_tables) - set(BRICK_TABLES)
        if unknown:
            # a typo'd key would otherwise silently fall back to the glob
            # path for that table — losing the bucketed zero-exchange
            # property with no error
            raise ValueError(
                f"staging_tables has unknown keys {sorted(unknown)}; "
                "expected a subset of {'substances', 'properties', 'activities'}"
            )
    t_start = time.perf_counter()
    tables = staging_tables or {}
    obs = _Observer(check_invariants, sources)

    def scan(name: str) -> DataFrame:
        if name in tables:
            return spark.table(tables[name])
        return read_staging_glob(spark, f"{staging_root}/*/{name}.parquet", sources)

    # the three scans resolve their globs and merged schemas (a footer job
    # each) concurrently
    with ThreadPoolExecutor(max_workers=3) as pool:
        props_scan, subs_scan, acts_scan = pool.map(
            scan, ("properties", "substances", "activities"))
    props = _dimension(spark, props_scan, "properties", "pid", "newpid",
                       obs, scratch_dir)
    subs = _dimension(spark, subs_scan, "substances", "sid", "newsid",
                      obs, scratch_dir)

    substances, properties = _dimension_outputs(subs, props, obs)
    build_activities = partial(
        _activities, acts_scan, subs, props, subs_scan, props_scan, obs,
        rekey_strategy)
    if not check_invariants:
        return HarmonizeResult(substances=substances, properties=properties,
                               activities=build_activities())

    t_plan = time.perf_counter()
    # each output frame fills as an eager local checkpoint, the dimension
    # outputs first, one thread each: each fills its own dimension build
    # (a cached plan fills as its own adaptive query, so the two builds
    # overlap only from separate threads) while this thread plans
    # activities, which then reads both filled builds through the re-key
    # maps. One action per frame; each observation lands on the first
    # action whose plan holds it, and no two concurrent actions share one.
    with ThreadPoolExecutor(max_workers=2) as pool:
        filled = [pool.submit(_fill, f) for f in (substances, properties)]
        acts = build_activities()
        substances, properties = (f.result() for f in filled)
    t_dims = time.perf_counter()
    acts = _fill(acts)
    t_acts = time.perf_counter()
    report = harmonize_report(obs.metrics(), sources)
    report["phase_s"] = {
        "plan": round(t_plan - t_start, 3),
        "dimensions": round(t_dims - t_plan, 3),
        "activities": round(t_acts - t_dims, 3),
    }
    check_report(report, min_rows, max_rekey_drops)
    return HarmonizeResult(substances=substances, properties=properties,
                           activities=acts, report=report)


def _fill(df: DataFrame) -> DataFrame:
    """``df`` materialized by an eager local checkpoint: its rows are kept
    as they are, where a persisted frame first encodes them into
    compressed column batches that the caller's write then decodes
    (0.5-0.7 s less per harmonize_wide op on 4 cores, warm passes of
    tools/codegen_census.py). Spark frees the blocks when the returned
    frame is garbage-collected."""
    return df.localCheckpoint(eager=True)


def _dimension_outputs(subs: DataFrame, props: DataFrame,
                       obs: _Observer) -> tuple[DataFrame, DataFrame]:
    """The substances and properties brick frames from their builds."""
    substances = obs.on(
        subs.select(F.col("newsid").alias("sid"), "source", "data").distinct(),
        "substances.out", obs.rows, obs.undeclared,
    )
    # one row per (pid, source), as a distinct would give, but grouped per
    # pid so that one pid carrying two payloads (80:104-105) is a plain
    # min/max count; the source struct keeps a NULL source in the set
    properties = props.groupBy(F.col("newpid").alias("pid")).agg(
        F.min("data").alias("data"), F.max("data").alias("__max_data"),
        F.collect_set(F.struct("source")).alias("__sources"),
    )
    properties = obs.on(properties, "properties.pids", F.count(
        F.when(F.col("data") != F.col("__max_data"), 1)).alias("collisions"))
    properties = obs.on(
        properties.select("pid", F.explode("__sources.source").alias("source"),
                          "data"),
        "properties.out", obs.rows, obs.undeclared,
    )
    return substances, properties


def _activities(acts_scan: DataFrame, subs: DataFrame, props: DataFrame,
                subs_scan: DataFrame, props_scan: DataFrame, obs: _Observer,
                rekey_strategy: str) -> DataFrame:
    """Steps 4-7: the activities brick frame."""
    narrow = ["sid", "pid", "source", "inchi", "value"]
    keep = ["sid", "pid", "source", "inchi", "value", "binary_value"]
    if "numvalue" in acts_scan.columns:
        keep.append("numvalue")
        narrow.append("numvalue")
    # observed on the raw scan, BEFORE the inner re-key joins: a staged
    # file whose path matches no declared source has NULL provenance here,
    # and the joins would silently drop its rows (the reference's post-hoc
    # check at 80:100-101 has this blind spot; we close it). The reference
    # distincts right after the scan (80:67); the final distinct after aid
    # derivation subsumes that one (every derivation is a deterministic
    # row-function), so its extra full shuffle is skipped
    acts = obs.on(acts_scan.select(*narrow), "activities.staged",
                  obs.rows, *obs.per_source, obs.undeclared)

    # re-key: local (source, sid/pid) -> global md5 ids (80:76-78).
    sid_map = subs.select("source", F.col("sid").alias("__localsid"), "newsid").distinct()
    pid_map = props.select("source", F.col("pid").alias("__localpid"), "newpid").distinct()
    if rekey_strategy == "bucket":
        # pre-bucket path: both joins are shuffle-hash with the map as the
        # build side — no sort of the fact table, no broadcast build, works
        # at any map cardinality. Staging written bucketed by (source, sid)
        # removes the map-side exchange entirely.
        sid_map, pid_map = sid_map.hint("shuffle_hash"), pid_map.hint("shuffle_hash")
    else:  # 'auto': hint only if Catalyst's estimate clears the threshold
        # gated on the staged dimension: a map has at most its rows, and
        # the build's payload join-back would make Catalyst multiply sizes
        sid_map = size_gated_broadcast(sid_map, estimate=subs_scan)
        pid_map = size_gated_broadcast(pid_map, estimate=props_scan)
    acts = (
        acts.withColumnRenamed("sid", "__localsid")
        .withColumnRenamed("pid", "__localpid")
        .join(sid_map, on=["source", "__localsid"], how="inner")
        .drop("__localsid")
    )
    acts = obs.on(acts, "activities.sid_rekeyed", obs.rows)
    acts = (
        acts.join(pid_map, on=["source", "__localpid"], how="inner")
        .drop("__localpid")
        .withColumnRenamed("newsid", "sid")
        .withColumnRenamed("newpid", "pid")
    )
    acts = obs.on(acts, "activities.pid_rekeyed", obs.rows)

    # the dedup shuffle runs on the narrow columns only: aid is derived
    # AFTER distinct (md5 of a subset of the distinct key — deterministic,
    # so distinct-then-derive ≡ the reference's derive-then-distinct,
    # 80:83-84), binary_value is derived AFTER distinct too (r10: a pure
    # function of value, which IS in the distinct key, so the groups are
    # unchanged — this drops it from the re-key joins and this exchange;
    # guide §2.3 "narrower types"), and
    # smiles joins AFTER distinct (pure function of inchi, so it can't
    # split groups). Keeps ~60 bytes/row of derived strings out of the
    # biggest exchange, and the smiles broadcast build no longer gates
    # the shuffle map stage.
    acts = (
        acts.select(*narrow)
        .distinct()
        .withColumn(
            "binary_value",
            F.when(F.col("value") == "positive", 1).otherwise(0),
        )
        .select(*keep)  # contract column order (binary_value before numvalue)
        .withColumn("aid", surrogate_aid())  # 80:83
    )
    # 80:71-73: dedup-before-UDF then join back. universe=raw scan: inchi
    # survives rekey+distinct unchanged, so the broadcast mapping harvests
    # distinct inchis from the cheap scan instead of re-executing the whole
    # join/distinct pipeline
    acts = with_derived_column_deduped(
        acts, "inchi", "smiles", inchi_to_smiles("inchi"),
        universe=acts_scan, observation=obs.new("activities.smiles"),
    )
    # contract column order (smiles before aid, matching the reference
    # envelope; README.md:17-25)
    cols = [c for c in acts.columns if c not in ("aid", "smiles")]
    acts = acts.select(*cols, "smiles", "aid")
    return obs.on(acts, "activities.out", obs.rows, obs.undeclared)


def harmonize_report(metrics: Mapping[str, Mapping | None],
                     sources: Sequence[str]) -> dict:
    """The run report, from the counts observed in one checked call (pure:
    no Spark). A count whose observation did not arrive reads None.

    - ``staged_rows``: staged rows per declared source, per table;
    - ``unresolvable_provenance``: staged activity rows whose source is
      NULL or undeclared;
    - ``dimension_rows``: dimension rows before and after the distinct;
    - ``payloads_canonicalized``: distinct raw payloads sent through the
      canonicalizer, per dimension;
    - ``rekey_dropped``: activity rows dropped by the sid and pid joins;
    - ``final_distinct``: rows into and out of the activities distinct,
      and the shrink (in / out);
    - ``smiles_inchis``: distinct InChIs sent through the smiles UDF;
    - ``brick_rows``, ``undeclared_source``: rows per output table, and
      those with a NULL or undeclared source;
    - ``pid_collisions``: pids carrying more than one payload.
    """
    def get(name: str, key: str = "rows"):
        m = metrics.get(name)
        return None if m is None else m.get(key)

    def minus(a, b):
        return None if a is None or b is None else a - b

    dims = ("substances", "properties")
    sid, pid, out = (get(f"activities.{n}")
                     for n in ("sid_rekeyed", "pid_rekeyed", "out"))
    return {
        "staged_rows": {t: {s: get(f"{t}.staged", f"source_{i}")
                            for i, s in enumerate(sources)}
                        for t in BRICK_TABLES},
        "unresolvable_provenance": get("activities.staged", "undeclared"),
        "dimension_rows": {t: {"before_distinct": get(f"{t}.staged"),
                               "after_distinct": get(f"{t}.distinct")}
                           for t in dims},
        "payloads_canonicalized": {t: get(f"{t}.payloads") for t in dims},
        "rekey_dropped": {"sid": minus(get("activities.staged"), sid),
                          "pid": minus(sid, pid)},
        "final_distinct": {"rows_in": pid, "rows_out": out,
                           "shrink": pid / out if pid and out else None},
        "smiles_inchis": get("activities.smiles"),
        "brick_rows": {t: get(f"{t}.out") for t in BRICK_TABLES},
        "undeclared_source": {t: get(f"{t}.out", "undeclared")
                              for t in BRICK_TABLES},
        "pid_collisions": get("properties.pids", "collisions"),
    }


def check_report(report: Mapping, min_rows: Sequence[int] = (0, 0, 0),
                 max_rekey_drops: int | None = None) -> None:
    """Raise :class:`HarmonizeInvariantError` naming every failed invariant
    of a :func:`harmonize_report` (pure: no Spark). Reference asserts
    80_harmonize.py:96-105 + tests.py:17-56. Each check can fail:

    - provenance: no staged activity row has a NULL or undeclared source.
      Counted on the raw scan, before the inner re-key joins, which would
      otherwise drop those rows silently;
    - row floors: each brick table has more rows than its ``min_rows``
      floor (80:96-98);
    - sources: no brick row has a NULL or undeclared source (80:100-101).
      On the ``staging_tables`` path a catalog table stores its source
      column, so an undeclared value would otherwise reach the brick;
    - pid -> data: one payload per pid (80:104-105). pid = md5(data) by
      construction, so only an md5 collision fails it;
    - re-key drops: at most ``max_rekey_drops`` staged activities resolve
      in no dimension (default: no limit).

    A count that was not observed fails as such. Referential integrity of
    the brick is not re-checked: activity ids come from inner joins with
    the same dimension builds the dimension frames are made of, so an
    activity with an unknown sid or pid cannot arise.
    """
    problems: list[str] = []

    def count(value, what: str):
        if value is None:
            problems.append(f"{what} not observed")
        return value or 0

    n = count(report["unresolvable_provenance"], "staged activity provenance")
    if n:
        declared = list(report["staged_rows"]["activities"])
        problems.append(
            f"{n} staged activity rows have unresolvable provenance "
            f"(staging dir not in declared sources {declared})")
    for table, floor in zip(BRICK_TABLES, min_rows):
        rows = report["brick_rows"][table]
        if rows is None:
            problems.append(f"{table} rows not observed")
        elif rows <= floor:
            problems.append(f"{table} {rows} <= floor {floor}")
        bad = count(report["undeclared_source"][table], f"{table} sources")
        if bad:
            problems.append(
                f"{bad} {table} with undeclared/unresolvable sources")
    n = count(report["pid_collisions"], "pid payloads")
    if n:
        problems.append(f"pid collision: {n} pids map to different data")
    if max_rekey_drops is not None:
        dropped = sum(count(v, f"{k} re-key drops")
                      for k, v in report["rekey_dropped"].items())
        if dropped > max_rekey_drops:
            problems.append(f"{dropped} staged activities dropped by the "
                            f"re-key joins > limit {max_rekey_drops}")
    if problems:
        raise HarmonizeInvariantError("; ".join(problems))
