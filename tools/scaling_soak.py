"""Scaling soak: measure how representative queries scale when the data
grows K× (default 8×) — the local evidence for the 100 TB design claims.

Builds /tmp/spark_soak/base (a copy of $SOAK_SRC, default sf0.1) and
/tmp/spark_soak/xK (K disjoint self-similar replicas: every join/window key
is offset by replica·10^9 and every document token is prefixed with a
replica tag, so similarity/dedup vocabularies are disjoint and the TRUE
output of every pairwise op scales linearly — any superlinear runtime is
therefore the ENGINE's fault, not output growth).

Usage: python tools/scaling_soak.py [K]
Prints one markdown table row per query: t_base, t_xK, ratio (ratio ≈ K or
below = linear or better; local[32] hides cluster network costs, but a
shuffle/plan that blows up quadratically shows up here regardless), then
ONE JSON line with the full results + drift controls.

Drift control (since round 7; r6 verdict task 3 — the r6 soak single-shot
ratios for q115/q123 read above r5's purely from host drift, and only a
hand A/B could adjudicate it): each scale is timed BEST-OF-2 with the
base/xK runs INTERLEAVED (base, xK, base, xK) so host drift lands on both
sides of the ratio equally, and every query carries a calibration sample
(bench.py's fixed reference plan) — a query whose sample reads >20% above
the session median was measured under contention; trust its ratio, not
its absolute times.

IO drift control (since round 9; r8 verdict task 1): the CPU calibration
sample is blind to page-cache/writeback stalls on the shared /tmp volume
(SCALE.md's variance note: x16 absolutes swung ~3x run-to-run), so every
query now also carries an IO probe sample (bench._io_probe: a timed
cache-dropped read of a fixed ~128 MB file; >2.5x the session median =
io_flagged), the replica build sync-and-settles before the first timed
entry, and the IO-heavy harmonize SPECIAL entries settle the writeback
backlog before EACH timed run.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from chemharmony_spark.session import get_spark  # noqa: E402

SRC = os.environ.get("SOAK_SRC", "/root/testdata/sf0.1")
# SOAK_PAYLOAD_SALT=1: media-modality variant (r6 verdict task 7). The
# standard token-prefix salt keeps token VOCABULARIES disjoint but barely
# moves aHash's 64 byte-pool cells, so payload-hashing queries (q79/q164)
# see replicas of the same doc as REAL near-dups and their output grows
# quadratically-ish with K (SCALE.md "aHash soak adjudication"). This mode
# additionally PREPENDS an r-dependent ~72-byte block to every document's
# text (the payload is its utf-8 bytes), shifting every pooled cell, so
# cross-replica payloads stop colliding and output scales linearly.
# Builds ONLY the documents table, under a separate root — use it only
# for payload-hashing queries (the prepended block is shared within a
# replica, which would inflate token-overlap queries' true output).
PAYLOAD_SALT = os.environ.get("SOAK_PAYLOAD_SALT") == "1"
ROOT = "/tmp/spark_soak_psalt" if PAYLOAD_SALT else "/tmp/spark_soak"
# SOAK_COLD=1 (r9): drop the OS page cache before EVERY timed run, so
# each run starts from the same (cold) IO state. Rationale: the r8/r9
# paired harmonize soaks showed ~2x swings on the x16 absolutes with
# BOTH drift probes clean — page-cache residency of the multi-GB replica
# set, not host contention. Cold mode removes that run-state freedom —
# and cold reads are the 100 TB-relevant regime regardless (a cluster-
# scale fact table never fits page cache; warm timings only model the
# local fixture). Needs root for /proc/sys/vm/drop_caches; the JSON
# records whether the drop actually worked.
COLD = os.environ.get("SOAK_COLD") == "1"
OFF = 1_000_000_000

# (table, [key columns to offset], text column to replica-salt or None)
TABLES = [
    ("lineitem", ["l_orderkey", "l_partkey", "l_suppkey"], None),
    ("orders", ["o_orderkey", "o_custkey"], None),
    ("customer", ["c_custkey", "c_nationkey"], None),
    ("part", ["p_partkey"], None),
    ("supplier", ["s_suppkey", "s_nationkey"], None),
    ("region", [], None),
    ("nation", [], None),
    ("events", ["event_id", "user_id"], None),
    ("documents", ["doc_id"], "text"),
    ("embeddings", ["vec_id"], None),
]

QUERIES = [
    "q01_pricing_summary",     # scan + hash agg
    "q12_window_median",       # high-cardinality window
    "q26_stratified_sample",   # two-phase top-k
    "q30_dedup_exact",         # fingerprint groupBy
    "q34_minhash_signatures",  # zero-shuffle signature scan
    "q36_jaccard_near_dups",   # LSH candidates + verify
    "q40_ann_lsh",             # r6: single posexplode candidate join
    "q58_grouped_percentiles", # bucketed exact selector
    "q76_resample_forward_fill",
    "q104_funnel",             # single-pass state machine
    "q123_dedup_pipeline",     # PPJoin -> CC -> keep-best
    "q131_weighted_median",    # weighted bucketed selector
    "q134_bm25_topk",          # persisted tf + doc_id-keyed join + TakeOrdered
    "q145_percentile_cont",    # shared bucketed selector, interpolated
    "q146_label_propagation",  # 3 broadcast-label rounds, checkpointed
    "q150_interval_merge",     # running-max-end islands, one exchange
    "q190_throttle_dedup",     # per-key sorted-array fold
    "q195_sequential_patterns",  # co-partitioned (user, day) pair join
    "q199_sorted_neighborhood",  # global-sort rank + 3n candidate join
    "q202_skipgram_pmi",       # persisted pair stream + margin joins
    "q209_modularity",         # LPA rounds + labeled-edge rollups
    "q212_revenue_recognition",  # capped explode, closed-form allocation
    "q224_backlog_curve",      # two-stream zero-filled grid + cumsum
    # round-3/4 hot paths + this round's plan-shape fixes
    "q115_semantic_cluster_dedup",  # literal-codebook assign + collapse
    "q304_sort_key_advisor",   # r4: bucketed global_row_number x3 keys
    "q312_fellegi_sunter",     # r4: bucketed md5-order rank + half-shift
    "q350_threshold_percolation",  # PPJoin -> CC at 3 thresholds
    "q434_rake_keywords",      # r4: TakeOrdered top-10 (was global rank)
    # round-4 additions (r4 verdict task 4: no soak rows existed)
    "q448_mad_outliers",       # grouped percentile selectors x2 passes
    "q449_llr_collocations",   # bigram agg + margin joins
    "q450_ngram_overlap_decay",  # n-gram explode + eval-dim broadcast
    "q451_split_balance_audit",  # cell agg + margin re-aggs
    "q452_vocab_overlap_matrix",  # token-keyed source-pair join
    "q453_int8_quantization_audit",  # scan-stage arithmetic only
    "q454_knn_hubness",        # DECLARED-quadratic exact top-5 feed
    "q455_pq_distortion_audit",  # lloyd train + assign + audit
    "q258_mutual_nearest_neighbors",  # DECLARED-quadratic exact kNN graph
    "q310_hard_negative_mining",  # DECLARED-quadratic exact pairs
    # q265_weighted_jaccard is soaked from SOAK_SRC=sf0.01: its cost is
    # verified-pairs x an O(L) map merge, and the sf0.1 near-dup corpus
    # has 7M verified pairs (~2 min single-node base) — linearity is the
    # claim under test, and it shows at any SF.
]


def build(spark, k: int) -> tuple[str, str]:
    base, xk = f"{ROOT}/base", f"{ROOT}/x{k}"
    # the sentinel is the LAST table each mode writes (payload-salt mode
    # builds only documents — checking embeddings there would rmtree and
    # rebuild the full 16x replicas on every invocation)
    sentinel = "documents" if PAYLOAD_SALT else "embeddings"
    if os.path.exists(f"{xk}/{sentinel}.parquet"):
        return base, xk  # reuse a finished build (delete ROOT to force)
    if os.path.exists(ROOT):
        shutil.rmtree(ROOT)
    tables = [t for t in TABLES if t[0] == "documents"] if PAYLOAD_SALT else TABLES
    for name, keys, text in tables:
        df = spark.read.parquet(f"{SRC}/{name}.parquet")
        df.write.parquet(f"{base}/{name}.parquet")
        # nation/region are fixed dims (25/5 rows) shared by all replicas;
        # replicated copies would break their PK-ness
        reps = 1 if not keys else k
        parts = []
        for i in range(reps):
            r = df
            for c in keys:
                r = r.withColumn(c, F.col(c) + F.lit(i * OFF))
            if text is not None and i > 0:
                # disjoint token space per replica: prefix every token
                r = r.withColumn(
                    text,
                    F.regexp_replace(F.col(text), r"(^|\s)(\S)", f"$1r{i}z$2"),
                )
            if text is not None and PAYLOAD_SALT and i > 0:
                # disjoint payload BYTES per replica: shift every aHash
                # byte-pool cell (see PAYLOAD_SALT note above)
                r = r.withColumn(
                    text,
                    F.concat(F.repeat(F.lit(f"r{i}y"), 24), F.lit(" "),
                             F.col(text)),
                )
            parts.append(r)
        out = parts[0]
        for p in parts[1:]:
            out = out.union(p)
        out.write.parquet(f"{xk}/{name}.parquet")
    return base, xk


def _harmonize_bucket_runner(spark, data_dir: str):
    """Soak entry for the designated 100x harmonize path (r7 verdict
    task 5): staging synthesized from the replicated tables (bench's
    fixture — customer->substances, part->properties, lineitem x orders
    ->activities), so the id-map CARDINALITY grows with K alongside the
    fact rows; registered as catalog tables bucketed on the re-key keys;
    harmonize(rekey_strategy='bucket', staging_tables=...) returns the
    activities frame the soak counts. Staging/table prep is cached per
    data_dir and runs in _prepare_harmonize_bucket BEFORE timing."""
    sources, tables = _HB_PREPARED[data_dir]
    from chemharmony_spark.plans.harmonize import harmonize

    res = harmonize(spark, f"{data_dir}_hstage", sources,
                    rekey_strategy="bucket", staging_tables=tables)
    return res.activities


_HB_PREPARED: dict[str, tuple[list[str], dict[str, str]]] = {}


def _prepare_harmonize_bucket(spark, data_dir: str, tag: float) -> None:
    """Untimed prep: build the staging dirs + bucketed catalog tables for
    one scale. ``tag`` disambiguates the catalog table names per scale
    (bench keys them by sf)."""
    if data_dir in _HB_PREPARED:
        return
    from bench import _prepare_bucketed_staging, _prepare_staging

    staging_root = f"{data_dir}_hstage"
    sources = _prepare_staging(spark, data_dir, staging_root)
    tables = _prepare_bucketed_staging(spark, staging_root, sources, tag)
    _HB_PREPARED[data_dir] = (sources, tables)


SPECIAL = {"harmonize_bucket": (_prepare_harmonize_bucket,
                                _harmonize_bucket_runner)}


def main() -> int:
    # usage: scaling_soak.py [K] [query ...]  (queries default to QUERIES)
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    names = sys.argv[2:] or QUERIES
    spark = get_spark()
    import __spark_entry__ as e
    from bench import (
        CAL_DRIFT_FACTOR,
        _calibrate,
        _drop_page_cache,
        _ensure_io_probe_file,
        _io_flags,
        _io_probe,
        _load_avg,
        _settle_io,
    )

    qs = dict(e.queries())
    for name, (_prep, runner) in SPECIAL.items():
        qs[name] = runner
    print(f"building base + x{k} replicas from {SRC} ...", flush=True)
    base, xk = build(spark, k)
    # the replica build just wrote GBs — drain the writeback backlog so
    # it can't stall the first timed entries (r9, the BENCH_r08 phantom),
    # and warm the IO probe (a session's first probe reads ~2-3x steady)
    _ensure_io_probe_file()
    _settle_io()
    _io_probe()
    load_before, cal_before = _load_avg(), _calibrate(spark)
    io_before = _io_probe()
    print("| query | t_base (s) | t_x%d (s) | ratio | cal (s) |" % k)
    print("|---|---|---|---|---|")
    from chemharmony_spark.cache import release_caches

    results: dict[str, dict] = {}
    cals: dict[str, float] = {}
    ios: dict[str, float] = {}
    for name in names:
        if name in SPECIAL:  # untimed fixture prep (staging + tables)
            for tag, d in ((9101.0, base), (9102.0, xk)):
                SPECIAL[name][0](spark, d, tag)
            # untimed warm-up run per scale (r9): the first execution of
            # a multi-second plan family in a session carries 3-6 s of
            # one-time JVM cost (whole-stage-codegen compilation, JIT) —
            # measured [9.5, 3.14] s for the SAME cold base-scale run
            # back-to-back. One-time costs don't scale with data, so
            # they contaminate the t_xK/t_base ratio; amortizing them
            # out before timing is what makes the ratio measure the
            # ENGINE's scaling. Headline queries keep the no-warm-up
            # protocol (sub-second plans; comparability with the r2-r8
            # soak tables).
            for d in (base, xk):
                qs[name](spark, d).count()
                release_caches()
        best = {base: None, xk: None}
        raw = {base: [], xk: []}  # per-run times: within-session spread
        # interleaved best-of-2: base, xK, base, xK — host drift lands on
        # both sides of the ratio (the r6 soak single-shotted each scale,
        # so a load spike during one side faked a scaling regression)
        cold_ok = True
        for _ in range(2):
            for d in (base, xk):
                if name in SPECIAL:
                    # the harmonize entries are IO-heavy and their prep +
                    # prior iterations leave dirty pages: settle before
                    # EACH timed run (r9; x16 absolutes used to swing ~3x
                    # on this host's shared /tmp — SCALE.md variance note)
                    _settle_io()
                if COLD:  # pin the IO state: every run starts cold
                    _settle_io()
                    cold_ok = _drop_page_cache() and cold_ok
                t0 = time.time()
                qs[name](spark, d).count()
                dt = time.time() - t0
                best[d] = dt if best[d] is None else min(best[d], dt)
                raw[d].append(round(dt, 2))
                release_caches()  # bound cache residency across the soak
        cals[name] = _calibrate(spark, reps=2)
        ios[name] = _io_probe()
        tb, tk = best[base], best[xk]
        results[name] = {
            "t_base": round(tb, 2), f"t_x{k}": round(tk, 2),
            "ratio": round(tk / tb, 2), "cal_sec": cals[name],
            "io_probe_sec": ios[name],
            # raw per-run times (best-of-2 inputs): a wide spread between
            # the two runs of ONE scale localizes variance INSIDE the
            # session (JVM/GC state), where no host probe can see it
            "runs": {"base": raw[base], f"x{k}": raw[xk]},
        }
        if COLD:
            results[name]["cold"] = cold_ok  # False = drop_caches failed
        print(f"| {name} | {tb:.2f} | {tk:.2f} | {tk / tb:.1f}x "
              f"| {cals[name]:.2f} |", flush=True)
    cal_after, load_after = _calibrate(spark), _load_avg()
    io_after = _io_probe()
    # median baseline, like bench.py: the ~0.3 s reference plan has ~±20%
    # sample noise, so one outlier-low sample must not flag the whole run
    import statistics

    ref_cal = statistics.median(
        [cal_before, cal_after] + list(cals.values())
    )
    ref_io = statistics.median(
        [io_before, io_after] + list(ios.values())
    )
    flagged = sorted(
        n for n, c in cals.items() if c > CAL_DRIFT_FACTOR * ref_cal
    )
    print(json.dumps({
        "metric": "soak_scaling_ratio",
        "k": k,
        "src": SRC,
        "cold": COLD,
        "queries": results,
        "calibration_sec": {"before": cal_before, "after": cal_after},
        "load_avg": {"before": load_before, "after": load_after},
        "load_flagged": flagged,
        "io_probe_sec": {"before": io_before, "after": io_after},
        # under SOAK_COLD the per-entry probes read the probe FILE cold
        # too (its pages were just dropped with everything else), so a
        # high sample is the intended state, not contention — io
        # flagging is only meaningful on the warm protocol
        "io_flagged": [] if COLD else _io_flags(ios, ref_io),
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
