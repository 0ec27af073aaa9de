"""Tests of the benchmark itself: generator determinism, the event-log
parser, metric names, and that the timed sink keeps the full plan.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
DATA = os.path.join(BENCH, "tests", "data")
sys.path[:0] = [BENCH, ROOT]

import eventlog  # noqa: E402
import gen  # noqa: E402

SMALL_STAGING = dict(
    n_sources=3, sub_pool=400, prop_pool=60, inchi_pool=150,
    subs_per_source=200, props_per_source=30, acts_per_source=1_000,
    alias_share=0.2, dup_share=0.1, orphan_share=0.02,
)
SMALL_MIX = dict(gen.MIX_SPEC, n_docs=120, n_vecs=80, n_lineitem=500,
                 n_events=400)


def _tree(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def _same_bytes(a: str, b: str) -> bool:
    files = _tree(a)
    return files == _tree(b) and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
        for f in files)


@pytest.mark.parametrize("make,spec", [(gen.gen_staging, SMALL_STAGING),
                                       (gen.gen_mix, SMALL_MIX)])
def test_generator_is_a_function_of_the_seed(tmp_path, make, spec):
    outs = {}
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = tmp_path / name
        d.mkdir()
        outs[name] = (str(d), make(str(d), seed, spec))
    (a, ta), (b, tb), (c, tc) = outs["a"], outs["b"], outs["c"]
    assert ta == tb and _same_bytes(a, b)
    assert ta != tc and not _same_bytes(a, c)


def test_staging_truth_counts_the_planted_rows(tmp_path):
    import pandas as pd

    t = gen.gen_staging(str(tmp_path), 3, SMALL_STAGING)
    acts = pd.concat(pd.read_parquet(tmp_path / "staging" / s / "activities.parquet")
                     for s in t["sources"])
    assert len(acts) == t["staged_activity_rows"] == 3_000
    assert t["dropped_orphans"] == 3 * 20
    assert acts["sid"].str.contains("orphan").sum() + \
        acts["pid"].str.contains("orphan").sum() == t["dropped_orphans"]
    assert 0 < t["activities"] < t["staged_activity_rows"] - t["dropped_orphans"]


def test_eventlog_parser_on_the_checked_in_log():
    with open(os.path.join(DATA, "spans_tiny.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    totals = eventlog.per_span(
        eventlog.read_events(os.path.join(DATA, "events_1_tiny")), spans)
    # job 0 and its two tasks fall in the inner span, job 1 in the outer
    # one, job 2 after both spans ended
    assert totals[1] == {
        "jobs": 1, "task_cpu_s": 2.5, "shuffle_read_bytes": 12,
        "shuffle_write_bytes": 14, "spill_bytes": 10, "gc_s": 0.1,
        "python_udf_s": 0.25}
    assert totals[0] == {
        "jobs": 1, "task_cpu_s": 1.0, "shuffle_read_bytes": 1,
        "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_s": 0.02,
        "python_udf_s": 0.05}
    groups = eventlog.rollup(spans, totals, lambda s: s["name"].split(".")[0])
    assert groups["queries"]["task_cpu_s"] == 2.5


def test_metric_names_and_units_follow_the_contract():
    import run
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    name = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    unit = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
    metrics = b["end_to_end"] + b["per_layer"]
    assert all(name.fullmatch(m["name"]) and unit.fullmatch(m["unit"])
               for m in metrics)
    assert len({m["name"] for m in metrics}) == len(metrics)
    # the file lists exactly what a run prints
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == \
        run.per_layer_units(workloads.MIX)
    assert sorted(w["name"] for w in b["workloads"]) == sorted(workloads.WORKLOADS)


_JOIN = re.compile(r"^[\s:+\-*|]*(\w*Join|CartesianProduct)\b")
_WINDOW = re.compile(r"^[\s:+\-*|]*Window\b(?!GroupLimit)")


def _plan_nodes(plan: str) -> tuple[int, int]:
    lines = plan.split("== Physical Plan ==")[-1].splitlines()
    return (sum(bool(_WINDOW.match(x)) for x in lines),
            sum(bool(_JOIN.match(x)) for x in lines))


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from run import prepare_work, session_conf

    from chemharmony_spark import get_spark

    prepare_work()
    logs = str(tmp_path_factory.mktemp("eventlog"))
    data = str(tmp_path_factory.mktemp("mix"))
    gen.gen_mix(data, 5, SMALL_MIX)
    spark = get_spark(app_name="perfbench-test", **session_conf(logs))
    yield spark, logs, data
    spark.stop()


def test_noop_timing_keeps_the_windows_and_joins_count_prunes(traced_spark):
    """q58 and q123 are timed through workloads.full_output. The plan that
    sink executes keeps every Window and Join of the query; the count()
    plan of the same frame drops some (the reason the benchmark never times
    a count)."""
    import __spark_entry__ as entry

    from workloads import full_output

    spark, logs, data = traced_spark
    sc = spark.sparkContext
    qs = entry.queries()
    for q in ("q58_grouped_percentiles", "q123_dedup_pipeline"):
        df = qs[q](spark, data)
        sc.setJobDescription(f"noop:{q}")
        full_output(df)
        sc.setJobDescription(f"count:{q}")
        df.count()
        sc.setJobDescription(None)
    spark.stop()
    plans = {}
    for e in eventlog.read_events(logs):
        desc = e.get("description") or ""
        if e["Event"].endswith("SQLExecutionStart") and ":" in desc:
            plans.setdefault(desc, e["physicalPlanDescription"])
    for q in ("q58_grouped_percentiles", "q123_dedup_pipeline"):
        full = _plan_nodes(plans[f"noop:{q}"])
        counted = _plan_nodes(plans[f"count:{q}"])
        assert full[0] >= 1 and full[0] > counted[0], (q, full, counted)
        if q.startswith("q123"):
            assert full[1] > counted[1], (q, full, counted)
