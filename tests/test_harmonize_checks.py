"""Harmonize invariants as a pure function of observed counts
(plans/harmonize.py check_report), the run report built from the same
observations, and its agreement with counts taken straight from the
staged files."""

from __future__ import annotations

import copy
import json
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

from chemharmony_spark.plans.harmonize import (
    HarmonizeInvariantError,
    check_report,
    harmonize,
)

SOURCES = ["srcA", "srcB", "srcC"]
REPO = Path(__file__).resolve().parent.parent

CLEAN = {
    "staged_rows": {"substances": {"a": 3}, "properties": {"a": 2},
                    "activities": {"a": 5}},
    "unresolvable_provenance": 0,
    "dimension_rows": {"substances": {"before_distinct": 3, "after_distinct": 3},
                       "properties": {"before_distinct": 2, "after_distinct": 2}},
    "payloads_canonicalized": {"substances": 3, "properties": 2},
    "rekey_dropped": {"sid": 1, "pid": 1},
    "final_distinct": {"rows_in": 3, "rows_out": 3, "shrink": 1.0},
    "smiles_inchis": 2,
    "brick_rows": {"substances": 3, "properties": 2, "activities": 3},
    "undeclared_source": {"substances": 0, "properties": 0, "activities": 0},
    "pid_collisions": 0,
}


def _with(path: tuple, value) -> dict:
    report = copy.deepcopy(CLEAN)
    node = report
    for key in path[:-1]:
        node = node[key]
    node[path[-1]] = value
    return report


def test_check_report_passes_a_clean_report():
    check_report(CLEAN)
    check_report(CLEAN, min_rows=(2, 1, 2), max_rekey_drops=2)


@pytest.mark.parametrize("report, kwargs, match", [
    (CLEAN, {"min_rows": (3, 0, 0)}, "substances 3 <= floor 3"),
    (CLEAN, {"min_rows": (0, 2, 0)}, "properties 2 <= floor 2"),
    (CLEAN, {"min_rows": (0, 0, 3)}, "activities 3 <= floor 3"),
    (_with(("undeclared_source", "substances"), 1), {},
     "1 substances with undeclared"),
    (_with(("undeclared_source", "properties"), 2), {},
     "2 properties with undeclared"),
    (_with(("undeclared_source", "activities"), 3), {},
     "3 activities with undeclared"),
    (_with(("unresolvable_provenance",), 4), {}, "unresolvable provenance"),
    (_with(("pid_collisions",), 1), {}, "pid collision"),
    (CLEAN, {"max_rekey_drops": 1}, "2 staged activities dropped"),
    (_with(("brick_rows", "activities"), None), {}, "activities rows not observed"),
])
def test_check_report_fails_each_violated_check(report, kwargs, match):
    with pytest.raises(HarmonizeInvariantError, match=match):
        check_report(report, **kwargs)


def test_invariant_error_is_an_assertion_error():
    with pytest.raises(AssertionError):
        check_report(_with(("pid_collisions",), 1))


def test_check_report_raises_under_python_O():
    """The checks are explicit raises, not asserts: ``python -O`` strips
    asserts and must still abort on a violated invariant."""
    code = (
        "import json, sys\n"
        "assert False, 'asserts are live: not running under -O'\n"
        "from chemharmony_spark.plans.harmonize import check_report\n"
        "check_report(json.loads(sys.argv[1]))\n"
    )
    bad = _with(("undeclared_source", "substances"), 1)
    proc = subprocess.run(
        [sys.executable, "-O", "-c", code, json.dumps(bad)],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "HarmonizeInvariantError" in proc.stderr
    assert "substances with undeclared" in proc.stderr


def _staged(root: str, table: str) -> pd.DataFrame:
    frames = []
    for src in SOURCES:
        df = pd.read_parquet(Path(root) / src / f"{table}.parquet")
        frames.append(df.assign(source=src))
    return pd.concat(frames, ignore_index=True)


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=repr)


def test_report_matches_independent_counts(spark, staging_fixture, tmp_path):
    """The same report and the same brick with the dimension builds persisted
    (default) and with them checkpointed to parquet under ``scratch_dir``."""
    default = harmonize(spark, staging_fixture, SOURCES)
    _assert_report_counts(default, staging_fixture)
    scratch = harmonize(spark, staging_fixture, SOURCES,
                        scratch_dir=str(tmp_path / "scratch"))
    _assert_report_counts(scratch, staging_fixture)
    assert (tmp_path / "scratch" / "substances").is_dir()
    assert (tmp_path / "scratch" / "properties").is_dir()
    for table in ("substances", "properties", "activities"):
        assert _rows(getattr(scratch, table)) == _rows(getattr(default, table))


def _assert_report_counts(res, staging_fixture) -> None:
    rep = res.report
    check_report(rep)
    subs, props, acts = (_staged(staging_fixture, t)
                         for t in ("substances", "properties", "activities"))

    for name, df in (("substances", subs), ("properties", props),
                     ("activities", acts)):
        assert rep["staged_rows"][name] == df["source"].value_counts().reindex(
            SOURCES, fill_value=0).to_dict()
    for name, df, key in (("substances", subs, "sid"),
                          ("properties", props, "pid")):
        assert rep["dimension_rows"][name] == {
            "before_distinct": len(df),
            "after_distinct": len(df.drop_duplicates([key, "data", "source"])),
        }
        # each distinct raw payload goes through the canonicalizer once
        assert rep["payloads_canonicalized"][name] == df["data"].nunique()
    assert rep["smiles_inchis"] == acts["inchi"].nunique()

    # re-key on (source, local id); every fixture activity resolves
    keyed = acts.merge(subs[["source", "sid"]].drop_duplicates(), on=["source", "sid"])
    assert rep["rekey_dropped"]["sid"] == len(acts) - len(keyed)
    keyed = keyed.merge(props[["source", "pid"]].drop_duplicates(), on=["source", "pid"])
    assert rep["rekey_dropped"]["pid"] == len(acts) - rep["rekey_dropped"]["sid"] - len(keyed)
    n_out = res.activities.count()
    assert rep["final_distinct"] == {"rows_in": len(keyed), "rows_out": n_out,
                                     "shrink": len(keyed) / n_out}
    assert rep["brick_rows"] == {"substances": res.substances.count(),
                                 "properties": res.properties.count(),
                                 "activities": n_out}
    assert rep["unresolvable_provenance"] == 0
    assert rep["undeclared_source"] == {t: 0 for t in rep["undeclared_source"]}
    assert rep["pid_collisions"] == 0


def test_rekey_drop_limit_and_cli_report(spark, tmp_path, capsys):
    """An activity whose sid resolves in no substance is dropped by the
    re-key join: the report counts it, a limit of 0 aborts the call, and
    the CLI prints the report as one JSON line."""
    from chemharmony_spark.__main__ import build_parser

    staging = tmp_path / "staging"
    d = staging / "sA"
    d.mkdir(parents=True)
    pd.DataFrame({"sid": ["s1"], "data": [json.dumps({"n": 1})]}
                 ).to_parquet(d / "substances.parquet")
    pd.DataFrame({"pid": ["p1"], "data": [json.dumps({"a": 1})]}
                 ).to_parquet(d / "properties.parquet")
    pd.DataFrame({"aid": ["a1", "a2"], "sid": ["s1", "orphan"],
                  "pid": ["p1", "p1"], "inchi": ["InChI=1S/H2O/h1H2"] * 2,
                  "value": ["positive"] * 2}).to_parquet(d / "activities.parquet")

    with pytest.raises(HarmonizeInvariantError, match="1 staged activities dropped"):
        harmonize(spark, str(staging), ["sA"], max_rekey_drops=0)

    args = build_parser().parse_args([
        "harmonize", "--staging", str(staging), "--sources", "sA",
        "--out", str(tmp_path / "brick"),
    ])
    assert args.fn(spark, args) == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines()
             if ln.startswith("{")]
    assert len(lines) == 1
    report = json.loads(lines[0])
    assert report["rekey_dropped"] == {"sid": 1, "pid": 0}
    assert report["brick_rows"]["activities"] == 1
