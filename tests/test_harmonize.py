"""FIXTURES.md F1 invariants for the harmonize plan (reference semantics:
80_harmonize.py:96-105, src/tests.py:17-56)."""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import functions as F

from chemharmony_spark.plans.harmonize import harmonize

SOURCES = ["srcA", "srcB", "srcC"]


def _run(spark, staging_fixture):
    return harmonize(spark, staging_fixture, SOURCES)


def test_cross_source_substance_collapses_to_one_sid(spark, staging_fixture):
    res = _run(spark, staging_fixture)
    canon = json.dumps(
        {"casrn": "50-78-2", "name": "aspirin"}, sort_keys=True, separators=(",", ":")
    )
    expected_sid = hashlib.md5(canon.encode()).hexdigest()
    rows = res.substances.where(F.col("sid") == expected_sid).collect()
    assert {r.source for r in rows} == {"srcA", "srcB"}
    # one sid row per source, same canonical data
    assert all(r.data == canon for r in rows)


def test_ids_are_content_addressed_and_unique(spark, staging_fixture):
    res = _run(spark, staging_fixture)
    props = res.properties.collect()
    for r in props:
        assert r.pid == hashlib.md5(r.data.encode()).hexdigest()
    # pid <-> data bijection
    assert len({r.pid for r in props}) == len({r.data for r in props})


def test_canonicalization_rounds_and_drops(spark, staging_fixture):
    res = _run(spark, staging_fixture)
    datas = [r.data for r in res.substances.collect()]
    assert any('"weight":194.1901' in d for d in datas)  # rounded to 4dp
    assert not any('"x"' in d for d in datas)  # null dropped
    assert not any('"note"' in d for d in datas)  # empty-string dropped


def test_binary_value_and_smiles(spark, staging_fixture):
    res = _run(spark, staging_fixture)
    acts = res.activities.collect()
    for r in acts:
        assert r.binary_value == (1 if r.value == "positive" else 0)
    by_inchi = {r.inchi: r.smiles for r in acts}
    assert by_inchi["badinchi"] is None  # invalid inchi -> null smiles
    assert by_inchi["InChI=1S/C9H8O4"] is not None


def test_referential_integrity_and_rekey(spark, staging_fixture):
    res = _run(spark, staging_fixture)
    sids = {r.sid for r in res.substances.collect()}
    pids = {r.pid for r in res.properties.collect()}
    for r in res.activities.collect():
        assert r.sid in sids and r.pid in pids
        assert len(r.aid) == 32  # md5 hex
    # consistency check (src/tests.py): per-source distinct pids match
    a = res.activities.groupBy("source").agg(F.countDistinct("pid").alias("na"))
    p = res.properties.groupBy("source").agg(F.countDistinct("pid").alias("np"))
    joined = a.join(p, "source", "outer").collect()
    for r in joined:
        assert r.na == r.np


def test_harmonize_is_idempotent(spark, staging_fixture):
    r1 = _run(spark, staging_fixture)
    r2 = _run(spark, staging_fixture)
    assert sorted(map(tuple, r1.activities.collect())) == sorted(
        map(tuple, r2.activities.collect())
    )


def test_heterogeneous_staging_schemas_keep_numvalue(spark, tmp_path):
    """Per-source staging schemas legitimately differ (only
    measurement-shaped sources write numvalue); without mergeSchema the
    scan inferred from ONE sampled footer and the brick's numvalue column
    survived or vanished depending on file ordering (r5 review)."""
    import json as _json

    import pandas as pd

    root = tmp_path / "stage"
    for src, extra in (("srcA", False), ("srcB", True)):
        d = root / src
        d.mkdir(parents=True)
        pd.DataFrame({"sid": [f"{src}-s"], "data": [_json.dumps({"n": src})]}
                     ).to_parquet(d / "substances.parquet")
        pd.DataFrame({"pid": [f"{src}-p"], "data": [_json.dumps({"a": 1})]}
                     ).to_parquet(d / "properties.parquet")
        acts = {"aid": [f"{src}-a"], "sid": [f"{src}-s"], "pid": [f"{src}-p"],
                "inchi": ["InChI=1S/H2O/h1H2"], "value": ["positive"]}
        if extra:
            acts["numvalue"] = [42.5]
        pd.DataFrame(acts).to_parquet(d / "activities.parquet")
    res = harmonize(spark, str(root), ["srcA", "srcB"])
    assert "numvalue" in res.activities.columns
    vals = {r.source: r.numvalue for r in res.activities.collect()}
    assert vals["srcB"] == 42.5 and vals["srcA"] is None
