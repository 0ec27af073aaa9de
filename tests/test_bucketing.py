"""Bucketed-write scale path (SCALE.md: the mitigation for re-key maps that
outgrow broadcast): co-bucketed tables join without a shuffle. Verified by
inspecting the physical plan for Exchange operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chemharmony_spark.sources.writers import write_parquet


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    return str(tmp_path_factory.mktemp("warehouse"))


def test_cobucketed_join_has_no_shuffle(spark, warehouse):
    acts = spark.range(0, 10000).select(
        F.col("id").alias("sid"),
        (F.col("id") % 7).alias("x"),
    )
    subs = spark.range(0, 1000).select(
        F.col("id").alias("sid"),
        F.md5(F.col("id").cast("string")).alias("data"),
    )
    spark.sql("DROP TABLE IF EXISTS acts_b")
    spark.sql("DROP TABLE IF EXISTS subs_b")
    write_parquet(acts, f"{warehouse}/acts_b", bucket_by=(8, ["sid"]),
                  table_name="acts_b")
    write_parquet(subs, f"{warehouse}/subs_b", bucket_by=(8, ["sid"]),
                  table_name="subs_b")

    a = spark.table("acts_b")
    s = spark.table("subs_b")
    # disable broadcast so the join strategy must rely on bucketing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(s, on="sid")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # every activity row with sid < 1000 finds its substance
        assert joined.count() == acts.where("sid < 1000").count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS acts_b")
        spark.sql("DROP TABLE IF EXISTS subs_b")


def _streamed_subtree(plan: str, *needles: str) -> list[str]:
    """Lines of the FIRST (streamed) child subtree of the first plan node
    whose line contains ALL ``needles``. In TreeNode.toString a node's
    children print with their ':-'/'+-' markers at the column where the
    parent's own text starts; the streamed subtree is everything from the
    ':-' child up to the '+-' sibling at that column."""
    lines = plan.splitlines()
    idx, col = next(
        (i, line.find(needles[0]))
        for i, line in enumerate(lines)
        if all(n in line for n in needles)
    )
    out = []
    for line in lines[idx + 1:]:
        if len(line) > col and line[col:col + 2] == "+-":
            break
        out.append(line)
    return out


def test_harmonize_e2e_bucketed_staging_fact_side_zero_exchange(spark, warehouse):
    """r5 verdict task 5: the designated 100 TB harmonize path, END TO END.
    Staging written as catalog tables bucketed on the composite re-key key
    (activities by (source, sid)), harmonize(staging_tables=...,
    rekey_strategy='bucket') — the sid re-key join must read the fact side
    STRAIGHT OFF the bucketed scan: no Exchange anywhere in its streamed
    subtree, with broadcasts disabled so bucketing alone must carry it.
    Rows must match the glob-staging auto path exactly."""
    from pyspark.sql import functions as F2

    from chemharmony_spark.plans.harmonize import harmonize

    subs = spark.range(0, 50).select(
        F2.concat(F2.lit("src"), (F2.col("id") % 2).cast("string")).alias("source"),
        F2.col("id").cast("string").alias("sid"),
        F2.to_json(F2.struct(F2.col("id").alias("x"))).alias("data"),
    )
    props = spark.range(0, 20).select(
        F2.concat(F2.lit("src"), (F2.col("id") % 2).cast("string")).alias("source"),
        F2.col("id").cast("string").alias("pid"),
        F2.to_json(F2.struct(F2.col("id").alias("y"))).alias("data"),
    )
    acts = spark.range(0, 500).select(
        F2.concat(F2.lit("src"), (F2.col("id") % 2).cast("string")).alias("source"),
        (F2.col("id") % 50).cast("string").alias("sid"),
        (F2.col("id") % 20).cast("string").alias("pid"),
        F2.concat(F2.lit("InChI=1S/C"), (F2.col("id") % 20).cast("string")).alias("inchi"),
        F2.when(F2.col("id") % 3 == 0, "positive").otherwise("negative").alias("value"),
    )
    for n in ("e2e_acts", "e2e_subs", "e2e_props"):
        spark.sql(f"DROP TABLE IF EXISTS {n}")
    write_parquet(acts, f"{warehouse}/e2e_acts",
                  bucket_by=(8, ["source", "sid"]), table_name="e2e_acts")
    write_parquet(subs, f"{warehouse}/e2e_subs",
                  bucket_by=(8, ["source", "sid"]), table_name="e2e_subs")
    write_parquet(props, f"{warehouse}/e2e_props",
                  bucket_by=(8, ["source", "pid"]), table_name="e2e_props")
    # glob-staging mirror for row parity (source column comes from the path)
    glob_root = f"{warehouse}/e2e_glob"
    for src in ("src0", "src1"):
        for name, df in (("substances", subs), ("properties", props),
                         ("activities", acts)):
            df.where(F2.col("source") == src).drop("source").write.mode(
                "overwrite"
            ).parquet(f"{glob_root}/{src}/{name}.parquet")
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        res = harmonize(
            spark, "/nonexistent", ["src0", "src1"], check_invariants=False,
            rekey_strategy="bucket",
            staging_tables={"substances": "e2e_subs",
                            "properties": "e2e_props",
                            "activities": "e2e_acts"},
        )
        plan = res.activities._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan and "e2e_acts" in plan
        fact_side = _streamed_subtree(plan, "ShuffledHashJoin", "__localsid#")
        assert any("e2e_acts" in line for line in fact_side), (
            "sid re-key join's streamed side is not the activities scan:\n"
            + plan
        )
        assert not any("Exchange" in line for line in fact_side), (
            "bucketed fact side still shuffles into the sid re-key join:\n"
            + plan
        )
        got = sorted(
            map(tuple, res.activities.drop("aid", "smiles").collect())
        )
        auto = harmonize(spark, glob_root, ["src0", "src1"],
                         check_invariants=False)
        want = sorted(
            map(tuple, auto.activities.drop("aid", "smiles").collect())
        )
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
        for n in ("e2e_acts", "e2e_subs", "e2e_props"):
            spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_harmonize_staging_tables_undeclared_source_aborts(spark, warehouse):
    """r7 ADVICE: a catalog table STORES its source column, so an
    undeclared value used to flow silently into the substances brick
    (the glob path derives source from declared dirs and NULLs loudly).
    The dim invariants must now abort like the activities one does."""
    from pyspark.sql import functions as F2

    from chemharmony_spark.plans.harmonize import harmonize

    subs = spark.createDataFrame(
        [("src0", "s1", '{"x": 1}'), ("rogue", "s2", '{"x": 2}')],
        "source string, sid string, data string",
    )
    props = spark.createDataFrame(
        [("src0", "p1", '{"y": 1}')], "source string, pid string, data string"
    )
    acts = spark.createDataFrame(
        [("src0", "s1", "p1", "InChI=1S/C", "positive")],
        "source string, sid string, pid string, inchi string, value string",
    )
    for n in ("prov_subs", "prov_props", "prov_acts"):
        spark.sql(f"DROP TABLE IF EXISTS {n}")
    write_parquet(subs, f"{warehouse}/prov_subs",
                  bucket_by=(2, ["source", "sid"]), table_name="prov_subs")
    write_parquet(props, f"{warehouse}/prov_props",
                  bucket_by=(2, ["source", "pid"]), table_name="prov_props")
    write_parquet(acts, f"{warehouse}/prov_acts",
                  bucket_by=(2, ["source", "sid"]), table_name="prov_acts")
    try:
        with pytest.raises(AssertionError, match="substances with undeclared"):
            harmonize(
                spark, "/nonexistent", ["src0"], check_invariants=True,
                staging_tables={"substances": "prov_subs",
                                "properties": "prov_props",
                                "activities": "prov_acts"},
            )
    finally:
        for n in ("prov_subs", "prov_props", "prov_acts"):
            spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_harmonize_rekey_shape_cobucketed_composite_key(spark, warehouse):
    """The at-rest completion of harmonize's rekey_strategy='bucket'
    (plans/harmonize.py docstring): staging activities and the sid map
    bucketed on the SAME composite (source, sid) key join with ZERO
    exchanges — the exact re-key join shape, so at 100x the fact table
    never shuffles for the re-key even without broadcast."""
    acts = spark.range(0, 20000).select(
        F.concat(F.lit("src"), (F.col("id") % 3).cast("string")).alias("source"),
        F.concat(F.lit("s"), (F.col("id") % 500).cast("string")).alias("sid"),
        (F.col("id") % 2).alias("binary_value"),
    )
    sid_map = spark.range(0, 1500).select(
        F.concat(F.lit("src"), (F.col("id") % 3).cast("string")).alias("source"),
        F.concat(F.lit("s"), (F.col("id") % 500).cast("string")).alias("sid"),
        F.md5(F.col("id").cast("string")).alias("newsid"),
    ).distinct()
    spark.sql("DROP TABLE IF EXISTS acts_ck")
    spark.sql("DROP TABLE IF EXISTS sidmap_ck")
    write_parquet(acts, f"{warehouse}/acts_ck",
                  bucket_by=(8, ["source", "sid"]), table_name="acts_ck")
    write_parquet(sid_map, f"{warehouse}/sidmap_ck",
                  bucket_by=(8, ["source", "sid"]), table_name="sidmap_ck")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("acts_ck").join(
            spark.table("sidmap_ck"), on=["source", "sid"], how="inner"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"composite-key bucketed rekey shuffles:\n{plan}"
        assert joined.count() == 20000  # every (source, sid) resolves
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS acts_ck")
        spark.sql("DROP TABLE IF EXISTS sidmap_ck")
