"""Session-factory contract tests.

The engine's integer-overflow discipline (BIGINT contract-edge casts,
queries.py D38 notes) requires ANSI arithmetic: overflow must raise, never
silently NULL. Spark 4 defaults ANSI on, but the factory must pin it so a
Spark 3.x / conf-overridden deployment keeps the same loud-failure contract
(analogue: reference 80_harmonize.py:96-105 row-count asserts).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from chemharmony_spark.session import host_defaults

REPO = Path(__file__).resolve().parent.parent


def test_session_pins_ansi_mode(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_session_pins_adaptive_execution(spark):
    # AQE is the engine's scale story (runtime coalesce + skew split);
    # regressing it silently would invalidate every SCALE.md claim.
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_bigint_overflow_errors_loudly(spark):
    df = spark.range(1).select(
        (F.lit(9223372036854775807).cast("bigint") + F.lit(1)).alias("x")
    )
    with pytest.raises(Exception, match="(?i)overflow|ARITHMETIC"):
        df.collect()


def test_host_defaults_follow_cores_and_memory():
    gb = 2**30
    # every usable core, half the physical memory as driver heap
    assert host_defaults({}, 4, 15 * gb + gb // 2) == (4, "7g")
    assert host_defaults({}, 32, 256 * gb) == (32, "128g")
    # a small host still gets a usable heap
    assert host_defaults({}, 1, gb) == (1, "1g")
    # the environment wins over the host
    env = {"SPARK_GRAFT_CPUS": "2", "SPARK_DRIVER_MEMORY": "3g"}
    assert host_defaults(env, 4, 16 * gb) == (2, "3g")
    assert host_defaults({"SPARK_GRAFT_CPUS": ""}, 4, 16 * gb) == (4, "8g")


def test_warm_mix_pass_reuses_compiled_classes(spark, sf_dir):
    """A re-run in a warm session must not recompile its generated code:
    the class cache must hold a whole operator-mix pass, so a second pass
    of the 11 mix queries compiles at most 10% of the classes of the
    first. Measured in a fresh session (tools/codegen_census.py), whose
    first pass compiles every class the mix needs."""
    env = dict(os.environ, SPARK_DRIVER_MEMORY="2g")
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "codegen_census.py"),
         "--queries", "mix", "--data", sf_dir, "--passes", "2"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    summary = json.loads(out.stdout.strip().splitlines()[-1])
    cold, warm = summary["classes_per_pass"]
    assert cold > 100, summary  # the census saw the mix compile
    assert warm <= 0.1 * cold, summary
    assert summary["cache_max_entries"] >= cold
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= cold
