"""QA / invariant module (SURVEY.md §5, §7 step 7).

Every data-quality assertion the reference runs inline, as reusable check
functions returning (name, ok, detail) tuples — composable into pipeline
gates. All checks are single Spark actions; none collects more than a
handful of rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chemharmony_spark.schemas import VALID_ACTIVITY_VALUES


@dataclass
class CheckResult:
    name: str
    ok: bool
    detail: str = ""


def check_unique(df: DataFrame, col: str, name: str = "") -> CheckResult:
    """reference 80:104-105 pid uniqueness; 03_integrate_tox21.R:90-91."""
    dup = df.groupBy(col).count().where("count > 1").count()
    return CheckResult(name or f"unique_{col}", dup == 0, f"duplicated={dup}")


def check_values_in(df: DataFrame, col: str,
                    allowed=VALID_ACTIVITY_VALUES) -> CheckResult:
    """value ∈ {positive, negative} (SURVEY.md §5 invariants)."""
    bad = df.where(~F.col(col).isin(*allowed) | F.col(col).isNull()).count()
    return CheckResult(f"values_in_{col}", bad == 0, f"bad={bad}")


def check_binary_consistency(activities: DataFrame) -> CheckResult:
    """binary_value == 1 iff value == 'positive' (reference 80:68)."""
    bad = activities.where(
        (F.col("binary_value") == 1) != (F.col("value") == "positive")
    ).count()
    return CheckResult("binary_value_consistency", bad == 0, f"bad={bad}")


def check_referential_integrity(activities: DataFrame, dim: DataFrame,
                                key: str) -> CheckResult:
    """activities FKs resolve (reference 09_integrate_pubchem.py:81-82)."""
    orphans = activities.join(dim.select(key).distinct(), on=key, how="left_anti").count()
    return CheckResult(f"ri_{key}", orphans == 0, f"orphans={orphans}")


def run_checks(*checks: CheckResult, raise_on_fail: bool = True) -> list[CheckResult]:
    failures = [c for c in checks if not c.ok]
    if failures and raise_on_fail:
        msgs = "; ".join(f"{c.name}: {c.detail}" for c in failures)
        raise AssertionError(f"QA failures: {msgs}")
    return list(checks)


def check_category_coverage(categories: DataFrame, min_categories: int = 10,
                            min_props_per_category: int = 10) -> CheckResult:
    """reference 91_property_categories.py:62-80: at least N categories each
    covering at least M properties."""
    ok = (
        categories.groupBy("category")
        .agg(F.countDistinct("pid").alias("np"))
        .where(F.col("np") >= min_props_per_category)
        .count()
    )
    return CheckResult("category_coverage", ok >= min_categories,
                       f"categories_with_{min_props_per_category}+_props={ok}")


def check_titles_unique(titles: DataFrame) -> CheckResult:
    """reference 92_llm_property_titles.py:70,78-83: titles globally unique
    and exactly one per pid."""
    dup_titles = titles.groupBy("title").count().where("count > 1").count()
    dup_pids = titles.groupBy("pid").count().where("count > 1").count()
    return CheckResult("titles_unique", dup_titles == 0 and dup_pids == 0,
                       f"dup_titles={dup_titles} dup_pids={dup_pids}")
