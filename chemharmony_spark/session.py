"""SparkSession factory.

Parameterizes the reference's hand-tuned session configs
(reference: 80_harmonize.py:14-18, 09_integrate_pubchem.py:6-18) and upgrades
them to modern Spark practice: AQE (dynamic coalescing + skew-join splitting)
instead of a static ``spark.sql.shuffle.partitions=200``, Arrow for every
Python<->JVM hop, and vectorized parquet IO.

Scale notes (100 TB / 1000-executor design intent)
--------------------------------------------------
- AQE is the single most important switch: it re-plans shuffles at runtime,
  coalesces small partitions, and splits skewed ones — strictly better than
  the reference's static 200 partitions at any scale.
- ``maxPartitionBytes`` 128m keeps scan tasks memory-bounded regardless of
  input size; at 100 TB that is ~800k scan tasks, which Spark schedules fine.
- Broadcast threshold stays modest (32m) — dimension tables (region, nation,
  GHS codes, smiles maps) broadcast; fact tables never do.
- The compiled-class cache holds the engine's whole working set of
  generated code. Spark keys it by generated source and evicts LRU at
  ``spark.sql.codegen.cache.maxEntries`` (default 100); one operator-mix
  pass needs ~300 classes and harmonize ~100, so at the default every
  re-run recompiled them (Janino, then the JIT again). A batch job that is
  re-run in one session must pay compilation once, not per pass.
- Local defaults follow the host: ``local[<usable cores>]``, as many
  shuffle partitions, and half the physical memory as driver heap (local
  mode runs driver and executors in one JVM; the rest is left to the
  Python UDF workers and the page cache). ``SPARK_GRAFT_CPUS`` /
  ``SPARK_DRIVER_MEMORY`` and explicit arguments override them.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

# Python workers unpickle our pandas_udfs by module reference, so the package
# root must be importable in the worker too. Local mode: workers inherit the
# driver environment -> prepend to PYTHONPATH before the JVM launches.
# Cluster mode: ship the package with --py-files / spark.submit.pyFiles.
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ensure_worker_pythonpath() -> None:
    pp = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_PKG_ROOT}{os.pathsep}{pp}" if pp else _PKG_ROOT
        )


def host_defaults(env: Mapping[str, str], cores: int,
                  mem_bytes: int) -> tuple[int, str]:
    """(local cores, driver heap) for a host with ``cores`` usable cores and
    ``mem_bytes`` of physical memory: every core, and half the memory.
    ``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEMORY`` in ``env`` win."""
    cpus = int(env.get("SPARK_GRAFT_CPUS") or cores)
    heap = env.get("SPARK_DRIVER_MEMORY") or f"{max(1, mem_bytes // 2**31)}g"
    return cpus, heap


def _host_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # platform without CPU affinity
        return os.cpu_count() or 1


def _host_memory_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def get_spark(
    app_name: str = "chemharmony_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for columnar batch analytics.

    Locally this runs on every usable core (``$SPARK_GRAFT_CPUS`` if set,
    see :func:`host_defaults`); on a cluster the same configs hold — only
    master/memory sizing comes from spark-submit.
    """
    _ensure_worker_pythonpath()
    cpus, heap = host_defaults(os.environ, _host_cores(), _host_memory_bytes())
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: runtime re-planning beats static tuning ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- correctness: overflow must error, never silently NULL ---
        # The engine's BIGINT contract-edge casts (see queries.py D38 notes)
        # assume ANSI arithmetic. Spark 4 defaults to ANSI on, but a Spark 3.x
        # or conf-overridden deployment would silently NULL on overflow — the
        # worst failure mode for a correctness-first engine — so pin it here
        # rather than rely on the deployment default.
        .config("spark.sql.ansi.enabled", "true")
        # --- IO ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # --- Python boundary: always Arrow, never row-at-a-time pickle ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- compile generated code once per session, not once per pass ---
        # Spark's class cache (default 100 entries), sized with
        # tools/codegen_census.py at sf0.001: a mix pass compiles 303-319
        # distinct classes, a harmonize op 102, the 455-query inventory
        # 7,172 in one session plus 535 variants on a second pass (same
        # code, other AQE stage numbering / join side). 10,000 covers the
        # inventory; holding it costs 244 MB of Metaspace after two passes.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # --- quieter, deterministic local runs ---
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", heap)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
