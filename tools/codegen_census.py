"""Codegen census: how much generated code a pass compiles, and what it costs.

    python tools/codegen_census.py --queries mix --data SF_DIR
    python tools/codegen_census.py --queries all --data SF_DIR --passes 1
    python tools/codegen_census.py --queries mix --seed 1
    python tools/codegen_census.py --workload harmonize_wide --seed 1 --max-entries 100

Run from the repository root; SF_DIR is a directory of the queries'
tables (e.g. the sf0.001 test data). Builds one session with the engine's
defaults (``--max-entries`` overrides ``spark.sql.codegen.cache.maxEntries``
to compare cache sizes), then runs the same work ``--passes`` times in it:
a named set of queries from ``__spark_entry__.queries()`` (``mix`` is the
benchmark's 11-query operator mix, ``all`` the whole inventory), each
computed to full output, or the benchmark's harmonize operation
(``--workload``). Inputs the benchmark generates (``perfbench/gen.py``,
from ``--seed`` into ``.perfbench_work/``) are used for ``--workload``,
and for ``--queries`` when no ``--data`` is given: there they are the
benchmark's operator_mix tables.
Prints one JSON line per pass, then a summary line:

- ``classes``: classes Janino compiled during the pass, from
  ``CodegenMetrics``' compilation-time histogram count. Spark's class cache
  is keyed by generated source, so on a warm pass this counts recompiles:
  evicted classes plus sources that differ from run to run.
- ``janino_ms``: Janino compile time (``CodeGenerator.compileTime``).
- ``jit_cpu_s``: CPU of the JVM's C1/C2 compiler threads, from
  ``/proc/<jvm>/task/*/stat``. The session starts the JVM with
  ``-XX:-UseDynamicNumberOfCompilerThreads`` so that no compiler thread
  exits, taking its CPU time with it, during the census.
- ``metaspace_mb``, ``code_cache_mb``: Metaspace (where generated
  classes live) and JIT code cache in use after the pass.
- ``per_step``: classes compiled by each query (or the one operation).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "perfbench"))

_TICK = os.sysconf("SC_CLK_TCK")


def jvm_pids() -> list[int]:
    """The JVMs in this process's tree (local mode: the one driver JVM)."""
    from spans import tree_pids

    out = []
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    out.append(pid)
        except OSError:  # exited while listing
            continue
    return out


def compiler_thread_cpu_s(pids: list[int]) -> float:
    """User+system CPU of the C1/C2 compiler threads of ``pids``."""
    ticks = 0
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if "CompilerThre" not in f.read():
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # thread exited while listing
                continue
            ticks += int(fields[11]) + int(fields[12])  # utime, stime
    return ticks / _TICK


class Census:
    """Reads the JVM-wide codegen counters of one session."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._mgmt = jvm.java.lang.management.ManagementFactory
        self.pids = jvm_pids()

    def classes(self) -> int:
        return self._metrics.METRIC_COMPILATION_TIME().getCount()

    def sample(self) -> dict:
        return {"classes": self.classes(),
                "janino_ms": self._codegen.compileTime() / 1e6,
                "jit_cpu_s": compiler_thread_cpu_s(self.pids),
                "wall_s": time.perf_counter()}

    def memory_mb(self) -> dict:
        """Metaspace and JIT code cache in use, in MB."""
        used = {"metaspace_mb": 0.0, "code_cache_mb": 0.0}
        for pool in self._mgmt.getMemoryPoolMXBeans():
            name = pool.getName()
            key = ("metaspace_mb" if name == "Metaspace" else
                   "code_cache_mb" if name.startswith("CodeHeap") else None)
            if key:
                used[key] += pool.getUsage().getUsed() / 2**20
        return {k: round(v, 1) for k, v in used.items()}


def query_steps(spark, names: list[str], data: str):
    """One callable per query: build it, compute its full output."""
    import __spark_entry__ as entry
    from workloads import full_output

    qs = entry.queries()
    missing = [n for n in names if n not in qs]
    if missing:
        raise SystemExit(f"unknown queries: {', '.join(missing)}")

    def step(name):
        return lambda: full_output(qs[name](spark, data))

    return [(n, step(n)) for n in names]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    what = ap.add_mutually_exclusive_group(required=True)
    what.add_argument("--queries",
                      help="'mix', 'all', or comma-separated query names")
    what.add_argument("--workload", choices=("harmonize_wide",))
    ap.add_argument("--data", help="table directory for --queries "
                    "(default: the benchmark's operator_mix tables)")
    ap.add_argument("--seed", type=int, default=1,
                    help="seed of the benchmark's generated inputs")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--max-entries", type=int,
                    help="override spark.sql.codegen.cache.maxEntries")
    args = ap.parse_args()

    from chemharmony_spark.cache import release_caches
    from chemharmony_spark.session import get_spark
    from workloads import MIX

    work = os.path.join(os.getcwd(), ".perfbench_work")
    if args.workload or not args.data:
        import gen
        args.data = gen.ensure(work, args.workload or "operator_mix", args.seed)

    conf = {"spark.driver.extraJavaOptions":
            "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false"}
    if args.max_entries is not None:
        conf["spark.sql.codegen.cache.maxEntries"] = str(args.max_entries)
    spark = get_spark(app_name="codegen-census", extra_conf=conf)
    census = Census(spark)

    if args.workload == "harmonize_wide":
        from spans import Tracer
        from workloads import Harmonize

        h = Harmonize(spark, Tracer(enabled=False), args.data, work)
        steps = [("harmonize", h.op)]
    else:
        if args.queries == "mix":
            names = list(MIX)
        elif args.queries == "all":
            import __spark_entry__ as entry
            names = sorted(entry.queries())
        else:
            names = args.queries.split(",")
        steps = query_steps(spark, names, args.data)

    max_entries = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    passes = []
    for i in range(args.passes):
        s0 = census.sample()
        per_step = {}
        for name, run in steps:
            c0 = census.classes()
            run()
            # as the benchmark loop does: a cached frame left over from
            # this step would change the next step's plans
            release_caches()
            per_step[name] = census.classes() - c0
        s1 = census.sample()
        row = {"pass": i + 1, **{k: round(s1[k] - s0[k], 3) for k in s0},
               **census.memory_mb(),
               "per_step": {k: v for k, v in per_step.items() if v}}
        passes.append(row)
        print(json.dumps(row), flush=True)

    first = passes[0]["classes"]
    summary = {"cache_max_entries": int(max_entries), "steps": len(steps),
               "classes_per_pass": [p["classes"] for p in passes],
               "warm_over_cold": (passes[-1]["classes"] / first
                                  if len(passes) > 1 and first else None)}
    print(json.dumps(summary), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
