"""Benchmark entry point: one workload, one seed, one client in a closed loop.

    python3 perfbench/run.py --workload harmonize_wide --seed 1 --seconds 12 --trace 0

Run from the repository root. The program is used as a library: the
benchmark imports ``chemharmony_spark`` from the working directory and
calls its public functions; inputs are generated from ``--seed`` and cached
under ``.perfbench_work/``. After one untimed warm-up operation, operations
run back to back while the next one is expected to end within
``--seconds`` (at least one runs); then the output is checked. The last
stdout line is the result JSON: end-to-end metrics with ``--trace 0``,
per-layer metrics (spans + Spark event log) with ``--trace 1``. The line
before it is the run record: session settings, phase times, per-operation
times and the host's steal share during the timed loop.
"""

from __future__ import annotations

import time

T_TOP = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
HERE = os.path.dirname(os.path.abspath(__file__))
KEEP_DATASETS = 3  # per workload, most recent first


def _process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


AGE_AT_TOP = _process_age_s()


def session_conf(trace_dir: str | None) -> dict:
    """Session sizing for this host: every core, shuffle partitions matched
    to them, a driver heap of a quarter of RAM capped at 8 GB, and all
    scratch files inside the working directory."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    heap_gb = max(1, min(8, int(mem_gb / 4)))
    # a fixed heap and young generation: the JVM's resident size then
    # follows the data the program retains, not the collector's sizing
    java_opts = (f"-Xms{heap_gb}g -Xmn{heap_gb * 512}m -XX:-UsePerfData "
                 f"-Djava.io.tmpdir={WORK}/tmp "
                 f"-Dderby.system.home={WORK}/derby")
    extra = {
        "spark.driver.memory": f"{heap_gb}g",
        "spark.sql.warehouse.dir": f"{WORK}/warehouse",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_dir:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{trace_dir}",
            "spark.eventLog.compress": "false",
        })
    return {"master": f"local[{cores}]", "shuffle_partitions": cores,
            "extra_conf": extra}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def prune_datasets(workload: str, keep: str) -> None:
    import glob

    dirs = sorted(glob.glob(os.path.join(WORK, "data", f"{workload}-*")),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_DATASETS:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import gen
    import spans as tracing
    from workloads import MIX, Check, geomean

    # generated in a child process, so its memory is not in peak_rss_mb
    t0 = time.perf_counter()
    data = gen.data_dir(WORK, args.workload, args.seed)
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), WORK,
                    args.workload, str(args.seed)], check=True)
    gen_s = time.perf_counter() - t0
    prune_datasets(args.workload, data)

    tracer = tracing.Tracer(enabled=bool(args.trace))
    trace_dir = None
    if args.trace:  # keeps the latest traced run only
        shutil.rmtree(os.path.join(WORK, "trace"), ignore_errors=True)
        trace_dir = os.path.join(WORK, "trace", tracer.run_id)
        os.makedirs(trace_dir)
    conf = session_conf(trace_dir)

    from chemharmony_spark import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark(app_name="perfbench", **conf)
    tracer.sc = spark.sparkContext
    check = Check()
    op_steps: list[list[float]] = []
    op_cpu: list[float] = []
    layer: dict = {}
    phases = {"gen": gen_s}
    try:
        w = WORKLOADS[args.workload](spark, tracer, data, WORK)
        from chemharmony_spark.cache import release_caches

        with tracer.span("warmup"):
            w.warmup()
            release_caches()
        setup_s = AGE_AT_TOP + (time.perf_counter() - T_TOP) - gen_s
        phases["setup"] = setup_s

        loop0 = time.perf_counter()
        steal0, total0 = tracing.host_cpu_ticks()
        # closed loop: start another operation only while it is expected
        # to end within --seconds (the first always runs)
        while not op_steps or (time.perf_counter() - loop0
                               + statistics.median(sum(s) for s in op_steps)
                               <= args.seconds):
            c0 = tracing.tree_cpu_s()
            check.attempted += 1
            try:
                steps = w.op()
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                traceback.print_exc()
                check.failed += 1
                break
            op_cpu.append(tracing.tree_cpu_s() - c0)
            op_steps.append(steps)
            with tracer.span("cache.release"):
                release_caches()
        peak_rss = tracing.tree_peak_rss_mb()
        phases["loop"] = time.perf_counter() - loop0
        steal1, total1 = tracing.host_cpu_ticks()
        host_steal = (steal1 - steal0) / max(1, total1 - total0)
        t0 = time.perf_counter()
        w.verify(check)
        phases["verify"] = time.perf_counter() - t0
        if args.trace:
            t0 = time.perf_counter()
            w.probes(layer, op_steps)
            phases["probes"] = time.perf_counter() - t0
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        phases["stop"] = time.perf_counter() - t0

    ops = [sum(s) for s in op_steps]
    record = {
        "workload": args.workload, "seed": args.seed, "run_id": tracer.run_id,
        "session": conf, "phases_s": phases, "host_steal_share": host_steal,
        "ops": ops, "op_cpu_s": op_cpu,
        "steps": op_steps,
    }
    if not ops:
        print(json.dumps(record))
        return 1
    op_s = statistics.median(ops)
    if args.trace:
        metrics = per_layer(args.workload, tracer, trace_dir, layer, op_s, MIX)
    else:
        values = {
            "setup_s": setup_s,
            "op_s": op_s,
            "step_geomean_s": statistics.median(geomean(s) for s in op_steps),
            "cpu_s": statistics.median(op_cpu),
            "peak_rss_mb": peak_rss,
        }
        metrics = {k: (v, END_TO_END[k]) for k, v in values.items()}
        with open(os.path.join(WORK, f"last-{args.workload}.json"), "w") as f:
            json.dump({"op_s": op_s}, f)
    print(json.dumps(record))
    print(json.dumps({
        "correct": check.failed == 0,
        "attempted": check.attempted,
        "failed": check.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


END_TO_END = {"setup_s": "s", "op_s": "s", "step_geomean_s": "s",
              "cpu_s": "s", "peak_rss_mb": "MB"}
# layers whose Spark work is totalled from the event log
SPAN_LAYERS = ("readers", "json_payload", "chem", "ids", "harmonize",
               "writers", "queries", "dedup", "graph")
SPAN_FIELDS = {"task_cpu_s": "s", "shuffle_write_bytes": "bytes",
               "spill_bytes": "bytes", "gc_s": "s"}
# the layers that run Python (Arrow) UDFs
UDF_LAYERS = ("json_payload", "chem", "harmonize")
# spans that run inside the timed operations: totals are per operation
OP_LAYERS = ("harmonize", "writers", "queries")


def per_layer_units(mix: tuple) -> dict[str, str]:
    """Name -> unit of every per-layer metric a traced run prints."""
    units = {
        "session.get_spark_s": "s",
        "readers.scan_s": "s", "readers.files": "count", "readers.rows": "count",
        "json_payload.canonicalize_s": "s", "json_payload.rows": "count",
        "chem.smiles_s": "s", "chem.distinct_inchis": "count",
        "ids.md5_s": "s",
        "harmonize.call_s": "s", "harmonize.invariants_s": "s",
        "harmonize.rekey_drop_rows": "count", "harmonize.distinct_shrink": "ratio",
        "harmonize.jobs": "count",
        "writers.write_s": "s", "writers.bytes": "bytes", "writers.files": "count",
        "writers.bytes_per_staged_byte": "ratio",
        "dedup.prefix_candidates": "count", "dedup.verified_pairs": "count",
        "dedup.verify_yield": "ratio", "dedup.lsh_candidates": "count",
        "graph.cc_s": "s", "graph.cc_edges_in": "count",
        "cache.release_s": "s", "trace.overhead_s": "s",
    }
    for q in mix:
        short = q.split("_")[0]
        units.update({f"queries.{short}.build_s": "s",
                      f"queries.{short}.exec_s": "s",
                      f"queries.{short}.build_jobs": "count"})
    for g in SPAN_LAYERS:
        units.update({f"{g}.{f}": u for f, u in SPAN_FIELDS.items()})
    units.update({f"{g}.python_udf_s": "s" for g in UDF_LAYERS})
    return units


def per_layer(workload: str, tracer, trace_dir: str, layer: dict,
              op_s: float, mix: tuple) -> dict:
    """Every per-layer metric, zero where the workload does not use the
    layer. Spark work per span comes from the event log; the warm-up is
    left out."""
    import eventlog

    spans = tracer.spans
    tracer.write(os.path.join(trace_dir, "spans.jsonl"))
    totals = eventlog.per_span(eventlog.read_events(trace_dir), spans)
    warm = next(s for s in spans if s["name"] == "warmup")

    def timed(s) -> bool:
        return not warm["start"] <= s["start"] <= warm["end"]

    def med(xs) -> float:
        xs = list(xs)
        return statistics.median(xs) if xs else 0

    ops = [s for s in spans if s["name"] == "op" and timed(s)]
    groups = eventlog.rollup(
        spans, totals,
        lambda s: s["name"].split(".")[0] if timed(s) and s["name"] != "op" else None)
    for g in OP_LAYERS:
        for f in groups.get(g, {}):
            groups[g][f] /= len(ops)

    m = {name: layer.get(name, 0) for name in per_layer_units(mix)}
    m["session.get_spark_s"] = tracer.durations("session.get_spark")[0]
    if workload != "operator_mix":
        m["harmonize.jobs"] = med(
            sum(t["jobs"] for sid, t in totals.items()
                if o["start"] <= spans[sid]["start"] <= o["end"])
            for o in ops)
    for q in mix:
        short = q.split("_")[0]
        for part in ("build", "exec"):
            m[f"queries.{short}.{part}_s"] = med(
                s["end"] - s["start"] for s in spans
                if s["name"] == f"queries.{q}.{part}" and timed(s))
        m[f"queries.{short}.build_jobs"] = med(
            totals.get(s["id"], {}).get("jobs", 0) for s in spans
            if s["name"] == f"queries.{q}.build" and timed(s))
    for g in SPAN_LAYERS:
        for f in SPAN_FIELDS:
            m[f"{g}.{f}"] = groups.get(g, {}).get(f, 0)
    for g in UDF_LAYERS:
        m[f"{g}.python_udf_s"] = groups.get(g, {}).get("python_udf_s", 0)
    m["cache.release_s"] = med(tracer.durations("cache.release"))
    # tracing overhead: this traced run against the latest untraced run of
    # the workload in this working directory
    last = os.path.join(WORK, f"last-{workload}.json")
    if os.path.exists(last):
        with open(last) as f:
            m["trace.overhead_s"] = op_s - json.load(f)["op_s"]
    else:
        print("no untraced run of this workload yet: trace.overhead_s is 0",
              file=sys.stderr)
    units = per_layer_units(mix)
    return {k: (v, units[k]) for k, v in m.items()}


def prepare_work() -> None:
    """Create the scratch area. Python's tempfile (used by the program's
    driver contract), Spark's shuffle and block files and the JVMs keep
    their files inside it; the JVMs write no /tmp/hsperfdata."""
    for d in ("tmp", "spark-local", "warehouse", "derby"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, "chemharmony_spark")):
        print("run from the repository root: chemharmony_spark/ not found in "
              f"{ROOT}", file=sys.stderr)
        raise SystemExit(2)
    prepare_work()
    sys.path[:0] = [HERE, ROOT]
    raise SystemExit(main())
