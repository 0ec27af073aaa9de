"""The workloads: one timed operation each, its output check, and the
per-layer probes of a traced run.

Every query is timed to its full output with a ``noop`` write, never with
``.count()``: a count lets Catalyst prune windows and joins the declared
output needs (q58 and q123 lose windows and joins that way).
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import statistics
import sys
import time

from pyspark.sql import functions as F

from chemharmony_spark.cache import release_caches

# operator_mix: dedup, similarity/IR and core queries, in this order.
MIX = (
    "q30_dedup_exact", "q34_minhash_signatures", "q36_jaccard_near_dups",
    "q45_simhash_hamming", "q123_dedup_pipeline",
    "q38_cosine_topk", "q115_semantic_cluster_dedup", "q134_bm25_topk",
    "q01_pricing_summary", "q12_window_median", "q58_grouped_percentiles",
)
BRICK_TABLES = ("substances", "properties", "activities")


def full_output(df) -> None:
    """Compute every row and column of ``df`` and discard them."""
    df.write.format("noop").mode("overwrite").save()


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _dir_bytes_files(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n_bytes += os.path.getsize(os.path.join(dirpath, name))
                n_files += 1
    return n_bytes, n_files


def _row_hash(*cols):
    """Spark side of gen.row_hash: summed, it is an order-insensitive set
    hash of the rows."""
    h = F.conv(F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15), 16, 10)
    return F.sum(h.cast("decimal(38,0)"))


class Check:
    """Counts checks attempted and failed; reports each failure."""

    def __init__(self):
        self.attempted = self.failed = 0

    def expect(self, what: str, got, want) -> None:
        self.attempted += 1
        if got != want:
            self.failed += 1
            print(f"check failed: {what}: got {got!r}, want {want!r}",
                  file=sys.stderr)


class Harmonize:
    """Staging -> harmonize() -> brick written, partitioned by source."""

    def __init__(self, spark, tracer, data: str, work: str):
        with open(os.path.join(data, "truth.json")) as f:
            self.truth = json.load(f)
        self.spark, self.tr = spark, tracer
        self.staging = os.path.join(data, "staging")
        self.sources = self.truth["sources"]
        self.brick = os.path.join(work, "brick")

    def op(self) -> list[float]:
        """One harmonize-to-brick run; returns the step times: the call
        (which runs the invariant suite) and the brick write."""
        from chemharmony_spark.plans.harmonize import harmonize
        from chemharmony_spark.sources.writers import write_parquet

        shutil.rmtree(self.brick, ignore_errors=True)
        with self.tr.span("op"):
            t0 = time.perf_counter()
            with self.tr.span("harmonize.call"):
                res = harmonize(self.spark, self.staging, self.sources)
            t1 = time.perf_counter()
            with self.tr.span("writers.write"):
                for name in BRICK_TABLES:
                    write_parquet(getattr(res, name),
                                  f"{self.brick}/{name}.parquet",
                                  partition_by=["source"])
        return [t1 - t0, time.perf_counter() - t1]

    def warmup(self) -> None:
        self.op()

    def verify(self, check: Check) -> None:
        """Read the brick of the last timed run back and compare it with
        the generator's truth."""
        from chemharmony_spark.sources.readers import read_brick

        t = self.truth
        b = {n: read_brick(self.spark, self.brick, n) for n in BRICK_TABLES}
        for name, key in (("substances", "sid"), ("properties", "pid")):
            r = b[name].agg(
                F.count(F.lit(1)).alias("n"),
                _row_hash(key, "source").alias("h"),
                F.countDistinct(key).alias("n_id"),
                F.countDistinct("data").alias("n_data"),
                F.countDistinct(key, "data").alias("n_pair"),
            ).collect()[0]
            check.expect(f"{name} rows", r.n, t[name])
            check.expect(f"{name} set hash", str(r.h), t[f"{name}_hash"])
            # id <-> data bijection: one canonical payload per id and back
            check.expect(f"{name} {key}->data", r.n_pair, r.n_id)
            check.expect(f"{name} data->{key}", r.n_pair, r.n_data)
        # every activity sid/pid must resolve in the written dimensions
        acts = b["activities"]
        for key, dim in (("sid", "substances"), ("pid", "properties")):
            acts = acts.join(b[dim].select(key).distinct()
                             .withColumn(f"has_{key}", F.lit(1)), key, "left")
        r = acts.agg(
            F.count(F.lit(1)).alias("n"),
            F.count("has_sid").alias("n_sid"),
            F.count("has_pid").alias("n_pid"),
            _row_hash("sid", "pid", "source", "inchi", "value").alias("h"),
            F.countDistinct("aid").alias("n_aid"),
            F.countDistinct("sid", "pid", "inchi", "value").alias("n_key"),
            F.sum(F.when(F.col("aid") == F.md5(F.concat_ws(
                "", "sid", "pid", "inchi", "value")), 0).otherwise(1)).alias("bad_aid"),
            F.sum(F.when(F.col("smiles").isNull(), 1).otherwise(0)).alias("no_smiles"),
            F.sum(F.when(F.col("binary_value") == F.when(
                F.col("value") == "positive", 1).otherwise(0), 0).otherwise(1)
            ).alias("bad_bv"),
        ).collect()[0]
        check.expect("activities rows", r.n, t["activities"])
        # the expected set is built from the staged rows minus exactly the
        # planted orphans, so a leaked or an extra dropped row changes it
        check.expect("activities set hash (planted orphans dropped)",
                     str(r.h), t["activities_hash"])
        # aid identifies (sid, pid, inchi, value); the same activity staged
        # by two sources is two rows with one aid
        check.expect("activities aid per (sid,pid,inchi,value)", r.n_aid, r.n_key)
        check.expect("activities aid = md5(sid,pid,inchi,value)", r.bad_aid, 0)
        check.expect("activities smiles present", r.no_smiles, 0)
        check.expect("activities binary_value", r.bad_bv, 0)
        check.expect("activities sid resolvable in substances", r.n_sid, r.n)
        check.expect("activities pid resolvable in properties", r.n_pid, r.n)

    def probes(self, layer: dict, op_steps: list[list[float]]) -> None:
        """Per-layer probes of a traced run, each in its own span."""
        from chemharmony_spark.functions.chem import inchi_to_smiles
        from chemharmony_spark.functions.ids import surrogate_aid
        from chemharmony_spark.functions.json_payload import canonicalize_json_udf
        from chemharmony_spark.plans.harmonize import harmonize
        from chemharmony_spark.sources.readers import read_staging_glob

        spark, tr = self.spark, self.tr
        scan = {n: read_staging_glob(spark, f"{self.staging}/*/{n}.parquet",
                                     self.sources)
                for n in BRICK_TABLES}
        t0 = time.perf_counter()
        with tr.span("readers.scan"):
            for df in scan.values():
                full_output(df)
        layer["readers.scan_s"] = time.perf_counter() - t0
        layer["readers.files"] = len(glob.glob(f"{self.staging}/*/*.parquet"))
        layer["readers.rows"] = sum(df.count() for df in scan.values())

        dims = [scan[n].select(k, "data", "source").distinct()
                for n, k in (("substances", "sid"), ("properties", "pid"))]
        t0 = time.perf_counter()
        with tr.span("json_payload.canonicalize"):
            for d in dims:
                full_output(d.withColumn("data", canonicalize_json_udf("data")))
        layer["json_payload.canonicalize_s"] = time.perf_counter() - t0
        layer["json_payload.rows"] = sum(d.count() for d in dims)

        inchis = scan["activities"].select("inchi").where(
            F.col("inchi").isNotNull()).distinct()
        t0 = time.perf_counter()
        with tr.span("chem.smiles"):
            full_output(inchis.withColumn("smiles", inchi_to_smiles("inchi")))
        layer["chem.smiles_s"] = time.perf_counter() - t0
        layer["chem.distinct_inchis"] = inchis.count()

        t0 = time.perf_counter()
        with tr.span("ids.md5"):
            full_output(scan["activities"].select(surrogate_aid().alias("aid")))
            for d in dims:
                full_output(d.select(F.md5("data")))
        layer["ids.md5_s"] = time.perf_counter() - t0

        # the call without its invariant suite returns a lazy plan; the
        # difference to the checked call is what the checks cost
        t0 = time.perf_counter()
        with tr.span("probe.harmonize_unchecked"):
            harmonize(spark, self.staging, self.sources, check_invariants=False)
        unchecked = time.perf_counter() - t0
        call = statistics.median(s[0] for s in op_steps)
        layer["harmonize.call_s"] = call
        layer["harmonize.invariants_s"] = call - unchecked
        layer["writers.write_s"] = statistics.median(s[1] for s in op_steps)

        acts = scan["activities"]
        kept = acts
        for n, k in (("substances", "sid"), ("properties", "pid")):
            kept = kept.join(scan[n].select("source", k).distinct(),
                             ["source", k], "left_semi")
        n_kept = kept.count()
        layer["harmonize.rekey_drop_rows"] = acts.count() - n_kept
        n_out = spark.read.parquet(f"{self.brick}/activities.parquet").count()
        layer["harmonize.distinct_shrink"] = n_kept / n_out
        n_bytes, n_files = _dir_bytes_files(self.brick)
        staged_bytes, _ = _dir_bytes_files(self.staging)
        layer["writers.bytes"] = n_bytes
        layer["writers.files"] = n_files
        layer["writers.bytes_per_staged_byte"] = n_bytes / staged_bytes


class OperatorMix:
    """Read-only queries from ``__spark_entry__.queries()``, each timed to
    full output, over the generated tables."""

    def __init__(self, spark, tracer, data: str, work: str):
        import __spark_entry__ as entry

        self.spark, self.tr, self.data = spark, tracer, data
        self.qs = entry.queries()

    def warmup(self) -> None:
        """An untimed pass that keeps each query's rows for :meth:`verify`:
        the timed passes run the same plans on the same files."""
        self.outputs = {}
        with self.tr.span("op"):
            for name in MIX:
                with self.tr.span(f"queries.{name}.build"):
                    df = self.qs[name](self.spark, self.data)
                with self.tr.span(f"queries.{name}.exec"):
                    self.outputs[name] = df.toPandas()
                release_caches()

    def op(self) -> list[float]:
        """One pass over the mix; returns per-query build+exec times."""
        steps = []
        with self.tr.span("op"):
            for name in MIX:
                t0 = time.perf_counter()
                with self.tr.span(f"queries.{name}.build"):
                    df = self.qs[name](self.spark, self.data)
                with self.tr.span(f"queries.{name}.exec"):
                    full_output(df)
                steps.append(time.perf_counter() - t0)
                release_caches()
        return steps

    def verify(self, check: Check) -> None:
        """Each query's rows against its DuckDB oracle over the same files,
        compared the way tools/check_oracle.py compares them."""
        import duckdb

        import __spark_entry__ as entry
        from tools.check_oracle import normalize, value_hash

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
        for path in glob.glob(os.path.join(self.data, "*.parquet")):
            table = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        for name in MIX:
            sdf = self.outputs[name]
            odf = con.sql(oracles[name]).df()
            check.expect(f"{name} rows", len(sdf), len(odf))
            check.expect(f"{name} columns", sorted(sdf.columns), sorted(odf.columns))
            if len(sdf) == len(odf) and sorted(sdf.columns) == sorted(odf.columns):
                check.expect(f"{name} value hash", value_hash(normalize(sdf)),
                             value_hash(normalize(odf)))
        con.close()

    def probes(self, layer: dict, op_steps: list[list[float]]) -> None:
        """Candidate and verify counts of the dedup stages, and the
        connected-components step on q123's verified edges."""
        from pyspark.sql import Window

        from chemharmony_spark.operators import dedup as DD
        from chemharmony_spark.operators import text as TX
        from chemharmony_spark.operators.graph import connected_components_star

        spark, tr = self.spark, self.tr
        docs = spark.read.parquet(os.path.join(self.data, "documents.parquet"))
        with tr.span("dedup.lsh"):
            sig = DD.minhash_signatures(docs, "doc_id", "text")
            layer["dedup.lsh_candidates"] = DD.lsh_candidate_pairs(sig).count()

        # q123's stages up to the component step: token sets, exact-set
        # collapse to representatives, prefix candidates, exact verify
        tok = docs.select("doc_id", F.transform(
            F.array_distinct(TX.tokens("text")), lambda w: F.xxhash64(w)
        ).alias("ws")).persist()
        sets = tok.select("doc_id", F.md5(F.to_json(F.array_sort("ws"))).alias("sh"))
        reps = sets.select("doc_id", F.min("doc_id").over(
            Window.partitionBy("sh")).alias("rep")).where("doc_id = rep")
        rep_tok = tok.join(reps.select("doc_id"), "doc_id", "left_semi")
        with tr.span("dedup.prefix"):
            cands = DD.prefix_filter_pairs(rep_tok, "doc_id", "text",
                                           threshold=0.6, tokens_col="ws").persist()
            n_cands = cands.count()
        with tr.span("dedup.verify"):
            edges = (DD.jaccard_pairs(rep_tok, cands, "doc_id", "text",
                                      tokens_col="ws")
                     .where(DD.jaccard_ge(0.6))
                     .select(F.col("a").alias("src"), F.col("b").alias("dst"))
                     .persist())
            n_pairs = edges.count()
        layer["dedup.prefix_candidates"] = n_cands
        layer["dedup.verified_pairs"] = n_pairs
        layer["dedup.verify_yield"] = n_pairs / n_cands if n_cands else 0.0
        t0 = time.perf_counter()
        with tr.span("graph.cc"):
            full_output(connected_components_star(
                edges, "src", "dst", broadcast_maps=True, pre_contract=True,
                driver_finish_cap=2_000_000, self_loops="absent"))
        layer["graph.cc_s"] = time.perf_counter() - t0
        layer["graph.cc_edges_in"] = n_pairs
        for df in (edges, cands, tok):
            df.unpersist()
        release_caches()


WORKLOADS = {
    "harmonize_wide": Harmonize,
    "operator_mix": OperatorMix,
}
