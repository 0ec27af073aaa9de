"""Sources (SURVEY.md §2.1 S1-S8).

All readers return lazy DataFrames; filters/projections applied by callers
push down into the parquet scan (verify with ``.explain`` — PushedFilters /
ReadSchema).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_parquet(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """S1/S3: parquet dataset scan (reference: 09_integrate_pubchem.py:24)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.parquet(path)


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` through the JVM Hadoop API — the one
    way to ask 'does this exist / what's in it' that is correct on
    s3a://, hdfs:// and file:/ alike (os.* only sees the driver's local
    disk). Shared by the cache reads, the staging glob expansion and
    small-file compaction."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def read_parquet_cache_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """Cache-read discipline for the enrichment/lookup/labeler caches: a
    MISSING path is the legitimate 'no cache yet' first run -> ``None``;
    every other failure (transient object-store/HDFS error, corrupt footer)
    RAISES instead of silently pretending the cache is empty — for the LLM
    category cache that silent fallback would re-fetch (and re-bill) the
    entire ~52k-call corpus (reference dvc.lock:328-332).

    A directory that exists but holds NO data files (only ``_temporary`` /
    ``_SUCCESS`` droppings from a crashed first write) also counts as 'no
    cache yet' — without that, one crashed first run would wedge the
    pipeline on 'Unable to infer schema' forever. Hidden-prefixed files
    are exactly what Spark's own reader skips, so the states agree."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    it = fs.listFiles(p, True)
    has_data = False
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith(("_", ".")):
            has_data = True
            break
    if not has_data:
        return None
    return spark.read.parquet(path)


def staging_path_source(path: str, sources: Sequence[str]) -> str | None:
    """The declared source a staged path belongs to: the LAST path segment
    that names a declared source, else ``None`` (an undeclared staging
    dir). Reference 80_harmonize.py:24-28 (``match_source``)."""
    declared = set(sources)
    hits = [seg for seg in path.split("/") if seg in declared]
    return hits[-1] if hits else None


def read_staging_glob(spark: SparkSession, glob: str, sources: Sequence[str]) -> DataFrame:
    """S2: recursive glob scan + provenance column derived from the path.

    reference: 80_harmonize.py:33-37 uses ``input_file_name`` + a Python UDF
    (``match_source``, 80:24-28) to pick the staging dir segment out of
    every row's path. The provenance is a property of the FILE, so it is
    resolved once per globbed path while the scan is planned
    (:func:`staging_path_source`) and each path's scan carries it as a
    literal: no per-row path split/filter (measured ~0.4 s per 300k-row
    scan against ``split``/``filter`` over ``input_file_name()``). A path
    under no declared source gets NULL provenance (caught by the
    harmonize invariant) instead of crashing.
    """
    # expand the glob through the Hadoop FileSystem FIRST (works on s3a://,
    # hdfs://, file:/): passing the literal pattern to spark.read makes
    # FileStreamSink probe "<dir>/*/x.parquet" for streaming metadata and
    # WARN-log a full FileNotFoundException stack per table — noise that
    # buried real errors in the bench/driver logs. An empty expansion is a
    # misconfigured staging root; fail with the pattern, not a Spark stack.
    fs, p = hadoop_fs(spark, glob)
    statuses = fs.globStatus(p)
    paths = [st.getPath().toString() for st in statuses] if statuses else []
    if not paths:
        raise FileNotFoundError(f"staging glob matched no files: {glob}")
    # mergeSchema: per-source staging schemas legitimately differ (only
    # bindingdb-shaped sources write numvalue/metric) — without the merge
    # Spark infers from ONE sampled footer, so whether those columns
    # exist in the scan varies with file ordering, and harmonize's
    # 'if "numvalue" in acts.columns' silently drops the measurement
    # column on unlucky runs. Every per-path scan reads with the merged
    # schema, so a column one source lacks reads as NULL there.
    schema = spark.read.option("mergeSchema", "true").parquet(*paths).schema
    scans = [
        spark.read.schema(schema).parquet(path).withColumn(
            "source", F.lit(staging_path_source(path, sources)).cast("string"))
        for path in paths
    ]
    return reduce(DataFrame.union, scans)


# the reference brick envelope per table (README §brick; harmonize.py
# enforces this order on the frames it RETURNS — partitionBy('source')
# writes then move 'source' to the end of the read-back schema, so brick
# READS restore it here)
_BRICK_ENVELOPE = {
    "substances": ["sid", "source", "data"],
    "properties": ["pid", "source", "data"],
    "activities": ["inchi", "sid", "pid", "source", "value",
                   "binary_value", "numvalue", "smiles", "aid"],
}


def read_brick(spark: SparkSession, brick_dir: str, name: str) -> DataFrame:
    """Read one CLI-written harmonized brick table with the documented
    envelope column order restored (Spark appends hive-partition columns
    last on read; positional consumers and schema diffs against the
    reference brick need the contract order back)."""
    df = spark.read.parquet(f"{brick_dir}/{name}.parquet")
    want = [c for c in _BRICK_ENVELOPE[name] if c in df.columns]
    extra = [c for c in df.columns if c not in want]
    return df.select(*want, *extra)


def read_tsv(spark: SparkSession, path: str, header: bool = True) -> DataFrame:
    """S5: TSV dimension scan (reference: 05_integrate_reach.R:11, ghs.txt)."""
    return spark.read.csv(path, sep="\t", header=header, inferSchema=False)


def read_literal(spark: SparkSession, rows, schema) -> DataFrame:
    """S6: in-memory literal table (reference: 13_integrate_BBBP.py:52)."""
    return spark.createDataFrame(rows, schema)


def read_jdbc_table(spark: SparkSession, url: str, table: str,
                    properties: dict | None = None) -> DataFrame:
    """S4: JDBC scan (reference: 11_integrate_toxrefdb.R:3 reads SQLite).

    On a cluster, pass ``partitionColumn/lowerBound/upperBound/numPartitions``
    via ``properties`` to parallelize the read; a single JDBC cursor is a
    driver-side bottleneck at scale.
    """
    return spark.read.jdbc(url, table, properties=properties or {})


def read_jsonl(spark: SparkSession, path: str,
               schema: StructType | None = None) -> DataFrame:
    """JSON-lines scan (engine addition; the dominant raw-text interchange
    format for LLM training corpora). Always pass ``schema`` at scale —
    schema inference is a full extra pass over 100 TB; with an explicit
    schema the reader is a single streaming pass and unknown fields prune
    at the scan."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def read_orc(spark: SparkSession, path: str,
             schema: StructType | None = None) -> DataFrame:
    """ORC scan (engine addition). Same pushdown/pruning contract as
    parquet — predicate pushdown and column pruning reach the stripe
    reader, verified in tests/test_sources.py."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)


def read_binary_files(spark: SparkSession, path: str,
                      glob: str | None = None) -> DataFrame:
    """Raw binary-file scan (engine addition) — the ingestion path for
    multimodal corpora (images/audio/video) that arrive as loose files
    rather than parquet blobs: each row is (path, modificationTime,
    length, content binary), the schema the operators/multimodal.py
    decode/feature UDFs consume directly.

    Scale notes: binaryFile packs many small files per task
    (spark.sql.files.maxPartitionBytes governs packing, same as parquet),
    so million-file image dirs don't become million-task jobs; pair with
    sources/writers.py::compact_parquet to convert the loose-file corpus
    into blob-parquet once, after which every downstream pass reads the
    columnar form. ``pathGlobFilter`` prunes non-matching files at listing
    time (no data touched), e.g. glob="*.png"."""
    r = spark.read.format("binaryFile")
    if glob is not None:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)
