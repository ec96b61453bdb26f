"""SparkSession factory with scale-aware defaults, and the one way the
engine turns driver-side rows into a DataFrame.

Local sandbox runs use ``local[N]``; on a real cluster the same settings apply
(AQE, skew-join handling, Arrow); the driver JVM also gets a JIT policy fitted
to planning-bound processes (see :func:`get_spark`). ``shuffle_partitions``
should track total cores locally and ~2-3x total cores on a cluster.

Driver-side rows (a query's terms, an indexed document, a seed list) become
DataFrames through :func:`local_df`, never ``spark.createDataFrame`` over a
Python list. On PySpark 4.1 a list goes ``_createFromLocal`` →
``sc.parallelize`` and plans as ``Scan ExistingRDD``: a PythonRDD whose
every scan runs pickled per-row Python tasks on all cores. Measured on a
4-core box, a one-row relation built that way cost ~0.35 s of JVM CPU
plus ~0.9 s of Python-worker CPU on EACH execution — paid by every ranked
query and every store write. Built as an Arrow table instead, the same rows plan
as a ``LocalRelation``: no RDD, no Python worker.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_spark(
    app_name: str = "goprowl_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    AQE is on: runtime shuffle-partition coalescing and skew-join splitting
    are part of the scale design (hot-host skew, SURVEY.md §4). Arrow is on:
    all Python interop (pandas UDFs, driver rows via :func:`local_df`) is
    Arrow-batched — the engine has no row-at-a-time Python anywhere.

    The driver JVM gets one JIT policy: C2 compiles what is hot by its
    loops, not what is merely called often. At the JDK 17 defaults the
    C1/C2 threads of a planning-bound JVM (a perfbench run, a test
    session) burned more CPU than its tasks did, most of it compiling the
    planner's many small methods. The policy raises C2's *invocation*
    thresholds, so those stay in C1, and leaves the *back-edge* (OSR)
    threshold at its default: in ``local[N]`` the tasks run in this JVM,
    and the data loops (whole-stage-codegen ``processNext``, Arrow and
    parquet decode) must reach C2 as soon as before. The trade: a fresh
    JVM's first heavy work waits longer for C2, so a cold pass over the
    sf0.1 headline queries (``bench.py``'s ``headline_queries_total``)
    and one-shot CLI commands take longer. Warm queries, ``bench.py``'s
    crawl legs and perfbench's ``cpu_ms_per_item`` do not. Measured, and
    rejected: C1 only (``TieredStopAtLevel=1``) slowed warm heavy queries
    by ~40 %; also raising ``Tier4BackEdgeThreshold`` raised crawl task
    CPU 14–29 %; ``CICompilerCount=2`` changed nothing. The numbers are
    in CHANGES.md (ISSUE 13).

    The policy is driver-only (executors on a cluster keep the JVM
    defaults) and applies only when this call launches the JVM, i.e. for
    a process's first session. It is set as
    ``spark.driver.defaultJavaOptions``, which Spark prepends to
    ``spark.driver.extraJavaOptions``, so a caller's extra Java options
    keep it; a caller that passes its own
    ``spark.driver.defaultJavaOptions`` in ``extra_conf`` replaces it.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate copies the generator's input expression
        # into a pre-exchange `size(...) > 0` filter. For this engine every
        # explode input is an EXPENSIVE expression (regex tokenize, HOF
        # shingling + md5) and the inferred filter (a) evaluates it a second
        # time per row and (b) lands below the spread repartition, i.e. on
        # the narrow scan side, serializing the costliest expression in the
        # plan onto the input's split count; it also breaks AQE exchange
        # reuse between branches that share the scan (measured on
        # bm25_search: the avgdl branch re-ran the full tokenize). Scale-
        # independent: correctness is unaffected and the pruned rows
        # (docs with zero tokens) are a vanishing fraction at any SF.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # The default 100-class codegen cache thrashes: a warm crawl_polite
        # round (perfbench) compiled 59–81 classes at it and 5 at 1,024, the
        # 5 being stages that hold a per-round literal. Static: only a new
        # session reads it.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # JIT policy (see the docstring): C2 invocation thresholds raised
        # from the JDK 17 defaults 5000/600/15000; Tier4BackEdgeThreshold
        # (40000) deliberately untouched. defaultJavaOptions, not
        # extraJavaOptions: callers (perfbench) pass their own extra
        # options through extra_conf, which would silently replace these.
        .config(
            "spark.driver.defaultJavaOptions",
            "-XX:Tier4InvocationThreshold=50000"
            " -XX:Tier4MinInvocationThreshold=6000"
            " -XX:Tier4CompileThreshold=60000",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread_narrow_scan(df, key_col: str):
    """Repartition a DataFrame whose scan has fewer splits than the
    session's parallelism, so a CPU-heavy map stage downstream (explode,
    per-row hashing, HOF shingling) is not serialized onto a handful of
    cores. A small single-file parquet table scans as ONE partition; at
    real scale inputs already carry >= defaultParallelism splits and this
    is a no-op. Hash-partitioning on ``key_col`` keeps the row→partition
    map deterministic; values are unaffected.

    The split-count probe is metadata-only where possible: the old
    ``df.rdd.getNumPartitions()`` ran full physical planning + RDD
    conversion (measured 0.1-0.8 s per fresh DataFrame — paid INSIDE every
    timed query that spreads). With >= target input files the scan cannot
    be narrow (each file yields at least one split); for a handful of
    local files the split count is estimated from file sizes with the
    scan's own packing rule; anything undecidable falls back to the exact
    RDD probe."""
    from pyspark.sql import functions as F

    sess = df.sparkSession
    target = sess.sparkContext.defaultParallelism

    def _estimated_splits() -> int:
        try:
            files = df.inputFiles()
        except Exception:
            return -1
        if not files:
            return -1
        if len(files) >= target:
            return len(files)
        if not all(f.startswith("file:") for f in files):
            return -1
        import os
        from urllib.parse import unquote, urlparse

        def _bytes_conf(key: str, default: int) -> int:
            """A size conf in bytes under Spark's own unit rules ("128m",
            "1g", "4194304"); -1 when Spark would not parse it either."""
            from pyspark.errors import IllegalArgumentException

            raw = str(sess.conf.get(key, str(default)))
            utils = sess.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
            try:
                return int(utils.byteStringAsBytes(raw))
            except IllegalArgumentException:  # incl. NumberFormatException
                return -1

        mpb = _bytes_conf("spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
        open_cost = _bytes_conf("spark.sql.files.openCostInBytes", 4 * 1024 * 1024)
        if mpb <= 0 or open_cost < 0:
            return -1
        try:
            total = sum(
                max(os.path.getsize(unquote(urlparse(f).path)), 0) + open_cost
                for f in files
            )
        except OSError:
            return -1
        # FilePartition packing: files are charged openCost and packed
        # into ~maxPartitionBytes bins; a conservative (floor) estimate
        # is fine — underestimating only means we spread when the real
        # scan would have had just enough splits, which is harmless
        return max(1, -(-total // mpb)) if total else 1

    est = _estimated_splits()
    n = est if est >= 0 else df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target, F.col(key_col))
    return df


def arrow_table(rows: Sequence[Sequence], schema: T.StructType):
    """``rows`` (tuples in ``schema``'s field order; nested structs as
    tuples, maps as dicts, arrays as lists) as a ``pyarrow.Table`` typed
    by Spark's own Spark→Arrow mapping (int → int32, long → int64,
    double → float64, string → string, boolean → bool)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    pa_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [() for _ in schema.fields]
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, pa_schema)]
    for f, a in zip(pa_schema, arrays):
        if not f.nullable and a.null_count:
            raise ValueError(f"field {f.name!r} is not nullable but got None")
    return pa.Table.from_arrays(arrays, schema=pa_schema)


def local_df(
    spark: SparkSession, rows: Sequence[Sequence], schema: T.StructType | str
) -> DataFrame:
    """Driver-side ``rows`` as a DataFrame whose plan is a
    ``LocalRelation`` (see the module docstring for why not
    ``createDataFrame`` over the list). ``schema`` is a StructType or a DDL
    string."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)
