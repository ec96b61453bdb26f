"""spread_narrow_scan's metadata-only split estimate, local_df, and the
driver JVM's JIT policy."""

import json
import os
import subprocess
import sys

import pytest

from goprowl_spark import schemas
from goprowl_spark.session import local_df, spread_narrow_scan

MPB = "spark.sql.files.maxPartitionBytes"


def test_spread_narrow_scan_reads_unit_suffixed_partition_bytes(spark, tmp_path):
    """``128m`` is 128 MiB, not 128 bytes: a one-file table is still one
    split, so the scan must be spread to the session's parallelism."""
    path = str(tmp_path / "one_file")
    spark.range(1000).coalesce(1).write.parquet(path)
    old = spark.conf.get(MPB, None)
    spark.conf.set(MPB, "128m")
    try:
        df = spark.read.parquet(path)
        spread = spread_narrow_scan(df, "id")
        target = spark.sparkContext.defaultParallelism
        assert spread.rdd.getNumPartitions() == target
    finally:
        if old is None:
            spark.conf.unset(MPB)
        else:
            spark.conf.set(MPB, old)


DOC_ROWS = [
    (
        "d1",
        [("title", "T", "", 0), ("text", "body", "img/1.png", 1)],
        "T",
        "body",
        "webpage",
        -42,
        3,
        1,
        {"lang": "en", "author": None},
        ["admin", "staff"],
        [],
    ),
    ("d2", [], None, None, None, None, None, None, None, None, None),
]

LOCAL_CASES = {
    "documents": (DOC_ROWS, schemas.DOCUMENTS),
    "postings": ([("alpha", "d1", 2), ("beta", "d2", 1)], schemas.POSTINGS),
    "seen": ([(-7, "http://a.test/", 0, 0), (9, "http://b.test/x", 2, 1)], schemas.SEEN),
    "ddl": ([("q", "spark", 2), ("q", None, 1)], "query_id string, term string, mult long"),
    "empty": ([], schemas.DOCUMENTS),
}


@pytest.mark.parametrize("case", sorted(LOCAL_CASES))
def test_local_df_matches_create_dataframe_as_local_relation(spark, case):
    """local_df collects exactly what createDataFrame over the same list
    does, and plans as a LocalRelation, not a PythonRDD scan."""
    rows, schema = LOCAL_CASES[case]
    df = local_df(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert df.schema == ref.schema
    assert df.collect() == ref.collect()
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()


def test_local_df_rejects_none_in_non_nullable_field(spark):
    """As createDataFrame's schema check does: a None in a non-nullable
    column is an error, not a silently null value."""
    with pytest.raises(ValueError, match="'term'"):
        local_df(spark, [(None, "d1", 1)], schemas.POSTINGS)


def test_invalidate_caches_rereads_a_zip_only_when_it_changed(tmp_path, monkeypatch):
    """PySpark's worker calls importlib.invalidate_caches() before every
    task; an unchanged zip on sys.path is not re-parsed, a rewritten one is
    re-parsed once and its new module imports."""
    import importlib
    import sys
    import zipfile
    import zipimport

    import goprowl_spark  # noqa: F401  (installs the zip stamps)

    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("gp_zip_a.py", "A = 1\n")
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    saved_path, saved_cache = list(sys.path), dict(sys.path_importer_cache)
    sys.path.insert(0, archive)
    try:
        import gp_zip_a

        assert gp_zip_a.A == 1
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(archive) == 0
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("gp_zip_a.py", "A = 1\n")
            z.writestr("gp_zip_b.py", "B = 2\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        import gp_zip_b

        assert gp_zip_b.B == 2
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        zipimport._zip_directory_cache.pop(archive, None)
        for m in ("gp_zip_a", "gp_zip_b"):
            sys.modules.pop(m, None)


def test_python_worker_does_not_reread_pyspark_zip(spark):
    """In a real UDF worker, once goprowl_spark is imported, a task's
    invalidate_caches() re-parses no zip, pyspark.zip included."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import goprowl_spark  # noqa: F401

        for _ in batches:
            pass
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        has_zip = any(
            isinstance(i, zipimport.zipimporter) and i.archive.endswith("pyspark.zip")
            for i in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict({"reads": [len(reads)], "has_zip": [has_zip]})

    rows = local_df(spark, [(1,)], "x int").mapInArrow(
        probe, "reads long, has_zip boolean"
    ).collect()
    assert [tuple(r) for r in rows] == [(0, True)]


JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=60000",
)


def test_driver_jvm_runs_the_jit_policy(spark):
    """get_spark launched the session's JVM with C2's invocation thresholds
    raised and its back-edge (OSR) threshold left at the default."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(bean.getInputArguments())
    for flag in JIT_POLICY:
        assert flag in args, args
    assert not any("Tier4BackEdgeThreshold" in a for a in args), args


def test_jit_policy_survives_callers_extra_java_options(tmp_path):
    """A caller's spark.driver.extraJavaOptions (perfbench passes its own
    java.io.tmpdir) adds to the policy instead of replacing it. Needs a
    fresh JVM: the policy only applies when get_spark launches one."""
    script = (
        "import json\n"
        "from goprowl_spark.session import get_spark\n"
        "s = get_spark('jit-probe', cores=1, extra_conf="
        "{'spark.driver.extraJavaOptions': '-Dgoprowl.probe=1'})\n"
        "bean = s._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()\n"
        "print('ARGS ' + json.dumps(list(bean.getInputArguments())))\n"
        "s.stop()\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", TMPDIR=str(tmp_path))
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("ARGS ")]
    assert out.returncode == 0 and lines, out.stderr[-2000:]
    args = json.loads(lines[-1][len("ARGS "):])
    for flag in (*JIT_POLICY, "-Dgoprowl.probe=1"):
        assert flag in args, args
