"""spread_narrow_scan's metadata-only split estimate, and local_df."""

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
