"""Snapshot catalog: commit/load/time-travel/atomic pointer semantics."""

import pytest

from goprowl_spark.tables import SnapshotCatalog, merge_upsert


def test_commit_load_roundtrip(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    sid = cat.commit({"t": df})
    assert sid == 0
    got = {tuple(r) for r in cat.load("t").collect()}
    assert got == {(1, "a"), (2, "b")}


def test_time_travel_and_carryover(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    a0 = spark.createDataFrame([(1,)], "id int")
    b0 = spark.createDataFrame([(10,)], "id int")
    cat.commit({"a": a0, "b": b0}, properties={"round": 0})
    a1 = spark.createDataFrame([(2,)], "id int")
    cat.commit({"a": a1}, properties={"round": 1})

    assert cat.latest() == 1
    assert [r["id"] for r in cat.load("a").collect()] == [2]
    assert [r["id"] for r in cat.load("a", snapshot_id=0).collect()] == [1]
    # table b carried over by reference into snapshot 1
    assert [r["id"] for r in cat.load("b").collect()] == [10]
    assert cat.properties() == {"round": 1}
    assert cat.properties(0) == {"round": 0}


def test_missing_table_with_schema_is_empty(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path))
    df = cat.load("nope", schema="id int")
    assert df.count() == 0


def test_merge_upsert_replaces_by_key(spark):
    target = spark.createDataFrame([("a", 1), ("b", 1)], "k string, v int")
    updates = spark.createDataFrame([("b", 2), ("c", 2)], "k string, v int")
    got = {tuple(r) for r in merge_upsert(target, updates, "k").collect()}
    assert got == {("a", 1), ("b", 2), ("c", 2)}


def test_iceberg_sql_emission_goldens(spark, tmp_path):
    """The Iceberg statements the production catalog swap would run are
    pinned exactly: upsert, append, overwrite, projection-commit (the
    shared seen/frontier delta as a metadata-only view), create, rollback.
    The swap is mechanical — same call sites, spark.sql(stmt) instead of
    manifest edits — so these strings ARE the migration contract."""
    from pyspark.sql import types as T

    from goprowl_spark import tables as tb

    # merge_upsert records its MERGE INTO when given a table name + sink
    emitted: list[str] = []
    target = spark.createDataFrame([("a", 1)], "k string, v int")
    updates = spark.createDataFrame([("a", 2)], "k string, v int")
    tb.merge_upsert(target, updates, "k", table_name="documents", emitted_sql=emitted)
    assert emitted == [
        "MERGE INTO spark_catalog.goprowl.documents t\n"
        "USING updates u\n"
        "ON t.k = u.k\n"
        "WHEN MATCHED THEN UPDATE SET *\n"
        "WHEN NOT MATCHED THEN INSERT *"
    ]

    # a staged commit with an append, a replace, and a projection entry
    cat = SnapshotCatalog(spark, str(tmp_path), emit_iceberg_sql=True)
    sid = cat.next_sid()
    delta = spark.createDataFrame([("u", 1, 0)], "url string, url_hash long, depth int")
    delta.write.parquet(cat.stage_path(sid, "crawl_delta"))
    delta.write.parquet(cat.stage_path(sid, "crawl_metrics"))
    cat.commit(
        {"frontier": cat.stage_path(sid, "crawl_delta")},
        appends={
            "seen": cat.stage_path(sid, "crawl_delta"),
            "crawl_metrics": cat.stage_path(sid, "crawl_metrics"),
        },
        projections={
            "seen": ["url", "url_hash"],
            "frontier": ["url", "url_hash", "depth"],
        },
        properties={"round": 1},
        sid=sid,
    )
    assert cat.emitted_sql == [
        "INSERT OVERWRITE spark_catalog.goprowl.frontier_base\nSELECT * FROM staged",
        "CREATE OR REPLACE VIEW spark_catalog.goprowl.frontier AS\n"
        "SELECT url, url_hash, depth FROM spark_catalog.goprowl.frontier_base",
        "INSERT INTO spark_catalog.goprowl.crawl_metrics\nSELECT * FROM staged",
        "INSERT INTO spark_catalog.goprowl.seen_base\nSELECT * FROM staged",
        "CREATE OR REPLACE VIEW spark_catalog.goprowl.seen AS\n"
        "SELECT url, url_hash FROM spark_catalog.goprowl.seen_base",
    ]

    # DDL + resume
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("depth", T.IntegerType()),
        ]
    )
    assert tb.iceberg_create_table_sql("frontier", schema, ("depth",)) == (
        "CREATE TABLE IF NOT EXISTS spark_catalog.goprowl.frontier (\n"
        "  url string,\n  depth int\n)\n"
        "USING iceberg\nPARTITIONED BY (depth)\n"
        "TBLPROPERTIES ('format-version' = '2', "
        "'write.distribution-mode' = 'hash')"
    )
    assert tb.iceberg_rollback_sql("frontier", 7) == (
        "CALL spark_catalog.system.rollback_to_snapshot('goprowl.frontier', 7)"
    )


def test_write_local_parquet_matches_spark_physical_types(spark, tmp_path):
    """Driver-written files carry the same parquet types and repetition as
    Spark-written files of the same schema, so one table may mix both."""
    from collections import Counter

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from goprowl_spark.tables import parquet_data_files, write_local_parquet

    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType(), False),
            T.StructField("l", T.LongType(), False),
            T.StructField("d", T.DoubleType(), False),
            T.StructField("s", T.StringType(), True),
            T.StructField("b", T.BooleanType(), True),
        ]
    )
    rows = [(1, 2**40, 0.5, "x", True), (2, -3, 1.5, None, None)]
    local_path = str(tmp_path / "local")
    spark_path = str(tmp_path / "spark")
    write_local_parquet(rows, schema, local_path)
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(spark_path)

    def file_schema(path):
        (name,) = parquet_data_files(path)
        return pq.read_schema(f"{path}/{name}").remove_metadata()

    assert file_schema(local_path) == file_schema(spark_path)
    assert [str(f.type) for f in file_schema(local_path)] == [
        "int32", "int64", "double", "string", "bool"
    ]
    both = spark.read.parquet(local_path, spark_path).collect()
    assert Counter(map(tuple, both)) == Counter(rows + rows)


def test_concurrent_commit_raises_and_keeps_the_winner(spark, tmp_path):
    """Two writers over one root race for the same snapshot id: the one
    that commits second raises instead of replacing the first's snapshot,
    and its staged writes leave the winner's files alone."""
    a = SnapshotCatalog(spark, str(tmp_path))
    b = SnapshotCatalog(spark, str(tmp_path))
    sid_a, sid_b = a.next_sid(), b.next_sid()
    assert sid_a == sid_b == 0
    a.commit(
        {"t": spark.createDataFrame([(1, "a")], "id int, v string")},
        properties={"writer": "a"},
        sid=sid_a,
    )
    with pytest.raises(ValueError, match="another writer"):
        b.commit(
            {"t": spark.createDataFrame([(2, "b")], "id int, v string")},
            properties={"writer": "b"},
            sid=sid_b,
        )
    for cat in (a, b):
        assert cat.snapshot_ids() == [0]
        assert [tuple(r) for r in cat.load("t").collect()] == [(1, "a")]
        assert cat.properties() == {"writer": "a"}


def test_staged_commits_without_spark(tmp_path):
    """Path values need no Spark session. Replaces, appends, projections
    and carried-over tables all land in one {paths, columns} entry form."""
    import json

    cat = SnapshotCatalog(None, str(tmp_path))
    assert cat.latest() is None and cat.properties() == {}
    for i in range(50):
        sid = cat.next_sid()
        delta = cat.stage_path(sid, "delta")
        appends = {"seen": delta, "metrics": cat.stage_path(sid, "metrics")}
        tables = {"frontier": delta}
        if i == 0:
            tables["config"] = cat.stage_path(sid, "config")
        assert cat.commit(
            tables,
            properties={"round": i},
            appends=appends,
            projections={"seen": ["url"], "frontier": ["url", "depth"]},
            sid=sid,
        ) == i
    assert cat.latest() == 49
    assert cat.snapshot_ids() == list(range(50))
    assert cat.properties() == {"round": 49}
    assert cat.properties(7) == {"round": 7}
    assert cat.has_table("config", 49) and not cat.has_table("nope")
    with pytest.raises(ValueError):
        cat.commit({"frontier": delta}, sid=49)

    with open(tmp_path / "manifest.json") as f:
        manifest = json.load(f)
    entries = [
        e for s in manifest["snapshots"].values() for e in s["tables"].values()
    ]
    assert len(entries) == 4 + 49 * 4
    for e in entries:
        assert set(e) == {"paths", "columns"}
        assert isinstance(e["paths"], list) and e["paths"]
    last = manifest["snapshots"]["49"]["tables"]
    assert last["seen"]["columns"] == ["url"]
    assert last["metrics"]["columns"] is None
    assert len(last["seen"]["paths"]) == len(last["metrics"]["paths"]) == 50
    assert last["frontier"] == {
        "paths": [cat.stage_path(49, "delta")], "columns": ["url", "depth"]
    }
    assert last["config"]["paths"] == [cat.stage_path(0, "config")]


def test_racing_writers_lose_no_snapshot(tmp_path):
    """More writers than cores race over one root, each retrying on a
    moved parent: every commit that returned is in the final snapshot's
    history exactly once, so no snapshot was silently replaced."""
    import json
    import sys
    import threading

    n_writers, per_writer = 8, 10

    def writer(i: int) -> None:
        cat = SnapshotCatalog(None, str(tmp_path))
        done = 0
        while done < per_writer:
            sid = cat.next_sid()
            try:
                cat.commit(appends={"log": cat.stage_path(sid, f"w{i}")}, sid=sid)
            except ValueError:
                continue
            done += 1

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_writers)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)

    n = n_writers * per_writer
    cat = SnapshotCatalog(None, str(tmp_path))
    assert cat.snapshot_ids() == list(range(n))
    with open(tmp_path / "manifest.json") as f:
        paths = json.load(f)["snapshots"][str(n - 1)]["tables"]["log"]["paths"]
    assert len(set(paths)) == len(paths) == n
    for i in range(n_writers):
        assert sum(p.endswith(f"/w{i}") for p in paths) == per_writer
