"""Snapshot catalog: commit/load/time-travel/atomic pointer semantics."""

import pytest

from goprowl_spark.tables import SnapshotCatalog


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


def _rows(df) -> set:
    return {tuple(r) for r in df.collect()}


def test_merge_upsert_replaces_by_key(spark, tmp_path):
    """The store's upsert shape — append the updates plus a delete delta of
    their keys — replaces same-key rows on load, and the parent snapshot
    still reads the rows it had."""
    cat = SnapshotCatalog(spark, str(tmp_path))
    cat.commit({"t": spark.createDataFrame([("a", 1), ("b", 1)], "k string, v int")})
    updates = spark.createDataFrame([("b", 2), ("c", 2)], "k string, v int")
    cat.commit(appends={"t": updates}, deletes={"t": updates.select("k")})
    assert _rows(cat.load("t")) == {("a", 1), ("b", 2), ("c", 2)}
    assert _rows(cat.load("t", snapshot_id=0)) == {("a", 1), ("b", 1)}


def test_delete_log_hides_only_older_rows(spark, tmp_path, monkeypatch):
    """A delete hides its keys' rows in files committed before it: a key
    re-appended later is live again, each snapshot sees only its own log,
    one delete delta may serve two tables, and a replace empties the log.
    A string key's filter is the same SQL text it always was; an integer
    key (seen_bloom's bucket) deleted and re-appended in one commit keeps
    the appended row and hides the older one."""
    from goprowl_spark import schemas
    from goprowl_spark import tables as tb

    cat = SnapshotCatalog(spark, str(tmp_path))
    base = spark.createDataFrame([("a", 0), ("b", 0), ("c", 0)], "k string, v int")
    cat.commit({"t": base, "u": base})
    sid = cat.next_sid()
    gone = cat.stage_path(sid, "gone")
    spark.createDataFrame([("a",), ("b",)], "k string").write.parquet(gone)
    cat.commit(deletes={"t": gone, "u": gone}, sid=sid)
    texts = []
    expr = tb.F.expr
    monkeypatch.setattr(tb.F, "expr", lambda text: texts.append(text) or expr(text))
    assert _rows(cat.load("t")) == _rows(cat.load("u")) == {("c", 0)}
    pad = ", ".join(f"'-{i}:'" for i in range(11))
    assert texts[0] == (
        f"NOT coalesce(`k` IN ('a', 'b', {pad}) AND concat(regexp_extract("
        "_metadata.file_path, '.*/snapshots/([0-9]+)-[0-9a-f]+/', 1), ':', `k`) "
        f"IN ('0:a', '0:b', {pad}), false)"
    )
    cat.commit({"s": spark.createDataFrame([(1, 0), (2, 0)], "bucket int, v int")})
    sid = cat.next_sid()
    shard = {"s": spark.createDataFrame([(2, 1)], "bucket int, v int")}
    cat.commit(**cat.remove(sid, ["s"], schemas.BUCKET_KEY, [2], rows=shard), sid=sid)
    assert _rows(cat.load("s")) == {(1, 0), (2, 1)}
    assert "CAST(`bucket` AS STRING) IN ('2', " in texts[-1]
    monkeypatch.undo()
    cat.commit(appends={"t": spark.createDataFrame([("a", 2)], "k string, v int")})
    assert _rows(cat.load("t")) == {("a", 2), ("c", 0)}
    assert _rows(cat.load("t", snapshot_id=0)) == _rows(base)
    assert _rows(cat.load("t", snapshot_id=1)) == {("c", 0)}
    assert cat.delta_counts("t") == (3, 2) and cat.delta_counts("nope") is None
    cat.commit({"t": base})
    assert _rows(cat.load("t")) == _rows(base) and cat.delta_counts("t") == (1, 0)
    with pytest.raises(ValueError, match="not in snapshot"):
        cat.commit(deletes={"nope": spark.createDataFrame([("a",)], "k string")})
    with pytest.raises(ValueError, match="replaced and deleted"):
        cat.commit({"t": base}, deletes={"t": gone})
    with pytest.raises(ValueError, match="not staged for snapshot"):
        cat.commit(deletes={"t": gone})


def _plan(df) -> str:
    import re

    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().executedPlan().toString())


def test_load_plans(spark, tmp_path):
    """A table with an empty delete log loads with the bare parquet scan's
    plan; one with a log adds a single Filter over the same scan — no join,
    no exchange — and starts no more jobs than the bare load."""
    cat = SnapshotCatalog(spark, str(tmp_path))
    df = spark.createDataFrame([("a", 1), ("b", 1)], "k string, v int")
    cat.commit({"t": df, "d": df})
    cat.commit(appends={"t": df, "d": df})
    paths = [cat.stage_path(0, "t"), cat.stage_path(1, "t")]
    assert _plan(cat.load("t")) == _plan(spark.read.parquet(*paths))

    cat.commit(deletes={"d": df.select("k").where("k = 'a'")})
    sc = spark.sparkContext

    def jobs(group, table):
        sc.setJobGroup(group, group)
        try:
            cat.load(table)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("load-with-log", "d") == jobs("load-without-log", "t")
    plan = _plan(cat.load("d"))
    nodes = [line.lstrip(" +-*()0123456789").split(" ")[0] for line in plan.splitlines()]
    assert nodes.count("Filter") == 1 and nodes.count("FileScan") == 1
    assert "Exchange" not in plan and "Join" not in plan
    assert _rows(cat.load("d")) == {("b", 1)}


def test_manifest_entry_without_deletes_reads_as_empty_log(spark, tmp_path):
    """An entry written before delete logs existed loads, takes appends and
    deletes, and gains the key on its next write."""
    import json

    cat = SnapshotCatalog(spark, str(tmp_path))
    df = spark.createDataFrame([("a", 1), ("b", 1)], "k string, v int")
    cat.commit({"t": df})
    with open(tmp_path / "manifest.json") as f:
        manifest = json.load(f)
    del manifest["snapshots"]["0"]["tables"]["t"]["deletes"]
    with open(tmp_path / "manifest.json", "w") as f:
        json.dump(manifest, f)
    assert _rows(cat.load("t")) == {("a", 1), ("b", 1)}
    assert cat.delta_counts("t") == (1, 0)
    cat.commit(deletes={"t": df.select("k").where("k = 'b'")})
    assert _rows(cat.load("t")) == {("a", 1)}


def test_iceberg_sql_emission_goldens(spark, tmp_path):
    """The Iceberg statements the production catalog swap would run are
    pinned exactly: upsert, append, overwrite, projection-commit (the
    shared seen/frontier delta as a metadata-only view), create, rollback.
    The swap is mechanical — same call sites, spark.sql(stmt) instead of
    manifest edits — so these strings ARE the migration contract."""
    from pyspark.sql import types as T

    from goprowl_spark import tables as tb

    # an upsert whose appended rows are unique by key is a MERGE INTO; one
    # whose rows share keys (postings) is DELETE then INSERT; a delete alone
    # is a DELETE
    up = SnapshotCatalog(spark, str(tmp_path / "upsert"), emit_iceberg_sql=True)
    docs = spark.createDataFrame([("a", 1)], "doc_id string, v int")
    posts = spark.createDataFrame([("x", "a"), ("y", "a")], "term string, doc_id string")
    up.commit({"documents": docs, "postings": posts})
    sid = up.next_sid()
    keys = up.stage_path(sid, "deleted")
    docs.select("doc_id").write.parquet(keys)
    up.commit(
        appends={"documents": docs, "postings": posts},
        deletes={"documents": keys, "postings": keys},
        sid=sid,
    )
    up.commit(deletes={"documents": docs.select("doc_id")})
    assert up.emitted_sql[2:] == [
        "MERGE INTO spark_catalog.goprowl.documents t\n"
        "USING updates u\n"
        "ON t.doc_id = u.doc_id\n"
        "WHEN MATCHED THEN UPDATE SET *\n"
        "WHEN NOT MATCHED THEN INSERT *",
        "DELETE FROM spark_catalog.goprowl.postings\n"
        "WHERE doc_id IN (SELECT doc_id FROM staged)",
        "INSERT INTO spark_catalog.goprowl.postings\nSELECT * FROM staged",
        "DELETE FROM spark_catalog.goprowl.documents\n"
        "WHERE doc_id IN (SELECT doc_id FROM staged)",
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
        # a projected entry's replace writes only the projection's columns
        "INSERT OVERWRITE spark_catalog.goprowl.frontier_base (url, url_hash, depth)\n"
        "SELECT url, url_hash, depth FROM staged",
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
        "'write.distribution-mode' = 'hash', "
        "'write.delete.mode' = 'merge-on-read', "
        "'write.update.mode' = 'merge-on-read', "
        "'write.merge.mode' = 'merge-on-read')"
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
    and carried-over tables all land in one {paths, columns, deletes}
    entry form."""
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
        assert set(e) == {"paths", "columns", "deletes"} and e["deletes"] == []
        assert isinstance(e["paths"], list) and e["paths"]
    last = manifest["snapshots"]["49"]["tables"]
    assert last["seen"]["columns"] == ["url"]
    assert last["metrics"]["columns"] is None
    assert len(last["seen"]["paths"]) == len(last["metrics"]["paths"]) == 50
    assert last["frontier"] == {
        "paths": [cat.stage_path(49, "delta")],
        "columns": ["url", "depth"],
        "deletes": [],
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
