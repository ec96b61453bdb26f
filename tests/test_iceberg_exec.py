"""The emitted Iceberg SQL *executes* — not just string-matches.

tests/test_tables.py pins the statement text; these tests run each emitted
statement class against a DuckDB mirror (goprowl_spark/iceberg_exec.py)
and assert the mirror's end state equals SnapshotCatalog's for the same
operations, over the same staged parquet files. That is the strongest
Iceberg-parity evidence available in a sandbox with no Iceberg jar: the
statements provably do what the manifest-based catalog does.
"""

from __future__ import annotations

import re

import pytest

from goprowl_spark import schemas
from goprowl_spark import tables as tb
from goprowl_spark.iceberg_exec import (
    DuckDBMirror,
    spark_type_to_duckdb,
    to_duckdb_sql,
)


def test_type_mapping_covers_every_schema():
    """Every column type in every catalog schema maps to a DuckDB type and
    the resulting CREATE TABLE parses+executes (nested spans struct, the
    metadata map, and the bloom binary column included)."""
    mirror = DuckDBMirror()
    for name in dir(schemas):
        schema = getattr(schemas, name)
        if not hasattr(schema, "fields"):
            continue
        stmt = tb.iceberg_create_table_sql(f"t_{name.lower()}", schema)
        for duck in to_duckdb_sql(stmt):
            mirror.con.execute(duck)
        assert mirror.rows(f"t_{name.lower()}") == set()


def test_nested_type_translation_exact():
    assert spark_type_to_duckdb(
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    ) == (
        'STRUCT("kind" VARCHAR, "text" VARCHAR, "media_ref" VARCHAR, '
        '"offset" INTEGER)[]'
    )
    assert spark_type_to_duckdb("map<string,string>") == "MAP(VARCHAR, VARCHAR)"
    assert spark_type_to_duckdb("binary") == "BLOB"
    with pytest.raises(ValueError, match="unmapped"):
        spark_type_to_duckdb("interval")


def _latest_entry(root, name: str) -> dict:
    import json

    with open(f"{root}/manifest.json") as f:
        manifest = json.load(f)
    return manifest["snapshots"][str(manifest["current"])]["tables"][name]


def test_merge_upsert_sql_matches_spark_end_state(spark, tmp_path):
    """The statements the store's merge-on-read writes emit — MERGE INTO
    for documents and doc_stats, DELETE then INSERT for postings, DELETE
    FROM for a delete, INSERT OVERWRITE for a compaction — replayed on a
    DuckDB mirror over the very files the catalog staged, end in the rows
    the store reads after every op."""
    from collections import Counter

    from goprowl_spark import store as store_mod
    from goprowl_spark.session import local_df

    store = store_mod.DocumentStore(spark, str(tmp_path))
    store.catalog.emit_iceberg_sql = True
    mirror = DuckDBMirror()
    for name, schema in store_mod.SCHEMAS.items():
        mirror.execute(tb.iceberg_create_table_sql(name, schema))
    cols = {
        store_mod.TABLE: "doc_id, title, content",
        store_mod.POSTINGS: "term, doc_id, tf",
        store_mod.DOC_STATS: "doc_id, doc_len",
    }

    def docs(rows):
        return local_df(
            spark,
            [(d, [], d, t, None, None, None, None, None, None, None) for d, t in rows],
            schemas.DOCUMENTS,
        )

    ops = [
        lambda: store.batch_store(docs([("a", "x y"), ("b", "y z")])),
        lambda: store.batch_store(docs([("b", "z z w"), ("c", "x")])),
        lambda: store.delete("a"),
        lambda: store.batch_store(docs([("a", "w")])),
    ]
    # enough deletes to pass MAX_DELTAS: the last write compacts
    ops += [lambda: store.delete("zz")] * (tb.MAX_DELTAS - 6)
    for op in ops:
        n_before = len(store.catalog.emitted_sql)
        op()
        for stmt in store.catalog.emitted_sql[n_before:]:
            name = re.search(r"goprowl\.(\w+)", stmt).group(1)
            e = _latest_entry(tmp_path, name)
            source = e["deletes"][-1] if stmt.startswith("DELETE") else e["paths"][-1]
            mirror.execute(stmt, sources={"staged": source, "updates": source})
        for name, c in cols.items():
            got = Counter(mirror.con.execute(f"SELECT {c} FROM goprowl.{name}").fetchall())
            want = Counter(tuple(r) for r in store.catalog.load(name).select(*c.split(", ")).collect())
            assert got == want, (name, got, want)
    kinds = Counter(stmt.split()[0] for stmt in store.catalog.emitted_sql)
    assert set(kinds) == {"MERGE", "DELETE", "INSERT"}
    assert store.catalog.delta_counts(store_mod.TABLE) == (1, 0)  # compacted


def test_expire_urls_sql_matches_catalog(spark, tmp_path, monkeypatch):
    """A crawl with index upkeep, replayed on a DuckDB mirror commit by
    commit, through expiries in both modes — delete deltas on documents,
    postings, doc_stats, the projected seen and frontier entries and
    seen_bloom, and a requeue's MERGE into the frontier's base table — and
    a budgeted round after them: after each op the mirror holds the rows
    the catalog loads, the filter's shards included. Past MAX_DELTAS an
    expiry rewrites every table instead: a projected entry's INSERT
    OVERWRITE fills its base table's projected columns, and the files an
    INSERT OVERWRITE … SELECT * reads keep the tables' column order."""
    import os
    from collections import Counter

    import pyarrow.parquet as pq

    from goprowl_spark import corpus
    from goprowl_spark.crawl import CrawlConfig, CrawlEngine

    cfg = CrawlConfig(seeds=[corpus.url(0)], max_depth=2, maintain_index=True)
    eng = CrawlEngine(
        spark, None, str(tmp_path), cfg, fetcher=corpus.make_fetcher(50)
    )
    eng.catalog.emit_iceberg_sql = True
    mirror = DuckDBMirror()
    index = {"documents": schemas.DOCUMENTS, "postings": schemas.POSTINGS,
             "doc_stats": schemas.DOC_STATS}
    for name, schema in index.items():
        mirror.execute(tb.iceberg_create_table_sql(name, schema))
    cols = {
        "documents": "doc_id, fetched_round, title",
        "postings": "term, doc_id, tf",
        "doc_stats": "doc_id, doc_len",
        "seen": "url_hash, url, depth, first_seen_round",
        "frontier": "url, url_hash, host, depth, priority, discovered_round",
        "seen_bloom": "bucket, filter_blob, n_items, gen",
    }

    def replay(op):
        n_before = len(eng.catalog.emitted_sql)
        op()
        for stmt in eng.catalog.emitted_sql[n_before:]:
            name = re.search(r"goprowl\.(\w+)", stmt).group(1)
            if stmt.startswith("CREATE OR REPLACE VIEW"):
                mirror.execute(stmt)
                continue
            e = _latest_entry(tmp_path, re.sub("_base$", "", name))
            source = e["deletes"][-1] if stmt.startswith("DELETE") else e["paths"][-1]
            mirror.execute(stmt, sources={"staged": source, "updates": source})
        for name, c in cols.items():
            got = Counter(mirror.con.execute(f"SELECT {c} FROM goprowl.{name}").fetchall())
            table = eng.catalog.load(name, schema=index.get(name))
            want = Counter(
                tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
                for r in table.select(*c.split(", ")).collect()
            )
            assert got == want, name
        return eng.catalog.emitted_sql[n_before:]

    replay(eng.start)
    for _ in range(2):
        replay(eng.crawl_round)
    docs = sorted(r["doc_id"] for r in eng.documents().collect())
    queued = sorted(r["url"] for r in eng.frontier().collect())
    assert len(docs) >= 3 and len(queued) >= 2

    forget = replay(lambda: eng.expire_urls([docs[0], queued[0]]))
    requeue = replay(lambda: eng.expire_urls([docs[1], queued[1]], reenqueue=True))
    targets = {s.split("\n")[0] for s in forget + requeue if s.startswith(("DELETE", "MERGE"))}
    assert targets == {
        *(f"DELETE FROM spark_catalog.goprowl.{n}" for n in ("documents", "postings", "doc_stats")),
        "DELETE FROM spark_catalog.goprowl.seen_base",
        "DELETE FROM spark_catalog.goprowl.frontier_base",
        "MERGE INTO spark_catalog.goprowl.frontier_base t",
        # an expired url's shard with no other member has no row to merge
        "DELETE FROM spark_catalog.goprowl.seen_bloom",
    }, targets
    # a budgeted round replaces the frontier: its base table's projected
    # columns, not the six-column file's positions
    eng.config.default_budget = 1
    budgeted = replay(eng.crawl_round)
    assert (
        "INSERT OVERWRITE spark_catalog.goprowl.frontier_base "
        f"({cols['frontier']})\nSELECT {cols['frontier']} FROM staged"
    ) in budgeted

    monkeypatch.setattr(tb, "MAX_DELTAS", 1)
    compacted = replay(lambda: eng.expire_urls([docs[2]]))
    assert {s.split("\n")[0] for s in compacted if s.startswith("INSERT OVERWRITE")} == {
        *(f"INSERT OVERWRITE spark_catalog.goprowl.{n}" for n in (*index, "seen_bloom")),
        f"INSERT OVERWRITE spark_catalog.goprowl.seen_base ({cols['seen']})",
    }
    for name, schema in {**index, "seen_bloom": schemas.SEEN_BLOOM}.items():
        e = _latest_entry(tmp_path, name)
        assert e["deletes"] == [] and len(e["paths"]) == 1
        for f in tb.parquet_data_files(e["paths"][0]):
            path = os.path.join(e["paths"][0], f)
            assert pq.read_schema(path).names == schema.fieldNames()
    assert not eng.documents().where(f"doc_id = '{docs[2]}'").count()


def _replay_commit(mirror, stmts, tables, appends):
    """Replay one commit's emitted statements, binding each statement's
    generic ``staged`` source to the path the catalog actually staged for
    that statement's target table."""
    paths = {**tables, **appends}
    for stmt in stmts:
        m = re.search(r"INSERT (?:INTO|OVERWRITE) \S+\.(\w+)[ \n]", stmt)
        if m:
            logical = re.sub(r"_base$", "", m.group(1))
            mirror.execute(stmt, sources={"staged": paths[logical]})
        else:
            mirror.execute(stmt)  # projection view: no source binding


def test_staged_commit_replay_matches_catalog(spark, tmp_path):
    """Two staged commits — overwrite+projection, append+projection, plain
    append — replayed statement-for-statement on the mirror; every logical
    table's final contents match SnapshotCatalog.load exactly (including
    the two-logical-tables-over-one-delta projection)."""
    cat = tb.SnapshotCatalog(spark, str(tmp_path), emit_iceberg_sql=True)

    def do_commit(rows):
        sid = cat.next_sid()
        delta = spark.createDataFrame(
            rows, "url string, url_hash long, depth int"
        )
        delta.write.parquet(cat.stage_path(sid, "crawl_delta"))
        spark.createDataFrame(
            [(sid, len(rows))], "round int, popped int"
        ).write.parquet(cat.stage_path(sid, "crawl_metrics"))
        n_before = len(cat.emitted_sql)
        tables = {"frontier": cat.stage_path(sid, "crawl_delta")}
        appends = {
            "seen": cat.stage_path(sid, "crawl_delta"),
            "crawl_metrics": cat.stage_path(sid, "crawl_metrics"),
        }
        cat.commit(
            tables,
            appends=appends,
            projections={
                "seen": ["url", "url_hash"],
                "frontier": ["url", "url_hash", "depth"],
            },
            sid=sid,
        )
        return cat.emitted_sql[n_before:], tables, appends

    mirror = DuckDBMirror()
    for rows in (
        [("u1", 11, 0), ("u2", 22, 0)],
        [("u3", 33, 1)],
    ):
        stmts, tables, appends = do_commit(rows)
        _replay_commit(mirror, stmts, tables, appends)

    for logical in ("frontier", "seen", "crawl_metrics"):
        cat_rows = {tuple(r) for r in cat.load(logical).collect()}
        assert mirror.rows(logical) == cat_rows, logical
    # the projection view narrows columns exactly like the manifest entry
    assert mirror.rows("seen") == {("u1", 11), ("u2", 22), ("u3", 33)}
    # frontier was OVERWRITten per commit: only the last delta remains
    assert mirror.rows("frontier") == {("u3", 33, 1)}


def test_translator_is_narrow():
    with pytest.raises(ValueError, match="unrecognized"):
        to_duckdb_sql("DROP TABLE spark_catalog.goprowl.seen")
    with pytest.raises(ValueError, match="rollback_to_snapshot"):
        to_duckdb_sql(tb.iceberg_rollback_sql("frontier", 7))
    # a DELETE of any other shape must not silently translate
    with pytest.raises(ValueError, match="unrecognized"):
        to_duckdb_sql("DELETE FROM spark_catalog.goprowl.t\nWHERE k = 1")
    # MERGE with any other WHEN shape must not silently translate
    with pytest.raises(ValueError, match="unrecognized"):
        to_duckdb_sql(
            "MERGE INTO spark_catalog.goprowl.t t\nUSING updates u\n"
            "ON t.k = u.k\nWHEN MATCHED THEN DELETE"
        )
