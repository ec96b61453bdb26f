"""DocumentStore (StorageAdapter surface U2): upsert/get/delete/clear with
snapshot time-travel."""

from pyspark.sql import functions as F

from goprowl_spark import schemas
from goprowl_spark.store import DocumentStore


def _doc(doc_id: str, title: str):
    return (
        doc_id,
        [("title", title, "", 0)],
        title,
        title,
        "webpage",
        hash(title),
        1,
        0,
        {"origin": "test"},
        None,
        None,
    )


def test_store_lifecycle(spark, tmp_path):
    store = DocumentStore(spark, str(tmp_path))
    d1 = spark.createDataFrame([_doc("u1", "first"), _doc("u2", "second")], schemas.DOCUMENTS)
    store.batch_store(d1)
    assert store.get_all().count() == 2
    assert store.get("u1").collect()[0]["title"] == "first"

    # upsert replaces by key (bleve upsert semantics)
    d2 = spark.createDataFrame([_doc("u1", "updated")], schemas.DOCUMENTS)
    store.batch_store(d2)
    assert store.get_all().count() == 2
    assert store.get("u1").collect()[0]["title"] == "updated"

    # delete by id
    sid_before_delete = store.catalog.latest()
    store.delete("u2")
    assert store.get("u2").count() == 0
    assert store.get_all().count() == 1

    # time travel: the pre-delete snapshot still has u2
    old = store.catalog.load("documents", snapshot_id=sid_before_delete)
    assert old.where(F.col("doc_id") == "u2").count() == 1

    # clear
    store.clear()
    assert store.get_all().count() == 0
    assert [r["doc_id"] for r in store.list().collect()] == []


def test_incremental_index_matches_full_rebuild(spark, tmp_path):
    from goprowl_spark import ranking

    store = DocumentStore(spark, str(tmp_path))
    d1 = spark.createDataFrame(
        [_doc("u1", "alpha beta"), _doc("u2", "beta gamma")], schemas.DOCUMENTS
    )
    store.batch_store(d1)
    # upsert u1 with new content, add u3, delete u2 — index must track
    d2 = spark.createDataFrame(
        [_doc("u1", "delta delta"), _doc("u3", "alpha")], schemas.DOCUMENTS
    )
    store.batch_store(d2)
    store.delete("u2")

    maintained = {
        (r["term"], r["doc_id"], r["tf"]) for r in store.postings().collect()
    }
    rebuilt = {
        (r["term"], r["doc_id"], r["tf"])
        for r in ranking.build_postings(store.get_all()).collect()
    }
    assert maintained == rebuilt
    m_stats = {(r["doc_id"], r["doc_len"]) for r in store.doc_stats().collect()}
    r_stats = {
        (r["doc_id"], r["doc_len"])
        for r in ranking.build_doc_stats(store.get_all()).collect()
    }
    assert m_stats == r_stats

    store.clear()
    assert store.postings().count() == 0 and store.doc_stats().count() == 0


def test_table_size_counts_only_parquet_data_files(spark, tmp_path):
    """index size is the sum of the part files' sizes: Hadoop's .crc
    checksums and the _SUCCESS marker are not data."""
    import os
    from urllib.parse import urlparse

    store = DocumentStore(spark, str(tmp_path))
    store.batch_store(
        spark.createDataFrame([_doc("u1", "one"), _doc("u2", "two")], schemas.DOCUMENTS)
    )
    parts = [urlparse(u).path for u in store.get_all().inputFiles()]
    (path,) = {os.path.dirname(p) for p in parts}
    assert all(os.path.basename(p).startswith("part-") for p in parts)
    assert len(parts) < len(os.listdir(path))  # checksums/markers are present
    assert store.table_size_bytes() == sum(os.path.getsize(p) for p in parts)


def _is_cached(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk or lvl.useOffHeap


def test_batch_store_keeps_only_the_callers_cache(spark, tmp_path):
    """A batch the caller cached stays cached; a batch the store persisted
    for its own writes is released after the commit."""
    store = DocumentStore(spark, str(tmp_path))
    cached = spark.createDataFrame([_doc("u1", "first")], schemas.DOCUMENTS).cache()
    store.batch_store(cached)
    assert _is_cached(cached)
    cached.unpersist()

    plain = spark.createDataFrame([_doc("u2", "second")], schemas.DOCUMENTS)
    store.batch_store(plain)
    assert not _is_cached(plain)
    assert sorted(r["doc_id"] for r in store.get_all().collect()) == ["u1", "u2"]
