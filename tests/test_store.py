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


def test_store_matches_a_dict_model_over_random_ops(spark, tmp_path, monkeypatch):
    """Seeded random index / batch_index / delete / clear against a dict
    model, crossing compactions on both merge-on-read bounds (the key bound
    is lowered so small batches reach it). After every op the documents,
    the maintained postings and doc_stats, and a load at an earlier
    snapshot all equal the model."""
    import random
    from collections import Counter

    from goprowl_spark import ranking, tables
    from goprowl_spark import store as store_mod
    from goprowl_spark.session import local_df

    monkeypatch.setattr(tables, "MAX_DELETED_KEYS", 8)
    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "eps"]
    store = DocumentStore(spark, str(tmp_path))
    model: dict[str, str] = {}
    history: dict[int, dict[str, str]] = {}
    deleted: set[str] = set()
    seen = Counter()

    def doc(doc_id, text):
        return (doc_id, [("text", text, "", 0)], doc_id, text, "webpage",
                None, None, None, None, None, None)

    def frame(docs: dict[str, str]):
        return local_df(spark, [doc(d, t) for d, t in sorted(docs.items())], schemas.DOCUMENTS)

    def text():
        return " ".join(rng.choice(words) for _ in range(rng.randint(1, 4)))

    ids = [f"u{i}" for i in range(10)]
    for step in range(40):
        kind = rng.choices(["index", "batch", "delete", "clear"], [4, 4, 3, 1])[0]
        if kind == "delete" and not model:
            kind = "index"
        files_before = (store.catalog.delta_counts(store_mod.TABLE) or (0, 0))[0]
        if kind in ("index", "batch"):
            n = 1 if kind == "index" else rng.randint(1, 6)
            batch = {d: text() for d in rng.sample(ids, n)}
            seen["reupsert"] += bool(deleted & set(batch))
            store.batch_store(frame(batch))
        elif kind == "delete":
            d = rng.choice(sorted(model))
            deleted.add(d)
            batch = {}
            store.delete(d)
            del model[d]
        else:
            batch = {}
            store.clear()
            model.clear()
        model.update(batch)
        sid = store.catalog.latest()
        history[sid] = dict(model)
        files_after = store.catalog.delta_counts(store_mod.TABLE)[0]
        seen["compactions"] += kind != "clear" and files_after <= files_before
        seen[kind] += 1

        got = {r["doc_id"]: r["content"] for r in store.get_all().collect()}
        assert got == model, (step, kind)
        want = frame(model)
        assert Counter(tuple(r) for r in store.postings().collect()) == Counter(
            tuple(r) for r in ranking.build_postings(want).collect()
        ), (step, kind)
        assert Counter(tuple(r) for r in store.doc_stats().collect()) == Counter(
            tuple(r) for r in ranking.build_doc_stats(want).collect()
        ), (step, kind)
        past = rng.choice(sorted(history))
        old = store.catalog.load(store_mod.TABLE, snapshot_id=past)
        assert {r["doc_id"]: r["content"] for r in old.collect()} == history[past]

    # the seed exercised what the test is for
    assert seen["compactions"] >= 2 and seen["clear"] and seen["delete"] >= 5
    assert seen["reupsert"], "no deleted key was upserted again"
