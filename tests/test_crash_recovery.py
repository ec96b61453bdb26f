"""Crash safety: the manifest swing is the atomic commit point — staged
table files written without a manifest update are invisible, the previous
snapshot stays authoritative, and re-running the round from it converges to
the same final state (north_rule: resume exactly from any checkpoint)."""

from goprowl_spark import corpus, schemas
from goprowl_spark.crawl import CrawlConfig, CrawlEngine

N = 300


def test_staged_writes_without_commit_are_invisible(spark, tmp_path):
    cfg = CrawlConfig(seeds=[corpus.url(0)], max_depth=3)
    eng = CrawlEngine(
        spark, None, str(tmp_path), cfg, fetcher=corpus.make_fetcher(N)
    )
    eng.start()
    eng.crawl_round()
    seen_after_r1 = sorted(r["url"] for r in eng.seen().collect())
    round_after_r1 = eng.current_round()

    # simulate a crash mid-round-2: stage some writes, never swing manifest
    sid = eng.catalog.next_sid()
    eng.frontier().write.mode("overwrite").parquet(
        eng.catalog.stage_path(sid, "frontier")
    )
    eng.seen().limit(1).write.mode("overwrite").parquet(
        eng.catalog.stage_path(sid, "seen")
    )

    # the catalog still serves the round-1 snapshot
    assert eng.current_round() == round_after_r1
    assert sorted(r["url"] for r in eng.seen().collect()) == seen_after_r1

    # a fresh engine over the same workdir resumes and finishes; the result
    # equals an uninterrupted crawl (the orphaned staged files stay in the
    # crashed engine's own staging directory, which no snapshot references)
    resumed = CrawlEngine(
        spark, None, str(tmp_path), cfg, fetcher=corpus.make_fetcher(N)
    )
    resumed.run()

    clean = CrawlEngine(
        spark, None, str(tmp_path / "clean"), cfg, fetcher=corpus.make_fetcher(N)
    )
    clean.run()
    a = sorted(resumed.seen().toJSON().collect())
    b = sorted(clean.seen().toJSON().collect())
    assert a == b
    da = sorted(resumed.documents().toJSON().collect())
    db = sorted(clean.documents().toJSON().collect())
    assert da == db


def test_stale_sid_commit_rejected(spark, tmp_path):
    from goprowl_spark.tables import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path))
    df = spark.createDataFrame([(1,)], "id int")
    cat.commit({"t": df})
    import pytest

    with pytest.raises(ValueError):
        cat.commit({"t": "/nonexistent"}, sid=5)


def test_expire_commit_is_a_resumable_checkpoint(spark, tmp_path):
    """expire_urls commits through the same manifest swing as a crawl
    round, so a FRESH engine over the same workdir picks up the expiry
    snapshot and completes the refetch exactly as the original would."""
    from pyspark.sql import functions as F

    cfg = CrawlConfig(seeds=[corpus.url(0)], max_depth=3, filter_kind="cuckoo")
    eng = CrawlEngine(
        spark, None, str(tmp_path), cfg, fetcher=corpus.make_fetcher(N)
    )
    eng.run()
    r_done = eng.current_round()
    docs = {r["doc_id"]: r for r in eng.documents().collect()}
    x = sorted(u for u, row in docs.items() if row["fetched_depth"] == 1)[0]
    old_spans = [tuple(s) for s in docs[x]["spans"]]
    assert eng.expire_urls([x], reenqueue=True) == 1

    # crash here: a new engine resumes from the expiry snapshot
    resumed = CrawlEngine(
        spark, None, str(tmp_path), cfg, fetcher=corpus.make_fetcher(N)
    )
    assert resumed.current_round() == r_done
    assert resumed.documents().where(F.col("doc_id") == x).count() == 0
    resumed.run()
    row = resumed.documents().where(F.col("doc_id") == x).collect()[0]
    assert row["fetched_round"] == r_done + 1
    assert [tuple(s) for s in row["spans"]] == old_spans


def test_resume_with_mismatched_filter_kind_fails_fast(spark, tmp_path):
    """The seen_bloom blobs are kernel-specific: a bloom probe over cuckoo
    blobs yields SILENT false negatives (duplicate fetches/doc_ids), a
    cuckoo decode of a bloom blob reads garbage geometry. A url's shard is
    pmod(url_hash, n_buckets), so another shard count misroutes probes the
    same way. Every commit records filter_kind and n_buckets in the
    snapshot properties and attaching an engine with a different value of
    either must raise at construction, not corrupt mid-crawl."""
    import pytest

    cfg = CrawlConfig(seeds=[corpus.url(0)], max_depth=2, filter_kind="cuckoo")
    eng = CrawlEngine(
        spark, None, str(tmp_path), cfg, fetcher=corpus.make_fetcher(N)
    )
    eng.run()
    assert eng.catalog.properties()["filter_kind"] == "cuckoo"
    assert eng.catalog.properties()["n_buckets"] == cfg.n_buckets

    for bad, key in (
        (
            CrawlConfig(seeds=[corpus.url(0)], max_depth=2, filter_kind="bloom"),
            "filter_kind",
        ),
        (
            CrawlConfig(
                seeds=[corpus.url(0)], max_depth=2, filter_kind="cuckoo",
                n_buckets=16,
            ),
            "n_buckets",
        ),
    ):
        with pytest.raises(ValueError, match=key):
            CrawlEngine(
                spark, None, str(tmp_path), bad, fetcher=corpus.make_fetcher(N)
            )

    # the matching kind still attaches and resumes
    resumed = CrawlEngine(
        spark, None, str(tmp_path), cfg, fetcher=corpus.make_fetcher(N)
    )
    assert resumed.current_round() == eng.current_round()

    # unknown kinds are rejected outright
    with pytest.raises(ValueError, match="unknown filter_kind"):
        CrawlEngine(
            spark,
            None,
            str(tmp_path),
            CrawlConfig(seeds=[corpus.url(0)], filter_kind="xor"),
            fetcher=corpus.make_fetcher(N),
        )


def test_expiry_commit_preserves_filter_kind_property(spark, tmp_path):
    """expire_urls rewrites snapshot properties wholesale — it must carry
    the filter_kind tag forward or the guard above goes blind after the
    first expiry."""
    cfg = CrawlConfig(seeds=[corpus.url(0)], max_depth=2, filter_kind="cuckoo")
    eng = CrawlEngine(
        spark, None, str(tmp_path), cfg, fetcher=corpus.make_fetcher(N)
    )
    eng.run()
    some_url = eng.seen().limit(1).collect()[0]["url"]
    assert eng.expire_urls([some_url]) == 1
    assert eng.catalog.properties()["filter_kind"] == "cuckoo"
    assert eng.catalog.properties()["n_buckets"] == cfg.n_buckets


def test_resume_with_smaller_bloom_shards_is_exact(spark, tmp_path):
    """A Bloom blob carries its own geometry (8·len(blob) bits), so
    resuming with another bits_per_bucket only sizes shards created from
    then on: every stored shard is still probed at the bit count it was
    written with, and no already-seen url is admitted twice."""
    from pyspark.sql import functions as F

    cfg = CrawlConfig(seeds=[corpus.url(0)], max_depth=4)
    eng = CrawlEngine(
        spark, None, str(tmp_path), cfg, fetcher=corpus.make_fetcher(N)
    )
    eng.run(max_rounds=2)
    small = CrawlConfig(
        seeds=[corpus.url(0)], max_depth=4, bits_per_bucket=1 << 14
    )
    resumed = CrawlEngine(
        spark, None, str(tmp_path), small, fetcher=corpus.make_fetcher(N)
    )
    resumed.run()
    seen = resumed.seen()
    docs = resumed.documents()
    assert seen.count() == seen.select(F.countDistinct("url")).first()[0]
    assert docs.count() == docs.select(F.countDistinct("doc_id")).first()[0]


def test_resume_that_switches_on_index_upkeep_fails_fast(spark, tmp_path):
    """Index upkeep is kept for the life of a workdir: two rounds without
    it, then an engine with maintain_index=True on the same workdir raises
    instead of indexing only the later rounds' documents. A workdir whose
    snapshots never recorded the setting is still accepted."""
    import json

    import pytest

    cfg = CrawlConfig(seeds=[corpus.url(0)], max_depth=4)
    eng = CrawlEngine(
        spark, None, str(tmp_path), cfg, fetcher=corpus.make_fetcher(N)
    )
    eng.run(max_rounds=2)
    assert eng.catalog.properties()["maintain_index"] is False
    upkeep = CrawlConfig(seeds=[corpus.url(0)], max_depth=4, maintain_index=True)
    with pytest.raises(ValueError, match="maintain_index"):
        CrawlEngine(
            spark, None, str(tmp_path), upkeep, fetcher=corpus.make_fetcher(N)
        )

    manifest_path = tmp_path / "manifest.json"
    manifest = json.loads(manifest_path.read_text())
    for snap in manifest["snapshots"].values():
        del snap["properties"]["maintain_index"]
    manifest_path.write_text(json.dumps(manifest))
    CrawlEngine(spark, None, str(tmp_path), upkeep, fetcher=corpus.make_fetcher(N))
