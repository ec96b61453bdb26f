"""Trace-equality tests: the distributed Spark crawl must reproduce the
sequential reference-semantics oracle exactly — per-round popped sets, final
seen set with first-enqueue depths, and per-document span sequences
(BASELINE.json north_rule / input_hint)."""

import pytest
from pyspark.sql import functions as F

from goprowl_spark import corpus
from goprowl_spark.crawl import CrawlConfig, CrawlEngine
from tests.oracle.crawler import crawl_oracle

N = 300


def make_engine(spark, tmp_path, cfg, robots=None, budget_rows=None):
    robots_df = None
    if robots is not None:
        robots_df = spark.createDataFrame(
            [(h, ps, 0) for h, ps in robots.items()],
            "host string, disallow_prefixes array<string>, crawl_delay_ms int",
        )
    budget_df = None
    if budget_rows is not None:
        budget_df = spark.createDataFrame(
            [(h, b, 0) for h, b in budget_rows.items()],
            "host string, max_fetches_per_round int, delay_ms int",
        )
    return CrawlEngine(
        spark,
        corpus.corpus_df(spark, N),
        str(tmp_path / "cat"),
        cfg,
        robots_rules=robots_df,
        host_budget=budget_df,
    )


def assert_trace_equal(engine: CrawlEngine, oracle_result):
    o_rounds, o_seen, o_docs = oracle_result
    seen = {
        r["url"]: (r["depth"], r["first_seen_round"])
        for r in engine.seen().collect()
    }
    assert seen == o_seen
    docs = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in engine.documents().collect()
    }
    assert docs == o_docs
    # crawl ordering: documents fetched per round == oracle pop rounds
    # (only 200-status pages produce documents)
    got_rounds: dict[int, list[str]] = {}
    for r in engine.documents().select("doc_id", "fetched_round").collect():
        got_rounds.setdefault(r["fetched_round"], []).append(r["doc_id"])
    for rnd, urls in got_rounds.items():
        expected = [
            u
            for u in o_rounds[rnd - 1]
            if u in o_docs and o_docs[u] is not None
        ]
        assert sorted(urls) == sorted(expected), f"round {rnd}"


def test_plain_bfs_matches_oracle(spark, tmp_path):
    seeds = [corpus.url(0)]
    cfg = CrawlConfig(seeds=seeds, max_depth=4)
    engine = make_engine(spark, tmp_path, cfg)
    engine.run()
    assert_trace_equal(engine, crawl_oracle(N, seeds, 4))


def test_budget_constrained_crawl_matches_oracle(spark, tmp_path):
    seeds = [corpus.url(0), corpus.url(5)]
    budgets = {"h0.test": 2, "h3.test": 1}
    cfg = CrawlConfig(seeds=seeds, max_depth=3, default_budget=3)
    engine = make_engine(spark, tmp_path, cfg, budget_rows=budgets)
    engine.run(max_rounds=8)
    oracle = crawl_oracle(
        N, seeds, 3, host_budget=budgets, default_budget=3, max_rounds=8
    )
    assert_trace_equal(engine, oracle)


def test_allowed_hosts_restricts_to_seed_host(spark, tmp_path):
    # reference P1: AllowedDomains = seed host (colly.go:174)
    seeds = [corpus.url(0)]  # host h0.test
    cfg = CrawlConfig(seeds=seeds, max_depth=5, allowed_hosts=["h0.test"])
    engine = make_engine(spark, tmp_path, cfg)
    engine.run()
    oracle = crawl_oracle(N, seeds, 5, allowed_hosts={"h0.test"})
    assert_trace_equal(engine, oracle)
    for r in engine.seen().collect():
        assert "h0.test" in r["url"]


def test_robots_rules_enforced(spark, tmp_path):
    seeds = [corpus.url(0)]
    robots = {"h0.test": ["/p/1"], "h4.test": ["/"]}
    cfg = CrawlConfig(seeds=seeds, max_depth=4)
    engine = make_engine(spark, tmp_path, cfg, robots=robots)
    engine.run()
    oracle = crawl_oracle(N, seeds, 4, robots=robots)
    assert_trace_equal(engine, oracle)


def test_resume_from_snapshot_is_exact(spark, tmp_path):
    """north_rule: the crawl resumes exactly from any checkpoint snapshot."""
    seeds = [corpus.url(0)]
    cfg = CrawlConfig(seeds=seeds, max_depth=4)

    full = make_engine(spark, tmp_path / "full", cfg)
    full.run()

    part = make_engine(spark, tmp_path / "part", cfg)
    part.run(max_rounds=2)
    # new engine instance over the same workdir picks up at round 2
    resumed = make_engine(spark, tmp_path / "part", cfg)
    assert resumed.current_round() == 2
    resumed.run()

    for table in ("seen", "documents", "frontier"):
        a = sorted(getattr(full, table)().toJSON().collect())
        b = sorted(getattr(resumed, table)().toJSON().collect())
        assert a == b, table


def test_metrics_lineage_per_round(spark, tmp_path):
    seeds = [corpus.url(0)]
    cfg = CrawlConfig(seeds=seeds, max_depth=3)
    engine = make_engine(spark, tmp_path, cfg)
    engine.run()
    rows = {r["round"]: r for r in engine.metrics().collect()}
    assert set(rows) == set(range(1, engine.current_round() + 1))
    m1 = rows[1]
    assert m1["frontier_size"] == 1 and m1["popped"] == 1
    # dedup_rate sane, seen cardinality monotone
    cards = [rows[r]["seen_cardinality"] for r in sorted(rows)]
    assert cards == sorted(cards)
    assert all(0.0 <= rows[r]["dedup_rate"] <= 1.0 for r in rows)


def test_prometheus_export(spark, tmp_path):
    from goprowl_spark import metrics_export, schemas

    metrics = spark.createDataFrame(
        [
            (1, 80, 40, 39, 1, 100, 70, 30, 60, 300, 0.3, 10.0, 30.0, 2.0),
            (2, 100, 50, 48, 2, 150, 120, 30, 90, 500, 0.25, 12.0, 40.0, 3.5),
        ],
        schemas.CRAWL_METRICS,
    )
    text = metrics_export.prometheus_text(metrics)
    # counters are cumulative over all rounds (monotone — rate() works)
    assert "goprowl_pages_visited_total 90" in text
    assert "goprowl_fetch_ok_total 87" in text
    # gauges are the latest round's value; the round is its own gauge
    assert "goprowl_frontier_size 100" in text
    assert "goprowl_round 2" in text
    assert "# TYPE goprowl_pages_visited_total counter" in text
    out = tmp_path / "goprowl.prom"
    metrics_export.write_textfile(metrics, str(out))
    assert out.read_text() == text


def test_crawl_maintain_index_ranked_search(spark, tmp_path):
    from goprowl_spark import corpus, ranking
    from goprowl_spark.crawl import CrawlConfig, CrawlEngine
    from goprowl_spark.engine import GoProwlSearchEngine

    n = 300
    eng = CrawlEngine(
        spark,
        None,
        str(tmp_path),
        CrawlConfig(seeds=[corpus.url(0)], max_depth=2, maintain_index=True),
        fetcher=corpus.make_fetcher(n),
    )
    eng.run()

    def assert_index_matches_documents():
        # the maintained index must equal a from-scratch rebuild
        search = GoProwlSearchEngine(spark, str(tmp_path))
        maintained = {
            (r["term"], r["doc_id"], r["tf"])
            for r in search.store.postings().collect()
        }
        rebuilt = {
            (r["term"], r["doc_id"], r["tf"])
            for r in ranking.build_postings(eng.documents()).collect()
        }
        assert maintained == rebuilt and maintained
        stats = {tuple(r) for r in search.store.doc_stats().collect()}
        stats_rebuilt = {
            tuple(r) for r in ranking.build_doc_stats(eng.documents()).collect()
        }
        assert stats == stats_rebuilt
        return search

    search = assert_index_matches_documents()
    top = search.search_ranked("alpha", scorer="bm25", k=5).collect()
    assert top and all(r["score"] > 0 for r in top)

    # expiry keeps the maintained index in step with documents
    docs = sorted(eng.documents().select("doc_id", "title").collect())
    (forget, forget_title), (refetch, refetch_title) = docs[0], docs[1]
    query = f"{forget_title} {refetch_title}"
    hits = {r["doc_id"] for r in search.search_ranked(query, k=n).collect()}
    assert {forget, refetch} <= hits
    assert eng.expire_urls([forget]) == 1
    assert eng.expire_urls([refetch], reenqueue=True) == 1
    search = assert_index_matches_documents()
    hits = {r["doc_id"] for r in search.search_ranked(query, k=n).collect()}
    assert hits and not hits & {forget, refetch}


def test_parse_robots_txt_groups(spark):
    """UA grouping, comments, empty Disallow, values containing ':',
    non-star groups excluded — the parser feeds apply_robots' rules table."""
    from goprowl_spark.politeness import parse_robots_txt

    body = (
        "User-agent: bot\nDisallow: /secret\n\n"
        "User-agent: x\nUser-agent: *\nDisallow: /tmp\n"
        "Disallow: /a:b # comment\nAllow: /ok\nDisallow:\n\n"
        "User-agent: other\nDisallow: /other"
    )
    rows = parse_robots_txt(
        spark.createDataFrame([("h1.test", body), ("h2.test", "Disallow: /lost")],
                              ["host", "body"])
    ).collect()
    got = {
        r["host"]: sorted((x["prefix"], x["allow"]) for x in r["rules"])
        for r in rows
    }
    # h1: only the *'d group's non-empty rules; h2: no UA group at all
    assert got == {"h1.test": [("/a:b", False), ("/ok", True), ("/tmp", False)]}


def test_parse_robots_txt_ua_selection_and_delay(spark):
    """RFC 9309 group selection: a host with a group for OUR agent uses
    only that group; others fall back to *; Crawl-delay surfaces per host."""
    from goprowl_spark.politeness import parse_robots_txt

    b1 = (
        "User-agent: GoProwl\nDisallow: /only-goprowl\nCrawl-delay: 7\n\n"
        "User-agent: *\nDisallow: /star"
    )
    b2 = "User-agent: *\nDisallow: /star2\nCrawl-delay: 1.5"
    rows = parse_robots_txt(
        spark.createDataFrame([("h1.test", b1), ("h2.test", b2)], ["host", "body"]),
        user_agent="goprowl",
    ).collect()
    got = {
        r["host"]: (
            sorted((x["prefix"], x["allow"]) for x in r["rules"]),
            r["crawl_delay"],
        )
        for r in rows
    }
    assert got == {
        "h1.test": ([("/only-goprowl", False)], 7.0),
        "h2.test": ([("/star2", False)], 1.5),
    }


def test_robots_allow_carveout_enforced(spark, tmp_path):
    """Full REP grammar end-to-end: an Allow carve-out under a broader
    Disallow (longest-match precedence) plus a $-anchored Disallow, parsed
    from a raw robots.txt body into the rules table, must reproduce the
    sequential oracle's REP matcher decision for every candidate."""
    from goprowl_spark.politeness import parse_robots_txt

    seeds = [corpus.url(0)]
    body = "User-agent: *\nDisallow: /p/1\nAllow: /p/12\nDisallow: /p/3$\n"
    robots_df = parse_robots_txt(
        spark.createDataFrame([("h0.test", body)], ["host", "body"])
    )
    cfg = CrawlConfig(seeds=seeds, max_depth=4)
    engine = CrawlEngine(
        spark,
        corpus.corpus_df(spark, N),
        str(tmp_path / "cat"),
        cfg,
        robots_rules=robots_df,
    )
    engine.run()
    rules = [("/p/1", False), ("/p/12", True), ("/p/3$", False)]
    oracle = crawl_oracle(N, seeds, 4, robots={"h0.test": rules})
    assert_trace_equal(engine, oracle)


def test_crawl_delay_derives_host_budget(spark, tmp_path):
    """Crawl-delay closes the loop to fetch pacing (reference: colly
    LimitRule Delay, colly.go:201-207): with round_seconds=30 a host
    declaring ``Crawl-delay: 10`` absorbs at most 3 fetches per round —
    verified by trace equality against the oracle run with the equivalent
    per-host budget, plus a direct per-round cap check on the throttled
    host."""
    from goprowl_spark.politeness import parse_robots_txt

    seeds = [corpus.url(0), corpus.url(5)]
    body = "User-agent: *\nCrawl-delay: 10\n"
    robots_df = parse_robots_txt(
        spark.createDataFrame([("h0.test", body)], ["host", "body"])
    )
    cfg = CrawlConfig(seeds=seeds, max_depth=3, round_seconds=30.0)
    engine = CrawlEngine(
        spark,
        corpus.corpus_df(spark, N),
        str(tmp_path / "cat"),
        cfg,
        robots_rules=robots_df,
    )
    engine.run(max_rounds=10)
    oracle = crawl_oracle(
        N, seeds, 3, host_budget={"h0.test": 3}, max_rounds=10
    )
    assert_trace_equal(engine, oracle)

    # the throttled host really is capped at 3 fetches/round, and the cap
    # binds (some round fetches exactly 3 h0 pages while h0 URLs remain)
    per_round: dict[int, int] = {}
    for r in engine.documents().select("doc_id", "fetched_round").collect():
        if "h0.test" in r["doc_id"]:
            per_round[r["fetched_round"]] = (
                per_round.get(r["fetched_round"], 0) + 1
            )
    assert per_round and max(per_round.values()) <= 3
    assert 3 in per_round.values()
    # other hosts are NOT throttled: some round fetches >3 of one host
    other: dict[tuple[int, str], int] = {}
    from urllib.parse import urlsplit
    for r in engine.documents().select("doc_id", "fetched_round").collect():
        h = urlsplit(r["doc_id"]).hostname
        if h != "h0.test":
            other[(r["fetched_round"], h)] = other.get((r["fetched_round"], h), 0) + 1
    assert max(other.values(), default=0) > 3


def test_budget_from_crawl_delay_units(spark):
    """floor(round_seconds/delay), floored at 1; null/zero delays get no
    row; merge takes the most restrictive bound per host."""
    from goprowl_spark.politeness import (
        budget_from_crawl_delay,
        merge_host_budgets,
    )

    robots = spark.createDataFrame(
        [("a", 10.0), ("b", 0.5), ("c", 120.0), ("d", None), ("e", 0.0)],
        "host string, crawl_delay double",
    )
    derived = budget_from_crawl_delay(robots, 30.0)
    got = {
        r["host"]: r["max_fetches_per_round"] for r in derived.collect()
    }
    assert got == {"a": 3, "b": 60, "c": 1}
    explicit = spark.createDataFrame(
        [("a", 1), ("z", 7)], "host string, max_fetches_per_round int"
    )
    merged = {
        r["host"]: r["max_fetches_per_round"]
        for r in merge_host_budgets(explicit, derived).collect()
    }
    assert merged == {"a": 1, "b": 60, "c": 1, "z": 7}


def test_cuckoo_backend_trace_equal(spark, tmp_path):
    """The full BFS crawl on the cuckoo seen-filter backend must produce
    the exact oracle trace — same rounds, same seen set, same spans — as
    the Bloom backend does (the filter only prunes the probe side; a
    backend can only change performance, never output)."""
    seeds = [corpus.url(0)]
    cfg = CrawlConfig(seeds=seeds, max_depth=4, filter_kind="cuckoo")
    engine = make_engine(spark, tmp_path, cfg)
    engine.run()
    assert_trace_equal(engine, crawl_oracle(N, seeds, 4))


@pytest.mark.parametrize("kind", ["cuckoo", "bloom"])
def test_seen_bloom_keeps_one_live_row_per_bucket(spark, tmp_path, kind):
    """A round upserts its touched filter shards through the catalog's
    delete log: at every snapshot of a ten-round budgeted crawl a load
    holds exactly one row per bucket that has members, the entry stays
    within MAX_DELTAS, and the catalog's bound first replaces the table at
    round 8 (start leaves one directory, each round adds a data and a
    delete delta), the cadence of the crawl's old every-8-rounds rewrite."""
    from goprowl_spark import tables

    seeds = [corpus.url(0)]
    cfg = CrawlConfig(seeds=seeds, max_depth=3, default_budget=1, filter_kind=kind)
    engine = make_engine(spark, tmp_path, cfg)
    engine.run()
    assert_trace_equal(engine, crawl_oracle(N, seeds, 3, default_budget=1))
    cat = engine.catalog
    assert cat.snapshot_ids() == list(range(11))
    dirs = []
    for sid in cat.snapshot_ids():
        buckets = [r["bucket"] for r in cat.load("seen_bloom", sid).select("bucket").collect()]
        members = {r["url_hash"] % cfg.n_buckets for r in cat.load("seen", sid).collect()}
        assert sorted(buckets) == sorted(members), sid
        n, _ = cat.delta_counts("seen_bloom", sid)
        assert n <= tables.MAX_DELTAS, sid
        dirs.append(n)
    assert dirs == [1, 3, 5, 7, 9, 11, 13, 15, 1, 3, 5]


@pytest.mark.parametrize("kind", ["cuckoo", "bloom"])
def test_expire_forced_refetch(spark, tmp_path, kind):
    """reenqueue=True: the stale document drops, the url refetches next
    round with identical spans, and the seen set (depths, rounds) is
    untouched — the filter never has to change."""
    seeds = [corpus.url(0)]
    cfg = CrawlConfig(seeds=seeds, max_depth=3, filter_kind=kind)
    engine = make_engine(spark, tmp_path / kind, cfg)
    engine.run()
    r_done = engine.current_round()
    seen_before = {tuple(r) for r in engine.seen().collect()}
    docs = {r["doc_id"]: r for r in engine.documents().collect()}
    x = sorted(u for u, row in docs.items() if row["fetched_depth"] == 1)[0]
    old_spans = [tuple(s) for s in docs[x]["spans"]]

    assert engine.expire_urls([x], reenqueue=True) == 1
    assert engine.documents().where(F.col("doc_id") == x).count() == 0
    # expiring an unknown url is a no-op
    assert engine.expire_urls(["https://nowhere.test/"]) == 0

    engine.run()
    assert engine.current_round() == r_done + 1
    row = engine.documents().where(F.col("doc_id") == x).collect()[0]
    assert [tuple(s) for s in row["spans"]] == old_spans
    assert row["fetched_round"] == r_done + 1
    # seen set identical: refetch must not re-admit x's already-seen links
    assert {tuple(r) for r in engine.seen().collect()} == seen_before
    # every other document kept its original fetch round
    others = engine.documents().where(F.col("doc_id") != x)
    assert others.where(F.col("fetched_round") > r_done).count() == 0


@pytest.mark.parametrize("kind", ["cuckoo", "bloom"])
def test_expire_forget_organic_rediscovery(spark, tmp_path, kind):
    """reenqueue=False: the url vanishes from seen, documents AND the
    seen filter (its touched shards rebuilt from the surviving seen rows),
    so when its parent refetches, the link is rediscovered as a brand-new
    candidate and recrawled organically."""
    from goprowl_spark import schemas, seen_filter

    seeds = [corpus.url(0)]
    cfg = CrawlConfig(seeds=seeds, max_depth=3, filter_kind=kind)
    engine = make_engine(spark, tmp_path / kind, cfg)
    engine.run()
    r_done = engine.current_round()
    docs = {r["doc_id"]: r for r in engine.documents().collect()}
    x = sorted(u for u, row in docs.items() if row["fetched_depth"] == 1)[0]
    old_spans = [tuple(s) for s in docs[x]["spans"]]

    assert engine.expire_urls([x]) == 1
    assert engine.seen().where(F.col("url") == x).count() == 0
    assert engine.documents().where(F.col("doc_id") == x).count() == 0
    # the filter genuinely forgot x: a direct probe answers unseen
    # (both kinds rebuild x's shard from surviving seen — x's bits may
    # survive via collisions on bloom, so only assert there when the
    # probe CAN be definitive)
    xdf = engine.seen().sparkSession.createDataFrame([(x,)], "url string").select(
        "url", F.xxhash64("url").alias("url_hash")
    )
    blobs = engine._load("seen_bloom", schemas.SEEN_BLOOM)
    if kind == "cuckoo":
        probe = seen_filter.probe_blooms(xdf, blobs, kind="cuckoo")
        assert probe.collect()[0]["maybe_seen"] is False

    # refetch the parent: x is rediscovered as a new candidate
    assert engine.expire_urls([corpus.url(0)], reenqueue=True) == 1
    engine.run()
    row = engine.seen().where(F.col("url") == x).collect()[0]
    assert row["first_seen_round"] == r_done + 1  # rediscovered
    assert row["depth"] == 1
    doc = engine.documents().where(F.col("doc_id") == x).collect()[0]
    assert doc["fetched_round"] == r_done + 2  # fetched the round after
    assert [tuple(s) for s in doc["spans"]] == old_spans


def test_priority_fn_drives_budgeted_pop_order(spark, tmp_path):
    """A custom discovery-time priority (here: prefer LEXICALLY LARGEST
    url per host — the reverse of the BFS tie-break) changes which urls a
    budgeted pop selects each round; the engine must match the oracle
    under the same function, proving W2's order is driven by data."""

    # a pure function both sides express identically: priority = page
    # index mod 7, extracted from the url's trailing integer
    def spark_prio2(url, host, depth):
        idx = F.regexp_extract(url, r"/p/(\d+)$", 1).cast("long")
        return (idx % 7).cast("double")

    def py_prio2(url, host, depth):
        import re

        idx = int(re.search(r"/p/(\d+)$", url).group(1))
        return float(idx % 7)

    seeds = [corpus.url(0)]
    cfg = CrawlConfig(
        seeds=seeds, max_depth=3, default_budget=2, priority_fn=spark_prio2
    )
    engine = make_engine(spark, tmp_path, cfg)
    engine.run(max_rounds=8)
    oracle = crawl_oracle(
        N, seeds, 3, default_budget=2, max_rounds=8, priority_fn=py_prio2
    )
    assert_trace_equal(engine, oracle)
    # sanity: the custom priority actually changed the trace vs BFS default
    bfs = crawl_oracle(N, seeds, 3, default_budget=2, max_rounds=8)
    assert oracle[0] != bfs[0], "priority function had no observable effect"


@pytest.mark.parametrize("kind", ["cuckoo", "bloom"])
@pytest.mark.parametrize("bound", ["log", "compact"])
def test_expire_mid_crawl_keeps_frontier_consistent(
    spark, tmp_path, monkeypatch, kind, bound
):
    """Expiring a url that is still FRONTIER-RESIDENT (mid-crawl) must
    drop its frontier row too: forget mode would otherwise pop an unseen
    url (duplicate doc_id after organic rediscovery), and reenqueue mode
    would pop the url twice in one unbudgeted round. Holds both when the
    expiry logs delete deltas and when full logs make it rewrite the
    tables instead."""
    from goprowl_spark import tables

    if bound == "compact":
        monkeypatch.setattr(tables, "MAX_DELTAS", 1)
    seeds = [corpus.url(0)]
    cfg = CrawlConfig(seeds=seeds, max_depth=3, filter_kind=kind)
    engine = make_engine(spark, tmp_path / kind, cfg)
    engine.start()
    engine.crawl_round()  # frontier now holds the depth-1 discoveries
    frontier_urls = sorted(r["url"] for r in engine.frontier().collect())
    assert len(frontier_urls) >= 2
    x, y = frontier_urls[0], frontier_urls[1]

    # forget a frontier-resident url: leaves BOTH seen and frontier
    assert engine.expire_urls([x]) == 1
    assert engine.frontier().where(F.col("url") == x).count() == 0
    assert engine.seen().where(F.col("url") == x).count() == 0

    # reenqueue a frontier-resident url: exactly ONE frontier row survives
    assert engine.expire_urls([y], reenqueue=True) == 1
    assert engine.frontier().where(F.col("url") == y).count() == 1

    engine.run()
    docs = engine.documents()
    assert docs.count() == docs.select("doc_id").distinct().count()
    # every document's url is in the seen set (frontier ⊆ seen held)
    missing = docs.join(engine.seen(), docs["doc_id"] == F.col("url"), "left_anti")
    assert missing.count() == 0


@pytest.mark.parametrize("kind", ["cuckoo", "bloom"])
def test_expire_urls_writes_track_the_keys(spark, tmp_path, kind):
    """Within the delete log's bounds an expiry rewrites no table: in both
    modes documents, postings and doc_stats keep their data directories
    and gain one delete delta holding the expired doc_id; seen gains one
    holding the url in forget mode only, and seen_bloom one holding the
    url's bucket, with the bucket's rebuilt shard appended; a requeue
    appends its frontier row and deletes its key in the same commit."""
    import pyarrow.parquet as pq

    cfg = CrawlConfig(
        seeds=[corpus.url(0)], max_depth=3, filter_kind=kind, maintain_index=True
    )
    engine = make_engine(spark, tmp_path, cfg)
    engine.run()
    docs = sorted(r["doc_id"] for r in engine.documents().collect())
    names = ("documents", "postings", "doc_stats", "seen", "frontier", "seen_bloom")
    bucket = {r["url"]: r["url_hash"] % cfg.n_buckets for r in engine.seen().collect()}

    def entries():
        return {n: engine.catalog._entry(n, None)[1] for n in names}

    for reenqueue, x in ((False, docs[0]), (True, docs[1])):
        before = entries()
        assert engine.expire_urls([x], reenqueue=reenqueue) == 1
        after = entries()
        logged = {"documents", "postings", "doc_stats"}
        logged |= {"frontier"} if reenqueue else {"seen", "seen_bloom"}
        for name in names:
            old, new = before[name], after[name]
            grew = name == ("frontier" if reenqueue else "seen_bloom")
            assert new["paths"][: len(old["paths"])] == old["paths"], name
            assert len(new["paths"]) == len(old["paths"]) + grew, name
            assert new["deletes"][: len(old["deletes"])] == old["deletes"], name
            assert len(new["deletes"]) == len(old["deletes"]) + (name in logged), name
            if name in logged:
                keys = pq.read_table(new["deletes"][-1]).column(0).to_pylist()
                assert keys == [bucket[x] if name == "seen_bloom" else x], name
    assert engine.frontier().where(F.col("url") == docs[1]).count() == 1
    assert engine.seen().where(F.col("url") == docs[0]).count() == 0


def test_round_jobs_all_carry_the_callers_job_group(spark, tmp_path):
    """Every Spark job a round starts, including the tail writes run on
    worker threads, carries the job group set by the caller's thread."""
    cfg = CrawlConfig(
        seeds=[corpus.url(0), corpus.url(5)],
        max_depth=3,
        default_budget=3,
        filter_kind="cuckoo",
        maintain_index=True,
    )
    engine = make_engine(spark, tmp_path, cfg)
    engine.start()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("crawl-round-under-test", "one crawl round")
    try:
        assert engine.crawl_round()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup("crawl-round-under-test")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


@pytest.mark.parametrize(
    "field, value",
    [
        ("filter_kind", "none"),
        ("n_buckets", 0),
        ("n_buckets", -64),
        ("salt", 0),
        ("bits_per_bucket", 12),
        ("bits_per_bucket", 0),
        ("cuckoo_inner_buckets", 12000),
        ("cuckoo_inner_buckets", 0),
    ],
)
def test_config_rejects_invalid_values(field, value):
    """Bad values fail at construction, not inside a Python worker in the
    middle of a round (bits_per_bucket=12 and cuckoo_inner_buckets=12000
    used to raise IndexError there)."""
    with pytest.raises(ValueError, match=field):
        CrawlConfig(seeds=[corpus.url(0)], **{field: value})
