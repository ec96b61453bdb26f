"""The crawl engine: each BFS round is one declarative DataFrame job.

Reference lifecycle being rebuilt (SURVEY.md §3.1): colly's callback-driven
async BFS (search/crawlers/colly.go:121-260) — seed visit, per-page
``OnHTML`` parse, per-link enqueue with visited-set dedup and depth cap —
becomes an iterative round loop:

    frontier snapshot
      → pop batch        (per-host politeness top-k, host-salted, W1/W2)
      → robots filter    (broadcast join, J2/P5)
      → fetch → spans    (fetcher: one Arrow pass per batch — HTTP in
                          production, or a page-table join — S1/S4)
      → explode links    (S3) → candidates at depth+1 (P2)
      → seen-filter probe + exact anti-join vs seen (P4/J1/U7)
      → commit snapshot: documents ∪ new, seen ∪ new, frontier rewritten,
        per-round metrics row (S5/S6/S12)

Every ordering is defined by data (priority, depth, url tie-breaks), never
by execution order, so the distributed crawl reproduces the sequential
reference trace exactly and resumes from any snapshot (north_rule).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from goprowl_spark import schemas, seen_filter
from goprowl_spark import tables as tables_mod
from goprowl_spark.parse import extract_links, with_document_columns
from goprowl_spark.politeness import apply_robots, pop_batch
from goprowl_spark.session import local_df
from goprowl_spark.tables import SnapshotCatalog

# Driver-side broadcast bound, in rows: the exact dedup's maybe-seen set,
# the budgeted frontier's popped urls and a page table's fetch batch
# (corpus.table_fetcher) broadcast only at or below it; larger sets fall
# back to a shuffle join — at 10^10 scale use politeness budgets to bound
# batches.
BROADCAST_POP_LIMIT = 2_000_000


@dataclass
class CrawlConfig:
    seeds: list[str]
    max_depth: int = 3  # reference default: internal/app/module.go:14
    allowed_hosts: list[str] | None = None  # None = all; reference P1: colly.go:174
    default_budget: int | None = None  # None = unlimited (plain BFS)
    # seen-filter kind: "bloom" (bit-array blobs) or "cuckoo" (fingerprint
    # tables, same shard/delta contract); crawl traces are identical
    # either way.
    # A workdir keeps its kind and shard count for life: every commit
    # records both and CrawlEngine refuses to resume with others.
    filter_kind: str = "bloom"
    n_buckets: int = seen_filter.DEFAULT_N_BUCKETS
    # fresh-shard geometry: bits per Bloom shard (a multiple of 8) and
    # inner buckets per cuckoo shard (a power of two). A stored blob
    # carries its own geometry, so changing either on resume only sizes
    # the shards created from then on. Size cuckoo shards for the expected
    # crawl scale — seen_filter.cuckoo_inner_buckets_for(expected_urls) —
    # the way a production deployment provisions any sketch. Undersized
    # shards auto-grow their slot cap in place (bounded, membership-
    # preserving; see seen_filter._cuckoo_grow), so this knob is FPR/
    # throughput tuning, never correctness.
    bits_per_bucket: int = seen_filter.DEFAULT_BITS_PER_BUCKET
    cuckoo_inner_buckets: int = seen_filter.CUCKOO_INNER_BUCKETS
    salt: int = 16
    # frontier priority at discovery time: a Column expression over
    # (url, host, depth) Columns — e.g. a PageRank/host-reputation score —
    # consumed by the budgeted pop's (priority desc, depth, url) order
    # (W2). None = the BFS default, -depth. Priorities are DATA, so crawl
    # ordering stays deterministic and trace-testable under any function.
    priority_fn: "Callable[[Column, Column, Column], Column] | None" = None
    # Crawl-delay → budget derivation: when set, a robots_rules table that
    # carries a crawl_delay column (parse_robots_txt output) yields per-host
    # budgets of floor(round_seconds / crawl_delay) fetches per round — the
    # deterministic batch form of colly's LimitRule Delay pacing
    # (search/crawlers/colly.go:201-207). None = delays parsed but unused.
    round_seconds: float | None = None
    # index crawled pages on write (the reference indexes every page into
    # bleve via the storage adapter): appends per-round postings/doc_stats
    # deltas tokenized from ONLY the round's new docs — dedup guarantees
    # doc_ids never repeat, so appends need no merge. Off by default: the
    # pure-crawl benchmark shouldn't pay for a feature the query side owns.
    maintain_index: bool = False

    def __post_init__(self):
        """Reject values that would otherwise fail inside a Python worker
        mid-round (or divide a pmod by zero)."""
        nb = self.cuckoo_inner_buckets
        checks = [
            (self.filter_kind in ("bloom", "cuckoo"),
             f"unknown filter_kind {self.filter_kind!r}"),
            (self.n_buckets > 0, "n_buckets must be positive"),
            (self.salt > 0, "salt must be positive"),
            (self.bits_per_bucket > 0 and self.bits_per_bucket % 8 == 0,
             "bits_per_bucket must be a positive multiple of 8"),
            (nb > 0 and nb & (nb - 1) == 0,
             "cuckoo_inner_buckets must be a power of two"),
        ]
        for ok, msg in checks:
            if not ok:
                raise ValueError(msg)


class CrawlEngine:
    """Round-loop driver (reference: CollyCrawler.CrawlWithHandler,
    colly.go:121-260; the Crawler interface U3, types.go:9-14)."""

    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame | None,
        workdir: str,
        config: CrawlConfig,
        robots_rules: DataFrame | None = None,
        host_budget: DataFrame | None = None,
        fetcher=None,
        page_handler=None,
    ):
        """``fetcher``: ``fetch(batch, max_urls)`` → fetched rows, one per
        URL it attempted (``parse.url_fetcher`` shape: HTTP or synthetic,
        work proportional to the batch). ``corpus``: a page table
        (web-archive shape), crawled through ``corpus.table_fetcher``; a
        given ``fetcher`` wins.
        ``page_handler``: optional documents-DataFrame→DataFrame transform
        applied to each round's parsed docs before commit — the PageHandler
        callback (U1, reference: search/crawlers/types.go:49, wired
        cmd/crawl.go:113) as a declarative per-round stage."""
        if corpus is None and fetcher is None:
            raise ValueError("need a corpus table or a fetcher")
        if fetcher is None:
            from goprowl_spark.corpus import table_fetcher

            fetcher = table_fetcher(corpus)
        self.spark = spark
        self.catalog = SnapshotCatalog(spark, workdir)
        self.config = config
        # Crash-recovery / resume guard. The seen_bloom blobs are encoded by
        # whichever kernel wrote them, and the kernels cannot read each
        # other's payloads — a bloom probe over a cuckoo blob yields SILENT
        # false negatives (re-admitting already-seen URLs under duplicate
        # doc_ids); a cuckoo decode of a bloom blob reads garbage geometry.
        # A url's shard is pmod(url_hash, n_buckets), so a different shard
        # count probes most urls against the wrong shard — the same silent
        # false negatives. Index upkeep switched on mid-crawl would index
        # only the later rounds' documents, and the engine would serve that
        # partial index as if whole. Every commit records all three in the
        # snapshot properties; attaching an engine that differs must fail
        # HERE, not mid-crawl. (A workdir written before a property was
        # recorded is not checked for it.)
        if self.catalog.latest() is not None:
            props = self.catalog.properties()
            for key, want in self._filter_props().items():
                stored = props.get(key)
                if stored is not None and stored != want:
                    raise ValueError(
                        f"workdir {workdir!r} was crawled with "
                        f"{key}={stored!r}; this engine is configured for "
                        f"{want!r} — {key} is fixed for the life of a workdir"
                    )
        # The caller's robots and budget tables are broadcast into every
        # round; materialize each once per engine so a round does not
        # re-run the caller's plan (a PythonRDD built from a Python list
        # costs ~0.35 s of JVM + ~0.9 s of Python-worker CPU per scan on a
        # 4-core box).
        if robots_rules is not None:
            robots_rules = robots_rules.localCheckpoint()
        self.robots_rules = robots_rules
        if (
            config.round_seconds is not None
            and robots_rules is not None
            and "crawl_delay" in robots_rules.columns
        ):
            from goprowl_spark import politeness

            delay_budget = politeness.budget_from_crawl_delay(
                robots_rules, config.round_seconds
            )
            host_budget = (
                delay_budget
                if host_budget is None
                else politeness.merge_host_budgets(host_budget, delay_budget)
            )
        self.host_budget = (
            None if host_budget is None else host_budget.localCheckpoint()
        )
        self.fetcher = fetcher
        self.page_handler = page_handler

    # ------------------------------------------------------------ state

    def _filter_props(self) -> dict:
        """The settings a workdir keeps for life — the seen filter's kind
        and shard count, and index upkeep — recorded in every commit's
        snapshot properties."""
        return {
            "filter_kind": self.config.filter_kind,
            "n_buckets": self.config.n_buckets,
            "maintain_index": self.config.maintain_index,
        }

    def _fresh_filter(self, members: DataFrame, gen: int) -> DataFrame:
        """Seen-filter shards built from scratch over ``members``, in the
        configured kind and fresh-shard geometry."""
        cfg = self.config
        return seen_filter.update_blooms(
            local_df(self.spark, [], schemas.SEEN_BLOOM),
            members,
            cfg.n_buckets,
            cfg.bits_per_bucket,
            gen=gen,
            kind=cfg.filter_kind,
            inner_buckets=cfg.cuckoo_inner_buckets,
        )

    def _priority(self) -> Column:
        """Discovery-time frontier priority over the url/host/depth columns
        (W2): ``priority_fn``, or -depth for plain BFS."""
        fn = self.config.priority_fn
        prio = (
            fn(F.col("url"), F.col("host"), F.col("depth"))
            if fn is not None
            else -F.col("depth")
        )
        return prio.cast("double")

    def _load(self, name: str, schema) -> DataFrame:
        return self.catalog.load(name, schema=schema)

    def frontier(self) -> DataFrame:
        return self._load("frontier", schemas.FRONTIER)

    def seen(self) -> DataFrame:
        return self._load("seen", schemas.SEEN)

    def documents(self) -> DataFrame:
        return self._load("documents", schemas.DOCUMENTS)

    def metrics(self) -> DataFrame:
        return self._load("crawl_metrics", schemas.CRAWL_METRICS)

    def lineage(self) -> DataFrame:
        return self._load("partition_lineage", schemas.PARTITION_LINEAGE)

    def current_round(self) -> int:
        return int(self.catalog.properties().get("round", 0))

    # ------------------------------------------------------------ lifecycle

    def start(self) -> int:
        """Initialize snapshot 0: seeds become the frontier and the initial
        seen set (reference seed injection S2: colly.go:108-118). Both
        logical tables are projections of ONE physical seed delta."""
        delta = local_df(
            self.spark, [(u,) for u in self.config.seeds], "url string"
        ).select(
            "url",
            F.xxhash64("url").alias("url_hash"),
            F.parse_url("url", F.lit("HOST")).alias("host"),
            F.lit(0).alias("depth"),
            F.lit(0.0).alias("priority"),
            F.lit(0).alias("discovered_round"),
            F.lit(0).alias("first_seen_round"),
        )
        sid = self.catalog.next_sid()
        delta_path = self.catalog.stage_path(sid, "crawl_delta")
        delta.write.mode("overwrite").parquet(delta_path)
        tables = {
            "frontier": delta_path,
            "seen": delta_path,
            "documents": local_df(self.spark, [], schemas.DOCUMENTS),
            "crawl_metrics": local_df(self.spark, [], schemas.CRAWL_METRICS),
            "seen_bloom": self._fresh_filter(delta, gen=0),
        }
        return self.catalog.commit(
            tables,
            projections={
                "seen": schemas.SEEN.fieldNames(),
                "frontier": schemas.FRONTIER.fieldNames(),
            },
            properties={
                "round": 0,
                "seen_count": len(self.config.seeds),
                "frontier_count": len(self.config.seeds),
                **self._filter_props(),
            },
            sid=sid,
        )

    def run(self, max_rounds: int | None = None) -> dict:
        """Advance rounds until the frontier drains (collector.Wait analog,
        colly.go:218-257 — minus the wall-clock timeouts, which have no
        place in a resumable batch crawl)."""
        if self.catalog.latest() is None:
            self.start()
        rounds = 0
        while max_rounds is None or rounds < max_rounds:
            if not self.crawl_round():
                break
            rounds += 1
        return {
            "rounds": self.current_round(),
            "snapshot": self.catalog.latest(),
        }

    def expire_urls(self, urls: list[str], reenqueue: bool = False) -> int:
        """Recrawl/expiry — the content-aged-out path the reference lacks
        entirely (its only reset is Clear, S11: bleve/storage.go:279-299,
        which drops everything). Two modes:

        * ``reenqueue=False`` (forget): remove the urls from the seen set,
          their rows from documents (and the maintained index), and their
          entries from the seen FILTER, so organic re-discovery crawls
          them again. The filter edit rebuilds ONLY the touched shards
          from the surviving seen rows — exact for both filter kinds (a
          cuckoo fingerprint delete is not: keys sharing a fingerprint
          and a bucket share one entry), and bounded by the touched
          shards' membership (seen/n_buckets rows per shard), never the
          whole filter.
        * ``reenqueue=True`` (forced refetch): drop the stale document
          rows and push the urls back into the frontier at their original
          depth. Seen set and filter stay intact — the frontier ⊆ seen
          invariant holds, and a pop never consults the seen set, so the
          refetch happens next round without re-admitting the urls'
          already-seen links.

        Rows leave through ``SnapshotCatalog.remove``, as the document
        store's do: one ``doc_id`` key file for documents, postings and
        doc_stats, one ``url`` key file for seen and frontier and, in
        forget mode, one ``bucket`` key file for seen_bloom, written on
        the driver and committed as delete deltas, so the write tracks the
        expired keys and their shards, not the corpus. The rebuilt shards
        and a requeue's frontier rows are appended in the same commit as
        their keys' delete, which keeps them live (the store's upsert
        rule). A table whose log is full is compacted instead.

        Commits one snapshot; returns the number of urls actually expired.
        """
        cfg = self.config
        if self.catalog.latest() is None:
            raise ValueError("expire_urls before start(): nothing is seen yet")
        props = self.catalog.properties()
        r = int(props.get("round", 0))
        urls_df = F.broadcast(
            local_df(self.spark, [(u,) for u in urls], "url string").distinct()
        )
        seen = self.seen()
        expired = seen.join(urls_df, "url", "inner").persist()
        gone = expired.select("url", "url_hash").collect()
        if not gone:
            expired.unpersist()
            return 0
        # the urls may still be frontier-resident (mid-crawl expiry): both
        # modes must drop those rows — forget to preserve frontier ⊆ seen
        # (a popped-but-unseen url would re-document under the same
        # doc_id), reenqueue to avoid a second frontier row popping the
        # url twice in one unbudgeted round
        n_in_frontier = self.frontier().join(urls_df, "url", "left_semi").count()

        sid = self.catalog.next_sid()
        keys = [row["url"] for row in gone]
        # an index table is absent until the first round writes one
        index = [n for n in ("documents", "postings", "doc_stats") if self.catalog.has_table(n)]
        plans = [self.catalog.remove(sid, index, schemas.DOC_ID_KEY, keys)] if index else []
        n_frontier = int(props.get("frontier_count", 0))
        seen_count = int(props.get("seen_count", 0))
        if reenqueue:
            # the requeued rows carry the round delta's columns, as every
            # other row under the frontier's projection does
            requeued = expired.withColumn("host", F.parse_url("url", F.lit("HOST"))).select(
                "url", "url_hash", "host", "depth", self._priority().alias("priority"),
                F.lit(r).alias("discovered_round"), "first_seen_round",
            )
            plans.append(
                self.catalog.remove(
                    sid, ["frontier"], schemas.URL_KEY, keys, rows={"frontier": requeued}
                )
            )
            n_frontier += len(gone) - n_in_frontier
        else:
            names = ["seen", "frontier"] if n_in_frontier else ["seen"]
            plans.append(self.catalog.remove(sid, names, schemas.URL_KEY, keys))
            # Rebuild ONLY the touched shards from the surviving seen rows
            # (exact for both kinds: a Bloom bit can never be cleared) and
            # upsert them by bucket. A shard whose members all expired has
            # no rebuilt row: its key alone deletes it, so probes there
            # answer definitively unseen.
            touched = sorted({row["url_hash"] % cfg.n_buckets for row in gone})
            surviving_touched = seen.join(urls_df, "url", "left_anti").join(
                F.broadcast(local_df(self.spark, [(b,) for b in touched], schemas.BUCKET_KEY)),
                seen_filter.shard_of(cfg.n_buckets) == F.col("bucket"),
                "left_semi",
            )
            rebuilt = self._fresh_filter(surviving_touched, gen=r)
            plans.append(
                self.catalog.remove(
                    sid, ["seen_bloom"], schemas.BUCKET_KEY, touched, rows={"seen_bloom": rebuilt}
                )
            )
            n_frontier -= n_in_frontier
            seen_count -= len(gone)
        parts = ("tables", "appends", "deletes")
        self.catalog.commit(
            **{k: {n: v for p in plans for n, v in p[k].items()} for k in parts},
            properties={
                "round": r,
                "seen_count": seen_count,
                "frontier_count": n_frontier,
                **self._filter_props(),
            },
            sid=sid,
        )
        expired.unpersist()
        return len(gone)

    # ------------------------------------------------------------ one round

    def crawl_round(self) -> bool:
        """One crawl round in six job waves, each a table write with
        Observation-attached counters (no standalone count jobs):

          1. documents  — fetch → parse → append write (pages are parsed
                          where they are fetched and only spans reach
                          parquet; nothing page-sized is ever cached or
                          shuffled)
          2. round delta — links ← stored docs (columnar spans read) →
                          candidates → Bloom+anti-join dedup → ONE write
                          carrying the seen∪frontier superset schema; the
                          manifest projects both logical tables out of it
          3. frontier   — only under budgets: remainder ∪ new entries
                          (unbudgeted BFS needs no write at all — the
                          frontier IS the round delta)
          4. seen_bloom — the touched shards, upserted by bucket through
                          the catalog's delete log (the whole table only
                          when the log is full), produced by the SAME
                          fused cogroup pass as the probe — no second
                          Python/Arrow pass
          5. lineage    — per-partition row counters (north_star)
          6. metrics    — the round's counter row (from the observations)

        then one atomic manifest swing (Iceberg-commit analog).
        """
        import sys
        import time

        from pyspark.sql import Observation

        timing = os.environ.get("GOPROWL_TIMING") == "1"
        marks: list[tuple[str, float]] = []
        t_round0 = time.time()
        t_last = t_round0

        def mark(stage: str) -> None:
            nonlocal t_last
            if timing:
                now = time.time()
                marks.append((stage, round(now - t_last, 2)))
                t_last = now

        cfg = self.config
        props = self.catalog.properties()
        r = int(props.get("round", 0)) + 1
        # frontier size is tracked arithmetically in snapshot properties
        # (f' = f - popped + enqueued) — no count job, no isEmpty scan
        n_frontier = int(props.get("frontier_count", 0))
        if n_frontier == 0:
            return False
        frontier = self.frontier()
        seen = self.seen()
        blooms = self._load("seen_bloom", schemas.SEEN_BLOOM)
        sid = self.catalog.next_sid()
        unbudgeted = self.host_budget is None and cfg.default_budget is None

        # W1/W2: deterministic, budget-bounded, skew-salted pop.
        popped = pop_batch(
            frontier, self.host_budget, cfg.default_budget, cfg.salt
        ).persist(StorageLevel.MEMORY_AND_DISK)
        obs_pop = Observation(f"pop_r{r}_{sid}")
        batch = popped.select("url", "depth").observe(
            obs_pop, F.count(F.lit(1)).alias("n")
        )

        # S1+S4: fetch and parse into span sequences in one Arrow pass. A
        # fetcher returns one row per URL it attempted; a batch URL with no
        # row failed to fetch. n_frontier bounds the batch (exact for
        # unbudgeted BFS): the fetcher sizes its stage from it.
        fetched = self.fetcher(batch, n_frontier)
        obs_fetch = Observation(f"fetch_r{r}_{sid}")
        fetched = fetched.observe(
            obs_fetch,
            F.sum((F.col("status") == 200).cast("long")).alias("ok"),
            F.percentile_approx("fetch_latency_ms", 0.5).alias("p50"),
            F.percentile_approx("fetch_latency_ms", 0.99).alias("p99"),
        )

        # S4/U5: derive the document columns; wave 1 writes documents.
        # (Measured: caching the parsed rows to skip the parquet read-back
        # LOSES at high core counts — the cache stores every column while
        # the read-back decodes only the spans column. Write, then re-read
        # columnar.)
        docs_new = with_document_columns(fetched, r)
        if self.page_handler is not None:
            docs_new = self.page_handler(docs_new)
        obs_docs = Observation(f"docs_r{r}_{sid}")
        docs_new = docs_new.observe(
            obs_docs,
            F.coalesce(
                F.sum(
                    F.size(
                        F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("link"))
                    )
                ),
                F.lit(0),
            ).alias("n_links"),
        )
        docs_path = self.catalog.stage_path(sid, "documents")
        docs_new.write.mode("overwrite").parquet(docs_path)
        fstats = obs_fetch.get
        dstats = obs_docs.get
        n_popped = int(obs_pop.get["n"] or 0)
        n_ok = int(fstats["ok"] or 0)
        mark("fetch_parse_write")

        # S3/P2/P3: expand links (from the just-written columnar docs — only
        # the spans + fetched_depth columns are read back) → candidates at
        # depth+1. MAP-ONLY up to the bloom cogroup: the documents table
        # carries the fetch depth so there is no join back to the popped
        # batch, and per-url min-depth dedup happens INSIDE the bucket
        # cogroup (the bucket already holds every occurrence of a url), so
        # the old groupBy("url") pre-shuffle is gone — an unbudgeted BFS
        # round now pays exactly TWO wide shuffles (bucket cogroup + the
        # maybe-side anti-join).
        docs_stored = self.spark.read.parquet(docs_path)
        links = extract_links(docs_stored)
        raw_candidates = (
            links.select(
                F.col("link").alias("url"),
                (F.col("src_depth") + 1).cast("int").alias("depth"),
            )
            .where(F.col("depth") <= cfg.max_depth)
            .select(
                "url",
                F.xxhash64("url").alias("url_hash"),
                F.parse_url("url", F.lit("HOST")).alias("host"),
                "depth",
            )
            .where(F.col("host").isNotNull())
        )
        if cfg.allowed_hosts is not None:
            raw_candidates = raw_candidates.where(
                F.col("host").isin(cfg.allowed_hosts)
            )
        raw_candidates = apply_robots(raw_candidates, self.robots_rules)

        # P4/J1/U7: Bloom-pruned exact dedup; wave 2 writes the seen delta.
        # Probe and update run as ONE fused cogroup pass (probe_and_update):
        # the round pays a single candidates shuffle-by-bucket and a single
        # Python/Arrow pass for both the membership test and the blob
        # delta, instead of the two passes the split design cost.
        # host is a pure function of url (parse_url above) and the
        # cogroup doesn't consult it — dropping it here keeps the
        # host STRING out of the bucket shuffle AND the Python/Arrow
        # round trip (≈20% fewer candidate bytes both ways); it is
        # re-derived on the (smaller) post-dedup survivor set below.
        # The shuffle-bound stage binds hardest on the many-core leg,
        # so this is also a scaling-efficiency lever (guide §2.3).
        fused = seen_filter.probe_and_update(
            raw_candidates.drop("host"),
            blooms,
            cfg.n_buckets,
            cfg.bits_per_bucket,
            gen=r,
            dedup=True,
            kind=cfg.filter_kind,
            inner_buckets=cfg.cuckoo_inner_buckets,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # ONE aggregate materializes the cogroup into the cache and
        # yields what the round needs of it: the post-dedup candidate
        # count (from the blob rows — this job used to run AFTER the
        # delta write), the maybe-seen count, which picks the exact-join
        # strategy below BEFORE the write job plans, and the touched
        # buckets, the keys of the filter's upsert.
        stats = fused.agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("filter_blob").isNotNull(), F.col("n_cands")
                    )
                ),
                F.lit(0),
            ).alias("n_cand"),
            F.coalesce(
                F.sum(
                    (
                        F.col("filter_blob").isNull() & F.col("maybe_seen")
                    ).cast("long")
                ),
                F.lit(0),
            ).alias("n_maybe"),
            F.collect_list(
                F.when(F.col("filter_blob").isNotNull(), F.col("__bucket"))
            ).alias("touched"),
        ).collect()[0]
        n_cand = int(stats["n_cand"])
        n_maybe = int(stats["n_maybe"])
        mark("dedup_cogroup_stats")
        probed = fused.where(F.col("filter_blob").isNull())
        cand_cols = ["url", "url_hash", "depth"]
        fresh = probed.where(~F.col("maybe_seen")).select(*cand_cols)
        maybe = probed.where(F.col("maybe_seen")).select(*cand_cols)
        if n_maybe == 0:
            # no Bloom hits at all: nothing to check exactly
            unseen = fresh
        elif n_maybe <= BROADCAST_POP_LIMIT:
            # Double-broadcast exact check: the old
            # maybe-anti-join-seen shuffled the ENTIRE seen table
            # (growing every round) plus the maybe side. Instead:
            # (1) scan seen map-only against broadcast(maybe) → the
            #     confirmed-seen subset (≤ n_maybe rows),
            # (2) anti-join maybe against broadcast(confirmed).
            # maybe ∖ (seen ∩ maybe) ≡ maybe ∖ seen, and the round's
            # dedup pays ZERO wide shuffles past the bucket cogroup —
            # the seen table is read but never shuffled. The url
            # equality re-check keeps 64-bit hash collisions harmless
            # (exactness cannot ride on url_hash alone: at 10^10 URLs
            # the birthday bound expects a few 64-bit collisions).
            # broadcast only the 8-byte hashes (5× smaller driver
            # collect than (hash, url) rows); the inner join may admit
            # hash-collision extras — seen urls that share a hash with
            # a maybe url — but the anti-join below re-checks
            # (url_hash, url), so a maybe row is removed iff that
            # exact row is in seen. Still exactly maybe ∖ seen.
            mb_h = maybe.select("url_hash")
            confirmed = seen.select("url_hash", "url").join(
                F.broadcast(mb_h), on="url_hash", how="inner"
            )
            unseen = fresh.unionByName(
                maybe.join(
                    F.broadcast(confirmed),
                    on=["url_hash", "url"],
                    how="left_anti",
                )
            )
        else:
            # maybe-side too big to broadcast (possible only when a
            # round re-encounters >BROADCAST_POP_LIMIT known URLs):
            # fall back to the shuffle anti-join
            unseen = fresh.unionByName(
                maybe.join(seen, on=["url_hash", "url"], how="left_anti")
            )
        obs_new = Observation(f"new_r{r}_{sid}")
        # The round delta carries the SUPERSET of the frontier and seen
        # schemas and is written ONCE; the manifest points both logical
        # tables at it with per-table column projections (one physical
        # write instead of two — the seen write and, unbudgeted, the
        # frontier write were projections of the same rows).
        # host was dropped before the cogroup (see above); re-derive it here
        # with the same pure parse_url expression.
        new_entries = (
            unseen.withColumn("host", F.parse_url("url", F.lit("HOST")))
            .select(
                "url",
                "url_hash",
                "host",
                "depth",
                self._priority().alias("priority"),
                F.lit(r).alias("discovered_round"),
                F.lit(r).alias("first_seen_round"),
            )
            .observe(obs_new, F.count(F.lit(1)).alias("n"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        delta_path = self.catalog.stage_path(sid, "crawl_delta")
        new_entries.write.mode("overwrite").parquet(delta_path)
        n_new = int(obs_new.get["n"] or 0)
        mark("dedup_seen_write")

        # wave 3: frontier. With an unbudgeted pop the remainder is empty
        # by construction — the frontier IS the delta (no write at all,
        # just a projected manifest pointer).
        new_frontier = None
        frontier_path = delta_path
        if not unbudgeted:
            # popped is budget×hosts rows — broadcast only when bounded
            # (millions of hosts would OOM the driver otherwise).
            popped_urls = popped.select("url")
            if n_popped <= BROADCAST_POP_LIMIT:
                popped_urls = F.broadcast(popped_urls)
            remaining = frontier.join(popped_urls, "url", "left_anti")
            new_frontier = remaining.unionByName(
                new_entries.select(*schemas.FRONTIER.fieldNames())
            )
            frontier_path = self.catalog.stage_path(sid, "frontier")
        # wave 5: per-partition lineage counters (north_star requirement;
        # also the skew-diagnosis signal — a hot host shows up as one
        # partition dwarfing the rest). Both the lineage and the metrics
        # row are METADATA-SIZED, so they are written straight from the
        # driver (pyarrow, parquet footers) — at 16 cores the tail of tiny
        # Spark jobs was the round's largest non-scaling cost. Lineage
        # comes from the just-written files' footers: one file per write
        # task, so file row counts ARE the per-partition counts.
        lineage_path = self.catalog.stage_path(sid, "partition_lineage")
        lineage_rows = [
            (r, "frontier_new", i, n)
            for i, n in tables_mod.parquet_file_rows(delta_path)
        ] + [
            (r, "documents_new", i, n)
            for i, n in tables_mod.parquet_file_rows(docs_path)
        ]
        tables_mod.write_local_parquet(
            lineage_rows, schemas.PARTITION_LINEAGE, lineage_path
        )

        prev_seen = int(props.get("seen_count", 0))
        n_seen = prev_seen + n_new
        metrics_path = self.catalog.stage_path(sid, "crawl_metrics")
        tables_mod.write_local_parquet(
            [
                (
                    r,
                    n_frontier,
                    n_popped,
                    n_ok,
                    n_popped - n_ok,
                    int(dstats["n_links"] or 0),
                    n_cand,
                    n_cand - n_new,
                    n_new,
                    n_seen,
                    float(n_cand - n_new) / n_cand if n_cand else 0.0,
                    float(fstats["p50"] or 0.0),
                    float(fstats["p99"] or 0.0),
                    round(time.time() - t_round0, 3),
                )
            ],
            schemas.CRAWL_METRICS,
            metrics_path,
        )

        # remaining tail writes are real (distributed) tables — run them as
        # concurrent jobs so the round pays one job latency, not several
        # (the big docs/delta writes above stay sequential: measured at
        # local[16], concurrent big writes contend and lose).
        tail = []
        postings_path = stats_path = None
        if cfg.maintain_index:
            from goprowl_spark import ranking

            postings_path = self.catalog.stage_path(sid, "postings")
            stats_path = self.catalog.stage_path(sid, "doc_stats")
            tail.append((postings_path, ranking.build_postings(docs_stored)))
            tail.append((stats_path, ranking.build_doc_stats(docs_stored)))
        if new_frontier is not None:
            tail.append((frontier_path, new_frontier))
        # the blob rows of the fused pass ARE this round's filter upsert;
        # the tail writes them, or the compacted table when the log is full
        delta = fused.where(F.col("filter_blob").isNotNull()).select(
            F.col("__bucket").alias("bucket"), "filter_blob", "n_items", "gen"
        )
        bloom = self.catalog.remove(
            sid, ["seen_bloom"], schemas.BUCKET_KEY, sorted(stats["touched"]),
            rows={"seen_bloom": delta},
        )
        written = bloom["tables"] or bloom["appends"]
        bloom_path = self.catalog.stage_path(sid, "seen_bloom")
        tail.append((bloom_path, written["seen_bloom"]))
        written["seen_bloom"] = bloom_path
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        # decorated here so the pool threads take this thread's local
        # properties (job group, description) and session tags for the
        # jobs they start
        @inheritable_thread_target(self.spark)
        def write(t: tuple[str, DataFrame]) -> None:
            t[1].write.mode("overwrite").parquet(t[0])

        with ThreadPoolExecutor(max_workers=len(tail)) as pool:
            list(pool.map(write, tail))
        mark("tail_writes")

        tables = {"frontier": frontier_path}
        appends = {
            "documents": docs_path,
            "seen": delta_path,
            "crawl_metrics": metrics_path,
            "partition_lineage": lineage_path,
        }
        projections = {
            "seen": schemas.SEEN.fieldNames(),
            "frontier": schemas.FRONTIER.fieldNames(),
        }
        if postings_path is not None:
            appends["postings"] = postings_path
            appends["doc_stats"] = stats_path
        self.catalog.commit(
            {**tables, **bloom["tables"]},
            appends={**appends, **bloom["appends"]},
            deletes=bloom["deletes"],
            projections=projections,
            properties={
                "round": r,
                "seen_count": n_seen,
                "frontier_count": n_frontier - n_popped + n_new,
                **self._filter_props(),
            },
            sid=sid,
        )
        mark("manifest")
        if timing:
            total = sum(d for _, d in marks)
            print(
                f"ROUND {r} n_popped={n_popped} n_new={n_new} total={total:.2f} "
                + " ".join(f"{k}={v}" for k, v in marks),
                file=sys.stderr,
            )
        for df in (popped, new_entries, fused):
            df.unpersist()
        return True
