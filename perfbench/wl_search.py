"""search_mixed: one closed-loop client against a GoProwlSearchEngine
whose store is built during set-up from corpus pages.

The client sends common.op_stream: blocks of nine reads (query-language
search: simple, field:, phrase, strict fuzzy; BM25 and TF-IDF
search_ranked top-10; suggest; get_total_results), each block after
one write (index, batch_index upsert, delete, in turn). Writes go through store/tables and
invalidate the engine's per-snapshot caches, so a read speed-up that
slows writes still shows. The window is measured in whole blocks.

End-to-end: cpu_ms_per_item is the median over blocks of the process
tree's CPU milliseconds per op. The wall-time figures are detail lines:
ops_per_s, the median over blocks of ten ops of ops per second, and
query_mean_ms, the median over blocks of the mean latency of the block's
nine reads. Every block has the same mix of read kinds, so its mean is a
fixed weighting of their costs; the median of the nine reads
(query_p50_ms) jumps between kinds from seed to seed.

Checks, outside the window: the stored documents equal a Python model of
every write; the maintained postings equal ranking.postings_sql over that
model in DuckDB; and every read of the last block (which all ran on the
final state) equals its DuckDB oracle: search.search_oracle_sql, the ranking
oracles, a prefix scan of the postings for suggest, a count for
get_total_results, and for strict fuzzy a levenshtein() form of the same
scoring rule.

A traced run also times the ten headline contract queries once each
(perfbench/headline.py) for the contract.<query>_s metrics.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import common, headline, tracing

READS_PER_BLOCK = len(common.READ_KINDS) + 1
# store builds per run; the median is set-up (the first one is cold)
FIXTURES = 3
K = 10


def _doc_rows(spark, docs: list[tuple[str, str, str]]):
    """DOCUMENTS rows for (doc_id, title, content) upserts, shaped the
    way GoProwlSearchEngine.index shapes a single document."""
    from pyspark.sql import functions as F

    from goprowl_spark import schemas

    return spark.createDataFrame(
        [
            (d, [("title", t, "", 0), ("text", c, "", 1)], t, c, "webpage",
             None, None, None, None, None, None)
            for d, t, c in docs
        ],
        schemas.DOCUMENTS,
    ).withColumn("content_hash", F.xxhash64("content"))


def _page_doc(j: int) -> tuple[str, str]:
    from goprowl_spark import corpus

    return corpus.title(j), " ".join(corpus.paragraphs(j))


class Client:
    """Applies ops to the engine, mirrors every write in ``model``
    ({doc_id: (title, content)}), and times each op under a span."""

    def __init__(self, h, eng, model: dict, n_pages: int):
        self.h, self.eng, self.model, self.n_pages = h, eng, model, n_pages
        self.stats_hits: list[bool] = []
        self.vocab_hits: list[bool] = []
        self.compile_s: list[float] = []
        self.exec_s: list[float] = []
        self.write_bytes: list[tuple[int, int, int]] = []  # (written, files, upserted)
        self.write_s: dict[str, list[float]] = {}
        self.ranked_s: dict[str, list[float]] = {}

    def _live(self, pick: float) -> str:
        ids = sorted(self.model)
        return ids[int(pick * len(ids))]

    def _cached(self, attr: str) -> bool:
        # the engine keys its corpus-stats and vocabulary caches on the
        # snapshot id; a call hits when the cached id is still current
        cached = getattr(self.eng, attr, None)
        return cached is not None and cached[0] == self.eng.store.catalog.latest()

    def read(self, kind: str, args: dict):
        eng, tr = self.eng, self.h.tracer
        if kind.startswith("search_"):
            with tr.span("search"):
                t = time.perf_counter()
                df = eng.search(args["query"], size=K, strict=kind == "search_fuzzy")
                t1 = time.perf_counter()
                rows = [(r["doc_id"], r["score"]) for r in df.select("doc_id", "score").collect()]
            self.compile_s.append(t1 - t)
            self.exec_s.append(time.perf_counter() - t1)
            return rows
        if kind in ("bm25", "tfidf"):
            self.stats_hits.append(self._cached("_corpus_stats"))
            t = time.perf_counter()
            with tr.span("ranking"):
                rows = [tuple(r) for r in eng.search_ranked(args["query"], kind, K).collect()]
            self.ranked_s.setdefault(kind, []).append(time.perf_counter() - t)
            return rows
        if kind == "suggest":
            self.vocab_hits.append(self._cached("_vocab_cache"))
            with tr.span("engine"):
                return eng.suggest(args["prefix"], K)
        with tr.span("engine"):
            return eng.get_total_results(args["query"])

    def write(self, kind: str, args: dict) -> None:
        eng, spark = self.eng, self.eng.spark
        traced = self.h.tracer.enabled
        before = tracing.dir_bytes_files(self.h.work) if traced else (0, 0)
        upserted = []
        if kind == "index":
            j = args["page"] % self.n_pages
            upserted = [(f"https://w.test/p/{args['page']}", *_page_doc(j))]
        elif kind == "batch_index":
            upserted = [
                (self._live(pick), *_page_doc((args["page"] + k) % self.n_pages))
                for k, pick in enumerate(args["picks"])
            ]
            upserted = list({d: (d, t, c) for d, t, c in upserted}.values())
        t = time.perf_counter()
        with self.h.tracer.span("store"):
            if kind == "index":
                eng.index(*upserted[0])
            elif kind == "batch_index":
                eng.batch_index(_doc_rows(spark, upserted))
            else:
                eng.delete(self._live(args["picks"][0]))
        self.write_s.setdefault(kind, []).append(time.perf_counter() - t)
        if kind == "delete":
            del self.model[self._live(args["picks"][0])]
        for d, t, c in upserted:
            self.model[d] = (t, c)
        if traced:
            after = tracing.dir_bytes_files(self.h.work)
            size = sum(len(t.encode()) + len(c.encode()) for _, t, c in upserted)
            self.write_bytes.append((after[0] - before[0], after[1] - before[1], size))


def run(h, seed: int, seconds: float) -> dict:
    from goprowl_spark import corpus
    from goprowl_spark.engine import GoProwlSearchEngine

    p = common.search_params(seed)
    t0 = time.perf_counter()
    spark = h.start_session()
    session_s = time.perf_counter() - t0

    # fixture: the store built FIXTURES times from the same corpus pages
    # (title and body text, no HTML round trip: the search layers never
    # see the markup); the last one serves the window
    pages = [(corpus.url(i), *_page_doc(i)) for i in p["doc_pages"]]
    fixture, engines = [], []
    for k in range(FIXTURES):
        t1 = time.perf_counter()
        eng = GoProwlSearchEngine(spark, os.path.join(h.work, f"store{k}"))
        eng.batch_index(_doc_rows(spark, pages))
        fixture.append(time.perf_counter() - t1)
        engines.append(eng)
    eng = engines[-1]
    model = {
        r["doc_id"]: (r["title"], r["content"])
        for r in eng.store.get_all().select("doc_id", "title", "content").collect()
    }

    # warm-up: one block's reads on the first store (the store builds
    # have already run the write path)
    t2 = time.perf_counter()
    warm = Client(h, engines[0], dict(model), p["n_pages"])
    stream = common.op_stream(p["op_seed"] ^ 1, corpus.VOCAB)
    next(stream)
    for _ in range(READS_PER_BLOCK):
        warm.read(*next(stream))
    warm_s = time.perf_counter() - t2
    setup_s = session_s + statistics.median(fixture)

    # the traced run's overhead: the first block's reads, run here before
    # the event log and the job groups are switched on, against the same
    # reads traced in the window
    untraced: list[float] = []
    if h.trace:
        probe = Client(h, eng, model, p["n_pages"])
        stream = common.op_stream(p["op_seed"], corpus.VOCAB)
        next(stream)
        for _ in range(READS_PER_BLOCK):
            kind, args = next(stream)
            t = time.perf_counter()
            probe.read(kind, args)
            untraced.append(time.perf_counter() - t)
        h.tracer.start()

    client = Client(h, eng, model, p["n_pages"])
    stream = common.op_stream(p["op_seed"], corpus.VOCAB)
    walls: list[float] = []
    lat: dict[str, list[float]] = {"read": [], "write": []}
    by_kind: dict[str, list[float]] = {}
    last_block: list[tuple[str, dict, object]] = []
    block_rates: list[float] = []
    block_reads: list[float] = []
    block_cpu: list[float] = []
    attempted = 0
    h.start_rss_sampler()
    t_window = time.perf_counter()
    # a traced run measures blocks until every write kind has run once
    min_blocks = len(common.WRITE_KINDS) if h.trace else 1
    while len(block_rates) < min_blocks or time.perf_counter() - t_window < seconds:
        last_block = []
        t_block = time.perf_counter()
        c_block = common.cpu_s_of_tree(os.getpid())
        for _ in range(READS_PER_BLOCK + 1):
            kind, args = next(stream)
            t = time.perf_counter()
            if kind in common.READ_KINDS:
                last_block.append((kind, args, client.read(kind, args)))
            else:
                client.write(kind, args)
            dt = time.perf_counter() - t
            walls.append(dt)
            lat["read" if kind in common.READ_KINDS else "write"].append(dt)
            by_kind.setdefault(kind, []).append(dt)
            attempted += 1
        block_rates.append((READS_PER_BLOCK + 1) / (time.perf_counter() - t_block))
        block_cpu.append(1000 * (common.cpu_s_of_tree(os.getpid()) - c_block) / (READS_PER_BLOCK + 1))
        block_reads.append(statistics.mean(lat["read"][-READS_PER_BLOCK:]))
    peak_rss = h.stop_rss_sampler()

    # the last block's reads all ran on the final state
    t_check = time.perf_counter()
    failed = check(eng, model, last_block)
    check_s = time.perf_counter() - t_check

    tail_v, tail_pct, n_reads = common.tail(lat["read"])
    out = {
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "setup_s": setup_s,
            "cpu_ms_per_item": statistics.median(block_cpu),
        },
        "detail": {
            "ops_per_s": (statistics.median(block_rates), "1/s"),
            "blocks": (len(block_rates), "count"),
            "peak_rss_mb": (peak_rss, "MiB"),
            "query_mean_ms": (statistics.median(block_reads) * 1000, "ms"),
            "query_p50_ms": (statistics.median(lat["read"]) * 1000, "ms"),
            f"query_tail_ms(p{tail_pct:.0f},n={n_reads})": (tail_v * 1000, "ms"),
            "write_p50_ms": (statistics.median(lat["write"]) * 1000, "ms"),
            "docs": (len(model), "count"),
            "setup.session_s": (session_s, "s"),
            "setup.fixture_s": (statistics.median(fixture), "s"),
            "setup.warmup_s": (warm_s, "s"),
            "check_s": (check_s, "s"),
            **{f"op.{k}_p50_ms": (statistics.median(v) * 1000, "ms") for k, v in sorted(by_kind.items())},
        },
    }
    if h.trace:
        out["layers"] = _trace(h, client)
        traced = walls[1:READS_PER_BLOCK + 1]
        out["layers"]["trace.overhead_s"] = (sum(traced) - sum(untraced)) / len(traced)
        contract_layers, n_queries, n_failed = headline.measure(h, seed)
        out["layers"].update(contract_layers)
        out["attempted"] += n_queries
        out["failed"] += n_failed
    return out


def _fuzzy_oracle_sql(query: str) -> str:
    """Strict-mode scoring of ``<typo>~1 <word>`` in DuckDB: a fuzzy hit
    is any whitespace token within edit distance 1 (title 2.0, content
    1.0); the plain word is a case-insensitive substring hit (title 2.0,
    content 1.0)."""
    fuzzy, word = query.split()
    f = fuzzy.split("~")[0].lower()

    def lev(col: str) -> str:
        return (
            f"(CASE WHEN len(list_filter(regexp_split_to_array(lower({col}), '\\s+'), "
            f"t -> t <> '' AND levenshtein(t, '{f}') <= 1)) > 0 THEN 1 ELSE 0 END)"
        )

    def sub(col: str) -> str:
        return f"(CASE WHEN contains(lower({col}), '{word.lower()}') THEN 1 ELSE 0 END)"

    score = f"2.0*{lev('title')} + 1.0*{lev('content')} + 2.0*{sub('title')} + 1.0*{sub('content')}"
    return f"""
SELECT doc_id, score FROM (SELECT doc_id, CAST({score} AS DOUBLE) AS score FROM docs)
WHERE score > 0 ORDER BY score DESC, doc_id ASC LIMIT {K}"""


def check(eng, model: dict, reads: list[tuple[str, dict, object]]) -> int:
    """Mismatches between the engine and the DuckDB oracles over the
    Python model of the store; 0 when everything agrees."""
    import collections

    import duckdb
    import pandas as pd

    from goprowl_spark import ranking
    from goprowl_spark import search as gsearch

    failed = 0
    stored = {
        r["doc_id"]: (r["title"], r["content"])
        for r in eng.store.get_all().select("doc_id", "title", "content").collect()
    }
    if stored != model:
        failed += 1
    con = duckdb.connect()
    con.register(
        "docs",
        pd.DataFrame(
            [(d, t, c) for d, (t, c) in sorted(model.items())], columns=["doc_id", "title", "content"]
        ),
    )
    postings_sql = ranking.postings_sql("docs", "doc_id", "content")
    want = collections.Counter(con.sql(postings_sql).fetchall())
    got = collections.Counter(tuple(r) for r in eng.store.postings().select("term", "doc_id", "tf").collect())
    if got != want:
        failed += 1

    for kind, args, got in reads:
        if kind == "search_fuzzy":
            want = con.sql(_fuzzy_oracle_sql(args["query"])).fetchall()
        elif kind.startswith("search_"):
            want = con.sql(
                gsearch.search_oracle_sql(args["query"], "docs", "doc_id", "title", "content", size=K)
            ).fetchall()
        elif kind in ("bm25", "tfidf"):
            sql = (ranking.bm25_oracle_sql if kind == "bm25" else ranking.tfidf_oracle_sql)(
                "docs", "doc_id", "content", args["query"]
            )
            oracle = dict(con.sql(sql).fetchall())
            top = sorted(oracle.values(), reverse=True)[:K]
            ok = len(got) == len(top) and all(
                round(s, 4) == oracle.get(d) for d, s in got
            ) and [round(s, 4) for _, s in got] == top
            failed += not ok
            continue
        elif kind == "suggest":
            prefix = args["prefix"].replace("'", "''")
            want = [
                t for (t,) in con.sql(
                    f"SELECT DISTINCT term FROM ({postings_sql}) "
                    f"WHERE starts_with(term, '{prefix}') ORDER BY term LIMIT {K}"
                ).fetchall()
            ]
        else:
            sql = gsearch.search_oracle_sql(args["query"], "docs", "doc_id", "title", "content", size=1 << 30)
            want = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        if kind.startswith("search_"):
            got = [(d, round(s, 6)) for d, s in got]
            want = [(d, round(s, 6)) for d, s in want]
        failed += got != want
    con.close()
    return failed


def _trace(h, client: Client) -> dict:
    from goprowl_spark import ranking

    tr = h.tracer

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    ws = client.write_s
    written = sum(w for w, _, u in client.write_bytes if u)
    upserted = sum(u for _, _, u in client.write_bytes)
    out = {
        "store.upsert_s": med(ws.get("index", []) + ws.get("batch_index", [])),
        "store.delete_s": med(ws.get("delete", [])),
        "store.write_amp": written / upserted if upserted else 0.0,
        "tables.bytes_written": med([w for w, _, _ in client.write_bytes]),
        "tables.files_written": med([f for _, f, _ in client.write_bytes]),
        "search.compile_ms": med(client.compile_s) * 1000,
        "search.exec_s": med(client.exec_s),
        "ranking.bm25_s": med(client.ranked_s.get("bm25", [])),
        "ranking.tfidf_s": med(client.ranked_s.get("tfidf", [])),
        "engine.stats_cache_hit": sum(client.stats_hits) / len(client.stats_hits) if client.stats_hits else 0.0,
        "engine.vocab_cache_hit": sum(client.vocab_hits) / len(client.vocab_hits) if client.vocab_hits else 0.0,
    }
    with tr.span("ranking"):
        ranking.build_postings(client.eng.store.get_all()).write.mode("overwrite").parquet(
            os.path.join(h.work, "replay-postings")
        )
    out["ranking.postings_build_s"] = tr.seconds("ranking")[-1]
    return out
