"""The per-batch fetcher (HTTP shape: work ∝ batch) must produce exactly the
same crawl as the corpus-table join path."""

from goprowl_spark import corpus
from goprowl_spark.crawl import CrawlConfig, CrawlEngine
from goprowl_spark.parse import parse_spans

N = 300


def test_fetcher_crawl_equals_join_crawl(spark, tmp_path):
    """Seeds include a URL the corpus lacks: the table fetcher returns no
    row for it and make_fetcher a status-0 row, and both count it as a
    fetch error — crawl_metrics agree row for row, budgeted or not."""
    seeds = [corpus.url(0), corpus.url(5), "https://missing.test/p/1"]
    for budget in (None, 3):
        cfg = CrawlConfig(seeds=seeds, max_depth=4, default_budget=budget)
        join_eng = CrawlEngine(
            spark, corpus.corpus_df(spark, N), str(tmp_path / f"join{budget}"), cfg
        )
        join_eng.run()
        fetch_eng = CrawlEngine(
            spark,
            None,
            str(tmp_path / f"fetch{budget}"),
            cfg,
            fetcher=corpus.make_fetcher(N),
        )
        fetch_eng.run()
        for table in ("seen", "documents", "frontier"):
            a = sorted(getattr(join_eng, table)().toJSON().collect())
            b = sorted(getattr(fetch_eng, table)().toJSON().collect())
            assert a == b, (budget, table)
        a, b = (
            sorted(e.metrics().drop("round_wall_sec").toJSON().collect())
            for e in (join_eng, fetch_eng)
        )
        assert a == b, budget
        # round 1 pops the three seeds; only the missing one fails
        first = join_eng.metrics().where("round = 1").first()
        assert (first["popped"], first["fetched_err"]) == (3, 1), budget


def test_fetcher_invalid_urls_fail_fetch(spark):
    """The fetcher's URL check (host head plus round-tripped index tail)
    admits exactly the canonical page URLs; every other URL fetch-fails
    with status 0 and empty spans."""
    fetch = corpus.make_fetcher(N)
    head = corpus.url(5)[: -len("/p/5")]
    invalid = [
        "https://h0.test/p/99999",      # out of range
        "https://other.test/nope",      # unparseable index
        "https://h5.test/p/5",          # wrong host for i=5
        head + "/p/05",                 # leading zero
        "HTTPS" + corpus.url(5)[5:],    # uppercase scheme
        head + "/p/\u00b2",             # a digit int() rejects
    ]
    batch = spark.createDataFrame(
        [(corpus.url(5), 1)] + [(u, 1) for u in invalid],
        "url string, depth int",
    )
    rows = {r["url"]: r for r in fetch(batch).collect()}
    assert rows[corpus.url(5)]["status"] == corpus.status(5)
    assert rows["https://h0.test/p/99999"]["status"] == 0
    assert rows["https://other.test/nope"]["status"] == 0
    assert rows["https://h5.test/p/5"]["status"] == 0
    got = [s.asDict() for s in rows[corpus.url(5)]["spans"]]
    assert got and got == parse_spans(corpus.html(5, N), corpus.url(5))
    for u in invalid:
        assert rows[u]["status"] == 0, u
        assert list(rows[u]["spans"]) == [], u


def test_http_fetcher_loopback(spark):
    """The real-HTTP fetcher (fetchers.make_http_fetcher) against an
    in-process loopback server serving the synthetic corpus: identical
    span output to the synthetic fetcher for the same pages, status 404
    and connection-refused → fetch-fail rows (status != 200, no spans)."""
    import re
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from goprowl_spark import fetchers

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            m = re.fullmatch(r"/p/(\d+)", self.path)
            i = int(m.group(1)) if m else -1
            if 0 <= i < N:
                body = corpus.html(i, N).encode()
                self.send_response(200)
                self.send_header("Content-Type", "text/html")
                self.end_headers()
                self.wfile.write(body)
            else:
                self.send_response(404)
                self.end_headers()

        def log_message(self, *a):  # keep pytest output clean
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{port}"
        batch = spark.createDataFrame(
            [
                (f"{base}/p/5", 1),
                (f"{base}/p/17", 2),
                (f"{base}/p/99999", 1),                 # 404
                (f"http://127.0.0.1:1/refused", 1),      # connection refused
            ],
            "url string, depth int",
        )
        fetch = fetchers.make_http_fetcher(timeout_s=5)
        rows = {r["url"]: r for r in fetch(batch).collect()}
        assert rows[f"{base}/p/5"]["status"] == 200
        assert rows[f"{base}/p/99999"]["status"] == 404
        assert rows["http://127.0.0.1:1/refused"]["status"] == 0
        for bad in (f"{base}/p/99999", "http://127.0.0.1:1/refused"):
            assert list(rows[bad]["spans"]) == []
        # span-for-span parity with the synthetic fetcher on the same pages
        synth = {
            r["url"]: r
            for r in corpus.make_fetcher(N)(
                spark.createDataFrame(
                    [(corpus.url(5), 1), (corpus.url(17), 2)],
                    "url string, depth int",
                )
            ).collect()
        }
        for i in (5, 17):
            got = [tuple(s) for s in rows[f"{base}/p/{i}"]["spans"]]
            want = [tuple(s) for s in synth[corpus.url(i)]["spans"]]
            assert got == want, f"page {i} spans differ between HTTP and synthetic"
        assert all(r["fetch_latency_ms"] is not None for r in rows.values())
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_fetcher_stdlib_backend_status_parity(spark):
    """The urllib fallback must record the same statuses as the requests
    path: non-2xx responses surface their REAL code (urllib raises
    HTTPError for those — it must not collapse to 0), connection failures
    are status 0."""
    import re
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from goprowl_spark import fetchers

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            m = re.fullmatch(r"/s/(\d+)", self.path)
            code = int(m.group(1)) if m else 404
            self.send_response(code)
            self.end_headers()
            if code == 200:
                self.wfile.write(b"<html><title>ok</title></html>")

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{port}"
        batch = spark.createDataFrame(
            [
                (f"{base}/s/200", 1),
                (f"{base}/s/404", 1),
                (f"{base}/s/500", 1),
                ("http://127.0.0.1:1/refused", 1),
            ],
            "url string, depth int",
        )
        results = {}
        for backend in ("auto", "stdlib"):
            fetch = fetchers.make_http_fetcher(timeout_s=5, backend=backend)
            results[backend] = {
                r["url"]: r["status"] for r in fetch(batch).collect()
            }
        assert results["stdlib"] == results["auto"]
        assert results["stdlib"][f"{base}/s/404"] == 404
        assert results["stdlib"][f"{base}/s/500"] == 500
        assert results["stdlib"]["http://127.0.0.1:1/refused"] == 0
    finally:
        srv.shutdown()
        srv.server_close()


def test_crawl_engine_over_real_http_trace_equal(spark, tmp_path):
    """Full CrawlEngine over the real-HTTP fetcher against a loopback
    server that serves the synthetic corpus (hrefs rewritten to loopback,
    reference statuses preserved): the seen-set, depths, and per-document
    span sequences must equal the synthetic crawl's after reverse-mapping
    loopback URLs back to corpus URLs."""
    import re
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from goprowl_spark import fetchers

    host_re = re.compile(r"(?i)https://h\d+\.test(:443)?")

    srv_holder = {}

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            m = re.fullmatch(r"/p/(\d+)", self.path)
            i = int(m.group(1)) if m else -1
            if not (0 <= i < N):
                self.send_response(404)
                self.end_headers()
                return
            code = corpus.status(i)
            self.send_response(code)
            self.send_header("Content-Type", "text/html")
            self.end_headers()
            if code == 200:
                body = host_re.sub(srv_holder["base"], corpus.html(i, N))
                self.wfile.write(body.encode())

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    srv_holder["base"] = f"http://127.0.0.1:{port}"
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = srv_holder["base"]
        cfg_synth = CrawlConfig(seeds=[corpus.url(0)], max_depth=4)
        cfg_http = CrawlConfig(seeds=[f"{base}/p/0"], max_depth=4)
        synth = CrawlEngine(
            spark, None, str(tmp_path / "synth"), cfg_synth,
            fetcher=corpus.make_fetcher(N),
        )
        synth.run()
        http_eng = CrawlEngine(
            spark, None, str(tmp_path / "http"), cfg_http,
            fetcher=fetchers.make_http_fetcher(timeout_s=10),
        )
        http_eng.run()

        def unmap(s: str) -> str:
            # loopback page/img URLs -> the corpus URLs they stand in for
            s = re.sub(
                re.escape(base) + r"/p/(\d+)",
                lambda m: corpus.url(int(m.group(1))),
                s,
            )
            return re.sub(
                re.escape(base) + r"/img/(\d+)_(\d+)\.png",
                lambda m: corpus.media_url(int(m.group(1)), int(m.group(2))),
                s,
            )

        seen_synth = sorted(
            (r["url"], r["depth"]) for r in synth.seen().collect()
        )
        seen_http = sorted(
            (unmap(r["url"]), r["depth"]) for r in http_eng.seen().collect()
        )
        assert seen_http == seen_synth

        def doc_key(eng, mapper):
            out = {}
            for r in eng.documents().collect():
                spans = [
                    (s["kind"], s["text"], mapper(s["media_ref"]), s["offset"])
                    for s in r["spans"]
                ]
                out[mapper(r["doc_id"])] = (
                    r["title"],
                    r["content"],
                    r["content_hash"],
                    r["fetched_round"],
                    r["fetched_depth"],
                    mapper(r["metadata"]["links"]),
                    spans,
                )
            return out

        docs_synth = doc_key(synth, lambda s: s)
        docs_http = doc_key(http_eng, unmap)
        assert docs_http == docs_synth
    finally:
        srv.shutdown()
        srv.server_close()


def test_corpus_paragraph_title_tables_match_definitional_form():
    """r6 optimization pin: the precomputed 64-entry paragraph/title tables
    must reproduce word(i, k) = VOCAB[(i*31 + k*7) % V] joins exactly —
    pure python, no Spark (the span_stats DuckDB oracle pins the same
    content end-to-end, this is the fast unit-level witness)."""
    V = len(corpus.VOCAB)

    def word(i, k):
        return corpus.VOCAB[(i * 31 + k * 7) % V]

    for i in list(range(200)) + [4999, 63, 64, 65, 123457, 19999999]:
        assert corpus.title(i) == f"Page {i} {word(i, 0)} {word(i, 1)} {word(i, 2)}"
        for k in range(corpus.N_PARAS):
            expect = " ".join(
                word(i, 3 + k * corpus.PARA_WORDS + j)
                for j in range(corpus.PARA_WORDS)
            )
            assert corpus.paragraph(i, k) == expect, (i, k)
