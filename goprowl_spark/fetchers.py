"""Production HTTP fetcher — S1's real-network shape.

The synthetic :func:`goprowl_spark.corpus.make_fetcher` computes pages from
the URL; this module fetches them over HTTP. Both are
:func:`goprowl_spark.parse.url_fetcher` over a different per-URL fetch,
so they share one output schema and ``CrawlEngine`` accepts either
interchangeably. Reference behaviors mirrored:

* 30 s request timeout        (colly config, search/crawlers/config.go:67-74)
* fetch errors → status 0, no expansion (OnError path, colly.go:64-71)
* one pooled session per partition/task (colly's shared http.Transport) —
  connection reuse amortizes TCP/TLS setup across a task's whole batch

Scale shape: identical to the synthetic fetcher — work strictly ∝ the fetch
batch, and page bytes never cross the Arrow boundary (the spans are
produced in the same Python pass). Politeness pacing is the POP's job
(per-host budgets, Crawl-delay), not the fetcher's.

Network access is environment-dependent; tests exercise this against an
in-process loopback HTTP server only.
"""

from __future__ import annotations

import time


def make_http_fetcher(
    timeout_s: float = 30.0,
    max_bytes: int = 1 << 20,
    user_agent: str = "goprowl-spark",
    backend: str = "auto",
):
    """Build a fetcher callable: ``fetch(batch(url, depth), max_urls=None)
    -> DataFrame`` of ``url, depth, status, fetch_latency_ms, spans`` — the
    output of ``corpus.make_fetcher``.

    ``backend``: ``auto`` uses requests when importable, else the stdlib
    urllib fallback; ``stdlib`` forces the fallback (both paths must record
    identical statuses — pinned by the loopback test)."""
    from goprowl_spark.parse import url_fetcher

    def open_fetch():
        try:
            if backend == "stdlib":
                raise ImportError("stdlib backend forced")
            import requests

            session = requests.Session()
            session.headers["User-Agent"] = user_agent

            def get(u):
                # stream=True + chunked read: max_bytes bounds the network
                # transfer and task memory, not just the kept prefix (one
                # multi-GB URL must not stall or OOM a fetch task)
                with session.get(u, timeout=timeout_s, stream=True) as resp:
                    buf = b""
                    for chunk in resp.iter_content(chunk_size=1 << 16):
                        buf += chunk
                        if len(buf) >= max_bytes:
                            break
                    return resp.status_code, buf[:max_bytes].decode(
                        resp.encoding or "utf-8", "replace"
                    )

            errors: tuple = (requests.RequestException,)
        except ImportError:  # stdlib fallback, same semantics
            import urllib.error
            import urllib.request

            opener = urllib.request.build_opener()
            opener.addheaders = [("User-Agent", user_agent)]

            def get(u):
                # urllib raises HTTPError (a URLError subclass) for every
                # non-2xx response; record the real status like the
                # requests path does instead of collapsing it to 0
                try:
                    with opener.open(u, timeout=timeout_s) as resp:
                        return resp.status, resp.read(max_bytes).decode(
                            "utf-8", "replace"
                        )
                except urllib.error.HTTPError as e:
                    return e.code, None

            errors = (urllib.error.URLError, OSError, ValueError)

        def fetch_page(u: str):
            t0 = time.time()
            try:
                status, html = get(u)
            except errors:
                status, html = 0, None
            return status, int((time.time() - t0) * 1000), html

        return fetch_page

    return url_fetcher(open_fetch)
