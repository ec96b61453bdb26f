"""Deterministic synthetic web-graph corpus — the sandbox "internet".

The crawl fetches from this corpus instead of doing HTTP, either per URL
(:func:`make_fetcher`) or by joining fetch batches against the table
(:func:`table_fetcher`) (reference fetch: ``collector.Visit``
search/crawlers/colly.go:209-215; the 30s-timeout HTTP transport
config.go:67-74 is irrelevant in-sandbox).

Every attribute of page ``i`` is a pure integer-arithmetic function of ``i``
and the page count ``N`` — no RNG, no wall clock — so three independent
implementations can generate it bit-identically:

1. :func:`corpus_df` — Spark Column expressions only (JVM-side, codegen'd;
   generates millions of pages with zero Python in the loop → used at bench
   scale),
2. :func:`page` — pure Python (drives the sequential reference-semantics
   oracle in tests/oracle/),
3. :func:`bfs_oracle_sql` — a DuckDB recursive-CTE that re-derives the link
   graph arithmetically (the driver's correctness gate).

Graph design: out-degree 2..4 (supercritical BFS), one hot host holding 30%
of pages (exercises host-salted skew handling), 404/500 pages (fetched but
not expanded), and four messy link encodings (relative path, fragment,
explicit default port, uppercase scheme/host) that the canonicalizer must
normalize back to the canonical URL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

N_HOSTS = 10
MAX_DEG = 4

VOCAB = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango", "uniform", "victor", "whiskey",
    "xray", "yankee", "zulu", "amber", "basalt", "cobalt", "dune", "ember",
    "fjord", "garnet", "harbor", "isle", "jade", "krill", "lagoon", "mesa",
    "nectar", "onyx", "prism", "quartz", "reef", "slate", "topaz", "umbra",
    "vertex", "willow", "xenon", "yarrow", "zephyr", "atlas", "beacon",
    "cinder", "drift", "evergreen", "flint", "grove", "heather", "ivory",
    "juniper", "kestrel", "lantern",
]


# ---------------------------------------------------------------- pure python

def host_id(i: int) -> int:
    return 0 if i % 10 < 3 else 1 + (i % (N_HOSTS - 1))


def host(i: int) -> str:
    return f"h{host_id(i)}.test"


def url(i: int) -> str:
    return f"https://{host(i)}/p/{i}"


def degree(i: int) -> int:
    return 2 + (i % 3)


def status(i: int) -> int:
    if i % 97 == 33:
        return 404
    if i % 131 == 57:
        return 500
    return 200


def link_target(i: int, j: int, n: int) -> int:
    return (i * 7 + j * 13 + 1) % n


def latency_ms(i: int) -> int:
    return 10 + (i % 50)


def word(i: int, k: int) -> str:
    return VOCAB[(i * 31 + k * 7) % len(VOCAB)]


def title(i: int) -> str:
    return f"Page {i} {_TITLE_TAIL_BY_START[(i * 31) % _V]}"


# body: N_PARAS paragraphs of PARA_WORDS words — keeps synthetic pages in a
# realistic size band (~1 KB HTML) instead of toy 100-byte pages, so the
# parse stage carries web-like CPU per URL
N_PARAS = 3
PARA_WORDS = 30


# word(i, m) = VOCAB[(i*31 + m*7) % V]: as the word position advances the
# vocab index steps by a constant 7 (mod V), so a PARA_WORDS-word run is
# fully determined by its starting index — there are only V distinct
# paragraph strings (and V distinct 3-word title tails). Precomputing them
# removes the join-of-genexpr from the synthetic fetcher's per-URL hot path
# (guide §4.2: per-batch Python work); bit-identity with the definitional
# form is pinned in tests/test_fetcher.py.
_V = len(VOCAB)
_PARA_BY_START = [
    " ".join(VOCAB[(s + 7 * j) % _V] for j in range(PARA_WORDS))
    for s in range(_V)
]
_TITLE_TAIL_BY_START = [
    " ".join(VOCAB[(s + 7 * j) % _V] for j in range(3)) for s in range(_V)
]


def paragraph(i: int, k: int) -> str:
    return _PARA_BY_START[(i * 31 + (3 + k * PARA_WORDS) * 7) % _V]


def paragraphs(i: int) -> list[str]:
    return [paragraph(i, k) for k in range(N_PARAS)]


def media_count(i: int) -> int:
    return i % 3


def media_url(i: int, k: int) -> str:
    return f"https://{host(i)}/img/{i}_{k}.png"


def link_href(i: int, j: int, n: int) -> str:
    """The raw (possibly messy) href attribute as it appears in the HTML."""
    t = link_target(i, j, n)
    same = host_id(t) == host_id(i)
    if same and (i + j) % 3 == 0:
        return f"/p/{t}"  # root-relative
    if (i + j) % 5 == 0:
        return url(t) + "#frag"  # fragment to strip
    if (i + j) % 7 == 0:
        return f"https://{host(t)}:443/p/{t}"  # explicit default port
    if (i + j) % 11 == 0:
        return f"HTTPS://{host(t).upper()}/p/{t}"  # case-normalize
    return url(t)


def out_links(i: int, n: int) -> list[str]:
    """Ground-truth canonical out-links in document order."""
    return [url(link_target(i, j, n)) for j in range(degree(i))]


def html(i: int, n: int) -> str:
    links = "".join(
        f'<a href="{link_href(i, j, n)}">link {link_target(i, j, n)}</a>'
        for j in range(degree(i))
    )
    imgs = "".join(
        f'<img src="{media_url(i, k)}"/>' for k in range(media_count(i))
    )
    paras = "".join(f"<p>{p}</p>" for p in paragraphs(i))
    return (
        f"<html><head><title>{title(i)}</title></head>"
        f"<body>{paras}{links}{imgs}</body></html>"
    )


def expected_spans(i: int, n: int) -> list[tuple[str, str, str, int]]:
    """Ground-truth span sequence (kind, text, media_ref, offset) for page i.

    This is the per-row invariant vs the reference (BASELINE.json:input_hint):
    title span, one text span per paragraph, link spans (anchor text +
    canonical target) in document order, then media spans.
    """
    spans = [("title", title(i), "", 0)]
    for k, p in enumerate(paragraphs(i)):
        spans.append(("text", p, "", 1 + k))
    off = 1 + N_PARAS
    for j in range(degree(i)):
        t = link_target(i, j, n)
        spans.append(("link", f"link {t}", url(t), off))
        off += 1
    for k in range(media_count(i)):
        spans.append(("media", "", media_url(i, k), off))
        off += 1
    return spans


def page(i: int, n: int) -> dict:
    return {
        "url": url(i),
        "host": host(i),
        "status": status(i),
        "html": html(i, n),
        "out_links": out_links(i, n),
        "fetch_latency_ms": latency_ms(i),
    }


# ---------------------------------------------------------------- spark

def _c_host_id(i: Column) -> Column:
    return F.when(i % 10 < 3, F.lit(0)).otherwise(1 + (i % (N_HOSTS - 1)))


def _c_host(i: Column) -> Column:
    return F.concat(F.lit("h"), _c_host_id(i).cast("string"), F.lit(".test"))


def _c_url(i: Column) -> Column:
    return F.concat(F.lit("https://"), _c_host(i), F.lit("/p/"), i.cast("string"))


def _c_word(i: Column, k: Column) -> Column:
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    return F.element_at(vocab, ((i * 31 + k * 7) % len(VOCAB) + 1).cast("int"))


def corpus_df(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """The page-corpus table, generated entirely with Column expressions.

    No Python executes per row: `spark.range` + codegen'd string/array ops.
    At 100 TB scale this would be a real web-archive scan; the generator
    stands in with identical schema and unbounded parallelism.
    """
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)
    df = spark.range(0, n, 1, partitions).select(F.col("id").alias("i"))
    return page_columns(df, F.col("i"), n).select(
        F.col("page_url").alias("url"),
        "host",
        "status",
        "html",
        "out_links",
        "fetch_latency_ms",
    )


def page_columns(df: DataFrame, i: Column, n: int) -> DataFrame:
    """Attach the page-corpus columns for page index ``i`` (pure Column
    algebra — shared by the full-table generator and the per-batch
    fetcher)."""
    deg = 2 + (i % 3)
    js = F.sequence(F.lit(0), (deg - 1).cast("int"))

    def tgt(j: Column) -> Column:
        return (i * 7 + j * 13 + 1) % n

    def canon_url_of(t: Column) -> Column:
        return _c_url(t)

    def href(j: Column) -> Column:
        t = tgt(j)
        same = _c_host_id(t) == _c_host_id(i)
        rel = F.concat(F.lit("/p/"), t.cast("string"))
        frag = F.concat(canon_url_of(t), F.lit("#frag"))
        port = F.concat(
            F.lit("https://"), _c_host(t), F.lit(":443/p/"), t.cast("string")
        )
        upper = F.concat(
            F.lit("HTTPS://"), F.upper(_c_host(t)), F.lit("/p/"), t.cast("string")
        )
        return (
            F.when(same & ((i + j) % 3 == 0), rel)
            .when((i + j) % 5 == 0, frag)
            .when((i + j) % 7 == 0, port)
            .when((i + j) % 11 == 0, upper)
            .otherwise(canon_url_of(t))
        )

    title_c = F.concat(
        F.lit("Page "), i.cast("string"),
        F.lit(" "), _c_word(i, F.lit(0)),
        F.lit(" "), _c_word(i, F.lit(1)),
        F.lit(" "), _c_word(i, F.lit(2)),
    )
    paras_c = F.concat(
        *[
            F.concat(
                F.lit("<p>"),
                F.array_join(
                    F.transform(
                        F.sequence(
                            F.lit(3 + k * PARA_WORDS),
                            F.lit(3 + k * PARA_WORDS + PARA_WORDS - 1),
                        ),
                        lambda w: _c_word(i, w),
                    ),
                    " ",
                ),
                F.lit("</p>"),
            )
            for k in range(N_PARAS)
        ]
    )
    links_html = F.array_join(
        F.transform(
            js,
            lambda j: F.concat(
                F.lit('<a href="'), href(j), F.lit('">link '),
                tgt(j).cast("string"), F.lit("</a>"),
            ),
        ),
        "",
    )
    n_media = (i % 3).cast("int")
    imgs_html = F.when(n_media == 0, F.lit("")).otherwise(
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_media - 1),
                lambda k: F.concat(
                    F.lit('<img src="https://'), _c_host(i), F.lit("/img/"),
                    i.cast("string"), F.lit("_"), k.cast("string"),
                    F.lit('.png"/>'),
                ),
            ),
            "",
        )
    )
    html_c = F.concat(
        F.lit("<html><head><title>"), title_c, F.lit("</title></head><body>"),
        paras_c, links_html, imgs_html, F.lit("</body></html>"),
    )
    status_c = (
        F.when(i % 97 == 33, F.lit(404))
        .when(i % 131 == 57, F.lit(500))
        .otherwise(F.lit(200))
    ).cast("int")

    return df.select(
        "*",
        _c_url(i).alias("page_url"),
        _c_host(i).alias("host"),
        status_c.alias("status"),
        html_c.alias("html"),
        F.transform(js, lambda j: canon_url_of(tgt(j))).alias("out_links"),
        (10 + (i % 50)).cast("int").alias("fetch_latency_ms"),
    )


def make_fetcher(n: int):
    """A per-batch synthetic fetcher: computes page content directly from
    the URL's page index — work strictly proportional to the fetch batch,
    like real HTTP (no corpus-table scan or join at all).

    Shaped exactly like the production HTTP fetcher
    (:func:`goprowl_spark.fetchers.make_http_fetcher`): both are
    :func:`goprowl_spark.parse.url_fetcher` over the fetch-batch
    DataFrame and differ only in how one URL is fetched, so schema,
    partitioning and batch shape are identical. Page content comes from
    the same pure Python functions the trace oracle uses, so
    fetcher/oracle parity is by construction. URLs that don't round-trip
    to a valid page index fetch-fail with status 0 (reference OnError path,
    colly.go:64-71).
    """
    from goprowl_spark.parse import url_fetcher

    def open_fetch():
        # canonical heads by host id: "https://hK.test" == url(i) up to
        # "/p/", so `head == heads[host_id(i)]` validates the URL without
        # re-building the whole canonical string per row
        heads = [f"https://h{k}.test" for k in range(N_HOSTS)]

        def fetch_page(u: str):
            head, sep, tail = u.rpartition("/p/")
            # isdigit() alone admits "²", which int() rejects
            if sep and tail.isascii() and tail.isdigit():
                i = int(tail)
                # tail must round-trip (no leading zeros) — together with
                # the head check this equals `url(i) == u` without
                # building the string
                if 0 <= i < n and tail == str(i) and head == heads[host_id(i)]:
                    st = status(i)
                    return st, latency_ms(i), html(i, n) if st == 200 else None
            return 0, None, None

        return fetch_page

    return url_fetcher(open_fetch)


def table_fetcher(table: DataFrame):
    """A page table (web-archive shape: url, status, fetch_latency_ms,
    html — :func:`corpus_df` or a real archive scan) as a fetcher:
    ``fetch(batch, max_urls=None)``.

    The table is inner-joined to the batch, so a batch URL the table lacks
    gets no row — a failed fetch under the fetcher contract. The batch side
    broadcasts unless ``max_urls`` says it may exceed
    ``crawl.BROADCAST_POP_LIMIT``; the table keeps its own partitioning, so
    page payloads never shuffle. The hits are parsed in the same
    :func:`goprowl_spark.parse.fetch_and_parse` pass every fetcher uses,
    each row's stored fields standing in for the fetch."""
    from goprowl_spark.crawl import BROADCAST_POP_LIMIT
    from goprowl_spark.parse import fetch_and_parse

    pages = table.select(
        "url",
        "status",
        "fetch_latency_ms",
        # only a status-200 page is parsed: ship no other html to Python
        F.when(F.col("status") == 200, F.col("html")).alias("html"),
    )

    def open_fetch():
        return lambda url, status, latency_ms, html: (status, latency_ms, html)

    def fetch(batch: DataFrame, max_urls: int | None = None) -> DataFrame:
        if max_urls is None or max_urls <= BROADCAST_POP_LIMIT:
            batch = F.broadcast(batch)
        hit = pages.join(batch, "url", "inner")
        return fetch_and_parse(
            hit.select("url", "depth", "status", "fetch_latency_ms", "html"),
            open_fetch,
        )

    return fetch


# ---------------------------------------------------------------- sql oracle

def bfs_oracle_sql(n_expr: str, seed: int = 0, max_depth: int = 6) -> str:
    """DuckDB SQL computing the expected (url, depth) seen-set of a BFS crawl
    from page ``seed`` with the given depth cap over this corpus.

    Mirrors the crawl semantics exactly: the seed is seen at depth 0; a
    fetched page expands only if its status is 200 (reference: OnHTML fires
    only on success, colly.go:64-71,177); candidate links respect the depth
    cap (colly.MaxDepth, config.go:49); dedup keeps the first (minimum)
    depth (colly visited-set, colly.go:92-97).

    ``n_expr`` is a SQL expression for the page count N (e.g. a literal or
    ``(SELECT count(*)*10 FROM documents)``).
    """
    return f"""
WITH RECURSIVE params AS (SELECT {n_expr} AS n),
reach(i, depth) AS (
  SELECT {seed}::BIGINT AS i, 0 AS depth
  UNION
  SELECT (r.i*7 + j.j*13 + 1) % p.n AS i, r.depth + 1 AS depth
  FROM reach r, range({MAX_DEG}) j(j), params p
  WHERE j.j < 2 + (r.i % 3)
    AND r.depth < {max_depth}
    AND r.i % 97 <> 33 AND r.i % 131 <> 57
),
seen AS (SELECT i, min(depth) AS depth FROM reach GROUP BY i)
SELECT
  'https://h' || (CASE WHEN i % 10 < 3 THEN 0 ELSE 1 + (i % {N_HOSTS - 1}) END)
    || '.test/p/' || i AS url,
  CAST(depth AS INT) AS depth
FROM seen
ORDER BY url
"""


def _url_sql(col: str) -> str:
    """URL string of page index ``col`` as a SQL expression."""
    return (
        f"('https://h' || (CASE WHEN {col} % 10 < 3 THEN 0 "
        f"ELSE 1 + ({col} % {N_HOSTS - 1}) END) || '.test/p/' || {col})"
    )


def budget_bfs_oracle_sql(
    n_expr: str,
    seed: int = 0,
    max_depth: int = 4,
    budget: int = 5,
    rounds: int = 12,
    host_budgets: dict[int, int] | None = None,
) -> str:
    """DuckDB SQL replaying a politeness-BUDGETED crawl round-for-round.

    The budgeted pop is iterative-stateful (top-``budget`` per host per
    round by (priority desc ≡ depth asc, url asc); frontier carries the
    remainder), which a recursive CTE cannot express directly — but the
    round count is a fixed config, so the oracle UNROLLS the loop: one
    (pop, cand, new, seen, frontier) CTE block per round, each pure integer
    arithmetic over the synthetic graph. Mirrors crawl.crawl_round +
    politeness.pop_batch semantics exactly: non-200 pages are popped but
    not expanded; candidates take min-depth within a round; dedup is
    against the cumulative seen set; depth cap applies at enqueue time.

    ``host_budgets`` overrides the uniform ``budget`` per host id (the
    shape :func:`politeness.budget_from_crawl_delay` produces — hosts
    with a robots Crawl-delay get a derived cap, others fall back to
    ``budget``).
    """
    host_id_sql = "(CASE WHEN i % 10 < 3 THEN 0 ELSE 1 + (i % 9) END)"
    if host_budgets:
        whens = " ".join(
            f"WHEN {hid} THEN {b}" for hid, b in sorted(host_budgets.items())
        )
        budget = f"(CASE {host_id_sql} {whens} ELSE {budget} END)"
    blocks = [
        f"WITH params AS (SELECT {n_expr} AS n)",
        f"r0_seen(i, depth) AS (SELECT CAST({seed} AS BIGINT), 0)",
        f"r0_frontier(i, depth) AS (SELECT CAST({seed} AS BIGINT), 0)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        blocks.append(f"""r{r}_pop AS MATERIALIZED (
  SELECT i, depth FROM r{p}_frontier
  QUALIFY row_number() OVER (
    PARTITION BY {host_id_sql}
    ORDER BY depth ASC, {_url_sql('i')} ASC
  ) <= {budget}
)""")
        blocks.append(f"""r{r}_cand AS MATERIALIZED (
  SELECT t AS i, min(depth) AS depth FROM (
    SELECT (pp.i*7 + j.j*13 + 1) % pa.n AS t, pp.depth + 1 AS depth
    FROM r{r}_pop pp, range({MAX_DEG}) j(j), params pa
    WHERE j.j < 2 + (pp.i % 3)
      AND pp.i % 97 <> 33 AND pp.i % 131 <> 57
      AND pp.depth + 1 <= {max_depth}
  ) GROUP BY t
)""")
        blocks.append(f"""r{r}_new AS MATERIALIZED (
  SELECT c.i, c.depth FROM r{r}_cand c
  WHERE NOT EXISTS (SELECT 1 FROM r{p}_seen s WHERE s.i = c.i)
)""")
        blocks.append(
            f"r{r}_seen AS MATERIALIZED (SELECT i, depth FROM r{p}_seen"
            f" UNION ALL SELECT i, depth FROM r{r}_new)"
        )
        blocks.append(f"""r{r}_frontier AS MATERIALIZED (
  SELECT f.i, f.depth FROM r{p}_frontier f
  WHERE NOT EXISTS (SELECT 1 FROM r{r}_pop pp WHERE pp.i = f.i)
  UNION ALL SELECT i, depth FROM r{r}_new
)""")
    return (
        ",\n".join(blocks)
        + f"""
SELECT {_url_sql('i')} AS url, CAST(depth AS INT) AS depth
FROM r{rounds}_seen ORDER BY url
"""
    )
