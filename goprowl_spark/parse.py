"""HTML → interleaved span-sequence parsing (the one mandatory "real" UDF).

Reference behavior: colly's ``OnHTML("html", ...)`` callback builds a
CrawlResult with Title = ``e.ChildText("title")``, Content = ``e.Text``,
Links = ``e.ChildAttrs("a[href]", "href")`` (search/crawlers/colly.go:177-198)
and the link-follow callback absolutizes each href (colly.go:84-99).

Here a page parses into the input_hint interleaved shape — an ordered span
sequence: one ``title`` span, a ``text`` span per <p>, a ``link`` span per
<a href> (anchor text + canonical absolute target), a ``media`` span per
<img>/<video>/<audio>/<source> src, offsets in document order.

Implementation: stdlib html.parser (selectolax/lxml are not in the sandbox
image; the batch shape is identical if a faster parser is dropped in). Every
fetcher — per-URL (:func:`url_fetcher`) or a page table
(:func:`goprowl_spark.corpus.table_fetcher`) — parses inside its fetch
stage (:func:`fetch_and_parse`, one Arrow pass per batch).
:func:`parse_spans_udf` parses an html column of a table for the contract
queries that read pages straight from a table, outside any crawl.
"""

from __future__ import annotations

import re as _re
from html import unescape as _unescape
from html.parser import HTMLParser

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from goprowl_spark import schemas
from goprowl_spark.functions.urlnorm import canonicalize

_MEDIA_TAGS = {"img", "video", "audio", "source", "embed"}


class _SpanParser(HTMLParser):
    def __init__(self, base_url: str):
        super().__init__(convert_charrefs=True)
        self.base = base_url
        self.spans: list[dict] = []
        self._in_title = False
        self._title_buf: list[str] = []
        self._in_p = 0
        self._p_buf: list[str] = []
        self._in_a = 0
        self._a_buf: list[str] = []
        self._a_href: str | None = None
        self._title_emitted = False

    def _emit(self, kind: str, text: str, media_ref: str) -> None:
        self.spans.append(
            {
                "kind": kind,
                "text": text,
                "media_ref": media_ref,
                "offset": len(self.spans),
            }
        )

    def handle_starttag(self, tag, attrs):
        if tag == "title":
            self._in_title = True
        elif tag == "p":
            self._in_p += 1
        elif tag == "a":
            self._in_a += 1
            self._a_buf = []
            self._a_href = dict(attrs).get("href")
        elif tag in _MEDIA_TAGS:
            src = dict(attrs).get("src")
            if src:
                canon = canonicalize(src, self.base)
                if canon:
                    self._emit("media", "", canon)

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)

    def handle_endtag(self, tag):
        if tag == "title":
            self._in_title = False
            if not self._title_emitted:
                self._emit("title", "".join(self._title_buf).strip(), "")
                self._title_emitted = True
        elif tag == "p" and self._in_p:
            self._in_p -= 1
            text = "".join(self._p_buf).strip()
            if text:
                self._emit("text", text, "")
            self._p_buf = []
        elif tag == "a" and self._in_a:
            self._in_a -= 1
            if self._a_href is not None:
                canon = canonicalize(self._a_href, self.base)
                if canon:
                    self._emit("link", "".join(self._a_buf).strip(), canon)
            self._a_buf = []
            self._a_href = None

    def handle_data(self, data):
        if self._in_title:
            self._title_buf.append(data)
        elif self._in_a:
            self._a_buf.append(data)
        elif self._in_p:
            self._p_buf.append(data)


def parse_spans_reference(html: str | None, base_url: str | None) -> list[dict]:
    """The stdlib-HTMLParser path — tokenization semantics ground truth."""
    if not html:
        return []
    p = _SpanParser(base_url or "")
    try:
        p.feed(html)
        p.close()
    except Exception:
        return p.spans
    return p.spans


# Fast tokenizer: HTMLParser.feed spends most of its time in its own
# scanner machinery; page parsing is the crawl's single largest CPU term
# (~80% of the fetch wave). The fast path regex-tokenizes tags and drives
# the SAME _SpanParser handler methods directly, so handler-level
# semantics are identical BY CONSTRUCTION — only tokenization differs —
# and any construct the simple tokenizer could mis-lex (comments,
# script/style CDATA, processing instructions, angle brackets inside
# quoted attribute values) routes to the reference path instead.
_TAG_RE = _re.compile(r"<(/?)([a-zA-Z][^\s/>]*)([^<>]*)>")
_ATTR_RE = _re.compile(
    r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*(\"[^\"]*\"|'[^']*'|[^\s>]+))?"
)
_RISKY_RE = _re.compile(
    r"<[!?]|<\s*/?\s*(?:script|style)\b|=\s*\"[^\"]*[<>]|=\s*'[^']*[<>]|/\s+>",
    _re.I | _re.S,
)


def _split_selfclose(attrstr: str) -> tuple[str, bool]:
    """HTMLParser's rule: a trailing '/' is self-closing only when it does
    NOT attach to an unquoted attribute value (i.e. it follows nothing,
    whitespace, or a closing quote)."""
    s = attrstr.rstrip()
    if not s.endswith("/"):
        return attrstr, False
    rest = s[:-1]
    if rest == "" or rest[-1] in " \t\n\r\f\"'":
        return rest, True
    return attrstr, False


class _NeedsReference(Exception):
    pass


def _parse_spans_fast(html: str, base_url: str) -> list[dict]:
    p = _SpanParser(base_url)
    pos = 0
    for m in _TAG_RE.finditer(html):
        if m.start() > pos:
            data = html[pos : m.start()]
            if "<" in data:
                # a raw '<' the tokenizer left in text = malformed markup
                # (an unterminated tag) — HTMLParser lexes those
                # differently, so defer to it
                raise _NeedsReference
            p.handle_data(_unescape(data) if "&" in data else data)
        pos = m.end()
        closing, name, attrstr = m.groups()
        name = name.lower()
        if closing:
            p.handle_endtag(name)
            continue
        attrstr, selfclose = _split_selfclose(attrstr)
        attrs = []
        if attrstr and not attrstr.isspace():
            for am in _ATTR_RE.finditer(attrstr):
                k = am.group(1).lower()
                v = am.group(2)
                if v is not None:
                    if v[:1] in ('"', "'"):
                        v = v[1:-1]
                    if "&" in v:
                        v = _unescape(v)
                attrs.append((k, v))
        if selfclose:
            p.handle_startendtag(name, attrs)
        else:
            p.handle_starttag(name, attrs)
    if pos < len(html):
        data = html[pos:]
        if "<" in data:
            raise _NeedsReference
        p.handle_data(_unescape(data) if "&" in data else data)
    return p.spans


def parse_spans(html: str | None, base_url: str | None) -> list[dict]:
    if not html:
        return []
    if _RISKY_RE.search(html):
        return parse_spans_reference(html, base_url)
    try:
        return _parse_spans_fast(html, base_url or "")
    except _NeedsReference:
        return parse_spans_reference(html, base_url)


@F.pandas_udf(schemas.DOCUMENTS["spans"].dataType)
def parse_spans_udf(html: pd.Series, base_url: pd.Series) -> pd.Series:
    return pd.Series(
        [parse_spans(h, b) for h, b in zip(html, base_url)], dtype="object"
    )


_SPAN_ARROW = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
# The one fetch output shape: every fetcher yields these columns.
_FETCHED_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("depth", pa.int32()),
        ("status", pa.int32()),
        ("fetch_latency_ms", pa.int32()),
        ("spans", pa.list_(_SPAN_ARROW)),
    ]
)


def fetch_and_parse(batch: DataFrame, open_fetch) -> DataFrame:
    """``batch(url, depth, *extra)`` → ``(url, depth, status,
    fetch_latency_ms, spans)`` in ONE ``mapInArrow`` pass: fetch each page,
    parse it into its span sequence in the same Python pass, so page bytes
    never travel back across the Arrow boundary (the fetch+parse wave pays
    one Python stage and ships spans once).

    ``open_fetch()`` runs once per task (a pooled HTTP session lives that
    long) and returns ``fetch(url, *extra) -> (status, latency_ms, html)``,
    where ``extra`` are the row's values of the batch columns other than
    url and depth, in batch order (a page table hands over its own stored
    fields; a per-URL fetch takes the url alone). Only a status-200 page is
    parsed; every other row gets empty spans.

    The spans column is built as a ListArray/StructArray straight from flat
    Python lists: pandas object-dtype list-of-dict rows pay a per-element
    inference/convert on the way back to the JVM, measured ~2x costlier on
    the serialization half of the fetch wave (guide §4.2: hand whole
    batches to vectorized native code)."""
    extra = [c for c in batch.columns if c not in ("url", "depth")]

    def gen(batches):
        fetch = open_fetch()
        for rb in batches:
            statuses, lats = [], []
            kinds: list[str] = []
            texts: list[str] = []
            refs: list[str] = []
            offs: list[int] = []
            offsets = [0]
            cols = [rb.column(i).to_pylist() for i in range(rb.num_columns) if i != 1]
            for u, *args in zip(*cols):
                st, lat, page = fetch(u, *args)
                statuses.append(st)
                lats.append(lat)
                if st == 200:
                    for s in parse_spans(page, u):
                        kinds.append(s["kind"])
                        texts.append(s["text"])
                        refs.append(s["media_ref"])
                        offs.append(s["offset"])
                offsets.append(len(kinds))
            spans = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()),
                pa.StructArray.from_arrays(
                    [
                        pa.array(kinds, pa.string()),
                        pa.array(texts, pa.string()),
                        pa.array(refs, pa.string()),
                        pa.array(offs, pa.int32()),
                    ],
                    fields=list(_SPAN_ARROW),
                ),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),
                    rb.column(1),
                    pa.array(statuses, pa.int32()),
                    pa.array(lats, pa.int32()),
                    spans,
                ],
                schema=_FETCHED_ARROW,
            )

    return batch.select(
        "url", F.col("depth").cast("int").alias("depth"), *extra
    ).mapInArrow(gen, schema=from_arrow_schema(_FETCHED_ARROW))


# Fetch-stage tasks per core for a per-URL fetch: more than one smooths
# stragglers in the Python fetch+parse map stage — with exactly one task
# per core the slowest task gates the whole wave. The repartition shuffles
# only (url, depth) rows, negligible next to the per-URL fetch/parse work.
FETCH_TASKS_PER_CORE = 3
# ...but task count never exceeds what the batch can fill: small early
# rounds are BARRIER-bound, not straggler-bound (measured: a 75k-URL round 1
# ran its fetch wave at 3.5x worse per-URL throughput than the 475k round 3
# — pure per-task dispatch overhead), so tasks are capped at ~one per this
# many URLs, floored at one task per core.
FETCH_TARGET_URLS_PER_TASK = 10_000


def url_fetcher(open_fetch):
    """The fetcher over a per-URL fetch (``open_fetch`` as in
    :func:`fetch_and_parse`): ``fetch(batch, max_urls=None)``.

    Given ``max_urls``, an upper bound on the batch's row count, it first
    spreads the batch over the fetch tasks that bound can fill; without one
    it fetches the batch in its own partitioning."""

    def fetch(batch: DataFrame, max_urls: int | None = None) -> DataFrame:
        if max_urls is not None:
            par = batch.sparkSession.sparkContext.defaultParallelism
            batch = batch.repartition(
                min(
                    par * FETCH_TASKS_PER_CORE,
                    max(par, max_urls // FETCH_TARGET_URLS_PER_TASK + 1),
                )
            )
        return fetch_and_parse(batch, open_fetch)

    return fetch


def with_document_columns(fetched: DataFrame, round_no: int) -> DataFrame:
    """fetched(url, depth, status, fetch_latency_ms, spans) → documents
    rows for successfully fetched pages.

    Derived columns (all JVM-side over the parsed spans):
      title        — first title-span text (CrawlResult.Title, colly.go:181)
      content      — space-joined non-empty span texts (CrawlResult.Content
                     analog of e.Text, colly.go:183; exact whitespace of
                     goquery's .Text() is not reproduced — the span sequence
                     is the per-row invariant, content is derived from it)
      content_hash — xxhash64(content) (PageContent.ContentHash,
                     search/crawlers/types.go:44; TODO.md:54)
    """
    spans = F.col("spans")
    title = F.element_at(
        F.filter(spans, lambda s: s["kind"] == F.lit("title")), 1
    )["text"]
    texts = F.filter(spans, lambda s: s["text"] != F.lit(""))
    content = F.array_join(F.transform(texts, lambda s: s["text"]), " ")
    links = F.transform(
        F.filter(spans, lambda s: s["kind"] == F.lit("link")),
        lambda s: s["media_ref"],
    )
    return (
        fetched.where(F.col("status") == 200)
        .select(
            F.col("url").alias("doc_id"),
            "spans",
            F.coalesce(title, F.lit("")).alias("title"),
            content.alias("content"),
            F.lit("webpage").alias("doc_type"),
            F.xxhash64(content).alias("content_hash"),
            F.lit(round_no).cast("int").alias("fetched_round"),
            # the fetch batch's BFS depth rides into the table so link
            # expansion is a map-only projection (spans, fetched_depth) —
            # no join back to the popped batch (a full extra shuffle pair
            # per round before this column existed)
            F.col("depth").cast("int").alias("fetched_depth"),
            # the reference adapter stores the links list in metadata
            # (adapters/storage/adapter.go:42-72); map<string,string> per
            # SURVEY §1, so the list is space-joined
            F.create_map(
                F.lit("links"), F.array_join(links, " ")
            ).alias("metadata"),
            F.lit(None).cast("array<string>").alias("permission_read"),
            F.lit(None).cast("array<string>").alias("permission_write"),
        )
    )


def extract_links(documents: DataFrame) -> DataFrame:
    """documents → (src_url, src_depth?, link) one row per link span, in
    document order (reference: OnHTML("a[href]") colly.go:84-99). Links are
    already canonical absolute URLs from ``parse_spans``. ``src_depth`` is
    included when the table carries ``fetched_depth`` (map-only; columnar
    scan prunes to spans + fetched_depth)."""
    cols = [F.col("doc_id").alias("src_url")]
    if "fetched_depth" in documents.columns:
        cols.append(F.col("fetched_depth").alias("src_depth"))
    return documents.select(
        *cols,
        F.explode(
            F.transform(
                F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("link")),
                lambda s: s["media_ref"],
            )
        ).alias("link"),
    )
