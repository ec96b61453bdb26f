"""All table schemas (fixed StructTypes — the reference's dynamic
``map[string]interface{}`` bags become typed columns, SURVEY.md §1).

The ``documents`` shape is mandated by BASELINE.json:input_hint:
``doc_id:string, spans:array<struct<kind,text,media_ref,offset>>`` —
GoProwl's CrawlResult fields (reference: search/crawlers/types.go:17-23)
map onto ordered spans: kind ∈ {title, text, link, media}.
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

# Canonical stored document (reference: search/storage/types.go:10-17 via
# the input_hint interleaved shape). fetched_round replaces the wall-clock
# CreatedAt (determinism: no wall clock in data paths).
# metadata: the reference's arbitrary per-doc bag (storage/types.go:15;
# the adapter stuffs links into it, adapters/storage/adapter.go:42-72).
# permission_read/write: the Document permission roles
# (engine/types.go:69-81); empty/null = public.
DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("doc_type", T.StringType(), True),
        T.StructField("content_hash", T.LongType(), True),
        T.StructField("fetched_round", T.IntegerType(), True),
        T.StructField("fetched_depth", T.IntegerType(), True),
        T.StructField(
            "metadata", T.MapType(T.StringType(), T.StringType()), True
        ),
        T.StructField("permission_read", T.ArrayType(T.StringType()), True),
        T.StructField("permission_write", T.ArrayType(T.StringType()), True),
    ]
)

# URL frontier (reference equivalent: colly's internal queue + MaxDepth,
# search/crawlers/config.go:49, colly.go:84-99).
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("discovered_round", T.IntegerType(), False),
    ]
)

# URL-seen set (reference: colly visited-set dedup, colly.go:92-97).
SEEN = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("first_seen_round", T.IntegerType(), False),
    ]
)

# Per-bucket seen-filter shards (Bloom or cuckoo blobs) over seen url_hash
# values, one live row per bucket. A round upserts the buckets it touched,
# stamped with a generation (= round): it appends their rows and deletes
# their keys through the catalog's delete log, which compacts the table
# when the log is full (tables.SnapshotCatalog.remove).
SEEN_BLOOM = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("filter_blob", T.BinaryType(), False),
        T.StructField("n_items", T.LongType(), False),
        T.StructField("gen", T.IntegerType(), False),
    ]
)

# The one-column keys of delete deltas: documents and the index tables are
# keyed by doc_id, seen and frontier by url, seen_bloom by bucket.
DOC_ID_KEY = T.StructType([T.StructField("doc_id", T.StringType(), False)])
URL_KEY = T.StructType([T.StructField("url", T.StringType(), False)])
BUCKET_KEY = T.StructType([T.StructField("bucket", T.IntegerType(), False)])

# Synthetic page corpus — the sandbox "internet" the fetch stage joins
# against instead of HTTP (reference fetch: collector.Visit colly.go:209).
PAGE_CORPUS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("html", T.StringType(), False),
        T.StructField("out_links", T.ArrayType(T.StringType()), False),
        T.StructField("fetch_latency_ms", T.IntegerType(), False),
    ]
)

# robots.txt rules per host (reference dep: temoto/robotstxt via go.mod:59).
ROBOTS_RULES = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("disallow_prefixes", T.ArrayType(T.StringType()), False),
        T.StructField("crawl_delay_ms", T.IntegerType(), False),
    ]
)

# Per-host politeness budgets (reference: colly.LimitRule colly.go:201-207).
HOST_BUDGET = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("max_fetches_per_round", T.IntegerType(), False),
        T.StructField("delay_ms", T.IntegerType(), False),
    ]
)

# Per-round lineage + counters (reference: CrawlStatus types.go:29-38 and
# the Prometheus families metrics/collector.go:56-129).
CRAWL_METRICS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("frontier_size", T.LongType(), False),
        T.StructField("popped", T.LongType(), False),
        T.StructField("fetched_ok", T.LongType(), False),
        T.StructField("fetched_err", T.LongType(), False),
        T.StructField("links_extracted", T.LongType(), False),
        T.StructField("candidates", T.LongType(), False),
        T.StructField("deduped", T.LongType(), False),
        T.StructField("enqueued", T.LongType(), False),
        T.StructField("seen_cardinality", T.LongType(), False),
        T.StructField("dedup_rate", T.DoubleType(), False),
        T.StructField("fetch_latency_p50_ms", T.DoubleType(), False),
        T.StructField("fetch_latency_p99_ms", T.DoubleType(), False),
        T.StructField("round_wall_sec", T.DoubleType(), False),
    ]
)

# Inverted-index postings (reference: indexer/indexer.go:10-18).
# Per-partition lineage (north_star: "commits per-partition lineage and
# counters to Iceberg"): row counts per physical partition of each table
# written in a round — the audit trail for resume + skew diagnosis.
PARTITION_LINEAGE = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("table", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("rows", T.LongType(), False),
    ]
)

POSTINGS = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tf", T.LongType(), False),
    ]
)

DOC_STATS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("doc_len", T.LongType(), False),
    ]
)
