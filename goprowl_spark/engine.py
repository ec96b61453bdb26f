"""SearchEngine facade — the reference's engine interface (U4) over the
DataFrame pipeline.

Reference: search/engine/types.go:84-105 (Index, BatchIndex, Search,
SearchWithOptions, GetTotalResults, Suggest, Delete, List, Clear, Stats,
Reindex) as implemented by BasicSearchEngine (basic_search.go). A user of
the reference switches to this class and keeps every call they make today;
each method delegates to the distributed operators.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goprowl_spark import ranking, schemas
from goprowl_spark import search as gsearch
from goprowl_spark.session import local_df
from goprowl_spark.store import DocumentStore


@dataclass
class SearchStats:
    document_count: int
    last_indexed_snapshot: int | None
    # SearchStats.IndexSize (engine/types.go:60-64): bytes of the current
    # documents table's data files
    index_size_bytes: int = 0


class GoProwlSearchEngine:
    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.store = DocumentStore(spark, workdir)

    # ------------------------------------------------------------ indexing

    def index(
        self,
        doc_id: str,
        title: str,
        content: str,
        doc_type: str = "webpage",
        metadata: dict[str, str] | None = None,
        permission_read: list[str] | None = None,
        permission_write: list[str] | None = None,
    ) -> None:
        """Index one document (reference Index, basic_search.go:139-199;
        empty-field guard P8 at :174-182 — empty title/content still stored,
        matching the storage write there). ``metadata`` is the arbitrary
        per-doc bag (storage/types.go:15); permissions per
        engine/types.go:69-81 (None = public)."""
        df = local_df(
            self.spark,
            [
                (
                    doc_id,
                    [("title", title, "", 0), ("text", content, "", 1)],
                    title,
                    content,
                    doc_type,
                    None,
                    None,
                    None,
                    metadata,
                    permission_read,
                    permission_write,
                )
            ],
            schemas.DOCUMENTS,
        ).withColumn("content_hash", F.xxhash64("content"))
        self.store.batch_store(df)

    def batch_index(self, docs: DataFrame) -> None:
        """BatchIndex (basic_search.go:201-221) — one snapshot per batch."""
        self.store.batch_store(docs)

    def delete(self, doc_id: str) -> None:
        self.store.delete(doc_id)

    def clear(self) -> None:
        self.store.clear()

    def reindex(self) -> DataFrame:
        """Reindex (stub in reference, basic_search.go:233-236; real here):
        rebuild postings + doc_stats from the stored documents and COMMIT
        them as the maintained index tables (a new snapshot). Day-to-day
        the index stays fresh incrementally (store.batch_store/delete);
        reindex is the full-rebuild escape hatch."""
        from goprowl_spark import store as store_mod

        docs = self.store.get_all()
        self.store.catalog.commit(
            {
                store_mod.POSTINGS: ranking.build_postings(docs),
                store_mod.DOC_STATS: ranking.build_doc_stats(docs),
            }
        )
        return self.store.postings()

    def search_ranked(
        self, query: str, scorer: str = "bm25", k: int = 10
    ) -> DataFrame:
        """Ranked retrieval over the MAINTAINED index tables — the
        indexer.Search / Ranker.Score path (indexer.go:59-83,
        ranker.go:14-41), served from materialized postings instead of a
        per-query corpus re-tokenize. Returns top-k (doc_id, score)."""
        if not self.store.has_index():
            # workdir without maintained index tables (e.g. a crawl with
            # maintain_index off): build + commit them once, then serve
            self.reindex()
        postings = self.store.postings()
        stats = self.store.doc_stats()
        # corpus stats (N, avgdl) are per-snapshot constants — compute once
        # per snapshot, not per query
        sid = self.store.catalog.latest()
        cached = getattr(self, "_corpus_stats", None)
        if cached is None or cached[0] != sid:
            row = stats.agg(
                F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")
            ).collect()[0]
            cached = (sid, int(row["n"]), float(row["avgdl"] or 0.0))
            self._corpus_stats = cached
        _, total, avgdl = cached
        queries = {"q": query}
        qpost = ranking.index_query_postings(postings, stats, queries)
        if scorer == "bm25":
            scored = ranking.bm25_scores(qpost, queries, total, avgdl)
        elif scorer == "tfidf":
            scored = ranking.tfidf_scores(qpost, queries, total)
        else:
            raise ValueError(f"unknown scorer {scorer!r}")
        return (
            scored.select("doc_id", "score")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )

    # ------------------------------------------------------------ queries

    def search(
        self,
        query: str,
        filters: dict[str, str] | None = None,
        page: int = 1,
        size: int = 10,
        strict: bool = False,
        read_role: str | None = None,
    ) -> DataFrame:
        """``read_role``: enforce document read permissions
        (engine/types.go:69-81) — only docs that are public (null/empty
        permission_read) or grant the role are searched."""
        docs = self.store.get_all()
        if read_role is not None:
            public = F.col("permission_read").isNull() | (
                F.size("permission_read") == 0
            )
            docs = docs.where(
                public | F.array_contains("permission_read", read_role)
            )
        return gsearch.search(
            docs, query, filters=filters, page=page, size=size, strict=strict,
        )

    def search_with_options(
        self,
        query: str,
        filters: dict[str, str] | None = None,
        page: int = 1,
        size: int = 10,
        sort_by: str | None = None,
        sort_order: str | None = None,
    ) -> DataFrame:
        """SearchWithOptions (basic_search.go:321-339): parse + paginate +
        delegate. SortBy/SortOrder are accepted and IGNORED exactly like
        the reference (dead SearchOptions fields — no consumer)."""
        del sort_by, sort_order  # reference parity: never consulted
        return self.search(query, filters=filters, page=page, size=size)

    def get_total_results(self, query: str) -> int:
        """GetTotalResults (basic_search.go:341-361)."""
        terms = gsearch.parse_query(query)
        docs = self.store.get_all()
        score = gsearch.compile_score(terms, F.col("title"), F.col("content"))
        return docs.where(score > 0).count()

    def suggest(self, prefix: str, limit: int = 10) -> list[str]:
        """Suggest (stub in reference, basic_search.go:228-231; real here):
        vocabulary terms with the given prefix. The distinct vocabulary is
        materialized (cached) per snapshot — repeated suggest calls don't
        rebuild the postings."""
        sid = self.store.catalog.latest()
        cached = getattr(self, "_vocab_cache", None)
        if cached is None or cached[0] != sid:
            if cached is not None:
                cached[1].unpersist()
            source = (
                self.store.postings()
                if self.store.has_index()
                # no maintained index (e.g. plain-crawl workdir): build the
                # vocabulary from the documents on the fly, don't commit
                else ranking.build_postings(self.store.get_all())
            )
            vocab_df = source.select("term").distinct().persist()
            self._vocab_cache = (sid, vocab_df)
        vocab = (
            self._vocab_cache[1]
            .where(F.col("term").startswith(prefix))
            .orderBy("term")
            .limit(limit)
        )
        return [r["term"] for r in vocab.collect()]

    def facets(self) -> DataFrame:
        return gsearch.facets(self.store.get_all())

    def list(self) -> DataFrame:
        return self.store.list()

    def stats(self) -> SearchStats:
        return SearchStats(
            document_count=self.store.get_all().count(),
            last_indexed_snapshot=self.store.catalog.latest(),
            index_size_bytes=self.store.table_size_bytes(),
        )
