"""Inverted-index postings + TF-IDF / BM25 ranking (SURVEY.md §2.4/§2.8).

Reference: the in-memory InvertedIndex (search/engine/indexer/indexer.go:
10-18) — ``map[term]map[docID]tf`` + doc lengths — becomes two DataFrames
(postings, doc_stats) built with explode + groupBy: partial (map-side)
aggregation makes this a single shuffle at any scale.

Scoring runs over ONE relation, ``qpost = (doc_id, doc_len, term, tf)``
restricted to the query terms, built by either of two front-ends:

* :func:`index_query_postings` — from the maintained ``postings ⋈
  doc_stats`` tables (engine.search_ranked);
* :func:`docs_query_postings` — straight from the documents table, in one
  tokenize Generate that carries doc_len (the contract queries).

Both restrict ``term`` with a literal IN list rather than a join. A join
cannot be pushed below build_postings's groupBy by Catalyst (joins do not
move through aggregates), so the tf aggregation would shuffle the ENTIRE
exploded vocabulary before the slice. A literal IN filter on a grouping
column IS pushed through the aggregate down to the exploded tokens,
shrinking that shuffle to just the query terms' postings (measured 6.6 s →
1.4 s on the sf0.1 tfidf_search headline, bit-identical output).

Two scorers take ``qpost`` and a ``{query_id: query}`` batch and return
``(query_id, doc_id, score)``; a single query is a one-entry batch. Both
are closed-form Column algebra — no UDFs:

* :func:`tfidf_scores` is bug-compatible with indexer.Search
  (indexer.go:59-83): tokenized query terms keep their multiplicity,
  tf is length-normalized, and IDF uses the reference's *integer division*
  ``1.0 + totalDocs/docsWithTerm`` (indexer.go:98-100 — e.g. N=10, df=3
  → 1+3=4.0, not 1+3.33);
* :func:`bm25_scores` implements Ranker.Score (search/engine/ranking/
  ranker.go:14-41): idf = ln(1+(N-df+0.5)/(df+0.5)), k1=1.2, b=0.75,
  with the boost product applied as a plain multiply (BoostScore,
  ranker.go:35-41).

Each query batch's ``(query_id, term, mult)`` rows are a LocalRelation
built with session.local_df. As a ``createDataFrame`` over a Python list
they were a PythonRDD (``Scan ExistingRDD``), costing ~0.35 s of JVM plus
~0.9 s of Python-worker CPU per ranked query on a 4-core box.

The corpus stats ``total_docs`` and ``avgdl`` are each a number (e.g. a
per-snapshot cached value) or a 1-row DataFrame (:func:`count_df`,
:func:`avgdl_df`) that rides a broadcast cross join, so a cold query needs
no separate blocking stats job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from goprowl_spark.session import local_df

K1 = 1.2  # ranker.go:16
B = 0.75  # ranker.go:17


def tokenize(text: str) -> list[str]:
    """Reference tokenizer (indexer.go:93-96): lowercase + whitespace split."""
    return text.lower().split()


def tokens_col(col):
    """The same tokenizer as a Column expression (F3: split+lower)."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != F.lit(""))


def build_postings(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "content"
) -> DataFrame:
    """term → (doc, tf) postings (A3; IndexDocument indexer.go:30-57).

    Deliberately does NOT repartition its input: it runs inside the crawl
    tail write (crawl.py), where an injected exchange would change the
    round's tuned shuffle structure. Callers feeding it a narrow raw scan
    (single small parquet file) should spread it first — see
    session.spread_narrow_scan and contract._docs_spread."""
    return (
        documents.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens_col(F.col(text_col))).alias("term"),
        )
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )


def build_doc_stats(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "content"
) -> DataFrame:
    """doc → token count (A4; indexer.go:39-46)."""
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens_col(F.col(text_col))).cast("long").alias("doc_len"),
    )


def _batch_query_terms(queries: dict[str, str]) -> list[tuple[str, str, int]]:
    """(query_id, term, multiplicity) rows — ONE tokenization used by both
    the Spark scorers and the batch SQL oracles so they can never drift."""
    rows: list[tuple[str, str, int]] = []
    for qid, q in sorted(queries.items()):
        counts: dict[str, int] = {}
        for t in tokenize(q):
            counts[t] = counts.get(t, 0) + 1
        rows.extend((qid, t, n) for t, n in counts.items())
    return rows


def _query_term_filter(queries: dict[str, str]):
    """Literal ``term IN (...)`` over every query's tokens (module
    docstring: why a literal list and not a join)."""
    return F.col("term").isin(
        sorted({t for q in queries.values() for t in tokenize(q)})
    )


def index_query_postings(
    postings: DataFrame, doc_stats: DataFrame, queries: dict[str, str]
) -> DataFrame:
    """qpost from the maintained index: the query terms' postings, each
    with its document's length."""
    return postings.where(_query_term_filter(queries)).join(doc_stats, "doc_id")


def docs_query_postings(
    documents: DataFrame,
    queries: dict[str, str],
    id_col: str = "doc_id",
    text_col: str = "content",
) -> DataFrame:
    """qpost from the documents table in ONE tokenize pass (guide §1.2
    step 1 / §2.3).

    build_postings + build_doc_stats + their doc_id join would tokenize the
    corpus once per branch; carrying doc_len through the explode collapses
    them into one Generate. The aggregation key gains ``doc_len``, which is
    functionally dependent on doc_id, so the (term, doc_id, tf) groups are
    unchanged. The IN filter prunes the exploded stream before the partial
    aggregation."""
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        tokens_col(F.col(text_col)).alias("__toks"),
    )
    return (
        toks.select(
            "doc_id",
            F.size("__toks").cast("long").alias("doc_len"),
            F.explode("__toks").alias("term"),
        )
        .where(_query_term_filter(queries))
        .groupBy("doc_id", "doc_len", "term")
        .agg(F.count("*").alias("tf"))
    )


def count_df(documents: DataFrame) -> DataFrame:
    """1-row corpus size, usable as ``total_docs``."""
    return documents.agg(F.count("*").cast("double").alias("_n"))


def avgdl_df(doc_stats: DataFrame) -> DataFrame:
    """1-row mean ``doc_len`` (0 for an empty corpus), usable as
    ``avgdl``."""
    return doc_stats.agg(F.coalesce(F.avg("doc_len"), F.lit(0.0)).alias("_avgdl"))


def _per_query_term(
    qpost: DataFrame, queries: dict[str, str], **stats
) -> DataFrame:
    """qpost rows with df(term), each query's term multiplicity ``mult``,
    and every corpus stat in ``stats`` as a column of that name.

    df(t) is a COUNT window over qpost — rows are unique per (term, doc),
    so count == countDistinct, and the qpost subtree is evaluated ONCE (a
    groupBy + self-join would build it twice). It is taken BEFORE the
    multiplicities join in, so a term shared by two queries does not
    double-count its postings. A stat is either a number (a literal) or a
    1-row DataFrame (a broadcast cross join)."""
    terms = local_df(
        qpost.sparkSession,
        _batch_query_terms(queries),
        "query_id string, term string, mult long",
    )
    base = qpost.withColumn(
        "df", F.count("*").over(Window.partitionBy("term"))
    ).join(F.broadcast(terms), "term")
    for name, value in stats.items():
        if isinstance(value, DataFrame):
            base = base.crossJoin(F.broadcast(value.toDF(name)))
        else:
            base = base.withColumn(name, F.lit(float(value)))
    return base


def tfidf_scores(
    qpost: DataFrame, queries: dict[str, str], total_docs
) -> DataFrame:
    """indexer.Search (indexer.go:59-83) for every query in the batch:

    score(q, d) = Σ_t mult(q, t) · (tf(t,d)/len(d)) · (1.0 + N intdiv df(t))
    """
    base = _per_query_term(qpost, queries, _n=total_docs)
    idf = 1.0 + F.floor(F.col("_n") / F.col("df"))
    term_score = (
        F.col("mult") * (F.col("tf").cast("double") / F.col("doc_len")) * idf
    )
    return base.groupBy("query_id", "doc_id").agg(
        F.sum(term_score).alias("score")
    )


def bm25_scores(
    qpost: DataFrame,
    queries: dict[str, str],
    total_docs,
    avgdl,
    boost: float = 1.0,
) -> DataFrame:
    """Ranker.Score summed over each query's terms (ranker.go:22-41),
    times ``boost`` (BoostScore, ranker.go:35-41)."""
    base = _per_query_term(qpost, queries, _n=total_docs, _avgdl=avgdl)
    n, df = F.col("_n"), F.col("df")
    idf = F.log(1 + (n - df + 0.5) / (df + 0.5))
    tf = F.col("tf").cast("double")
    denom = tf + K1 * (1 - B + B * F.col("doc_len") / F.col("_avgdl"))
    term_score = F.col("mult") * idf * (tf * (K1 + 1)) / denom
    return base.groupBy("query_id", "doc_id").agg(
        (F.sum(term_score) * F.lit(boost)).alias("score")
    )


# ------------------------------------------------------------ sql oracles


def postings_sql(table: str, id_col: str, text_col: str) -> str:
    return f"""
SELECT term, doc_id, count(*) AS tf
FROM (
  SELECT {id_col} AS doc_id,
         unnest(regexp_split_to_array(lower({text_col}), '\\s+')) AS term
  FROM {table}
)
WHERE term <> ''
GROUP BY term, doc_id
"""


def tfidf_batch_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    queries: dict[str, str],
    round_to: int = 4,
) -> str:
    terms_values = ", ".join(
        f"('{q}', '{t}', {n})" for q, t, n in _batch_query_terms(queries)
    )
    return f"""
WITH postings AS ({postings_sql(table, id_col, text_col)}),
doc_stats AS (
  SELECT {id_col} AS doc_id,
         len(list_filter(regexp_split_to_array(lower({text_col}), '\\s+'),
                         t -> t <> '')) AS doc_len
  FROM {table}
),
qterms(query_id, term, mult) AS (VALUES {terms_values}),
dterms AS (SELECT DISTINCT term FROM qterms),
dfs AS (
  SELECT term, count(DISTINCT doc_id) AS df
  FROM postings JOIN dterms USING (term) GROUP BY term
),
total AS (SELECT count(*) AS n FROM {table})
SELECT q.query_id, p.doc_id,
       round(sum(q.mult * (p.tf * 1.0 / s.doc_len)
                 * (1.0 + floor(t.n * 1.0 / d.df))), {round_to}) AS score
FROM postings p
JOIN qterms q USING (term)
JOIN dfs d USING (term)
JOIN doc_stats s USING (doc_id)
CROSS JOIN total t
GROUP BY q.query_id, p.doc_id
ORDER BY query_id, doc_id
"""


def bm25_batch_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    queries: dict[str, str],
    round_to: int = 4,
) -> str:
    terms_values = ", ".join(
        f"('{q}', '{t}', {n})" for q, t, n in _batch_query_terms(queries)
    )
    return f"""
WITH postings AS ({postings_sql(table, id_col, text_col)}),
doc_stats AS (
  SELECT {id_col} AS doc_id,
         len(list_filter(regexp_split_to_array(lower({text_col}), '\\s+'),
                         t -> t <> '')) AS doc_len
  FROM {table}
),
qterms(query_id, term, mult) AS (VALUES {terms_values}),
dterms AS (SELECT DISTINCT term FROM qterms),
dfs AS (
  SELECT term, count(DISTINCT doc_id) AS df
  FROM postings JOIN dterms USING (term) GROUP BY term
),
total AS (SELECT count(*) AS n FROM {table}),
avg_len AS (SELECT avg(doc_len) AS avgdl FROM doc_stats)
SELECT q.query_id, p.doc_id,
       round(sum(q.mult * ln(1 + (t.n - d.df + 0.5) / (d.df + 0.5))
                 * (p.tf * ({K1} + 1))
                 / (p.tf + {K1} * (1 - {B} + {B} * s.doc_len / a.avgdl))),
             {round_to}) AS score
FROM postings p
JOIN qterms q USING (term)
JOIN dfs d USING (term)
JOIN doc_stats s USING (doc_id)
CROSS JOIN total t
CROSS JOIN avg_len a
GROUP BY q.query_id, p.doc_id
ORDER BY query_id, doc_id
"""


def tfidf_oracle_sql(
    table: str, id_col: str, text_col: str, query: str, round_to: int = 4
) -> str:
    toks = tokenize(query)
    counts: dict[str, int] = {}
    for t in toks:
        counts[t] = counts.get(t, 0) + 1
    terms_values = ", ".join(
        f"('{t}', {n})" for t, n in counts.items()
    )
    return f"""
WITH postings AS ({postings_sql(table, id_col, text_col)}),
doc_stats AS (
  SELECT {id_col} AS doc_id,
         len(list_filter(regexp_split_to_array(lower({text_col}), '\\s+'),
                         t -> t <> '')) AS doc_len
  FROM {table}
),
qterms(term, mult) AS (VALUES {terms_values}),
dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM postings GROUP BY term),
total AS (SELECT count(*) AS n FROM {table})
SELECT p.doc_id,
       round(sum(q.mult * (p.tf * 1.0 / s.doc_len)
                 * (1.0 + floor(t.n * 1.0 / d.df))), {round_to}) AS score
FROM postings p
JOIN qterms q USING (term)
JOIN dfs d USING (term)
JOIN doc_stats s USING (doc_id)
CROSS JOIN total t
GROUP BY p.doc_id
ORDER BY score DESC, doc_id ASC
"""


def bm25_oracle_sql(
    table: str, id_col: str, text_col: str, query: str, round_to: int = 4
) -> str:
    toks = tokenize(query)
    counts: dict[str, int] = {}
    for t in toks:
        counts[t] = counts.get(t, 0) + 1
    terms_values = ", ".join(f"('{t}', {n})" for t, n in counts.items())
    return f"""
WITH postings AS ({postings_sql(table, id_col, text_col)}),
doc_stats AS (
  SELECT {id_col} AS doc_id,
         len(list_filter(regexp_split_to_array(lower({text_col}), '\\s+'),
                         t -> t <> '')) AS doc_len
  FROM {table}
),
qterms(term, mult) AS (VALUES {terms_values}),
dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM postings GROUP BY term),
total AS (SELECT count(*) AS n FROM {table}),
avg_len AS (SELECT avg(doc_len) AS avgdl FROM doc_stats)
SELECT p.doc_id,
       round(sum(q.mult * ln(1 + (t.n - d.df + 0.5) / (d.df + 0.5))
                 * (p.tf * ({K1} + 1))
                 / (p.tf + {K1} * (1 - {B} + {B} * s.doc_len / a.avgdl))),
             {round_to}) AS score
FROM postings p
JOIN qterms q USING (term)
JOIN dfs d USING (term)
JOIN doc_stats s USING (doc_id)
CROSS JOIN total t
CROSS JOIN avg_len a
GROUP BY p.doc_id
ORDER BY score DESC, doc_id ASC
"""
