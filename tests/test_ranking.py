"""TF-IDF / BM25 golden tests vs a direct Python re-derivation of the
reference formulas (indexer.go:59-100, ranker.go:14-41), plus DuckDB SQL
oracle parity."""

import math

import duckdb
import pandas as pd
import pytest

from goprowl_spark import ranking as R
from goprowl_spark.engine import GoProwlSearchEngine

DOCS = [
    ("d1", "spark makes big data simple"),
    ("d2", "spark spark spark everywhere"),
    ("d3", "data pipelines move data"),
    ("d4", "nothing to see here at all"),
    ("d5", "big data big compute big results"),
    ("d6", "simple spark data"),
    ("d7", "one two three four five six seven eight nine ten"),
    ("d8", "spark data spark data"),
    ("d9", "unrelated words only"),
    ("d10", "big spark"),
]


def py_tfidf(query: str) -> dict[str, float]:
    """Direct port of indexer.Search semantics for the golden check."""
    docs = {d: t.lower().split() for d, t in DOCS}
    index: dict[str, dict[str, int]] = {}
    for d, toks in docs.items():
        for t in toks:
            index.setdefault(t, {}).setdefault(d, 0)
            index[t][d] += 1
    n = len(docs)
    scores: dict[str, float] = {}
    for term in query.lower().split():
        if term not in index:
            continue
        idf = 1.0 + n // len(index[term])  # integer division quirk
        for d, tf in index[term].items():
            scores[d] = scores.get(d, 0.0) + (tf / len(docs[d])) * idf
    return scores


def py_bm25(query: str) -> dict[str, float]:
    docs = {d: t.lower().split() for d, t in DOCS}
    index: dict[str, dict[str, int]] = {}
    for d, toks in docs.items():
        for t in toks:
            index.setdefault(t, {}).setdefault(d, 0)
            index[t][d] += 1
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    scores: dict[str, float] = {}
    for term in query.lower().split():
        if term not in index:
            continue
        df = len(index[term])
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for d, tf in index[term].items():
            dl = len(docs[d])
            s = idf * (tf * (R.K1 + 1)) / (tf + R.K1 * (1 - R.B + R.B * dl / avgdl))
            scores[d] = scores.get(d, 0.0) + s
    return scores


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id string, content string")


@pytest.fixture(scope="module")
def index(spark, docs_df):
    return R.build_postings(docs_df), R.build_doc_stats(docs_df)


def scores(scorer, qpost, queries, total_docs, avgdl, boost=1.0):
    if scorer == "tfidf":
        return R.tfidf_scores(qpost, queries, total_docs)
    return R.bm25_scores(qpost, queries, total_docs, avgdl, boost=boost)


def index_scores(scorer, index, query, boost=1.0) -> dict[str, float]:
    """One query through the index front-end, avgdl in-plan: doc_id → score."""
    postings, stats = index
    queries = {"q": query}
    qpost = R.index_query_postings(postings, stats, queries)
    got = scores(scorer, qpost, queries, len(DOCS), R.avgdl_df(stats), boost)
    return {r["doc_id"]: r["score"] for r in got.collect()}


def test_integer_division_idf_quirk():
    # N=10 docs; 'big' appears in d1,d5,d10 → df=3 → idf = 1 + 10//3 = 4.0
    scores = py_tfidf("big")
    assert scores["d10"] == (1 / 2) * 4.0


def test_postings_and_doc_stats(spark, index):
    postings, stats = index
    p = {(r["term"], r["doc_id"]): r["tf"] for r in postings.collect()}
    assert p[("spark", "d2")] == 3
    assert p[("data", "d8")] == 2
    s = {r["doc_id"]: r["doc_len"] for r in stats.collect()}
    assert s["d7"] == 10 and s["d2"] == 4


@pytest.mark.parametrize("query", ["spark data", "big", "spark spark", "missing term", "big data spark"])
def test_tfidf_matches_reference_semantics(spark, docs_df, index, query):
    got = index_scores("tfidf", index, query)
    exp = py_tfidf(query)
    assert set(got) == set(exp)
    for d in exp:
        assert got[d] == pytest.approx(exp[d], rel=1e-12), d


@pytest.mark.parametrize("query", ["spark data", "big", "spark spark"])
def test_bm25_matches_reference_semantics(spark, docs_df, index, query):
    got = index_scores("bm25", index, query)
    exp = py_bm25(query)
    assert set(got) == set(exp)
    for d in exp:
        assert got[d] == pytest.approx(exp[d], rel=1e-12), d


def test_bm25_boost_multiplies(spark, docs_df, index):
    base = index_scores("bm25", index, "spark")
    boosted = index_scores("bm25", index, "spark", boost=2.5)
    for d in base:
        assert boosted[d] == pytest.approx(base[d] * 2.5)


def test_sql_oracles_match_spark(spark, docs_df, index):
    pdf = pd.DataFrame(DOCS, columns=["doc_id", "content"])
    con = duckdb.connect()
    con.register("docs", pdf)
    for query in ["spark data", "big data spark"]:
        sql = R.tfidf_oracle_sql("docs", "doc_id", "content", query)
        oracle = dict(con.sql(sql).fetchall())
        got = {d: round(s, 4) for d, s in index_scores("tfidf", index, query).items()}
        assert got == pytest.approx(oracle)
        sql = R.bm25_oracle_sql("docs", "doc_id", "content", query)
        oracle = dict(con.sql(sql).fetchall())
        got = {d: round(s, 4) for d, s in index_scores("bm25", index, query).items()}
        assert got == pytest.approx(oracle)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    eng = GoProwlSearchEngine(spark, str(tmp_path_factory.mktemp("ranked")))
    eng.index("d1", "t", "spark makes big data simple")
    return eng


@pytest.mark.parametrize("scorer", ["tfidf", "bm25"])
def test_front_ends_and_batches_agree(spark, docs_df, index, engine, scorer):
    """Both front-ends feed the scorer the same qpost, so scores agree
    bit-for-bit (9 dp) for a literal N and an in-plan (count_df) N; a batch
    scores every query exactly as its one-query batch does, including terms
    shared between queries (df must not double-count) and repeated within
    one; the empty query scores no document."""
    postings, stats = index
    queries = {
        "a": "spark data",
        "b": "spark spark big",
        "c": "missingterm",
        "d": "ten big data",
        "e": "big simple",
    }

    def run(front, total, qs):
        if front == "index":
            qpost = R.index_query_postings(postings, stats, qs)
            avgdl = R.avgdl_df(stats)
        else:
            qpost = R.docs_query_postings(docs_df, qs)
            avgdl = R.avgdl_df(R.build_doc_stats(docs_df))
        return {
            (r["query_id"], r["doc_id"]): round(r["score"], 9)
            for r in scores(scorer, qpost, qs, total, avgdl).collect()
        }

    batch = run("index", len(DOCS), queries)
    assert {q for q, _ in batch} == {"a", "b", "d", "e"}
    for front in ("index", "docs"):
        for total in (len(DOCS), R.count_df(docs_df)):
            assert run(front, total, queries) == batch, (front, total)
        singles = {}
        for qid, q in queries.items():
            singles.update(run(front, len(DOCS), {qid: q}))
        assert singles == batch, front
        assert run(front, len(DOCS), {"q": ""}) == {}, front
    assert engine.search_ranked("spark", scorer=scorer).count() == 1
    assert engine.search_ranked("", scorer=scorer).count() == 0
