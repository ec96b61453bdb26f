"""Physical-plan regression tests: the shapes we designed for (pushed
filters, broadcast joins, partial top-k, map-only stages, no stray
shuffles) must survive refactors. Wraps tools/explain_audit.py's CHECKS
so the audit runs in CI, not just by hand — plans only, nothing executes."""

import io
import sys
from contextlib import redirect_stdout

import pytest

sys.path.insert(0, ".")

from goprowl_spark import contract  # noqa: E402

from tools.explain_audit import CHECKS  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name", sorted(CHECKS))
def test_plan_shape(spark, name):
    must, must_not = CHECKS[name]
    plan = plan_of(contract.queries()[name](spark, SF_DIR))
    for frag in must:
        assert frag in plan, f"{name}: missing {frag!r}\n{plan}"
    for frag in must_not:
        assert frag not in plan, f"{name}: unexpected {frag!r}\n{plan}"


@pytest.mark.parametrize(
    "name", ["tfidf_search", "bm25_search", "tfidf_batch", "bm25_batch"]
)
def test_ranking_tokenizes_once(spark, name):
    """The documents front-end explodes the corpus tokens in ONE Generate
    that carries doc_len; no second postings pass is planned."""
    plan = plan_of(contract.queries()[name](spark, SF_DIR))
    tree = plan.split("\n\n(")[0]  # the node tree, not the node details
    assert tree.count("Generate") == 1, f"{name}\n{plan}"


@pytest.mark.parametrize("scorer", ["bm25", "tfidf"])
def test_search_ranked_plans_no_python_rdd(spark, tmp_path, scorer):
    """The engine's ranked read builds its query terms as a LocalRelation:
    no ``Scan ExistingRDD`` (a PythonRDD run by Python workers on every
    execution) anywhere in the plan."""
    from goprowl_spark.engine import GoProwlSearchEngine

    eng = GoProwlSearchEngine(spark, str(tmp_path))
    eng.index("d1", "alpha", "alpha beta")
    eng.index("d2", "beta", "beta gamma")
    plan = plan_of(eng.search_ranked("alpha beta", scorer))
    assert "ExistingRDD" not in plan, plan


def test_column_pruning_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "lang")
    )
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan_of(df)


def _fetcher(spark, kind: str, tmp_path):
    from goprowl_spark import corpus

    if kind == "make_fetcher":
        return corpus.make_fetcher(300)
    # a parquet-backed page table, as a real archive scan plans
    path = str(tmp_path / "pages")
    corpus.corpus_df(spark, 300).write.parquet(path)
    return corpus.table_fetcher(spark.read.parquet(path))


@pytest.mark.parametrize("kind", ["make_fetcher", "table_fetcher"])
def test_fetch_parse_is_one_python_stage(spark, tmp_path, kind):
    """Fetch and parse run in ONE mapInArrow pass for every fetcher: no
    second Python stage parses the pages. A page table joins the batch as
    the broadcast side, so its html never crosses an exchange."""
    from goprowl_spark import corpus
    from goprowl_spark.parse import with_document_columns

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    # below the table's size, as for a real archive
    spark.conf.set(key, "1024")
    try:
        batch = spark.createDataFrame(
            [(corpus.url(i), 1) for i in range(8)], "url string, depth int"
        )
        fetch = _fetcher(spark, kind, tmp_path)
        plan = plan_of(with_document_columns(fetch(batch), 1))
    finally:
        spark.conf.set(key, old)
    tree, *details = plan.split("\n\n(")
    assert tree.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "MapInPandas" not in plan, plan
    if kind == "table_fetcher":
        assert "BroadcastHashJoin" in tree, plan
        assert "SortMergeJoin" not in plan, plan
        exchanges = [d for d in details if "Exchange" in d.split("\n")[0]]
        assert exchanges, plan
        for d in exchanges:
            inputs = [ln for ln in d.split("\n") if ln.startswith("Input")]
            assert inputs and "html#" not in inputs[0], d
