"""Physical-plan audit: for the plan-shape-critical operators, print the
formatted plan and assert the shape we designed for — filters pushed to the
parquet scan, column pruning, broadcast joins where a side is small, wide
WholeStageCodegen spans, no stray shuffles.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from goprowl_spark import contract  # noqa: E402
from goprowl_spark.session import get_spark  # noqa: E402

CHECKS = {
    # query name → (must_contain, must_not_contain)
    "point_lookup": (["PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,42)]"], ["Exchange"]),
    "type_filter": (["PushedFilters: [IsNotNull(lang), EqualTo(lang,en)"], []),
    "broadcast_join_agg": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    "agg_q1": (["HashAggregate", "PushedFilters"], []),
    "emb_cosine_topk": (["TakeOrderedAndProject"], ["Exchange hashpartitioning"]),
    # the query terms of every ranking plan are a LocalRelation, never a
    # PythonRDD scan (Scan ExistingRDD runs Python workers on every
    # execution)
    "tfidf_search": (["BroadcastHashJoin"], ["ExistingRDD"]),
    # the query-term side is tiny and must arrive broadcast, never
    # sort-merge-shuffled against the postings
    "bm25_search": (["BroadcastHashJoin"], ["SortMergeJoin", "ExistingRDD"]),
    "tfidf_batch": (["BroadcastHashJoin"], ["SortMergeJoin", "ExistingRDD"]),
    "bm25_batch": (["BroadcastHashJoin"], ["SortMergeJoin", "ExistingRDD"]),
    "search_relevancy": (["TakeOrderedAndProject"], ["Window"]),
    # round-1 regression guard: pagination must be a partial top-k, never a
    # single-partition global row_number window
    "pagination": (["TakeOrderedAndProject"], ["Window"]),
    # map-only curation stages: sampling must not shuffle at all
    "sample_stratified": ([], ["Exchange hashpartitioning"]),
    # the mixture's only wide op is the per-source window (+ the output
    # sort); no joins, no extra aggregation passes
    "token_budget_mix": (["Window"], ["Join"]),
    # round-4 operators — repetition: tagged-gram explode feeding the
    # partial-agg cascade, never a cartesian/gram join
    "repetition_stats": (["Generate", "HashAggregate"], ["CartesianProduct"]),
    # substring dedup: the window aggregation is the ONLY join-free wide
    # op (explode → partial agg → one exchange → filter)
    "dup_windows": (["Generate", "HashAggregate"], ["Join"]),
    # per-doc contamination: the duplicated tail is small by construction
    # and must arrive broadcast, never sort-merge-shuffled
    "doc_dup_window_frac": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    # sketches — HLL: pure aggregation cascade, never a join; the register
    # shuffle is partial-aggregated (map-side max per register)
    "hll_distinct": (["HashAggregate"], ["SortMergeJoin"]),
    # CMS: the d*w-cell sketch must BROADCAST to the candidate lookups
    "cms_heavy_hitters": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    # Bloom audit: the <=m-row bit table broadcasts; probes never shuffle
    # into a sort-merge join
    "bloom_fpr_audit": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    # span stats: Arrow parse UDF -> explode -> partial-agg cascade; the
    # span table is never joined, only aggregated
    "span_stats": (["HashAggregate"], ["Join"]),
    # cuckoo audit: entry table and stash broadcast to the probes; the
    # probe side never shuffles into a sort-merge join (the build-side
    # placement windows are bounded by the build set)
    "cuckoo_fpr_audit": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    # anchor inversion: ONE partial-agg shuffle keyed by target; the link
    # edges are never joined, only aggregated
    "anchor_stats": (["HashAggregate"], ["Join"]),
    # decontamination: the eval window set broadcasts; the corpus windows
    # are map-only + doc-keyed agg, never sort-merge-shuffled by hash
    "decontaminate": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    # round-5 export layout: the per-shard rank window is the ONLY wide op
    # (one exchange keyed by shard; shards rank independently) — no joins,
    # no global sort before the window
    "training_shards": (["Window"], ["Join"]),
    # round-5 distribution sketch: one partial-agg bin shuffle; bounds and
    # the <=n_bins quantile join travel broadcast (metadata-sized), never
    # sort-merge-shuffled
    "hist_quantiles": (
        ["HashAggregate", "BroadcastNestedLoopJoin"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    # round-5 per-group HLL: partial-agg register cascade; the
    # sketch-vs-audit join over n_groups rows stays broadcast at contract
    # scale
    "hll_distinct_by": (["HashAggregate"], ["SortMergeJoin"]),
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-audit", cores=8, shuffle_partitions=8)
    qs = contract.queries()
    failures = []
    for name, (must, must_not) in CHECKS.items():
        plan = plan_of(qs[name](spark, sf_dir))
        probs = []
        for frag in must:
            if frag not in plan:
                probs.append(f"missing {frag!r}")
        for frag in must_not:
            if frag in plan:
                probs.append(f"unexpected {frag!r}")
        status = "OK  " if not probs else "BAD "
        print(f"{status} {name}" + ("" if not probs else f": {probs}"))
        if probs:
            failures.append(name)
            print(plan)
    # column pruning spot check: reading 2 cols of documents must not read text
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang")
    plan = plan_of(df)
    if "ReadSchema: struct<doc_id:bigint,lang:string>" not in plan:
        failures.append("column_pruning")
        print("BAD  column_pruning:")
        print(plan)
    else:
        print("OK   column_pruning (ReadSchema = 2 columns)")
    print()
    if failures:
        print("PLAN AUDIT FAILURES:", failures)
        return 1
    print("plan audit clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
