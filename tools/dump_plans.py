"""Regenerate PLANS.md: formatted Catalyst plans for the headline queries
with the scale-relevant properties called out.  Run after any change that
could alter physical plans:  python tools/dump_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from prql_query_spark import compile_prql
from prql_query_spark.engine.session import get_spark

HEAD = """# PLANS — physical plans of the headline queries (sf0.1, local[32])

Regenerated by `tools/dump_plans.py`.  What to look for, per query, is
annotated above each plan; the same properties are pinned as regression
tests in `tests/test_plans.py`, so a refactor that loses one fails CI —
this file just makes them readable.

"""

QUERIES = [
    ("q_agg_q1", None,
     "TPC-H Q1 shape. The `l_shipdate <= DATE'1998-09-02'` filter reaches "
     "the parquet scan (PushedFilters) and unused columns are pruned from "
     "ReadSchema; one partial+final hash aggregate pair, no extra exchange."),
    ("q_join_agg_q5", None,
     "Q5 shape. Every dimension join is a BroadcastHashJoin — the lineitem "
     "fact table never shuffles before aggregation; filters and pruning "
     "reach both scans. This is the plan that survives a 1000-executor "
     "100 TB run: broadcasts are size-bound, the single exchange is the "
     "final group-by.\n\nRound-8 sf1 verification "
     "(interleaved sf1 probe, since retired; 6M-row lineitem, 10× orders/"
     "customer): the plan is UNCHANGED at sf1 — all three dimension "
     "joins still BroadcastHashJoin BuildRight (the compiler's "
     "size-gated broadcast hints, not the 10 MB session threshold, "
     "carry the 10× orders side), fact never shuffles, the two data "
     "exchanges are the agg partial→final and the final sort. "
     "Join-strategy A/B at sf1 (7-run interleaved medians): as-is "
     "(all-broadcast) 1,139 ms; forced SMJ (autoBroadcastJoinThreshold"
     "=-1) 1,721 ms (+51%); forced broadcast at 256 MB 1,161 ms "
     "(= as-is, confirming as-is is already all-broadcast).  DuckDB "
     "same-run 108.5 ms.  Conclusion: the ~10× sf1 residual is "
     "engine-constant single-node parquet decode + probe compute, NOT "
     "plan choice — the pinned plan is the fastest available, and a "
     "cluster divides this slope by its executor count (BASELINE.md "
     "§2 / §4.4g)."),
    ("q_topk_customers", None,
     "Top-k idiom: TakeOrderedAndProject instead of global sort + limit — "
     "each partition keeps k rows, the driver merges k*partitions."),
    ("q_window_running", None,
     "Windowed running sum: one Exchange on the partition key feeding a "
     "single Window operator; sort happens inside the window exec, not as "
     "a separate global sort."),
    ("x_minhash_pairs", "x",
     "MinHash LSH + estimate gate + exact verify: signatures come from "
     "ONE vectorized Arrow kernel stage (MapInPandas — round 3, 5-10x "
     "the interpreted-HOF JVM path) that since round 11 is LAZILY "
     "localCheckpointed, so the banding branch and the estimate join "
     "both read the saved signature partitions (the kernel subtree "
     "appears below an ExistingRDD scan here — at scale this replaces a "
     "second full corpus scan + kernel pass with a 0.5 KB/doc re-read); "
     "one exchange on (band, bucket), pair-generation JVM-side, the "
     "signature-estimate gate ships 64 longs per side, and the exact "
     "verify is a melt + ONE equi-join against docs semi-joined down to "
     "survivors — no cartesian, no row-at-a-time Python anywhere."),
    ("x_cosine_topk", "x",
     "Exact ANN baseline: query side broadcast; corpus scan pipelines into "
     "the per-batch partial top-k; final per-query merge moves k rows per "
     "partition, not the corpus."),
    ("x_paragraph_dedup", "x",
     "CCNet-style boilerplate removal: one exchange for the paragraph "
     "doc-frequency aggregate, then the (small) offending set broadcasts "
     "into a LeftAnti BroadcastHashJoin — the paragraph table never "
     "shuffles for the removal; per-doc totals are a narrow size() "
     "projection, and reassembly is the only other exchange."),
    ("x_nb_classifier", "x",
     "fastText-style quality gate (round-11 one-pass re-plan): training "
     "is one exchange (bucket counts, map-side combined, bounded by dim) "
     "with the corpus totals derived from the lazily checkpointed counts "
     "table (the ExistingRDD scans) instead of a second corpus "
     "tokenization; scoring keeps token-less docs via explode_outer so "
     "there is no restore-join — one corpus scan, the dim-row model "
     "broadcasts, the per-doc sum is the only corpus-sized exchange; "
     "zero Python anywhere."),
    ("x_kmeans", "x",
     "Lloyd k-means: the packed k-row centroid table rides a broadcast "
     "into a narrow higher-order-function argmin projection (assignment "
     "shuffles nothing); each update is one map-side-combined exchange "
     "with at most k x dim groups at any corpus size."),
    ("x_multimodal_pixels", "x",
     "Sample-level image decode: real PNG bytes synthesized and decoded "
     "inside two chained ArrowEvalPython/mapInPandas stages (iterator "
     "form, one batch in flight); everything else is metadata-narrow — "
     "no shuffle at all, the per-image stats reduce inside the UDF."),
    ("x_dup_substrings", "x",
     "Exact substring dedup (winnowed fingerprints): per-doc hashing and "
     "winnowing are narrow JVM higher-order projections; duplicated "
     "fingerprints are ONE groupBy + one equi-join back; span merging is "
     "a single per-doc window pass (gaps-and-islands).  Never doc x doc, "
     "no Python."),
    ("x_ivfpq_topk", "x",
     "IVF-PQ ANN: centroids and sub-codebooks ride as broadcast 1-row "
     "data into a narrow encode projection (cell + codes + norm, no "
     "shuffle); the candidate restriction is a BroadcastHashJoin on the "
     "cell id against the exploded probe set — never a cartesian over "
     "the corpus; ADC scoring is pure expressions and the only exchange "
     "is the final per-query top-k window."),
    ("q_order_priority_q4", "x",
     "TPC-H Q4 silhouette: EXISTS as an explicit LeftSemi hash join — "
     "the orders filter reaches the scan, the returned-lineitem key set "
     "builds the semi-join side, and the aggregate runs after the "
     "semi-join has already dropped non-qualifying rows."),
    ("q_waiting_suppliers_q21", "x",
     "TPC-H Q21 silhouette: chained LeftSemi + LeftAnti self-joins on "
     "lineitem (EXISTS other-supplier, NOT EXISTS other-flagged-"
     "supplier), all equi-joins on l_orderkey with residual conditions — "
     "the four-way correlated-subquery shape with zero cartesian "
     "products."),
    ("x_bm25_search", "x",
     "BM25 ranked retrieval: ONE tokenize/explode of the corpus, filtered "
     "to the query's literal terms (IN) before the first aggregate, so "
     "every exchange is candidate-set-sized; df is a window over the tf "
     "aggregate (a join would re-derive the explode subtree — Catalyst "
     "does not dedupe common subplans); N/avgdl is a narrow no-explode "
     "scan broadcast as one row; top-k is TakeOrderedAndProject."),
    ("x_eager_rollup", "x",
     "Star rollup (orders by customer nation, sum/count/average/max) "
     "compiled plainly: join then aggregate, as the DuckDB oracle runs "
     "it.  Both dimension joins are BroadcastHashJoins, so the orders "
     "fact never shuffles; its partial hash aggregate reduces each task's "
     "output before the n_name group-by exchange, and the last exchange "
     "sorts the at most 25 nation rows."),
    ("x_hybrid_search", "x",
     "Hybrid RRF retrieval (round-6 re-plan): BOTH branches end in "
     "TakeOrderedAndProject — the lexical list via bm25_topk's limit, "
     "the dense list via orderBy+limit over the cosine scores (round 5 "
     "shipped a global no-partition row_number window here: a "
     "single-partition sort of the whole scored corpus).  The query "
     "vector is a literal array with a constant-folded norm, so the "
     "dense scan is one narrow projection; rank windows run over "
     "depth-sized lists and the fusion is a full-outer join of two "
     "~depth-row sides."),
    ("x_jaccard_prefix", "x",
     "Exact prefix-filtered similarity self-join (round 8): shingle "
     "hashing is ONE vectorized Arrow kernel stage; the df aggregate "
     "and the per-doc rarest-first sort are the only corpus-wide "
     "exchanges; candidate generation is an EQUI-join keyed on prefix "
     "shingles (SortMergeJoin/ShuffledHashJoin on _h — never "
     "CartesianProduct/BroadcastNestedLoop, pinned in test_plans), and "
     "the verify stage is the same melt + one equi-join shape as "
     "ngram_jaccard over candidate pairs only."),
    ("x_hybrid_index", "x",
     "The serving stack (round 6 build, round 7 re-plan): hybrid RRF "
     "where BOTH branches answer from persisted indexes.  What to "
     "check: (1) the postings scan carries `PushedFilters: [In(term, "
     "...)]` and the ANN index scan `[In(_cell, ...)]` — per query the "
     "files read are posting-list-sized; (2) there is NO scan of "
     "documents.parquet or embeddings.parquet anywhere — the one-row "
     "query vector is collected at plan-build time and enters as a "
     "LocalTableScan (round 7); (3) every index-side join is a "
     "BroadcastHashJoin of a query-sized side.  All three pinned in "
     "test_plans.py::test_hybrid_indexed_pushes_both_index_filters."),
]


def main() -> None:
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    entrymod._reg(spark, sf_dir)

    out = [HEAD]
    qs = entrymod.queries()
    for name, kind, blurb in QUERIES:
        if kind == "x":
            df = qs[name](spark, sf_dir)
        else:
            df = spark.sql(compile_prql(entrymod.PRQL_QUERIES[name], "spark"))
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = df._jdf.queryExecution().explainString(jmode)
        # strip the volatile parts (object ids, full paths) for stable diffs
        plan = re.sub(r"file:[^\],\s]+", "file:<sf_dir>", plan)
        plan = re.sub(r"#\d+L?", "#c", plan)
        out.append(f"## {name}\n\n{blurb}\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
