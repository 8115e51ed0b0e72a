"""Multi-executor differential smoke: the same computations on
local[1] and on local-cluster[2,2,1024] (TWO separate executor JVMs —
real task serialization, real shuffle blocks over the block manager,
broadcasts actually shipped) must agree exactly.

local[*] hides two failure classes this test exposes:
- closure/broadcast serialization (lambdas, numpy state, packed-constant
  DataFrames crossing process boundaries), exercised by the HOF/window
  BM25 plan and the mapInPandas numpy-moments kernel;
- accidental driver-filesystem or driver-state assumptions inside a
  computation (anything that only works because executor == driver).

Runs in a SUBPROCESS because the suite's session-scoped local[32]
SparkSession would be reused by getOrCreate otherwise.  The harness-only
sink caveats (COVERAGE.md 'Gate harness assumptions') are about gate
ROWS writing tempdirs; the operators under test here write nothing.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import json, sys
sys.path.insert(0, %(repo)r)

RESULTS = {}
for master in ("local[1]", "local-cluster[2,2,1024]"):
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(master)
             .appName("pq-cluster-smoke")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             # executor python workers must import the repo's modules
             # (cloudpickle serializes UDF closures by module reference)
             .config("spark.executorEnv.PYTHONPATH", %(repo)r)
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod
    from prql_query_spark import compile_prql
    from prql_query_spark.engine.sources import load_parquet
    from prql_query_spark.operators.retrieval import bm25_topk
    from prql_query_spark.operators.similarity import embedding_mean_cov

    sf = "/root/testdata/sf0.001"
    entrymod._reg(spark, sf)
    out = {}

    # compiled flagship (joins + window-over-aggregate + s-strings)
    flag = spark.sql(compile_prql(
        entrymod.PRQL_QUERIES["q_flagship_monthly"], "spark")).collect()
    out["flagship"] = [tuple(r) for r in flag]

    # BM25 (HOF filter closure over a captured term list, window df,
    # broadcast stats — the closure-serialization risk class)
    docs = load_parquet(spark, sf + "/documents.parquet")
    out["bm25"] = [(r["doc_id"], r["score"]) for r in
                   bm25_topk(docs, "data quality model", k=10).collect()]

    # df-capped index probe (round 8): the capping decision is a
    # driver-side collect feeding a LITERAL isin pushed to executors,
    # and the sidecar/stats sides broadcast — in-memory frames stand in
    # for the parquet index (plan shape is pinned elsewhere; this is
    # the cross-process differential)
    from prql_query_spark.operators.retrieval import (
        build_bm25_index, probe_bm25_index_dfcap,
        term_stats_from_postings)
    postings, stats = build_bm25_index(docs)
    out["dfcap"] = [(r["doc_id"], r["score"]) for r in
                    probe_bm25_index_dfcap(
                        postings, stats,
                        term_stats_from_postings(postings),
                        "dup data join", k=10,
                        df_cap_frac=0.2).collect()]

    # mapInPandas numpy partial moments (Arrow batches + numpy state
    # crossing executor process boundaries)
    emb = load_parquet(spark, sf + "/embeddings.parquet")
    mean, cov = embedding_mean_cov(emb)
    out["mean0_5"] = [round(float(x), 10) for x in mean[:5]]
    out["cov_trace"] = round(float(cov.trace()), 8)

    # bucketed AUC (round 9): broadcast literal cuts array inside an HOF
    # lambda + a tiny-window tail — the closure crosses executors, the
    # histogram shuffles over real blocks
    from prql_query_spark.operators.analytics import roc_auc_bucketed
    scored = docs.select(
        ((docs.doc_id %% 97) / 97.0).alias("score"),
        (docs.doc_id %% 3 == 0).alias("y"))
    out["aucb"] = [tuple(r) for r in
                   roc_auc_bucketed(scored, "score", "y",
                                    cuts=[0.25, 0.5, 0.75]).collect()]

    RESULTS[master] = out
    spark.stop()

a, b = RESULTS["local[1]"], RESULTS["local-cluster[2,2,1024]"]
print("FLAGSHIP_EQ", a["flagship"] == b["flagship"], len(a["flagship"]))
print("BM25_EQ", a["bm25"] == b["bm25"], len(a["bm25"]))
print("DFCAP_EQ", a["dfcap"] == b["dfcap"], len(a["dfcap"]))
print("MOMENTS_EQ", a["mean0_5"] == b["mean0_5"]
      and a["cov_trace"] == b["cov_trace"])
print("AUCB_EQ", a["aucb"] == b["aucb"], len(a["aucb"]))
"""


def test_local_cluster_matches_local():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT % {"repo": REPO}],
        capture_output=True, text=True, timeout=600,
        env={**os.environ, "PQ_SHUFFLE_PARTITIONS": "8",
             "PYTHONPATH": REPO + os.pathsep
             + os.environ.get("PYTHONPATH", "")},
    )
    tail = "\n".join(proc.stdout.splitlines()[-8:]) + proc.stderr[-2000:]
    assert proc.returncode == 0, tail
    assert "FLAGSHIP_EQ True" in proc.stdout, tail
    assert "BM25_EQ True" in proc.stdout, tail
    assert "DFCAP_EQ True" in proc.stdout, tail
    assert "MOMENTS_EQ True" in proc.stdout, tail
    assert "AUCB_EQ True" in proc.stdout, tail
