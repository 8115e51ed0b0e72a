"""Dump `.explain("formatted")` for every bench.py query into
plans/r11/<name>_<tag>.txt (tag = before/after, argv[1], default "before").

Usage: python tools/dump_bench_plans.py [before|after] [name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from prql_query_spark import compile_prql
from prql_query_spark.engine.session import get_spark, sources_bytes, tune_session_for


def bench_dataframes(spark, sf_dir):
    """(name -> DataFrame) for the exact computations bench.py times."""
    from pyspark.sql import functions as F

    prql = {
        "q_take": "from lineitem | take 5",
        "q_agg": entrymod.PRQL_QUERIES["q_agg_q1"],
        "q_join_agg": entrymod.PRQL_QUERIES["q_join_agg_q5"],
        "q_window": """
from orders
group [o_custkey] (
    sort [o_orderdate, o_orderkey]
    window expanding:true (
        derive [run_spend = round 2 (sum o_totalprice)]
    )
)
select [o_custkey, o_orderkey, o_orderdate, run_spend]
sort [o_custkey, o_orderdate]
take 10
""",
        "q_topk": entrymod.PRQL_QUERIES["q_topk_customers"],
        "q_filter_derive": entrymod.PRQL_QUERIES["q_filter_derive"],
    }
    out = {}
    for name, q in prql.items():
        out[name] = lambda s=compile_prql(q, "spark"): spark.sql(s)

    qs = entrymod.queries()
    ext = ["x_dedup_exact", "x_token_count", "x_cosine_topk",
           "x_events_sessions", "x_retention_cohort", "x_unigram_logprob",
           "x_minhash_dedup_cc", "x_dup_substrings"]
    for name in ext:
        out[name] = (lambda f=qs[name]: f(spark, sf_dir))

    def _minhash_candidates():
        from prql_query_spark.engine.sources import load_parquet
        from prql_query_spark.operators.dedup import minhash_lsh_pairs
        docs = load_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
        return minhash_lsh_pairs(docs, num_perm=64, bands=16, k=5)

    def _embed_neardup_lsh():
        from prql_query_spark.engine.sources import load_parquet
        from prql_query_spark.operators.similarity import embedding_neardup
        emb = load_parquet(spark, os.path.join(sf_dir, "embeddings.parquet"))
        return embedding_neardup(emb, threshold=0.4, exact=False)

    out["x_minhash_pairs"] = _minhash_candidates
    out["x_embed_neardup_lsh"] = _embed_neardup_lsh
    return out


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plan-dump-bench")
    spark.sparkContext.setLogLevel("ERROR")
    entrymod._reg(spark, sf_dir)
    tune_session_for(spark, sources_bytes([sf_dir]))

    dest = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", os.environ.get("PQ_PLANS_DIR", "r12"))
    os.makedirs(dest, exist_ok=True)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    for name, make in bench_dataframes(spark, sf_dir).items():
        if only and name not in only:
            continue
        df = make()
        plan = df._jdf.queryExecution().explainString(jmode)
        # strip volatile ids so before/after diffs show only real changes
        import re
        plan = re.sub(r"#\d+L?", "#c", plan)
        plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
        plan = re.sub(r"MapPartitionsRDD\[\d+\]", "MapPartitionsRDD[N]", plan)
        plan = re.sub(r"file:[^\],\s]+", "file:<sf_dir>", plan)
        path = os.path.join(dest, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
