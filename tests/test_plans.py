"""Physical-plan regression tests: the scale guarantees, not just values.

Each test pins a property that must survive refactoring because it is what
keeps the operator viable at 100 TB: filters reaching the parquet scan,
column pruning, dimension broadcasts, bounded shuffle counts, no Python in
relational hot paths.  `.explain` text is the contract Catalyst gives us.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from prql_query_spark.engine.sources import load_parquet


def _plan(spark, df, mode: str = "formatted") -> str:
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


@pytest.fixture(scope="module")
def reg(spark, sf_dir):
    import __spark_entry__ as entry

    entry._reg(spark, sf_dir)
    return entry


def test_filter_and_projection_pushdown(spark, reg):
    from prql_query_spark import compile_prql

    sql = compile_prql(reg.PRQL_QUERIES["q_agg_q1"], "spark")
    plan = _plan(spark, spark.sql(sql))
    # the shipdate filter must reach the parquet reader
    assert re.search(r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate", plan)
    # column pruning: l_comment (widest column) must not be read
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and "l_comment" not in m.group(1)


def test_join_agg_broadcasts_dimensions(spark, reg):
    from prql_query_spark import compile_prql

    sql = compile_prql(reg.PRQL_QUERIES["q_join_agg_q5"], "spark")
    plan = _plan(spark, spark.sql(sql), "simple")
    # all three dimension joins broadcast; the fact table never shuffles
    # before aggregation
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered(spark, reg):
    from prql_query_spark import compile_prql

    sql = compile_prql(reg.PRQL_QUERIES["q_topk_customers"], "spark")
    plan = _plan(spark, spark.sql(sql), "simple")
    assert "TakeOrderedAndProject" in plan


def test_asof_join_single_shuffle_no_join(spark, sf_dir):
    from prql_query_spark.operators.temporal import asof_join

    ev = load_parquet(spark, f"{sf_dir}/events.parquet")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value")
    v = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    plan = _plan(spark, asof_join(p, v, on="user_id", ts="ts"), "simple")
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_range_join_is_hash_join(spark, sf_dir):
    from prql_query_spark.operators.temporal import range_join

    ev = load_parquet(spark, f"{sf_dir}/events.parquet")
    iv = ev.limit(50).select(
        "user_id", F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"))
    pts = ev.select("user_id", "ts", "event_id")
    plan = _plan(spark, range_join(pts, iv, on="user_id", ts="ts"), "simple")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_minhash_no_python_and_one_wide_shuffle(spark, sf_dir):
    from prql_query_spark.operators.dedup import minhash_lsh_pairs

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    plan = _plan(spark, minhash_lsh_pairs(docs), "simple")
    # the signature stage is exactly ONE vectorized Arrow stage (the
    # round-3 numpy kernel, 5-10x the interpreted-HOF JVM path); no
    # row-at-a-time Python anywhere
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan
    # shuffles: optional _spread round-robin + band-bucket groupBy + pair
    # count groupBy; never more
    assert plan.count("Exchange") <= 3


def test_rollup_single_expand_single_agg_pass(spark, sf_dir):
    from prql_query_spark.operators.rollup import time_rollup

    ev = load_parquet(spark, f"{sf_dir}/events.parquet")
    plan = _plan(spark, time_rollup(ev), "simple")
    assert plan.count("Expand") == 1
    # one scan of the input, not one per resolution
    assert plan.count("FileScan parquet") + plan.count("Scan parquet") <= 2


def test_text_ops_stay_jvm_side(spark, sf_dir):
    from prql_query_spark.operators.text import text_profile

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    plan = _plan(spark, text_profile(docs), "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_salted_agg_equals_plain(spark, sf_dir):
    from prql_query_spark.operators.skew import salted_agg

    ev = load_parquet(spark, f"{sf_dir}/events.parquet")
    got = {tuple(r) for r in salted_agg(
        ev, ["event_type"],
        {"n": ("count", "*"), "mx": ("max", "value")}).collect()}
    want = {tuple(r) for r in ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.max("value").alias("mx")).collect()}
    assert got == want


def test_salted_broadcast_join_equals_plain(spark, sf_dir):
    from prql_query_spark.operators.skew import salted_broadcast_join

    ev = load_parquet(spark, f"{sf_dir}/events.parquet")
    dim = ev.select("event_type").distinct().withColumn(
        "weight", F.length("event_type"))
    got = salted_broadcast_join(ev, dim, on="event_type").count()
    want = ev.join(dim, on="event_type").count()
    assert got == want


def test_bucketed_join_no_exchange(spark, sf_dir):
    from prql_query_spark.engine.bucketing import bucketed_join, write_bucketed

    orders = load_parquet(spark, f"{sf_dir}/orders.parquet")
    lineitem = load_parquet(spark, f"{sf_dir}/lineitem.parquet")
    write_bucketed(orders.select("o_orderkey", "o_totalprice"),
                   "t_orders_b", ["o_orderkey"], n_buckets=8)
    write_bucketed(lineitem.select("l_orderkey", "l_quantity")
                   .withColumnRenamed("l_orderkey", "o_orderkey"),
                   "t_lineitem_b", ["o_orderkey"], n_buckets=8)
    # tiny test tables auto-broadcast, which bypasses bucketing; disable it
    # so the plan shows what a big-big join would do
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bucketed_join(spark, "t_orders_b", "t_lineitem_b",
                           on=["o_orderkey"])
        plan = _plan(spark, df, "simple")
        # no shuffle on either side: bucket i joins bucket i directly
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" in plan
        assert df.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_cosine_topk_partial_window_limit(spark, sf_dir):
    from prql_query_spark.operators.similarity import cosine_topk

    emb = load_parquet(spark, f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3)
    plan = _plan(spark, cosine_topk(emb, q, k=5), "simple")
    # rank<=k filters get per-partition partial limiting before the shuffle
    assert "WindowGroupLimit" in plan


def test_contamination_broadcasts_probe_side(spark, sf_dir):
    from prql_query_spark.operators.text import contamination

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    out = contamination(
        docs.filter(F.col("doc_id") % 101 != 0),
        docs.filter(F.col("doc_id") % 101 == 0),
        n=3,
    )
    plan = _plan(spark, out, "simple")
    # the probe (benchmark) side must broadcast — the corpus side joins
    # without shuffling, and the only corpus shuffle is the doc_id count
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 2  # probe distinct + final count
    assert "partial_count" in plan  # map-side combine before the shuffle


def test_blocklist_filter_is_broadcast_anti(spark, sf_dir):
    """The corpus side must not shuffle for the blocklist removal: plan is
    a single BroadcastHashJoin LeftAnti over the scan."""
    from prql_query_spark.operators.quality import filter_blocklist

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    bl = docs.filter(F.col("doc_id") % 97 == 0).select(F.md5("text").alias("h"))
    out = filter_blocklist(docs.withColumn("h", F.md5("text")), bl, "h")
    plan = _plan(spark, out, "simple")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # the one hash exchange is the blocklist's own distinct (build side,
    # below the BroadcastExchange); the corpus subtree has none
    corpus_subtree = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in corpus_subtree
    import re as _re

    assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_winsorize_bounds_join_is_broadcast(spark, sf_dir):
    """The per-group bounds table broadcasts back onto the fact side — the
    600 B bounds row must never force a fact-table shuffle."""
    from prql_query_spark.operators.quality import winsorize

    li = load_parquet(spark, f"{sf_dir}/lineitem.parquet")
    plan = _plan(spark, winsorize(li, "l_extendedprice", by="l_returnflag"), "simple")
    assert "BroadcastHashJoin" in plan
    # exactly one hash exchange: the percentile aggregation itself
    import re as _re

    assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_anomaly_zscore_preaggregates_before_window(spark, sf_dir):
    """The window must run on the daily aggregate, not raw events: plan
    order is Scan -> HashAggregate -> Window, and the window's exchange
    moves the aggregate, so raw events shuffle exactly once (the agg)."""
    from prql_query_spark.operators.analytics import anomaly_zscore

    ev = load_parquet(spark, f"{sf_dir}/events.parquet")
    plan = _plan(spark, anomaly_zscore(ev), "simple")
    assert plan.index("Window") < plan.index("Scan parquet")
    # two exchanges total: daily agg + window partitioning (both on tiny data)
    import re as _re

    assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 2


def test_cohort_retention_two_exchanges_no_window(spark, sf_dir):
    """Round-11 re-plan: cohort assignment comes from one collect_set
    aggregate per user (map-side combined), not a distinct -> per-user
    window chain — two exchanges total and no window/sort anywhere."""
    import re as _re

    from prql_query_spark.operators.analytics import cohort_retention

    ev = load_parquet(spark, f"{sf_dir}/events.parquet")
    plan = _plan(spark, cohort_retention(ev), "simple")
    assert "Window" not in plan
    assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 2


def test_fuzzy_join_blocks_never_cross_product(spark, sf_dir):
    """The blocking key must plan as an equi hash/broadcast join — a raw
    levenshtein predicate would fall back to BroadcastNestedLoopJoin and
    die at scale."""
    from prql_query_spark.operators.similarity import fuzzy_join

    names = load_parquet(spark, f"{sf_dir}/part.parquet").select("p_name").distinct()
    plan = _plan(spark, fuzzy_join(names, names, "p_name"), "simple")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan


def test_minhash_verified_pipeline_no_cartesian(spark, sf_dir):
    """The driver query (candidates -> signature-estimate gate -> exact
    Jaccard verify) must keep the dedup tier's contract end-to-end: only
    vectorized Arrow stages (signature + shingle kernels), no
    row-at-a-time Python, no cartesian product (the verify is a melt +
    ONE equi-join on doc id, never pair x shingle-table cross)."""
    from prql_query_spark.operators.dedup import minhash_verified_pairs

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    verified = minhash_verified_pairs(docs, threshold=0.6)
    plan = _plan(spark, verified, "simple")
    # Arrow kernel stages only: signatures feed two branches (banding +
    # estimate join) and the shingle table is one more
    assert 1 <= plan.count("MapInPandas") <= 3
    assert "BatchEvalPython" not in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_simhash_portable_twin_stays_jvm(spark, sf_dir):
    """md5-60bit portable hash is still a JVM expression (CONV/MD5), not a
    Python fallback, and blocking is an equi-join on (segment, value)."""
    from prql_query_spark.operators.dedup import simhash_pairs

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    plan = _plan(spark, simhash_pairs(docs, max_hamming=3, hash_fn="md5_60"), "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_ivf_provided_centroids_broadcasts_queries(spark, sf_dir):
    """Anchor-cell IVF: query side broadcast (corpus never moves for the
    candidate join), no training stage, no Python."""
    from prql_query_spark.operators.similarity import cosine_topk_ivf

    emb = load_parquet(spark, f"{sf_dir}/embeddings.parquet")
    anchors = [r.embedding for r in
               emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()]
    q = emb.filter(F.col("vec_id") < 5)
    plan = _plan(spark, cosine_topk_ivf(emb, q, k=10, n_probe=4,
                                        centroids=anchors), "simple")
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan and "BatchEvalPython" not in plan


def test_multimodal_decode_is_one_arrow_stage(spark, sf_dir):
    """Real header decode runs as ONE mapInPandas (Arrow-batched) stage —
    the sanctioned Python island — over a JVM-assembled payload: no
    row-at-a-time Python UDF, no extra Python stages, synthesis stays in
    hex/unhex/concat expressions."""
    from prql_query_spark.operators.multimodal import extract_features, synthesize_media

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    feats = extract_features(synthesize_media(docs, "doc_id", "text"),
                             use_real_decode=True)
    plan = _plan(spark, feats, "simple")
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan  # no row-at-a-time UDF anywhere


def test_paragraph_dedup_removal_is_broadcast_anti(spark, sf_dir):
    from prql_query_spark.operators.text import paragraph_dedup, token_windows

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    out = paragraph_dedup(docs, paras=token_windows(F.col("text"), 10),
                          max_doc_freq=3)
    plan = _plan(spark, out, "simple")
    # the boilerplate set broadcasts; the paragraph table is never
    # shuffled for the removal join
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan)
    assert "CartesianProduct" not in plan
    # no Python anywhere — explode/hash/reassembly are all JVM-side
    assert "Python" not in plan and "ArrowEvalPython" not in plan


def test_nb_classifier_scores_with_broadcast_model(spark, sf_dir):
    from prql_query_spark.operators.classify import (
        score_nb_classifier, train_nb_classifier)

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    model = train_nb_classifier(
        docs.withColumn("_y", F.col("text").contains("spark")), "_y", dim=64
    )
    plan = _plan(spark, score_nb_classifier(docs, model, dim=64), "simple")
    # the dim-row model broadcasts into the scoring join; the corpus
    # never shuffles to be scored, and nothing drops to Python
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_nb_classifier_single_pass_train_and_score(spark, sf_dir):
    """Round-11 re-plan: ONE corpus tokenization each for train (totals
    derive from the checkpointed bucket counts) and score (explode_outer
    keeps token-less docs — no restore-join scanning the corpus again).
    The scoring plan therefore has exactly one parquet scan, no
    SortMergeJoin, and one hashpartitioning exchange (the per-doc sum)."""
    import re as _re

    from prql_query_spark.operators.classify import (
        score_nb_classifier, train_nb_classifier)

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    model = train_nb_classifier(
        docs.withColumn("_y", F.col("text").contains("spark")), "_y", dim=64
    )
    plan = _plan(spark, score_nb_classifier(docs, model, dim=64), "simple")
    assert len(_re.findall(r"Scan parquet", plan)) == 1
    assert "SortMergeJoin" not in plan
    assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_pagerank_no_cartesian_no_python(spark, sf_dir):
    from prql_query_spark.operators.graph import cooccurrence_edges, pagerank

    li = load_parquet(spark, f"{sf_dir}/lineitem.parquet")
    ranks = pagerank(cooccurrence_edges(li, "l_orderkey", "l_partkey"), iters=2)
    plan = _plan(spark, ranks, "simple")
    # N rides as a broadcast scalar (BroadcastNestedLoopJoin on a 1-row
    # aggregate is the crossJoin-scalar attach pattern); contribution
    # joins stay keyed — never a CartesianProduct, never Python
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_mix_corpora_is_union_of_narrow_branches(spark, sf_dir):
    from prql_query_spark.operators.sampling import mix_corpora

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    out = mix_corpora(
        {"a": (docs.filter(F.col("source") == "src0"), 1.5),
         "b": (docs.filter(F.col("source") == "src1"), 0.25)},
        key_col="doc_id",
    )
    plan = _plan(spark, out, "simple")
    # pure scan/filter/project union: zero shuffles, zero joins
    assert "Exchange" not in plan
    assert "Join" not in plan and "Python" not in plan


def test_kmeans_assignment_broadcasts_centroids(spark, sf_dir):
    from prql_query_spark.operators.cluster import kmeans_fit

    emb = load_parquet(spark, f"{sf_dir}/embeddings.parquet")
    plan = _plan(spark, kmeans_fit(emb, k=3, iters=2), "simple")
    # the packed k-row centroid table rides as a broadcast into a narrow
    # HOF projection; assignment never shuffles the corpus and nothing
    # drops to Python
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_incremental_dedup_no_corpus_selfjoin(spark, sf_dir):
    from prql_query_spark.operators.dedup import dedup_against_corpus

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    out = dedup_against_corpus(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        threshold=0.6,
    )
    plan = _plan(spark, out, "simple")
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_temperature_mix_is_narrow(spark, sf_dir):
    """After the one count aggregate (collected), the kept-rows pass must
    be a pure filter over the scan: zero Exchange, zero Python."""
    from prql_query_spark.operators.sampling import temperature_mix

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    plan = _plan(spark, temperature_mix(docs, alpha=0.5))
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_token_budget_single_window_shuffle(spark, sf_dir):
    """One window exchange and nothing else — the ranking IS the cost."""
    from prql_query_spark.operators.sampling import token_budget_select

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    plan = _plan(spark, token_budget_select(docs, 10_000, quality_col="n_chars"))
    # formatted mode names each node once in the tree ("Exchange (3)")
    # and once as a detail header ("(3) Exchange")
    assert len(re.findall(r"Exchange \(\d+\)", plan)) == 1
    assert "Window" in plan


def test_embedding_neardup_lsh_plan_shape(spark, sf_dir):
    """The LSH path must never cartesian, must carry the vectors OUTSIDE
    the candidate-dedup exchange (bare id pairs only), and must compute
    buckets in Arrow-vectorized Python (one matmul per batch), not a
    per-bit expression chain."""
    from prql_query_spark.operators.similarity import embedding_neardup

    emb = load_parquet(spark, f"{sf_dir}/embeddings.parquet")
    plan = _plan(spark, embedding_neardup(emb, threshold=0.4, exact=False))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    # the a<b dedup exchange must move (a, b) pairs only — no embedding
    # arrays in any hashpartitioning exchange on the pair keys
    for m in re.finditer(r"Exchange hashpartitioning\(a#\d+L?, b#\d+L?[^)]*\)"
                         r".*?(?=\n\(|\Z)", plan, re.S):
        assert "_va" not in m.group(0) and "_vb" not in m.group(0)


def test_tpch_semi_anti_shapes(spark, reg, sf_dir):
    """Q4/Q16/Q21/Q22 silhouettes: EXISTS/NOT EXISTS run as real semi/anti
    hash joins — no cartesian, no subquery re-execution per row."""
    q4 = reg.queries()["q_order_priority_q4"](spark, sf_dir)
    p4 = _plan(spark, q4, "simple")
    assert "LeftSemi" in p4 and "Cartesian" not in p4

    q16 = reg.queries()["q_parts_suppliers_q16"](spark, sf_dir)
    p16 = _plan(spark, q16, "simple")
    assert "LeftAnti" in p16 and "Cartesian" not in p16

    q21 = reg.queries()["q_waiting_suppliers_q21"](spark, sf_dir)
    p21 = _plan(spark, q21, "simple")
    assert "LeftSemi" in p21 and "LeftAnti" in p21
    assert "Cartesian" not in p21

    q22 = reg.queries()["q_idle_customers_q22"](spark, sf_dir)
    p22 = _plan(spark, q22, "simple")
    assert "LeftAnti" in p22
    # the scalar-stats side is a broadcast of ONE row, not a join shuffle
    assert "BroadcastNestedLoopJoin" in p22 or "BroadcastHashJoin" in p22


def test_tpch_q2_per_part_topk_is_single_window(spark, reg):
    """Q2 silhouette: the per-part best-supplier pick compiles to one
    row_number window over the joined links, not a join-back against a
    per-group aggregate."""
    from prql_query_spark import compile_prql

    sql = compile_prql(reg.PRQL_QUERIES["q_min_cost_supplier_q2"], "spark")
    plan = _plan(spark, spark.sql(sql), "simple")
    assert plan.count("Window") >= 1
    assert "Cartesian" not in plan


def test_substring_dedup_no_cartesian_one_fp_shuffle(spark, sf_dir):
    """Exact substring dedup: the duplicated-fingerprint discovery is a
    groupBy on fp + ONE equi-join back — never doc x doc, never Python."""
    from prql_query_spark.operators.dedup import duplicated_spans

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    plan = _plan(spark, duplicated_spans(docs), "simple")
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_image_neardup_blocked_equijoin(spark, sf_dir):
    """Image near-dup: candidates come from an equi-join on dHash
    segments (pigeonhole blocking), never a cross product; the decode
    is a single Arrow stage whose result is checkpointed, not re-run
    per join side."""
    from prql_query_spark.operators.multimodal import (
        image_neardup_pairs, synthesize_png_images)

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    media = synthesize_png_images(docs, "doc_id", pattern="mixed")
    plan = _plan(spark, image_neardup_pairs(media), "simple")
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_ivfpq_candidate_join_keyed_and_broadcast(spark, sf_dir):
    """IVF-PQ: the candidate restriction must be an equi-join on the cell
    id with the probe set broadcast (never a CartesianProduct over the
    corpus), and the codebook/centroid tables must ride as broadcast
    1-row data, not literal expression trees."""
    from prql_query_spark.operators.similarity import (
        cosine_topk_ivfpq, pq_codebooks_from_anchors,
    )

    emb = load_parquet(spark, f"{sf_dir}/embeddings.parquet")
    anchors = [r.embedding for r in
               emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()]
    out = cosine_topk_ivfpq(
        emb, emb.filter(F.col("vec_id") < 3), k=5, n_cells=8, n_probe=2,
        centroids=anchors, codebooks=pq_codebooks_from_anchors(anchors, m=8),
    )
    plan = _plan(spark, out, "simple")
    assert "CartesianProduct" not in plan
    # the only join over corpus-sized input is the keyed cell join
    assert re.search(r"BroadcastHashJoin \[_cell", plan)
    # ADC + encode are expressions, not Python
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_projection_ops_zero_shuffle(spark, sf_dir):
    """The compression/projection tier (pq_encode, pca_transform,
    random_projection) must stay shuffle-free: broadcast matrix data into
    a narrow expression projection, no Exchange, no Python stage."""
    from prql_query_spark.operators.similarity import (
        pca_transform, pq_codebooks_from_anchors, pq_encode,
        random_projection,
    )

    emb = load_parquet(spark, f"{sf_dir}/embeddings.parquet")
    anchors = [r.embedding for r in
               emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()]
    model = {"mean": [0.0] * 64,
             "components": [[float(i == j) for j in range(64)]
                            for i in range(4)]}
    plans = [
        _plan(spark, pq_encode(emb, pq_codebooks_from_anchors(anchors, m=8)),
              "simple"),
        _plan(spark, pca_transform(emb, model), "simple"),
        _plan(spark, random_projection(emb, out_dim=8), "simple"),
    ]
    for p in plans:
        # the only exchange allowed is the 1-row broadcast of the matrix
        assert "Exchange hashpartitioning" not in p
        assert "Exchange rangepartitioning" not in p
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_pack_sequences_default_is_sharded_window(spark, sf_dir):
    """The packing window must hash-partition on the derived shard, never
    run over SinglePartition (a global cumulative sum serializes 100 TB
    through one task — the round-3 scale flag on the old F.lit(1) default).
    The per-shard offset table is tiny and must come back via broadcast."""
    from prql_query_spark.operators.text import pack_sequences

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    plan = _plan(spark, pack_sequences(docs, capacity=512))
    # the corpus window exchange is hashpartitioning(_shard...)
    assert re.search(r"hashpartitioning\(_shard", plan)
    # the only SinglePartition step allowed is the #shards-row prefix sum
    single = plan.count("SinglePartition")
    assert single <= 1, f"{single} SinglePartition exchanges"
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


def test_equidepth_above_cutoff_has_no_global_sort(spark, sf_dir):
    """Above max_exact_rows the histogram must take the approx path: GK
    cuts broadcast as literals, narrow bucket assignment, no single-task
    ntile sort (the round-3 scale flag on the exact default)."""
    from prql_query_spark.operators.analytics import equidepth_histogram

    orders = load_parquet(spark, f"{sf_dir}/orders.parquet")
    plan = _plan(spark, equidepth_histogram(orders, "o_totalprice", 10,
                                            max_exact_rows=10))
    assert "ntile" not in plan.lower()
    assert "rangepartitioning" not in plan.lower()
    # exact path still used under the cutoff (oracle parity path)
    plan2 = _plan(spark, equidepth_histogram(orders, "o_totalprice", 10))
    assert "ntile" in plan2.lower()


def test_bm25_filters_before_aggregation(spark, reg, sf_dir):
    """BM25 retrieval (operators/retrieval.py): the (doc, term) explode
    must be filtered to the query's literal terms BEFORE any aggregate —
    the shuffled candidate set is query-hit-sized, never vocabulary-sized
    — and the final top-k must be TakeOrderedAndProject, with the df and
    corpus-stats sides broadcast."""
    import __spark_entry__ as entry
    from prql_query_spark.operators.retrieval import bm25_topk

    docs = entry._tbl(spark, sf_dir, "documents")
    df = bm25_topk(docs, "data quality model", k=5)
    plan = _plan(spark, df, "simple")
    # the literal term IN-filter feeds the tf aggregate directly
    assert "IN (data,model,quality)" in plan
    # the corpus is tokenized/exploded exactly once (df comes from a
    # window over tf, not a second derivation of the same subtree), plus
    # one narrow no-explode scan for N/avgdl
    assert plan.count("Generate explode") == 1
    assert plan.count("FileScan") == 2
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan  # the scalar stats row
    assert "SortMergeJoin" not in plan

    rows = df.collect()
    assert len(rows) == 5
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # the top hit really contains a query term
    top = docs.filter(F.col("doc_id") == rows[0]["doc_id"]).collect()[0]
    assert any(t in top["text"].lower() for t in ("data", "quality", "model"))


def _singlepartition_feeds_only_limits(plan: str) -> list[str]:
    """Return the offending lines: every `Exchange SinglePartition` whose
    child subtree reaches a FileScan before a TakeOrderedAndProject /
    GlobalLimit — i.e. a global single-task pass over table-sized input
    rather than over an already-limited list."""
    lines = plan.splitlines()
    bad = []
    for i, ln in enumerate(lines):
        if "SinglePartition" not in ln:
            continue
        for nxt in lines[i + 1:]:
            if "TakeOrderedAndProject" in nxt or "Limit" in nxt:
                break
            if "HashAggregate(keys=[]" in nxt:
                # scalar-aggregate merge: input is one partial row per
                # partition, not table-sized — the legitimate case
                break
            if "FileScan" in nxt or "Scan parquet" in nxt:
                bad.append(ln.strip())
                break
    return bad


def test_hybrid_topk_dense_branch_is_take_ordered(spark, sf_dir):
    """hybrid_topk (retrieval.py): the dense branch must top-`depth` via
    orderBy+limit (Catalyst TakeOrderedAndProject — per-partition partial
    top-k) BEFORE any row_number ranking.  Round 5 shipped a global
    no-partition window over the whole scored embeddings table — a
    single-partition sort exchange that is THE bottleneck at a
    1e9-vector corpus.  Pin: every SinglePartition exchange in the plan
    sits above a limit, never above a table scan."""
    import __spark_entry__ as entry
    from prql_query_spark.operators.retrieval import hybrid_topk

    docs = entry._tbl(spark, sf_dir, "documents")
    emb = entry._tbl(spark, sf_dir, "embeddings")
    df = hybrid_topk(docs, emb, "data quality model", query_vec_id=0,
                     k=10, depth=25)
    plan = _plan(spark, df, "simple")
    # both branches produce a TakeOrderedAndProject (lex via bm25 limit,
    # dense via the new orderBy+limit), plus the final fused top-k
    assert plan.count("TakeOrderedAndProject") >= 3
    bad = _singlepartition_feeds_only_limits(plan)
    assert not bad, f"single-partition exchange over table-sized input: {bad}"

    rows = df.collect()
    assert len(rows) == 10
    rrfs = [r["rrf"] for r in rows]
    assert rrfs == sorted(rrfs, reverse=True)


def test_bm25_index_probe_pushes_term_filter(spark, sf_dir, tmp_path):
    """probe_bm25_index (retrieval.py): the persisted-index probe's
    `term IN (...)` must reach the parquet reader as PushedFilters — the
    row-group pruning that makes query IO proportional to the query's
    posting lists, not the corpus (the claim in build_bm25_index's
    docstring).  Stats side must broadcast; no single-partition pass
    over the postings."""
    import __spark_entry__ as entry
    from prql_query_spark.operators.retrieval import (
        build_bm25_index, probe_bm25_index)

    docs = entry._tbl(spark, sf_dir, "documents")
    postings, stats = build_bm25_index(docs)
    pdir = str(tmp_path / "postings")
    sdir = str(tmp_path / "stats")
    postings.sort("term").write.parquet(pdir)
    stats.write.parquet(sdir)

    probe = probe_bm25_index(
        spark.read.parquet(pdir), spark.read.parquet(sdir),
        "data quality model", k=5)
    plan = _plan(spark, probe)
    assert re.search(r"PushedFilters: \[In\(term, \[data,model,quality\]",
                     plan), "term IN not pushed to the postings scan"
    simple = _plan(spark, probe, "simple")
    assert "TakeOrderedAndProject" in simple
    assert "BroadcastExchange" in simple  # the 1-row stats side
    bad = _singlepartition_feeds_only_limits(simple)
    assert not bad, f"single-partition exchange over postings: {bad}"
    assert len(probe.collect()) == 5


def test_bm25_dfcap_probe_scans_only_surviving_terms(spark, sf_dir,
                                                     tmp_path):
    """probe_bm25_index_dfcap (round 8): the WHOLE point is that
    dropped stopword-grade terms never reach the posting scan — the
    pushed `term IN` literal must contain ONLY the surviving terms
    ('dup' at frac 0.2 on the fixture; 'data'/'join' at ~78% df must
    be absent from the filter), and the plan keeps the exact probe's
    shape (broadcast stats, TakeOrderedAndProject, no single-partition
    pass over postings).  With frac=1.0 the filter must carry all
    three terms — the degenerate-to-uncapped plan."""
    import __spark_entry__ as entry
    from prql_query_spark.operators.retrieval import (
        build_bm25_index, probe_bm25_index_dfcap,
        term_stats_from_postings)

    docs = entry._tbl(spark, sf_dir, "documents")
    postings, stats = build_bm25_index(docs)
    pdir = str(tmp_path / "postings")
    sdir = str(tmp_path / "stats")
    tdir = str(tmp_path / "term_stats")
    postings.sort("term").write.parquet(pdir)
    stats.write.parquet(sdir)
    term_stats_from_postings(spark.read.parquet(pdir)).sort("term") \
        .write.parquet(tdir)

    p = spark.read.parquet(pdir)
    s = spark.read.parquet(sdir)
    t = spark.read.parquet(tdir)
    probe = probe_bm25_index_dfcap(p, s, t, "dup data join", k=5,
                                   df_cap_frac=0.2)
    plan = _plan(spark, probe)
    # one survivor compiles to EqualTo(term, dup) — even tighter than In
    pushed = re.search(r"PushedFilters: \[[^\n]*", plan)
    assert pushed and re.search(
        r"(EqualTo\(term,dup\)|In\(term, \[dup\])", pushed.group(0)), \
        f"surviving-terms-only filter not pushed: {pushed}"
    assert "data" not in pushed.group(0) and "join" not in pushed.group(0)
    simple = _plan(spark, probe, "simple")
    assert "TakeOrderedAndProject" in simple
    assert "BroadcastExchange" in simple  # the 1-row stats side
    bad = _singlepartition_feeds_only_limits(simple)
    assert not bad, f"single-partition exchange over postings: {bad}"

    full = probe_bm25_index_dfcap(p, s, t, "dup data join", k=5,
                                  df_cap_frac=1.0)
    assert re.search(r"PushedFilters: \[In\(term, \[data,dup,join\]",
                     _plan(spark, full))


def test_bm25_batch_no_corpus_single_partition(spark, sf_dir):
    """bm25_topk_batch (retrieval.py): per-query ranking partitions by
    query id — there must be NO single-partition exchange anywhere (the
    batch path never needs a global sort), one corpus explode shared by
    all queries, and the query->term table broadcast back."""
    import __spark_entry__ as entry
    from prql_query_spark.operators.retrieval import bm25_topk_batch

    docs = entry._tbl(spark, sf_dir, "documents")
    qs = spark.createDataFrame(
        [(1, "data window"), (2, "spark merge batch")],
        "query_id int, query_text string")
    df = bm25_topk_batch(docs, qs, k=5)
    plan = _plan(spark, df, "simple")
    # the rank window partitions by _qid (hash exchange); the only
    # SinglePartition allowed is the scalar N/avgdl aggregate merge
    assert re.search(r"Window \[row_number\(\).*\], \[_qid", plan)
    bad = _singlepartition_feeds_only_limits(plan)
    assert not bad, f"single-partition exchange over corpus input: {bad}"
    # corpus scanned exactly twice (tokenize/explode + narrow stats pass),
    # shared across ALL queries in the batch; the extra explodes are the
    # few-row query side (derived twice: term set + rank join-back)
    assert plan.count("documents.parquet") == 2
    assert "BroadcastHashJoin" in plan
    rows = df.collect()
    assert {r["query_id"] for r in rows} == {1, 2}


def test_ann_index_probe_pushes_cell_filter(spark, sf_dir, tmp_path):
    """Persisted IVF-PQ index (similarity.ivfpq_index + probed_cells):
    the `_cell IN (...)` literal prefilter must reach the parquet reader
    as PushedFilters — on the cell-sorted index this is row-group
    pruning, the dense twin of the BM25 term-IN pin — and the probe join
    must broadcast the depth-bounded query side, never shuffle the
    index."""
    from prql_query_spark.engine.sources import load_parquet
    from prql_query_spark.operators.similarity import (
        cosine_topk_ivfpq, ivfpq_index, pq_codebooks_from_anchors,
        probed_cells)

    emb = load_parquet(spark, f"{sf_dir}/embeddings.parquet")
    anchors = [r.embedding for r in
               emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()]
    codebooks = pq_codebooks_from_anchors(anchors, m=8)
    idir = str(tmp_path / "index.parquet")
    ivfpq_index(emb, anchors, codebooks).sort("_cell").write.parquet(idir)
    queries = emb.filter(F.col("vec_id") < 3)
    cells = probed_cells(queries, anchors, n_probe=4)
    assert 0 < len(cells) <= 12
    pruned = spark.read.parquet(idir).filter(F.col("_cell").isin(cells))
    out = cosine_topk_ivfpq(emb, queries, k=5, n_probe=4,
                            centroids=anchors, codebooks=codebooks,
                            index=pruned)
    plan = _plan(spark, out)
    assert re.search(r"PushedFilters: \[In\(_cell", plan), \
        "cell IN not pushed to the index scan"
    simple = _plan(spark, out, "simple")
    assert "BroadcastHashJoin" in simple
    bad = _singlepartition_feeds_only_limits(simple)
    assert not bad, f"single-partition exchange over the index: {bad}"

    # the pruned persisted path equals the direct in-memory computation
    direct = cosine_topk_ivfpq(emb, queries, k=5, n_probe=4,
                               centroids=anchors, codebooks=codebooks)
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, direct.collect()))


def test_hybrid_indexed_pushes_both_index_filters(spark, sf_dir, tmp_path):
    """hybrid_topk_indexed (the serving stack): BOTH persisted-index
    scans must show their literal prefilter as PushedFilters — the BM25
    postings scan prunes on `term IN (...)` and the IVF-PQ index scan on
    `_cell IN (...)` — so per query the plan reads posting lists, never
    either corpus."""
    import __spark_entry__ as entry
    from prql_query_spark.operators.retrieval import (
        build_bm25_index, hybrid_topk_indexed)
    from prql_query_spark.operators.similarity import (
        ivfpq_index, pq_codebooks_from_anchors)

    docs = entry._tbl(spark, sf_dir, "documents")
    emb = entry._tbl(spark, sf_dir, "embeddings")
    anchors = [r.embedding for r in
               emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()]
    codebooks = pq_codebooks_from_anchors(anchors, m=8)
    build = build_bm25_index(docs)
    build[0].sort("term").write.parquet(str(tmp_path / "p"))
    build[1].write.parquet(str(tmp_path / "s"))
    ivfpq_index(emb, anchors, codebooks).sort("_cell") \
        .write.parquet(str(tmp_path / "a"))
    out = hybrid_topk_indexed(
        spark.read.parquet(str(tmp_path / "p")),
        spark.read.parquet(str(tmp_path / "s")),
        spark.read.parquet(str(tmp_path / "a")),
        emb, anchors, codebooks,
        "data quality model", query_vec_id=0, k=10, depth=20, n_probe=4)
    plan = _plan(spark, out)
    assert re.search(r"PushedFilters: \[In\(term, \[data,model,quality\]",
                     plan), "term IN not pushed to the postings scan"
    assert re.search(r"PushedFilters: \[In\(_cell", plan), \
        "cell IN not pushed to the ANN index scan"
    # round-7 pin: "nothing corpus-sized is read" as a PLAN invariant,
    # not a docstring — the only corpus access is the 1-row query-vector
    # lookup, which happens eagerly at build time (collect -> literal),
    # so the SERVING plan must contain NO scan of documents/embeddings
    # at all: every file scan location is one of the three index dirs.
    locations = [ln for ln in plan.splitlines() if "Location" in ln]
    assert locations, "formatted plan shows no scan locations"
    for ln in locations:
        assert "documents.parquet" not in ln and \
            "embeddings.parquet" not in ln, \
            f"serving plan scans a corpus table: {ln.strip()}"
    rows = out.collect()
    assert 0 < len(rows) <= 10
    rrfs = [r["rrf"] for r in rows]
    assert rrfs == sorted(rrfs, reverse=True)


def test_exact_percentiles_single_data_exchange(spark, sf_dir):
    """exact_percentiles' plan claim (round 7): ONE hash exchange feeds
    the per-group sort, BOTH window passes (count, row_number) and the
    partial/final aggregate — the groupBy key equals the window
    partition, so no exchange sits between Window and HashAggregate.
    The only other exchange allowed is the final output-sort range
    partitioning.  A second hash exchange appearing here means the
    aggregation stopped reusing the window's partitioning and the
    operator's one-shuffle contract regressed."""
    import __spark_entry__ as entry
    from prql_query_spark.operators.analytics import exact_percentiles

    li = entry._tbl(spark, sf_dir, "lineitem")
    df = exact_percentiles(li, "l_extendedprice", [0.5, 0.95],
                           by=["l_returnflag"])
    simple = _plan(spark, df, "simple")
    hash_ex = [ln for ln in simple.splitlines()
               if "Exchange hashpartitioning" in ln]
    range_ex = [ln for ln in simple.splitlines()
                if "Exchange rangepartitioning" in ln]
    assert len(hash_ex) == 1, f"extra data exchange: {hash_ex}"
    assert len(range_ex) <= 1  # the output orderBy only
    assert simple.count("Window") == 2


def test_jaccard_prefix_no_allpairs_join(spark, sf_dir):
    """Prefix-filtered exact similarity join: candidate generation is an
    equi-join on prefix shingles + the verify equi-join on pair ids —
    no CartesianProduct / BroadcastNestedLoopJoin anywhere (the brute
    force twin in test_operators uses one; the operator never may)."""
    from prql_query_spark.operators.dedup import jaccard_join_prefix

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    plan = _plan(spark, jaccard_join_prefix(docs, 3, 5), "simple")
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_roc_auc_bucketed_no_input_sized_single_task(spark, sf_dir):
    """The bucketed AUC's structural claim (r9): NO input-sized rows
    ever pass through a single task.  In the bucketed plan, every
    region below an `Exchange SinglePartition` must already be
    aggregated — a map-side partial HashAggregate and a hash exchange
    sit between it and the scan, so the single-task window sees
    <= buckets rows.  The exact rank path (measured 3-4x slower at 6M
    rows and non-scalable by shape) is the contrast: its SinglePartition
    exchange sits DIRECTLY over the scan with no aggregate below."""
    from pyspark.sql import functions as F

    from prql_query_spark.operators.analytics import (
        roc_auc, roc_auc_bucketed)

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    scored = docs.select(
        ((F.col("doc_id") % 97) / 97.0).alias("score"),
        (F.col("doc_id") % 3 == 0).alias("y"))

    plan_b = _plan(spark, roc_auc_bucketed(
        scored, "score", "y", cuts=[0.25, 0.5, 0.75]), "simple")
    lines = plan_b.splitlines()
    sp = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    assert len(sp) == 1, plan_b
    below = "\n".join(lines[sp[0]:])  # plan prints root-first: below = later
    assert "partial_sum" in below and "Exchange hashpartitioning" in below, \
        plan_b  # the single-task region only receives aggregated rows

    plan_e = _plan(spark, roc_auc(scored, "score", "y"), "simple")
    lines_e = plan_e.splitlines()
    sp_e = [i for i, ln in enumerate(lines_e)
            if "Exchange SinglePartition" in ln]
    assert len(sp_e) == 1
    below_e = "\n".join(lines_e[sp_e[0]:])
    assert "HashAggregate" not in below_e, plan_e  # scan feeds it raw


def test_heavy_hitters_by_fold_not_single_task(spark):
    """heavy_hitters_by's group-wise compaction (r10): the fold's
    mapInPandas must sit over an `Exchange hashpartitioning(by)` — each
    task folds only its own groups — never a Coalesce-1/SinglePartition
    funnel (the r9 shape, where one task received every group and its
    memory scaled with partition count).  The flat compaction's
    Coalesce-1 is NOT covered by this pin: its input is
    <= capacity x partitions rows regardless of data size and a global
    decrement genuinely needs one view."""
    from prql_query_spark.operators.analytics import compact_mg_summaries_by

    summary = spark.createDataFrame(
        [("a", "x", 3), ("a", None, 10), ("b", "y", 2), ("b", None, 5)],
        "g string, _item string, _w long")
    plan = _plan(spark, compact_mg_summaries_by(summary, ["g"], 10),
                 "simple")
    assert "Coalesce 1" not in plan and "SinglePartition" not in plan, plan
    lines = plan.splitlines()
    fold = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
    assert fold, plan
    below_fold = "\n".join(lines[fold[0]:])  # root-first: below = input
    assert re.search(r"Exchange hashpartitioning\(g#", below_fold), plan


def test_heavy_hitters_serve_is_verify_only(spark, sf_dir, tmp_path):
    """heavy_hitters_serve's structural claim (r10): the served plan
    contains NO Python stage at all — the MG candidate pass
    (mapInPandas) never re-runs; the persisted candidate set enters as
    a broadcast build side and the only corpus work is the exact
    recount scan.  Contrast: heavy_hitters' own plan would carry the
    MapInPandas kernel."""
    from prql_query_spark.operators.analytics import (
        heavy_hitters_serve, heavy_hitters_summarize)
    from prql_query_spark.operators.text import tokens as _tok

    docs = load_parquet(spark, f"{sf_dir}/documents.parquet")
    items = docs.select(F.explode(_tok(F.col("text"))).alias("term"))
    side = str(tmp_path / "mg")
    heavy_hitters_summarize(items, "term", capacity=100, path=side)
    plan = _plan(spark, heavy_hitters_serve(
        items, "term", side, 1, 100, verify_total=False), "simple")
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_iceberg_dml_scan_plan_is_jvm_side(spark, tmp_path):
    """Row-level DML structural claims (r11): the delete/merge scan
    keys row positions on Spark's native `_metadata.row_index` — NO
    row_number Window (which would force a global/per-file sort), NO
    Python stage, and NO per-row regexp on the hot path (the staged
    delete set carries the raw file URI verbatim; normalization is
    driver-side).  A regression to any of those shapes re-adds the
    measured ~25%-of-wall string work or a sort the probe caught."""
    import json as _json

    from prql_query_spark.engine import iceberg as I

    d = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "v") for i in range(100)], "id long, v string").repartition(2)
    I.write_iceberg(df, d)
    with open(I._latest_metadata(d)) as fh:
        meta = _json.load(fh)
    snap = I._head_snapshot(meta, I._latest_metadata(d), "x")
    wide = I._live_rows_with_pos(spark, d, meta, snap)
    doomed = wide.filter("id % 10 = 0").select(
        F.col("_fp_raw").alias("file_path"),
        F.col("_pos").cast("long").alias("pos"))
    plan = _plan(spark, doomed, "simple")
    assert "Window" not in plan, plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    assert "regexp_replace" not in plan, plan
    assert "row_index" in plan, plan
