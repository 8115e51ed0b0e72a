"""Deduplication operators for large-scale text corpora.

All operators are DataFrame-native and shuffle-aware:

* exact dedup — one hash-shuffle on the dedup key (window, no join-back).
* MinHash+LSH — the classic shingle -> minhash -> band -> bucket-join
  pipeline.  The only shuffle is on (band, bucket-hash); candidate
  verification joins happen *within* buckets, so cost scales with bucket
  sizes, not |corpus|^2.  Shingle/signature hashing runs in a vectorized
  Arrow/numpy kernel (round 3 — 5-10x the interpreted-HOF JVM path);
  candidate pairs pass a signature-estimate gate before exact
  verification, so the expensive shingle-set join only sees
  near-threshold pairs.  No
  row-at-a-time Python anywhere.
* SimHash — 64-bit sign-aggregated token hashes, computed with
  higher-order SQL functions (transform/aggregate), also fully JVM-side.
* n-gram Jaccard — exact verification on candidate pairs via
  array_intersect/array_union over distinct shingle sets.
* embedding near-dup — random-hyperplane LSH bucketing + within-bucket
  cosine (see similarity.py for the primitives).

At 100 TB: every stage is a narrow map except the band-bucket exchange,
which partitions by a high-cardinality synthetic key — no skew (bucket
explosions are capped by `max_bucket`).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from prql_query_spark.engine.session import barrier

from prql_query_spark.operators.text import ASCII_WS_SPARKSQL


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the input has fewer partitions than the
    cluster has slots — a small local parquet file arrives as 1 partition and
    would serialize the expensive signature map onto one core.  At scale the
    scan already yields many partitions and this is a no-op.

    Partition-count probe (round 12, guide §5): ``df.rdd.getNumPartitions()``
    pays full physical planning of a fresh DataFrame (~100-130 ms of driver
    time per query construction).  For file-scan-backed inputs the decision
    derives from file bytes instead (``inputFiles()`` reads the analyzed
    plan only): Spark's split width is at most ``maxPartitionBytes``, so
    for splittable files (parquet, orc) ``ceil(bytes / maxPartitionBytes)
    >= target`` proves the scan is already wide enough (never
    under-spreads); a non-splittable file (gzip CSV/JSON) is one split
    whatever its size, so it never takes that shortcut.  A conservative
    upper bound on split count (every file padded with openCostInBytes,
    packed at the emulated maxSplitBytes) proves under-partitioning (never
    leaves a tiny input serialized).  The ambiguous middle band and
    non-file inputs keep the exact ``.rdd`` probe."""
    import math

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism

    try:
        files = df.inputFiles()
    except Exception:
        files = []
    sizes: list[int] | None = []
    for p in files:
        local = p[len("file:"):] if p.startswith("file:") else p
        try:
            sizes.append(os.path.getsize(local))
        except OSError:
            sizes = None  # remote/unsizable: fall back to the exact probe
            break
    if sizes:
        total = sum(sizes)
        # Spark's own getters parse every byte-string form it accepts
        # ('128m', '128MB', '4mb', plain bytes)
        conf = spark._jsparkSession.sessionState().conf()  # noqa: SLF001
        maxpb = conf.filesMaxPartitionBytes()
        open_cost = conf.filesOpenCostInBytes()
        splittable = all(p.endswith((".parquet", ".orc")) for p in files)
        if splittable and math.ceil(total / maxpb) >= target:
            return df  # provably already >= target scan partitions
        bytes_per_core = (total + len(sizes) * open_cost) / max(target, 1)
        max_split = min(maxpb, max(open_cost, bytes_per_core))
        upper = math.ceil((total + len(sizes) * open_cost) / max_split)
        if upper < target:
            return df.repartition(target)
        # ambiguous middle band: exact probe
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def dedup_exact(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keep the first row (by order_col) per key — deterministic distinct-on.

    Single hash shuffle; Spark's window exec does a partial sort within
    partitions, no join-back needed.
    """
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("_pq_rn", F.row_number().over(w))
        .filter(F.col("_pq_rn") == 1)
        .drop("_pq_rn")
    )


def dedup_keep_best(
    df: DataFrame,
    keys: list[str],
    quality_col: str,
    id_col: str,
) -> DataFrame:
    """Exact dedup that keeps the BEST representative per duplicate
    group (highest ``quality_col``, id as tiebreak) instead of the
    first-by-id — what production pipelines actually want: when the same
    content appears with and without truncation/boilerplate, keep the
    higher-quality copy.  Same single-shuffle window shape as
    `dedup_exact`."""
    w = Window.partitionBy(*keys).orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc())
    return (
        df.withColumn("_pq_rn", F.row_number().over(w))
        .filter(F.col("_pq_rn") == 1)
        .drop("_pq_rn")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    k: int = 5,
) -> DataFrame:
    """(_id, _sig) with a num_perm-wide MinHash signature per document.

    Signatures come from a vectorized Arrow/numpy kernel (`mapInPandas`):
    one rolling polynomial hash pass over the batch's concatenated bytes,
    then per-permutation affine scrambles (odd multiplier + offset, mod
    2^64) reduced with ``np.minimum.reduceat`` over document segments.
    Measured 10x a pure-JVM xxhash64 path on the sf0.1 documents table
    (~0.8 s-core vs ~8 s-core for 5,000 docs x 64 perms): Spark's
    higher-order functions are interpreted per element, so 64
    `aggregate()` lambdas over ~300-item shingle arrays pay
    ~interpretive overhead the numpy kernel doesn't.
    ANSI mode rules out the same affine trick JVM-side (long overflow
    throws; numpy uint64 wraps).

    Everything downstream (banding, bucketing, candidate verification)
    only needs per-(doc,perm) uniform mins, and every caller verifies
    candidates with exact Jaccard.  Duplicate shingles never change a
    min, so the kernel skips the distinct step.
    """
    import pandas as pd
    from pyspark.sql import types as T

    a_consts, b_consts = _minhash_perm_constants(num_perm)
    out_schema = T.StructType([
        T.StructField("_id", df.schema[id_col].dataType),
        T.StructField("_sig", T.ArrayType(T.LongType())),
    ])

    def gen(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            sigs = _minhash_kernel(
                pdf[text_col].tolist(), a_consts, b_consts, k)
            yield pd.DataFrame(
                {"_id": pdf[id_col], "_sig": list(sigs)})

    narrow = _spread(df.select(F.col(id_col).alias(id_col),
                               F.col(text_col).alias(text_col)))
    return narrow.mapInPandas(gen, out_schema)


def _minhash_perm_constants(num_perm: int):
    """Deterministic affine-permutation constants (odd multipliers +
    offsets): fixed seed so corpus indexes and probes agree across
    sessions and machines."""
    import numpy as np

    g = np.random.default_rng(0x5EED_F00D)
    a = (g.integers(1, 1 << 62, size=num_perm, dtype=np.uint64)
         << np.uint64(1)) | np.uint64(1)
    b = g.integers(0, 1 << 62, size=num_perm, dtype=np.uint64)
    return a, b


def _minhash_kernel(texts, a_consts, b_consts, k: int):
    """Vectorized batch MinHash: (n_docs, num_perm) int64 signatures.

    Each doc's lowered utf-8 bytes are padded with k NULs so k-byte
    windows never cross a document boundary (and empty docs hash the
    sentinel window); all docs concatenate into one buffer hashed with a
    single FNV-style rolling pass + murmur finalizer, then per-perm
    affine scrambles min-reduce over per-doc segments.  reduceat runs
    per perm on the CONTIGUOUS 1-D array — the 2-D axis=0 form is ~15x
    slower (row-strided inner loop)."""
    import numpy as np

    h, starts, _lens = _shingle_hash_flat(texts, k)
    n = len(starts)
    num_perm = len(a_consts)
    out = np.empty((num_perm, n), dtype=np.uint64)
    for p in range(num_perm):
        out[p] = np.minimum.reduceat(h * a_consts[p] + b_consts[p], starts)
    return np.ascontiguousarray(out.T).view(np.int64)


def _shingle_hash_flat(texts, k: int):
    """Flat uint64 shingle hashes for a batch: (h, starts, lens).

    ``h[starts[d] : starts[d]+lens[d]]`` are document d's k-shingle hashes
    in positional order (duplicates kept — min extraction and set ops are
    both duplicate-insensitive)."""
    import numpy as np

    pad = b"\x00" * k
    bs = [(t or "").lower().encode("utf-8", "surrogatepass") + pad
          for t in texts]
    n = len(bs)
    raw_lens = np.fromiter((len(b) - k for b in bs),
                           dtype=np.int64, count=n)
    lens = np.maximum(raw_lens - k + 1, 1)
    offs = np.zeros(n, dtype=np.int64)
    np.cumsum(np.fromiter((len(b) for b in bs), dtype=np.int64, count=n)[:-1],
              out=offs[1:])
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    n_sh = int(starts[-1] + lens[-1])
    cat = np.frombuffer(b"".join(bs), dtype=np.uint8).astype(np.uint64)
    pos = (np.arange(n_sh, dtype=np.int64)
           - np.repeat(starts, lens) + np.repeat(offs, lens))
    h = np.zeros(n_sh, dtype=np.uint64)
    C = np.uint64(1099511628211)
    for j in range(k):
        h = h * C + cat[pos + j]
    # FULL murmur3 finalizer (2 mults, 3 xorshifts).  The rolling
    # polynomial leaves adjacent shingles with small-difference hashes;
    # one multiply does not avalanche that away, and the correlated highs
    # synchronized band mins across unrelated docs (measured: max bucket
    # 261 vs 116, candidate pairs 169k vs 91k on sf0.1 documents).
    h ^= h >> np.uint64(33)
    h *= np.uint64(0xFF51AFD7ED558CCD)
    h ^= h >> np.uint64(33)
    h *= np.uint64(0xC4CEB9FE1A85EC53)
    h ^= h >> np.uint64(33)
    return h, starts, lens


def _shingle_hash_arrays(df: DataFrame, id_col: str, text_col: str,
                         k: int) -> DataFrame:
    """(_jid, _sh array<long>): per-document DISTINCT hashed shingle sets
    via the vectorized batch kernel — the distinct xxhash64 set of the
    lowered text's k-substrings, computed ~5x cheaper than JVM
    higher-order functions on the documents table (same rolling-hash
    pass as minhash_signatures; only the hash family differs, which set
    cardinalities cannot observe)."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("_jid", df.schema[id_col].dataType),
        T.StructField("_sh", T.ArrayType(T.LongType())),
    ])

    def gen(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            h, starts, lens = _shingle_hash_flat(pdf[text_col].tolist(), k)
            hv = h.view(np.int64)
            arrays = [np.unique(hv[s:s + l])
                      for s, l in zip(starts.tolist(), lens.tolist())]
            yield pd.DataFrame({"_jid": pdf[id_col], "_sh": arrays})

    return _spread(df.select(id_col, text_col)).mapInPandas(gen, out_schema)


def _banded_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int,
    bands: int,
    k: int,
) -> DataFrame:
    """(_id, _band, _bucket): each document's banded signature buckets —
    the unit both the self-join pair generator (minhash_lsh_pairs) and the
    persistable corpus index (build_minhash_index) are made of."""
    # minhash_signatures spreads internally — no outer _spread: the
    # partition-count probe behind _spread costs a full driver-side
    # plan->RDD conversion (~50 ms at sf0.1), paid per query construction
    sig = minhash_signatures(df, id_col, text_col, num_perm, k)
    return _banded_from_sig(sig, num_perm, bands)


def _banded_from_sig(sig: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(_id, _band, _bucket) from a (_id, _sig) signature table.

    The band expression is built as ONE parsed SQL string: constructing
    the equivalent nested-lambda Column through py4j costs ~35-40 ms of
    driver round-trips PER QUERY CONSTRUCTION vs ~0.5 ms for the parser
    (measured round 12; same analyzed plan either way)."""
    rows_per_band = num_perm // bands
    return sig.selectExpr(
        "_id",
        f"posexplode(transform(sequence(0, {bands - 1}), "
        f"b -> xxhash64(concat_ws(',', "
        f"slice(_sig, b * {rows_per_band} + 1, {rows_per_band}))))) "
        "AS (_band, _bucket)",
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) via banded MinHash LSH.

    rows_per_band = num_perm // bands; two docs collide if any band of their
    signatures matches exactly.  Returns (a, b, n_bands) distinct pairs.
    """
    banded = _banded_buckets(df, id_col, text_col, num_perm, bands, k)
    return _pairs_from_banded(banded, max_bucket)


def _band_pairs_exploded(banded: DataFrame, max_bucket: int | None) -> DataFrame:
    # ONE shuffle: group ids per (band, bucket) and generate the i<j pairs
    # JVM-side with indexed transforms — no window pass, no self-join (a
    # self-join would recompute the signature stage twice).  max_bucket caps
    # pair generation for pathological boilerplate buckets; buckets big
    # enough to strain the collect_list buffer (~1M+ ids) indicate a corpus
    # that needs boilerplate pre-filtering regardless (max_bucket=None for
    # exact uncapped generation — embedding_neardup's contract).  Output:
    # one (a, b) row PER COLLIDING BAND (a pair colliding in m bands
    # appears m times).
    ids = F.sort_array(F.collect_list("_id"))
    if max_bucket is not None:
        ids = F.slice(ids, 1, max_bucket)
    # one parsed SQL string, not nested lambda Columns: the py4j lambda
    # construction alone measured ~38 ms per query build (round 12)
    pair_structs = F.expr(
        "flatten(transform(_ids, (a, i) -> "
        "transform(slice(_ids, i + 2, size(_ids)), "
        "b -> struct(a AS a, b AS b))))")
    # The bucket stage is CPU-heavy per shuffled BYTE (quadratic pair
    # explosion over ~24 B/row of (band, bucket, id)), so AQE's byte-based
    # partition coalescing mis-sizes it: at sf0.1 it folded the whole
    # stage onto ONE task that then spent ~265 ms of single-core CPU on
    # pair generation while 31 cores idled (guide §2.5 — the stage-level
    # decomposition is in OPTIMIZATION_r12.md).  An explicit keyed
    # repartition pins the exchange width to spark.sql.shuffle.partitions
    # — scale-adaptive via tune_session_for (cores at CLI scale, input-
    # proportional on a cluster) — and the groupBy on the same keys
    # reuses it, so the exchange count is unchanged.
    # A non-integer value (e.g. 'auto' on managed platforms) falls back to
    # the core count.
    spark = banded.sparkSession
    try:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        n_parts = spark.sparkContext.defaultParallelism
    # a != b: duplicate ids in one bucket would otherwise emit self-pairs
    return (
        banded.repartition(n_parts, "_band", "_bucket")
        .groupBy("_band", "_bucket")
        .agg(ids.alias("_ids"))
        .filter(F.size("_ids") > 1)
        .select(F.explode(pair_structs).alias("_p"))
        .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )


def _pairs_from_banded(banded: DataFrame, max_bucket: int) -> DataFrame:
    return (
        _band_pairs_exploded(banded, max_bucket)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def _band_pair_estimates(sig: DataFrame, num_perm: int, bands: int,
                         max_bucket: int) -> DataFrame:
    """(a, b, n_bands, _va, _vb): candidate pairs with both signatures
    attached, in ONE (a, b) aggregate.

    Round-12 re-plan (guide §2.4, r11 verdict item 1): the (a, b) pair-
    dedup aggregate that used to sit between pair generation and the
    estimate fold is GONE — the exploded per-band pairs melt directly
    into the signature join, and one (a, b) aggregate derives n_bands
    (count of side-0 rows = colliding bands) together with the two
    signature sides (each side's rows all carry that id's signature, so
    max() over duplicates is exact).  4 exchanges -> 3 on the estimate
    branch: bucket, id join, one pair fold — the join ships the per-band
    duplicates (~2x rows of three scalars at sf0.1), the removed
    exchange shipped every distinct pair plus a full extra agg pass.
    """
    exploded = _band_pairs_exploded(
        _banded_from_sig(sig, num_perm, bands), max_bucket)
    melted = exploded.select(
        "a", "b",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("_side"), F.col("a").alias("_id")),
                F.struct(F.lit(1).alias("_side"), F.col("b").alias("_id")),
            )
        ).alias("_m"),
    ).select("a", "b", F.col("_m._side").alias("_side"),
             F.col("_m._id").alias("_id"))
    return (
        melted.join(sig.withColumnRenamed("_sig", "_v"), "_id")
        .groupBy("a", "b")
        .agg(
            F.count(F.when(F.col("_side") == 0, True)).alias("n_bands"),
            F.max(F.when(F.col("_side") == 0, F.col("_v"))).alias("_va"),
            F.max(F.when(F.col("_side") == 1, F.col("_v"))).alias("_vb"),
        )
    )


def minhash_verified_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
    max_bucket: int = 1000,
    est_sigma: float = 3.0,
) -> DataFrame:
    """Exactly-verified near-dup pairs (a, b, n_bands, jaccard >= threshold),
    estimate-then-verify:

    1. banded LSH candidates (one bucket shuffle, as minhash_lsh_pairs);
    2. per-pair Jaccard ESTIMATE from the already-computed signatures
       (matching-perm fraction — an unbiased binomial estimate of j with
       sigma = sqrt(j(1-j)/num_perm)), shipping 64 longs per side instead
       of ~300-long shingle arrays;
    3. exact shingle Jaccard only for pairs whose estimate clears
       threshold - est_sigma*sigma, against a doc table semi-joined down
       to the surviving ids.

    Bucket collisions are dominated by false candidates sharing one lucky
    band (j ~ 0.2 on the fixture corpus, ~85k candidates at sf0.1); the
    estimate gate removes them without touching shingle arrays, which cuts
    the verify join's shuffle ~30x.  Recall cost of the gate at the
    default 3-sigma margin: P(est < threshold - 3*sigma | true j >=
    threshold) < 0.002 at the threshold itself, astronomically small for
    the j >= 0.92 dups a real corpus' near-dup mass sits at — and ANY
    banded-LSH pipeline already accepts a same-order band-recall miss
    below the knee (see x_minhash_pairs' oracle note).
    """
    sig = minhash_signatures(df, id_col, text_col, num_perm, k)
    # sig feeds both the banding branch and the estimate join.  A LAZY
    # localCheckpoint materializes it on first use and serves the second
    # consumer from the saved partitions — the round-3 A/B that kept the
    # duplicated kernel tested the EAGER barrier (5.9 s vs 3.1 s: an extra
    # materialization job + pipeline break on both consumers); the lazy
    # form measured FASTER than the duplicated kernel (round-11
    # interleaved 7-run medians at sf0.1: 2.82 s vs 3.00 s), and at scale
    # it replaces a second full corpus scan + signature kernel pass with
    # a re-read of the ~(num_perm x 8 B)-per-doc signature table — the
    # guide's "compute the proxy once" shape.
    sig = sig.transform(barrier, eager=False)
    # pair generation + signature attachment in one (a, b) aggregate —
    # the round-12 estimate-branch re-plan (see _band_pair_estimates)
    est = _band_pair_estimates(sig, num_perm, bands, max_bucket)
    match_frac = (
        F.expr("aggregate(zip_with(_va, _vb, (x, y) -> IF(x = y, 1, 0)), "
               "0, (acc, m) -> acc + m)") / F.lit(num_perm)
    )
    sigma = (threshold * (1 - threshold) / num_perm) ** 0.5
    survivors = (
        est.withColumn("_est", match_frac)
        .filter(F.col("_est") >= threshold - est_sigma * sigma)
        .drop("_va", "_vb", "_est")
    )
    # The survivor table is consumed twice (id projection for the doc
    # semi-join AND the melt side of the exact verify); without a
    # materialization point the whole sig->band->pair->estimate DAG
    # executes twice (measured 6.3 s vs 2.5 s at sf0.1).  It is tiny by
    # construction (only near-threshold pairs), so a lazy localCheckpoint
    # — materialized on first use, reused after, lineage truncated — is
    # the right barrier; same pattern as pagerank's loop invariants.
    survivors = survivors.transform(barrier, eager=False)
    ids = (survivors.select(F.col("a").alias(id_col))
           .union(survivors.select("b")).distinct())
    needed = df.join(ids, id_col, "leftsemi")
    return ngram_jaccard(survivors, needed, id_col, text_col, k).filter(
        F.col("jaccard") >= threshold
    )


def ngram_jaccard(
    df_pairs: DataFrame, docs: DataFrame,
    id_col: str = "doc_id", text_col: str = "text", k: int = 5,
) -> DataFrame:
    """Exact Jaccard similarity over k-shingle sets for candidate pairs.

    The pair table is melted to (pair-key, side, id) and joined against the
    shingle table ONCE, then folded back — joining the shingle DF twice
    (once per side) would compute every document's shingle array twice,
    which is the expensive branch of this operator.

    Each shingle is mapped to a 64-bit hash before the
    intersect/union (same set cardinalities modulo 64-bit collisions,
    ~1e-8 at 1M distinct shingles): long-array set ops are ~7x cheaper
    than string-array ones and the per-pair arrays shrink 5x in memory —
    at 100 TB this is the difference between the verify join spilling or
    not.  The hashed shingle table is built by the vectorized Arrow
    kernel (_shingle_hash_arrays — shared with minhash_signatures, ~5x
    the JVM HOF path); Jaccard VALUES are hash-family-independent since
    only cardinalities survive.
    """
    sh = _shingle_hash_arrays(docs, id_col, text_col, k)
    melted = df_pairs.select(
        "*",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("_side"), F.col("a").alias("_jid")),
                F.struct(F.lit(1).alias("_side"), F.col("b").alias("_jid")),
            )
        ).alias("_m"),
    ).select("*", F.col("_m._side").alias("_side"), F.col("_m._jid").alias("_jid")).drop("_m")
    other_cols = [c for c in df_pairs.columns]
    folded = (
        melted.join(sh, "_jid")
        .groupBy(*other_cols)
        .agg(
            F.max(F.when(F.col("_side") == 0, F.col("_sh"))).alias("_sha"),
            F.max(F.when(F.col("_side") == 1, F.col("_sh"))).alias("_shb"),
        )
    )
    return (
        folded.withColumn(
            "jaccard",
            F.size(F.array_intersect("_sha", "_shb"))
            / F.size(F.array_union("_sha", "_shb")),
        )
        .drop("_sha", "_shb")
    )


def _prefix_candidates(
    docs: DataFrame, t_num: int, t_den: int,
    id_col: str, text_col: str, k: int,
    max_candidate_pairs: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(candidate pairs, ordered per-doc sets) — the discovery half of
    `jaccard_join_prefix`, separated so tools/probe_prefix_join.py can
    count the candidate volume the prefix filter actually admits.

    ``max_candidate_pairs`` (None = unguarded, the probe's mode): before
    launching the candidate join, estimate its pre-distinct output
    volume as sum over prefix shingles of C(df_prefix(h), 2) — one tiny
    aggregate over the prefix postings the operator already computes —
    and raise if it exceeds the bound.  The estimate is an upper bound
    on the join's row count (each shared prefix token contributes its
    pair once), i.e. exactly the quantity that filled 60 GB of shuffle
    spill in the measured low-threshold template regime
    (BASELINE §4.4h.2 / §4.4i.4: 20k zipf docs at t=3/5 estimates 248M
    pairs — the killed run; the measured slow-but-completing regimes sit
    at <= 61M, so the 100M default separates them with margin)."""
    if not (0 < t_num <= t_den):
        raise ValueError("threshold must satisfy 0 < t_num/t_den <= 1")

    sh = _shingle_hash_arrays(docs, id_col, text_col, k)
    ex = sh.select("_jid", F.explode("_sh").alias("_h"))
    dfreq = ex.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
    ordered = (
        ex.join(dfreq, "_h")
        .groupBy("_jid")
        .agg(F.array_sort(F.collect_list(F.struct("_df", "_h"))).alias("_o"))
        .select(
            "_jid",
            F.transform("_o", lambda s: s["_h"]).alias("_ts"),
            F.size("_o").alias("_n"),
        )
    )
    # p = n - ceil(t*n) + 1, integer-exact
    p = (F.col("_n")
         - F.expr(f"(_n * {t_num} + {t_den} - 1) div {t_den}") + 1)
    pref = ordered.select(
        "_jid", "_n",
        F.posexplode(F.slice("_ts", F.lit(1), p)).alias("_i", "_h"))
    if max_candidate_pairs is not None:
        est_row = (
            pref.groupBy("_h").agg(F.count(F.lit(1)).alias("_c"))
            .agg(F.sum(F.col("_c").cast("double")
                       * (F.col("_c") - F.lit(1)).cast("double")
                       / F.lit(2.0)).alias("_e"))
            .first()
        )
        est = int(est_row["_e"] or 0)
        if est > max_candidate_pairs:
            raise ValueError(
                f"jaccard_join_prefix: estimated candidate volume "
                f"{est:,} pairs exceeds max_candidate_pairs="
                f"{max_candidate_pairs:,} — at threshold {t_num}/{t_den} "
                "the prefix filter admits too many mid-df shingles for "
                "this corpus (the measured 60 GB shuffle-spill regime, "
                "BASELINE §4.4h.2).  Raise the threshold (>= 0.8 is the "
                "dedup-realistic regime), use minhash_verified_pairs / "
                "minhash_dedup_cc (the probabilistic scale default), or "
                "pass max_candidate_pairs=None to force the join.")
    # Positional filter (PPJoin, Xiao et al. WWW'08): a shared prefix
    # token at 0-indexed positions (i, j) of the FULL sorted arrays
    # bounds the overlap: for the pair's FIRST shared token nothing
    # precedes it on either side, so overlap <= 1 + min(na-1-i,
    # nb-1-j); J >= t needs overlap >= ceil(t_num*(na+nb) /
    # (t_num+t_den)).  Keeping a pair when ANY matched occurrence
    # passes is a superset of PPJoin's first-match rule (earlier
    # positions only loosen the bound), so recall stays total while
    # candidates that cannot reach the overlap are never emitted.
    # Integer cross-multiplied — no float boundary.
    cand = (
        pref.alias("pa").join(
            pref.alias("pb"),
            (F.col("pa._h") == F.col("pb._h"))
            & (F.col("pa._jid") < F.col("pb._jid"))
            & (F.least("pa._n", "pb._n") * t_den
               >= F.greatest("pa._n", "pb._n") * t_num)
            & ((F.lit(1) + F.least(F.col("pa._n") - 1 - F.col("pa._i"),
                                   F.col("pb._n") - 1 - F.col("pb._i")))
               * (t_num + t_den)
               >= t_num * (F.col("pa._n") + F.col("pb._n"))),
        )
        .select(F.col("pa._jid").alias("a"), F.col("pb._jid").alias("b"))
        .distinct()
    )
    return cand, ordered


def jaccard_join_prefix(
    docs: DataFrame,
    t_num: int = 3,
    t_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    max_candidate_pairs: int | None = 100_000_000,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (AllPairs /
    PPJoin family): every pair ``a < b`` whose k-shingle Jaccard is
    >= ``t_num/t_den``, with the exact value — the deterministic-recall
    complement to ``minhash_lsh_pairs``, whose banding recall is
    probabilistic and decays toward the threshold.  No all-pairs join
    exists in the plan (pinned by test_plans).

    How recall is total without comparing everything: order every
    document's shingle set by a GLOBAL rarest-first total order
    (document frequency asc, hash asc), and take each document's
    *prefix* of length ``p = n - ceil(t*n) + 1``.  Two documents can
    reach Jaccard >= t only if their prefixes share a shingle:

        Suppose A's prefix shares nothing with B.  All common shingles
        then sit in A's suffix, so |A∩B| <= n_a - p = ceil(t*n_a) - 1.
        But J >= t forces |A∩B| >= t/(1+t) * (n_a+n_b) >= t*n_a (using
        n_b >= t*n_a, itself implied by J >= t), i.e. |A∩B| >=
        ceil(t*n_a) — contradiction.  (Symmetric in A/B.)

    So the candidate generator is an equi-join on PREFIX shingles only,
    plus the length filter ``min(n)*t_den >= max(n)*t_num`` (J >= t
    implies min/max >= t).  Both the length filter and the final accept
    are integer cross-multiplied — no float threshold boundary, so a
    DuckDB all-pairs twin matches exactly.

    Shingles are 64-bit-hashed (the shared `_shingle_hash_arrays` Arrow
    kernel): set cardinalities — the only thing Jaccard observes — are
    hash-family independent modulo ~1e-8 collisions, same contract as
    `ngram_jaccard`.

    At 100 TB: stages are (1) shingle-hash map, (2) one df aggregate
    over exploded shingles, (3) join-back + per-doc sort (the exchange
    is on ``id``), (4) candidate equi-join keyed on PREFIX shingles —
    the rarest ~(1-t) fraction of each document's set by construction,
    so bucket sizes are bounded by LOW dfs and the join never sees the
    stopword-grade shingles that would blow up a naive token join,
    (5) verify join on the candidate pair set only.  Candidate volume
    is sum over prefix shingles of df_prefix(h)^2 — measured against
    |corpus|^2 in tools/probe_prefix_join.py.  The verify stage re-reads
    the per-doc sets via the same melt/fold shape as `ngram_jaccard`
    (each side's array computed once).

    ``max_candidate_pairs`` (default 100M) is the runaway guard: the
    candidate volume estimate Σ C(df_prefix(h), 2) is computed from the
    prefix postings BEFORE the join launches, and the operator raises —
    naming the threshold/minhash escape routes — instead of entering
    the measured 60 GB-spill regime (BASELINE §4.4h.2: low thresholds
    on template-heavy text).  Pass None to force the join anyway.
    """
    cand, ordered = _prefix_candidates(docs, t_num, t_den, id_col,
                                       text_col, k, max_candidate_pairs)
    melted = cand.select(
        "a", "b",
        F.explode(F.array(
            F.struct(F.lit(0).alias("_side"), F.col("a").alias("_jid")),
            F.struct(F.lit(1).alias("_side"), F.col("b").alias("_jid")),
        )).alias("_m"),
    ).select("a", "b", F.col("_m._side").alias("_side"),
             F.col("_m._jid").alias("_jid"))
    folded = (
        melted.join(ordered.select("_jid", "_ts"), "_jid")
        .groupBy("a", "b")
        .agg(
            F.max(F.when(F.col("_side") == 0, F.col("_ts"))).alias("_ta"),
            F.max(F.when(F.col("_side") == 1, F.col("_ts"))).alias("_tb"),
        )
        .withColumn("_i", F.size(F.array_intersect("_ta", "_tb")))
        .withColumn("_u", F.size("_ta") + F.size("_tb") - F.col("_i"))
    )
    return (
        folded.filter(F.col("_i") * t_den >= t_num * F.col("_u"))
        .select("a", "b", F.round(F.col("_i") / F.col("_u"), 4).alias("jaccard"))
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
) -> DataFrame:
    """Fuzzy dedup: drop the higher-id member of every verified near-dup pair.

    (Greedy single-pass; a connected-components pass is the round-2 upgrade
    for transitive clusters.)
    """
    verified = minhash_verified_pairs(
        df, id_col, text_col, threshold, num_perm, bands, k)
    losers = verified.select(F.col("b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# connected_components: round cap, and the first round that pointer-jumps
_CC_MAX_ITER = 50
_CC_PTR_JUMP_AFTER = 2


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """(node, component) labeling of the undirected graph given as edge pairs.

    Min-label propagation plus pointer jumping, expressed purely as
    DataFrame ops: every node repeatedly adopts the minimum label in its
    neighborhood (including its own) until a fixed point.  Each round is
    one shuffle (groupBy node); convergence needs O(graph diameter) rounds
    without pointer jumping and O(log diameter) with it — near-dup graphs
    are shallow (dups of dups of the same doc), so this terminates in a
    handful of rounds.  The component id is the minimum node id in the
    component (deterministic).  Duplicate edges and self-loops are allowed.

    Each round ends on one eager barrier that truncates the lineage; the
    changed-label count rides that barrier's job as an Observation.
    """
    # One scan of `pairs` yields both edge directions (no distinct(): a
    # duplicate edge cannot change a minimum).  The barrier keeps every
    # round from re-running the pipeline behind `pairs` (minhash_dedup_cc
    # at sf0.1: 18.9 s vs 6.2 s end-to-end).
    edges = (
        pairs.select(F.explode(F.array(
            F.struct(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
            F.struct(F.col(b_col).alias("src"), F.col(a_col).alias("dst")),
        )).alias("_e"))
        .select("_e.src", "_e.dst")
        .transform(barrier)
    )

    def settle(labels: DataFrame, changed: Column) -> tuple[DataFrame, int]:
        # barrier() must stay eager: an Observation on a lazy checkpoint
        # followed by a separate action reads 0 changed labels
        obs = Observation()
        labels = (labels.observe(obs, F.count_if(changed).alias("n"))
                  .select("node", "comp").transform(barrier))
        return labels, obs.get["n"]

    # Round 0 needs no join: every node starts labelled by itself, so its
    # first label is least(self, min neighbor) straight off the edges.
    labels, n_changed = settle(
        edges.groupBy("src")
        .agg(F.least("src", F.min("dst")).alias("comp"))
        .withColumnRenamed("src", "node"),
        F.col("comp") != F.col("node"))
    # Pointer jumping (comp -> comp(comp)) doubles label reach per round —
    # O(log diameter) on chains — but costs an extra self-join every
    # round.  Near-dup graphs converge in ~2 rounds with or without it
    # (interleaved at sf0.1: 2 rounds both ways, 0.87 s vs 1.30 s), so the
    # jump join only switches on from round _CC_PTR_JUMP_AFTER: shallow
    # graphs (the common case) never pay it, pathological chains still get
    # the logarithmic asymptotics after the grace rounds.
    comp_type = labels.schema["comp"].dataType
    for it in range(1, _CC_MAX_ITER):
        if n_changed == 0:
            break
        # min label over {self} ∪ neighbors, one shuffle.  The self rows
        # carry their current label along as _old for the change count.
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), F.col("comp"),
                    F.lit(None).cast(comp_type).alias("_old"))
        )
        new_labels = (
            labels.select("node", "comp", F.col("comp").alias("_old"))
            .union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"),
                 F.max("_old").alias("_old"))
        )
        if it >= _CC_PTR_JUMP_AFTER:
            mapping = new_labels.select(
                F.col("node").alias("m_node"), F.col("comp").alias("m_comp")
            )
            new_labels = (
                new_labels.join(
                    mapping, new_labels.comp == mapping.m_node, "left")
                .select(
                    "node", "_old",
                    F.coalesce(F.col("m_comp"), F.col("comp")).alias("comp"))
            )
        labels, n_changed = settle(
            new_labels, F.col("comp") != F.col("_old"))
    return labels.select(F.col("node"), F.col("comp").alias("component"))


def minhash_dedup_cc(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
    collapse_min_dup_frac: float = 0.05,
) -> DataFrame:
    """Transitive fuzzy dedup: verified near-dup pairs → connected
    components → keep the minimum-id representative of each cluster.

    Unlike the greedy single-pass `minhash_dedup`, A~B~C collapses to one
    survivor even when A and C never collide directly.

    When the corpus carries a material exact-duplicate fraction
    (> `collapse_min_dup_frac`), they are collapsed FIRST
    (one md5 groupBy keeping the min-id copy) and only unique texts
    enter the LSH/verify/CC machinery.  This is provably
    result-identical: replicas of a text all pair with each other at
    jaccard 1, so a component's min id equals the min over its per-text
    min-id representatives — but it changes the cost class on real
    corpora, where exact-dup mass is the bulk of near-dup mass
    (measured on the 90%-duplicate sf1 probe: 34 s → ~10 s, identical
    survivor set; tools/probe_sf1_extras.py).  Whether dups exist is
    decided by one narrow (id, md5) probe aggregation — necessarily an
    action, same gated pattern as equidepth_histogram — so a
    low-dup corpus pays only the probe (~7% at sf0.1, interleaved A/B),
    never the collapse joins (which measured +21% there).  The threshold
    matters both ways: below it the collapse joins cost more than the
    LSH work they save (exact dups are jaccard-1 pairs the original
    path already handles correctly), above it the LSH stage would chew
    through replica-bloated buckets (the 90%-dup probe: 34 s vs 8 s).
    """
    if collapse_min_dup_frac >= 1.0:
        # collapse disabled by the caller (e.g. curate_corpus, whose exact-
        # dedup stage already ran): dup_frac can never exceed 1.0, so skip
        # the md5 probe AGGREGATION JOB entirely (round 12 — previously the
        # probe scanned the corpus even though its result was unused)
        dup_frac = 0.0
    else:
        hashed = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("_h"))
        counts = hashed.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("_h").alias("u"),
        ).first()
        n_docs, n_uniq = counts["n"], counts["u"]
        dup_frac = 0.0 if not n_docs else (n_docs - n_uniq) / n_docs
    if dup_frac <= collapse_min_dup_frac:  # low-dup: zero-join path
        verified = minhash_verified_pairs(
            df, id_col, text_col, threshold, num_perm, bands, k)
        comps = connected_components(verified)
        losers = comps.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_col)
        )
        return df.join(losers, on=id_col, how="left_anti")
    rep = hashed.groupBy("_h").agg(F.min(id_col).alias("_rep"))
    uniq = df.join(
        rep.select(F.col("_rep").alias(id_col)), id_col, "leftsemi")
    verified = minhash_verified_pairs(
        uniq, id_col, text_col, threshold, num_perm, bands, k)
    comps = connected_components(verified)
    # losers = exact replicas (id != its text's min id) ∪ representatives
    # that lost their component; each replica's fate follows its rep's.
    rep_losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    replica_losers = (
        hashed.join(rep, "_h")
        .filter(F.col(id_col) != F.col("_rep"))
        .select(id_col)
    )
    losers = replica_losers.union(rep_losers)
    return df.join(losers, on=id_col, how="left_anti")


def simhash(text_col_name: str, bits: int = 64) -> Column:
    """SimHash over whitespace tokens: sign of per-bit vote sums, packed into
    a bigint.  Pure higher-order-function SQL (one expr, JVM-side); the
    Python `F.shiftright` wrapper demands literal shift amounts, so the bit
    loop is spelled as SQL where shift counts can be expressions.
    """
    toks = f"split(trim(lower(`{text_col_name}`)), '{ASCII_WS_SPARKSQL}')"
    votes = (
        f"transform(sequence(0, {bits - 1}), b -> "
        f"aggregate(transform({toks}, t -> xxhash64(t)), 0L, "
        f"(acc, h) -> acc + CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END))"
    )
    packed = (
        f"aggregate(zip_with({votes}, sequence(0, {bits - 1}), "
        f"(v, b) -> CASE WHEN v > 0 THEN shiftleft(1L, CAST(b AS INT)) ELSE 0L END), "
        f"0L, (acc, x) -> acc | x)"
    )
    return F.expr(packed)


def _token_hash_sql(text_col: str, hash_fn: str) -> str:
    """SQL expr producing the per-token 64-bit hash array.

    ``xxhash64`` is the scale path (one JVM hash per token, zero
    allocation).  ``md5_60`` is the portable twin — the low 60 bits of
    md5's hex form via CONV — chosen because DuckDB computes the identical
    value (md5 hex is engine-independent), which makes the whole simhash
    pipeline expressible as an oracle query.  Only the base hash differs;
    voting/packing/blocking logic is shared.
    """
    toks = f"split(trim(lower(`{text_col}`)), '{ASCII_WS_SPARKSQL}')"
    if hash_fn == "xxhash64":
        return f"transform({toks}, t -> xxhash64(t))"
    if hash_fn == "md5_60":
        return (
            f"transform({toks}, "
            "t -> CAST(CONV(SUBSTR(MD5(t), 1, 15), 16, 10) AS BIGINT))"
        )
    raise ValueError(f"unknown hash_fn {hash_fn!r} (xxhash64|md5_60)")


def simhash_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_hamming: int = 3, blocks: int = 4, hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash with block-permutation blocking: split the
    64-bit hash into `blocks` segments; by pigeonhole, pairs within
    max_hamming <= blocks-1 share at least one exact segment — join on it.

    NOTE: blocking is exhaustive only for max_hamming <= blocks-1; larger
    thresholds trade recall for fewer blocks (document the recall drop or
    raise `blocks`).
    """
    seg_bits = 64 // blocks
    # stage the token-hash array in its own projection so the split+hash runs
    # once per doc, not once per bit (the per-bit vote lambda only does
    # integer shifts over the materialized longs)
    votes = (
        "transform(sequence(0, 63), b -> "
        "aggregate(`_th`, 0L, "
        "(acc, h) -> acc + CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END))"
    )
    packed = (
        f"aggregate(zip_with({votes}, sequence(0, 63), "
        "(v, b) -> CASE WHEN v > 0 THEN shiftleft(1L, CAST(b AS INT)) ELSE 0L END), "
        "0L, (acc, x) -> acc | x)"
    )
    sh = (
        _spread(df)
        .select(
            F.col(id_col).alias("_id"),
            F.expr(_token_hash_sql(text_col, hash_fn)).alias("_th"),
        )
        .select("_id", F.expr(packed).alias("_sh"))
    )
    mask = (1 << seg_bits) - 1
    seg = sh.select(
        "_id", "_sh",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {blocks - 1}), "
                f"b -> (`_sh` >> (b * {seg_bits})) & {mask}L)"
            )
        ).alias("_seg", "_segval"),
    )
    l, r = seg.alias("l"), seg.alias("r")
    cand = (
        l.join(r, on=["_seg", "_segval"], how="inner")
        .filter(F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("a"), F.col("r._id").alias("b"),
            F.col("l._sh").alias("_sha"), F.col("r._sh").alias("_shb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("_sha").bitwiseXOR(F.col("_shb")))
    return cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("a", "b", "hamming")


def corpus_dedup_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
) -> DataFrame:
    """One-row corpus governance summary: how much of the corpus is exact-
    or near-duplicate.  Returns (n_docs, n_exact_dup, n_near_dup,
    n_after_dedup) where exact dupes are surplus rows per identical text
    and near dupes are the additional rows removed by transitive verified
    MinHash dedup.  Composes the existing verified pipeline, so the whole
    report stays value-checkable; everything reduces to tiny aggregates —
    at 100 TB the report costs one dedup pass, which a corpus release
    runs anyway.
    """
    n_docs = df.count()
    exact_groups = (
        df.groupBy(F.lower(F.trim(F.col(text_col))).alias("_t"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    n_exact_dup = (
        exact_groups.agg(F.sum(F.col("_c") - 1).alias("s")).collect()[0]["s"] or 0
    )
    kept = minhash_dedup_cc(
        df, id_col, text_col, threshold, num_perm, bands, k
    ).count()
    spark = df.sparkSession
    return spark.createDataFrame(
        [(int(n_docs), int(n_exact_dup), int(n_docs - kept - n_exact_dup),
          int(kept))],
        "n_docs long, n_exact_dup long, n_near_dup long, n_after_dedup long",
    )


def build_minhash_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
) -> DataFrame:
    """Persistable LSH index over a corpus: (corpus_id, band, bucket).

    This is the all-time index an incremental-ingest pipeline maintains —
    write it partitioned/bucketed by (band, bucket) and append each day's
    batch rows so tomorrow's probe joins co-located.  Exactly the same
    banding as minhash_lsh_pairs, so index + probe find the same
    candidates the one-shot self-dedup would."""
    return _banded_buckets(corpus, id_col, text_col, num_perm, bands, k).select(
        F.col("_id").alias("corpus_id"),
        F.col("_band").alias("band"),
        F.col("_bucket").alias("bucket"),
    )


def probe_minhash_index(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
    broadcast_batch: bool = True,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Candidate (new_id, corpus_id, n_bands) matches of a new batch
    against a persisted corpus index.

    ``banded`` optionally supplies the batch's precomputed
    `_banded_buckets` rows (_id, _band, _bucket) — callers that need
    the buckets anyway (e.g. stream_dedup_indexed, which also appends
    them to the persisted index) pass them in so the MinHash signature
    kernel runs ONCE per batch instead of once per consumer.

    Scale shape: the daily batch is orders of magnitude smaller than the
    all-time corpus, so the BATCH side's banded buckets broadcast and the
    corpus-scale index is probed in place — it never shuffles (with the
    index bucketed by (band, bucket) the probe also never full-scans).

    Pass ``broadcast_batch=False`` when the "batch" is not actually small
    (e.g. a backfill, or a first streaming microbatch that swallowed the
    whole backlog because maxFilesPerTrigger was unset): the banded
    buckets are ~bands rows per document, and a too-large broadcast fails
    the job at ``spark.sql.autoBroadcastJoinThreshold``-scale.  Without
    the hint Spark/AQE picks the join strategy from actual sizes.
    """
    nb = (
        banded
        if banded is not None
        else _banded_buckets(new_df, id_col, text_col, num_perm, bands, k)
    ).select(
        F.col("_id").alias("new_id"),
        F.col("_band").alias("band"),
        F.col("_bucket").alias("bucket"),
    )
    return (
        index.join(F.broadcast(nb) if broadcast_batch else nb, ["band", "bucket"])
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def dedup_against_corpus(
    new_df: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
    index: DataFrame | None = None,
    corpus_hashes: DataFrame | None = None,
    new_banded: DataFrame | None = None,
) -> DataFrame:
    """Incremental dedup: rows of `new_df` that are neither exact nor
    verified near-duplicates (k-shingle Jaccard >= threshold) of any
    corpus document.  New-vs-new duplicates are deliberately kept — that
    is the self-dedup pass (minhash_dedup/_cc), run separately.

    Two tiers, production shape:
    1. exact — xxhash64(lower(text)) anti-join (cheapest filter first;
       at scale keep the corpus hash set as a bucketed table for a
       co-located anti-join).  Pass ``corpus_hashes`` (one `_ch` column
       of xxhash64(lower(text)) values — e.g. the sidecar
       stream_dedup_indexed persists per batch) to skip re-hashing the
       corpus text here.
    2. near — probe the LSH `index` (built here from `corpus` when not
       provided), then verify candidates with exact shingle Jaccard; the
       verify join only ever touches the candidate corpus rows.

    Id spaces may overlap: the verify stage internally prefixes new ids
    with ``n:`` and corpus ids with ``c:`` before the shingle-table
    union, so a new row and a corpus row sharing the same id can never be
    confused for each other.  The final anti-join uses the ORIGINAL new
    ids carried through the pair table, untouched by the prefixing.
    """
    h = lambda c: F.xxhash64(F.lower(c))  # noqa: E731
    pref = lambda p, c: F.concat(F.lit(p), F.col(c).cast("string"))  # noqa: E731
    if corpus_hashes is None:
        corpus_hashes = corpus.select(
            h(F.col(text_col)).alias("_ch")).distinct()
    stage1 = new_df.join(
        corpus_hashes, h(F.col(text_col)) == F.col("_ch"), "left_anti"
    )
    idx = (
        index
        if index is not None
        else build_minhash_index(corpus, id_col, text_col, num_perm, bands, k)
    )
    # ``new_banded`` (precomputed buckets of new_df) may cover exact-tier
    # rejects too: their candidate pairs verify against docs absent from
    # stage1, so the final anti-join ignores them — same survivors,
    # probe work bounded by the batch either way.
    cand = probe_minhash_index(stage1, idx, id_col, text_col, num_perm,
                               bands, k, banded=new_banded)
    pairs = cand.select(
        pref("n:", "new_id").alias("a"),
        pref("c:", "corpus_id").alias("b"),
        F.col("new_id").alias("_orig_new"),
    )
    # restrict the verify-side shingle table to CANDIDATE ids before
    # ngram_jaccard — otherwise every corpus document's shingles are
    # recomputed on every call (per microbatch in streaming ingest)
    cand_ids = (
        pairs.select(F.col("a").alias(id_col))
        .union(pairs.select(F.col("b").alias(id_col)))
        .distinct()
    )
    both = (
        new_df.select(pref("n:", id_col).alias(id_col), F.col(text_col))
        .unionByName(corpus.select(pref("c:", id_col).alias(id_col), F.col(text_col)))
        .join(cand_ids, id_col, "left_semi")
    )
    verified = ngram_jaccard(pairs, both, id_col, text_col, k).filter(
        F.col("jaccard") >= threshold
    )
    losers = verified.select(F.col("_orig_new").alias(id_col)).distinct()
    return stage1.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Exact substring dedup (round 3) — the winnowing-fingerprint formulation of
# "find byte-identical substrings shared across documents and excise them"
# (the suffix-array dedup of training-data pipelines, re-expressed as the
# MOSS/winnowing scheme that Spark can run as joins: any shared substring of
# length >= k + window - 1 is GUARANTEED to produce at least one shared
# fingerprint, so recall at the guarantee length is exact, not probabilistic).
# ---------------------------------------------------------------------------

def winnowed_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    window: int = 16,
    hash_fn: str = "md5_60",
) -> DataFrame:
    """(doc_id, pos, fp): winnowed fingerprints of every document.

    Position-p k-grams are hashed; within every `window` consecutive
    positions the (hash, position)-lexicographic minimum is kept.  Classic
    winnowing guarantee: two documents sharing a substring of length
    >= k + window - 1 share at least one (fp) value.  `pos` is 1-based
    (SQL substr convention).

    ``hash_fn="md5_60"`` is the portable twin (DuckDB computes identical
    values — same convention as simhash_pairs), used by the value-checked
    gate query; the winnow/span/join logic is hash-agnostic.
    """
    if hash_fn != "md5_60":
        raise ValueError("portable md5_60 is the only implemented hash")
    df = _spread(df)
    lt = F.col(text_col)
    m = F.greatest(F.length(lt) - F.lit(k - 1), F.lit(1))
    hs = F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
        f"i -> CAST(CONV(SUBSTR(MD5(SUBSTR({text_col}, i, {k})), 1, 15), 16, 10)"
        " AS BIGINT))"
    )
    base = df.select(F.col(id_col), hs.alias("_hs"),
                     m.alias("_m")).withColumn(
        "_w", F.least(F.lit(window), F.col("_m")))
    # per winnow-window minimum of (hash, position); distinct across
    # overlapping windows = the fingerprint set
    fps = base.select(
        id_col,
        F.explode(F.array_distinct(F.expr(
            "transform(sequence(1, _m - _w + 1), p -> "
            "aggregate(sequence(p, p + _w - 1), "
            "named_struct('h', 9223372036854775807L, 'q', -1), "
            "(acc, q) -> IF(_hs[q - 1] < acc.h, "
            "named_struct('h', _hs[q - 1], 'q', q), acc)))"
        ))).alias("_fp"),
    )
    return fps.select(id_col, F.col("_fp.q").alias("pos"),
                      F.col("_fp.h").alias("fp"))


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    window: int = 16,
    min_docs: int = 2,
    hash_fn: str = "md5_60",
) -> DataFrame:
    """(doc_id, span_start, span_end): maximal merged character intervals
    covered by fingerprints whose value occurs in >= min_docs DISTINCT
    documents.  One groupBy on fp + one join back + one per-doc window
    pass (gaps-and-islands) — never a doc x doc product."""
    fps = winnowed_fingerprints(df, id_col, text_col, k, window, hash_fn)
    dup = (fps.groupBy("fp")
           .agg(F.countDistinct(id_col).alias("_nd"))
           .filter(F.col("_nd") >= min_docs)
           .select("fp"))
    hits = fps.join(dup, "fp").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    # island starts where this span begins after every previous span ended
    islands = (
        hits.withColumn("_end", F.col("pos") + F.lit(k - 1))
        .withColumn("_prev_max",
                    F.max("_end").over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("_new", (F.col("_prev_max").isNull() |
                             (F.col("pos") > F.col("_prev_max") + 1)).cast("int"))
        .withColumn("_isl", F.sum("_new").over(w))
    )
    return (islands.groupBy(id_col, "_isl")
            .agg(F.min("pos").alias("span_start"),
                 F.max("_end").alias("span_end"))
            .drop("_isl")
            .select(id_col, "span_start", "span_end"))


def scrub_duplicated_substrings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    window: int = 16,
    min_docs: int = 2,
    hash_fn: str = "md5_60",
) -> DataFrame:
    """Documents with cross-document duplicated substrings excised: the
    kept segments between duplicated spans are re-concatenated.  Rows
    without any duplicated span pass through untouched."""
    spans = duplicated_spans(df, id_col, text_col, k, window, min_docs, hash_fn)
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("span_start", "span_end")))
        .alias("_spans"))
    joined = df.join(per_doc, id_col, "left")
    scrubbed = F.when(F.col("_spans").isNull(), F.col(text_col)).otherwise(
        F.concat(
            F.expr(
                f"aggregate(_spans, named_struct('acc', '', 'nxt', 1), "
                f"(s, sp) -> named_struct("
                f"'acc', s.acc || substr({text_col}, s.nxt, sp.span_start - s.nxt), "
                f"'nxt', sp.span_end + 1), "
                f"s -> s.acc)"
            ),
            F.expr(
                f"substr({text_col}, element_at(_spans, -1).span_end + 1)"
            ),
        )
    )
    return joined.withColumn(text_col, scrubbed).drop("_spans")
