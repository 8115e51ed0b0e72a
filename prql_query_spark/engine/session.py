"""SparkSession construction tuned for the engine.

Scale posture (SURVEY.md §7.4 item 8): AQE on (runtime join re-planning, skew
join splitting, partition coalescing), broadcast threshold left to Spark/AQE,
Arrow enabled for any pandas interchange.  On a real cluster these settings
carry over; only master/shuffle-partition count are local-mode artifacts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "prql-query-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    # default: one task slot per CPU this process may run on
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("PQ_SHUFFLE_PARTITIONS", cpus))
    # Scan split size stays at Spark's 128 MB default: the local testdata
    # parquet files are SINGLE-row-group, so sub-file splits cannot add scan
    # parallelism — they only schedule empty tasks (interleaved A/B at
    # sf0.1: 8 MB splits measured ~5% slower than 128 MB across the
    # headline queries).  Operators that need CPU parallelism on small
    # inputs get it from _spread()/repartition, not from splits.  Genuinely
    # multi-row-group local files can pass
    # extra_conf={"spark.sql.files.maxPartitionBytes": ...}.
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        # Broadcast threshold at Spark's 10 MB default.  The round-2 64 MB
        # override was re-measured at sf1 (tools/make_sfbig.py fixtures,
        # interleaved A/B): broadcasting the 25 MB orders build side LOSES
        # ~30% vs shuffling it (1.38 s vs 0.99 s) — the serial hash-table
        # build dominates — while at sf0.1 every join's build side is
        # <3 MB, so 10 MB vs 64 MB is plan-identical there (verified
        # within noise).  10 MB also bounds the network amplification of
        # a 1000-executor broadcast; AQE still upgrades shuffle→broadcast
        # when runtime stats come in under the threshold.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 << 20))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("PQ_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def tune_session_for(spark: SparkSession, input_bytes: int) -> None:
    """Size shuffle parallelism and AQE to the job's actual input.

    Rule: shuffle partitions ~ one per 32 MB of input, never below core
    count (CPU-bound operators — minhash, tokenization — need every core
    regardless of input size; dropping below cores measured 3-10x slower
    on those), capped at 2000 where AQE coalescing takes over.  At 100 TB
    the clamp lands at 2000; at CLI scale it stays at core count.

    AQE stays ON at every size: an interleaved same-session A/B at sf0.1
    on local[32] (8 rounds, warm medians) showed its per-stage driver
    round-trips are within run-to-run noise (q_agg 281 vs 317 ms, q_topk
    288 vs 270 ms), so there is nothing to win by toggling it — and it is
    load-bearing for skew/join re-planning at scale.  (A one-shot probe
    that "measured" 45% AQE overhead was really JIT warm-up ordering;
    interleave before believing a config delta.)
    """
    cores = spark.sparkContext.defaultParallelism
    per_32mb = input_bytes // (32 << 20)
    parts = max(cores, min(per_32mb, 2000))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))


def barrier(df, eager: bool = True):
    """Lineage/plan barrier for iterative and multi-consumer operators.

    Every iterative operator (connected components, pagerank, k-means) and
    every compute-once-read-many proxy table (minhash signatures, NB bucket
    counts, bigram/unigram aggregates, heavy-hitter summaries) needs a
    point where the plan is truncated and the result is served from saved
    partitions instead of being re-derived per consumer / per iteration.

    * **Local / single-node (default):** ``localCheckpoint(eager=...)`` —
      the cheapest barrier.  Its blocks live on executors with NO fault
      tolerance: on a real cluster, losing one executor mid-query kills
      the job because the truncated lineage cannot be recomputed.  That is
      an acceptable trade only when recompute-from-source is cheap
      (restart the query).
    * **Cluster scale (opt-in):** configure a checkpoint directory —
      ``spark.checkpoint.dir=hdfs://...`` at session build, or
      ``sc.setCheckpointDir(...)`` — and the SAME call sites switch to
      reliable ``checkpoint()``: blocks are written to fault-tolerant
      storage and survive executor loss, at the cost of a write+read of
      the (proxy-sized, not corpus-sized) barrier table.

    ``eager`` mirrors Spark's default (``True``); pass ``eager=False``
    where the barrier should materialize lazily on first use.
    """
    try:
        ckdir = df.sparkSession.sparkContext.getCheckpointDir()
    except Exception:  # pragma: no cover - Connect or exotic sessions
        ckdir = None
    if ckdir:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def sources_bytes(paths: list[str]) -> int:
    """Total on-disk size of files/directories backing a query's sources.
    Glob patterns (--from supports them) expand before sizing."""
    import glob as _glob

    total = 0
    expanded: list[str] = []
    for p in paths:
        if any(c in os.path.basename(p) for c in "*?["):
            expanded.extend(_glob.glob(p))
        else:
            expanded.append(p)
    for p in expanded:
        if os.path.isdir(p):
            for root, _, files in os.walk(p):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        elif os.path.exists(p):
            total += os.path.getsize(p)
    return total


def tune_splits_for_layout(spark: SparkSession, paths: list[str]) -> None:
    """Layout-aware scan-split sizing.

    Spark parallelizes parquet at row-group/file granularity, so split
    size only matters when the source HAS independent units to hand out:

    * single-file single-row-group sources (the driver's testdata) cannot
      be split — sub-128 MB splits only schedule empty tasks (measured
      ~5% slower in round 2) — so defaults stay;
    * multi-file / multi-row-group sources (e.g. compact_for_parallelism
      output, or any real table) get splits sized to keep every core
      busy: split = clamp(total/(2*cores), 1 MB, 128 MB), with
      openCostInBytes scaled down so small files aren't bin-packed into
      one task by the default 4 MB open-cost.

    At 100 TB total/(2*cores) clamps to 128 MB and this is a no-op — the
    tuning exists for small inputs, where the default bin-packing
    otherwise starves cores.
    """
    units = 0
    total = 0
    try:
        import pyarrow.parquet as papq
    except ImportError:  # pragma: no cover
        return
    files: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                files += [os.path.join(root, f) for f in names
                          if f.endswith(".parquet")]
        elif p.endswith(".parquet"):
            files.append(p)
    for f in files:
        total += os.path.getsize(f)
        try:
            units += papq.ParquetFile(f).num_row_groups
        except Exception:
            units += 1
    cores = spark.sparkContext.defaultParallelism
    if units < 2 * min(cores, max(1, len(files))) and len(files) <= 1:
        return  # unsplittable layout: defaults are already optimal
    split = max(1 << 20, min(total // (2 * cores) or (1 << 20), 128 << 20))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    spark.conf.set("spark.sql.files.openCostInBytes", str(max(64 << 10, split // 8)))
