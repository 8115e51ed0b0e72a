"""Streaming corpus ingestion: continuous dedup of arriving documents
against the all-time corpus.

The production shape of `operators/dedup.dedup_against_corpus`: documents
land as files, each microbatch is deduped against a STATIC corpus LSH
index (built once per query start, reused every batch), and survivors are
appended to the warehouse idempotently.

Every stream here reads through `microbatch.file_stream` and lands each
microbatch through `microbatch.write_batch`, the exactly-once `_batch_id`
sink: a replayed batch rewrites its own partition, never duplicates it.

Because the reference set is static, per-document decisions are
independent of batching, so the stream is EXACTLY equivalent to one batch
`dedup_against_corpus` over the same files — pinned by
tests::test_stream_ingest_dedup_matches_batch.  New-vs-new duplicates
within/between microbatches are deliberately kept, same contract as the
batch operator (self-dedup is a separate compaction pass).  At scale:
the index is a bucketed table appended per batch if the corpus itself
must grow; here it is immutable for determinism.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prql_query_spark.engine.session import barrier
from prql_query_spark.streaming.microbatch import (
    batch_ids, file_stream, read_batches, start_batches, write_batch)


def split_mtime_ordered_batches(
    df: DataFrame,
    src_dir: str,
    n_batches: int = 3,
    key_col: str = "doc_id",
) -> None:
    """Write ``df`` as ``n_batches`` single-file parquet batches under
    ``src_dir`` (file b holds the rows with key_col % n_batches == b)
    with PINNED INCREASING mtimes, so a file-source stream's
    oldest-first order IS the batch order.  This is the deterministic
    source fixture every streaming gate row, batch-equivalence test,
    and scale probe shares — first-accepted-wins streams are
    order-dependent by contract, so the six call sites must agree on
    the split and the ordering or they silently measure different
    streams."""
    import glob as _glob
    import shutil as _shutil
    import tempfile

    stage_root = tempfile.mkdtemp(prefix="pq_stage_")
    try:
        os.makedirs(src_dir, exist_ok=True)
        for b in range(n_batches):
            stage = os.path.join(stage_root, f"stage{b}")
            df.filter(F.col(key_col) % n_batches == b).coalesce(1) \
                .write.mode("overwrite").parquet(stage)
            part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            dst = os.path.join(src_dir, f"f{b}.parquet")
            _shutil.copy(part, dst)
            os.utime(dst, (1_000_000_000 + b, 1_000_000_000 + b))
    finally:
        _shutil.rmtree(stage_root, ignore_errors=True)


def split_mtime_ts_batches(
    df: DataFrame,
    src_dir: str,
    n_batches: int = 3,
    ts_col: str = "ts",
    tiebreak: str = "event_id",
    start_batch: int = 0,
) -> None:
    """Time-ordered sibling of `split_mtime_ordered_batches`: file b
    holds the b-th RANGE of rows ordered by (ts_col, tiebreak), so any
    key's rows arrive across microbatches in timestamp order — the
    property stateful event-time operators (sessionization) need from a
    deterministic file-source fixture.  Harness-only: the global
    row_number window is single-partition, fine for a gate fixture,
    never an engine path (a production stream gets this ordering from
    its log, not from a sort).  ``start_batch`` offsets the file names
    and mtimes so a later sentinel/flush batch can be appended with
    `split_mtime_ts_batches(sent, src, 1, start_batch=n)`."""
    import glob as _glob
    import shutil as _shutil
    import tempfile

    from pyspark.sql import Window

    total = df.count()
    if total == 0:
        raise ValueError(
            "split_mtime_ts_batches: input DataFrame is empty — a file-"
            "source fixture needs at least one row per batch")
    if total < n_batches:
        raise ValueError(
            f"split_mtime_ts_batches: only {total} rows for {n_batches} "
            "batches — an empty batch file cannot be staged; lower "
            "n_batches to at most the row count")
    per = -(-total // n_batches)  # ceil
    w = Window.orderBy(ts_col, tiebreak)
    # Integer division (`div`), not float `/`: float bucketing can land
    # rows in the wrong batch at large row numbers and makes the
    # empty-bucket failure mode (IndexError on glob(...)[0]) opaque.
    bucketed = df.withColumn(
        "_rn", F.row_number().over(w)).withColumn(
        "_b", F.expr(f"CAST((_rn - 1) DIV {per} AS INT)")).drop("_rn")

    stage_root = tempfile.mkdtemp(prefix="pq_stage_")
    try:
        os.makedirs(src_dir, exist_ok=True)
        for b in range(n_batches):
            stage = os.path.join(stage_root, f"stage{b}")
            bucketed.filter(F.col("_b") == b).drop("_b").coalesce(1) \
                .write.mode("overwrite").parquet(stage)
            parts = _glob.glob(os.path.join(stage, "part-*.parquet"))
            if not parts:
                raise ValueError(
                    f"split_mtime_ts_batches: batch {b} of {n_batches} is "
                    f"empty ({total} rows, ceil-size {per}) — the trailing "
                    "bucket got no rows; lower n_batches")
            part = parts[0]
            fno = start_batch + b
            dst = os.path.join(src_dir, f"f{fno}.parquet")
            _shutil.copy(part, dst)
            os.utime(dst, (1_000_000_000 + fno, 1_000_000_000 + fno))
    finally:
        _shutil.rmtree(stage_root, ignore_errors=True)


def stream_heavy_hitter_summaries(
    spark: SparkSession,
    docs_path: str,
    summary_dir: str,
    checkpoint: str,
    phi_num: int = 1,
    phi_den: int = 100,
    text_col: str = "text",
    queryName: str = "pq_stream_hh",
    max_files_per_trigger: int | None = 64,
):
    """Continuously maintain frequent-term candidate summaries from a
    document stream — the streaming half of `analytics.heavy_hitters`.

    Each micro-batch runs ONE Misra-Gries pass over its own tokens
    (`mg_candidate_summary`, capacity >= 1/phi per partition) and
    appends the bounded summary (<= capacity x partitions rows + one
    row-count sentinel per partition).  Per-batch cost is therefore
    FLAT — it never re-reads earlier batches, the same property the
    BM25 maintainer has.  Recall stays total across any batch split:
    an item phi-heavy over the accumulated corpus is phi-heavy in at
    least one (batch, partition) slice (pigeonhole), so it survives
    that slice's summary; the candidate UNION can only grow.  Exact
    counts are NOT maintained incrementally (a term may be candidate
    in one batch and not another, so summing per-batch counts would
    undercount); serving runs `heavy_hitters_verify` — one
    candidate-filtered aggregate over the accumulated corpus, the same
    query-time contract as the persisted dedup/BM25 probes.

    `write_batch` keeps crash replays idempotent — a replayed batch
    REWRITES its own summary partition; a duplicated one would double
    the sentinel total and shift the phi threshold, which is exactly
    what the x_stream_heavy_hitters gate row's in-row replay would
    catch."""
    import math

    from prql_query_spark.operators.analytics import mg_candidate_summary
    from prql_query_spark.operators.text import tokens

    k = math.ceil(phi_den / phi_num)
    stream = file_stream(spark, docs_path, max_files_per_trigger)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        items = batch_df.select(
            F.explode(tokens(F.col(text_col))).alias("_item")) \
            .filter(F.col("_item").isNotNull())
        write_batch(mg_candidate_summary(items, k), batch_id, summary_dir)

    return start_batches(stream, _batch, checkpoint, queryName)


def stream_heavy_hitter_summaries_by(
    spark: SparkSession,
    docs_path: str,
    summary_dir: str,
    checkpoint: str,
    by: list[str],
    phi_num: int = 1,
    phi_den: int = 100,
    text_col: str = "text",
    queryName: str = "pq_stream_hh_by",
    max_files_per_trigger: int | None = 64,
):
    """Grouped `stream_heavy_hitter_summaries` ("trending terms per
    source", continuously maintained): each micro-batch runs ONE
    group-wise Misra-Gries pass over its own tokens
    (`analytics.mg_candidate_summary_by`) and appends the bounded
    summary (<= groups-present x capacity rows per partition + one
    per-group sentinel per partition) as its `_batch_id` partition —
    flat per-batch cost, earlier batches never re-read, same contract
    as the flat maintainer.

    Recall stays total per group across any batch split (an item
    phi-heavy in group g over the accumulated corpus is phi-heavy in
    g's slice of at least one (batch, partition) — pigeonhole), so
    serving is `analytics.heavy_hitters_verify_by` over the read-back
    sidecar (optionally `compact_mg_summaries_by` first to fold the
    B-batch pile down to <= groups x (capacity+1) rows, output
    identical — the compactor projects to (by, _item, _w) itself, so
    the sidecar's `_batch_id` partition column needs no pre-drop);
    results equal `heavy_hitters_by` on everything ingested
    (pytest-pinned).  `write_batch` keeps crash replays idempotent, as
    everywhere."""
    import math

    from prql_query_spark.operators.analytics import mg_candidate_summary_by
    from prql_query_spark.operators.text import tokens

    by = list(by)
    k = math.ceil(phi_den / phi_num)
    stream = file_stream(spark, docs_path, max_files_per_trigger)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        items = batch_df.select(
            *by, F.explode(tokens(F.col(text_col))).alias("_item")) \
            .filter(F.col("_item").isNotNull())
        write_batch(mg_candidate_summary_by(items, by, k), batch_id,
                    summary_dir)

    return start_batches(stream, _batch, checkpoint, queryName)


def stream_dedup_against_corpus(
    spark: SparkSession,
    docs_path: str,
    corpus: DataFrame,
    out_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
    queryName: str = "pq_stream_ingest_dedup",
    max_files_per_trigger: int | None = 64,
):
    """See module docstring.

    ``max_files_per_trigger`` defaults to 64 so the FIRST microbatch after
    a cold start cannot swallow an arbitrarily large backlog: the probe
    join broadcasts the batch side (probe_minhash_index's contract), and
    an unbounded first batch can blow past Spark's broadcast limit.  Pass
    ``None`` to disable the cap only when the backlog is known-bounded.
    """
    from prql_query_spark.operators.dedup import (
        build_minhash_index, dedup_against_corpus)

    # build the index and the corpus hash set ONCE; localCheckpoint so
    # every microbatch probes materialized rows instead of re-running the
    # signature stage per batch
    idx = build_minhash_index(
        corpus, id_col, text_col, num_perm, bands, k
    ).transform(barrier)
    corpus_slim = corpus.select(id_col, text_col).transform(barrier)

    stream = file_stream(spark, docs_path, max_files_per_trigger)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        survivors = dedup_against_corpus(
            batch_df, corpus_slim, id_col, text_col, threshold,
            num_perm, bands, k, index=idx,
        )
        write_batch(survivors, batch_id, out_dir)

    return start_batches(stream, _batch, checkpoint, queryName)


def stream_image_dedup_against_corpus(
    spark: SparkSession,
    media_path: str,
    corpus_media: DataFrame,
    out_dir: str,
    checkpoint: str,
    max_hamming: int = 4,
    grid: int = 7,
    blocks: int = 7,
    queryName: str = "pq_stream_image_dedup",
    max_files_per_trigger: int | None = 64,
):
    """Continuous perceptual image dedup: arriving media files are probed
    against a STATIC corpus dHash index (built once per query start) and
    survivors append to the warehouse idempotently — the multimodal twin
    of stream_dedup_against_corpus, same batch-equivalence contract
    (static reference set -> per-image decisions independent of
    batching).  The decode+hash of corpus images runs exactly once."""
    from prql_query_spark.operators.multimodal import (
        build_dhash_index, image_dedup_against_corpus)

    idx = build_dhash_index(corpus_media, grid, blocks).transform(barrier)

    stream = file_stream(spark, media_path, max_files_per_trigger)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        survivors = image_dedup_against_corpus(
            batch_df, idx, max_hamming, grid, blocks)
        write_batch(survivors, batch_id, out_dir)

    return start_batches(stream, _batch, checkpoint, queryName)


def stream_quality_gate(
    spark: SparkSession,
    docs_path: str,
    out_dir: str,
    checkpoint: str,
    metrics_dir: str | None = None,
    gate: str = "gopher",
    queryName: str = "pq_stream_quality_gate",
    max_files_per_trigger: int | None = 64,
    **thresholds,
):
    """Continuous quality gating of arriving documents: each microbatch
    runs the chosen rule pack (``gate='gopher'`` -> `text.gopher_audit`,
    ``'c4'`` -> `text.c4_clean`), appends the SURVIVORS to the warehouse
    idempotently (`write_batch`), and, when ``metrics_dir`` is given,
    writes the per-batch reject accounting (reason, n_docs) the same way
    — the live dashboard feed that catches a mis-tuned threshold while
    the crawl is still running.

    Per-document decisions depend only on the document itself, so the
    stream is EXACTLY equivalent to the batch operator over the same
    files regardless of batching — pinned by
    tests::test_stream_quality_gate_matches_batch.  Extra ``thresholds``
    kwargs pass through to the gate (same dict as the batch op)."""
    from prql_query_spark.operators.text import c4_clean, gopher_audit

    if gate not in ("gopher", "c4"):
        raise ValueError(f"unknown gate {gate!r}: expected 'gopher' or 'c4'")
    gate_fn = gopher_audit if gate == "gopher" else c4_clean

    stream = file_stream(spark, docs_path, max_files_per_trigger)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        audited = gate_fn(batch_df, **thresholds)
        write_batch(
            audited.filter(F.col("keep")).drop("keep", "reject_reason"),
            batch_id, out_dir)
        if metrics_dir:
            write_batch(
                audited.groupBy(
                    F.coalesce("reject_reason", F.lit("kept")).alias("reason")
                )
                .agg(F.count(F.lit(1)).alias("n_docs")),
                batch_id, metrics_dir)

    return start_batches(stream, _batch, checkpoint, queryName)


def _lakehouse_sink(spark, source_path, max_files_per_trigger, transform,
                    last_committed, commit, checkpoint, queryName):
    """The body the four lakehouse sinks share: each micro-batch at or
    below the table's recorded high-water mark (``last_committed()``) is
    a replay and is skipped; any other is mapped by ``transform`` and
    handed to ``commit(df, batch_id)``, which records the mark in the
    same table commit."""
    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        done = last_committed()
        if done is not None and batch_id <= done:
            return  # replayed batch: already committed
        out = transform(batch_df) if transform is not None else batch_df
        commit(out, batch_id)

    return start_batches(
        file_stream(spark, source_path, max_files_per_trigger), _batch,
        checkpoint, queryName)


def stream_to_delta(
    spark: SparkSession,
    source_path: str,
    table_path: str,
    checkpoint: str,
    app_id: str = "pq_stream_to_delta",
    transform=None,
    queryName: str = "pq_stream_to_delta",
    max_files_per_trigger: int | None = 64,
):
    """Exactly-once streaming sink into a Delta table — jar-less, via the
    pure-Python committer and the protocol's `txn` action.

    Each microbatch appends through `write_delta(txn=(app_id, batch_id))`;
    on restart/replay, batches at or below the table's last committed txn
    version for this ``app_id`` are SKIPPED, so a batch lands in the log
    exactly once even when Spark's checkpoint replays it (the same
    contract the Delta connector's streaming sink implements, from the
    same log primitive).  ``transform`` optionally maps each microbatch
    DataFrame before the append."""
    from prql_query_spark.engine.deltalog import last_txn_version, write_delta

    return _lakehouse_sink(
        spark, source_path, max_files_per_trigger, transform,
        lambda: last_txn_version(spark, table_path, app_id),
        lambda out, batch_id: write_delta(
            out, table_path, mode="append", txn=(app_id, batch_id)),
        checkpoint, queryName)


def stream_upsert_to_delta(
    spark: SparkSession,
    source_path: str,
    table_path: str,
    on: list[str],
    checkpoint: str,
    app_id: str = "pq_stream_upsert_to_delta",
    transform=None,
    queryName: str = "pq_stream_upsert_to_delta",
    max_files_per_trigger: int | None = 64,
):
    """Exactly-once streaming UPSERT into a Delta table (r11) — the CDC
    shape of `stream_to_delta`: each microbatch MERGES on the ``on``
    keys (`deltalog.merge_delta`, copy-on-write: only files containing
    a matched key rewrite) instead of blind-appending, so a stream of
    document revisions maintains a latest-version table — the
    continuously-maintained twin of the batch `upsert_latest` pattern.

    Exactly-once via the same protocol `txn` marker as the append
    sink, recorded atomically inside each merge commit: on
    restart/replay, batches at or below the table's last committed txn
    version for ``app_id`` are SKIPPED.  (A replayed upsert of
    identical rows would also be value-idempotent — matched keys
    replace — but the guard prevents wasted rewrites and protects
    against nondeterministic ``transform`` output.)  Batches whose
    merge short-circuits (empty after ``transform``, no matches)
    commit nothing and stay replayable no-ops.  Single-writer contract
    like everything in the jar-less committer: one stream per table.

    Keys duplicated WITHIN one microbatch append every copy (the merge
    contract); dedup per batch in ``transform`` (e.g. keep the
    max-timestamp revision) when the source can emit several revisions
    of a key per batch."""
    from prql_query_spark.engine.deltalog import (
        last_txn_version, merge_delta)

    return _lakehouse_sink(
        spark, source_path, max_files_per_trigger, transform,
        lambda: last_txn_version(spark, table_path, app_id),
        lambda out, batch_id: merge_delta(
            spark, table_path, out, on, txn=(app_id, batch_id)),
        checkpoint, queryName)


def stream_to_iceberg(
    spark: SparkSession,
    source_path: str,
    table_path: str,
    checkpoint: str,
    app_id: str = "pq_stream_to_iceberg",
    transform=None,
    queryName: str = "pq_stream_to_iceberg",
    max_files_per_trigger: int | None = 64,
):
    """Exactly-once streaming sink into an Iceberg table — the Iceberg
    twin of `stream_to_delta`, from the jar-less v2 writer.

    Each microbatch commits one APPEND snapshot whose metadata commit
    also records ``pq.stream.<app_id>.batch-id = batch_id`` in the
    table properties (one atomic metadata-JSON write).  On
    restart/replay, batches at or below the table's recorded high-water
    mark for this ``app_id`` are SKIPPED, so a batch lands in the table
    exactly once even when Spark's checkpoint replays it — the same
    idempotence contract the Iceberg connector's streaming sink
    implements (it stores the batch id in snapshot summaries; this
    writer uses table properties so the mark SURVIVES
    `expire_snapshots`).  ``transform`` optionally maps each microbatch
    DataFrame before the append.  Single-writer contract like the rest
    of the jar-less writer: one stream per table."""
    from prql_query_spark.engine.iceberg import (
        last_committed_batch, write_iceberg)

    return _lakehouse_sink(
        spark, source_path, max_files_per_trigger, transform,
        lambda: last_committed_batch(table_path, app_id),
        lambda out, batch_id: write_iceberg(
            out, table_path, mode="append",
            properties={f"pq.stream.{app_id}.batch-id": str(batch_id)}),
        checkpoint, queryName)


def stream_upsert_to_iceberg(
    spark: SparkSession,
    source_path: str,
    table_path: str,
    on: list[str],
    checkpoint: str,
    app_id: str = "pq_stream_upsert_to_iceberg",
    transform=None,
    queryName: str = "pq_stream_upsert_to_iceberg",
    max_files_per_trigger: int | None = 64,
):
    """Exactly-once streaming UPSERT into an Iceberg table (r11) — the
    Iceberg twin of `stream_upsert_to_delta`: each microbatch MERGES on
    the ``on`` keys (`iceberg.merge_iceberg` — matched rows removed via
    v2 positional delete files, source appended, one snapshot; zero
    data files rewritten), so a stream of revisions maintains a
    latest-version table merge-on-read, with `compact_iceberg` as the
    periodic fold.  The per-app batch high-water mark lands in table
    PROPERTIES inside the same merge commit (survives
    `expire_snapshots`, like the append sink's); replayed batches are
    skipped.  Single-writer contract: one stream per table."""
    from prql_query_spark.engine.iceberg import (
        last_committed_batch, merge_iceberg)

    return _lakehouse_sink(
        spark, source_path, max_files_per_trigger, transform,
        lambda: last_committed_batch(table_path, app_id),
        lambda out, batch_id: merge_iceberg(
            spark, table_path, out, on,
            properties={f"pq.stream.{app_id}.batch-id": str(batch_id)}),
        checkpoint, queryName)


def stream_dedup_growing(
    spark: SparkSession,
    docs_path: str,
    out_dir: str,
    checkpoint: str,
    seed_corpus: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
    queryName: str = "pq_stream_dedup_growing",
    max_files_per_trigger: int | None = 64,
):
    """Continuous dedup against a GROWING corpus: each microbatch is
    (1) self-deduped (in-batch near-duplicate clusters keep one
    representative), then (2) deduped against everything accepted so
    far — the optional ``seed_corpus`` plus every earlier batch's
    survivors — and survivors are appended idempotently.

    This closes `stream_dedup_against_corpus`'s documented caveat: with
    a static reference set, duplicates ACROSS microbatches are kept;
    here batch N's accepted docs reject batch N+1's copies.  The result
    is order-dependent by construction (first-accepted wins — the
    contract every online dedup has); a replay of the same file order
    reproduces it exactly, and `write_batch` keeps replays idempotent
    (a replay with a fresh checkpoint rejects everything it already
    accepted, writes empty frames and leaves the accepted set intact —
    pinned by tests::test_stream_dedup_growing_catches_cross_batch_dups).

    Scale note: the accepted-so-far side is re-indexed per batch here
    (bounded by accepted volume, not ingest volume); at warehouse scale
    persist `build_minhash_index` output incrementally instead — the
    probe path is identical."""
    from prql_query_spark.operators.dedup import (
        dedup_against_corpus, minhash_dedup_cc)

    stream = file_stream(spark, docs_path, max_files_per_trigger)
    seed = (
        seed_corpus.select(id_col, text_col).transform(barrier)
        if seed_corpus is not None else None
    )

    def _accepted_so_far() -> DataFrame | None:
        if not batch_ids(out_dir):
            return seed
        prev = read_batches(spark, out_dir).select(id_col, text_col)
        return prev if seed is None else seed.unionByName(prev)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_self = minhash_dedup_cc(
            batch_df, id_col=id_col, text_col=text_col,
            threshold=threshold, num_perm=num_perm, bands=bands, k=k,
        )
        corpus = _accepted_so_far()
        survivors = (
            batch_self if corpus is None else dedup_against_corpus(
                batch_self, corpus, id_col, text_col, threshold,
                num_perm, bands, k,
            )
        )
        write_batch(survivors, batch_id, out_dir)

    return start_batches(stream, _batch, checkpoint, queryName)


def stream_dedup_indexed(
    spark: SparkSession,
    docs_path: str,
    out_dir: str,
    index_dir: str,
    checkpoint: str,
    seed_corpus: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
    queryName: str = "pq_stream_dedup_indexed",
    max_files_per_trigger: int | None = 64,
):
    """Continuous dedup against a growing corpus via a PERSISTED,
    append-only LSH index — the warehouse-scale variant
    `stream_dedup_growing`'s own docstring routes to (round-8 VERDICT
    item 7): identical accept/reject decisions (first-accepted wins,
    pinned by tests::test_stream_dedup_indexed_matches_growing), but
    the per-batch cost model changes class.

    The growing variant re-runs the MinHash signature kernel over ALL
    accepted text every batch (measured 7.8 -> 11.4 s/batch at sf1 as
    the accepted set grows).  Here each batch appends to two sidecars
    under ``index_dir``:

      bands/  — `build_minhash_index` rows (corpus_id, band, bucket)
                of the batch's SURVIVORS
      hashes/ — their xxhash64(lower(text)) values (the exact tier)

    so batch N+1's probe SCANS the index (columnar ints) instead of
    recomputing it, and the signature kernel runs over batch rows only.
    What still touches accepted text is the candidate VERIFY
    (exact-Jaccard needs the candidate corpus docs' text, semi-joined
    from the warehouse) — candidate-set-sized compute, and at warehouse
    scale the out_dir/id lookup is a bucketed or Z-ordered probe.

    All three sinks go through `write_batch`, so crash replays rewrite
    their own partitions and the (out_dir, index_dir) pair stays
    mutually consistent.  An optional ``seed_corpus`` contributes its
    index/hashes/texts in-memory (localCheckpoint) without entering the
    persisted layout."""
    from prql_query_spark.operators.dedup import (
        _banded_buckets, build_minhash_index, dedup_against_corpus,
        minhash_dedup_cc)

    stream = file_stream(spark, docs_path, max_files_per_trigger)

    seed = (
        seed_corpus.select(id_col, text_col).transform(barrier)
        if seed_corpus is not None else None
    )
    seed_idx = (
        build_minhash_index(seed, id_col, text_col, num_perm, bands, k)
        .transform(barrier) if seed is not None else None
    )
    seed_hashes = (
        seed.select(F.xxhash64(F.lower(F.col(text_col))).alias("_ch"))
        .distinct().transform(barrier) if seed is not None else None
    )

    def _persisted(batch_id: int) -> tuple[DataFrame | None,
                                           DataFrame | None,
                                           DataFrame | None]:
        # STRICTLY-EARLIER batches only (`_batch_id < batch_id`, a
        # partition-pruned predicate): a crash-replayed batch must not
        # see its own partial output, or it would reject its
        # previously-accepted docs against themselves and rewrite its
        # partition smaller — replay stays a deterministic function of
        # (earlier batches, batch input).
        earlier_ids = {i for i in batch_ids(out_dir) if i < batch_id}
        if not earlier_ids:
            return None, None, None
        texts = read_batches(spark, out_dir, before=batch_id) \
            .select(id_col, text_col)
        bands_d = os.path.join(index_dir, "bands")
        hashes_d = os.path.join(index_dir, "hashes")
        # per-PARTITION reconciliation, not directory existence: the
        # sidecars are trustworthy only if they cover EVERY earlier
        # accepted batch.  A crash between the accepted write and a
        # sidecar write — or any later partition loss — would otherwise
        # either fail the read forever (missing dir) or, worse,
        # silently accept near-duplicates of the batches whose LSH rows
        # are gone.  Degrade to deriving BOTH evidence structures from
        # the accepted texts (same decisions, growing-variant cost);
        # `repair_dedup_index` rebuilds the lost partitions offline so
        # the fast path returns.
        if not (earlier_ids <= batch_ids(bands_d)
                and earlier_ids <= batch_ids(hashes_d)):
            return texts, None, None
        idx = read_batches(spark, bands_d, before=batch_id)
        hashes = read_batches(spark, hashes_d, before=batch_id)
        return texts, idx, hashes

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_self = minhash_dedup_cc(
            batch_df, id_col=id_col, text_col=text_col,
            threshold=threshold, num_perm=num_perm, bands=bands, k=k,
        ).transform(barrier)
        # ONE signature pass per batch: these buckets feed BOTH the
        # corpus-index probe and the survivors' sidecar append (the
        # semi-join below) — without the reuse the MinHash kernel ran
        # once inside dedup_against_corpus and again in
        # build_minhash_index(survivors)
        bb = _banded_buckets(
            batch_self, id_col, text_col, num_perm, bands, k
        ).transform(barrier)
        texts, idx, hashes = _persisted(batch_id)
        if seed is not None:
            if texts is None:  # nothing on disk yet: seed-only corpus
                texts, idx, hashes = seed, seed_idx, seed_hashes
            else:
                texts = seed.unionByName(texts)
                # degraded (None) evidence stays None so EVERYTHING —
                # seed included — derives from the unioned texts; a
                # seed-only index over seed+accepted texts would
                # silently skip the accepted side's near-dup evidence
                idx = (None if idx is None
                       else seed_idx.unionByName(idx))
                hashes = (None if hashes is None
                          else seed_hashes.unionByName(hashes).distinct())
        if texts is None:
            survivors = batch_self
        else:
            survivors = dedup_against_corpus(
                batch_self, texts, id_col, text_col, threshold,
                num_perm, bands, k, index=idx, corpus_hashes=hashes,
                new_banded=bb,
            )
        # one pass feeds three sinks
        survivors = survivors.transform(barrier)
        write_batch(survivors, batch_id, out_dir)
        write_batch(
            bb.join(
                survivors.select(F.col(id_col).alias("_id")),
                "_id", "left_semi")
            .select(F.col("_id").alias("corpus_id"),
                    F.col("_band").alias("band"),
                    F.col("_bucket").alias("bucket")),
            batch_id, os.path.join(index_dir, "bands"))
        write_batch(
            survivors
            .select(F.xxhash64(F.lower(F.col(text_col))).alias("_ch"))
            .distinct(),
            batch_id, os.path.join(index_dir, "hashes"))

    return start_batches(stream, _batch, checkpoint, queryName)


def repair_dedup_index(
    spark: SparkSession,
    out_dir: str,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    k: int = 5,
) -> dict:
    """Rebuild missing `stream_dedup_indexed` sidecar partitions from
    the accepted warehouse — the offline reconciliation that restores
    the fast probe path after a sidecar loss (crash between sink
    writes, retention mishap, partial restore).  The sidecars are pure
    derivations of the accepted texts, so a rebuild is always safe:
    for every `_batch_id` partition present in ``out_dir`` but absent
    from `bands/` or `hashes/`, recompute that partition's rows from
    its accepted docs and write it (`write_batch` — idempotent).
    Until this runs, `stream_dedup_indexed` keeps making IDENTICAL
    decisions via the degraded derive-from-texts path, so repair is a
    cost optimization, never a correctness event.

    Returns {"bands": [rebuilt ids...], "hashes": [...]}."""
    from prql_query_spark.operators.dedup import build_minhash_index

    out_ids = batch_ids(out_dir)
    rebuilt: dict = {"bands": [], "hashes": []}
    for part, make in (
        ("bands", lambda df: build_minhash_index(
            df, id_col, text_col, num_perm, bands, k)),
        ("hashes", lambda df: df.select(
            F.xxhash64(F.lower(F.col(text_col))).alias("_ch"))
            .distinct()),
    ):
        d = os.path.join(index_dir, part)
        for bid in sorted(out_ids - batch_ids(d)):
            src = read_batches(spark, out_dir, only=bid) \
                .select(id_col, text_col)
            write_batch(make(src), bid, d)
            rebuilt[part].append(bid)
    return rebuilt


def stream_auc_histograms(
    spark: SparkSession,
    scores_path: str,
    hist_dir: str,
    checkpoint: str,
    cuts: list[float],
    score_col: str = "score",
    label_col: str = "y",
    by: list[str] | None = None,
    queryName: str = "pq_stream_auc",
    max_files_per_trigger: int | None = 64,
):
    """Continuously maintain the monitoring-AUC histogram sidecar from a
    stream of (score, label) rows — the streaming half of
    `analytics.roc_auc_bucketed`, and the operator that makes its
    mergeability claim OPERATIONAL: classifier scores land as files
    (the production monitoring shape: each scoring job drops its
    day's/hour's scores), each microbatch runs ONE bucket-assign +
    <= len(cuts)+1-row aggregate over its own rows
    (`analytics.score_histogram` under the PINNED cuts), and appends
    the tiny partial as its `_batch_id` partition.  Per-batch cost is
    FLAT — earlier batches are never re-read — and the sidecar grows by
    <= len(cuts)+1 rows per batch, orders of magnitude under the score
    volume.

    Serving is `analytics.auc_from_histograms(spark.read.parquet(
    hist_dir))`: partials SUM-merge per bucket, and because pinned-cut
    histograms are exactly mergeable, the streamed AUC equals the
    one-pass batch `roc_auc_bucketed` BIT-FOR-BIT on the accumulated
    rows (pinned by tests::test_stream_auc_matches_batch) — AUC over
    any accumulated window without ever rescanning scores, the 100 TB
    monitoring contract BASELINE §4.4i.3 names.

    `write_batch` keeps crash replays idempotent: a replayed batch
    REWRITES its own partition; a duplicated one would double that
    batch's counts and shift the AUC, which is what the gate row's
    in-row fresh-checkpoint replay would catch.

    The pinned-cuts contract is ENFORCED, not just documented: before
    the stream starts, the cuts are fingerprinted into the sidecar
    (`_cuts.json`, `analytics.write_cuts_fingerprint`).  A restart with
    the SAME cuts resumes; a restart with DIFFERENT cuts raises before
    a single batch runs — appending partials under new cuts would merge
    incompatible bucket indices into a wrong-but-plausible AUC, the one
    silent-corruption path this operator had.  Path-serving
    (`auc_from_histograms(hist_dir, cuts=...)`) verifies the same
    fingerprint on the read side.

    ``by`` (r10) maintains PER-SEGMENT histograms (the fairness /
    drift-slice monitoring shape — per-source, per-model-version, …):
    each partial carries the group columns, serving passes the same
    ``by`` to `auc_from_histograms`, and the pinned GLOBAL cuts keep
    segments comparable (the same convention as `roc_auc_bucketed`'s
    grouped path).  Per-batch cost stays flat: the partial is
    <= groups-present-in-batch x (len(cuts)+1) rows."""
    from prql_query_spark.operators.analytics import (
        score_histogram, write_cuts_fingerprint)

    by = list(by) if by else []
    write_cuts_fingerprint(hist_dir, cuts)

    stream = file_stream(spark, scores_path, max_files_per_trigger)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        hist = score_histogram(batch_df, score_col, label_col, cuts, by=by)
        write_batch(hist, batch_id, hist_dir)

    return start_batches(stream, _batch, checkpoint, queryName)


def stream_bm25_index(
    spark: SparkSession,
    docs_path: str,
    index_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    queryName: str = "pq_stream_bm25_index",
    max_files_per_trigger: int | None = 64,
):
    """Continuously maintain the BM25 serving index from a document
    stream.  The retrieval index design makes this a PURE APPEND:
    postings carry no document frequency (the probe derives df from its
    own pruned scan) and the stats row is mergeable moments (n, sum_dl),
    so each micro-batch writes only its own postings/stats partitions and
    never rewrites earlier ones — the property a df-denormalized index
    would not have, since every arriving doc changes every term's df.

    Each batch also appends its `term_stats` partials (round 8 —
    term_stats_from_postings: per-term df contributions, SUM-mergeable
    because batches hold disjoint docs), feeding the df-capped probe
    (`probe_bm25_index_dfcap`) without breaking append-onlyness.

    `write_batch` keeps crash replays idempotent.  Read back with
    `read_bm25_index` (+ `read_bm25_term_stats`) and serve with
    `retrieval.probe_bm25_index`; results equal a from-scratch build on
    everything ingested (batch-equivalence pytest pins it).
    """
    from prql_query_spark.operators.retrieval import (
        build_bm25_index, term_stats_from_postings)

    stream = file_stream(spark, docs_path, max_files_per_trigger)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        postings, stats = build_bm25_index(batch_df, id_col, text_col)
        # the build's postings feed two sinks; materialize once so the
        # tokenize+explode+groupBy subtree doesn't run twice per batch
        postings = postings.transform(barrier)
        write_batch(postings.sort("term"), batch_id,
                    os.path.join(index_dir, "postings"))
        write_batch(stats, batch_id, os.path.join(index_dir, "stats"))
        write_batch(term_stats_from_postings(postings).sort("term"), batch_id,
                    os.path.join(index_dir, "term_stats"))

    return start_batches(stream, _batch, checkpoint, queryName)


def read_bm25_index(spark: SparkSession, index_dir: str):
    """(postings, stats) from a stream_bm25_index directory: postings as
    written (per-batch partitions, each term-sorted within its batch),
    stats folded to the single mergeable row probe_bm25_index expects."""
    postings = read_batches(spark, os.path.join(index_dir, "postings"))
    stats = read_batches(spark, os.path.join(index_dir, "stats")).agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum_dl").cast("long").alias("sum_dl"))
    return postings, stats


def read_bm25_term_stats(spark: SparkSession, index_dir: str):
    """The term_stats sidecar from a stream_bm25_index directory:
    per-batch df partials as written (the df-capped probe sums the
    partials itself, pruned to the query's terms)."""
    return read_batches(spark, os.path.join(index_dir, "term_stats"))
