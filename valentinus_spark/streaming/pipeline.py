"""Structured Streaming surface.

The reference is batch-only (SURVEY.md §2.4 — no watermarks/windows/
state); streaming here is the forward-looking piece SURVEY.md §7.4.7
planned: incremental collection append (stream of documents → embed →
append to a collection table) and windowed event aggregation with
watermarked late-data handling. Both are thin ``readStream → transform →
writeStream`` compositions so the batch operators stay the single source
of truth for semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from valentinus_spark.embed import Embedder


def stream_events_windowed(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window count/sum per key with a watermark for late data.

    ``events`` may be a streaming OR batch DataFrame — the same expression
    works for both (batch ignores the watermark), which is how the batch
    oracle validates the streaming query (tests feed both paths).
    """
    src = events
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def stream_events_sessionized(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session-window count/sum per key: windows merge while events arrive
    within ``gap`` of the session's end. Streaming state is bounded per
    OPEN session (closed sessions emit and evict once the watermark passes
    their end) — the stateful sessionization the batch window-function
    formulation (events_sessionize) cannot run incrementally.

    Batch or streaming input, same expression — the batch run is the
    oracle for the streaming one."""
    src = events
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_dedup_exact(
    docs_stream: DataFrame,
    text_col: str = "document",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose normalized-text digest was
    already seen. With a ``ts_col``, uses ``dropDuplicatesWithinWatermark``
    so the digest state is EVICTED once the watermark passes — state stays
    O(digests-per-watermark-window), not O(all digests ever), which is the
    difference between a pipeline that runs for a year and one that OOMs.
    Without a timestamp, falls back to unbounded ``dropDuplicates``
    (batch-compatible; also the batch-oracle path in tests)."""
    from valentinus_spark.functions.text import normalize_text

    digested = docs_stream.withColumn(
        "_digest", F.sha2(normalize_text(text_col), 256)
    )
    if ts_col is not None and digested.isStreaming:
        deduped = digested.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["_digest"]
        )
    else:
        deduped = digested.dropDuplicates(["_digest"])
    return deduped.drop("_digest")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: match right rows to left rows with the same
    ``key`` where ``right_ts ∈ [left_ts - within, left_ts]``.

    Both sides carry watermarks and the join has a time-range condition —
    the two things that let Spark EVICT buffered rows (state stays
    O(rows per watermark+within window) instead of growing forever; an
    unconstrained stream-stream join would have to buffer both streams
    for all time). Works identically on batch DataFrames (no watermark),
    which is how the test oracles it.

    ``how="left_outer"``: unmatched left rows emit with NULL right
    columns — but only once the watermark has passed the point where a
    match could still arrive, so rows near the stream's end may never
    emit their NULL row (the stream doesn't know the stream is over).
    The deterministic oracle is therefore the batch left join
    RESTRICTED to left rows finalized by the terminal watermark —
    left_ts < min(max(left_ts), max(right_ts)) - watermark, since the
    query's global watermark is the min over both inputs — the same
    finalized-region construction as the late_window_finalize gate."""
    l_pref, r_pref = left, right
    if l_pref.isStreaming:
        l_pref = l_pref.withWatermark(left_ts, watermark)
    if r_pref.isStreaming:
        r_pref = r_pref.withWatermark(right_ts, watermark)
    lcols = [F.col(c).alias(f"l_{c}") for c in left.columns]
    rcols = [F.col(c).alias(f"r_{c}") for c in right.columns]
    lj = l_pref.select(*lcols)
    rj = r_pref.select(*rcols)
    cond = (
        (F.col(f"l_{key}") == F.col(f"r_{key}"))
        & (F.col(f"r_{right_ts}") <= F.col(f"l_{left_ts}"))
        & (
            F.col(f"r_{right_ts}")
            >= F.col(f"l_{left_ts}") - F.expr(f"INTERVAL {within}")
        )
    )
    return lj.join(rj, cond, how)


def stream_static_enrich(
    events: DataFrame,
    dim: DataFrame,
    on: tuple[str, str] = ("user_id", "c_custkey"),
    attr: str = "c_mktsegment",
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Stream-static enrichment: join the event stream to a dimension
    table, then windowed count/sum rolled up by a dim attribute — the
    canonical "enrich the clickstream with the customer segment" job.

    The static side is joined fresh each micro-batch with NO streaming
    state (stream-static joins buffer nothing, unlike stream-stream), and
    the broadcast hint keeps the stream side unshuffled: at scale the only
    stateful operator is the windowed aggregate, whose state the watermark
    bounds. Batch or streaming input, same expression — the batch run is
    the oracle for the streaming one."""
    src = events
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    ekey, dkey = on
    d = dim.select(F.col(dkey).alias("_dim_key"), F.col(attr))
    joined = src.join(F.broadcast(d), F.col(ekey) == F.col("_dim_key"), "inner")
    return (
        joined.groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(attr))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            attr,
            "n_events",
            "sum_value",
        )
    )


def stream_incremental_dedup(
    docs_stream: DataFrame,
    corpus_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Continuously dedup an incoming document stream against a growing
    corpus table: each micro-batch anti-joins on content digests vs the
    CURRENT corpus (operators/dedup.py incremental_dedup — digests only
    in the shuffle), and survivors are appended to the corpus itself, so
    later batches dedup against everything earlier ones admitted. The
    streaming face of the per-crawl incremental-dedup shape; exactly-once
    via the foreachBatch checkpoint. Returns the StreamingQuery.

    State lives in the corpus parquet, not in streaming state — restarts
    resume from the table; no watermark needed because the dedup horizon
    is the whole corpus by design (vs stream_dedup_exact's bounded
    within-watermark horizon)."""
    from valentinus_spark.operators.dedup import incremental_dedup

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            corpus = spark.read.parquet(corpus_path)
        except Exception:
            corpus = spark.createDataFrame([], batch_df.schema)
        fresh = incremental_dedup(batch_df, corpus, id_col=id_col, text_col=text_col)
        fresh.write.mode("append").parquet(corpus_path)

    return (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_collection_append(
    docs_stream: DataFrame,
    embedder: Embedder,
    path: str,
    checkpoint: str,
    text_col: str = "document",
):
    """Incremental embedding ingest: stream of (id, document, metadata)
    rows → embed (same pandas UDF as batch save) → Parquet file sink at
    ``path``. Returns the StreamingQuery. The sink keeps its own
    ``_spark_metadata`` log in ``path``, and Spark then reads ``path`` as
    the sink's files only: never point it at a saved collection, whose
    rows would vanish from every read — use
    ``EmbeddingCollection.stream_append`` for that.

    At scale this is the continuous-ingest half of the engine: the LSH /
    IVF index rebuild stays a periodic batch job over the appended table
    (BASELINE.json: batch index build, not online ANN serving)."""
    embedded = docs_stream.withColumn("embedding", embedder.embed_col(text_col))
    return (
        embedded.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def write_ordered_batches(df: DataFrame, preds: list, path: str) -> list[str]:
    """Materialize ``df`` as one parquet file per predicate under
    ``path``, with file modification times strictly increasing in list
    order — so a file-source stream with ``maxFilesPerTrigger=1``
    replays them as deterministic micro-batches b0, b1, … in exactly
    this order.

    This is the reproducible-replay harness for event-time semantics:
    the watermark after batch i is ``max(event time in b0..bi) - delay``,
    so which later rows count as "too late" is a pure function of the
    split predicates — replayable both in tests and in a SQL oracle.
    (In production the file source's mtime ordering is whatever the
    upstream writer produced; this helper exists to pin it.)"""
    import glob
    import os
    import shutil
    import tempfile

    os.makedirs(path, exist_ok=True)
    out: list[str] = []
    base = 1_600_000_000  # any fixed epoch; only relative order matters
    for i, pred in enumerate(preds):
        aux = tempfile.mkdtemp(prefix="vs_batchwrite_")
        df.filter(pred).coalesce(1).write.mode("overwrite").parquet(aux)
        part = glob.glob(os.path.join(aux, "part-*.parquet"))[0]
        dst = os.path.join(path, f"batch{i:03d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (base + 100 * i, base + 100 * i))
        shutil.rmtree(aux, ignore_errors=True)
        out.append(dst)
    return out


def stream_commit_versions(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
):
    """Continuous ingestion into a versioned table
    (sources/versioned.py): each micro-batch becomes one append commit,
    tagged with its batch id so a post-crash replay of the same batch
    is a no-op instead of a double append — foreachBatch is
    at-least-once, and the (batch_id → version) record in the manifest
    chain is what upgrades it to exactly-once, the same recipe as
    Delta's txn/idempotent-writes table.

    Downstream consumers get snapshot isolation for free: a training
    job pins `read_version(path, v)` and is untouched by commits that
    land mid-run. Returns the StreamingQuery."""
    from valentinus_spark.sources.versioned import commit_version

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        commit_version(
            batch_df.sparkSession, path, batch_df, mode="append", batch_id=batch_id
        )

    return (
        stream_df.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_hll_registers(
    events_stream: DataFrame,
    state_path: str,
    checkpoint: str,
    value_col: str = "user_id",
    group_cols: list[str] | None = None,
    p: int = 4,
):
    """Continuously maintain a distinct-count sketch over a stream: each
    micro-batch's HLL registers (operators/sketches.py) MERGE into a
    persisted register table (union + max — associative, commutative,
    idempotent), so the maintained state is provably IDENTICAL to the
    batch registers over all data seen, regardless of how the stream was
    micro-batched. That's the property that makes sketch state safe in
    streaming where exact distinct state is unbounded: the state is
    ≤ 2^p rows per group forever, restarts resume from the table, and a
    replayed batch is a no-op by idempotence of max.

    Returns the StreamingQuery; read ``state_path`` and
    ``hll_estimate`` it for the live count."""
    groups = group_cols or []

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_hll_state(batch_df, state_path, value_col, groups, p)

    return (
        events_stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def merge_hll_state(
    batch_df: DataFrame,
    state_path: str,
    value_col: str,
    groups: list[str],
    p: int,
) -> None:
    """One micro-batch step of :func:`stream_hll_registers`, exposed so
    the idempotence contract (a replayed batch is a no-op: union + max
    is idempotent) is directly unit-testable outside a StreamingQuery.

    Crash-safety: the merged registers are written to ``state_path +
    "_next"`` FIRST and that directory is only removed after
    ``state_path`` has been fully rewritten from it, so at every instant
    at least one complete copy of the state exists on disk — a crash
    between the delete and the rewrite of ``state_path`` is recovered on
    the next batch by falling back to ``_next``. Only a
    missing/half-written state triggers the fallback; any other read
    error propagates (a silently swallowed read error here would reset
    the sketch and make the maintained count silently undercount)."""
    import shutil

    from pyspark.errors import AnalysisException

    from valentinus_spark.operators.sketches import hll_registers

    spark = batch_df.sparkSession
    regs = hll_registers(batch_df, value_col, groups, p=p)
    next_path = state_path + "_next"
    try:
        prev = spark.read.parquet(state_path)
    except AnalysisException:
        # state absent or unreadable-as-parquet: either a fresh start or
        # a crash after state_path was deleted but before its rewrite
        # finished — in the latter case _next holds the complete merge
        # through the previous batch. Restore state_path from _next
        # EAGERLY before the merge below: the merged plan is lazy, and
        # writing it back to next_path while it still reads from
        # next_path would hit Spark's overwrite-a-read-path guard (r4
        # ADVICE, pipeline.py:407) — exactly in the crash scenario the
        # fallback exists for.
        try:
            spark.read.parquet(next_path).coalesce(1).write.mode(
                "overwrite"
            ).parquet(state_path)
            prev = spark.read.parquet(state_path)
        except AnalysisException:
            prev = None
    if prev is not None:
        regs = prev.unionByName(regs)
    merged = regs.groupBy(*groups, "idx").agg(F.max("rho").alias("rho"))
    # tiny table (≤ 2^p rows per group): single file avoids small-file
    # creep per batch; write aside then swap so a reader never sees a
    # half-written state
    merged.coalesce(1).write.mode("overwrite").parquet(next_path)
    spark.read.parquet(next_path).coalesce(1).write.mode("overwrite").parquet(state_path)
    shutil.rmtree(next_path, ignore_errors=True)


def merge_cm_state(
    batch_df: DataFrame,
    state_path: str,
    value_col: str,
    batch_id: int,
    depth: int = 4,
    width: int = 1 << 12,
) -> None:
    """One micro-batch step of :func:`stream_cm_registers`.

    Count-Min merge is ADDITIVE (cell-wise sum), so unlike the HLL
    union+max state it is NOT idempotent — an at-least-once replay would
    double-count. Exactly-once comes from composing with the versioned
    table's transactional commit (sources/versioned.py): each batch
    commits merged registers as a new version stamped with the
    Structured Streaming ``batch_id``; a replayed batch finds its
    batch_id already committed and is a no-op. State stays ≤ depth·width
    rows per version; time travel over versions gives count snapshots
    per batch for free."""
    from valentinus_spark.operators.sketches import count_min_sketch
    from valentinus_spark.sources.versioned import (
        commit_version,
        latest_version,
        read_version,
    )

    spark = batch_df.sparkSession
    regs = count_min_sketch(batch_df, value_col, depth=depth, width=width)
    if latest_version(state_path) is not None:
        # replay check BEFORE the merge compute: commit_version would
        # catch it anyway, but skipping early avoids re-running the
        # sketch aggregation for a batch that is already committed
        from valentinus_spark.sources.versioned import _load_manifest, list_versions

        for v in reversed(list_versions(state_path)):
            if _load_manifest(state_path, v).get("batch_id") == batch_id:
                return
        prev = read_version(spark, state_path)
        regs = (
            prev.unionByName(regs)
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
    commit_version(
        spark, state_path, regs.coalesce(1), mode="overwrite", batch_id=batch_id
    )


def stream_cm_registers(
    events_stream: DataFrame,
    state_path: str,
    checkpoint: str,
    value_col: str = "event_type",
    depth: int = 4,
    width: int = 1 << 12,
):
    """Continuously maintain a Count-Min frequency sketch over a stream
    (the heavy-hitters / frequency-estimate state): each micro-batch's
    cells ADD into a versioned register table with exactly-once
    batch_id commits (see :func:`merge_cm_state` for why additive state
    needs the transactional sink where the HLL state only needed
    idempotence). Read the latest version and
    ``count_min_estimate`` it for live frequency queries.

    Returns the StreamingQuery."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_cm_state(batch_df, state_path, value_col, batch_id, depth, width)

    return (
        events_stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def merge_components_state(
    pairs_df: DataFrame,
    state_path: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> None:
    """One micro-batch step of :func:`stream_components`: fold a pair
    batch into the persisted (id, cluster_id) labeling via
    ``incremental_components`` — only components the batch touches are
    recomputed, so per-batch work tracks the DELTA, not the corpus.

    Replay safety WITHOUT batch-id bookkeeping: merging the same pairs
    twice is a no-op because a component's min-id label is a function of
    the accumulated edge SET (idempotent under re-union), the same
    argument that makes the HLL max-merge replay-safe. State is written
    with the same crash-safe write-aside/swap as
    :func:`merge_hll_state` (state restored from ``_next`` eagerly on
    fallback — never overwrite a path the lazy plan still reads)."""
    import shutil

    from pyspark.errors import AnalysisException

    from valentinus_spark.operators.dedup import (
        connected_components,
        incremental_components,
    )

    spark = pairs_df.sparkSession
    next_path = state_path + "_next"
    try:
        prev = spark.read.parquet(state_path)
    except AnalysisException:
        try:
            spark.read.parquet(next_path).coalesce(1).write.mode(
                "overwrite"
            ).parquet(state_path)
            prev = spark.read.parquet(state_path)
        except AnalysisException:
            prev = None
    if prev is None:
        merged = connected_components(pairs_df, id_a, id_b).select(
            "id", "cluster_id"
        )
    else:
        merged = incremental_components(
            prev, pairs_df, id_a=id_a, id_b=id_b
        )
    # unlike the ≤2^p-row sketch states, the labeling is corpus-sized —
    # keep its natural partitioning (at scale: bucket by cluster_id so
    # the next batch's touched-cluster semi-join is bucket-local)
    merged.write.mode("overwrite").parquet(next_path)
    spark.read.parquet(next_path).write.mode("overwrite").parquet(state_path)
    shutil.rmtree(next_path, ignore_errors=True)


def stream_components(
    pairs_stream: DataFrame,
    state_path: str,
    checkpoint: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
):
    """Continuously maintain near-dup cluster labels over a stream of
    pair batches (the online face of the dedup pipeline: MinHash/banded
    joins emit pairs per crawl; this keeps (id, cluster_id) current
    without ever re-clustering history). The maintained labeling is
    provably identical to batch CC over all pairs seen — pinned by the
    batching-independence test and the driver oracle's transitive-
    closure replay. Returns the StreamingQuery."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_components_state(batch_df, state_path, id_a, id_b)

    return (
        pairs_stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
