"""Structured Streaming wrapper (SURVEY.md §2.9): the reference's
buffer + flush_interval micro-batching maps to ``foreachBatch`` with a
processing-time (or availableNow) trigger. Each pipeline micro-batch
runs ``build`` and then ``plans.pipeline.commit_batch``, the same
commit ``run_batch`` makes, so batch and streaming share one code path,
config options and counts included — mirroring fluentd's chunk-flush
model where ``write(chunk)`` is the unit either way.

Checkpointing: Spark's offset/commit log gives exactly-once per source
offset; per-table idempotence markers committed with the data make a
re-delivered micro-batch skip what it already wrote, and the chunk id
(P7) marks rows for the replay-dedup the reference gets from chunk ids
(out_opensearch.rb:847-854).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PipelineConfig
from ..plans.pipeline import build, commit_batch
# unused here; kept so perfbench's tracer (probes.instrument) can wrap stream.split_streams
from ..plans.pipeline import split_streams  # noqa: F401
from ..sinks.writer import SinkCatalog, append_to_sink

#: transcripts schema for file streams (input_hint)
TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampNTZType()),
    ]
)


def _checkpoint_instance_id(checkpoint_dir: str) -> str:
    """Stable id for THIS incarnation of a checkpoint dir: a nonce file
    written on first use (atomic create). Recreating the dir after a
    reset yields a new nonce — see the marker-scope comment in
    ``start_pipeline_stream``."""
    import os
    import uuid

    os.makedirs(checkpoint_dir, exist_ok=True)
    nonce_path = os.path.join(checkpoint_dir, "_fposs_instance")
    try:
        # O_EXCL: exactly one writer wins even under concurrent starts
        fd = os.open(nonce_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as f:
            f.write(uuid.uuid4().hex)
    except FileExistsError:
        pass
    with open(nonce_path) as f:
        return f.read().strip()[:8]


def _start(writer, process, checkpoint_dir: str, available_now: bool, processing_time: str):
    """Start ``writer`` with ``process`` as its foreachBatch sink under
    ``checkpoint_dir``: availableNow drains the backlog and stops, else
    a micro-batch fires every ``processing_time``."""
    writer = writer.foreachBatch(process).option("checkpointLocation", checkpoint_dir)
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=processing_time).start()


def read_transcript_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a transcripts directory (the sandbox
    stand-in for a Kafka/Iceberg streaming source)."""
    return spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(path)


def start_pipeline_stream(
    spark: SparkSession,
    source: DataFrame,
    cfg: PipelineConfig,
    catalog: SinkCatalog,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "60 seconds",
    compact_every: int = 50,
):
    """readStream → foreachBatch(batch pipeline) → per-sink fan-out.

    ``processing_time`` defaults to the reference's 60 s flush_interval
    (README.md:959). availableNow drains the backlog then stops — the
    batch-like mode used in tests.

    Exactly-once: Spark's foreachBatch contract is at-least-once (a
    failed epoch re-delivers the same batch_id), so each micro-batch
    commits under an idempotence marker recorded in the SAME atomic
    manifest flip as its data — a re-delivered batch is skipped, never
    double-appended.

    ``compact_every`` bounds read fan-in on a long-running stream:
    every append adds one version dir per touched partition, so after
    N micro-batches a reader unions N versions — periodic compaction
    (the Iceberg rewrite_data_files analog) collapses them. 0 disables.
    """
    metrics: list[dict] = []
    # the idempotence scope is THIS stream INSTANCE: batch ids restart
    # at 0 for a fresh checkpoint, so a second stream into the same
    # warehouse must not collide with the first stream's markers. The
    # identity is a nonce file INSIDE the checkpoint dir, not the dir
    # PATH (ADVICE r2): deleting and recreating the checkpoint (a
    # common stream reset) restarts batch ids at 0 — a path-derived id
    # would match the stale markers and silently skip the new run's
    # first micro-batches. The nonce dies with the checkpoint, so a
    # reset gets a fresh marker namespace.
    stream_id = _checkpoint_instance_id(checkpoint_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        marker = f"stream-{stream_id}-{batch_id}"
        built = build(batch_df, cfg, spark)
        per_sink, dlq = commit_batch(built, cfg, catalog, spark, marker=marker)
        if per_sink is not None:
            metrics.append({"batch_id": batch_id, "per_sink": per_sink, "dlq": dlq})
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            catalog.compact(spark, "sink")
            catalog.compact(spark, "dlq")

    query = _start(source.writeStream, process, checkpoint_dir, available_now, processing_time)
    query._pipeline_metrics = metrics  # exposed for tests/observability
    return query


def sessionize_stream(
    source: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
    evict_state: bool = False,
) -> DataFrame:
    """Custom stateful streaming operator (§2.9 / task brief:
    ``applyInPandasWithState``): per-conversation session assignment
    that carries (last_ts_us, session_no) across micro-batches — the
    streaming twin of ``operators.sessions.sessionize``. Arrow-batched;
    state is one tiny tuple per conv.

    ``evict_state=True`` adds a processing-time timeout that drops
    conversations idle longer than the gap — REQUIRED on unbounded
    continuous streams to bound state size, but it must stay OFF for
    availableNow drains: pending timers make availableNow spin through
    endless empty micro-batches trying to advance processing time
    (measured: 2.9 s NoTimeout vs never-terminating with timeouts).

    Hot-conversation bound: state is keyed on conv_id, so one
    conversation's micro-batch rows land in ONE state group — that is
    inherent to per-key stateful processing (only the batch path can
    run the blocked two-phase scan, ``sessions.sessionize_blocked``).
    The in-batch work is fully vectorized (numpy diff/cumsum: only the
    FIRST element consults the carried state), so a 1000×-turns hot
    conv costs one Arrow transfer + O(n) numpy, not a per-row Python
    loop — measured ~400k turns/s/group; tests pin a 20k-turn hot conv
    under a wall-time bound. For pathological keys beyond that, split
    the conversation upstream (e.g. day-scoped conv keys) before the
    groupBy.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def assign(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        conv_id = key[0]
        if evict_state and state.hasTimedOut:
            state.remove()
            return
        last_us, session_no = state.get if state.exists else (None, 0)
        frames = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("turn_idx")
            # normalize to µs regardless of the Arrow datetime unit
            us = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
            prev = np.empty_like(us)
            prev[1:] = us[:-1]
            prev[0] = us[0] if last_us is None else last_us
            sessions = session_no + np.cumsum((us - prev) > gap_us, dtype=np.int64)
            last_us, session_no = int(us[-1]), int(sessions[-1])
            pdf = pdf.assign(session_no=sessions.astype("int32"), conv_id=conv_id)
            frames.append(pdf[["conv_id", "turn_idx", "ts", "session_no"]])
        if last_us is not None:
            state.update((int(last_us), int(session_no)))
        if evict_state:
            state.setTimeoutDuration(gap_minutes * 60 * 1000)
        if frames:
            yield pd.concat(frames)

    return (
        source.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            assign,
            outputStructType="conv_id string, turn_idx int, ts timestamp, session_no int",
            stateStructType="last_us bigint, session_no int",
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
            if evict_state
            else GroupStateTimeout.NoTimeout,
        )
    )


def dedup_stream(
    source: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup across micro-batches — the chunk-replay
    dedup (P7, out_opensearch.rb:847-854) as a stateful stream stage:
    ``dropDuplicatesWithinWatermark`` keys state on the natural id and
    EVICTS it past the watermark, so state stays bounded by the event-
    time window instead of growing with the stream (the plain
    ``dropDuplicates`` trap on unbounded streams). Duplicates arriving
    within the watermark of each other (the replay case — same rows,
    same event times) are guaranteed dropped."""
    return (
        source.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(list(keys))
    )


def heavy_hitter_rollup_stream(
    spark: SparkSession,
    source: DataFrame,
    catalog: SinkCatalog,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "24 hours",
    available_now: bool = True,
    processing_time: str = "60 seconds",
    table: str = "hh_rollup",
    key_col: str = "conv_id",
):
    """EXACT per-window heavy-hitter rollup on the streaming path
    (STATUS round-4 item): windowed (window × conv_id) counts in
    UPDATE mode, each micro-batch upserted into the versioned catalog
    keyed on (window, conv) — the streaming MERGE of the
    hourly_rollup/top_k cascade. Top-k is then a query-time rank over
    the rollup (``top_k_from_rollup``), so the stream never ranks:
    ranking is not incrementally maintainable, counts are.

    Exactly-once needs no marker here: update-mode emissions carry the
    CUMULATIVE count per key, so a re-delivered batch upserts the same
    values it already wrote (idempotent by construction).

    State is bounded by the watermark (windows older than it are
    evicted); the rollup table holds the full history, partitioned by
    window day so each upsert rewrites only the touched days.
    """
    from ..sinks.writer import merge_write

    counts = (
        source.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH").alias("hour"),
            key_col,
            "n_turns",
        )
    )
    cfg = PipelineConfig(write_operation="upsert")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.withColumn(
            "_index", F.concat(F.lit("hh-"), F.substring("hour", 1, 10))
        ).withColumn("_id", F.concat_ws("|", "hour", key_col))
        merge_write(spark, batch, catalog, cfg, table=table)

    writer = counts.writeStream.outputMode("update")
    return _start(writer, process, checkpoint_dir, available_now, processing_time)


def top_k_from_rollup(rollup: DataFrame, k: int = 3) -> DataFrame:
    """Query-time top-k over the streamed rollup — the SAME ranking
    helper as the batch ``sessions.top_k_per_hour`` (parity-tested), so
    tie-break semantics cannot drift between the twins."""
    from ..operators.sessions import rank_top_k

    return rank_top_k(rollup, "hour", k)


def index_stream(
    spark: SparkSession,
    source: DataFrame,
    catalog: SinkCatalog,
    checkpoint_dir: str,
    id_col: str = "conv_id",
    text_col: str = "text",
    available_now: bool = True,
    processing_time: str = "60 seconds",
    table: str = "postings",
    stats_table: str = "search_stats",
    n_buckets: int | None = None,
    upsert: bool = False,
):
    """Incrementally maintain the inverted search index as documents
    arrive. ``id_col`` MUST identify an ATOMIC ingest unit fully
    contained in one micro-batch (a log line / turn — e.g. a
    ``conv_id#turn_idx`` key), never a cross-batch aggregate like a
    conversation: postings for one doc must come from exactly one
    batch or tf/dl would be split across partial rows. Per
    micro-batch, tokenize ONLY the batch, append its
    postings into term-bucket partitions of the catalog (so a later
    query's ``search_index`` prunes to O(query terms) partitions) and
    one corpus-stats row (doc count + total tokens — sums merge,
    averages do not). Both appends commit under per-table idempotence
    markers, so a re-delivered micro-batch is skipped per table
    independently (the ingest_dedup_stream pattern) and the index
    equals a from-scratch batch build at every point (parity-tested).
    Compaction of append fragmentation is the normal maintenance pass
    (jobs/maintain_sinks.py).

    ``upsert=True`` (r5) routes each micro-batch through
    ``index_upsert_batch``: a doc id re-ingested in a LATER micro-batch
    supersedes its previous postings (per-doc generations + stale set)
    instead of double-counting tf/df — the re-ingest-safe mode. The
    append-only default keeps the r4 contract (immutable doc ids)."""
    from ..operators.search import index_batch, index_upsert_batch

    # marker scope: checkpoint-instance nonce + batch id (the ADVICE-r2
    # pattern every stream here uses) — a recreated checkpoint restarts
    # batch ids at 0 and must NOT collide with the old run's markers
    from ..operators.search import INDEX_BUCKETS

    if n_buckets is None:
        n_buckets = INDEX_BUCKETS
    stream_id = _checkpoint_instance_id(checkpoint_dir)
    n_parts = spark.sparkContext.defaultParallelism

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if upsert:
            index_upsert_batch(
                batch_df.sparkSession,
                catalog,
                batch_df,
                id_col=id_col,
                text_col=text_col,
                n_buckets=n_buckets,
                table=table,
                stats_table=stats_table,
                sink_partitions=min(n_parts, n_buckets),
                marker=f"idx-{stream_id}-{batch_id}",
            )
            return
        docs = batch_df.filter(F.col(text_col).isNotNull()).persist()
        try:
            post, stats = index_batch(
                docs, id_col=id_col, text_col=text_col, n_buckets=n_buckets
            )
            # one writer per term bucket — without the repartition every
            # map task writes every bucket dir (the tasks×sinks tiny-file
            # layout append_to_sink's own notes measure at 4.5× cost)
            append_to_sink(
                post, catalog, table,
                sink_partitions=min(n_parts, n_buckets),
                marker=f"idx-{stream_id}-{table}-{batch_id}",
            )
            append_to_sink(
                stats, catalog, stats_table,
                marker=f"idx-{stream_id}-{stats_table}-{batch_id}",
            )
        finally:
            docs.unpersist()

    writer = source.writeStream.outputMode("append")
    return _start(writer, process, checkpoint_dir, available_now, processing_time)


def template_drift_stream(
    spark: SparkSession,
    source: DataFrame,
    catalog: SinkCatalog,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "24 hours",
    available_now: bool = True,
    processing_time: str = "60 seconds",
    table: str = "template_rollup",
):
    """Template-drift monitoring: mine each line's log template
    (search.template_expr — the SAME normalization as the batch miner,
    so batch and stream can never disagree on what a template is) and
    maintain the exact per-window template rollup via the
    heavy-hitter MERGE stream. A new crash/error shape surfacing in
    the stream shows up as a new template key whose count climbs —
    query-time rank over the rollup gives the drilldown, the stream
    itself only ever maintains counts (incrementally correct)."""
    from ..operators.search import template_expr

    lines = source.filter(F.col("text").isNotNull()).withColumn(
        "template", template_expr("text")
    )
    return heavy_hitter_rollup_stream(
        spark,
        lines,
        catalog,
        checkpoint_dir,
        window=window,
        watermark=watermark,
        available_now=available_now,
        processing_time=processing_time,
        table=table,
        key_col="template",
    )


def mg_merge(d: dict, batch_counts: dict, capacity: int) -> dict:
    """One batched Misra–Gries step: add ``batch_counts`` into summary
    ``d``, then if the summary exceeds ``capacity`` subtract the
    (capacity+1)-th largest count from every entry and drop the
    non-positives — equivalent to a sequence of classical all-decrement
    rounds, so the MG invariants hold: each surviving estimate is an
    undercount, and the total decremented mass per key is at most
    total_items/(capacity+1) (every decrement event removes the same
    amount from ≥ capacity+1 keys). Property-tested against the
    one-at-a-time textbook algorithm's bounds (tests/test_property.py).
    """
    import numpy as np

    for k, c in batch_counts.items():
        d[k] = d.get(k, 0) + c
    if len(d) > capacity:
        vals = np.fromiter(d.values(), dtype=np.int64)
        thresh = int(np.partition(vals, -capacity - 1)[-capacity - 1])
        d = {k: v - thresh for k, v in d.items() if v - thresh > 0}
    return d


def heavy_hitters_sketch_stream(
    source: DataFrame,
    capacity: int = 8,
    window_fmt: str = "yyyy-MM-dd HH",
    watermark: str = "24 hours",
    evict_state: bool = False,
    evict_after_minutes: int = 120,
) -> DataFrame:
    """APPROXIMATE per-window heavy hitters with O(capacity) state per
    window: a Misra–Gries summary maintained in
    ``applyInPandasWithState``, for when per-window key cardinality is
    too large for the exact rollup (the 100 TB regime: billions of
    convs per window would make the rollup table itself the cost).

    Per micro-batch the group's rows collapse to pandas value_counts
    (vectorized), merge into the carried summary, then one batched MG
    decrement: subtract the (capacity+1)-th largest count from every
    entry and drop the non-positives — equivalent to repeated
    classical decrements, so the MG guarantees hold:

      est ≤ true, and true − est ≤ seen/(capacity+1)

    hence every key with true count > seen/(capacity+1) is retained
    (tested against exact counts). Each batch emits the group's current
    summary tagged with ``seen``; ``seen`` strictly increases per
    emission, so the latest summary per window is the max-``seen`` row
    set. A batch whose decrement empties the summary (all merged counts
    equal, more keys than capacity — a legitimate MG state) emits ONE
    null-conv marker row carrying the advanced ``seen``, so the
    max-``seen`` protocol never yields a stale summary with an
    understated error bound; consumers filter null conv_id.

    ``evict_state=True`` adds a processing-time timeout that drops a
    window's summary after ``evict_after_minutes`` idle — REQUIRED on
    continuous runs (state otherwise grows by one entry per closed
    window forever), but it must stay OFF for availableNow drains
    (pending timers make availableNow spin through endless empty
    micro-batches — the sessionize_stream gotcha, CLAUDE.md).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def sketch(key, pdfs, state: GroupState):
        import pandas as pd

        hour = key[0]
        if evict_state and state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            items, counts, seen = state.get
            d = dict(zip(items, counts))
        else:
            d, seen = {}, 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            vc = pdf["conv_id"].value_counts()
            seen += int(vc.sum())
            d = mg_merge(d, {conv: int(c) for conv, c in vc.items()}, capacity)
        state.update((list(d.keys()), [int(v) for v in d.values()], int(seen)))
        if evict_state:
            state.setTimeoutDuration(evict_after_minutes * 60 * 1000)
        if d:
            yield pd.DataFrame(
                {
                    "hour": hour,
                    "conv_id": list(d.keys()),
                    "est_count": [int(v) for v in d.values()],
                    "seen": int(seen),
                }
            )
        elif seen:
            yield pd.DataFrame(
                {"hour": [hour], "conv_id": [None], "est_count": [0], "seen": [int(seen)]}
            )

    keyed = (
        source.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .withColumn("hour", F.date_format("ts", window_fmt))
    )
    return keyed.groupBy("hour").applyInPandasWithState(
        sketch,
        outputStructType="hour string, conv_id string, est_count bigint, seen bigint",
        stateStructType="items array<string>, counts array<bigint>, seen bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
        if evict_state
        else GroupStateTimeout.NoTimeout,
    )


def hourly_totals_stream(
    spark: SparkSession,
    source: DataFrame,
    catalog: SinkCatalog,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "24 hours",
    available_now: bool = True,
    processing_time: str = "60 seconds",
    table: str = "hourly_totals",
):
    """Streamed hourly-totals rollup — the incrementally-maintained
    base table for anomaly detection (``anomalies_from_rollup``).
    Same design as ``heavy_hitter_rollup_stream``: update-mode
    cumulative counts upserted into the catalog keyed on the hour
    (idempotent under re-delivery — no marker needed), state bounded
    by the watermark, rollup partitioned by day so each upsert
    rewrites only touched days. The k-sigma flag itself is NOT
    maintained in the stream: it depends on global series stats, so a
    single late row can flip any hour's flag — flags are query-time
    over the rollup, counts are the incremental part (the
    rank-vs-count split of the heavy-hitter twin)."""
    counts = (
        source.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(F.date_format(F.col("w.start"), "yyyy-MM-dd HH").alias("hour"), "n_turns")
    )
    return _upsert_rollup_stream(
        spark, counts, catalog, checkpoint_dir, table,
        index_expr=F.concat(F.lit("ht-"), F.substring("hour", 1, 10)),
        id_expr=F.col("hour"),
        available_now=available_now, processing_time=processing_time,
    )


def anomalies_from_rollup(rollup: DataFrame, k: int = 3) -> DataFrame:
    """Query-time k-sigma flags over the streamed hourly rollup — the
    SAME integer-exact criterion as the batch
    ``sessions.hourly_anomalies`` (shared ``flag_sigma_anomalies``
    helper, parity-tested), so the flag boundary cannot drift between
    the twins."""
    from ..operators.sessions import flag_sigma_anomalies

    shaped = rollup.select(
        F.substring("hour", 1, 10).alias("day"),
        F.substring("hour", 12, 2).cast("int").alias("hour"),
        "n_turns",
    )
    return flag_sigma_anomalies(shaped, k)


def windowed_sink_counts(
    source: DataFrame, window: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming aggregate analog of A1 with late-data handling: the
    reference never drops late data (it routes by record time into its
    timekey chunk, §2.9) — a generous watermark bounds state while
    keeping the same per-(window, sink-day) counts."""
    return (
        source.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("w"),
            F.date_format("ts", "yyyy.MM.dd").alias("sink_day"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _upsert_rollup_stream(
    spark: SparkSession,
    frame: DataFrame,
    catalog: SinkCatalog,
    checkpoint_dir: str,
    table: str,
    index_expr,
    id_expr,
    available_now: bool,
    processing_time: str,
):
    """Shared scaffold of the cumulative-upsert rollup streams
    (hourly totals, HLL registers, CMS cells): an update-mode
    aggregation emits CUMULATIVE rows, foreachBatch upserts them into
    the catalog keyed by ``id_expr`` and partitioned by ``index_expr``
    — idempotent under micro-batch re-delivery with no marker, because
    a re-delivered batch rewrites the same keys with the same
    cumulative values. One implementation so a change to trigger or
    merge handling cannot miss a twin."""
    from ..sinks.writer import merge_write

    cfg = PipelineConfig(write_operation="upsert")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.withColumn("_index", index_expr).withColumn("_id", id_expr)
        merge_write(spark, batch, catalog, cfg, table=table)

    writer = frame.writeStream.outputMode("update")
    return _start(writer, process, checkpoint_dir, available_now, processing_time)


def hll_registers_stream(
    spark: SparkSession,
    source: DataFrame,
    catalog: SinkCatalog,
    checkpoint_dir: str,
    key_col: str = "conv_id",
    watermark: str = "45 days",
    available_now: bool = True,
    processing_time: str = "60 seconds",
    table: str = "hll_registers",
    hasher=None,
):
    """Streamed portable-HLL register maintenance — approximate
    distinct `key_col` per day over an unbounded stream with state
    bounded at (live days × 4096 registers) regardless of input
    cardinality. The update-mode aggregation keeps CUMULATIVE
    max(rho)/count per (day, idx), so each upsert re-delivers the full
    current register row — idempotent under micro-batch replay exactly
    like ``hourly_totals_stream`` (no marker needed). The estimate is
    query-time (``hll_estimate_from_catalog``) because it needs the
    whole register set; the register table partitions by day so each
    micro-batch rewrites only touched days. Shares the (idx, rho)
    expressions with the batch builder (``metrics.hll_idx_rho``) —
    the twins cannot drift."""
    from ..plans.metrics import _hll_md5_hash, hll_idx_rho

    idx, rho = hll_idx_rho()
    regs = (
        source.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .filter(F.col(key_col).isNotNull())  # same NULL rule as the batch builder
        .withColumn("_hll_h", (hasher or _hll_md5_hash)(F.col(key_col)))
        .groupBy(F.window("ts", "1 day").alias("w"), idx)
        .agg(F.max(rho).cast("int").alias("rho"), F.count(F.lit(1)).alias("cnt"))
        .select(F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"), "idx", "rho", "cnt")
    )
    return _upsert_rollup_stream(
        spark, regs, catalog, checkpoint_dir, table,
        index_expr=F.concat(F.lit("hllr-"), F.col("day")),
        id_expr=F.concat_ws(":", "day", "idx"),
        available_now=available_now, processing_time=processing_time,
    )


def hll_estimate_from_catalog(
    spark: SparkSession, catalog: SinkCatalog, table: str = "hll_registers"
) -> DataFrame:
    """Finalize the streamed register table into per-day estimates —
    the same ``hll_estimate`` the batch path uses, over at most
    (days × 4096) catalog rows."""
    from ..plans.metrics import hll_estimate

    regs = catalog.read(spark, table).select("day", "idx", "rho", "cnt")
    return hll_estimate(regs, ["day"])


def cms_cells_stream(
    spark: SparkSession,
    source: DataFrame,
    catalog: SinkCatalog,
    checkpoint_dir: str,
    key_col: str = "conv_id",
    available_now: bool = True,
    processing_time: str = "60 seconds",
    table: str = "cms_cells",
):
    """Streamed portable count-min maintenance — the CMS companion to
    ``hll_registers_stream``. The update-mode aggregation keys on
    (row, bucket) only, so streaming state is bounded at d·w = 4096
    cells BY CONSTRUCTION (no watermark needed — the sketch never
    grows); each micro-batch upserts the CUMULATIVE cell counts,
    idempotent under re-delivery. Point queries run query-time via
    ``cms_estimate_from_catalog`` against ≤ d·w catalog rows. Shares
    the bucket expressions with the batch builder
    (``metrics.cms_table`` internals) — the twins cannot drift."""
    from ..plans.metrics import cms_table

    # the literal batch builder over the streaming frame — one shared
    # implementation, so an edit to cms_table IS an edit to the stream
    cells = cms_table(source, key_col)
    return _upsert_rollup_stream(
        spark, cells, catalog, checkpoint_dir, table,
        index_expr=F.concat(F.lit("cms-"), F.col("row").cast("string")),
        id_expr=F.concat_ws(":", "row", "bucket"),
        available_now=available_now, processing_time=processing_time,
    )


def cms_estimate_from_catalog(
    spark: SparkSession,
    catalog: SinkCatalog,
    probes: DataFrame,
    key_col: str = "key",
    table: str = "cms_cells",
) -> DataFrame:
    """Point-query the streamed cell table — the same
    ``cms_estimate`` the batch path uses."""
    from ..plans.metrics import cms_estimate

    cells = catalog.read(spark, table).select("row", "bucket", "cnt")
    return cms_estimate(cells, probes, key_col)


def ingest_dedup_stream(
    spark: SparkSession,
    source: DataFrame,
    catalog: SinkCatalog,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    min_jaccard: float = 0.5,
    max_bucket_size: int = 1000,
    hasher=None,
    corpus_table: str = "corpus",
    index_table: str = "dedup_index",
    id_buckets: int = 16,
    available_now: bool = True,
    processing_time: str = "60 seconds",
):
    """Continuous-ingest near-dup dedup: each micro-batch of documents
    is checked against the ACCUMULATED corpus (exact fingerprint +
    banded-MinHash near-dup, ``dedup_incremental``); accepted docs are
    appended to ``corpus_table`` and their signatures + fingerprints to
    ``index_table`` — so the corpus is indexed exactly once, at ingest
    time, and no batch ever re-shingles it. This is the streaming
    composition of the incremental-index contract: per batch the only
    existing-side scan is the stored index (``existing_sigs`` +
    ``existing_fps``; corpus text is never read back).

    Intra-batch duplicates: exact dups collapse keep-first (lowest id)
    inside the batch; near-dups WITHIN one micro-batch are accepted
    (the operator's contract is strictly new-vs-existing) and act as
    each other's index entries for every later batch — the residual
    near-dup rate is bounded by the micro-batch size, not the stream.

    Exactly-once: accepted-set computation EXCLUDES the batch's own
    ids from the index reads (ids are assumed unique across the
    stream), so a re-delivered batch recomputes the identical accepted
    set even if the previous attempt committed one table and crashed
    before the other; per-table idempotence markers then skip the
    committed append and complete the missing one — the same
    marker-per-table recovery as ``start_pipeline_stream``.

    Index rows with NULL signature are docs too short to shingle
    (< ``shingle_k`` tokens): they still carry their exact fingerprint
    and are excluded from the banded join on read.
    """
    from pyspark.sql.window import Window

    from ..operators.dataset import (
        dedup_incremental,
        minhash_signatures,
        normalized_fp,
    )

    metrics: list[dict] = []
    stream_id = _checkpoint_instance_id(checkpoint_dir)
    part = F.concat(
        F.lit("b"),
        F.lpad(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(id_buckets)).cast("string"),
            2,
            "0",
        ),
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy(normalized_fp(text_col)).orderBy(id_col)
        batch = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        batch_ids = batch.select(F.col(id_col))
        handle: list = []
        try:
            index = catalog.read(spark, index_table).drop("_index")
        except FileNotFoundError:
            index = None
        if index is None:
            accepted = batch
        else:
            # exclude own ids: a re-delivered batch must see the
            # PRE-batch corpus snapshot even if its first attempt
            # already committed one of the two appends
            index = index.join(F.broadcast(batch_ids), id_col, "left_anti")
            flags = dedup_incremental(
                batch,
                None,
                id_col,
                text_col,
                num_hashes,
                bands,
                shingle_k,
                min_jaccard,
                max_bucket_size,
                hasher,
                existing_sigs=index.filter(F.col("signature").isNotNull()).select(
                    id_col, "shingles", "signature"
                ),
                existing_fps=index.select("_fp"),
                cache_handle=handle,
            )
            accepted = batch.join(
                flags.filter(F.col("kept") == 1).select(id_col), id_col, "left_semi"
            )
        accepted = accepted.persist()
        try:
            marker = f"ingest-{stream_id}-{batch_id}"
            wrote = append_to_sink(
                accepted.withColumn("_index", part), catalog, corpus_table, marker=marker
            )
            sigs = minhash_signatures(
                accepted, id_col, text_col, num_hashes, shingle_k, hasher
            )
            index_rows = (
                accepted.select(F.col(id_col), normalized_fp(text_col).alias("_fp"))
                .join(sigs, id_col, "left")
                .withColumn("_index", part)
            )
            append_to_sink(index_rows, catalog, index_table, marker=marker)
            metrics.append(
                {
                    "batch_id": batch_id,
                    "n_in": batch_df.count(),
                    "n_accepted": accepted.count(),
                    "committed": wrote is not None,
                }
            )
        finally:
            accepted.unpersist()
            for f in handle:
                f.unpersist()

    query = _start(source.writeStream, process, checkpoint_dir, available_now, processing_time)
    query._ingest_metrics = metrics  # exposed for tests/observability
    return query
