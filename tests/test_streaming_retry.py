"""Structured Streaming wrapper + retry-loop driver + data-stream sink."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluent_plugin_opensearch_spark import PipelineConfig, SinkCatalog, load_transcripts
from fluent_plugin_opensearch_spark.plans.retry import (
    BatchAbortError,
    fanout_by_outcome,
    run_with_retries,
)
from fluent_plugin_opensearch_spark.sinks.data_stream import (
    validate_data_stream_name,
    write_data_stream,
)
from fluent_plugin_opensearch_spark.streaming.stream import (
    read_transcript_stream,
    start_pipeline_stream,
    windowed_sink_counts,
)

from .conftest import SF_SMOKE

CFG = PipelineConfig(logstash_format=True, logstash_prefix="logs", retry_tag="retry.transcripts")


def test_stream_available_now_matches_batch(spark, tmp_path):
    """availableNow stream through foreachBatch produces the same
    per-sink rows as the batch path (§2.9 parity)."""
    src_dir = str(tmp_path / "src")
    load_transcripts(spark, SF_SMOKE).write.parquet(src_dir)
    cat = SinkCatalog(str(tmp_path / "wh"))
    q = start_pipeline_stream(
        spark,
        read_transcript_stream(spark, src_dir),
        CFG,
        cat,
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    sink = cat.read(spark, "sink")

    from fluent_plugin_opensearch_spark import build, split_streams

    good, _ = split_streams(build(load_transcripts(spark, SF_SMOKE), CFG, spark), CFG)
    assert sink.count() == good.count()
    # the per-batch counts come from the writes and add up to the sink
    assert sum(n for m in q._pipeline_metrics for n in m["per_sink"].values()) == good.count()
    # restart on same checkpoint: no new data → no duplicates
    q2 = start_pipeline_stream(
        spark, read_transcript_stream(spark, src_dir), CFG, cat, str(tmp_path / "ckpt")
    )
    q2.awaitTermination(60)
    assert cat.read(spark, "sink").count() == good.count()


def test_windowed_counts_run(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    load_transcripts(spark, SF_SMOKE).write.parquet(src_dir)
    agg = windowed_sink_counts(read_transcript_stream(spark, src_dir), "24 hours", "1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; availableNow on a
    # finite source closes all but the last — just assert it executed
    assert spark.table("win_counts").columns == ["w", "sink_day", "n"]


def _batch(spark, ids):
    return spark.createDataFrame(
        [(str(i), "logs-2024.01.01", "t") for i in ids], "_id string, _index string, tag string"
    )


def test_retry_loop_drains(spark, tmp_path):
    """Rows succeed after transient failures; retry table records the
    intermediate stream; totals add up."""
    cat = SinkCatalog(str(tmp_path))

    def respond(df, attempt):
        # ids ≥ 8 fail twice (attempts 0,1) then succeed
        flaky = (F.col("_id").cast("int") >= 8) & F.lit(attempt < 2)
        return df.withColumn("outcome", F.when(flaky, "retry").otherwise("success"))

    totals = run_with_retries(spark, _batch(spark, range(10)), CFG, cat, respond)
    assert totals["success"] == 10
    assert totals["retry_exhausted"] == 0
    assert totals["attempts"] == 3
    assert cat.read(spark, "sink").count() == 10
    retry_rows = cat.read(spark, "retry")
    assert retry_rows.count() == 4  # 2 ids × 2 failed attempts
    assert set(r["tag"] for r in retry_rows.collect()) == {"retry.transcripts"}


def test_stateful_sessionize_hot_conv_bounded(spark, tmp_path):
    """Skew guard: a 20k-turn hot conversation (FIXTURES.md 1000×
    pattern) through the vectorized stateful sessionizer — row-identical
    to the batch window plan, within a loose wall-time bound (the
    per-row-Python version would blow it)."""
    import time

    from fluent_plugin_opensearch_spark.operators.sessions import sessionize
    from fluent_plugin_opensearch_spark.streaming.stream import sessionize_stream

    hot = spark.range(20_000).selectExpr(
        "'hot' AS conv_id",
        "cast(id AS int) AS turn_idx",
        "'user' AS role",
        "'t' AS text",
        "cast(NULL AS string) AS tool",
        # a >30min break every 500 turns; otherwise 1 min spacing
        "cast(timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0, cast(id AS int) + 31 * cast(id DIV 500 AS int), 0) AS timestamp_ntz) AS ts",
    )
    cold = spark.range(5).selectExpr(
        "concat('cold', id) AS conv_id", "0 AS turn_idx", "'user' AS role",
        "'t' AS text", "cast(NULL AS string) AS tool",
        "cast(timestamp '2024-01-01 00:00:00' AS timestamp_ntz) AS ts",
    )
    src_dir = str(tmp_path / "hot_src")
    hot.unionByName(cold).orderBy("conv_id", "turn_idx").coalesce(1).write.parquet(src_dir)

    t0 = time.time()
    stream = sessionize_stream(read_transcript_stream(spark, src_dir), gap_minutes=30)
    q = (
        stream.writeStream.format("memory")
        .queryName("hot_sess")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "hot_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    wall = time.time() - t0
    got = {
        (r["conv_id"], r["turn_idx"]): r["session_no"]
        for r in spark.table("hot_sess").collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"]): r["session_no"]
        for r in sessionize(spark.read.parquet(src_dir), gap_minutes=30).collect()
    }
    assert got == want and len(got) == 20_005
    assert max(s for (c, _), s in got.items() if c == "hot") == 39  # breaks fired
    assert wall < 120, f"hot-conv drain took {wall:.0f}s"


def test_retry_exhaustion_goes_to_dlq(spark, tmp_path):
    cat = SinkCatalog(str(tmp_path))
    cfg = PipelineConfig(max_retries=2, retry_tag="r")

    def respond(df, attempt):
        return df.withColumn("outcome", F.lit("retry"))

    totals = run_with_retries(spark, _batch(spark, range(3)), cfg, cat, respond)
    assert totals["retry_exhausted"] == 3
    dlq = cat.read(spark, "dlq")
    assert dlq.filter(F.col("dlq_reason") == "retry_exhausted").count() == 3


def test_abort_fails_whole_batch(spark, tmp_path):
    cat = SinkCatalog(str(tmp_path))
    df = _batch(spark, range(4)).withColumn(
        "outcome", F.when(F.col("_id") == "2", "abort").otherwise("success")
    )
    with pytest.raises(BatchAbortError):
        fanout_by_outcome(df, cat, CFG)
    # nothing written — chunk-level abort
    import os

    assert not cat.exists("sink")  # no committed snapshot


def test_data_stream_validation_and_write(spark, tmp_path):
    for bad in ["UPPER", "has space", "-leading", "x" * 300]:
        with pytest.raises(ValueError):
            validate_data_stream_name(bad)
    cat = SinkCatalog(str(tmp_path))
    t = load_transcripts(spark, SF_SMOKE).limit(100)
    out = write_data_stream(t, cat, "logs-app-default")
    assert out["written"] == 100
    back = cat.read(spark, "sink")
    assert back.select("@timestamp").first()[0] is not None


def test_stateful_stream_sessionize(spark, tmp_path):
    """applyInPandasWithState sessionization matches the batch window
    version over an availableNow drain of the same data."""
    from fluent_plugin_opensearch_spark.operators.sessions import sessionize
    from fluent_plugin_opensearch_spark.streaming.stream import sessionize_stream

    src_dir = str(tmp_path / "src")
    # a handful of conversations keeps the state-store/group overhead
    # bounded (each pandas group costs an Arrow round-trip)
    t = load_transcripts(spark, SF_SMOKE).filter(F.col("conv_id") < "conv00000008")
    n_rows = t.count()
    t.write.parquet(src_dir)
    stream = sessionize_stream(read_transcript_stream(spark, src_dir), gap_minutes=30)
    q = (
        stream.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["conv_id"], r["turn_idx"]): r["session_no"]
        for r in spark.table("sess_stream").collect()
    }
    src = spark.read.parquet(src_dir)
    want = {
        (r["conv_id"], r["turn_idx"]): r["session_no"]
        for r in sessionize(src, gap_minutes=30).collect()
    }
    assert got == want and len(got) == n_rows and n_rows > 50


def test_stream_resume_new_data_and_second_stream_markers(spark, tmp_path):
    """Exactly-once scoping: resuming the SAME checkpoint processes
    only new files; a SECOND stream (fresh checkpoint) into the same
    warehouse is a different idempotence scope and must append, not be
    skipped by the first stream's markers."""
    from fluent_plugin_opensearch_spark import build, split_streams

    t = load_transcripts(spark, SF_SMOKE)
    half1 = t.filter(F.col("conv_id") < "conv00000008")
    half2 = t.filter(F.col("conv_id") >= "conv00000008")
    src_dir = str(tmp_path / "src")
    half1.write.parquet(src_dir)
    cat = SinkCatalog(str(tmp_path / "wh"))
    ck = str(tmp_path / "ckpt")

    q = start_pipeline_stream(spark, read_transcript_stream(spark, src_dir), CFG, cat, ck)
    q.awaitTermination(120)
    n1 = cat.read(spark, "sink").count()

    half2.write.mode("append").parquet(src_dir)
    q2 = start_pipeline_stream(spark, read_transcript_stream(spark, src_dir), CFG, cat, ck)
    q2.awaitTermination(120)
    n2 = cat.read(spark, "sink").count()
    good_all, _ = split_streams(build(t, CFG, spark), CFG)
    assert n2 == good_all.count() and n2 > n1  # only the new files were appended

    q3 = start_pipeline_stream(
        spark, read_transcript_stream(spark, src_dir), CFG, cat, str(tmp_path / "ckpt2")
    )
    q3.awaitTermination(120)
    assert cat.read(spark, "sink").count() == 2 * n2  # fresh stream appended (not marker-blocked)


def test_retry_emit_failure_fails_batch(spark, tmp_path, monkeypatch):
    """RetryStreamEmitFailure analog (test_out_opensearch.rb:3426-3501):
    a failure writing the retry stream must propagate (the driver/
    checkpoint must not advance past the batch); already-committed
    sink data is replay-safe via chunk-id/marker dedup."""
    cat = SinkCatalog(str(tmp_path))

    real_commit = SinkCatalog.commit

    def failing_commit(self, table, version, touched, replace, **kw):
        if table == "retry":
            raise RuntimeError("retry stream emit failure")
        return real_commit(self, table, version, touched, replace, **kw)

    monkeypatch.setattr(SinkCatalog, "commit", failing_commit)
    df = _batch(spark, range(6)).withColumn(
        "outcome", F.when(F.col("_id").cast("int") >= 4, "retry").otherwise("success")
    )
    with pytest.raises(RuntimeError, match="retry stream emit failure"):
        fanout_by_outcome(df, cat, CFG)
    # successes committed before the failure; retry table has NO snapshot
    assert cat.read(spark, "sink").count() == 4
    assert not cat.exists("retry")


def test_dedup_stream_drops_replayed_rows(spark, tmp_path):
    """Streaming replay dedup: a doubled source drains to exactly the
    distinct row set, with state bounded by the watermark."""
    from fluent_plugin_opensearch_spark.streaming.stream import dedup_stream

    t = load_transcripts(spark, SF_SMOKE).filter(F.col("conv_id") < "conv00000004")
    src_dir = str(tmp_path / "dups")
    t.unionByName(t).write.parquet(src_dir)  # replayed chunk
    n_distinct = t.count()
    q = (
        dedup_stream(read_transcript_stream(spark, src_dir))
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_out")
    assert got.count() == n_distinct
    assert got.select("conv_id", "turn_idx").distinct().count() == n_distinct


def test_checkpoint_reset_gets_fresh_marker_scope(spark, tmp_path):
    """ADVICE r2: deleting and recreating the checkpoint dir (a stream
    reset) restarts batch ids at 0 — the stream identity is a nonce
    INSIDE the checkpoint, so the reset run is a fresh marker scope and
    its first micro-batches are processed, not skipped against the old
    run's stale markers."""
    import shutil

    t = load_transcripts(spark, SF_SMOKE).filter(F.col("conv_id") < "conv00000004")
    src_dir = str(tmp_path / "src")
    t.write.parquet(src_dir)
    cat = SinkCatalog(str(tmp_path / "wh"))
    ck = str(tmp_path / "ckpt")

    q = start_pipeline_stream(spark, read_transcript_stream(spark, src_dir), CFG, cat, ck)
    q.awaitTermination(120)
    n1 = cat.read(spark, "sink").count()
    assert n1 > 0

    shutil.rmtree(ck)  # the reset: same path, new incarnation
    q2 = start_pipeline_stream(spark, read_transcript_stream(spark, src_dir), CFG, cat, ck)
    q2.awaitTermination(120)
    assert cat.read(spark, "sink").count() == 2 * n1, "reset run was marker-skipped"


def test_heavy_hitter_rollup_stream_parity(spark, tmp_path):
    """Streamed windowed rollup (update-mode upsert MERGE into the
    catalog) followed by query-time rank equals the batch
    top_k_per_hour EXACTLY, across a multi-batch drain."""
    from fluent_plugin_opensearch_spark.operators.sessions import top_k_per_hour
    from fluent_plugin_opensearch_spark.streaming.stream import (
        TRANSCRIPTS_SCHEMA,
        heavy_hitter_rollup_stream,
        top_k_from_rollup,
    )

    src_dir = str(tmp_path / "hh_src")
    t = load_transcripts(spark, SF_SMOKE)
    t.repartition(8).write.parquet(src_dir)
    cat = SinkCatalog(str(tmp_path / "hh_wh"))
    source = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)  # force a multi-batch drain
        .parquet(src_dir)
    )
    # the source files interleave the full 30-day span (no time order),
    # so the watermark must cover the whole span for exact parity —
    # with time-ordered arrival (the real stream) 24h suffices
    q = heavy_hitter_rollup_stream(
        spark, source, cat, str(tmp_path / "hh_ckpt"), window="1 hour", watermark="45 days"
    )
    q.awaitTermination(180)

    rollup = cat.read(spark, "hh_rollup").select("hour", "conv_id", "n_turns")
    got = {(r["hour"], r["conv_id"]): r["n_turns"] for r in rollup.collect()}
    want = {
        (r["hour"], r["conv_id"]): r["n_turns"]
        for r in t.groupBy(
            F.date_format("ts", "yyyy-MM-dd HH").alias("hour"), "conv_id"
        )
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .collect()
    }
    assert got == want  # cumulative upserts converge to exact counts

    tk_stream = sorted(tuple(r) for r in top_k_from_rollup(rollup, k=3).collect())
    tk_batch = sorted(tuple(r) for r in top_k_per_hour(t, k=3).collect())
    assert tk_stream == tk_batch


def test_heavy_hitters_sketch_misra_gries_bounds(spark, tmp_path):
    """Bounded-state sketch: est ≤ true, undercount ≤ seen/(cap+1),
    and every true heavy hitter above the MG threshold is retained —
    on a skewed stream drained file-by-file."""
    import datetime

    from fluent_plugin_opensearch_spark.streaming.stream import (
        TRANSCRIPTS_SCHEMA,
        heavy_hitters_sketch_stream,
    )

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    # one hour window: conv0 ×120, conv1 ×60, conv2 ×30, 90 singletons
    freqs = [("conv0", 120), ("conv1", 60), ("conv2", 30)] + [
        (f"tail{i}", 1) for i in range(90)
    ]
    i = 0
    for conv, n in freqs:
        for _ in range(n):
            rows.append((conv, i, "user", "t", None, base + datetime.timedelta(seconds=i % 3500)))
            i += 1
    src_dir = str(tmp_path / "mg_src")
    df = spark.createDataFrame(rows, schema=TRANSCRIPTS_SCHEMA)
    df.repartition(6).write.parquet(src_dir)

    capacity = 8
    source = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = heavy_hitters_sketch_stream(source, capacity=capacity)
    q = (
        out.writeStream.format("memory")
        .queryName("mg_sketch")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "mg_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    emitted = spark.table("mg_sketch").collect()
    assert emitted, "sketch emitted nothing"
    # latest summary per window = the max-seen emission
    by_hour: dict[str, list] = {}
    for r in emitted:
        by_hour.setdefault(r["hour"], []).append(r)
    for hour, rs in by_hour.items():
        seen_max = max(r["seen"] for r in rs)
        final = {
            r["conv_id"]: r["est_count"]
            for r in rs
            if r["seen"] == seen_max and r["conv_id"] is not None  # drop marker rows
        }
        true = {
            r["conv_id"]: r["n"]
            for r in df.filter(F.date_format("ts", "yyyy-MM-dd HH") == hour)
            .groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        W = sum(true.values())
        assert seen_max == W  # every row was observed exactly once
        err = W / (capacity + 1)
        assert len(final) <= capacity
        for conv, est in final.items():
            assert est <= true[conv]  # never overcounts
            assert true[conv] - est <= err
        for conv, n in true.items():
            if n > err:  # guaranteed-retained heavy hitters
                assert conv in final, (conv, n, err, final)


def test_heavy_hitters_sketch_empty_summary_marker(spark, tmp_path):
    """A decrement that empties the summary (all counts equal, more
    keys than capacity) must still emit a max-seen marker row, so the
    latest-summary protocol never reads a stale bound."""
    import datetime

    from fluent_plugin_opensearch_spark.streaming.stream import (
        TRANSCRIPTS_SCHEMA,
        heavy_hitters_sketch_stream,
    )

    base = datetime.datetime(2024, 3, 2, 9, 0, 0)
    rows = [
        (f"solo{i}", i, "user", "t", None, base + datetime.timedelta(seconds=i))
        for i in range(9)  # 9 equal singletons > capacity 8, one batch
    ]
    src_dir = str(tmp_path / "mg0_src")
    spark.createDataFrame(rows, schema=TRANSCRIPTS_SCHEMA).coalesce(1).write.parquet(src_dir)
    out = heavy_hitters_sketch_stream(
        spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(src_dir), capacity=8
    )
    q = (
        out.writeStream.format("memory")
        .queryName("mg_empty")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "mg0_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.table("mg_empty").collect()
    assert len(emitted) == 1
    assert emitted[0]["conv_id"] is None and emitted[0]["seen"] == 9


def test_ingest_dedup_stream_accumulates_index(spark, tmp_path):
    """Continuous-ingest near-dup dedup: batch 2 is checked against
    batch 1's STORED index (corpus text never re-shingled) — exact
    dups and near-dups of accepted docs are rejected, uniques accepted,
    intra-batch exact dups collapse keep-first, and sub-shingle docs
    participate via their fingerprint (NULL-signature index rows)."""
    from fluent_plugin_opensearch_spark.streaming.stream import ingest_dedup_stream

    base = ("the quick brown fox jumps over the lazy dog while "
            "seven wizards brew strong coffee at dawn")
    other = ("entirely different content discussing spark physical "
            "plans adaptive execution and shuffle partition tuning")
    schema = "doc_id bigint, text string"
    b1 = spark.createDataFrame(
        [(1, base), (2, other), (7, "hi")], schema=schema
    )
    b2 = spark.createDataFrame(
        [
            (3, base),                                  # exact dup of 1
            (4, other.replace("tuning", "sizing")),     # near-dup of 2
            (5, "totally novel text with unique vocabulary tokens appearing once only"),
            (6, "totally novel text with unique vocabulary tokens appearing once only"),  # intra-batch dup of 5
            (8, "hi"),                                  # exact dup of tiny doc 7
        ],
        schema=schema,
    )
    src = str(tmp_path / "src")
    b1.write.parquet(src)
    cat = SinkCatalog(str(tmp_path / "wh"))
    ck = str(tmp_path / "ckpt")
    kw = dict(num_hashes=8, bands=4, shingle_k=3, min_jaccard=0.3)

    def run():
        q = ingest_dedup_stream(
            spark,
            spark.readStream.schema(schema).parquet(src),
            cat,
            ck,
            **kw,
        )
        q.awaitTermination(120)
        return q

    run()
    assert {r["doc_id"] for r in cat.read(spark, "corpus").collect()} == {1, 2, 7}

    b2.write.mode("append").parquet(src)
    q = run()
    corpus = {r["doc_id"] for r in cat.read(spark, "corpus").collect()}
    assert corpus == {1, 2, 7, 5}
    idx = {r["doc_id"]: r for r in cat.read(spark, "dedup_index").collect()}
    assert set(idx) == corpus
    assert idx[7]["signature"] is None and idx[7]["_fp"] is not None
    assert idx[5]["signature"] is not None
    m = q._ingest_metrics
    assert m and m[-1]["n_in"] == 5 and m[-1]["n_accepted"] == 1

    # third drain, no new files: nothing changes
    run()
    assert cat.read(spark, "corpus").count() == 4


def test_template_drift_stream_matches_batch_miner(spark, tmp_path):
    """Streamed template rollup across a multi-batch drain equals the
    batch log_templates event counts exactly (same normalization
    expression, update-mode cumulative upserts)."""
    from fluent_plugin_opensearch_spark.operators.search import log_templates
    from fluent_plugin_opensearch_spark.streaming.stream import (
        TRANSCRIPTS_SCHEMA,
        template_drift_stream,
    )

    src_dir = str(tmp_path / "td_src")
    t = load_transcripts(spark, SF_SMOKE)
    t.repartition(6).write.parquet(src_dir)
    cat = SinkCatalog(str(tmp_path / "td_wh"))
    source = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(src_dir)
    )
    q = template_drift_stream(
        spark, source, cat, str(tmp_path / "td_ckpt"),
        window="1 hour", watermark="45 days",
    )
    q.awaitTermination(180)

    rollup = cat.read(spark, "template_rollup").select("hour", "template", "n_turns")
    got: dict[str, int] = {}
    for r in rollup.collect():
        got[r["template"]] = got.get(r["template"], 0) + r["n_turns"]
    want = {
        r["template"]: r["n_events"] for r in log_templates(t).collect()
    }
    assert got == want


def test_index_stream_search_matches_batch_bm25(spark, tmp_path):
    """The incrementally-streamed inverted index must answer BM25
    queries identically to a from-scratch batch computation over the
    same corpus, and the query must physically read ONLY the term-
    bucket partitions its terms hash to (manifest-level pruning)."""
    from fluent_plugin_opensearch_spark.operators.search import (
        bm25_topk,
        search_index,
        term_bucket,
    )
    from fluent_plugin_opensearch_spark.streaming.stream import (
        TRANSCRIPTS_SCHEMA,
        index_stream,
    )

    import pyspark.sql.types as T

    src_dir = str(tmp_path / "ix_src")
    # the index's document unit must be an atomic ingest row — key
    # each turn, not each conversation (a conv spans micro-batches)
    key = F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
    t = load_transcripts(spark, SF_SMOKE).withColumn("doc_key", key)
    t.repartition(6).write.parquet(src_dir)
    cat = SinkCatalog(str(tmp_path / "ix_wh"))
    schema = T.StructType(
        TRANSCRIPTS_SCHEMA.fields + [T.StructField("doc_key", T.StringType())]
    )
    source = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)  # multi-batch build
        .parquet(src_dir)
    )
    q = index_stream(spark, source, cat, str(tmp_path / "ix_ckpt"), id_col="doc_key")
    q.awaitTermination(180)

    query = "error req took"
    got = search_index(
        spark, cat, query, k=10, id_col="doc_key", id_type="string"
    )
    want = bm25_topk(t.filter(F.col("text").isNotNull()), query, k=10, id_col="doc_key")
    g = [(r["rank"], r["doc_key"], r["score_micro"]) for r in got.orderBy("rank").collect()]
    w = [(r["rank"], r["doc_key"], r["score_micro"]) for r in want.orderBy("rank").collect()]
    assert g == w and len(g) == 10

    # physical pruning: every file the query read sits in a partition
    # one of the query's terms hashes to
    allowed = {term_bucket(term) for term in query.split()}
    post = cat.read(spark, "postings", partitions=sorted(allowed))
    files = post.inputFiles()
    assert files
    assert all(any(f"_index={b}" in f for b in allowed) for f in files)
    # and that is a strict subset of the table's partitions
    all_parts = set(cat.manifest("postings")["partitions"])
    assert allowed < all_parts


def test_hourly_totals_stream_anomaly_parity(spark, tmp_path):
    """Streamed hourly-totals rollup (update-mode upsert) + query-time
    k-sigma flags equals the batch hourly_anomalies EXACTLY across a
    multi-batch, time-unordered drain."""
    from fluent_plugin_opensearch_spark.operators.sessions import hourly_anomalies
    from fluent_plugin_opensearch_spark.streaming.stream import (
        TRANSCRIPTS_SCHEMA,
        anomalies_from_rollup,
        hourly_totals_stream,
    )

    src_dir = str(tmp_path / "ht_src")
    t = load_transcripts(spark, SF_SMOKE)
    t.repartition(8).write.parquet(src_dir)
    cat = SinkCatalog(str(tmp_path / "ht_wh"))
    source = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)  # force a multi-batch drain
        .parquet(src_dir)
    )
    # unordered files spanning 30 days -> watermark must cover the span
    # for exact parity (time-ordered real streams need only 24h)
    q = hourly_totals_stream(
        spark, source, cat, str(tmp_path / "ht_ckpt"), watermark="45 days"
    )
    q.awaitTermination(180)

    rollup = cat.read(spark, "hourly_totals").select("hour", "n_turns")
    got_counts = {r["hour"]: r["n_turns"] for r in rollup.collect()}
    want_counts = {
        r["hour"]: r["n_turns"]
        for r in t.groupBy(F.date_format("ts", "yyyy-MM-dd HH").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .collect()
    }
    assert got_counts == want_counts  # cumulative upserts converge exactly

    for k in (2, 3):
        g = sorted(tuple(r) for r in anomalies_from_rollup(rollup, k=k).collect())
        w = sorted(tuple(r) for r in hourly_anomalies(t, k=k).collect())
        assert g == w, f"k={k}"
