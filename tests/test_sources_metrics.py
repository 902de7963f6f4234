"""S5 docinfo lineage, P13 partial-update semantics, chunk-id gating, A2 commit counters, sketches."""

from __future__ import annotations

from pyspark.sql import functions as F

from fluent_plugin_opensearch_spark import PipelineConfig, SinkCatalog, build, merge_write
from fluent_plugin_opensearch_spark.sources.reader import scan_with_docinfo, with_slices

from .conftest import SF_SMOKE


def test_docinfo_lineage(spark):
    df = scan_with_docinfo(spark, f"{SF_SMOKE}/events.parquet")
    row = df.select("@metadata").first()[0]
    assert row["source_file"].endswith("events.parquet")
    assert row["source_row"] >= 0
    # lineage rows are unique per source row
    n = df.count()
    assert df.select("@metadata.source_file", "@metadata.source_row").distinct().count() == n


def test_with_slices(spark):
    df = with_slices(spark.read.parquet(f"{SF_SMOKE}/events.parquet"), 6)
    assert df.rdd.getNumPartitions() == 6


def test_partial_update_excludes_keys(spark, tmp_path):
    """P13: remove_keys_on_update keeps existing values for excluded
    columns on update; other columns take the batch value
    (out_opensearch.rb:792-799)."""
    cat = SinkCatalog(str(tmp_path))
    schema = "_id string, _index string, a int, b int"
    base = spark.createDataFrame([("x", "i1", 1, 10), ("y", "i1", 2, 20)], schema)
    merge_write(spark, base, cat, PipelineConfig(write_operation="index"))

    upd = spark.createDataFrame([("x", "i1", 100, 999)], schema)
    cfg = PipelineConfig(write_operation="update", remove_keys_on_update=("b",))
    merge_write(spark, upd, cat, cfg)
    rows = {r["_id"]: (r["a"], r["b"]) for r in cat.read(spark, "sink").collect()}
    assert rows == {"x": (100, 10), "y": (2, 20)}  # a updated, b preserved

    # upsert: matched rows respect the exclusion, new rows insert fully
    ups = spark.createDataFrame([("x", "i1", 7, 777), ("z", "i1", 3, 30)], schema)
    cfg2 = PipelineConfig(write_operation="upsert", remove_keys_on_update=("b",))
    merge_write(spark, ups, cat, cfg2)
    rows = {r["_id"]: (r["a"], r["b"]) for r in cat.read(spark, "sink").collect()}
    assert rows == {"x": (7, 10), "y": (2, 20), "z": (3, 30)}


def test_suppress_doc_wrap_replaces_wholesale(spark, tmp_path):
    """suppress_doc_wrap (out_opensearch.rb:171,776-780): the record IS
    the update body — matched rows are replaced wholesale, so an
    excluded key yields NULL instead of preserving the stored value
    (the {"doc": ...} wrap is what gives absent-key-keeps-value
    semantics; compare test_partial_update_excludes_keys)."""
    cat = SinkCatalog(str(tmp_path))
    schema = "_id string, _index string, a int, b int"
    base = spark.createDataFrame([("x", "i1", 1, 10), ("y", "i1", 2, 20)], schema)
    merge_write(spark, base, cat, PipelineConfig(write_operation="index"))

    upd = spark.createDataFrame([("x", "i1", 100, 999)], schema)
    cfg = PipelineConfig(
        write_operation="update", remove_keys_on_update=("b",), suppress_doc_wrap=True
    )
    merge_write(spark, upd, cat, cfg)
    rows = {r["_id"]: (r["a"], r["b"]) for r in cat.read(spark, "sink").collect()}
    assert rows == {"x": (100, None), "y": (2, 20)}  # b dropped, not preserved


def test_chunk_id_injection_gated(spark, tmp_path):
    """include_chunk_id/chunk_id_key gating (out_opensearch.rb:182-183,
    847-854): run_batch and the pipeline stream inject the chunk id only
    when configured, under the configured key (VERDICT r2 'What's
    missing' item 3)."""
    from fluent_plugin_opensearch_spark import load_transcripts
    from fluent_plugin_opensearch_spark.plans.pipeline import run_batch
    from fluent_plugin_opensearch_spark.streaming.stream import (
        read_transcript_stream,
        start_pipeline_stream,
    )

    t = load_transcripts(spark, SF_SMOKE).limit(200)
    off = PipelineConfig(logstash_format=True, logstash_prefix="logs")
    cat1 = SinkCatalog(str(tmp_path / "off"))
    run_batch(spark, t, off, cat1, batch_id="b")
    assert "chunk_id" not in cat1.read(spark, "sink").columns

    on = PipelineConfig(
        logstash_format=True, logstash_prefix="logs",
        include_chunk_id=True, chunk_id_key="my_chunk",
    )
    cat2 = SinkCatalog(str(tmp_path / "on"))
    run_batch(spark, t, on, cat2, batch_id="b")
    sink = cat2.read(spark, "sink")
    assert "my_chunk" in sink.columns
    assert sink.filter(F.col("my_chunk").isNull()).count() == 0

    # the stream commits through the same path, so it honours the option
    src = str(tmp_path / "src")
    t.write.parquet(src)
    cat3 = SinkCatalog(str(tmp_path / "stream"))
    q = start_pipeline_stream(
        spark, read_transcript_stream(spark, src), on, cat3, str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    assert q.exception() is None
    streamed = cat3.read(spark, "sink")
    assert "my_chunk" in streamed.columns
    assert streamed.count() > 0
    assert streamed.filter(F.col("my_chunk").isNull()).count() == 0


def test_observe_metrics_single_pass(spark, tmp_path):
    """A2: the commit's counters come from its own writes (parquet
    footers for the sink, an ``observe`` on the DLQ write), with no
    second scan of the batch, and agree with the rows written."""
    from fluent_plugin_opensearch_spark import load_transcripts
    from fluent_plugin_opensearch_spark.plans.pipeline import commit_batch

    cfg = PipelineConfig(logstash_format=True, logstash_prefix="logs")
    built = build(load_transcripts(spark, SF_SMOKE), cfg, spark)
    cat = SinkCatalog(str(tmp_path / "wh"))
    per_sink, by_reason = commit_batch(built, cfg, cat, spark)
    assert sum(per_sink.values()) == cat.read(spark, "sink").count()
    assert sum(by_reason.values()) == cat.read(spark, "dlq").count()
    assert sum(per_sink.values()) + sum(by_reason.values()) == built.count()
    assert by_reason["parse_error"] > 0
    assert by_reason["null_record"] > 0
    assert len(per_sink) >= 25  # ~30 UTC days in the data


def test_per_record_update_exclusion(spark, tmp_path):
    """P13 per-record variant: remove_keys_on_update_key names a record
    field holding that row's comma-separated exclusions."""
    cat = SinkCatalog(str(tmp_path))
    schema = "_id string, _index string, a int, b int, skip_cols string"
    base = spark.createDataFrame(
        [("x", "i1", 1, 10, None), ("y", "i1", 2, 20, None)], schema
    )
    merge_write(spark, base, cat, PipelineConfig(write_operation="index"))
    upd = spark.createDataFrame(
        [("x", "i1", 100, 999, "b"), ("y", "i1", 200, 888, None)], schema
    )
    cfg = PipelineConfig(write_operation="update", remove_keys_on_update_key="skip_cols")
    merge_write(spark, upd, cat, cfg)
    rows = {r["_id"]: (r["a"], r["b"]) for r in cat.read(spark, "sink").collect()}
    # x excluded 'b' for its own row; y excluded nothing
    assert rows == {"x": (100, 10), "y": (200, 888)}


def test_heavy_hitter_sketch_and_profile(spark):
    """Approximate monitoring primitives: count-min sketch (one-pass,
    mergeable, overestimates only) + per-sink HLL/quantile profile."""
    from fluent_plugin_opensearch_spark.plans.metrics import (
        approx_sink_profile,
        heavy_hitter_sketch,
    )

    df = spark.createDataFrame(
        [("hot", i % 7, "i1") for i in range(2000)] + [("cold", 0, "i2")],
        "conv_id string, turn_idx int, _index string",
    )
    sk = heavy_hitter_sketch(df, "conv_id")
    assert sk.estimateCount("hot") >= 2000  # CMS never undercounts
    assert sk.estimateCount("cold") >= 1
    prof = {r["_index"]: r for r in approx_sink_profile(df).collect()}
    assert prof["i1"]["rows"] == 2000 and prof["i1"]["approx_convs"] == 1
    assert prof["i2"]["rows"] == 1 and prof["i2"]["approx_convs"] == 1
