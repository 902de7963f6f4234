"""End-to-end: read transcripts → build → fan-out write → per-sink
counts (SURVEY.md §7 Phase 0 — exercises S1, P3, R2, R6, A1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fluent_plugin_opensearch_spark import (
    PipelineConfig,
    SinkCatalog,
    build,
    load_transcripts,
    run_batch,
    split_streams,
)
from fluent_plugin_opensearch_spark.plans.pipeline import CheckpointManifest

from .conftest import SF_SMOKE

CFG = PipelineConfig(logstash_format=True, logstash_prefix="logs")


def test_build_schema(spark):
    t = load_transcripts(spark, SF_SMOKE)
    out = build(t, CFG, spark)
    cols = set(out.columns)
    for c in ["conv_id", "turn_idx", "role", "text", "tool", "@timestamp",
              "_index", "_id", "level", "req_id", "duration_ms",
              "role_class", "tool_family", "parse_ok"]:
        assert c in cols, c


def test_per_sink_counts_match_duckdb(spark, tmp_path):
    """Per-sink routed-row counts — the graft's headline correctness
    metric (A1) — vs an independent DuckDB computation, both as a
    groupBy over the good rows and as the counts ``run_batch`` reads
    from the footers of the files it wrote; and ``run_batch``'s DLQ
    counts per reason vs a groupBy over the DLQ rows."""
    import duckdb

    t = load_transcripts(spark, SF_SMOKE)
    good, dlq = split_streams(build(t, CFG, spark), CFG)
    got = {
        r["_index"]: r["routed_rows"]
        for r in good.groupBy("_index").agg(F.count(F.lit(1)).alias("routed_rows")).collect()
    }

    from fluent_plugin_opensearch_spark.sources.transcripts import ORACLE_PREFIX

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{SF_SMOKE}/events.parquet'")
    want = dict(
        con.sql(
            ORACLE_PREFIX
            + """
      SELECT lower(concat('logs-', strftime(ts, '%Y.%m.%d'))) AS idx, count(*)
      FROM transcripts
      WHERE text IS NOT NULL AND regexp_matches(text, '^\\[(\\w+)\\] req=(\\d+) took=(\\d+)ms ')
      GROUP BY 1
    """
        ).fetchall()
    )
    assert got == want
    assert sum(got.values()) > 0
    m = run_batch(spark, t, CFG, SinkCatalog(str(tmp_path / "wh")), batch_id="b")
    assert {r["_index"]: r["routed_rows"] for r in m["per_sink"]} == want

    # DLQ rows per reason (A2), observed on the DLQ write, equal a
    # groupBy; parse errors and null records exist by construction
    want_dlq = {r["dlq_reason"]: r["count"] for r in dlq.groupBy("dlq_reason").count().collect()}
    got_dlq = {r["dlq_reason"]: r["n"] for r in m["dlq"]}
    assert got_dlq == want_dlq
    assert got_dlq["parse_error"] > 0 and got_dlq["null_record"] > 0
    assert m["dlq_rows"] == sum(want_dlq.values())


def test_affinity_config_wiring_e2e(spark, tmp_path):
    """R5 wiring: cfg.target_index_affinity alone (with update op +
    id_key + logstash) makes run_batch pull updates back to the index
    day where each doc already lives (out_opensearch.rb:871,1006-1013;
    tests :2173-2275). A 60-day-shifted replay of the same convs must
    produce NO new index days."""
    cat = SinkCatalog(str(tmp_path / "wh"))
    t = load_transcripts(spark, SF_SMOKE)
    seed_cfg = PipelineConfig(logstash_format=True, logstash_prefix="logs", id_key="conv_id")
    m1 = run_batch(spark, t, seed_cfg, cat, batch_id="seed")
    days1 = {c["_index"] for c in m1["per_sink"]}
    assert days1 and all(d.startswith("logs-2024.01") for d in days1)

    shifted = t.withColumn("ts", F.col("ts") + F.expr("INTERVAL 60 DAYS"))
    upd_cfg = PipelineConfig(
        logstash_format=True,
        logstash_prefix="logs",
        id_key="conv_id",
        target_index_affinity=True,
        write_operation="update",
    )
    m2 = run_batch(spark, shifted, upd_cfg, cat, batch_id="upd")
    days2 = {c["_index"] for c in m2["per_sink"]}
    assert days2 <= days1, f"affinity failed to pull back: {sorted(days2 - days1)}"

    # negative control: same cfg minus the flag is gated off
    from fluent_plugin_opensearch_spark.operators.routing import affinity_enabled

    assert not affinity_enabled(
        PipelineConfig(logstash_format=True, id_key="conv_id", write_operation="update")
    )
    # and the gate requires update/upsert (index op never reroutes)
    assert not affinity_enabled(
        PipelineConfig(logstash_format=True, id_key="conv_id", target_index_affinity=True)
    )


def test_no_dead_config_knobs():
    """Invariant (VERDICT r1): every PipelineConfig field must have a
    consumer somewhere in the package — a frozen dataclass advertising
    behavior the pipeline ignores is a correctness trap."""
    import dataclasses
    import pathlib

    import fluent_plugin_opensearch_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    src = "\n".join(p.read_text() for p in root.rglob("*.py") if p.name != "config.py")
    dead = [f.name for f in dataclasses.fields(PipelineConfig) if f.name not in src]
    assert not dead, f"config knobs with no consumer: {dead}"


def test_salt_buckets_spreads_hot_sink(spark, tmp_path):
    """salt_buckets wiring: a single hot sink in run_batch fans out to
    multiple writer files when the knob is set."""
    import os

    t = load_transcripts(spark, SF_SMOKE)
    cfg = PipelineConfig(logstash_format=True, logstash_prefix="logs", salt_buckets=4)
    cat = SinkCatalog(str(tmp_path / "wh_salt"))
    run_batch(spark, t, cfg, cat, batch_id="s1")
    m = cat.manifest("sink")
    some_part = sorted(m["partitions"])[0]
    d = os.path.join(cat.path("sink"), m["partitions"][some_part][0], f"_index={some_part}")
    n_files = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    assert n_files > 1, "hot sink not spread across salted writers"


def test_run_batch_and_resume(spark, tmp_path):
    cat = SinkCatalog(str(tmp_path / "warehouse"))
    manifest = CheckpointManifest(str(tmp_path / "manifest.json"))
    t = load_transcripts(spark, SF_SMOKE)

    m1 = run_batch(spark, t, CFG, cat, batch_id="b1", manifest=manifest)
    assert m1["routed_rows"] > 0
    assert m1["dlq_rows"] > 0  # malformed + null rows exist by construction

    # resume: identical batch id is skipped (idempotent re-run)
    m2 = run_batch(spark, t, CFG, cat, batch_id="b1", manifest=manifest)
    assert m2.get("skipped") is True

    # sink row count equals routed_rows; dlq table holds the dlq rows
    sink = cat.read(spark, "sink")
    assert sink.count() == m1["routed_rows"]
    dlq = cat.read(spark, "dlq")
    assert dlq.count() == m1["dlq_rows"]
    # per-turn ordering invariant: texts equal after (conv_id, turn_idx) sort
    src = t.filter(F.col("text").isNotNull()).orderBy("conv_id", "turn_idx")
    n_src = src.count()
    assert sink.count() + dlq.filter(F.col("dlq_reason") != "null_record").count() == n_src


def test_run_batch_resume_after_failed_dlq_commit(spark, tmp_path, monkeypatch):
    """Crash between the two commits: the sink append committed, the DLQ
    commit failed. A resume with the same manifest must complete only
    the DLQ; the sink keeps exactly one copy of the batch."""
    t = load_transcripts(spark, SF_SMOKE)
    ref = run_batch(spark, t, CFG, SinkCatalog(str(tmp_path / "ref")), batch_id="b1")
    cat = SinkCatalog(str(tmp_path / "wh"))
    manifest = CheckpointManifest(str(tmp_path / "manifest.json"))

    real_commit = SinkCatalog.commit

    def failing_commit(self, table, *a, **kw):
        if table == "dlq":
            raise RuntimeError("dlq commit failure")
        return real_commit(self, table, *a, **kw)

    monkeypatch.setattr(SinkCatalog, "commit", failing_commit)
    with pytest.raises(RuntimeError, match="dlq commit failure"):
        run_batch(spark, t, CFG, cat, batch_id="b1", manifest=manifest)
    assert not manifest.is_done("b1")
    monkeypatch.setattr(SinkCatalog, "commit", real_commit)

    m = run_batch(spark, t, CFG, cat, batch_id="b1", manifest=manifest)
    assert cat.read(spark, "sink").count() == ref["routed_rows"]
    assert cat.read(spark, "dlq").count() == ref["dlq_rows"]
    assert m["already_committed"] == ["sink"]
    assert m["dlq"] == ref["dlq"]
    assert manifest.is_done("b1")


def test_sink_id_state_scoped_to_prefix(spark, tmp_path):
    """Affinity lookups query only the logstash index family
    (out_opensearch.rb:934-936 `logstash_prefix-*`); foreign
    partitions and null ids are excluded (and pruned at the scan)."""
    from fluent_plugin_opensearch_spark.plans.pipeline import sink_id_state
    from fluent_plugin_opensearch_spark.sinks.writer import append_to_sink

    cat = SinkCatalog(str(tmp_path))
    df = spark.createDataFrame(
        [
            ("a", "logs-2024.01.01"),
            ("b", "other-2024.01.01"),
            (None, "logs-2024.01.02"),
        ],
        "_id string, _index string",
    )
    append_to_sink(df, cat, "sink")
    cfg = PipelineConfig(logstash_format=True, logstash_prefix="logs")
    state = sink_id_state(spark, cat, cfg)
    rows = {(r["_id"], r["_index"]) for r in state.collect()}
    assert rows == {("a", "logs-2024.01.01")}
    assert sink_id_state(spark, SinkCatalog(str(tmp_path / "empty")), cfg) is None
