"""End-to-end pipeline composition + the batch runner (SURVEY.md §3.1
re-expressed Spark-first):

    read transcripts → parse (vectorized) → enrich (broadcast join)
    → compute @timestamp/_index/_id/routing → ``commit_batch``:
        good    → sink table (partitionBy _index)
        dlq     → dlq table (reason column)
    + per-sink and per-reason counts taken from those two writes (A1)
    + metrics JSONL + checkpoint manifest (``run_batch``).

``run_batch`` and the pipeline stream both commit through
``commit_batch``; the retry table (R8) is ``plans.retry``'s.

Stages are pure ``DataFrame -> DataFrame`` functions composed with
``df.transform`` (the genid-filter composability analog, SURVEY.md
§2.10) so Catalyst sees ONE logical plan: filters and the regex parse
push into the scan, the dictionary joins broadcast, and the only
shuffle in the plain job is the final repartition on ``_index``.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..constants import ID_KEY, INDEX_KEY
from ..operators.enrich import enrich
from ..operators.genid import add_hash_id
from ..operators.parse import parse_text
from ..operators.routing import affinity_enabled, affinity_override, route
from ..operators.timestamps import inject_timestamp
from ..operators.transforms import (
    drop_non_records,
    extract_meta,
    include_tag,
    inject_chunk_id,
    missing_id_filter,
    remove_keys,
)
from ..sinks.writer import SinkCatalog, append_to_sink, write_metrics


def build(df: DataFrame, cfg: PipelineConfig, spark: SparkSession, tag: str = "transcripts") -> DataFrame:
    """The full record pipeline as one logical plan. Adds:
    parse columns, enrichment columns, ``@timestamp``, ``_index``,
    ``_id``/``_parent``/``routing``, DLQ/missing-id flags."""
    out = (
        df.withColumn("tag", F.lit(tag))
        .transform(drop_non_records)
        .transform(lambda d: inject_timestamp(d, cfg))
        .transform(parse_text)
        .transform(lambda d: enrich(d, spark))
        .transform(lambda d: route(d, cfg))
        .transform(lambda d: extract_meta(d, cfg))
        .transform(lambda d: missing_id_filter(d, cfg))
        .transform(lambda d: include_tag(d, cfg))
        .transform(lambda d: remove_keys(d, cfg))
    )
    if cfg.flatten_hashes:
        # P2: flatten any struct columns into parent<sep>child
        from ..operators.transforms import flatten_struct_cols

        out = flatten_struct_cols(out, cfg.flatten_hashes_separator)
    if cfg.genid_record_keys or cfg.genid_use_entire_record:
        out = add_hash_id(out, cfg)
    return out


#: DLQ reasons in ``split_streams``' precedence order
DLQ_REASONS = ("null_record", "parse_error", "time_parse_error", "missing_id")


def split_streams(df: DataFrame, cfg: PipelineConfig) -> tuple[DataFrame, DataFrame]:
    """Fan the built plan into (good, dlq). DLQ = null records (P1) +
    parse failures (P5 pattern) + time-parse errors (P5) + missing-id
    rows when the op requires an id and ``emit_error_for_missing_id``
    (out_opensearch.rb:895-903); when emit is off those rows are
    silently dropped exactly like the reference."""
    reason = (
        F.when(F.col("malformed_record"), F.lit("null_record"))
        .when(~F.col("parse_ok"), F.lit("parse_error"))
        .when(F.col("time_parse_error"), F.lit("time_parse_error"))
        .when(F.col("missing_id"), F.lit("missing_id"))
        .otherwise(F.lit(None))
    )
    tagged = df.withColumn("dlq_reason", reason)
    good = tagged.filter(F.col("dlq_reason").isNull()).drop("dlq_reason")
    bad = tagged.filter(F.col("dlq_reason").isNotNull())
    if not cfg.emit_error_for_missing_id:
        bad = bad.filter(F.col("dlq_reason") != "missing_id")
    return good, bad


def apply_affinity(
    good: DataFrame, cfg: PipelineConfig, existing: DataFrame | None
) -> DataFrame:
    """R5 wiring: route updates/upserts to the index where the doc
    already lives, exactly when the reference would
    (target_index_affinity_enabled?, out_opensearch.rb:917-919 — the
    gate lives in ``affinity_enabled``). ``existing`` is the sink's
    (_id, _index) state; None (no sink yet) is a no-op, like the
    reference's empty search result."""
    if existing is not None and affinity_enabled(cfg):
        return affinity_override(good, existing)
    return good


def sink_id_state(spark: SparkSession, catalog: SinkCatalog, cfg: PipelineConfig) -> DataFrame | None:
    """The (_id, _index) lookup frame affinity queries — scoped to the
    logstash index family like the reference's ``logstash_prefix-*``
    search pattern (out_opensearch.rb:934-936). ``_index`` is the
    partition column, so the prefix filter prunes partitions at the
    scan."""
    if not catalog.exists("sink"):
        return None
    prefix = cfg.logstash_prefix + cfg.logstash_prefix_separator
    return (
        catalog.read(spark, "sink")
        .select(ID_KEY, INDEX_KEY)
        .where(F.col(ID_KEY).isNotNull() & F.col(INDEX_KEY).startswith(prefix))
    )


class CheckpointManifest:
    """Batch-mode checkpoint/resume (SURVEY.md §4 item 4; north_rule
    "resumable from checkpoint with per-partition lineage"): a JSON
    manifest of completed unit ids. A re-run skips completed units, so
    the whole job is idempotent (the chunk-id dedup hook,
    out_opensearch.rb:847-854, generalized to units of work)."""

    def __init__(self, path: str) -> None:
        self.path = path
        self._done: set[str] = set()
        if os.path.exists(path):
            with open(path) as f:
                self._done = set(json.load(f).get("done", []))

    def is_done(self, unit: str) -> bool:
        return unit in self._done

    def mark_done(self, unit: str) -> None:
        self._done.add(unit)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"done": sorted(self._done)}, f)
        os.replace(tmp, self.path)


def commit_batch(
    built: DataFrame,
    cfg: PipelineConfig,
    catalog: SinkCatalog,
    spark: SparkSession,
    marker: str | None = None,
) -> tuple[dict[str, int] | None, dict[str, int] | None]:
    """The write(chunk) commit of ``run_batch`` and the pipeline stream:
    split, affinity and chunk id when configured, then both appends.
    Counts come from the writes, with no job after them: rows per sink
    from the staged files' parquet footers, DLQ rows per reason from an
    ``observe`` on the DLQ write. Returns ``(per_sink, dlq_by_reason)``;
    either is None when its table already holds ``marker``. Markers are
    per table, so a retry after a crash between the two commits
    completes only the missing append."""
    good, dlq = split_streams(built, cfg)
    # gate BEFORE building the lookup — sink_id_state lists/reads the
    # sink's version dirs eagerly, a cost non-affinity batches must
    # not pay
    if affinity_enabled(cfg):
        good = apply_affinity(good, cfg, sink_id_state(spark, catalog, cfg))
    # P7 gating (out_opensearch.rb:182,847-854): the chunk id only when
    # include_chunk_id is configured
    if cfg.include_chunk_id:
        good = inject_chunk_id(good, cfg.chunk_id_key)
    # skew knob (SURVEY.md §4 item 1): salting needs an explicit
    # repartition, so default the partition count to the parallelism
    parts = cfg.sink_partitions
    if cfg.salt_buckets > 0 and parts == 0:
        parts = spark.sparkContext.defaultParallelism
    obs = Observation()
    dlq = dlq.observe(
        obs, *[F.count(F.when(F.col("dlq_reason") == r, 1)).alias(r) for r in DLQ_REASONS]
    )

    # one pass over the input feeds both sides; cache the narrow built
    # plan so good/dlq don't rescan it
    built.persist()
    try:
        per_sink = append_to_sink(
            good,
            catalog,
            "sink",
            parts,
            writers_per_sink=max(1, cfg.salt_buckets),
            target_file_size_bytes=cfg.target_file_size_bytes,
            marker=marker,
        )
        wrote_dlq = append_to_sink(
            dlq.withColumn(INDEX_KEY, F.lit("dlq")), catalog, "dlq", marker=marker
        )
    finally:
        built.unpersist()
    # a skipped append never fires the observation, and .get would block
    by_reason = None if wrote_dlq is None else {r: n for r, n in obs.get.items() if n}
    return per_sink, by_reason


def run_batch(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    catalog: SinkCatalog,
    batch_id: str | None = None,
    manifest: CheckpointManifest | None = None,
) -> dict:
    """One batch: build → ``commit_batch`` → metrics (per-sink counts
    A1 + DLQ rows by reason A2), §3.1's write(chunk) shape.

    With a ``manifest`` both appends commit under the batch id as their
    marker, so a resume after a partial commit completes only the
    missing table; ``already_committed`` names the tables an earlier
    attempt wrote, whose rows these metrics do not count.
    """
    batch_id = batch_id or uuid.uuid4().hex[:12]
    if manifest is not None and manifest.is_done(batch_id):
        return {"batch_id": batch_id, "skipped": True}

    per_sink, dlq = commit_batch(
        build(transcripts, cfg, spark), cfg, catalog, spark,
        marker=batch_id if manifest is not None else None,
    )
    counts = [{INDEX_KEY: k, "routed_rows": n} for k, n in sorted((per_sink or {}).items())]
    dlq_counts = [{"dlq_reason": r, "n": n} for r, n in (dlq or {}).items()]
    metrics = {
        "batch_id": batch_id,
        "per_sink": counts,
        "dlq": dlq_counts,
        "routed_rows": sum(c["routed_rows"] for c in counts),
        "dlq_rows": sum(c["n"] for c in dlq_counts),
        "already_committed": [t for t, c in (("sink", per_sink), ("dlq", dlq)) if c is None],
    }
    write_metrics(catalog, batch_id, counts + [metrics])
    if manifest is not None:
        manifest.mark_done(batch_id)
    return metrics
