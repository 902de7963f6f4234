"""Per-sink fan-out writes + write-operation semantics (SURVEY.md §2.1
S6-S8, §2.3 R6-R7, §2.4 W1-W3).

The reference groups NDJSON lines per (host, index) and POSTs a bulk
request per group (out_opensearch.rb:856-915,1097-1141). Spark-first
shape: ONE write with ``partitionBy("_index")`` — the shuffle on the
routing key is the grouping, every sink directory is a "bulk batch",
and file sizing replaces byte-threshold request splitting (R7 →
``target_file_size_bytes`` → ``maxRecordsPerFile``).

On a production cluster the sink is an Iceberg table per index family
(``CREATE TABLE ... USING iceberg PARTITIONED BY (days(ts))``) and the
write ops map to MERGE INTO (W1). This sandbox has no Iceberg runtime
jar, so ``SinkCatalog`` implements the same COMMIT MODEL on plain
parquet: immutable version directories + an atomically-flipped
manifest (an Iceberg snapshot in miniature), and the merge variants
are expressed as equivalent DataFrame joins — the semantics (and
tests) carry over to MERGE unchanged:

  index  → replace-by-_id  : existing anti-join batch, then union
  create → insert-if-absent: batch anti-join existing (dups dropped, W2)
  update → only matching   : batch semi-join existing, replace those
  upsert → full merge      : replace matching + insert rest
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..constants import ID_KEY, INDEX_KEY, OP_CREATE, OP_INDEX, OP_UPDATE, OP_UPSERT
from ..session import local_frame

_MANIFEST = "_manifest.json"

#: chars Hive/Spark escape in partition directory names
#: (ExternalCatalogUtils.charToEscape) — the manifest stores RAW
#: partition VALUES; these helpers convert at the dir-name boundary so
#: comparisons against the `_index` column are never escaped-vs-raw.
_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^')


def _escape_part(value: str) -> str:
    return "".join(
        f"%{ord(c):02X}" if c in _ESCAPE_CHARS or ord(c) < 32 else c for c in value
    )


def _unescape_part(dirname: str) -> str:
    from urllib.parse import unquote

    return unquote(dirname)


@dataclass
class SinkCatalog:
    """Iceberg-shaped parquet catalog: immutable version dirs + an
    atomic manifest pointer.

    Layout::

        <base>/<table>/_manifest.json   {"current_version": n,
                                         "partitions": {idx: [v_...]}}
        <base>/<table>/v_000001/_index=<idx>/part-*.parquet

    Commit protocol (the crash-safety contract):
      1. a writer stages a NEW immutable version dir (never mutates
         existing data files);
      2. the manifest — which maps each live ``_index`` partition to
         the version dirs holding its current rows — is rewritten to a
         temp file and flipped with one atomic ``os.replace``.
    A crash BEFORE the flip leaves an orphan version dir and a fully
    valid previous table; a crash AFTER it is a completed commit.
    There is never a moment where committed data is unreachable.
    ``vacuum`` garbage-collects unreferenced version dirs afterwards.

    Single-writer (one driver per table), like a fluentd output's
    buffer dir. On a real cluster this class is replaced by an Iceberg
    catalog (MERGE INTO + snapshot isolation); interfaces are shaped
    so that swap is mechanical.

    ``snapshots_kept > 1`` turns on Iceberg-style snapshot history:
    every commit appends its full partition map to a bounded
    ``snapshots`` log in the manifest, ``read(version=...)`` time-travels
    to any retained snapshot, ``rollback`` atomically re-points the
    table at one, and ``vacuum`` protects every version dir a retained
    snapshot still references (``expire_snapshots`` is the retention
    job, Iceberg's ``expire_snapshots`` analog). The default (1) keeps
    no history — identical layout and GC behavior to a plain
    current-snapshot catalog.
    """

    base_dir: str
    snapshots_kept: int = 1

    def path(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def ensure(self, table: str) -> str:
        """S8: idempotent DDL before first write (template_install,
        opensearch_index_template.rb:107-122)."""
        p = self.path(table)
        os.makedirs(p, exist_ok=True)
        return p

    # --- manifest ---------------------------------------------------------

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.path(table), _MANIFEST)

    def manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        # legacy (pre-manifest) layout: partition dirs at the table
        # root — surface them as a read-only pseudo-version "." so old
        # tables stay fully visible; the first commit persists this
        # view and compact() migrates the data into real version dirs
        root = self.path(table)
        if os.path.isdir(root):
            legacy = sorted(
                _unescape_part(d.split("=", 1)[1])
                for d in os.listdir(root)
                if d.startswith(INDEX_KEY + "=")
            )
            if legacy:
                return {"current_version": 0, "partitions": {p_: ["."] for p_ in legacy}}
        return {"current_version": 0, "partitions": {}}

    def exists(self, table: str) -> bool:
        return bool(self.manifest(table)["partitions"])

    def stage(self, table: str) -> tuple[int, str]:
        """Reserve the next version number + its (not yet live) dir."""
        v = self.manifest(table)["current_version"] + 1
        return v, os.path.join(self.path(table), f"v_{v:06d}")

    def commit(
        self,
        table: str,
        version: int,
        touched: list[str],
        replace: bool,
        removed: tuple[str, ...] = (),
        marker: str | None = None,
    ) -> None:
        """Flip the manifest: ``replace=False`` appends the new version
        to each touched partition's dir list; ``replace=True`` makes it
        the partition's ONLY version (a merge rewrite); ``removed``
        partitions are dropped entirely (every doc moved away).
        ``marker`` records an idempotence token (e.g. a streaming
        micro-batch id) IN THE SAME atomic flip — data and marker
        commit together or not at all, which is what makes foreachBatch
        re-deliveries exactly-once (see ``has_marker``). One atomic
        ``os.replace`` — the whole commit."""
        m = self.manifest(table)
        vname = f"v_{version:06d}"
        for part in touched:
            if replace:
                m["partitions"][part] = [vname]
            else:
                m["partitions"][part] = m["partitions"].get(part, []) + [vname]
        for part in removed:
            m["partitions"].pop(part, None)
        if marker is not None:
            m["markers"] = _prune_markers(set(m.get("markers", [])) | {marker})
        m["current_version"] = version
        self._record_snapshot(m, version)
        self._flip(table, m)

    def _flip(self, table: str, m: dict) -> None:
        """The ONE atomic commit primitive: rewrite the manifest to a
        temp file, ``os.replace`` over the live one."""
        self.ensure(table)
        tmp = self._manifest_path(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=0, sort_keys=True)
        os.replace(tmp, self._manifest_path(table))

    def _record_snapshot(self, m: dict, version: int) -> None:
        """Append the post-commit partition map to the bounded snapshot
        log. At the default retention of 1 nothing is appended (a fresh
        table's manifest stays byte-identical to the history-free
        layout) — but an EXISTING log is left untouched: retention
        lives on the catalog object, and a maintenance job or pipeline
        run constructed with the default must never silently destroy
        history (and thereby let vacuum GC snapshot-protected version
        dirs) that a history-keeping writer built. Dropping history is
        an explicit act: ``expire_snapshots``."""
        if self.snapshots_kept <= 1:
            return
        log = m.get("snapshots", [])
        log.append(
            {"version": version, "partitions": {p: list(vs) for p, vs in m["partitions"].items()}}
        )
        m["snapshots"] = log[-self.snapshots_kept :]

    def snapshots(self, table: str) -> list[int]:
        """Versions available for time travel (oldest first). The
        current version is always readable even with history off."""
        m = self.manifest(table)
        versions = [s["version"] for s in m.get("snapshots", [])]
        if m["current_version"] not in versions and m["partitions"]:
            versions.append(m["current_version"])
        return versions

    def _partitions_at(self, table: str, version: int | None) -> dict[str, list[str]]:
        m = self.manifest(table)
        if version is None or version == m["current_version"]:
            return m["partitions"]
        for snap in m.get("snapshots", []):
            if snap["version"] == version:
                return snap["partitions"]
        raise ValueError(
            f"sink table {table!r} has no retained snapshot for version {version} "
            f"(retained: {self.snapshots(table)}) — expired or never committed"
        )

    def read(
        self,
        spark: SparkSession,
        table: str,
        version: int | None = None,
        partitions: list[str] | None = None,
    ) -> DataFrame:
        """Read a snapshot: per live version dir, the partitions the
        manifest assigns to it (orphan/stale dirs are invisible). Merge
        rewrites collapse a partition back to one version, so the union
        stays shallow. ``version`` time-travels to a retained snapshot
        (requires ``snapshots_kept > 1`` at commit time). ``partitions``
        restricts the scan to the named ``_index`` values — manifest-
        level partition pruning (the Iceberg partition-filter analog):
        only those partitions' data files are ever listed or opened,
        which is what makes a term-bucketed index lookup touch
        O(query terms) files instead of the whole table."""
        by_version: dict[str, list[str]] = {}
        wanted = set(partitions) if partitions is not None else None
        for part, versions in self._partitions_at(table, version).items():
            if wanted is not None and part not in wanted:
                continue
            for v in versions:
                by_version.setdefault(v, []).append(part)
        if not by_version:
            raise FileNotFoundError(f"sink table {table!r} has no committed data")
        out = None
        for v, parts in sorted(by_version.items()):
            base = os.path.join(self.path(table), v)
            paths = [
                os.path.join(base, f"{INDEX_KEY}={_escape_part(p)}") for p in sorted(parts)
            ]
            df = spark.read.option("basePath", base).parquet(*paths)
            out = df if out is None else out.unionByName(df, allowMissingColumns=True)
        return out

    def has_marker(self, table: str, marker: str) -> bool:
        """True if an idempotence token was already committed — the
        foreachBatch exactly-once check: Spark re-delivers a
        micro-batch after failures (at-least-once), and the marker
        (committed atomically WITH the data) lets the writer skip the
        duplicate delivery."""
        return marker in self.manifest(table).get("markers", [])

    def fragmented(self, table: str, max_versions: int = 1) -> list[str]:
        """Partitions referenced by more than ``max_versions`` version
        dirs (or by the legacy "." pseudo-version) — the single source
        of truth for what ``compact`` would rewrite (maintenance jobs
        must use this, not re-derive the predicate)."""
        m = self.manifest(table)
        return sorted(
            p for p, vs in m["partitions"].items() if len(vs) > max_versions or "." in vs
        )

    def compact(
        self, spark: SparkSession, table: str, max_versions: int = 1
    ) -> int:
        """Small-file/read-amplification maintenance (the Iceberg
        ``rewrite_data_files`` analog): every partition referenced by
        MORE than ``max_versions`` version dirs is rewritten into one
        fresh version and re-pointed in a single atomic commit. At
        10^12 rows this is the periodic job that keeps steady appends
        from degrading scan fan-in; untouched (already-compact)
        partitions are not rewritten. Returns the number of partitions
        compacted."""
        frag = self.fragmented(table, max_versions)
        m = self.manifest(table)
        if not frag:
            return 0
        current = self.read(spark, table)
        subset = current.filter(F.col(INDEX_KEY).isin(frag))
        version = m["current_version"] + 1
        vdir = os.path.join(self.path(table), f"v_{version:06d}")
        subset.write.mode("overwrite").partitionBy(INDEX_KEY).parquet(vdir)
        staged = _staged_partitions(vdir)
        self.commit(table, version, staged, replace=True,
                    removed=tuple(sorted(set(frag) - set(staged))))
        self.vacuum(table)
        return len(frag)

    def rollback(self, table: str, version: int) -> int:
        """Re-point the table at a retained snapshot (Iceberg
        ``rollback_to_snapshot``): the rolled-back state commits as a
        NEW version in the same single atomic flip, so history stays
        append-only and the abandoned versions remain time-travelable
        until ``expire_snapshots``. Returns the new current version.

        The OUTGOING current state is force-recorded into the snapshot
        log even under default retention (r5, ADVICE r4): on a
        ``snapshots_kept <= 1`` catalog the pre-rollback state was
        never snapshotted, and without this it would become
        unrecoverable the moment vacuum runs — breaking this method's
        own contract. ``expire_snapshots`` releases it explicitly."""
        target = {p: list(vs) for p, vs in self._partitions_at(table, version).items()}
        m = self.manifest(table)
        cur = m["current_version"]
        log = m.get("snapshots", [])
        if m["partitions"] and cur not in {s["version"] for s in log}:
            log.append(
                {"version": cur,
                 "partitions": {p: list(vs) for p, vs in m["partitions"].items()}}
            )
            m["snapshots"] = log
        new_version = cur + 1
        m["partitions"] = target
        m["current_version"] = new_version
        self._record_snapshot(m, new_version)
        self._flip(table, m)
        return new_version

    def expire_snapshots(self, table: str, keep: int = 1) -> list[int]:
        """Retention maintenance (Iceberg ``expire_snapshots``): drop
        all but the newest ``keep`` snapshot-log entries so the next
        ``vacuum`` can GC the version dirs only they referenced.
        Returns the expired versions."""
        m = self.manifest(table)
        log = m.get("snapshots", [])
        expired = [s["version"] for s in log[: max(0, len(log) - keep)]]
        if expired:
            m["snapshots"] = log[len(expired) :]
            self._flip(table, m)
        return expired

    def vacuum(self, table: str) -> list[str]:
        """Delete version dirs no partition references (post-merge GC).
        Safe at any time: the manifest is the source of truth. Version
        dirs still referenced by a retained snapshot are protected —
        run ``expire_snapshots`` first to release them."""
        m = self.manifest(table)
        live = {v for versions in m["partitions"].values() for v in versions}
        for snap in m.get("snapshots", []):
            live |= {v for versions in snap["partitions"].values() for v in versions}
        removed = []
        root = self.path(table)
        if not os.path.isdir(root):
            return removed
        for d in sorted(os.listdir(root)):
            if d.startswith("v_") and d not in live:
                shutil.rmtree(os.path.join(root, d))
                removed.append(d)
            # legacy root-level partition dirs, once migrated off the
            # "." pseudo-version by compact(), are garbage too — but
            # ONLY when a manifest file exists (never infer-and-delete)
            elif (
                d.startswith(INDEX_KEY + "=")
                and "." not in live
                and os.path.exists(self._manifest_path(table))
            ):
                shutil.rmtree(os.path.join(root, d))
                removed.append(d)
        return removed


#: idempotence markers retained per stream (ADVICE r2: an unpruned
#: marker set grows one entry per micro-batch forever, and every commit
#: rewrites the whole manifest — O(n²) cumulative IO on a continuous
#: stream). Spark's foreachBatch re-delivers only the LATEST unfinished
#: epoch after a failure, so retaining the most recent 64 batch ids per
#: stream is far beyond what replay can ever ask for.
MARKERS_KEPT_PER_STREAM = 64


def _prune_markers(markers: set[str], keep: int = MARKERS_KEPT_PER_STREAM) -> list[str]:
    """Bound the manifest's marker set: group markers by stream prefix
    (everything before the trailing numeric batch id) and keep only the
    ``keep`` highest batch ids per stream; markers without a numeric
    suffix are kept verbatim (external/one-off tokens)."""
    by_stream: dict[str, list[tuple[int, str]]] = {}
    passthrough: list[str] = []
    for mk in markers:
        prefix, _, suffix = mk.rpartition("-")
        if prefix and suffix.isdigit():
            by_stream.setdefault(prefix, []).append((int(suffix), mk))
        else:
            passthrough.append(mk)
    kept = passthrough
    for entries in by_stream.values():
        entries.sort()
        kept.extend(mk for _, mk in entries[-keep:])
    return sorted(kept)


def _staged_rows(vdir: str) -> dict[str, int]:
    """Rows per RAW partition value in a version dir, summed from the
    parquet footers of the files just written (no Spark job)."""
    import pyarrow.parquet as pq

    rows = {}
    for d in os.listdir(vdir):
        if d.startswith(INDEX_KEY + "="):
            pdir = os.path.join(vdir, d)
            rows[_unescape_part(d.split("=", 1)[1])] = sum(
                pq.read_metadata(os.path.join(pdir, f)).num_rows
                for f in os.listdir(pdir)
                if f.endswith(".parquet")
            )
    return rows


def _staged_partitions(vdir: str) -> list[str]:
    """RAW partition values staged in a version dir (dir names are
    Hive-escaped; the manifest and all `_index` comparisons use raw
    values)."""
    return sorted(
        _unescape_part(d.split("=", 1)[1])
        for d in os.listdir(vdir)
        if d.startswith(INDEX_KEY + "=")
    )


def append_to_sink(
    df: DataFrame,
    catalog: SinkCatalog,
    table: str = "sink",
    sink_partitions: int = 0,
    writers_per_sink: int = 1,
    target_file_size_bytes: int = 0,
    marker: str | None = None,
) -> dict[str, int] | None:
    """S6/S7: the bulk append — ``partitionBy(_index)`` fans rows out
    to per-sink directories in one job (data-stream mode S7 is exactly
    this, append-only). The write stages an immutable version dir and
    commits via the manifest flip (crash-safe, see SinkCatalog).

    Writer layout matters at scale (measured on 20M rows / 30 sinks):
      * no repartition: every map task writes every sink dir →
        tasks×sinks tiny files and dir-handle churn (102 s, 522 files);
      * repartition on _index alone (default): one writer per sink —
        fastest when sinks ≈ cores and sink sizes are balanced
        (22.7 s, 30 files; one consolidated file per sink is also the
        Iceberg-friendliest layout);
      * repartition on (_index, bounded deterministic salt): set
        ``writers_per_sink`` > 1 when one sink dominates the batch —
        parallel writers per hot sink, file count bounded by
        sinks × writers_per_sink (measured 31.2 s on BALANCED sinks —
        pay it only under skew). Salt hashes stable columns so replays
        produce identical layouts.
      * AQE REBALANCE hint measured worst here (40.8 s) — advisory
        partition sizing splits sinks across tasks and loses dir
        locality.

    ``target_file_size_bytes`` (R7, the Iceberg
    ``write.target-file-size-bytes`` analog) bounds output file size
    via ``maxRecordsPerFile`` using a schema-width row estimate — the
    request-splitting knob re-expressed declaratively.

    ``marker`` makes the append idempotent: if the token was already
    committed the write is skipped entirely (returns None), else the
    token commits atomically with the data — the exactly-once pattern
    for foreachBatch re-deliveries. Returns ``{_index: rows}`` of the
    committed append, read from the staged files' parquet footers.
    """
    catalog.ensure(table)
    if marker is not None and catalog.has_marker(table, marker):
        return None
    out = df
    if sink_partitions > 0:
        if writers_per_sink > 1:
            stable = [c for c in ("conv_id", "_id", "turn_idx") if c in df.columns]
            salt = (
                F.pmod(F.xxhash64(*[F.col(c) for c in stable]), F.lit(writers_per_sink))
                if stable
                else F.spark_partition_id() % writers_per_sink
            )
            out = out.repartition(sink_partitions, F.col(INDEX_KEY), salt)
        else:
            out = out.repartition(sink_partitions, F.col(INDEX_KEY))
    writer = out.write.mode("overwrite").partitionBy(INDEX_KEY)
    if target_file_size_bytes > 0:
        writer = writer.option(
            "maxRecordsPerFile",
            max(1, target_file_size_bytes // _estimate_row_bytes(df)),
        )
    version, vdir = catalog.stage(table)
    writer.parquet(vdir)
    rows = _staged_rows(vdir)
    catalog.commit(table, version, sorted(rows), replace=False, marker=marker)
    return rows


def _estimate_row_bytes(df: DataFrame) -> int:
    """Cheap schema-width heuristic for the bytes→records translation
    of ``target_file_size_bytes`` (documented approximation: fixed
    widths for scalars, 64 B for strings/arrays/structs — good to the
    2-4× a file-size target needs, with zero data scans)."""
    from pyspark.sql import types as T

    fixed = {T.LongType: 8, T.IntegerType: 4, T.DoubleType: 8, T.FloatType: 4,
             T.BooleanType: 1, T.TimestampType: 8, T.TimestampNTZType: 8, T.DateType: 4}
    total = 0
    for f in df.schema.fields:
        total += fixed.get(type(f.dataType), 64)
    return max(total, 8)


def _apply_doc_update(
    existing: DataFrame,
    batch: DataFrame,
    update_exclude: tuple[str, ...],
    update_exclude_key: str | None = None,
    suppress_doc_wrap: bool = False,
) -> DataFrame:
    """P13: the ``{"doc": record}`` partial-update body
    (update_body, out_opensearch.rb:776-790): matched rows take the
    batch's values EXCEPT ``remove_keys_on_update`` columns, which keep
    their existing values (:792-799). At scale this is the column list
    of ``MERGE ... WHEN MATCHED THEN UPDATE SET``.

    ``update_exclude_key`` is the per-record variant
    (remove_keys_on_update_key, out_opensearch.rb:792-799): a record
    field holding a comma-separated list of keys to exclude for THAT
    row — a per-row CASE on each column instead of a static list.

    ``suppress_doc_wrap`` (out_opensearch.rb:171,776-780) skips the
    ``{"doc": ...}`` wrap: the keys-removed record IS the update body,
    replacing the stored doc wholesale — an excluded/absent key yields
    NULL instead of preserving the existing value (the wrap is exactly
    what gives absent-key-keeps-value merge semantics).
    """
    upd_cols = {c for c in batch.columns if c != ID_KEY and c not in update_exclude}
    if update_exclude_key:
        upd_cols.discard(update_exclude_key)
    e, b = existing.alias("e"), batch.alias("b")
    schema = {f.name: f.dataType for f in existing.schema.fields}

    def keep_existing(c: str):
        # wrapped update: absent key keeps stored value; unwrapped
        # (suppress_doc_wrap): absent key is simply absent → NULL
        if suppress_doc_wrap:
            return F.lit(None).cast(schema[c])
        return F.col(f"e.{c}")

    def value(c: str):
        if c not in upd_cols:
            return keep_existing(c)
        if update_exclude_key and update_exclude_key in batch.columns:
            dyn_excluded = F.array_contains(
                F.split(F.coalesce(F.col(f"b.{update_exclude_key}"), F.lit("")), r"\s*,\s*"),
                c,
            )
            return F.when(dyn_excluded, keep_existing(c)).otherwise(F.col(f"b.{c}"))
        return F.col(f"b.{c}")

    return e.join(b, F.col(f"e.{ID_KEY}") == F.col(f"b.{ID_KEY}"), "inner").select(
        F.col(f"e.{ID_KEY}").alias(ID_KEY),
        *[value(c).alias(c) for c in existing.columns if c != ID_KEY],
    )


def merge_write(
    spark: SparkSession,
    batch: DataFrame,
    catalog: SinkCatalog,
    cfg: PipelineConfig,
    table: str = "sink",
) -> dict[str, int]:
    """W1: write-operation dispatch (append_record_to_messages,
    out_opensearch.rb:751-774; README.md:812-823). Returns op stats.

    At scale each branch is a single Iceberg ``MERGE INTO`` keyed on
    ``_id`` (snapshot isolation handles W3 commit conflicts); here the
    equivalent join plans run against the catalog's current snapshot.
    ``create`` duplicates are counted, not errors (W2,
    opensearch_error_handler.rb:125-126).

    Scale + crash-safety design (replaces the r1 full-table rmtree
    swap):
      * only the ``_index`` partitions the batch TOUCHES are rewritten
        — batch partitions plus any partition holding a matched ``_id``
        (an id that moved index) — so a batch costs O(touched), not
        O(table);
      * the rewrite stages a new immutable version dir and commits via
        the atomic manifest flip; untouched partitions keep pointing at
        their existing version dirs. A crash at ANY step leaves the
        previous snapshot fully readable;
      * stats come from one persisted batch frame (a single scan), not
        repeated ``.count()`` re-executions of the join plans.
    """
    op = cfg.write_operation
    cached = [batch.persist()]
    try:
        n_batch = batch.count()
        if op != OP_INDEX:
            batch = batch.filter(F.col(ID_KEY).isNotNull())

        if not catalog.exists(table):
            if op == OP_UPDATE:
                return {"input": n_batch, "written": 0, "duplicates": 0}
            append_to_sink(batch, catalog, table, cfg.sink_partitions)
            written = batch.count() if op != OP_INDEX else n_batch
            return {"input": n_batch, "written": written, "duplicates": 0}

        existing = catalog.read(spark, table)
        batch_ids = batch.select(ID_KEY).distinct()
        batch_parts = {r[0] for r in batch.select(INDEX_KEY).distinct().collect()}
        # partitions where a matched _id currently lives (id moved
        # index → its old partition must drop the row). One semi-join
        # scan; its result is O(#sinks).
        hit_parts = {
            r[0]
            for r in existing.join(batch_ids, on=ID_KEY, how="left_semi")
            .select(INDEX_KEY)
            .distinct()
            .collect()
        }

        if op == OP_CREATE:
            touched = sorted(batch_parts)  # duplicates stay put untouched
        else:
            touched = sorted(batch_parts | hit_parts)
        existing_t = existing.filter(F.col(INDEX_KEY).isin(touched))

        if op == OP_INDEX:
            merged = existing_t.join(batch_ids, on=ID_KEY, how="left_anti").unionByName(batch)
            stats = {"input": n_batch, "written": n_batch, "duplicates": 0}
        elif op == OP_CREATE:
            fresh = batch.join(existing.select(ID_KEY).distinct(), on=ID_KEY, how="left_anti")
            cached.append(fresh.persist())
            n_fresh = fresh.count()
            merged = existing_t.unionByName(fresh)
            stats = {"input": n_batch, "written": n_fresh, "duplicates": n_batch - n_fresh}
        elif op == OP_UPDATE:
            matched = _apply_doc_update(
                existing_t, batch, cfg.remove_keys_on_update,
                cfg.remove_keys_on_update_key, cfg.suppress_doc_wrap,
            )
            cached.append(matched.persist())
            n_upd = matched.count()
            merged = existing_t.join(batch_ids, on=ID_KEY, how="left_anti").unionByName(matched)
            stats = {"input": n_batch, "written": n_upd, "duplicates": 0}
        elif op == OP_UPSERT:
            matched = _apply_doc_update(
                existing_t, batch, cfg.remove_keys_on_update,
                cfg.remove_keys_on_update_key, cfg.suppress_doc_wrap,
            )
            inserted = batch.join(existing.select(ID_KEY).distinct(), on=ID_KEY, how="left_anti")
            merged = (
                existing_t.join(batch_ids, on=ID_KEY, how="left_anti")
                .unionByName(matched)
                .unionByName(inserted.select(*matched.columns))
            )
            stats = {"input": n_batch, "written": n_batch, "duplicates": 0}
        else:  # pragma: no cover
            raise ValueError(op)

        # stage the touched partitions' new version, then the atomic flip
        version, vdir = catalog.stage(table)
        merged.write.mode("overwrite").partitionBy(INDEX_KEY).parquet(vdir)
        staged = set(_staged_partitions(vdir))
        # a touched partition that staged no rows lost every doc — it
        # is removed from the snapshot in the same atomic flip
        catalog.commit(
            table,
            version,
            sorted(staged),
            replace=True,
            removed=tuple(sorted(set(touched) - staged)),
        )
        catalog.vacuum(table)
        return stats
    finally:
        for df in cached:
            df.unpersist()


def delete_ids(
    spark: SparkSession,
    ids,
    catalog: SinkCatalog,
    table: str = "sink",
) -> dict[str, int]:
    """Bulk ``delete`` action — the one bulk-protocol op outside the
    reference's ``write_operation`` set (the OpenSearch bulk API's
    ``{"delete": {"_id": ...}}``; fluent-plugin-opensearch never emits
    it, so it is NOT reachable via ``cfg.write_operation`` — this is
    the explicit ops/right-to-be-forgotten path at the sink).

    Same scale + crash-safety discipline as ``merge_write``: one
    semi-join scan finds the partitions holding a matched ``_id``;
    ONLY those are rewritten (anti-join) into a staged version dir and
    committed via the atomic manifest flip — a batch costs O(touched
    partitions), untouched partitions keep their version dirs, and a
    partition losing its last row is removed in the same flip. ``ids``
    is a one-column DataFrame (``_id``) or a Python list of id values.

    Returns {"requested": #distinct ids, "deleted": #rows removed} —
    an id matching several rows (e.g. ``id_key=conv_id``) deletes them
    all; ids absent from the table are counted in neither error nor
    delete (bulk delete ``not_found`` semantics: idempotent, not an
    error).

    **Snapshot retention caveat (compliance deletes):** on a table
    with a retained snapshot log, PRE-delete snapshots still reference
    the pre-delete version dirs — the rows stay on disk and readable
    via ``read(version=...)`` until ``expire_snapshots`` releases them
    (vacuum deliberately protects snapshot-referenced dirs). When that
    happens the result carries ``snapshots_retaining_deleted`` so the
    caller cannot miss it; for physical removal run
    ``expire_snapshots`` after (the maintenance CLI does this in one
    invocation: ``--delete-ids ... --keep-snapshots 0``, since expiry
    runs after the delete stage).
    """
    if not isinstance(ids, DataFrame):
        ids = local_frame(spark, [(str(i),) for i in ids], f"{ID_KEY} string")
    ids = (
        ids.select(F.col(ids.columns[0]).cast("string").alias(ID_KEY))
        .filter(F.col(ID_KEY).isNotNull())
        .distinct()
        .persist()
    )
    try:
        n_req = ids.count()
        if not catalog.exists(table):
            return {"requested": n_req, "deleted": 0}
        existing = catalog.read(spark, table)
        touched = sorted(
            r[0]
            for r in existing.join(ids, on=ID_KEY, how="left_semi")
            .select(INDEX_KEY)
            .distinct()
            .collect()
        )
        if not touched:
            return {"requested": n_req, "deleted": 0}
        existing_t = existing.filter(F.col(INDEX_KEY).isin(touched))
        n_hit = existing_t.join(ids, on=ID_KEY, how="left_semi").count()
        merged = existing_t.join(ids, on=ID_KEY, how="left_anti")

        version, vdir = catalog.stage(table)
        merged.write.mode("overwrite").partitionBy(INDEX_KEY).parquet(vdir)
        staged = set(_staged_partitions(vdir))
        catalog.commit(
            table,
            version,
            sorted(staged),
            replace=True,
            removed=tuple(sorted(set(touched) - staged)),
        )
        catalog.vacuum(table)
        stats = {"requested": n_req, "deleted": n_hit}
        pre_delete = [
            s["version"]
            for s in catalog.manifest(table).get("snapshots", [])
            if s["version"] < version
        ]
        if pre_delete:
            stats["snapshots_retaining_deleted"] = len(pre_delete)
        return stats
    finally:
        ids.unpersist()


def write_metrics(
    catalog: SinkCatalog, run_id: str, metrics_rows: list[dict], table: str = "metrics"
) -> None:
    """Per-sink metrics + lineage emission (north_star: "lineage and
    metrics emitted per sink"). JSONL — tiny, driver-side."""
    p = catalog.ensure(table)
    with open(os.path.join(p, f"{run_id}.jsonl"), "a") as f:
        for row in metrics_rows:
            f.write(json.dumps({"run_id": run_id, "at": time.time(), **row}) + "\n")
