"""Write-operation semantics (W1/W2) and fan-out sink behavior."""

from __future__ import annotations

from pyspark.sql import functions as F

from fluent_plugin_opensearch_spark import PipelineConfig, SinkCatalog, merge_write
from fluent_plugin_opensearch_spark.sinks.writer import append_to_sink

SCHEMA = "_id string, _index string, v int"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_create_is_insert_if_absent(spark, tmp_path):
    """create: duplicate _id dropped + counted, not an error (W2)."""
    cat = SinkCatalog(str(tmp_path))
    cfg = PipelineConfig(write_operation="create", id_key="_id")
    s1 = merge_write(spark, _df(spark, [("a", "i1", 1), ("b", "i1", 1)]), cat, cfg)
    assert s1 == {"input": 2, "written": 2, "duplicates": 0}
    s2 = merge_write(spark, _df(spark, [("a", "i1", 2), ("c", "i1", 2)]), cat, cfg)
    assert s2 == {"input": 2, "written": 1, "duplicates": 1}
    rows = {r["_id"]: r["v"] for r in cat.read(spark, "sink").collect()}
    assert rows == {"a": 1, "b": 1, "c": 2}  # 'a' kept original (not replaced)


def test_index_replaces(spark, tmp_path):
    cat = SinkCatalog(str(tmp_path))
    cfg = PipelineConfig(write_operation="index", id_key="_id")
    merge_write(spark, _df(spark, [("a", "i1", 1), ("b", "i1", 1)]), cat, cfg)
    merge_write(spark, _df(spark, [("a", "i1", 9)]), cat, cfg)
    rows = {r["_id"]: r["v"] for r in cat.read(spark, "sink").collect()}
    assert rows == {"a": 9, "b": 1}


def test_update_only_touches_existing(spark, tmp_path):
    cat = SinkCatalog(str(tmp_path))
    merge_write(spark, _df(spark, [("a", "i1", 1)]), cat, PipelineConfig(write_operation="index"))
    cfg = PipelineConfig(write_operation="update", id_key="_id")
    s = merge_write(spark, _df(spark, [("a", "i1", 5), ("zz", "i1", 5)]), cat, cfg)
    assert s["written"] == 1  # 'zz' did not exist → skipped
    rows = {r["_id"]: r["v"] for r in cat.read(spark, "sink").collect()}
    assert rows == {"a": 5}


def test_upsert_merges(spark, tmp_path):
    cat = SinkCatalog(str(tmp_path))
    merge_write(spark, _df(spark, [("a", "i1", 1)]), cat, PipelineConfig(write_operation="index"))
    cfg = PipelineConfig(write_operation="upsert", id_key="_id")
    merge_write(spark, _df(spark, [("a", "i1", 7), ("b", "i1", 7)]), cat, cfg)
    rows = {r["_id"]: r["v"] for r in cat.read(spark, "sink").collect()}
    assert rows == {"a": 7, "b": 7}


def test_missing_id_dropped_for_create(spark, tmp_path):
    """create/update/upsert drop records without _id
    (out_opensearch.rb:895-903)."""
    cat = SinkCatalog(str(tmp_path))
    cfg = PipelineConfig(write_operation="create", id_key="_id")
    s = merge_write(spark, _df(spark, [(None, "i1", 1), ("a", "i1", 1)]), cat, cfg)
    assert s["written"] == 1
    assert cat.read(spark, "sink").count() == 1


def test_partitioned_fanout_layout(spark, tmp_path):
    """R6: one write, per-_index directories (the per-sink grouping),
    committed as an immutable version dir in the manifest."""
    import os

    cat = SinkCatalog(str(tmp_path))
    df = _df(spark, [("a", "logs-2024.01.01", 1), ("b", "logs-2024.01.02", 1), ("c", "logs-2024.01.01", 1)])
    append_to_sink(df, cat, "sink")
    m = cat.manifest("sink")
    assert sorted(m["partitions"]) == ["logs-2024.01.01", "logs-2024.01.02"]
    vdir = os.path.join(cat.path("sink"), m["partitions"]["logs-2024.01.01"][0])
    dirs = sorted(d for d in os.listdir(vdir) if d.startswith("_index="))
    assert dirs == ["_index=logs-2024.01.01", "_index=logs-2024.01.02"]
    back = cat.read(spark, "sink")
    assert back.filter(F.col("_index") == "logs-2024.01.01").count() == 2


def test_merge_rewrites_only_touched_partitions(spark, tmp_path):
    """Scale contract: a merge batch touching one _index partition
    must not rewrite the others — their data files stay byte-identical
    in their original version dir."""
    import os

    cat = SinkCatalog(str(tmp_path))
    cfg = PipelineConfig(write_operation="upsert", id_key="_id")
    seed = _df(spark, [("a", "i1", 1), ("b", "i2", 1), ("c", "i3", 1)])
    merge_write(spark, seed, cat, cfg)
    m0 = cat.manifest("sink")

    def files_of(part):
        out = {}
        for v in cat.manifest("sink")["partitions"][part]:
            d = os.path.join(cat.path("sink"), v, f"_index={part}")
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    fp = os.path.join(d, f)
                    out[fp] = os.stat(fp).st_mtime_ns
        return out

    before_i2, before_i3 = files_of("i2"), files_of("i3")
    merge_write(spark, _df(spark, [("a", "i1", 9), ("d", "i1", 9)]), cat, cfg)
    m1 = cat.manifest("sink")
    # untouched partitions still point at the ORIGINAL version dirs,
    # files untouched; the touched partition moved to a new version
    assert m1["partitions"]["i2"] == m0["partitions"]["i2"]
    assert m1["partitions"]["i3"] == m0["partitions"]["i3"]
    assert m1["partitions"]["i1"] != m0["partitions"]["i1"]
    assert files_of("i2") == before_i2 and files_of("i3") == before_i3
    rows = {r["_id"]: r["v"] for r in cat.read(spark, "sink").collect()}
    assert rows == {"a": 9, "b": 1, "c": 1, "d": 9}


def test_merge_crash_before_flip_preserves_snapshot(spark, tmp_path, monkeypatch):
    """Crash-safety contract: a failure at ANY point before the atomic
    manifest flip leaves the previous snapshot fully readable; a retry
    then succeeds (the orphan staging dir is garbage, not state)."""
    import pytest

    cat = SinkCatalog(str(tmp_path))
    cfg = PipelineConfig(write_operation="index", id_key="_id")
    merge_write(spark, _df(spark, [("a", "i1", 1), ("b", "i2", 2)]), cat, cfg)

    real_commit = SinkCatalog.commit

    def dying_commit(self, table, version, touched, replace, **kw):
        if replace:
            raise RuntimeError("simulated crash before manifest flip")
        return real_commit(self, table, version, touched, replace, **kw)

    monkeypatch.setattr(SinkCatalog, "commit", dying_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_write(spark, _df(spark, [("a", "i1", 9)]), cat, cfg)
    monkeypatch.setattr(SinkCatalog, "commit", real_commit)

    # old snapshot intact — the staged-but-uncommitted version is invisible
    rows = {r["_id"]: r["v"] for r in cat.read(spark, "sink").collect()}
    assert rows == {"a": 1, "b": 2}
    # retry completes and vacuums the orphan
    merge_write(spark, _df(spark, [("a", "i1", 9)]), cat, cfg)
    rows = {r["_id"]: r["v"] for r in cat.read(spark, "sink").collect()}
    assert rows == {"a": 9, "b": 2}


def test_merge_moves_id_across_partitions(spark, tmp_path):
    """An _id whose batch row routes to a new _index must vanish from
    its old partition (the old partition is in the touched set even
    though the batch never names it)."""
    cat = SinkCatalog(str(tmp_path))
    cfg = PipelineConfig(write_operation="index", id_key="_id")
    merge_write(spark, _df(spark, [("a", "i-old", 1), ("b", "i-keep", 1)]), cat, cfg)
    merge_write(spark, _df(spark, [("a", "i-new", 2)]), cat, cfg)
    rows = {(r["_id"], r["_index"]): r["v"] for r in cat.read(spark, "sink").collect()}
    assert rows == {("a", "i-new"): 2, ("b", "i-keep"): 1}
    # the emptied partition is gone from the manifest
    assert "i-old" not in cat.manifest("sink")["partitions"]


def test_compact_collapses_append_versions(spark, tmp_path):
    """Maintenance: repeated appends accumulate version dirs per
    partition; compact() rewrites fragmented partitions into one
    version (atomic commit + vacuum) without changing the data."""
    cat = SinkCatalog(str(tmp_path))
    for k in range(3):
        append_to_sink(_df(spark, [(f"a{k}", "i1", k), (f"b{k}", "i2", k)]), cat, "sink")
    before = {(r["_id"], r["_index"], r["v"]) for r in cat.read(spark, "sink").collect()}
    m = cat.manifest("sink")
    assert len(m["partitions"]["i1"]) == 3
    n = cat.compact(spark, "sink")
    assert n == 2
    m2 = cat.manifest("sink")
    assert len(m2["partitions"]["i1"]) == 1 and len(m2["partitions"]["i2"]) == 1
    after = {(r["_id"], r["_index"], r["v"]) for r in cat.read(spark, "sink").collect()}
    assert after == before
    # idempotent: nothing left to compact; orphans vacuumed
    assert cat.compact(spark, "sink") == 0
    import os

    live = {v for vs in m2["partitions"].values() for v in vs}
    on_disk = {d for d in os.listdir(cat.path("sink")) if d.startswith("v_")}
    assert on_disk == live


def test_target_file_size_bounds_files(spark, tmp_path):
    """R7 knob wiring: a tiny target_file_size_bytes forces multiple
    files per partition via maxRecordsPerFile."""
    import os

    cat = SinkCatalog(str(tmp_path))
    df = spark.range(1000).selectExpr("cast(id AS string) AS _id", "'i1' AS _index", "cast(id AS int) AS v")
    append_to_sink(df, cat, "sink", sink_partitions=1, target_file_size_bytes=400)
    m = cat.manifest("sink")
    d = os.path.join(cat.path("sink"), m["partitions"]["i1"][0], "_index=i1")
    n_files = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    assert n_files > 1
    assert cat.read(spark, "sink").count() == 1000


def test_append_marker_is_exactly_once(spark, tmp_path):
    """foreachBatch exactly-once: an append committed under an
    idempotence marker is skipped on re-delivery (marker commits in
    the same atomic manifest flip as the data)."""
    cat = SinkCatalog(str(tmp_path))
    df = _df(spark, [("a", "i1", 1)])
    assert append_to_sink(df, cat, "sink", marker="b0") == {"i1": 1}
    assert append_to_sink(df, cat, "sink", marker="b0") is None  # re-delivery
    assert cat.read(spark, "sink").count() == 1
    assert append_to_sink(df, cat, "sink", marker="b1") == {"i1": 1}
    assert cat.read(spark, "sink").count() == 2


def test_escapable_index_names_round_trip(spark, tmp_path):
    """Partition values containing Hive-escaped chars (':' → %3A in
    dir names) must survive merge/read/compact — the manifest stores
    RAW values, dir names escape at the boundary."""
    cat = SinkCatalog(str(tmp_path))
    cfg = PipelineConfig(write_operation="upsert", id_key="_id")
    merge_write(spark, _df(spark, [("a", "logs-app:v1", 1), ("b", "plain", 1)]), cat, cfg)
    assert sorted(cat.manifest("sink")["partitions"]) == ["logs-app:v1", "plain"]
    rows = {(r["_id"], r["_index"]) for r in cat.read(spark, "sink").select("_id", "_index").collect()}
    assert rows == {("a", "logs-app:v1"), ("b", "plain")}
    merge_write(spark, _df(spark, [("a", "logs-app:v1", 9)]), cat, cfg)
    vals = {r["_id"]: r["v"] for r in cat.read(spark, "sink").collect()}
    assert vals == {"a": 9, "b": 1}
    assert cat.compact(spark, "sink") == 0  # already single-version
    assert {r["_id"]: r["v"] for r in cat.read(spark, "sink").collect()} == {"a": 9, "b": 1}


def test_legacy_flat_layout_visible_and_migratable(spark, tmp_path):
    """A pre-manifest (r1 layout) table — partition dirs at the table
    root — stays fully visible, accepts appends, and compact()
    migrates it into version dirs with GC of the root dirs."""
    import os

    root = str(tmp_path / "sink")
    _df(spark, [("a", "i1", 1), ("b", "i2", 2)]).write.partitionBy("_index").parquet(root)
    cat = SinkCatalog(str(tmp_path))
    assert cat.exists("sink")
    assert cat.read(spark, "sink").count() == 2
    append_to_sink(_df(spark, [("c", "i1", 3)]), cat, "sink")
    assert cat.read(spark, "sink").count() == 3
    assert cat.compact(spark, "sink") == 2  # both legacy partitions migrated
    assert not any(d.startswith("_index=") for d in os.listdir(cat.path("sink")))
    assert {r["_id"]: r["v"] for r in cat.read(spark, "sink").collect()} == {"a": 1, "b": 2, "c": 3}


def test_catalog_model_random_op_sequence(spark, tmp_path):
    """Model-based check of the versioned catalog: a seeded random
    sequence of index/create/update/upsert merges (with cross-partition
    id moves) must leave the snapshot equal to a plain dict model of
    the reference write-op semantics."""
    import random

    rng = random.Random(20260816)
    cat = SinkCatalog(str(tmp_path))
    model: dict[str, tuple[str, int]] = {}  # _id -> (_index, v)

    for step in range(12):
        op = rng.choice(["index", "create", "update", "upsert"])
        rows = [
            (f"id{rng.randrange(8)}", f"i{rng.randrange(3)}", step * 100 + k)
            for k in range(rng.randrange(1, 4))
        ]
        # batch-internal dedup is not part of the contract; keep ids unique
        seen, uniq = set(), []
        for r in rows:
            if r[0] not in seen:
                uniq.append(r)
                seen.add(r[0])
        cfg = PipelineConfig(write_operation=op, id_key="_id")
        merge_write(spark, _df(spark, uniq), cat, cfg)
        for _id, idx, v in uniq:
            if op == "index":
                model[_id] = (idx, v)
            elif op == "create":
                model.setdefault(_id, (idx, v))
            elif op == "update":
                if _id in model:
                    model[_id] = (idx, v)
            elif op == "upsert":
                model[_id] = (idx, v)
        if step % 5 == 4:
            cat.compact(spark, "sink")

    got = {r["_id"]: (r["_index"], r["v"]) for r in cat.read(spark, "sink").collect()}
    assert got == model


def test_update_exclusions_random_model(spark, tmp_path):
    """Randomized model check of the update-body exclusions (P13):
    static remove_keys_on_update + per-record remove_keys_on_update_key
    against a plain Python model across 8 random update batches."""
    import random

    rng = random.Random(99)
    cat = SinkCatalog(str(tmp_path))
    base_cfg = PipelineConfig(write_operation="index", id_key="_id")
    seed_rows = [(f"id{i}", "i1", i, i * 10, None) for i in range(10)]
    schema = "_id string, _index string, a int, b int, excl string"
    spark.createDataFrame(seed_rows, schema)  # schema smoke
    merge_write(spark, spark.createDataFrame(seed_rows, schema), cat, base_cfg)
    model = {r[0]: {"a": r[2], "b": r[3]} for r in seed_rows}

    cfg = PipelineConfig(
        write_operation="update",
        id_key="_id",
        remove_keys_on_update=("b",),
        remove_keys_on_update_key="excl",
    )
    for step in range(8):
        batch = []
        for _ in range(rng.randrange(1, 5)):
            _id = f"id{rng.randrange(12)}"  # some misses
            excl = rng.choice([None, "a", "a, b", "zz"])
            batch.append((_id, "i1", step * 100 + rng.randrange(100), step, excl))
        seen, uniq = set(), []
        for r in batch:
            if r[0] not in seen:
                uniq.append(r)
                seen.add(r[0])
        merge_write(spark, spark.createDataFrame(uniq, schema), cat, cfg)
        for _id, _idx, a, b, excl in uniq:
            if _id not in model:
                continue  # update only touches existing
            dyn = {k.strip() for k in (excl or "").split(",")}
            if "a" not in dyn:
                model[_id]["a"] = a
            # 'b' is statically excluded: never updated
    got = {r["_id"]: {"a": r["a"], "b": r["b"]} for r in cat.read(spark, "sink").collect()}
    assert got == model


def test_marker_set_is_pruned_per_stream():
    """ADVICE r2: the manifest's marker set must stay bounded on a
    continuous stream — only the most recent MARKERS_KEPT_PER_STREAM
    batch ids per stream prefix survive; non-numeric tokens pass
    through untouched."""
    from fluent_plugin_opensearch_spark.sinks.writer import (
        MARKERS_KEPT_PER_STREAM,
        _prune_markers,
    )

    markers = {f"stream-aaaa-{i}" for i in range(200)}
    markers |= {f"stream-bbbb-{i}" for i in range(10)}
    markers |= {"oneoff-token"}
    kept = _prune_markers(markers)
    a = [m for m in kept if m.startswith("stream-aaaa-")]
    assert len(a) == MARKERS_KEPT_PER_STREAM
    # numerically newest survive (not lexicographic: 199 > 99)
    assert "stream-aaaa-199" in a and "stream-aaaa-99" not in a
    assert len([m for m in kept if m.startswith("stream-bbbb-")]) == 10
    assert "oneoff-token" in kept


def test_snapshot_time_travel_rollback_and_expiry(spark, tmp_path):
    """Iceberg-shaped snapshot history (snapshots_kept > 1): reads can
    time-travel to retained snapshots, rollback re-points the table in
    one atomic flip as a NEW version, vacuum protects every dir a
    retained snapshot references, and expire_snapshots releases them."""
    import os

    import pytest

    cat = SinkCatalog(str(tmp_path), snapshots_kept=8)
    cfg = PipelineConfig(write_operation="index", id_key="_id")
    merge_write(spark, _df(spark, [("a", "i1", 1)]), cat, cfg)
    v1 = cat.manifest("sink")["current_version"]
    merge_write(spark, _df(spark, [("a", "i1", 2), ("b", "i2", 1)]), cat, cfg)
    v2 = cat.manifest("sink")["current_version"]
    assert cat.snapshots("sink") == [v1, v2]

    # time travel: the pre-merge state is still readable (merge_write
    # already vacuumed — snapshot-referenced dirs must have survived)
    old = {r["_id"]: r["v"] for r in cat.read(spark, "sink", version=v1).collect()}
    assert old == {"a": 1}
    cur = {r["_id"]: r["v"] for r in cat.read(spark, "sink").collect()}
    assert cur == {"a": 2, "b": 1}

    # rollback commits the old state as a NEW version (append-only log)
    v3 = cat.rollback("sink", v1)
    assert v3 == v2 + 1
    assert {r["_id"]: r["v"] for r in cat.read(spark, "sink").collect()} == {"a": 1}
    # the rolled-over state stays time-travelable until expiry
    assert {r["_id"] for r in cat.read(spark, "sink", version=v2).collect()} == {"a", "b"}

    # expiry releases v2's dirs; vacuum then GCs them
    expired = cat.expire_snapshots("sink", keep=1)
    assert v2 in expired
    removed = cat.vacuum("sink")
    assert removed  # v2's version dir was only reachable via the log
    with pytest.raises(ValueError, match="no retained snapshot"):
        cat.read(spark, "sink", version=v2)
    # current state intact after GC
    assert {r["_id"]: r["v"] for r in cat.read(spark, "sink").collect()} == {"a": 1}
    on_disk = {d for d in os.listdir(cat.path("sink")) if d.startswith("v_")}
    live = {v for vs in cat.manifest("sink")["partitions"].values() for v in vs}
    assert on_disk == live


def test_default_catalog_keeps_no_history(spark, tmp_path):
    """snapshots_kept=1 (default) must behave exactly like the
    history-free catalog: no snapshot log in the manifest, old
    versions unreadable, vacuum unaffected."""
    import pytest

    cat = SinkCatalog(str(tmp_path))
    cfg = PipelineConfig(write_operation="index", id_key="_id")
    merge_write(spark, _df(spark, [("a", "i1", 1)]), cat, cfg)
    v1 = cat.manifest("sink")["current_version"]
    merge_write(spark, _df(spark, [("a", "i1", 2)]), cat, cfg)
    assert "snapshots" not in cat.manifest("sink")
    assert cat.snapshots("sink") == [cat.manifest("sink")["current_version"]]
    with pytest.raises(ValueError, match="no retained snapshot"):
        cat.read(spark, "sink", version=v1)


def test_default_catalog_preserves_existing_history(spark, tmp_path):
    """A commit through a default-retention catalog (e.g. a
    maintenance job constructed without snapshots_kept) must leave a
    table's existing snapshot log — and the version dirs it protects —
    fully intact; only expire_snapshots drops history."""
    hist = SinkCatalog(str(tmp_path), snapshots_kept=8)
    cfg = PipelineConfig(write_operation="index", id_key="_id")
    merge_write(spark, _df(spark, [("a", "i1", 1)]), hist, cfg)
    v1 = hist.manifest("sink")["current_version"]
    merge_write(spark, _df(spark, [("a", "i1", 2)]), hist, cfg)

    plain = SinkCatalog(str(tmp_path))  # default retention
    merge_write(spark, _df(spark, [("a", "i1", 3)]), plain, cfg)  # merge + vacuum
    # history survived the default-catalog commit and its vacuum
    assert v1 in plain.snapshots("sink")
    old = {r["_id"]: r["v"] for r in plain.read(spark, "sink", version=v1).collect()}
    assert old == {"a": 1}
    assert {r["_id"]: r["v"] for r in plain.read(spark, "sink").collect()} == {"a": 3}


def test_rollback_force_records_outgoing_state(spark, tmp_path):
    """rollback on a default-retention catalog (r5, ADVICE r4): the
    pre-rollback current state was never snapshotted (snapshots_kept=1
    no-ops _record_snapshot), so rollback force-records it — the
    abandoned version stays time-travelable until expire_snapshots,
    as the docstring promises."""
    hist = SinkCatalog(str(tmp_path), snapshots_kept=8)
    cfg = PipelineConfig(write_operation="index", id_key="_id")
    merge_write(spark, _df(spark, [("a", "i1", 1)]), hist, cfg)
    v1 = hist.manifest("sink")["current_version"]
    merge_write(spark, _df(spark, [("a", "i1", 2), ("b", "i2", 1)]), hist, cfg)
    v2 = hist.manifest("sink")["current_version"]

    plain = SinkCatalog(str(tmp_path))  # e.g. an ops script w/ defaults
    # a commit through the default catalog: the new current state is
    # NOT recorded in the snapshot log
    merge_write(spark, _df(spark, [("a", "i1", 3)]), plain, cfg)
    v3 = plain.manifest("sink")["current_version"]
    assert v3 not in {s["version"] for s in plain.manifest("sink").get("snapshots", [])}
    assert v2 != v3

    plain.rollback("sink", v1)
    plain.vacuum("sink")
    # the abandoned current (v3) state survived rollback + vacuum
    got = {r["_id"]: r["v"] for r in plain.read(spark, "sink", version=v3).collect()}
    assert got == {"a": 3, "b": 1}
    # and the live table is the rolled-back state
    assert {r["_id"]: r["v"] for r in plain.read(spark, "sink").collect()} == {"a": 1}


def test_maintain_sinks_job(spark, tmp_path, capsys):
    """Maintenance CLI: compacts fragmented partitions, expires the
    snapshot log to the retention target, vacuums the released dirs —
    and --dry-run touches nothing."""
    import json
    import os

    from fluent_plugin_opensearch_spark.sinks.writer import append_to_sink
    from jobs.maintain_sinks import main as maintain_main

    cat = SinkCatalog(str(tmp_path), snapshots_kept=8)
    for k in range(3):
        append_to_sink(_df(spark, [(f"a{k}", "i1", k)]), cat, "sink")
    assert len(cat.manifest("sink")["partitions"]["i1"]) == 3

    import pytest

    maintain_main(["--warehouse", str(tmp_path), "--dry-run"])
    dry = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert dry["tables"]["sink"]["fragmented_partitions"] == 1
    assert dry["tables"]["sink"]["would_expire"] == 0  # r5: retention opt-in
    assert len(cat.manifest("sink")["partitions"]["i1"]) == 3  # untouched

    with pytest.raises(SystemExit):  # unknown table fails loudly
        maintain_main(["--warehouse", str(tmp_path), "--tables", "sinkk"])
    capsys.readouterr()

    # a DEFAULT maintenance run compacts but preserves the full
    # snapshot log (r5, ADVICE r4: history-dropping must be opt-in)
    pre_snapshots = len(cat.manifest("sink").get("snapshots", []))
    maintain_main(["--warehouse", str(tmp_path)])
    rep0 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "expired_snapshots" not in rep0["tables"]["sink"]
    assert rep0["tables"]["sink"]["compacted_partitions"] == 1
    assert rep0["tables"]["sink"]["snapshots_retained"] == pre_snapshots
    # the log's version dirs survived the default run's vacuum
    assert cat.read(spark, "sink", version=cat.snapshots("sink")[0]).count() == 1

    # dropping history is explicit
    maintain_main(["--warehouse", str(tmp_path), "--keep-snapshots", "0"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(rep["tables"]["sink"]["expired_snapshots"]) == pre_snapshots
    assert rep["tables"]["sink"]["snapshots_retained"] == 0  # post-state
    m = cat.manifest("sink")
    assert len(m["partitions"]["i1"]) == 1
    assert m.get("snapshots", []) == []
    rows = {r["_id"]: r["v"] for r in cat.read(spark, "sink").collect()}
    assert rows == {"a0": 0, "a1": 1, "a2": 2}  # data intact
    live = {v for vs in m["partitions"].values() for v in vs}
    on_disk = {d for d in os.listdir(cat.path("sink")) if d.startswith("v_")}
    assert on_disk == live  # vacuum collapsed history


def test_delete_ids_partition_scoped(spark, tmp_path):
    """Bulk delete action: matched ids removed, absent ids are
    not_found-idempotent, only hit partitions rewritten, a partition
    losing its last row leaves the snapshot in the same flip."""
    import os

    from fluent_plugin_opensearch_spark.sinks.writer import delete_ids

    cat = SinkCatalog(str(tmp_path))
    cfg = PipelineConfig(write_operation="index", id_key="_id")
    merge_write(
        spark,
        _df(
            spark,
            [("a", "i1", 1), ("b", "i1", 2), ("c", "i2", 3), ("d", "i3", 4)],
        ),
        cat,
        cfg,
    )
    before = cat.manifest("sink")
    untouched_dir = next(
        os.path.join(r, d)
        for r, ds, _ in os.walk(str(tmp_path))
        for d in ds
        if d == "_index=i3"
    )
    mtime = os.path.getmtime(untouched_dir)

    # list-of-ids form; 'zz' is absent (not_found → neither error nor count)
    s = delete_ids(spark, ["a", "c", "zz"], cat, "sink")
    assert s == {"requested": 3, "deleted": 2}
    rows = {r["_id"]: (r["_index"], r["v"]) for r in cat.read(spark, "sink").collect()}
    assert rows == {"b": ("i1", 2), "d": ("i3", 4)}
    # i2 lost its only row → partition gone from the manifest; i3 was
    # never touched → same version dir, untouched on disk
    after = cat.manifest("sink")
    assert "i2" not in after["partitions"] and "i3" in after["partitions"]
    assert after["partitions"]["i3"] == before["partitions"]["i3"]
    assert os.path.getmtime(untouched_dir) == mtime

    # DataFrame form + full idempotence: re-deleting the same set is a no-op
    s2 = delete_ids(spark, spark.createDataFrame([("a",), ("c",)], "_id string"), cat, "sink")
    assert s2 == {"requested": 2, "deleted": 0}
    # empty table / missing table path
    s3 = delete_ids(spark, ["x"], SinkCatalog(str(tmp_path / "w2")), "sink")
    assert s3 == {"requested": 1, "deleted": 0}


def test_maintain_delete_ids_cli(spark, tmp_path, capsys):
    """--delete-ids: requires an explicit --tables list, accepts the
    @file form, reports bulk-delete counts per table."""
    import json

    import pytest

    from jobs.maintain_sinks import main as maintain_main

    cat = SinkCatalog(str(tmp_path))
    cfg = PipelineConfig(write_operation="index", id_key="_id")
    merge_write(spark, _df(spark, [("a", "i1", 1), ("b", "i2", 2)]), cat, cfg)

    with pytest.raises(SystemExit):  # blanket delete must be spelled out
        maintain_main(["--warehouse", str(tmp_path), "--delete-ids", "a"])
    capsys.readouterr()

    ids_file = tmp_path / "ids.txt"
    ids_file.write_text("a\nzz\n")
    maintain_main(
        ["--warehouse", str(tmp_path), "--tables", "sink",
         "--delete-ids", f"@{ids_file}"]
    )
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["tables"]["sink"]["delete"] == {"requested": 2, "deleted": 1}
    assert {r["_id"] for r in cat.read(spark, "sink").collect()} == {"b"}

    # dry-run only reports
    maintain_main(
        ["--warehouse", str(tmp_path), "--tables", "sink",
         "--delete-ids", "b", "--dry-run"]
    )
    dry = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert dry["tables"]["sink"]["would_delete_ids"] == 1
    assert {r["_id"] for r in cat.read(spark, "sink").collect()} == {"b"}


def test_delete_ids_snapshot_retention_flagged(spark, tmp_path):
    """Compliance contract: on a history-keeping table, delete_ids
    reports the pre-delete snapshots that still retain the rows; the
    row stays time-travelable until expiry, and expire+vacuum makes
    the removal physical."""
    import os

    from fluent_plugin_opensearch_spark.sinks.writer import delete_ids

    cat = SinkCatalog(str(tmp_path), snapshots_kept=4)
    cfg = PipelineConfig(write_operation="index", id_key="_id")
    merge_write(spark, _df(spark, [("a", "i1", 1)]), cat, cfg)
    merge_write(spark, _df(spark, [("b", "i1", 2)]), cat, cfg)
    pre_versions = cat.snapshots("sink")
    assert pre_versions  # history exists

    s = delete_ids(spark, ["a"], cat, "sink")
    assert s["requested"] == 1 and s["deleted"] == 1
    assert s["snapshots_retaining_deleted"] == len(pre_versions)
    # current read is clean, but the pre-delete snapshot still serves 'a'
    assert {r["_id"] for r in cat.read(spark, "sink").collect()} == {"b"}
    old = pre_versions[-1]
    assert {r["_id"] for r in cat.read(spark, "sink", version=old).collect()} == {"a", "b"}

    # physical purge: expire history, vacuum the released dirs
    cat.expire_snapshots("sink", keep=0)
    cat.vacuum("sink")
    # only the (post-delete) current version remains time-travelable
    assert cat.snapshots("sink") == [cat.manifest("sink")["current_version"]]
    live = {v for vs in cat.manifest("sink")["partitions"].values() for v in vs}
    on_disk = {d for d in os.listdir(cat.path("sink")) if d.startswith("v_")}
    assert on_disk == live  # pre-delete version dirs are gone
    assert {r["_id"] for r in cat.read(spark, "sink").collect()} == {"b"}

    # a history-free table keeps the compact two-field result
    cat2 = SinkCatalog(str(tmp_path / "nohist"))
    merge_write(spark, _df(spark, [("x", "i1", 1)]), cat2, cfg)
    assert delete_ids(spark, ["x"], cat2, "sink") == {"requested": 1, "deleted": 1}
