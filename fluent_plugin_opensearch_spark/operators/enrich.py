"""Broadcast-join lookup enrichment + skew handling (SURVEY.md §2.6 J3,
§4 item 1; north_star "broadcast-join lookup enrichment (role/tool
dictionaries mirroring record_transformer + template mappings)").

The dictionaries are small (4–10 rows, FIXTURES.md §2) → always
broadcast: the join is map-side, zero shuffle, and survives 100× input
scale unchanged. Misses stay as NULLs, never drops (left join). Every
table here is a JVM ``LocalRelation`` (``session.local_frame``): zero Python.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_frame

#: role_dict(role, role_class, priority) — FIXTURES.md §2
ROLE_DICT_ROWS = [
    ("user", "human", 1),
    ("assistant", "model", 2),
    ("system", "control", 3),
    ("tool", "machine", 4),
]

#: tool_dict(tool, tool_family, is_sandboxed) — FIXTURES.md §2
TOOL_DICT_ROWS = [
    ("search", "retrieval", True),
    ("browser", "retrieval", False),
    ("python", "code", True),
    ("bash", "code", True),
    ("none", "none", True),
]

#: the same dictionaries as SQL literals for DuckDB oracles
ROLE_DICT_SQL = (
    "(VALUES ('user','human',1),('assistant','model',2),"
    "('system','control',3),('tool','machine',4)) AS role_dict(role, role_class, priority)"
)
TOOL_DICT_SQL = (
    "(VALUES ('search','retrieval',true),('browser','retrieval',false),"
    "('python','code',true),('bash','code',true),('none','none',true)) "
    "AS tool_dict(tool, tool_family, is_sandboxed)"
)


def role_dict(spark: SparkSession) -> DataFrame:
    return local_frame(spark, ROLE_DICT_ROWS, "role string, role_class string, priority int")


def tool_dict(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark, TOOL_DICT_ROWS, "tool string, tool_family string, is_sandboxed boolean"
    )


def enrich(df: DataFrame, spark: SparkSession) -> DataFrame:
    """J3: left broadcast joins against both dictionaries. Misses
    survive as NULLs (FIXTURES.md §2 — e.g. tool='frobnicator')."""
    return df.join(F.broadcast(role_dict(spark)), on="role", how="left").join(
        F.broadcast(tool_dict(spark)), on="tool", how="left"
    )


#: tool_policy(tool, valid_from, policy, policy_rev) — versioned
#: dimension fixture for the as-of join (the record_transformer-style
#: enrichment where the dictionary itself changes over time; the
#: reference re-reads its template/dictionary config per chunk flush,
#: out_opensearch.rb:140-148 — in a batch engine the analog is joining
#: each row to the dictionary version in force at its event time).
#: The events window is 2024-01-01..2024-01-30, so the fixture covers
#: every as-of edge: mid-window transitions (browser, search), a key
#: whose first version post-dates early rows (python before Jan 05 →
#: NULL), and a key whose versions all post-date the window
#: (frobnicator → always NULL).
TOOL_POLICY_ROWS = [
    ("browser", _dt.datetime(2023, 12, 1), "allow", 1),
    ("browser", _dt.datetime(2024, 1, 10), "sandbox", 2),
    ("browser", _dt.datetime(2024, 1, 20), "block", 3),
    ("search", _dt.datetime(2023, 12, 1), "allow", 1),
    ("search", _dt.datetime(2024, 1, 15), "rate_limit", 2),
    ("python", _dt.datetime(2024, 1, 5), "sandbox", 1),
    ("frobnicator", _dt.datetime(2024, 6, 1), "block", 1),
]

#: the same versioned dimension as SQL literals (Spark SQL ∩ DuckDB:
#: TIMESTAMP '...' literals are naive in both, matching the parquet
#: timestamp_ntz event time).
TOOL_POLICY_SQL = (
    "(VALUES "
    "('browser', TIMESTAMP '2023-12-01 00:00:00', 'allow', 1),"
    "('browser', TIMESTAMP '2024-01-10 00:00:00', 'sandbox', 2),"
    "('browser', TIMESTAMP '2024-01-20 00:00:00', 'block', 3),"
    "('search', TIMESTAMP '2023-12-01 00:00:00', 'allow', 1),"
    "('search', TIMESTAMP '2024-01-15 00:00:00', 'rate_limit', 2),"
    "('python', TIMESTAMP '2024-01-05 00:00:00', 'sandbox', 1),"
    "('frobnicator', TIMESTAMP '2024-06-01 00:00:00', 'block', 1)"
    ") AS tool_policy(tool, valid_from, policy, policy_rev)"
)


def tool_policy(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark,
        TOOL_POLICY_ROWS,
        "tool string, valid_from timestamp_ntz, policy string, policy_rev int",
    )


def asof_enrich(
    df: DataFrame,
    versions: DataFrame,
    on: str,
    ts_col: str = "ts",
    valid_col: str = "valid_from",
) -> DataFrame:
    """As-of enrichment, broadcast path: join each fact row to the
    LATEST version of a slowly-changing dimension with
    ``valid_from <= ts`` (inclusive), per key. Misses (NULL key, no
    version yet, key absent) stay NULL — never dropped.

    Scale design: the dimension is packed to ONE row per key holding a
    valid_from-sorted array of version structs, broadcast, and probed
    with a pure-projection array filter + element_at — the fact table
    takes ZERO additional shuffle and the whole probe stays inside
    whole-stage codegen. Use this when versions-per-key is bounded
    (config/policy dims — thousands of versions per key is fine);
    for unbounded version tables use :func:`asof_join`.
    """
    payload = [c for c in versions.columns if c not in (on, valid_col)]
    # valid_col FIRST in the struct: sort_array orders array<struct>
    # lexicographically by field position.
    packed = versions.groupBy(on).agg(
        F.sort_array(F.collect_list(F.struct(valid_col, *payload))).alias("_vers")
    )
    joined = df.join(F.broadcast(packed), on=on, how="left")
    hits = F.filter(F.col("_vers"), lambda v: v[valid_col] <= F.col(ts_col))
    # ANSI mode: element_at on an empty array throws — guard with when.
    m = F.when(F.size(hits) > 0, F.element_at(hits, -1))
    return joined.select(
        *[F.col(c) for c in df.columns], *[m[c].alias(c) for c in payload]
    )


def asof_join(
    df: DataFrame,
    versions: DataFrame,
    on: str,
    ts_col: str = "ts",
    valid_col: str = "valid_from",
) -> DataFrame:
    """As-of join, general path (large version tables): tag and union
    the two frames, then one window per key ordered by event time with
    ``last(payload, ignorenulls)`` carries the most recent version
    forward onto each fact row. Inclusive at the boundary (a version
    row sorts BEFORE a fact row at the same timestamp via the tag).

    Scale design: exactly ONE shuffle (the window exchange on the key)
    regardless of version-table size — the standard Spark as-of shape.
    NULL-key facts can never match, so they bypass the union/window
    entirely: a NULL-heavy key column (transcripts.tool is mostly
    NULL) would otherwise funnel into a single window partition.
    """
    payload = [c for c in versions.columns if c not in (on, valid_col)]
    null_out = df.where(F.col(on).isNull()).select(
        "*", *[F.lit(None).cast(versions.schema[c].dataType).alias(c) for c in payload]
    )
    fact = df.where(F.col(on).isNotNull()).withColumn("_is_fact", F.lit(1))
    vrs = versions.select(
        F.col(on), F.col(valid_col).alias(ts_col), F.lit(0).alias("_is_fact"), *payload
    )
    u = fact.unionByName(vrs, allowMissingColumns=True)
    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts_col).asc_nulls_first(), F.col("_is_fact").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # carry the payload as ONE struct (non-null only on version rows):
    # every carried field comes from the SAME in-force version — a
    # per-column last(ignorenulls) would skip a legitimately-NULL
    # field in the current version and stitch values from different
    # policy revisions together
    ver_struct = F.when(
        F.col("_is_fact") == 0, F.struct(*[F.col(c) for c in payload])
    )
    carried = u.select(
        *[F.col(c) for c in df.columns],
        F.last(ver_struct, ignorenulls=True).over(w).alias("_v"),
        F.col("_is_fact"),
    )
    return (
        carried.where(F.col("_is_fact") == 1)
        .select(
            *[F.col(c) for c in df.columns],
            *[F.col("_v")[c].alias(c) for c in payload],
        )
        .unionByName(null_out)
    )


#: maintenance_windows(window_id, starts, ends, severity) — interval
#: fixture for the interval (range-containment) join. The events window
#: is 2024-01-01..2024-01-30, so the rows plant every edge: a window
#: straddling the data start, two OVERLAPPING windows (a turn inside
#: the overlap matches both), an intra-day window, a sub-hour window
#: (smaller than the bucketing grain), and a zero-match window far
#: outside the data.
MAINTENANCE_WINDOWS_ROWS = [
    ("mw1", _dt.datetime(2023, 12, 30), _dt.datetime(2024, 1, 3), "major"),
    ("mw2", _dt.datetime(2024, 1, 2, 12), _dt.datetime(2024, 1, 5), "minor"),
    ("mw3", _dt.datetime(2024, 1, 10, 6), _dt.datetime(2024, 1, 10, 18), "major"),
    ("mw4", _dt.datetime(2024, 1, 20, 0), _dt.datetime(2024, 1, 20, 0, 30), "minor"),
    ("mw5", _dt.datetime(2024, 6, 1), _dt.datetime(2024, 6, 2), "major"),
]

#: the same intervals as SQL literals (Spark SQL ∩ DuckDB).
MAINTENANCE_WINDOWS_SQL = (
    "(VALUES "
    "('mw1', TIMESTAMP '2023-12-30 00:00:00', TIMESTAMP '2024-01-03 00:00:00', 'major'),"
    "('mw2', TIMESTAMP '2024-01-02 12:00:00', TIMESTAMP '2024-01-05 00:00:00', 'minor'),"
    "('mw3', TIMESTAMP '2024-01-10 06:00:00', TIMESTAMP '2024-01-10 18:00:00', 'major'),"
    "('mw4', TIMESTAMP '2024-01-20 00:00:00', TIMESTAMP '2024-01-20 00:30:00', 'minor'),"
    "('mw5', TIMESTAMP '2024-06-01 00:00:00', TIMESTAMP '2024-06-02 00:00:00', 'major')"
    ") AS maintenance_windows(window_id, starts, ends, severity)"
)


def maintenance_windows(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark,
        MAINTENANCE_WINDOWS_ROWS,
        "window_id string, starts timestamp_ntz, ends timestamp_ntz, severity string",
    )


_GRAIN_STEP = {
    "minute": "interval 1 minute",
    "hour": "interval 1 hour",
    "day": "interval 1 day",
}


def interval_join(
    df: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    start_col: str = "starts",
    end_col: str = "ends",
    grain: str = "hour",
) -> DataFrame:
    """Interval (range-containment) join: each fact row matched to EVERY
    interval with ``starts <= ts < ends`` (half-open, the log-analytics
    convention — back-to-back windows never double-count a boundary
    row). Overlapping intervals each match (inner semantics; a fact in
    no interval drops; NULL timestamps never match).

    Scale design: a naive range join is a nested-loop/cartesian (the
    plan Spark picks for a raw ``ON a <= x AND x < b``). Instead each
    interval explodes into the ``grain`` buckets it covers and the join
    is an EQUI-join on the bucket — shuffle-partitionable, and the
    exploded build side stays broadcast-small for dimension-like
    interval tables (|intervals| × duration/grain rows). The exact
    half-open containment is a residual filter on the matched pairs.
    Pick the grain so buckets-per-interval stays bounded (hour-grain
    maintenance windows, day-grain incident ranges); a sub-grain
    interval still works — it lands in ≥1 bucket and the residual
    filter trims the edges.
    """
    step = _GRAIN_STEP[grain]
    b = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.date_trunc(grain, F.col(start_col)),
                F.date_trunc(grain, F.col(end_col)),
                F.expr(step),
            )
        ),
    )
    probe = df.withColumn("_bucket", F.date_trunc(grain, F.col(ts_col)))
    return (
        probe.join(b, on="_bucket", how="inner")
        .where((F.col(start_col) <= F.col(ts_col)) & (F.col(ts_col) < F.col(end_col)))
        .drop("_bucket")
    )


def salt(df: DataFrame, n_buckets: int, cols: tuple[str, ...] = ("conv_id", "turn_idx")) -> DataFrame:
    """Skew salting for hot conversations (SURVEY.md §4 item 1;
    north_rule "bucketed on conv_id with salting for hot
    conversations"). Adds ``_salt = pmod(xxhash64(cols), n)`` so a
    repartition/groupBy on (conv_id, _salt) splits a hot conv across n
    reducers. AQE skew-join stays enabled as the backstop."""
    return df.withColumn("_salt", F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_buckets)))


def repartition_salted(
    df: DataFrame, n_buckets: int, key: str = "conv_id", num_partitions: int | None = None
) -> DataFrame:
    """Repartition by (key, _salt): co-locates most of a conversation
    while bounding any one partition's share of a hot key. An explicit
    partition count keeps AQE from coalescing the salted shuffle back
    into few partitions (which would undo the salting)."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return salt(df, n_buckets).repartition(n, F.col(key), F.col("_salt"))
