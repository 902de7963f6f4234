"""Approximate monitoring primitives (SURVEY.md §2.5): mergeable
count-min and HyperLogLog sketches and the per-sink profile. The
batch commit's own counters (rows per sink, DLQ rows per reason) are
taken from its writes in ``plans.pipeline.commit_batch``."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def count_min_sketch_col(
    col: str, eps: float = 0.001, confidence: float = 0.99, seed: int = 42
):
    """The ``count_min_sketch`` aggregate column (binary, map-side
    partial, MERGEABLE across batches/partitions) — ship it to a
    monitoring store and merge across micro-batches; size is
    O(depth×width) regardless of input cardinality."""
    return F.count_min_sketch(F.col(col), F.lit(eps), F.lit(confidence), F.lit(seed))


def heavy_hitter_sketch(
    df: DataFrame,
    col: str = "conv_id",
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
):
    """Count-min sketch over a key column — the monitoring primitive
    for "which conversations/sinks are hot RIGHT NOW" without a
    groupBy shuffle: one pass, map-side combine, a few MB at any
    cardinality. Returns the deserialized JVM sketch
    (``.estimateCount(value)``, ``.mergeInPlace(other)``)."""
    row = df.agg(count_min_sketch_col(col, eps, confidence, seed).alias("sk")).head()
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bytes(row["sk"]))


def approx_sink_profile(df: DataFrame, rsd: float = 0.02) -> DataFrame:
    """Cheap per-batch sink profile for dashboards: approximate
    distinct conversations and an approximate p95 turn gap per sink,
    one map-side-combined aggregation (HLL + quantile sketch — both
    mergeable, both O(sketch) per partition, no exact-distinct
    shuffle explosion)."""
    return df.groupBy("_index").agg(
        F.count(F.lit(1)).alias("rows"),
        F.approx_count_distinct("conv_id", rsd).alias("approx_convs"),
        F.percentile_approx("turn_idx", 0.95, 10_000).alias("approx_p95_turn"),
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog (Flajolet et al. 2007) — the approx-distinct
# sketch re-built from first principles so the WHOLE chain (hash →
# register table → estimate) is engine-replayable. Spark's builtin
# `approx_count_distinct` is a JVM-opaque HLL++ whose answer no other
# engine can reproduce; this one is deterministic bit-for-bit given
# the hasher, so the md5 variant gets a full-chain DuckDB oracle (the
# md5-twin pattern of minhash/simhash/sign-LSH), and the register
# table is explicit mergeable state: max-combine registers across
# batches/partitions/streams and re-finalize — the monitoring-store
# contract `heavy_hitter_sketch` has for counts, now for cardinality.
#
# Scale shape (100 TB): one map-side-combinable groupBy onto at most
# m=2^p registers per group — the shuffle carries O(#groups × m) rows
# no matter the input cardinality, and NOTHING downstream of the
# register table depends on data size. No Python, no floats until the
# final (group-count-sized) estimate projection.

HLL_P = 12  # m = 4096 registers → ~1.6% relative std error
_HLL_M = 1 << HLL_P
# md5 hasher yields 60 usable bits → 48 payload bits after the
# 12-bit register index; rho ∈ [1, 49] (payload == 0 → 49).
_HLL_W = 48
# 2^-rho sums are kept EXACT as BIGINT in units of 2^-50: a register
# contributes 1<<(50-rho) ∈ [2, 2^49]; worst-case group sum is
# m·2^50 = 2^62 < 2^63. Absent registers (rho = 0) contribute 2^50.
_HLL_SCALE_BITS = 50
# alpha_m·m²·2^50 precomputed in Python so BOTH engines divide the
# same double literal by the same exact integer — one IEEE division,
# no cross-libm surface in the hot branch (ln only in the small-range
# linear-counting branch, micro-robust under integer rounding).
HLL_EST_NUM = (0.7213 / (1.0 + 1.079 / _HLL_M)) * _HLL_M * _HLL_M * float(1 << _HLL_SCALE_BITS)


def _hll_md5_hash(col):
    """60-bit non-negative hash, identical in Spark and DuckDB:
    ``('0x' || substr(md5(v),1,15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hll_idx_rho(hash_col: str = "_hll_h"):
    """(idx, rho) expression pair over an already-attached hash column
    — shared by the batch register builder and the streaming twin so
    the two can never drift."""
    w = F.expr(f"{hash_col} div {_HLL_M}")
    rho = F.when(w == 0, F.lit(_HLL_W + 1)).otherwise(
        F.lit(_HLL_W + 1) - F.length(F.bin(w))
    )
    return (F.col(hash_col) % _HLL_M).cast("int").alias("idx"), rho


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    hasher: Callable = _hll_md5_hash,
) -> DataFrame:
    """The mergeable HLL state: per group, (idx, rho, cnt) for every
    REGISTER THAT WAS HIT (absent ⇒ rho 0, reconstructed at estimate
    time — the frame stays sparse). Merge two register tables with
    ``union → groupBy(group, idx) → max(rho), sum(cnt)``; `cnt` rides
    along only so the finalizer can report exact input rows without a
    second scan."""
    idx, rho = hll_idx_rho()
    return (
        df.filter(F.col(key_col).isNotNull())  # NULLs count toward nothing
        .withColumn("_hll_h", hasher(F.col(key_col)))
        .groupBy(*group_cols, idx)
        .agg(F.max(rho).cast("int").alias("rho"), F.count(F.lit(1)).alias("cnt"))
    )


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Finalize register tables into per-group estimates. Exact-integer
    Z accumulation (1<<(50-rho) per register, absent registers make up
    the 2^50 remainder), one double division, and the standard
    small-range linear-counting correction (E ≤ 2.5m ∧ V>0 →
    m·ln(m/V)). Outputs are integers only."""
    sb = _HLL_SCALE_BITS
    g = registers.groupBy(*group_cols).agg(
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {sb} - rho)"))
            + (F.lit(_HLL_M) - F.count(F.lit(1)))
            * F.lit(1 << sb).cast("long")
        ).alias("z_scaled"),
        F.count(F.lit(1)).cast("long").alias("used"),
        F.sum("cnt").cast("long").alias("n_rows"),
    )
    e_raw = F.lit(HLL_EST_NUM) / F.col("z_scaled")
    est = F.when(
        (e_raw <= F.lit(2.5 * _HLL_M)) & (F.col("used") < _HLL_M),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / (F.lit(_HLL_M) - F.col("used"))),
    ).otherwise(e_raw)
    return g.select(
        *group_cols,
        F.col("n_rows"),
        F.col("used").cast("int").alias("used_registers"),
        F.round(est).cast("long").alias("est_distinct"),
    )


def hll_distinct(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    hasher: Callable = _hll_md5_hash,
) -> DataFrame:
    """Approximate distinct `key_col` per group — full portable-HLL
    chain. Pass ``hasher=hll_xxhash`` for the (faster, JVM-only)
    production hash; the default md5 hasher is the oracle-checked
    engine-portable twin."""
    return hll_estimate(hll_registers(df, key_col, group_cols, hasher), group_cols)


def hll_xxhash(col):
    """Production hasher: xxhash64 folded to the same non-negative
    60-bit domain the md5 twin uses (shift keeps payload-bit count —
    and therefore the rho range and Z arithmetic — identical)."""
    return F.shiftrightunsigned(F.xxhash64(col), 4)


# ---------------------------------------------------------------------------
# Portable count-min sketch (Cormode & Muthukrishnan 2005) — same
# motivation as the portable HLL above: Spark's builtin
# `count_min_sketch` aggregate is a JVM-opaque binary no other engine
# can replay; this one is d explicit hash rows over md5, so the whole
# build+probe chain gets a DuckDB oracle and the table itself is
# mergeable monitoring state (counts ADD across batches/partitions —
# union → groupBy(row, bucket) → sum). Scale shape: one explode(d) →
# map-side-combinable groupBy onto ≤ d·w cells per group; probes are a
# broadcast join against the tiny cell table.

CMS_DEPTH = 4
CMS_WIDTH = 1024


def _cms_bucket(col, row: int, width: int):
    """Row-seeded md5 bucket — identical in DuckDB as
    ``('0x' || substr(md5(v || '#r'), 1, 15))::BIGINT % width``."""
    return (
        F.conv(F.substring(F.md5(F.concat(col, F.lit(f"#{row}"))), 1, 15), 16, 10)
        .cast("long") % width
    ).cast("int")


def cms_table(
    df: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Build the (row, bucket) → cnt cell table: d·w bounded cells
    regardless of key cardinality. Mergeable by summing cells."""
    buckets = F.array(*[_cms_bucket(F.col(key_col), r, width) for r in range(depth)])
    return (
        df.filter(F.col(key_col).isNotNull())  # same NULL rule as HLL
        .select(F.posexplode(buckets).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    table: DataFrame,
    probes: DataFrame,
    key_col: str = "key",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-query the sketch: est(key) = min over rows of the key's
    cell — an upper bound on the true count (classic CMS guarantee).
    Probe frame is tiny → broadcast both sides of the join.
    ``depth``/``width`` MUST match the ``cms_table`` build (mismatched
    probe buckets would silently undercount)."""
    buckets = F.array(*[_cms_bucket(F.col(key_col), r, width) for r in range(depth)])
    keyed = probes.select(F.col(key_col), F.posexplode(buckets).alias("row", "bucket"))
    joined = keyed.join(F.broadcast(table), ["row", "bucket"], "left").fillna(
        0, subset=["cnt"]
    )
    return joined.groupBy(key_col).agg(F.min("cnt").cast("long").alias("est_count"))

