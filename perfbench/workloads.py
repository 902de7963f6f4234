"""The three workloads. Each stages its seeded inputs, warms the JVM with
one call, then drives the pipeline's public functions in a closed loop
(one caller) and checks every output against DuckDB.

* ``batch_fanout`` — ``run_batch`` over one transcripts parquet into a
  fresh ``SinkCatalog`` per call; per-row cost (parse, enrich, route,
  parquet encode) and the 30-sink write layout. On 4 cores a 300k-row
  call takes about 4-5 s, roughly half of it per-row cost.
* ``stream_drain`` — ``start_pipeline_stream`` drains a backlog of small
  files with ``availableNow`` and ``maxFilesPerTrigger=1``; the fixed
  cost of each micro-batch dominates, compaction shows in the slowest.
* ``query_mix`` — the ``bench.py`` ``BENCH_QUERIES`` entries that reach the
  dataset, curation and search operators, each run once, cold, and
  compared with its DuckDB oracle.
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import inputs
import probes
from fluent_plugin_opensearch_spark import PipelineConfig, SinkCatalog, build, run_batch, split_streams
from fluent_plugin_opensearch_spark.plans.queries import ORACLES, QUERIES
from fluent_plugin_opensearch_spark.sources.transcripts import load_transcripts
from fluent_plugin_opensearch_spark.streaming.stream import TRANSCRIPTS_SCHEMA, start_pipeline_stream

#: input rows per ``run_batch`` call at scale 1
BATCH_ROWS = 300_000
#: a compaction every this many micro-batches: one per drain round of
#: that many files, so that a round holds enough micro-batches for the
#: tail percentile (more than ten) and compaction, which takes three to
#: four times a plain micro-batch, weighs the same in every run
COMPACT_EVERY = 12
#: rows per backlog file (one micro-batch each) and files drained cold
#: before timing
STREAM_FILE_ROWS = 5_000
STREAM_WARMUP_FILES = 1
#: drain rounds per run: one, more until --seconds have passed
STREAM_MAX_ROUNDS = 2
STREAM_POOL_FILES = STREAM_WARMUP_FILES + STREAM_MAX_ROUNDS * COMPACT_EVERY
#: generated scale-factor directory for the query mix (about sf0.01)
QUERY_EVENTS, QUERY_DOCS, QUERY_VECS = 10_000, 500, 500
#: the oracle-backed BENCH_QUERIES whose registry function calls the
#: dataset, curation or search operators (``DS``, ``CU``, ``search`` in
#: ``plans/queries.py``), which no other workload reaches: 19 of the 39.
#: A cold pass over all 39 took 31-41 s on 4 cores (hardly less on a tenth
#: of the rows, so fixed per-query cost dominates) and would not leave the
#: run budget room for both workloads; these 19 took about 18 s of it.
#: The other 20 run the pipeline stages, which stream_drain times, and the
#: session and enrichment analytics.
QUERY_MIX = [
    "dedup_exact",
    "text_stats",
    "ann_cosine_topk",
    "simhash_md5",
    "knn_label_vote",
    "dedup_clusters",
    "pii_redaction",
    "contamination",
    "sequence_packing",
    "repetition_signals",
    "paragraph_dedup",
    "mixture_sample",
    "training_shards",
    "winnow_pairs_md5",
    "semantic_clusters",
    "bm25_topk",
    "multilingual_bm25",
    "multilingual_dedup_pairs",
    "phrase_search_multilingual",
]
SETUP_REPS = 3
STAGE_REPS = 2


@dataclass
class Ctx:
    """One workload run: the session, its scratch directory and options."""

    spark: object
    root: str
    work: str
    seed: int
    seconds: float
    scale: float
    corrupt: bool
    counters: probes.SparkCounters
    tracer: probes.Tracer | None
    #: wall and CPU seconds of starting the session (zero after the
    #: first workload of a run)
    session: dict
    stage: dict = field(default_factory=dict)
    #: ``probes.cost`` of the timed loop
    window: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0

    def rng(self) -> np.random.Generator:
        return np.random.default_rng(self.seed)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def put(self, name: str, value, unit: str, n: int = 1, **extra) -> None:
        self.report[name] = {"value": value, "unit": unit, "n": n, **extra}

    def layer(self, name: str, value, unit: str) -> None:
        self.layers[name] = {"value": value, "unit": unit}

    def check(self, what: str, got, want) -> bool:
        """Count one checked operation; a mismatch counts as failed."""
        self.attempted += 1
        if got == want:
            return True
        self.failed += 1
        print(f"perfbench: {what} mismatch: got {got!r}, want {want!r}", file=sys.stderr)
        return False

    def setup(self, stage):
        """Generate the seeded inputs ``SETUP_REPS`` times into fresh
        directories and keep the last; ``setup_s`` charges the median.
        Expected results are computed afterwards, outside ``setup_s``."""
        costs, result = [], None
        for rep in range(SETUP_REPS):
            d = self.path(f"input{rep}")
            with probes.cost() as c:
                result = stage(d)
            costs.append(c)
            if rep + 1 < SETUP_REPS:
                shutil.rmtree(d)
        self.stage = {k: statistics.median(c[k] for c in costs) for k in ("wall_s", "cpu_s")}
        return result

    def timed(self):
        """The timed loop's ``probes.cost``, with Spark's counters diffed
        across it in a traced run."""
        return probes.cost(self.counters if self.tracer is not None else None)

    def put_common(self, warm: dict, window: dict, n_ops: int, latencies) -> None:
        """The figures every workload reports. ``setup_s`` is the CPU
        time of session start, the median staging and the cold warm-up
        call; ``op_cpu_s`` is the CPU time of the timed loop per
        operation. Both are CPU seconds, which leave out the time other
        tenants of a shared machine hold the cores; the wall-clock
        figures sit beside them."""
        self.window = window
        parts = {"session": self.session, "stage": self.stage, "warmup": warm}
        self.put("setup_s", sum(p["cpu_s"] for p in parts.values()), "s", SETUP_REPS,
                 wall_s=sum(p["wall_s"] for p in parts.values()),
                 **{f"{k}_{m}": p[m] for k, p in parts.items() for m in ("cpu_s", "wall_s")})
        self.put("op_cpu_s", window["cpu_s"] / n_ops, "s", n_ops,
                 window_cpu_s=window["cpu_s"], window_wall_s=window["wall_s"])
        self.put("op_geomean_s", statistics.geometric_mean(latencies), "s", len(latencies),
                 samples=latencies)

    def span(self, name: str, op: str | None = None):
        """A traced span (no-op when untraced); spans that start an
        operation also record its Spark cost."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, op=op, count=op is not None)

    def corrupt_first(self, counts: dict) -> None:
        """The smoke test's broken expectation: one sink count off by one."""
        if self.corrupt:
            counts[min(counts)] += 1


def pipeline_config(root: str) -> PipelineConfig:
    """The ``PipelineConfig`` that ``jobs/run_pipeline.py`` builds from its
    default arguments (its ``main`` maps parsed arguments to the config
    field by field; this mirrors that mapping)."""
    spec = importlib.util.spec_from_file_location(
        "run_pipeline_job", os.path.join(root, "jobs", "run_pipeline.py")
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    args = job.parse_args(["--input", "unused", "--warehouse", "unused"])
    return PipelineConfig(
        logstash_format=not args.no_logstash,
        logstash_prefix=args.logstash_prefix,
        index_name=args.index_name,
        target_index_key=args.target_index_key,
        id_key=args.id_key,
        write_operation=args.write_operation,
        target_index_affinity=args.target_index_affinity,
        retry_tag=args.retry_tag,
        salt_buckets=args.salt_buckets,
        sink_partitions=args.sink_partitions,
    )


def tail(values: list[float]) -> tuple[float | None, int | None]:
    """The highest percentile with at least ten samples beyond it, and
    that percentile (None with ten samples or fewer)."""
    xs = sorted(values)
    k = len(xs) - 11
    if k < 0:
        return None, None
    return xs[k], round(100 * k / (len(xs) - 1)) if len(xs) > 1 else 0


def sink_layout(catalog: SinkCatalog, table: str) -> tuple[int, int]:
    """Parquet files and bytes on disk under a catalog table."""
    files = size = 0
    for dirpath, _, names in os.walk(catalog.path(table)):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def read_back(ctx: Ctx, catalog: SinkCatalog, table: str, key: str, op: str) -> tuple[dict, float]:
    """Read a committed table through ``SinkCatalog.read`` and group it by
    ``key``; returns the counts and the seconds it took."""
    with ctx.span("sink_read", op=op):
        t0 = time.perf_counter()
        rows = catalog.read(ctx.spark, table).groupBy(key).count().collect()
        dt = time.perf_counter() - t0
    return {r[key]: r["count"] for r in rows}, dt


def stage_costs(ctx: Ctx, make_df, cfg: PipelineConfig) -> None:
    """Per-stage cost of ``build``: each stage prefix is forced through a
    ``noop`` sink and a stage is charged the difference between its
    prefix and the previous one (medians of ``STAGE_REPS`` rounds after
    one warm round)."""
    from fluent_plugin_opensearch_spark.operators.enrich import enrich
    from fluent_plugin_opensearch_spark.operators.parse import parse_text
    from fluent_plugin_opensearch_spark.operators.routing import route
    from fluent_plugin_opensearch_spark.operators.timestamps import inject_timestamp
    from fluent_plugin_opensearch_spark.operators.transforms import (
        drop_non_records,
        extract_meta,
        include_tag,
        missing_id_filter,
        remove_keys,
    )

    spark = ctx.spark

    def prefixes(df):
        ts = (
            df.withColumn("tag", F.lit("transcripts"))
            .transform(drop_non_records)
            .transform(lambda d: inject_timestamp(d, cfg))
        )
        parsed = ts.transform(parse_text)
        enriched = parsed.transform(lambda d: enrich(d, spark))
        routed = (
            enriched.transform(lambda d: route(d, cfg))
            .transform(lambda d: extract_meta(d, cfg))
            .transform(lambda d: missing_id_filter(d, cfg))
            .transform(lambda d: include_tag(d, cfg))
            .transform(lambda d: remove_keys(d, cfg))
        )
        good, _ = split_streams(routed, cfg)
        return [
            ("sources.scan_s", df),
            ("timestamps.s", ts),
            ("parse.s", parsed),
            ("enrich.s", enriched),
            ("route.s", routed),
            ("split.s", good),
        ]

    df = make_df()
    if prefixes(df)[4][1].schema != build(df, cfg, spark).schema:
        raise RuntimeError("stage prefixes no longer compose to build(); update stage_costs")
    times: dict[str, list[float]] = {}
    for rnd in range(STAGE_REPS + 1):
        for name, d in prefixes(make_df()):
            with ctx.span(name, op=f"stages{rnd}"):
                t0 = time.perf_counter()
                d.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
            if rnd:
                times.setdefault(name, []).append(dt)
    prev = 0.0
    for name, ts in times.items():
        med = statistics.median(ts)
        ctx.layer(name, med - prev, "s")
        prev = med


def op_layers(ctx: Ctx, spans: list[dict], op_span: str, plan_spans: tuple[str, ...]) -> None:
    """Per-operation medians every workload reports: plan-construction
    time and Spark jobs per operation."""
    ops = [s for s in spans if s["name"] == op_span and "spark" in s]
    plan: dict[str, float] = {}
    for s in spans:
        if s["name"] in plan_spans:
            plan[s["op"]] = plan.get(s["op"], 0.0) + s["dur_s"]
    ctx.layer("op.plan_s", statistics.median(plan.values()) if plan else 0.0, "s")
    ctx.layer("op.jobs", statistics.median(s["spark"]["jobs"] for s in ops) if ops else 0, "count")


def named_span_median(spans: list[dict], name: str) -> float:
    """Median over operations of the summed duration of ``name`` spans."""
    acc: dict = {}
    for s in spans:
        if s["name"] == name:
            acc[s["op"]] = acc.get(s["op"], 0.0) + s["dur_s"]
    return statistics.median(acc.values()) if acc else 0.0


# --------------------------------------------------------------------------
# batch_fanout
# --------------------------------------------------------------------------

def batch_fanout(ctx: Ctx) -> None:
    spark, cfg = ctx.spark, pipeline_config(ctx.root)
    rows = max(int(BATCH_ROWS * ctx.scale), 1000)
    n_files = 2 * spark.sparkContext.defaultParallelism

    def stage(d):
        files = inputs.write_files(inputs.transcripts(ctx.rng(), rows), d, n_files)
        spark.read.parquet(d).schema
        return d, files

    src, files = ctx.setup(stage)
    first = files[0]
    per_file = inputs.expected_counts(files)
    expected = inputs.total_counts(per_file)
    ctx.corrupt_first(expected["sink"])
    layout: list[tuple[int, int]] = []
    reads: list[float] = []

    def one_call(i: int, path: str = src, want: dict = expected) -> float:
        catalog = SinkCatalog(ctx.path(f"sink{i}"))
        op = f"call{i}"
        with ctx.span("run_batch", op=op):
            t0 = time.perf_counter()
            m = run_batch(spark, spark.read.parquet(path), cfg, catalog, batch_id=op)
            dt = time.perf_counter() - t0
        got = (
            {r["_index"]: r["routed_rows"] for r in m["per_sink"]},
            {r["dlq_reason"]: r["n"] for r in m["dlq"]},
        )
        sink, read_s = read_back(ctx, catalog, "sink", "_index", op)
        dlq, _ = read_back(ctx, catalog, "dlq", "dlq_reason", op)
        ctx.check(f"{op} counts and read-back", (got, (sink, dlq)),
                  ((want["sink"], want["dlq"]),) * 2)
        layout.append(sink_layout(catalog, "sink"))
        reads.append(read_s)
        shutil.rmtree(catalog.base_dir)
        return dt

    # the cold call runs on one input file: same plan, a fraction of the rows
    with probes.cost() as warm:
        one_call(0, first, inputs.total_counts(per_file, [first]))
    layout.clear()
    reads.clear()

    # each call's read-back and check run inside the loop, so op_cpu_s
    # here includes reading the sink back
    calls: list[float] = []
    with ctx.timed() as window:
        deadline = window["start"] + ctx.seconds
        while len(calls) < 3 or time.perf_counter() < deadline:
            try:
                calls.append(one_call(len(calls) + 1))
            except Exception as e:  # noqa: BLE001 — a failed call is counted, the loop goes on
                ctx.attempted += 1
                ctx.failed += 1
                print(f"perfbench: run_batch failed: {e!r}", file=sys.stderr)
                if ctx.failed > 3:
                    break
    total_rows = rows * len(calls)
    ctx.put_common(warm, window, len(calls), calls)
    ctx.put("call_p50_s", statistics.median(calls), "s", len(calls))
    ctx.put("turns_per_s", total_rows / sum(calls), "1/s", len(calls), rows_per_call=rows)
    ctx.put("sink_read_s", statistics.median(reads), "s", len(reads))
    ctx.put("sink_files", statistics.median(f for f, _ in layout), "count", len(layout))

    if ctx.tracer is not None:
        ctx.tracer.add_gap_spans("writer.dlq_append", "pipeline.count")
        spans = [s for s in ctx.tracer.finish() if s["start"] >= window["start"]]
        pipeline_layers(ctx, spans, "run_batch")
        ctx.layer("writer.files", statistics.median(f for f, _ in layout), "count")
        ctx.layer("writer.bytes", statistics.median(b for _, b in layout), "B")
        stage_costs(ctx, lambda: spark.read.parquet(src), cfg)


def pipeline_layers(ctx: Ctx, spans: list[dict], op_span: str) -> None:
    """Medians per batch call or micro-batch of the pipeline and writer
    spans; plan time and jobs are the ``op.*`` figures under the
    pipeline's names."""
    ops = {s["op"] for s in spans if s["name"] == op_span}
    spans = [s for s in spans if s["op"] in ops]
    op_layers(ctx, spans, op_span, ("pipeline.build", "pipeline.split"))
    ctx.layers["pipeline.plan_s"] = ctx.layers["op.plan_s"]
    ctx.layers["pipeline.jobs_per_batch"] = ctx.layers["op.jobs"]
    ctx.layer("pipeline.count_s", named_span_median(spans, "pipeline.count"), "s")
    ctx.layer("writer.append_s", named_span_median(spans, "writer.append"), "s")
    ctx.layer("writer.dlq_append_s", named_span_median(spans, "writer.dlq_append"), "s")
    ctx.layer("writer.commit_s", named_span_median(spans, "writer.commit"), "s")


# --------------------------------------------------------------------------
# stream_drain
# --------------------------------------------------------------------------

def _drain(
    ctx: Ctx, cfg: PipelineConfig, src: str, catalog: SinkCatalog, checkpoint: str
) -> tuple[list, list]:
    """Drain the files under ``src`` that the checkpoint has not seen, one
    file per micro-batch. Returns the progress reports of the non-empty
    micro-batches and the pipeline's per-batch metrics."""
    source = (
        ctx.spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = start_pipeline_stream(
        ctx.spark, source, cfg, catalog, checkpoint,
        available_now=True, compact_every=COMPACT_EVERY,
    )
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"stream over {src} failed: {q.exception()}")
    return [p for p in q.recentProgress if p["numInputRows"] > 0], q._pipeline_metrics


def _check_drain(ctx: Ctx, metrics: list, catalog: SinkCatalog, files: list[str], per_file: dict) -> float:
    """Each drained file's expected per-sink counts must match one
    micro-batch's counts (as a multiset), and the committed sink and DLQ
    must read back as the sum over the drained files. Returns the
    seconds the sink read-back took."""
    want = [json.dumps(per_file[f]["sink"], sort_keys=True) for f in files]
    for m in metrics:
        got = json.dumps(m["per_sink"], sort_keys=True)
        if got in want:
            want.remove(got)
    ctx.attempted += len(files)
    ctx.failed += len(want)
    if want:
        print(f"perfbench: {len(want)} drained files without a matching micro-batch", file=sys.stderr)
    total = inputs.total_counts(per_file, files)
    ctx.corrupt_first(total["sink"])
    sink, read_s = read_back(ctx, catalog, "sink", "_index", "drain")
    dlq, _ = read_back(ctx, catalog, "dlq", "dlq_reason", "drain")
    ctx.check("stream read-back", (sink, dlq), (total["sink"], total["dlq"]))
    return read_s


def stream_drain(ctx: Ctx) -> None:
    cfg = pipeline_config(ctx.root)
    file_rows = max(int(STREAM_FILE_ROWS * ctx.scale), 200)

    def stage(d):
        # a log backlog is in time order: each file spans about 1.2 days,
        # so a micro-batch writes two or three daily sinks
        table = inputs.transcripts(ctx.rng(), file_rows * STREAM_POOL_FILES).sort_by("ts")
        return inputs.write_files(table, d, STREAM_POOL_FILES)

    pool = ctx.setup(stage)
    per_file = inputs.expected_counts(pool)
    src, catalog, ck = ctx.path("src"), SinkCatalog(ctx.path("wh")), ctx.path("ck")
    os.makedirs(src)
    drained: dict[str, dict] = {}

    def move(files: list[str]) -> None:
        for f in files:
            m = os.path.join(src, os.path.basename(f))
            os.rename(f, m)
            drained[m] = per_file[f]

    # cold drain of the first files; the timed rounds continue its
    # checkpoint and catalog, so that every round of COMPACT_EVERY
    # micro-batches holds exactly one compaction
    move(pool[:STREAM_WARMUP_FILES])
    with probes.cost() as warm:
        _, metrics = _drain(ctx, cfg, src, catalog, ck)

    # closed loop: one stream start per round of new files, until
    # --seconds have passed; whole rounds keep one compaction per
    # COMPACT_EVERY micro-batches
    rest = pool[STREAM_WARMUP_FILES:]
    progress: list = []
    with ctx.timed() as window:
        deadline = window["start"] + ctx.seconds
        while rest and (not progress or time.perf_counter() < deadline):
            move(rest[:COMPACT_EVERY])
            rest = rest[COMPACT_EVERY:]
            p, m = _drain(ctx, cfg, src, catalog, ck)
            progress += p
            metrics += m
    read_s = _check_drain(ctx, metrics, catalog, list(drained), drained)

    batches = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
    busy = sum(batches)
    files, size = sink_layout(catalog, "sink")
    t_s, t_pct = tail(batches)
    ctx.put_common(warm, window, len(batches), batches)
    ctx.put("turns_per_s", sum(p["numInputRows"] for p in progress) / busy, "1/s", len(batches))
    ctx.put("microbatch_p50_s", statistics.median(batches), "s", len(batches))
    ctx.put("microbatch_tail_s", t_s, "s", len(batches), percentile=t_pct)
    ctx.put("sink_read_s", read_s, "s", 1)
    ctx.put("sink_files", files, "count", 1)
    ctx.put("compactions", sum(1 for p in progress if p["batchId"] and p["batchId"] % COMPACT_EVERY == 0),
            "count")

    if ctx.tracer is not None:
        ctx.tracer.add_gap_spans("writer.dlq_append", "pipeline.count")
        spans = [s for s in ctx.tracer.finish() if s["start"] >= window["start"]]
        pipeline_layers(ctx, spans, "microbatch")
        ctx.layer("writer.files", files, "count")
        ctx.layer("writer.bytes", size, "B")
        compact = [s["dur_s"] for s in spans if s["name"] == "writer.compact"]
        ctx.layer("writer.compact_s", statistics.median(compact) if compact else 0.0, "s")
        for key in ("latestOffset", "queryPlanning", "addBatch", "walCommit"):
            ctx.layer(f"stream.{key}_ms",
                      statistics.median(p["durationMs"].get(key, 0) for p in progress), "ms")
        one = next(iter(drained))
        stage_costs(ctx, lambda: ctx.spark.read.parquet(one), cfg)


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------

def _oracle_tools(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(root, "tools", "check_oracles.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def _oracle_results(sf: str, names: list[str]) -> dict:
    import duckdb

    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    out = {n: con.sql(ORACLES[n]).df() for n in names}
    con.close()
    return out


def query_mix(ctx: Ctx) -> None:
    from bench import BENCH_QUERIES

    spark = ctx.spark
    names = [n for n in BENCH_QUERIES if n in QUERY_MIX]
    if len(names) != len(QUERY_MIX) or not set(names) <= set(ORACLES):
        raise RuntimeError("QUERY_MIX is no longer a set of oracle-backed BENCH_QUERIES")
    canon = _oracle_tools(ctx.root)
    scale = ctx.scale

    def stage(d):
        rng = ctx.rng()
        sf = inputs.sf_dir(rng, os.path.join(d, "sf"), max(int(QUERY_EVENTS * scale), 300),
                           max(int(QUERY_DOCS * scale), 60), max(int(QUERY_VECS * scale), 60))
        warm = inputs.sf_dir(rng, os.path.join(d, "warm"), 1000, 100, 100)
        return sf, warm

    sf, warm_dir = ctx.setup(stage)
    expected = _oracle_results(sf, names)
    with probes.cost() as warm:
        QUERIES["route_logstash_counts"](spark, warm_dir).toPandas()

    # one cold pass over the mix is the timed unit, however long it takes
    times: dict[str, float] = {}
    results = {}
    with ctx.timed() as window:
        for name in names:
            with ctx.span("query", op=name):
                t0 = time.perf_counter()
                try:
                    with ctx.span("query.plan"):
                        df = QUERIES[name](spark, sf)
                    with ctx.span("query.execute"):
                        results[name] = df.toPandas()
                except Exception as e:  # noqa: BLE001 — a failed query is counted, the mix goes on
                    print(f"perfbench: query {name} failed: {e!r}", file=sys.stderr)
                    results[name] = None
                times[name] = time.perf_counter() - t0
    for name in names:
        want = canon(expected[name])
        if ctx.corrupt and name == names[0]:
            want = want.iloc[1:]
        got = results[name]
        ok = got is not None and len(got) == len(want)
        if ok:
            a = canon(got)
            ok = list(a.columns) == list(want.columns) and a.equals(want)
        ctx.check(f"query {name}", ok, True)

    vals = list(times.values())
    ctx.put_common(warm, window, len(vals), vals)
    ctx.put("query_total_s", sum(vals), "s", len(vals), samples=times)
    ctx.put("query_geomean_s", statistics.geometric_mean(vals), "s", len(vals))
    ctx.put("query_p50_s", statistics.median(vals), "s", len(vals))
    ctx.put("query_p75_s", statistics.quantiles(vals, n=4)[2], "s", len(vals))

    if ctx.tracer is not None:
        for name, v in times.items():
            ctx.layer(f"query.{name}.s", v, "s")
        op_layers(ctx, ctx.tracer.finish(), "query", ("query.plan",))
        stage_costs(ctx, lambda: load_transcripts(spark, sf), pipeline_config(ctx.root))


WORKLOADS = {
    "batch_fanout": batch_fanout,
    "stream_drain": stream_drain,
    "query_mix": query_mix,
}
