"""Pipeline benchmark: batch fan-out, micro-batch drain and first-run
query mix, with per-layer traces.

    python3 perfbench/run.py --workload batch_fanout --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # all three, one session

Run from the root of a source checkout; the pipeline package is imported
from there and every file the run writes goes under ``.perfbench/`` in
it. One Spark session on ``local[nproc]`` with a 3 GB driver heap serves
one caller in a closed loop. A timed loop runs whole operations until
``--seconds`` have passed, and at least one drain round of twelve
micro-batches or one pass over the query mix, which can take longer.
``BENCHMARK.json`` lists ``stream_drain`` and ``query_mix``;
``batch_fanout`` runs on request (about 45 s a run; a third workload
would not fit the run budget of the benchmark's contract).

Output: one JSON report line per workload with every metric by name, unit
and sample count, plus machine state (nproc, loadavg at start and end,
live java processes; ``other_jvm_at_start`` flags a run that began with
another JVM alive). The last line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics untraced (``--trace 0``) or the per-layer metrics (``--trace 1``).

End-to-end metrics, reported by every workload (its operation is one
``run_batch`` call, one micro-batch, or one query):

* ``setup_s`` — CPU seconds of session start + the median of three input
  stagings + the cold warm-up call;
* ``op_cpu_s`` — CPU seconds per operation over the timed loop;
* ``peak_rss_mb`` — peak resident memory (VmHWM) of the Spark JVM.

CPU seconds are those of the benchmark's process tree: this interpreter,
the JVM and the JVM's Python workers. On a 4-core machine shared with
other tenants, wall times moved by 30% between sets of runs an hour
apart, and two competing busy processes made a query pass take 35% more
wall time but less than 5% more CPU time. CPU time still follows the
machine's speed (a run's CPU and wall figures rise and fall together,
10-15% between runs), but less than wall time does, so the gated
figures are CPU time. The wall-clock figures are on the report line:
``setup_s.wall_s``, ``op_geomean_s`` (geometric mean operation
latency), ``turns_per_s``, ``sink_read_s`` and ``sink_files`` (batch and
stream), ``call_p50_s`` (batch), ``microbatch_p50_s`` and
``microbatch_tail_s`` (stream), ``query_total_s``, ``query_geomean_s``,
``query_p50_s`` and ``query_p75_s`` (queries), and ``failed_frac``.

A traced run wraps the pipeline's public functions with in-memory spans
(``probes.instrument``), reads Spark's cost counters around every
operation, forces each ``build`` stage prefix through a ``noop`` sink,
and writes the spans with self times to ``.perfbench/trace-*.json``.
``LAYERS`` lists each per-layer metric with the end-to-end metric it
should move and the workload that shows it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

STARTED = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("batch_fanout", "stream_drain", "query_mix")

#: per-layer metric -> (end-to-end metric it should move, workload)
LAYERS = {
    "sources.scan_s": ("turns_per_s", "batch_fanout"),
    "timestamps.s": ("turns_per_s", "batch_fanout"),
    "parse.s": ("turns_per_s", "batch_fanout"),
    "enrich.s": ("turns_per_s", "batch_fanout"),
    "route.s": ("turns_per_s", "batch_fanout"),
    "split.s": ("turns_per_s", "batch_fanout"),
    "op.plan_s": ("op_cpu_s", "stream_drain"),
    "op.jobs": ("op_cpu_s", "stream_drain"),
    "spark.jobs": ("op_cpu_s", "stream_drain"),
    "spark.stages": ("op_cpu_s", "query_mix"),
    "spark.shuffle_write_bytes": ("op_cpu_s", "query_mix"),
    "spark.spill_bytes": ("op_cpu_s", "batch_fanout"),
    "spark.gc_ms": ("op_cpu_s", "batch_fanout"),
    "spark.codegen_ms": ("op_cpu_s", "query_mix"),
    "spark.codegen_compiles": ("op_cpu_s", "query_mix"),
    "trace.overhead_s": ("op_geomean_s", "all"),
    # reported only by the workloads that run the layer
    "pipeline.plan_s": ("microbatch_p50_s", "stream_drain"),
    "pipeline.count_s": ("microbatch_p50_s", "stream_drain"),
    "pipeline.jobs_per_batch": ("microbatch_p50_s", "stream_drain"),
    "writer.append_s": ("turns_per_s", "batch_fanout"),
    "writer.dlq_append_s": ("turns_per_s", "batch_fanout"),
    "writer.commit_s": ("turns_per_s", "batch_fanout"),
    "writer.files": ("sink_read_s", "batch_fanout"),
    "writer.bytes": ("sink_read_s", "batch_fanout"),
    # one compaction per round of twelve micro-batches: it is the
    # slowest batch, above the tail percentile that twelve samples give
    "writer.compact_s": ("op_cpu_s", "stream_drain"),
    "stream.latestOffset_ms": ("microbatch_p50_s", "stream_drain"),
    "stream.queryPlanning_ms": ("microbatch_p50_s", "stream_drain"),
    "stream.addBatch_ms": ("microbatch_p50_s", "stream_drain"),
    "stream.walCommit_ms": ("microbatch_p50_s", "stream_drain"),
    "query.<name>.s": ("query_total_s", "query_mix"),
}
#: what every workload reports: the end-to-end metrics of an untraced run
#: and the per-layer metrics of a traced one (the first entries of LAYERS)
END_TO_END = ("setup_s", "op_cpu_s", "peak_rss_mb")
PER_LAYER = tuple(LAYERS)[: list(LAYERS).index("trace.overhead_s") + 1]


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size multiplier (smoke test: 0.05)")
    p.add_argument("--corrupt", action="store_true", help="break one expected count (smoke test)")
    return p.parse_args(argv)


def start_session(work: str):
    """``local[nproc]`` session whose scratch space lives under ``work``."""
    from fluent_plugin_opensearch_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file under /tmp: the run writes only inside the checkout
    java_opts = f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    spark = get_spark(
        cores,
        shuffle_partitions=2 * cores,
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_workload(name: str, spark, work: str, args, session: dict) -> dict:
    import probes
    import workloads

    counters = probes.SparkCounters(spark)
    tracer = probes.Tracer(counters) if args.trace else None
    ctx = workloads.Ctx(
        spark=spark, root=ROOT, work=os.path.join(work, name), seed=args.seed,
        seconds=args.seconds, scale=args.scale, corrupt=args.corrupt,
        counters=counters, tracer=tracer, session=session,
    )
    os.makedirs(ctx.work)
    if tracer is None:
        workloads.WORKLOADS[name](ctx)
    else:
        with probes.instrument(tracer):
            workloads.WORKLOADS[name](ctx)
    ctx.put("peak_rss_mb", probes.peak_rss_mb(counters.jvm_pid), "MB")
    ctx.put("failed_frac", ctx.failed / max(ctx.attempted, 1), "ratio", ctx.attempted)
    out = {"workload": name, "report": ctx.report, "attempted": ctx.attempted, "failed": ctx.failed}
    if tracer is not None:
        # Spark's counters across the timed loop only
        total = ctx.window["spark"]
        for key, unit in (("jobs", "count"), ("stages", "count"), ("shuffle_write_bytes", "B"),
                          ("spill_bytes", "B"), ("gc_ms", "ms"), ("codegen_ms", "ms"),
                          ("codegen_compiles", "count")):
            ctx.layer(f"spark.{key}", total[key], unit)
        ctx.layer("trace.overhead_s", tracer.overhead_s, "s")
        trace_file = os.path.join(ROOT, ".perfbench", f"trace-{name}-seed{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"workload": name, "seed": args.seed, "layers": ctx.layers,
                       "layer_targets": LAYERS, "spans": tracer.finish()}, f, indent=1)
        out["layers"] = ctx.layers
        out["trace_file"] = os.path.relpath(trace_file, ROOT)
    shutil.rmtree(ctx.work, ignore_errors=True)
    return out


def result_metrics(out: dict, trace: int) -> dict:
    """The last line's metrics: end-to-end or the per-layer set that every
    workload reports."""
    if trace:
        return {k: out["layers"][k] for k in PER_LAYER}
    return {k: {"value": out["report"][k]["value"], "unit": out["report"][k]["unit"]} for k in END_TO_END}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not (os.path.isdir(os.path.join(ROOT, "fluent_plugin_opensearch_spark"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print(f"perfbench: no pipeline sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")

    # imported before the session starts, so that setup_s charges them
    import probes
    import workloads  # noqa: F401

    machine = probes.machine_state()
    spark = start_session(work)
    # everything until the session is up: interpreter start, imports, JVM
    session = {"wall_s": time.perf_counter() - STARTED, "cpu_s": probes.tree_cpu_s()}
    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    outs = []
    try:
        for name in names:
            outs.append(run_workload(name, spark, work, args, session))
            session = {"wall_s": 0.0, "cpu_s": 0.0}
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    end = probes.machine_state()
    machine.update(loadavg_end=end["loadavg"], java_procs_end=end["java_procs"],
                   other_jvm_at_start=machine["java_procs"] > 0)
    for out in outs:
        print(json.dumps({**out, "seed": args.seed, "trace": args.trace, "machine": machine}))
    attempted = sum(o["attempted"] for o in outs)
    failed = sum(o["failed"] for o in outs)
    if len(outs) == 1:
        metrics = result_metrics(outs[0], args.trace)
    else:
        metrics = {f"{o['workload']}:{k}": v for o in outs
                   for k, v in result_metrics(o, args.trace).items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
