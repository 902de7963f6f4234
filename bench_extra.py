"""Extra benchmarks for optimization rounds (bench.py is FROZEN —
guide §1.4 noop-sink isolation + interleaved A/B live here).

Usage:
  python bench_extra.py time  <sf_dir> <reps> <query> [query ...]
      Per-query timings with bench.py's exact methodology (force =
      df.count()) after the same smoke-scale warmup, `reps` passes each,
      interleaved across the listed queries (A/B/A/B...) so VM weather
      hits all variants equally (CLAUDE.md: sequential comparisons on
      this VM are worthless).
  python bench_extra.py noop  <sf_dir> <reps> <query> [query ...]
      Same but forcing with a noop sink (materializes every column).
  python bench_extra.py plan  <sf_dir> <out_dir> <query> [query ...]
      Dump .explain("formatted") of each query's frame to
      <out_dir>/<query>.txt (no execution).

Session config mirrors bench.py (local[$SPARK_GRAFT_CPUS], 2*cpus
shuffle partitions, ParallelGC, 16g driver) so numbers are comparable
to the driver's protocol.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import warmup_dir  # noqa: E402
from fluent_plugin_opensearch_spark.plans.queries import QUERIES  # noqa: E402
from fluent_plugin_opensearch_spark.session import get_spark  # noqa: E402


def build_session():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    java_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC")
    spark = get_spark(
        cpus,
        shuffle_partitions=2 * cpus,
        app_name="bench_extra",
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
            "spark.executor.memory": "10g",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.executor.extraJavaOptions": java_opts,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> None:
    mode = sys.argv[1]
    sf_dir = sys.argv[2]
    spark = build_session()

    if mode == "plan":
        out_dir = sys.argv[3]
        names = sys.argv[4:]
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            df = QUERIES[name](spark, sf_dir)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
                f.write(txt)
            print(f"wrote {out_dir}/{name}.txt")
        spark.stop()
        return

    reps = int(sys.argv[3])
    names = sys.argv[4:]
    # same warmup as bench.py so the first timed query is not charged
    # the JVM/codegen cold start
    QUERIES["route_logstash_counts"](spark, warmup_dir(sf_dir)).count()

    def force(df):
        if mode == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()

    times: dict[str, list[float]] = {n: [] for n in names}
    for r in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            t0 = time.time()
            force(QUERIES[name](spark, sf_dir))
            times[name].append(round(time.time() - t0, 3))
            # driver parity: each bench.py query computes from parquet
            # with no pre-existing cache — drop internal persists so
            # rep N+1 does not ride rep N's materialized signatures
            spark.catalog.clearCache()
    loadavg = [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    print(
        json.dumps(
            {
                "mode": mode,
                "sf_dir": sf_dir,
                "times": times,
                "min": {n: min(v) for n, v in times.items()},
                "loadavg_end": loadavg,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
