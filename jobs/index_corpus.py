"""Incremental search-index job — build, update, query, and maintain
the term-bucketed inverted index as a user-facing CLI (the batch
counterpart of ``streaming.index_stream``; same catalog layout).

    spark-submit --py-files dist/fposs.zip jobs/index_corpus.py \\
        --warehouse <catalog dir> \\
        --ingest <documents parquet> [--upsert] [--batch-id B] \\
        | --query "terms" [--k 10] [--id-type long] \\
        | --prune-stale \\
        [--id-col doc_id] [--text-col text]

Modes (exactly one):
  --ingest       tokenize ONLY the batch and append its postings into
                 term-bucket partitions + one mergeable stats row.
                 With --upsert, re-ingested doc ids SUPERSEDE their
                 previous postings (per-doc generations + stale set —
                 re-ingest-safe); without it the index is append-only
                 and doc ids must be immutable. --batch-id makes the
                 ingest idempotent (re-running the same id is a skip).
  --query        BM25 over the index: reads O(query-term) partitions
                 via manifest pruning + the 2-column stats table — the
                 corpus text is never touched.
  --prune-stale  physically remove dead-generation postings and empty
                 the stale set (run after a batch of updates; queries
                 stay correct between runs via the broadcast anti-join).

Prints one JSON line (ingest stats / ranked hits / prune count).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str]) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--warehouse", required=True)
    p.add_argument("--ingest", default=None, help="documents parquet to index")
    p.add_argument("--upsert", action="store_true",
                   help="with --ingest: re-ingested doc ids supersede "
                        "their previous postings (never mix with the "
                        "append-only path on one index)")
    p.add_argument("--batch-id", default=None,
                   help="idempotence token: re-running the same batch id "
                        "is a per-table skip")
    p.add_argument("--query", default=None, help="BM25 query string")
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--id-type", default="long",
                   help="Spark type of the id column for empty results")
    p.add_argument("--prune-stale", action="store_true")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    args = p.parse_args(argv)
    modes = sum(1 for x in (args.ingest, args.query, args.prune_stale) if x)
    if modes != 1:
        p.error("exactly one of --ingest / --query / --prune-stale is required")
    if (args.upsert or args.batch_id) and not args.ingest:
        p.error("--upsert/--batch-id require --ingest")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from fluent_plugin_opensearch_spark.operators.search import (
        index_batch,
        index_upsert_batch,
        prune_stale_postings,
        search_index,
    )
    from fluent_plugin_opensearch_spark.sinks.writer import SinkCatalog, append_to_sink

    spark = SparkSession.builder.appName("index-corpus").getOrCreate()
    cat = SinkCatalog(args.warehouse)

    if args.ingest:
        docs = spark.read.parquet(args.ingest)
        marker = f"job-{args.batch_id}" if args.batch_id else None
        if args.upsert:
            stats = index_upsert_batch(
                spark, cat, docs,
                id_col=args.id_col, text_col=args.text_col, marker=marker,
                sink_partitions=spark.sparkContext.defaultParallelism,
            )
        else:
            clean = docs.filter(F.col(args.text_col).isNotNull()).persist()
            try:
                post, st = index_batch(clean, id_col=args.id_col, text_col=args.text_col)
                wrote = append_to_sink(
                    post, cat, "postings",
                    sink_partitions=spark.sparkContext.defaultParallelism,
                    marker=marker,
                )
                append_to_sink(st, cat, "search_stats", marker=marker)
                stats = {"input": clean.count(), "skipped": wrote is None}
            finally:
                clean.unpersist()
        print(json.dumps({"mode": "ingest", "upsert": args.upsert, **stats}))
    elif args.query:
        hits = search_index(
            spark, cat, args.query, k=args.k,
            id_col=args.id_col, id_type=args.id_type,
        )
        rows = [r.asDict() for r in hits.orderBy("rank").collect()]
        print(json.dumps({"mode": "query", "query": args.query, "hits": rows}))
    else:
        n = prune_stale_postings(spark, cat, id_col=args.id_col)
        print(json.dumps({"mode": "prune-stale", "stale_cleared": n}))


if __name__ == "__main__":
    main(sys.argv[1:])
