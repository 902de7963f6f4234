"""Seeded inputs for the pipeline benchmark and their expected results.

Every generator takes a ``numpy.random.Generator`` built from the
benchmark's ``--seed``, so the same seed always yields byte-identical
parquet files. Expected outputs are computed independently of Spark, in
DuckDB, from the oracle SQL fragments of ``plans/queries.py``.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fluent_plugin_opensearch_spark.plans.queries import SQL_LOGSTASH_INDEX, SQL_PARSED

#: 2024-01-01T00:00:00 in microseconds; transcripts span 30 days from here,
#: so the logstash router fans them out to 30 daily sinks
BASE_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000
DAYS = 30

ROLES = np.array(["user", "assistant", "system", "tool"])
LEVELS = np.array(["INFO", "DEBUG", "WARN", "ERROR"])
TOOLS = np.array(["python", "browser", "search", None], dtype=object)
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
LANGS = np.array(["en", "zh", "de", "fr", "es"])
VOCAB = np.array(
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch".split()
)


def _turn_index(conv: np.ndarray) -> np.ndarray:
    """0-based position of each row within its conversation, in row order."""
    n = len(conv)
    order = np.argsort(conv, kind="stable")
    sorted_conv = conv[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_conv)) + 1]
    pos = np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n]))
    turn = np.empty(n, dtype=np.int32)
    turn[order] = pos
    return turn


def transcripts(rng: np.random.Generator, n_rows: int, first_id: int = 0) -> pa.Table:
    """Transcripts rows shaped like ``synthesize_transcripts``: ~n/200
    conversations of which 1% receive 100x the turns (hot-conversation
    skew), 30 days of timestamps, ~0.5% NULL text and ~2% malformed text
    (together ~2.5% DLQ rows), ~1% unknown tools."""
    n_convs = max(n_rows // 200, 100)
    n_hot = max(1, n_convs // 100)
    hot_share = n_hot * 100 / (n_hot * 100 + n_convs - n_hot)
    conv = np.where(
        rng.random(n_rows) < hot_share,
        rng.integers(0, n_hot, n_rows),
        rng.integers(n_hot, n_convs, n_rows),
    )
    kind = rng.random(n_rows)
    level = LEVELS[rng.integers(0, 4, n_rows)]
    req = rng.integers(0, 10**11, n_rows)
    took = rng.integers(0, 5000, n_rows)
    ids = np.arange(first_id, first_id + n_rows)
    text = [
        None
        if k < 1 / 211
        else f"corrupted payload ##{i}"
        if k < 1 / 211 + 1 / 50
        else f"[{lv}] req={r:012d} took={t}ms synthetic user={c}"
        for k, i, lv, r, t, c in zip(kind, ids, level, req, took, conv)
    ]
    tool = np.where(rng.random(n_rows) < 1 / 97, "frobnicator", TOOLS[rng.integers(0, 4, n_rows)])
    ts = BASE_US + rng.integers(0, DAYS * DAY_US, n_rows)
    return pa.table(
        {
            "conv_id": pa.array([f"conv{c:08d}" for c in conv]),
            "turn_idx": pa.array(_turn_index(conv)),
            "role": pa.array(ROLES[rng.integers(0, 4, n_rows)]),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(tool, pa.string()),
            "ts": pa.array(ts, pa.timestamp("us")),
        }
    )


def write_files(table: pa.Table, directory: str, n_files: int) -> list[str]:
    """Split ``table`` into ``n_files`` contiguous parquet files."""
    os.makedirs(directory, exist_ok=True)
    step = -(-table.num_rows // n_files)
    paths = []
    for k in range(n_files):
        path = os.path.join(directory, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(k * step, step), path)
        paths.append(path)
    return paths


def expected_counts(files: list[str]) -> dict[str, dict]:
    """Per input file: rows per daily sink and DLQ rows per reason,
    computed in DuckDB with the oracle fragments the query registry's
    ``route_logstash_counts``/``dlq_reason_stats`` oracles use."""
    con = duckdb.connect()
    src = f"read_parquet({[os.path.abspath(f) for f in files]!r}, filename = true)"
    out: dict[str, dict] = {os.path.abspath(f): {"sink": {}, "dlq": {}} for f in files}
    for fname, idx, n in con.sql(
        f"SELECT filename, {SQL_LOGSTASH_INDEX}, count(*) FROM {src} WHERE {SQL_PARSED} GROUP BY 1, 2"
    ).fetchall():
        out[fname]["sink"][idx] = n
    for fname, reason, n in con.sql(
        f"SELECT filename, CASE WHEN text IS NULL THEN 'null_record' ELSE 'parse_error' END, "
        f"count(*) FROM {src} WHERE NOT {SQL_PARSED} GROUP BY 1, 2"
    ).fetchall():
        out[fname]["dlq"][reason] = n
    con.close()
    return out


def total_counts(per_file: dict[str, dict], files: list[str] | None = None) -> dict[str, dict]:
    """Sum ``expected_counts`` over ``files`` (all files when None)."""
    tot: dict[str, dict] = {"sink": {}, "dlq": {}}
    for f in files if files is not None else per_file:
        for side in ("sink", "dlq"):
            for k, n in per_file[os.path.abspath(f)][side].items():
                tot[side][k] = tot[side].get(k, 0) + n
    return tot


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Bags of 10-100 vocabulary words; every 20th document is a
    near-duplicate of its predecessor (`` dup`` appended) and every 97th an
    exact copy, so the dedup and near-dup operators find pairs."""
    texts: list[str] = []
    for i in range(n_docs):
        if i % 20 == 11:
            texts.append(texts[i - 1] + " dup")
        elif i % 97 == 50:
            texts.append(texts[i - 3])
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), rng.integers(10, 101))]))
    lang = LANGS[rng.choice(len(LANGS), n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(lang),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _events(rng: np.random.Generator, n_events: int) -> pa.Table:
    """Events in time order over 30 days: ~67 events per user, five
    event types, exponential values (mean 50, two decimals)."""
    n_users = max(n_events // 67, 10)
    ts = BASE_US + np.sort(rng.integers(0, DAYS * DAY_US, n_events))
    value = np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_events)]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )


def _embeddings(rng: np.random.Generator, n_vecs: int, dim: int = 64) -> pa.Table:
    """Unit-norm float32 vectors with one of ten labels."""
    v = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
        }
    )


def sf_dir(rng: np.random.Generator, directory: str, n_events: int, n_docs: int, n_vecs: int) -> str:
    """A scale-factor directory in the layout the query registry reads
    (``events``/``documents``/``embeddings`` parquet)."""
    os.makedirs(directory, exist_ok=True)
    pq.write_table(_events(rng, n_events), os.path.join(directory, "events.parquet"))
    pq.write_table(_documents(rng, n_docs), os.path.join(directory, "documents.parquet"))
    pq.write_table(_embeddings(rng, n_vecs), os.path.join(directory, "embeddings.parquet"))
    return directory
