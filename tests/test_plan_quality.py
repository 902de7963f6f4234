"""Physical-plan quality gates (SURVEY.md §7 hard part 5 and the
scale brief): filters/columns reach the parquet scan, dictionary joins
broadcast, the hot path stays inside whole-stage codegen with zero
Python UDFs, and the full pipeline contains no unexpected shuffle.
These are regression tests for the 100 TB plan shape, enforced at toy
scale via explain() text."""

from __future__ import annotations

from pyspark.sql import functions as F

from fluent_plugin_opensearch_spark import PipelineConfig, build, split_streams
from fluent_plugin_opensearch_spark.operators.enrich import enrich

from .conftest import SF_SMOKE

CFG = PipelineConfig(logstash_format=True, logstash_prefix="logs")


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_and_projection_pushdown(spark):
    """A selective filter + narrow projection must reach the scan:
    PushedFilters non-empty and ReadSchema pruned to used columns."""
    e = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    q = e.filter(F.col("event_type") == "error").select("event_id", "ts")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)" in plan
    # column pruning: only the projected + filtered columns are read
    # (3 of the table's 6), not the full row
    assert "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,event_type:string>" in plan


def test_enrichment_joins_are_broadcast(spark):
    t = spark.read.parquet(f"{SF_SMOKE}/events.parquet").selectExpr(
        "CASE WHEN event_id % 2 = 0 THEN 'user' ELSE 'tool' END AS role",
        "CASE WHEN event_id % 3 = 0 THEN 'search' ELSE 'python' END AS tool",
        "event_id",
    )
    plan = _plan(enrich(t, spark))
    # both dictionary joins broadcast (each join appears in the tree
    # and in the detail section, so ≥2 distinct operator ids)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_pipeline_has_no_python_udf_and_single_shuffle(spark):
    """The whole record pipeline (parse→enrich→route→meta) must be UDF-
    free (vectorized/JVM) and shuffle only for the final aggregation."""
    from fluent_plugin_opensearch_spark import load_transcripts

    t = load_transcripts(spark, SF_SMOKE)
    good, _ = split_streams(build(t, CFG, spark), CFG)
    agg = good.groupBy("_index").agg(F.count(F.lit(1)).alias("n"))
    plan = _plan(agg)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # shuffle exchanges (excluding broadcast exchanges): at most the
    # transcripts row_number window + the final groupBy — and column
    # pruning should eliminate the window when turn_idx is unused
    import re

    shuffles = len(re.findall(r"(?<!Broadcast)Exchange \(", plan))
    assert shuffles <= 2, plan
    # partial + final aggregation (map-side combine) around the shuffle
    assert plan.count("HashAggregate") >= 2
    # (WholeStageCodegen markers only appear in executed AQE plans;
    # codegen coverage is asserted on the non-AQE parse plan below)


def _plan_nodes(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_build_has_no_python_rdd_and_local_dictionaries(spark):
    """No Python worker on the record pipeline: the optimized plan of
    build() reads only parquet and JVM-local relations (no Python RDD,
    no Python UDF), and both dictionary broadcasts sit over a
    LocalRelation."""
    from fluent_plugin_opensearch_spark import load_transcripts

    built = build(load_transcripts(spark, SF_SMOKE), CFG, spark)
    qe = built._jdf.queryExecution()
    nodes = list(_plan_nodes(qe.optimizedPlan()))
    names = {n.nodeName() for n in nodes}
    assert not names & {"LogicalRDD", "ExternalRDD", "BatchEvalPython", "ArrowEvalPython"}, names
    executed = qe.executedPlan().toString()
    for bad in ("ExistingRDD", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in executed, executed
    broadcast_sides = [
        n.right().nodeName()
        for n in nodes
        if n.nodeName() == "Join" and n.hint().rightHint().isDefined()
    ]
    assert broadcast_sides == ["LocalRelation", "LocalRelation"], broadcast_sides


def test_affinity_build_side_is_batch_bounded(spark):
    """R5 scale guard: the affinity lookup must semi-join the existing
    sink state on the batch's distinct ids BEFORE the min(_index)
    aggregation, so the (broadcastable) build side is O(batch ids) and
    never O(sink table) — and at runtime AQE turns the bounded side
    into a broadcast join."""
    from fluent_plugin_opensearch_spark.operators.routing import affinity_override

    existing = spark.range(200_000).selectExpr(
        "cast(id AS string) AS _id", "'logs-2020.01.01' AS _index"
    )
    batch = spark.range(100).selectExpr(
        "cast(id AS string) AS _id", "'logs-2024.01.01' AS _index"
    )
    out = affinity_override(batch, existing)
    plan = _plan(out)
    # the semi-join feeds the aggregate (build side bounded by batch)
    assert "LeftSemi" in plan, plan
    out.collect()  # executes; AQE finalizes the join strategy
    final = _plan(out)
    assert "BroadcastHashJoin" in final, final


def test_parse_is_codegen_compiled(spark):
    from fluent_plugin_opensearch_spark.operators.parse import parse_text

    df = spark.createDataFrame([("x",)], "text string")
    plan = _plan(parse_text(df))
    assert "BatchEvalPython" not in plan
    assert "codegen id" in plan  # projection compiled into whole-stage codegen


def test_pandas_udf_twin_uses_arrow(spark):
    """The pandas-UDF escape hatch must be Arrow-batched (ArrowEval),
    never row-at-a-time Python (BatchEvalPython)."""
    from fluent_plugin_opensearch_spark.operators.parse import parse_text_pandas

    df = spark.createDataFrame([("[INFO] req=1 took=2ms x",)], "text string")
    plan = _plan(parse_text_pandas(df))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    # and semantics match the built-in path
    from fluent_plugin_opensearch_spark.operators.parse import parse_text

    a = parse_text(df).select("level", "req_id", "duration_ms", "message", "parse_ok").collect()
    b = parse_text_pandas(df).select("level", "req_id", "duration_ms", "message", "parse_ok").collect()
    assert a == b


def test_grok_pandas_uses_arrow(spark):
    """The grok-dialect escape hatch (VERDICT r2 item 8) must be
    Arrow-batched, never row-at-a-time Python."""
    from fluent_plugin_opensearch_spark.operators.parse import parse_grok_pandas

    df = spark.createDataFrame([("[INFO] req=1 took=2ms x",)], "text string")
    plan = _plan(parse_grok_pandas(df, "%{REQLINE}", {
        "NUM": r"\d+",
        "REQLINE": r"^\[%{WORD:level}\] req=%{NUM:req_id} took=%{NUM:took_ms}ms %{GREEDYDATA:msg}$",
    }, types={"took_ms": "bigint"}))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_embedding_lsh_explode_exchange_is_narrow(spark):
    """100 TB plan shape for the multi-band sign-LSH near-dup: the
    exploded (band, bucket) rows must NOT carry the embedding vector —
    vectors are joined back only for deduped candidates (the minhash
    shingle-set pattern). Every Generate (explode) node's output is
    (vec_id, band, bucket) projections only."""
    import re

    from fluent_plugin_opensearch_spark.operators import dataset as DS

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    plan = _plan(DS.embedding_neardup_pairs(emb, 0.99, n_bands=4, band_bits=4))
    gen_ids = [m.group(1) for m in re.finditer(r"\((\d+)\) Generate", plan)]
    assert gen_ids, "expected explode nodes in the LSH plan"
    for gid in gen_ids:
        m = re.search(rf"\({gid}\) Generate.*?Output \[\d+\]: \[(.*?)\]", plan, re.S)
        cols = m.group(1)
        assert " v#" not in cols and "nrm#" not in cols, (
            f"explode output carries vector data: {cols}"
        )


def test_minhash_guard_rides_selfjoin_exchange(spark):
    """r4 guard shape (VERDICT r3 #4): the mega-bucket guard must be a
    WINDOW count over the (band, bucket) key — no aggregate+join-back
    branch. The r3 agg+join variant re-ran the whole guard chain on
    both unpersisted self-join sides (measured ~1.7× slower). Plan
    invariants: at least one WindowGroupLimit-free Window node, NO
    extra aggregate feeding a join on (band, bucket), and the banded
    exchange count stays at 2 (one per self-join side) before AQE."""
    from fluent_plugin_opensearch_spark.operators import dataset as DS

    import re

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(DS.minhash_lsh_pairs(docs, num_hashes=8, bands=4, min_jaccard=0.2))
    assert "Window" in plan, "guard should be a window count"
    # the old guard added a HashAggregate computing _bn that joined
    # back to the banded rows — with the window guard NO aggregate
    # node may produce _bn
    for m in re.finditer(r"\(\d+\) HashAggregate.*?(?=\n\(\d+\)|\Z)", plan, re.S):
        assert "_bn" not in m.group(0), "guard must not be an aggregate+join"
    # and the exploded rows cross exactly one exchange per self-join
    # side: 2 hash-partitionings on (band, bucket), not 4+
    n_band_exchanges = len(
        re.findall(r"Exchange hashpartitioning\(band#\d+, bucket#\d+", plan)
    )
    assert n_band_exchanges <= 2, f"{n_band_exchanges} banded exchanges (expected 2)"


def test_paragraph_dedup_winner_is_partial_agg_not_window(spark):
    """r4 paragraph dedup: the corpus-wide keep-first winner must be a
    map-side partial min aggregate over the paragraph hash, NOT a
    window over the paragraph key — a boilerplate paragraph repeated
    10^9 times would funnel its whole group through one window task,
    while min() reduces it per-partition. The only window-free
    invariants that survive AQE/codegen renames: zero Window nodes in
    the whole plan, and a partial_min aggregate present."""
    from fluent_plugin_opensearch_spark.operators import curation as CU

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(CU.paragraph_dedup(docs))
    assert "Window" not in plan, "keep-first must not use a window over the paragraph"
    assert "partial_min" in plan, "winner should partial-aggregate map-side"
    assert "BatchEvalPython" not in plan


def test_repetition_signals_no_python_no_window(spark):
    """r4 repetition signals: pure explode->hash-agg; no window, no
    Python, and the line/bigram counts partial-aggregate map-side."""
    from fluent_plugin_opensearch_spark.operators import curation as CU

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(CU.repetition_signals(docs))
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_dsir_weights_join_is_broadcast_no_python(spark):
    """r4 DSIR: the per-bucket weight table (<=B rows) must broadcast
    into the scoring join (the only corpus shuffle is the final
    groupBy(doc)); no Python anywhere; the doc-score aggregate
    partial-aggregates map-side. The one Window is the corpus-total
    sum over the <=B-row bucket-count frame — bounded by the constant
    B, not the data."""
    from fluent_plugin_opensearch_spark.operators import curation as CU

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(CU.dsir_scores(docs, docs.filter("lang = 'en'"), buckets=512))
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert plan.count("Window") <= 2  # bucket-total window only (+plan reuse)


def test_dedup_incremental_broadcasts_new_batch(spark):
    """r4 incremental dedup: the NEW batch's banded keys broadcast
    into the candidate join, so the existing corpus (the incremental
    index at scale) is never shuffled for candidate generation; no
    Python anywhere."""
    from fluent_plugin_opensearch_spark.operators import dataset as DS

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(
        DS.dedup_incremental(
            docs.filter("doc_id % 10 >= 8"), docs.filter("doc_id % 10 < 8"),
            num_hashes=8, bands=4,
        )
    )
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_mixture_sample_broadcast_rate_join_no_shuffle(spark):
    """r4 mixture sampling: the per-stratum rate table broadcasts into
    the filter join, so the corpus side is never exchanged — the kept
    set comes from one scan + filter. (The plan side aggregates the
    token totals with a map-side partial.)"""
    import re

    from fluent_plugin_opensearch_spark.operators import curation as CU

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(CU.mixture_sample(docs, {"src0": 500, "src1": 300}, budget_tokens=1000))
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan
    # the only Exchanges feed the one-row-per-stratum plan aggregate /
    # broadcast — never re-keying the corpus probe side
    assert "SortMergeJoin" not in plan


def test_training_shards_single_exchange(spark):
    """r4 shard order: exactly one data exchange (hash on shard) —
    the within-shard rank rides that same partitioning; no Python."""
    import re

    from fluent_plugin_opensearch_spark.operators import curation as CU

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(CU.training_shards(docs, n_shards=16))
    assert "BatchEvalPython" not in plan
    # formatted explain numbers each node: shuffle exchanges print as
    # "(n) Exchange", broadcasts as "(n) BroadcastExchange"
    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) == 1, plan
    assert "hashpartitioning(shard" in plan


def test_winnow_pairs_guard_is_window_no_python(spark):
    """Winnowing pairs: the posting-list guard must be a WINDOW count
    over the fp_hash join key (the minhash guard shape — no
    aggregate+join-back producing _pn), the whole chain stays JVM-side
    (no BatchEvalPython), and the fingerprint selection itself is one
    exchange on doc_id feeding the window pair."""
    from fluent_plugin_opensearch_spark.operators import dataset as DS

    import re

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(DS.winnow_pairs(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" in plan
    for m in re.finditer(r"\(\d+\) HashAggregate.*?(?=\n\(\d+\)|\Z)", plan, re.S):
        assert "_pn" not in m.group(0), "posting guard must not be an aggregate+join"


def test_lm_ce_weight_join_is_broadcast_no_python(spark):
    """lm_cross_entropy: the NLL table (<= buckets rows) and the LM
    total must reach the scoring join as BROADCAST exchanges — the
    corpus side shuffles exactly once (the final groupBy(doc)) — and
    the whole chain stays JVM-side."""
    from fluent_plugin_opensearch_spark.operators import curation as CU

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(CU.lm_cross_entropy(docs, docs.limit(50), buckets=256))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total attach
    assert "SortMergeJoin" not in plan, "NLL table must not shuffle the corpus"


def test_url_blocklist_join_is_broadcast_no_python(spark):
    """domain_blocklist_flags: the blocklist reaches the suffix join
    as a BROADCAST; the exploded suffix side never sort-merge-joins;
    no Python in the chain."""
    from fluent_plugin_opensearch_spark.operators import curation as CU

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    bl = spark.createDataFrame([("example.com",), ("bad.net",)], ["domain"])
    plan = _plan(CU.domain_blocklist_flags(docs, bl))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    # the only sort-merge join is the final flags join of the two
    # doc_id-keyed aggregates (both sides already partitioned by
    # doc_id); the suffix join itself must never shuffle-sort
    import re

    smj_keys = re.findall(
        r"\(\d+\) SortMergeJoin.*?Left keys \[\d+\]: \[(\w+)", plan, re.S
    )
    assert all(k.startswith("doc_id") for k in smj_keys), smj_keys


def test_duplicate_spans_two_exchanges_no_python(spark):
    """ExactSubstr span manifest: exactly TWO hash exchanges — one on
    the window hash (sort-free keeper election: the min(struct) window
    has no ORDER BY, so no per-hash sort) and one on doc_id that BOTH
    the island windows and the final span aggregate reuse (hash-
    partitioning on doc_id satisfies the (doc_id, _sid) grouping).
    Whole chain JVM-side; no join anywhere (keeper election is a
    window, not a self-join — no mega-bucket blowup possible)."""
    import re

    from fluent_plugin_opensearch_spark.operators import dataset as DS

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(DS.duplicate_spans(docs, window=16))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # formatted explain numbers nodes: hash shuffles print "(n) Exchange"
    # (the _ensure_parallelism round-robin is a third, data-size-gated)
    hashx = [m for m in re.findall(r"\(\d+\) Exchange\b", plan)]
    assert len(hashx) <= 3 and "hashpartitioning(h" in plan
    assert "hashpartitioning(doc_id" in plan
    assert "Join" not in plan


def test_strip_duplicate_spans_no_python(spark):
    """Strip pass: the span manifest joins back doc-keyed (AQE
    broadcasts the tiny side at runtime); the token-array rebuild is a
    higher-order filter — JVM-side, never a Python UDF."""
    from fluent_plugin_opensearch_spark.operators import dataset as DS

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(DS.strip_duplicate_spans(docs, window=16))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_split_corpus_is_pure_projection(spark):
    """split_corpus must compile to a zero-shuffle, zero-Python
    projection — split assignment at 100 TB is free only if it rides
    the scan."""
    from fluent_plugin_opensearch_spark.operators.curation import split_corpus

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(split_corpus(docs, {"train": 900, "val": 50, "test": 50}))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_broadcasts_small_sides_no_python(spark):
    """BM25's df table and corpus stats must broadcast (the corpus
    never reshuffles for them); no Python in the plan; the ranking
    window is fed by the local-top-k prefilter, never the raw match
    set."""
    from fluent_plugin_opensearch_spark.operators.search import bm25_topk

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(bm25_topk(docs, "hash join merge", k=10))
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_kmeans_probe_join_is_broadcast(spark):
    """The (q_id, cell) probe table and query vectors broadcast into
    the cell-keyed candidate join — the corpus side is touched only
    through the probed cells; no Python anywhere."""
    from fluent_plugin_opensearch_spark.operators import dataset as DS

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    plan = _plan(DS.ivf_kmeans_topk(emb, query_ids=[0, 1], k=5, n_cells=3, n_probe=2))
    assert plan.count("BroadcastExchange") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_log_templates_is_projection_plus_agg(spark):
    """Template mining must stay a codegen projection + one hash
    aggregate: no window, no Python."""
    from fluent_plugin_opensearch_spark.operators.search import log_templates

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").selectExpr(
        "cast(doc_id AS string) AS conv_id", "text"
    )
    plan = _plan(log_templates(docs))
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hll_two_exchanges_with_mapside_register_combine(spark):
    """Portable HLL must be exactly two exchanges — the register
    groupBy (whose partial_max IS the map-side combine that bounds the
    shuffle at groups×4096 rows regardless of cardinality) and the
    tiny per-group estimate agg. No window, no Python."""
    from fluent_plugin_opensearch_spark.plans.metrics import hll_distinct

    t = spark.read.parquet(f"{SF_SMOKE}/events.parquet").selectExpr(
        "cast(event_id % 7 AS string) AS grp", "cast(event_id AS string) AS k"
    )
    import re

    plan = _plan(hll_distinct(t, "k", ["grp"]))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2
    assert "partial_max" in plan  # map-side register combine
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cms_table_single_exchange(spark):
    """The CMS cell build is posexplode → ONE exchange onto ≤ d·w
    cells, with a map-side partial count."""
    from fluent_plugin_opensearch_spark.plans.metrics import cms_table

    t = spark.read.parquet(f"{SF_SMOKE}/events.parquet").selectExpr(
        "cast(event_id AS string) AS k"
    )
    import re

    plan = _plan(cms_table(t, "k"))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
