"""Physical-plan assertions — the 100 TB design locked in as tests.

These make the scale-critical plan properties regression-checked: broadcast
joins stay broadcast, scan-level filters stay pushed down, the counting
fast path stays explode-free, and the parse chain stays inside
whole-stage codegen.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from opentelemetry_collector_spark.fixtures.lookups import lkp_geo
from opentelemetry_collector_spark.fixtures.pages import generate_pages_pandas
from opentelemetry_collector_spark.operators.enrich import enrich_resource_geo
from opentelemetry_collector_spark.operators.parse import parse_pages
from opentelemetry_collector_spark.schemas import PAGES_SCHEMA
from opentelemetry_collector_spark.streaming.router import FanoutRouter, Route

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pages(spark):
    pdf = generate_pages_pandas(np.arange(200, dtype=np.uint64))
    return spark.createDataFrame(pdf, PAGES_SCHEMA)


def test_enrichment_is_broadcast_join(spark, pages):
    records = enrich_resource_geo(parse_pages(pages), lkp_geo(spark))
    plan = plan_of(records)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # a dim join must never sort-merge


def test_q3_customer_join_is_broadcast(spark):
    import __spark_entry__ as entrymod

    if not os.path.isdir(SF_DIR):
        pytest.skip("driver testdata absent")
    q3 = entrymod.queries()["tpch_rollups"](spark, SF_DIR)
    assert "BroadcastHashJoin" in plan_of(q3)


def test_scan_filter_pushdown_and_pruning(spark):
    if not os.path.isdir(SF_DIR):
        pytest.skip("driver testdata absent")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")).select(
        "l_returnflag", "l_quantity"
    )
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read unprojected columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema


def test_count_by_has_no_explode_or_extra_shuffle(spark, pages):
    records = parse_pages(pages, hot_columns=True)
    router = FanoutRouter(
        [
            Route("errors", predicate=F.col("severity_number") >= 17),
            Route("audit", kind="all"),
            Route("default", kind="default"),
        ]
    )
    agg = router.count_by(records, F.col("resource.host").alias("host"))
    plan = plan_of(agg)
    assert "Generate explode" not in plan and "Explode" not in plan
    # exactly one aggregation exchange (partial → final), nothing else
    assert plan.count("Exchange hashpartitioning") == 1


def test_epoch_write_is_single_scan(spark, pages, tmp_path):
    """An epoch write must scan the routed frame exactly ONCE: the per-sink
    "sent" counters ride the write via observe() — there is no post-write
    re-read of the files just written (at 100 TB a count-by-re-scan doubles
    sink I/O). Locked by counting Spark jobs in a dedicated job group."""
    from opentelemetry_collector_spark.streaming.sinks import IdempotentParquetSink

    records = parse_pages(pages, hot_columns=True)
    router = FanoutRouter(
        [
            Route("errors", predicate=F.col("severity_number") >= 17),
            Route("audit", kind="all"),
            Route("default", kind="default"),
        ]
    )
    assigned = router.assign(records)
    sink = IdempotentParquetSink(str(tmp_path / "out"), "logs")
    sc = spark.sparkContext
    sc.setJobGroup("epoch-write-scan-test", "single-scan assertion")
    try:
        router.write_partitioned(assigned, sink, epoch_id=0)
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("epoch-write-scan-test")
    assert len(jobs) == 1, f"epoch write ran {len(jobs)} jobs, expected 1 (the write)"
    # and the observed counters in the commit marker equal an independent count
    want = {r["sink"]: r["n"] for r in router.route_counts(assigned).collect()}
    assert sink.epoch_meta(0)["per_sink"] == want


# max Exchange nodes allowed per driver query (static plan; AQE exchange
# reuse may collapse repeats at runtime): every shuffle must be accounted
# for (agg / window / join), and none may regress into extra passes.
_PLAN_SHUFFLE_BUDGET = {
    "pipeline_e2e": 1,
    "events_parse_json": 0,  # narrow decode
    "severity_rollup": 2,  # count-distinct expands to two aggregates
    "router_counts": 0,  # single global conditional aggregation
    "ottl_suite": 0,  # three narrow OTTL projections unioned, scan speed
    "batch_split_head": 1,  # per-partition candidates (balanced)
    "window_tumbling": 1,
    # 4-part connector union: spanmetrics agg + count-connector agg +
    # the datapoint-count cell (window agg feeding a second tiny agg) +
    # the alert cell: its sum-points agg is plan-identical to the
    # datapoint cell's (AQE reuses the exchange at runtime) + the 1-row
    # threshold mean (SinglePartition agg, broadcast back)
    "spanmetrics_connector": 6,
    # 3-part union: the session rollup + logs→traces session-span cells
    # share ONE session_window aggregate subtree (it appears twice in the
    # static plan; AQE reuses the exchange) + the metrics→traces anomaly
    # cell's sum-points agg and its 1-row threshold mean
    "sessionize_users": 4,
    "metrics_temporality": 2,  # windowed agg + series window
    # merged 7-part pmetric JSON round-trip: sum(2) + gauge(2) +
    # sum_int(2) + exemplar(2) + hist(2) + exphist(3) + summary(2) —
    # each part keeps its former per-query budget, the union adds none
    "otlp_json_metrics_roundtrip": 15,
    "spanmetrics_spans": 2,  # lag window + rollup agg
    "otlp_json_spans_roundtrip": 2,
    "spanevents_connector": 1,
    "trace_summaries": 2,  # parent-chain lag window + per-trace agg
    "otlp_json_roundtrip": 2,  # envelope groupBy + small-scan fan-out
    "salted_rollup": 2,  # two-phase by design
    "enrich_broadcast_geo": 1,  # dims broadcast; one rollup agg
    "tpch_rollups": 3,  # q1 rollup agg + q3 fact join + agg (customer broadcast)
    # 'full' digest groupBy + the 'incremental' part's snapshot anti join
    # side + survivor groupBy (the batch side's digest agg reuses) + the
    # bloom gate's build aggs: bit_or per word (1) + the dense-scatter
    # global agg (SinglePartition, uncounted); the gate itself is a
    # broadcast cross join of the one-row filter — zero batch-side shuffle
    "dedup_exact": 5,
    "dedup_ngram_jaccard": 7,  # freq cut + self-join + sizes (AQE reuses)
    # pairs part (3) + the incremental cross-parity filter's band join
    # (its signature sides are parity filters over the ONE pinned
    # full-corpus signature frame, localCheckpointed in the query)
    "dedup_minhash_lsh": 5,
    "dedup_clusters": 3,  # per-round plans are checkpointed separately
    "dedup_simhash": 1,
    # chunk part: first-occurrence window on chunk hash + per-doc agg (2);
    # span part: dup-window count-distinct agg (two-phase, 2) + per-doc
    # interval-fold agg (1); both join-backs are size-picked (broadcast
    # here, keyed SMJ at corpus scale — the dup set is corpus-sized)
    "chunk_dedup": 5,
    "paragraph_dedup": 3,  # para-hash agg + keyed join back + per-doc reassembly
    "doc_signals": 1,  # small-scan fan-out (round-robin; no-op at scale)
    # pii scrub + c4 line edit + badwords flag are narrow scan-speed; the
    # boilerplate part legitimately shuffles: (host,digest) page-fraction
    # agg, host page counts, keyed anti-join (set is corpus-sized — never
    # broadcast), per-page reassembly, final id join
    "cleanup_suite": 5,
    "blocklist_filter": 1,  # blocklist-side distinct only; pages never shuffle
    # stratified rank window + hash-sample rollup agg (2) + the dsir
    # part's fit/score aggs: ONE bucket groupBy inlined under model and
    # totals/consts subtrees in the static plan (AQE reuses the exchange
    # at runtime) + per-doc score agg; Gumbel top-k is
    # TakeOrderedAndProject — no sort/range exchange
    "sampling_suite": 7,  # + the cluster part's per-cell quota window
    # (assign_cells itself is zero-shuffle: literal-center argmin)
    "contamination_overlap": 2,  # bench distinct agg + per-doc agg (bench broadcast)
    # unigram: per-doc score agg (inlined both sides of the cut join;
    # AQE reuses) + langs-row cut agg (3); bigram columns: ONE doc-keyed
    # lag window + per-doc agg visible (the uni/bi/ctx model aggs sit
    # behind localCheckpoint pins) → 5
    "ccnet_buckets": 5,
    "tfidf_top_terms": 4,  # df count-distinct (two aggs) + per-group tf agg + top-k window; idf broadcast
    "embedding_dedup_lsh": 2,  # same-cell self-join; dup set broadcast back
    "grok_access_log": 0,  # narrow typed regex projection, scan speed
    "enrich_asof_versions": 1,  # dim distinct agg; intervalized dim broadcast, facts never shuffle
    # host-stats count-distinct expands to two aggregates; canon part
    # narrow (2); robots part: hosts distinct + parser lag/running-sum
    # windows over robots LINES (a host-sized corpus, not pages) + the
    # per-page longest-match agg (5); sketch part: ONE host-keyed agg
    # whose count-distinct twin expands two-phase (2 — the HLL/quantile
    # sketches themselves ride the same aggregate, constant size/host)
    # (9) + 'latest': one map-side-folding max_by agg (1) + 'pagerank':
    # edge distinct + outdeg agg + node count + per-iteration rank⋈edges
    # (src) / inflow agg (dst) / ⋈nodes (nid) × 3 fixed iterations — the
    # textbook iterative shape; at production scale edges are
    # pre-partitioned by src once and every iteration reuses the exchange
    "url_suite": 25,
    # weights part (token agg ×2-phase) + the resample part re-derives
    # the same tiny weights aggregate for its broadcast (AQE reuses)
    "mixture_weights": 4,
    # per-partition window + tiny totals agg (the range exchange is
    # materialized once behind the localCheckpoint pin) + the shard
    # part's single hash shuffle on shard_id (deliberately not a total
    # sort — in-shard row_number only) + the manifest part's shard-grain
    # groupBy. The shard-assignment window appears twice (shard + manifest
    # branches of the union): in production the export WRITES the
    # assignment and the manifest reads it back, so the double pass is a
    # demonstration-query artifact, not the operator's shape — and the
    # assignment frame is corpus-sized, so pinning it would violate the
    # tiny-frames-only localCheckpoint policy (pins.py)
    "pack_sequences": 6,
    "ann_suite": 18,  # brute partial+final top-k (2, behind the
    # localCheckpoint pin shared with the ivf/sq8 recall gates) +
    # exact-pairs broadcast cross join (0) + lsh band join (1) + the
    # ivf part's probe/rank windows + gate agg + the sq8 part's
    # partial/final candidate top-k + re-rank window + gate agg (each
    # gate join itself broadcast: queries×k rows) + one small-scan
    # fan-out round-robin PER emb consumer subtree (no-op at scale;
    # the plan printer repeats the reused exchange per consumer)
    "text_signals": 1,  # one narrow pass + small-scan fan-out (no-op at scale)
    "bpe_tokenize": 2,  # merge table folds into the expression tree + fan-out;
    # + the trainer-half wordcount groupBy (top-K itself is
    # TakeOrderedAndProject — per-partition heaps, not an exchange)
    "winnowing_fingerprints": 1,  # narrow gram scan + small-scan fan-out
    "html_extract_text": 0,  # decode→extract→unescape, narrow scan speed
    "cdx_wet_index": 2,  # one shard-keyed offset window per family (wet, wat)
    "nb_classifier": 3,  # train bucket agg + totals/bias; scoring is
    # broadcast join + per-doc agg (corpus never shuffles on the token key)
}

# the ONLY queries allowed Python eval nodes: the declared Arrow surfaces
_PYTHON_ALLOWED = {
    "multimodal_suite",
    "parse_arrow_engine",
    "otlp_pb_roundtrip",  # hand-written proto3 wire codec (no protoc here)
    "warc_roundtrip",  # content-length framing is sequential by format
}


def test_all_queries_stay_jvm_side_with_bounded_shuffles(spark):
    """Every driver query must stay in JVM expressions (no Python eval
    nodes, except the two declared Arrow surfaces) and within its
    accounted shuffle budget — the scale contract, locked end to end."""
    import __spark_entry__ as entrymod

    if not os.path.isdir(SF_DIR):
        pytest.skip("driver testdata absent")
    qs = entrymod.queries()
    missing = set(qs) - set(_PLAN_SHUFFLE_BUDGET) - _PYTHON_ALLOWED
    assert not missing, f"queries without a plan budget: {sorted(missing)}"
    for name, budget in _PLAN_SHUFFLE_BUDGET.items():
        plan = plan_of(qs[name](spark, SF_DIR))
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert node not in plan, f"{name}: Python node {node} in plan"
        n_exchange = (
            plan.count("Exchange hashpartitioning")
            + plan.count("Exchange rangepartitioning")
            + plan.count("Exchange RoundRobinPartitioning")
        )
        assert n_exchange <= budget, f"{name}: {n_exchange} shuffles > budget {budget}"


def test_parse_stays_in_wholestage_codegen(spark, pages):
    df = parse_pages(pages)
    plan = plan_of(df)
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere
    assert "ArrowEvalPython" not in plan  # sql engine: zero Python in the hot path
    # whole-stage codegen spans cover the explode+filter chain (the final
    # wide projection exceeds the JIT method limit and runs interpreted —
    # a measured trade-off: forcing codegen of a >8KB method would defeat
    # JIT compilation anyway)
    formatted = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "[codegen id :" in formatted


def test_metadata_keys_stage_is_one_exchange(spark, pages):
    """The metadata_keys batch stage co-locates key value-sets with ONE
    hash exchange on the key tuple (replacing the url-hash repartition,
    not adding to it); the no-mixed-batches invariant itself is write
    LAYOUT (partitionBy), which is not a shuffle."""
    from opentelemetry_collector_spark.plans.compiler import _build_processor

    records = parse_pages(pages)
    staged = _build_processor(
        spark, "batch", {"partitions": 4, "metadata_keys": ["severity_text"]}
    )(records)
    plan = plan_of(staged)
    n_exchanges = (
        plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange RoundRobinPartitioning")
    )
    assert n_exchanges == 1, plan
    assert "severity_text" in plan


def _unpartitioned_windows(df) -> list[str]:
    """Window operators in ``df``'s executed plan with an empty partition
    spec — the ones Spark logs "No Partition Defined" for."""
    found = []

    def walk(node):
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            found.append(node.toString())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return found


def test_bounded_windows_declare_a_partition(spark):
    """The four windows over bounded input (a post-limit top-k, one row per
    partition, a per-partition candidate set) name a partition key, so a
    run's log carries no false "No Partition Defined" warning."""
    from opentelemetry_collector_spark.operators.batch import split_head
    from opentelemetry_collector_spark.operators.dsir import dsir_resample
    from opentelemetry_collector_spark.operators.textstats import bm25_topk, pack_sequences

    docs = spark.createDataFrame(
        [(i, f"spark window join doc {i}") for i in range(50)], "doc_id long, text string"
    ).repartition(4)
    frames = {
        "split_head": split_head(docs, 5, order_by=["doc_id"])[0],
        "dsir_resample": dsir_resample(docs.withColumn("log_w", F.lit(0.0)), k=5),
        "bm25_topk": bm25_topk(docs, ["spark", "join"], k=5),
        "pack_sequences": pack_sequences(docs, budget=16, partitions=4),
    }
    for name, df in frames.items():
        assert not _unpartitioned_windows(df), name
        assert df.count() > 0, name
