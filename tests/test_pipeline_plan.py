"""One compiled plan, two runners: the batch runner and the streaming
runner run the same ``PipelinePlan`` through ``run_epoch`` and must agree
on sink rows and on every stage counter (the reference builds one graph
for push and pull, service/graph.go:42-223)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from opentelemetry_collector_spark.fixtures.pages import generate_pages_pandas
from opentelemetry_collector_spark.operators.parse import parse_pages
from opentelemetry_collector_spark.plans import BatchPipelineRunner, load_config
from opentelemetry_collector_spark.schemas import PAGES_SCHEMA
from opentelemetry_collector_spark.streaming.stream import StreamingPipeline
from opentelemetry_collector_spark.streaming.telemetry import PipelineTelemetry

SINKS = ("sink_errors", "sink_access", "sink_default", "sink_all")

# pipelines/example.yaml's shape, with the receiver options filled in
CFG = """
receivers:
  pages:
    kind: pages_parquet
    path: {path}
{extra}
processors:
  parse:
    engine: sql
  transform/normalize:
    kind: transform
    statements:
      - 'set(attributes["source"], "web")'
      - 'replace_match(attributes["path"], "/r/4*", "/r/4xx")'
  filter/drop_declined:
    kind: filter
    drop_where: 'attributes["status"] == "403"'
  enrich_geo: {{}}
  enrich_lang: {{}}
  batch:
    partitions: 4
exporters:
  sink_errors:
    kind: parquet
    predicate: "severity_number >= 17"
  sink_access:
    kind: parquet
    predicate: 'attributes["method"] != nil'
  sink_default:
    kind: parquet
    default: true
  sink_all:
    kind: parquet
    all: true
service:
  pipelines:
    logs:
      receivers: [pages]
      processors: [parse, transform/normalize, filter/drop_declined, enrich_geo, enrich_lang, batch]
      exporters: [sink_errors, sink_access, sink_default, sink_all]
"""


def _write_pages(spark, path: str, id_ranges) -> None:
    """One parquet file of deterministic pages per id range."""
    for lo, hi in id_ranges:
        pdf = generate_pages_pandas(np.arange(lo, hi, dtype=np.uint64))
        spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)


def _stage_counts(stages: dict) -> dict:
    return {
        k: (v["accepted"], v["dropped"])
        for k, v in stages.items()
        if not k.startswith("exporter/")
    }


def test_batch_and_streaming_agree_on_rows_and_counters(spark, tmp_path):
    pages = str(tmp_path / "pages")
    _write_pages(spark, pages, [(0, 100), (100, 200), (200, 300)])

    runner = BatchPipelineRunner(
        spark, load_config(CFG.format(path=pages, extra="")), str(tmp_path / "batch")
    )
    result = runner.run()
    batch_rows = {s: runner.read_sink("logs", s).count() for s in SINKS}
    batch_stages = result.telemetry.as_dict()["stages"]

    stream_cfg = load_config(CFG.format(path=pages, extra="    max_files_per_trigger: 1"))
    pipe = StreamingPipeline.from_config(spark, stream_cfg, "logs", str(tmp_path / "stream"))
    q = pipe.start(checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    assert len(pipe.epochs_seen) >= 2
    stream_rows = {s: pipe.sinks[s].read_committed(spark).count() for s in SINKS}
    stream_stages = pipe.telemetry.as_dict()["stages"]

    assert all(n > 0 for n in batch_rows.values())
    assert stream_rows == batch_rows
    # per-stage accepted/dropped: one batch epoch vs the sum over epochs
    assert _stage_counts(stream_stages) == _stage_counts(batch_stages)
    assert batch_stages["processor/logs/filter/drop_declined"]["dropped"] > 0
    assert len(_stage_counts(batch_stages)) == 8  # receiver, 6 stages, output
    for stages, rows in ((batch_stages, batch_rows), (stream_stages, stream_rows)):
        assert {s: stages[f"exporter/{s}"]["sent"] for s in SINKS} == rows


def test_batch_runner_runs_a_dedup_processor(spark, tmp_path):
    """``dedup`` is an epoch-aware stage of the plan, so the batch runner
    runs it as epoch 0: two files with the same pages land once."""
    src = str(tmp_path / "pages")
    _write_pages(spark, src, [(0, 40), (0, 40)])
    cfg = load_config(
        f"""
receivers:
  pages: {{kind: pages_parquet, path: {src}}}
processors:
  parse: {{}}
  dedup: {{}}
exporters:
  audit: {{kind: parquet, all: true}}
service:
  pipelines:
    logs: {{receivers: [pages], processors: [parse, dedup], exporters: [audit]}}
"""
    )
    runner = BatchPipelineRunner(spark, cfg, str(tmp_path / "out"))
    result = runner.run()
    once = parse_pages(
        spark.createDataFrame(
            generate_pages_pandas(np.arange(0, 40, dtype=np.uint64)), PAGES_SCHEMA
        )
    )
    got = runner.read_sink("logs", "audit")
    assert got.count() == once.count() == result.sink_counts()["audit"]
    assert got.select("body").distinct().count() == once.select("body").distinct().count()
    stages = result.telemetry.as_dict()["stages"]
    assert stages["processor/logs/dedup"]["dropped"] == once.count()


def test_harvest_adds_each_observation_once(spark):
    """harvest() adds every materialized observation into its counters
    and drops it: a stage whose action never ran is absent (not 0), a
    second harvest changes nothing, and a later epoch's observation of the
    same stage adds to it."""
    t = PipelineTelemetry()
    live = t.observe(spark.range(10).toDF("x"), "receiver/p")
    kept = t.observe(live.where(F.col("x") < 4), "processor/p/keep", upstream="receiver/p")
    t.observe(spark.range(99).toDF("x"), "receiver/dead")  # never actioned
    assert kept.count() == 4

    first = t.as_dict()["stages"]
    assert "receiver/dead" not in first
    assert first["receiver/p"]["accepted"] == 10
    assert (first["processor/p/keep"]["accepted"], first["processor/p/keep"]["dropped"]) == (4, 6)
    assert t.as_dict()["stages"] == first

    t.observe(spark.range(5).toDF("x"), "receiver/p").count()
    t.harvest()
    assert t.counters("receiver/p").accepted == 15
