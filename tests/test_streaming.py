"""Structured Streaming tests: drain-and-stop parity, checkpoint resume
(exactly-once), watermarked windows.

The reference analogs: batch-processor flush semantics
(batch_processor_test.go:39-818), WAL crash-recovery
(persistent_storage_test.go), and the obsreporttest count-parity
discipline (SURVEY.md §5).
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from opentelemetry_collector_spark.fixtures.pages import generate_pages_pandas
from opentelemetry_collector_spark.operators.parse import parse_pages
from opentelemetry_collector_spark.schemas import PAGES_SCHEMA
from opentelemetry_collector_spark.streaming.router import Route
from opentelemetry_collector_spark.streaming.stream import (
    StreamingPipeline,
    stream_pages,
    windowed_severity_counts,
)

import numpy as np

def _routes():
    # built lazily: Column construction needs an active SparkContext
    return [
        Route("errors", predicate=F.col("severity_number") >= 17),
        Route("audit", kind="all"),
        Route("default", kind="default"),
    ]


def _write_pages_files(spark, path: str, n_files: int = 3, rows_per_file: int = 120) -> None:
    """n_files parquet files of deterministic pages (distinct id ranges)."""
    for i in range(n_files):
        ids = np.arange(i * rows_per_file, (i + 1) * rows_per_file, dtype=np.uint64)
        pdf = generate_pages_pandas(ids)
        spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_pages"))
    _write_pages_files(spark, d)
    return d


def _batch_expected(spark, pages_dir):
    records = parse_pages(spark.read.parquet(pages_dir))
    total = records.count()
    errors = records.where(F.col("severity_number") >= 17).count()
    return {"errors": errors, "audit": total, "default": total - errors}


def test_streaming_counts_match_batch(spark, pages_dir, tmp_path):
    pipe = StreamingPipeline(routes=_routes(), out_root=str(tmp_path / "sinks"))
    q = pipe.start(
        stream_pages(spark, pages_dir), checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert pipe.sink_counts() == _batch_expected(spark, pages_dir)


def test_checkpoint_resume_is_exactly_once(spark, pages_dir, tmp_path):
    """Stop after the first micro-batch; restart from the checkpoint; totals
    are exact (no loss, no duplicates) — persistent_storage_test analog."""
    out = str(tmp_path / "sinks")
    ckpt = str(tmp_path / "ckpt")

    pipe1 = StreamingPipeline(routes=_routes(), out_root=out)
    stream1 = stream_pages(spark, pages_dir, max_files_per_trigger=1)
    q1 = pipe1.start(stream1, checkpoint_dir=ckpt, available_now=False)
    # wait until at least one micro-batch committed, then hard-stop
    import time

    deadline = time.monotonic() + 120
    while not pipe1.epochs_seen and time.monotonic() < deadline:
        time.sleep(0.25)
    q1.stop()
    q1.awaitTermination(60)
    assert pipe1.epochs_seen, "no micro-batch committed before stop"
    partial = pipe1.sinks["audit"].committed_row_count()
    total_expected = _batch_expected(spark, pages_dir)["audit"]
    assert 0 < partial <= total_expected

    # restart with the same checkpoint + sink roots: replayed epochs are
    # skipped by the idempotent sinks, missing ones are delivered
    pipe2 = StreamingPipeline(routes=_routes(), out_root=out)
    q2 = pipe2.start(
        stream_pages(spark, pages_dir, max_files_per_trigger=1),
        checkpoint_dir=ckpt,
        available_now=True,
    )
    q2.awaitTermination(120)
    assert pipe2.sink_counts() == _batch_expected(spark, pages_dir)


def test_processing_time_trigger_drains(spark, pages_dir, tmp_path):
    """S3 scraper-controller tick (scrapercontroller.go:71-123): a
    processingTime trigger periodically drains the source; totals converge
    to the batch expectation, then the query is stopped externally."""
    import time

    pipe = StreamingPipeline(routes=_routes(), out_root=str(tmp_path / "sinks"))
    q = pipe.start(
        stream_pages(spark, pages_dir, max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=False,
        processing_time="1 second",
    )
    expected = _batch_expected(spark, pages_dir)
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        if pipe.sink_counts() == expected:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)
    assert pipe.sink_counts() == expected


def test_hot_reload_rebuild_resumes_from_checkpoint(spark, pages_dir, tmp_path):
    """Config hot-reload analog (otelcol/collector.go:189-202,221-251):
    stop, rebuild from the CHANGED config, restart on the same checkpoint —
    already-committed epochs are not reprocessed (the new route sees only
    post-reload data), and totals stay exact."""
    from opentelemetry_collector_spark.plans.config import load_config

    cfg_v1 = """
receivers: {pages: {kind: pages_parquet}}  # path injected by the test
exporters:
  audit: {kind: parquet, all: true}
service:
  pipelines:
    logs: {receivers: [pages], processors: [], exporters: [audit]}
"""
    cfg_v2 = """
receivers: {pages: {kind: pages_parquet}}  # path injected by the test
exporters:
  audit: {kind: parquet, all: true}
  errors: {kind: parquet, predicate: "severity_number >= 17"}
service:
  pipelines:
    logs: {receivers: [pages], processors: [], exporters: [audit, errors]}
"""
    out, ckpt = str(tmp_path / "sinks"), str(tmp_path / "ckpt")
    in_dir = str(tmp_path / "pages")
    _write_pages_files(spark, in_dir, n_files=2)

    pipe1 = StreamingPipeline.from_config(spark, load_config(cfg_v1), "logs", out)
    q1 = pipe1.start(stream_pages(spark, in_dir), checkpoint_dir=ckpt)
    q1.awaitTermination(120)
    first_total = pipe1.sink_counts()["audit"]
    assert first_total == _batch_expected(spark, in_dir)["audit"]

    # config change: new files arrive, the watcher rebuilds and restarts
    ids = np.arange(10_000, 10_120, dtype=np.uint64)
    spark.createDataFrame(generate_pages_pandas(ids), PAGES_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(in_dir)
    pipe2 = StreamingPipeline.from_config(spark, load_config(cfg_v2), "logs", out)
    q2 = pipe2.start(stream_pages(spark, in_dir), checkpoint_dir=ckpt)
    q2.awaitTermination(120)

    counts = pipe2.sink_counts()
    assert counts["audit"] == _batch_expected(spark, in_dir)["audit"]  # no loss, no dups
    # the new route only sees post-reload epochs (old epochs not replayed)
    new_pages = parse_pages(
        spark.createDataFrame(generate_pages_pandas(ids), PAGES_SCHEMA)
    )
    new_errors = new_pages.where(F.col("severity_number") >= 17).count()
    assert counts["errors"] == new_errors


def test_lineage_replay_is_idempotent(spark, pages_dir, tmp_path):
    """A replayed micro-batch (crash between sink commit and checkpoint
    commit) must not duplicate lineage rows: lineage is epoch-keyed
    overwrite, the same exactly-once contract as the data sinks."""
    from opentelemetry_collector_spark.streaming.telemetry import read_lineage

    lineage_dir = str(tmp_path / "lineage")
    pipe = StreamingPipeline(
        routes=_routes(), out_root=str(tmp_path / "sinks"), lineage_dir=lineage_dir
    )
    pages = spark.read.parquet(pages_dir)  # a micro-batch of the source
    pipe.process_batch(pages, epoch_id=0)
    first = sorted(map(tuple, read_lineage(spark, lineage_dir).collect()))
    pipe.process_batch(pages, epoch_id=0)  # replay
    second = sorted(map(tuple, read_lineage(spark, lineage_dir).collect()))
    assert first == second
    assert first  # non-empty


def test_epoch_is_one_write_job_and_one_marker(spark, pages_dir, tmp_path, monkeypatch):
    """A micro-batch commits every route in ONE ``write_epoch`` job and ONE
    commit marker, whose ``per_sink`` equals the routed counts — the batch
    runner's write, not one filtered write and marker per route."""
    from opentelemetry_collector_spark.streaming.sinks import IdempotentParquetSink

    calls = []
    write_epoch = IdempotentParquetSink.write_epoch

    def spy(self, *a, **kw):
        calls.append(self.root)
        return write_epoch(self, *a, **kw)

    monkeypatch.setattr(IdempotentParquetSink, "write_epoch", spy)
    out = str(tmp_path / "sinks")
    pipe = StreamingPipeline(routes=_routes(), out_root=out)
    pages = spark.read.parquet(pages_dir)
    pipe.process_batch(pages, epoch_id=0)

    assert calls == [out]
    assert os.listdir(os.path.join(out, "_commits")) == ["0.json"]
    router = pipe.plan.router
    want = {r["sink"]: r["n"] for r in router.route_counts(router.assign(parse_pages(pages))).collect()}
    assert pipe.sink.epoch_meta(0)["per_sink"] == want
    assert {name: h.epoch_meta(0)["rows"] for name, h in pipe.sinks.items()} == want


def test_windowed_severity_counts_streaming(spark, pages_dir, tmp_path):
    """Watermarked tumbling window over the record stream; results equal
    the same expression evaluated in batch (append mode emits only
    watermark-closed windows, so drive with availableNow and compare the
    emitted subset against batch)."""
    # one file per micro-batch: the watermark only advances between
    # batches, so a single availableNow batch would emit no closed windows
    records_stream = parse_pages(stream_pages(spark, pages_dir, max_files_per_trigger=1))
    agg = windowed_severity_counts(records_stream, width="1 minute", watermark="0 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_sev")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_win"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["severity_text"]): r["items"]
        for r in spark.sql("SELECT * FROM win_sev").collect()
    }
    batch = windowed_severity_counts(
        parse_pages(spark.read.parquet(pages_dir)), width="1 minute", watermark="0 seconds"
    )
    expected = {
        (r["window_start"], r["severity_text"]): r["items"] for r in batch.collect()
    }
    # append mode may hold back the max-event-time window (not yet closed
    # by the watermark); everything emitted must match batch exactly
    assert got
    for k, v in got.items():
        assert expected[k] == v


def test_receivers_built_from_config(spark, pages_dir, tmp_path):
    """S1 streaming: from_config builds the stream source from the
    pipeline's receiver section (path, max_files_per_trigger) the way the
    batch runner does — no injected pages_stream
    (service/graph.go:59-102 builds receivers identically in both modes)."""
    from opentelemetry_collector_spark.plans.config import load_config

    cfg = f"""
receivers:
  pages:
    kind: pages_parquet
    path: {pages_dir}
    max_files_per_trigger: 2
exporters:
  audit: {{kind: parquet, all: true}}
service:
  pipelines:
    logs: {{receivers: [pages], processors: [], exporters: [audit]}}
"""
    out = str(tmp_path / "sinks")
    pipe = StreamingPipeline.from_config(spark, load_config(cfg), "logs", out)
    assert pipe.source is not None
    q = pipe.start(checkpoint_dir=str(tmp_path / "ckpt"))  # no stream arg
    q.awaitTermination(120)
    assert pipe.sink_counts()["audit"] == _batch_expected(spark, pages_dir)["audit"]


def test_watch_driven_reload_resumes_from_checkpoint(spark, tmp_path):
    """The collector's watch-driven reload loop
    (otelcol/collector.go:221-251): flipping the config FILE triggers
    stop → rebuild → restart on the same checkpoint with no manual
    intervention; totals stay exact and the new route only sees
    post-reload epochs."""
    import threading
    import time

    from opentelemetry_collector_spark.streaming.stream import watch_and_run

    in_dir = str(tmp_path / "pages")
    _write_pages_files(spark, in_dir, n_files=2)
    cfg_path = tmp_path / "collector.yaml"

    def cfg_text(with_errors: bool) -> str:
        routes = "  audit: {kind: parquet, all: true}\n"
        exporters = ["audit"]
        if with_errors:
            routes += '  errors: {kind: parquet, predicate: "severity_number >= 17"}\n'
            exporters.append("errors")
        return (
            f"receivers:\n  pages:\n    kind: pages_parquet\n    path: {in_dir}\n"
            f"exporters:\n{routes}"
            f"service:\n  pipelines:\n    logs:\n      receivers: [pages]\n"
            f"      processors: []\n      exporters: [{', '.join(exporters)}]\n"
        )

    cfg_path.write_text(cfg_text(False))
    stop = threading.Event()
    rebuilds: list[int] = []
    result: dict = {}

    def runner():
        result["generations"] = watch_and_run(
            spark,
            f"file:{cfg_path}",
            "logs",
            str(tmp_path / "sinks"),
            str(tmp_path / "ckpt"),
            poll_interval=0.25,
            processing_time="1 seconds",
            stop_event=stop,
            on_rebuild=lambda pipe, gen: rebuilds.append(gen),
        )

    t = threading.Thread(target=runner, daemon=True)
    t.start()

    def wait_until(cond, timeout=180):
        deadline = time.time() + timeout
        while time.time() < deadline:
            if cond():
                return True
            time.sleep(0.5)
        return False

    expected1 = _batch_expected(spark, in_dir)["audit"]
    assert wait_until(lambda: rebuilds), "pipeline never started"

    def gen():  # most recent pipeline generation seen by on_rebuild
        return rebuilds[-1] if rebuilds else 0

    # poll sink counts via a fresh reader (the pipeline object lives in
    # the runner thread; sinks are on disk)
    from opentelemetry_collector_spark.streaming.router import SinkRoute
    from opentelemetry_collector_spark.streaming.sinks import IdempotentParquetSink

    audit_sink = SinkRoute(IdempotentParquetSink(str(tmp_path / "sinks"), name="logs"), "audit")
    assert wait_until(lambda: audit_sink.committed_row_count() == expected1), (
        f"gen1 drain: {audit_sink.committed_row_count()} != {expected1}"
    )

    # flip the config — the watcher must rebuild without intervention
    cfg_path.write_text(cfg_text(True))
    assert wait_until(lambda: gen() >= 2), "watcher never rebuilt"

    # new files arrive post-reload
    ids = np.arange(20_000, 20_120, dtype=np.uint64)
    spark.createDataFrame(generate_pages_pandas(ids), PAGES_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(in_dir)
    expected2 = _batch_expected(spark, in_dir)["audit"]
    errors_sink = SinkRoute(IdempotentParquetSink(str(tmp_path / "sinks"), name="logs"), "errors")
    new_errors = (
        parse_pages(spark.createDataFrame(generate_pages_pandas(ids), PAGES_SCHEMA))
        .where(F.col("severity_number") >= 17)
        .count()
    )
    assert wait_until(lambda: audit_sink.committed_row_count() == expected2), (
        "post-reload drain incomplete"
    )
    # the errors route commits in the same epoch markers as audit; wait
    # for its count too before stopping
    assert wait_until(lambda: errors_sink.committed_row_count() == new_errors), (
        f"errors drain: {errors_sink.committed_row_count()} != {new_errors}"
    )

    stop.set()
    t.join(timeout=60)
    assert not t.is_alive()
    gens = result["generations"]
    assert len(gens) >= 2  # at least one reload happened
    # exactly-once across the reload: no loss, no duplicates
    assert audit_sink.committed_row_count() == expected2
    # the new route only sees post-reload epochs
    assert errors_sink.committed_row_count() == new_errors


def test_streaming_honors_send_batch_max_size(spark, pages_dir, tmp_path):
    """The batch processor's send_batch_max_size caps STREAMING output
    files too (per-write option on the epoch sinks — previously only the
    batch runner honored it)."""
    import glob

    import pyarrow.parquet as pq

    from opentelemetry_collector_spark.plans.config import load_config

    cfg = f"""
receivers:
  pages: {{kind: pages_parquet, path: {pages_dir}}}
processors:
  batch: {{send_batch_max_size: 20}}
exporters:
  audit: {{kind: parquet, all: true}}
service:
  pipelines:
    logs: {{receivers: [pages], processors: [batch], exporters: [audit]}}
"""
    out = str(tmp_path / "sinks")
    pipe = StreamingPipeline.from_config(spark, load_config(cfg), "logs", out)
    assert pipe.plan.write_options["max_records_per_file"] == 20
    q = pipe.start(checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    files = glob.glob(f"{out}/data/epoch=*/sink=audit/part-*.parquet")
    assert files
    assert max(pq.read_metadata(f).num_rows for f in files) <= 20
    assert pipe.sink_counts()["audit"] == _batch_expected(spark, pages_dir)["audit"]


def test_from_config_unions_all_receivers_and_honors_engine(spark, pages_dir, tmp_path):
    """from_config must union EVERY supported receiver (not just the
    first — the batch runner unions its inputs) and carry the parse
    processor's engine option into the plan instead of silently dropping
    it."""
    from opentelemetry_collector_spark.plans.config import load_config

    second = str(tmp_path / "pages2")
    _write_pages_files(spark, second, n_files=1, rows_per_file=40)
    cfg = f"""
receivers:
  pages_a: {{kind: pages_parquet, path: {pages_dir}}}
  pages_b: {{kind: pages_parquet, path: {second}}}
processors:
  parse: {{engine: arrow}}
exporters:
  audit: {{kind: parquet, all: true}}
service:
  pipelines:
    logs: {{receivers: [pages_a, pages_b], processors: [parse], exporters: [audit]}}
"""
    out = str(tmp_path / "sinks")
    pipe = StreamingPipeline.from_config(spark, load_config(cfg), "logs", out)
    assert pipe.plan.stages[0].options["engine"] == "arrow"
    assert pipe.source is not None
    q = pipe.start(checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    expected = (
        _batch_expected(spark, pages_dir)["audit"]
        + _batch_expected(spark, second)["audit"]
    )
    assert pipe.sink_counts()["audit"] == expected


def test_streaming_deduper_exactly_once_across_epochs(spark, tmp_path):
    from opentelemetry_collector_spark.streaming.dedup import StreamingDeduper

    root = str(tmp_path / "digest_snapshot")
    dd = StreamingDeduper(root)
    b0 = spark.createDataFrame(
        [(1, "page alpha"), (2, "page beta"), (3, "page alpha")],
        "doc_id long, text string",
    )
    s0 = dd.dedupe_batch(b0, 0)
    assert {r["doc_id"] for r in s0.collect()} == {1, 2}
    s0.unpersist()

    b1 = spark.createDataFrame(
        [(10, "page alpha"), (11, "page gamma")], "doc_id long, text string"
    )
    s1 = dd.dedupe_batch(b1, 1)
    assert {r["doc_id"] for r in s1.collect()} == {11}
    s1.unpersist()

    # replayed micro-batch (crash between snapshot commit and checkpoint
    # commit): same epoch id → same survivor set, snapshot unchanged
    replay = dd.dedupe_batch(b1, 1)
    assert {r["doc_id"] for r in replay.collect()} == {11}
    replay.unpersist()
    assert dd.sink.committed_epochs() == [0, 1]

    # restart (fresh deduper over the same snapshot root): accumulated
    # state survives the process, exactly like a checkpoint resume
    dd2 = StreamingDeduper(root)
    b2 = spark.createDataFrame(
        [(20, "page gamma"), (21, "page delta")], "doc_id long, text string"
    )
    s2 = dd2.dedupe_batch(b2, 2)
    assert {r["doc_id"] for r in s2.collect()} == {21}
    s2.unpersist()


def test_config_declared_dedup_processor_dedupes_across_batches(spark, tmp_path):
    """A pipeline declaring `dedup` drops records whose content an
    earlier micro-batch already shipped: two files carrying the SAME
    page ids (identical bodies) stream as two micro-batches
    (maxFilesPerTrigger=1); the sink receives each distinct record once."""
    from opentelemetry_collector_spark.plans.config import load_config

    src = str(tmp_path / "pages_dup")
    ids = np.arange(0, 40, dtype=np.uint64)
    for _ in range(2):  # same ids → byte-identical pages, twice
        pdf = generate_pages_pandas(ids)
        spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    cfg = f"""
receivers:
  pages: {{kind: pages_parquet, path: {src}, max_files_per_trigger: 1}}
processors:
  dedup: {{}}
exporters:
  audit: {{kind: parquet, all: true}}
service:
  pipelines:
    logs: {{receivers: [pages], processors: [dedup], exporters: [audit]}}
"""
    out = str(tmp_path / "sinks")
    pipe = StreamingPipeline.from_config(spark, load_config(cfg), "logs", out)
    assert pipe.plan.stages[1].deduper is not None
    q = pipe.start(checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert len(pipe.epochs_seen) >= 2  # the dup file really was a 2nd batch
    # one file's worth of parsed records, not two
    once = parse_pages(
        spark.createDataFrame(generate_pages_pandas(ids), PAGES_SCHEMA)
    ).count()
    assert pipe.sink_counts()["audit"] == once


def test_config_dedup_after_other_processor_is_rejected(spark, tmp_path):
    """`dedup` state is keyed on the records as parsed; a config declaring
    it AFTER another (non-parse) processor is rejected at compile time."""
    from opentelemetry_collector_spark.plans.config import load_config

    cfg = f"""
receivers:
  pages: {{kind: pages_parquet, path: {tmp_path}}}
processors:
  keep_err: {{kind: filter, keep_where: 'severity_text == "ERROR"'}}
  dedup: {{}}
exporters:
  audit: {{kind: parquet, all: true}}
service:
  pipelines:
    logs: {{receivers: [pages], processors: [keep_err, dedup], exporters: [audit]}}
"""
    with pytest.raises(ValueError, match="must be declared before"):
        StreamingPipeline.from_config(
            spark, load_config(cfg), "logs", str(tmp_path / "sinks")
        )
    # declared FIRST (parse may still precede it) the same config builds
    ok = f"""
receivers:
  pages: {{kind: pages_parquet, path: {tmp_path}}}
processors:
  dedup: {{}}
  keep_err: {{kind: filter, keep_where: 'severity_text == "ERROR"'}}
exporters:
  audit: {{kind: parquet, all: true}}
service:
  pipelines:
    logs: {{receivers: [pages], processors: [dedup, keep_err], exporters: [audit]}}
"""
    pipe = StreamingPipeline.from_config(
        spark, load_config(ok), "logs", str(tmp_path / "sinks")
    )
    assert pipe.plan.stages[1].deduper is not None


def test_streaming_near_deduper_catches_edits_and_replays(spark, tmp_path):
    """StreamingNearDeduper drops an EDITED near-dup of a prior epoch's
    survivor (exact digests would miss it), keeps fresh docs, and is
    replay-idempotent with restart-surviving signature state."""
    from opentelemetry_collector_spark.streaming.dedup import StreamingNearDeduper

    base = "the quick brown fox jumps over the lazy dog again and again"
    edit = "the quick brown fox jumps over the lazy cat again and again"
    root = str(tmp_path / "sig_snapshot")
    dd = StreamingNearDeduper(root, threshold=0.5)
    b0 = spark.createDataFrame(
        [(1, base), (2, "completely unrelated text about streaming state")],
        "doc_id long, text string",
    )
    s0 = dd.dedupe_batch_rows(b0, 0)
    assert {r["doc_id"] for r in s0.collect()} == {1, 2}
    s0.unpersist()

    b1 = spark.createDataFrame(
        [(10, edit), (11, "yet another brand new document body entirely")],
        "doc_id long, text string",
    )
    s1 = dd.dedupe_batch_rows(b1, 1)
    assert {r["doc_id"] for r in s1.collect()} == {11}  # the edit is caught
    s1.unpersist()

    # replay: same epoch id → identical survivors, snapshot unchanged
    replay = dd.dedupe_batch_rows(b1, 1)
    assert {r["doc_id"] for r in replay.collect()} == {11}
    replay.unpersist()
    assert dd.sink.committed_epochs() == [0, 1]

    # restart over the same snapshot root: state survives the process
    dd2 = StreamingNearDeduper(root, threshold=0.5)
    b2 = spark.createDataFrame(
        [(20, base), (21, "one more genuinely novel body of words here")],
        "doc_id long, text string",
    )
    s2 = dd2.dedupe_batch_rows(b2, 2)
    assert {r["doc_id"] for r in s2.collect()} == {21}
    s2.unpersist()


def test_streaming_deduper_bloom_gated_matches_plain(spark, tmp_path):
    """The bloom-gated deduper yields bit-identical survivors to the
    plain path across epochs, replays idempotently, and persists one
    bloom slice per epoch; a digest epoch whose bloom slice is missing
    (legacy snapshot / crash between the two commits) is rebuilt from
    its digests, so exactness never depends on the bloom artifact."""
    import shutil

    from opentelemetry_collector_spark.streaming.dedup import StreamingDeduper

    batches = [
        [(1, "page alpha"), (2, "page beta"), (3, "page alpha")],
        [(10, "page alpha"), (11, "page gamma")],
        [(20, "page gamma"), (21, "page delta"), (22, "page beta")],
    ]
    plain = StreamingDeduper(str(tmp_path / "plain"))
    gated = StreamingDeduper(
        str(tmp_path / "gated"), bloom_m_bits=1 << 12, bloom_k=3
    )
    for e, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sp = plain.dedupe_batch(df, e)
        sg = gated.dedupe_batch(df, e)
        assert sorted(map(tuple, sp.collect())) == sorted(map(tuple, sg.collect())), e
        sp.unpersist(), sg.unpersist()
    assert gated.bloom_sink.committed_epochs() == [0, 1, 2]

    # replay epoch 2: same survivors, no new slices
    df = spark.createDataFrame(batches[2], "doc_id long, text string")
    replay = gated.dedupe_batch(df, 2)
    assert {r["doc_id"] for r in replay.collect()} == {21}
    replay.unpersist()
    assert gated.sink.committed_epochs() == [0, 1, 2]

    # knock out epoch 1's bloom slice: epoch 3 must still be exact
    # (missing bloom rebuilt from the epoch's digests on the fly)
    os.remove(gated.bloom_sink._marker(1))
    shutil.rmtree(
        os.path.join(gated.bloom_sink.data_dir, "epoch=1"), ignore_errors=True
    )
    b3 = spark.createDataFrame(
        [(30, "page gamma"), (31, "page epsilon")], "doc_id long, text string"
    )
    s3 = gated.dedupe_batch(b3, 3)
    assert {r["doc_id"] for r in s3.collect()} == {31}
    s3.unpersist()


def test_config_declared_bloom_dedup_matches_plain(spark, tmp_path):
    """`dedup: {bloom_m_bits: ...}` runs the Bloom-gated rows path with
    the same sink totals as the ungated config — and persists per-epoch
    bloom slices alongside the digest snapshot."""
    from opentelemetry_collector_spark.plans.config import load_config

    src = str(tmp_path / "pages_dup")
    ids = np.arange(0, 40, dtype=np.uint64)
    for _ in range(2):
        pdf = generate_pages_pandas(ids)
        spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    cfg = f"""
receivers:
  pages: {{kind: pages_parquet, path: {src}, max_files_per_trigger: 1}}
processors:
  dedup: {{bloom_m_bits: 4096, bloom_k: 3}}
exporters:
  audit: {{kind: parquet, all: true}}
service:
  pipelines:
    logs: {{receivers: [pages], processors: [dedup], exporters: [audit]}}
"""
    out = str(tmp_path / "sinks")
    pipe = StreamingPipeline.from_config(spark, load_config(cfg), "logs", out)
    dd = pipe.plan.stages[1].deduper
    assert dd is not None and dd.bloom_m_bits == 4096
    q = pipe.start(checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)
    assert len(pipe.epochs_seen) >= 2
    once = parse_pages(
        spark.createDataFrame(generate_pages_pandas(ids), PAGES_SCHEMA)
    ).count()
    assert pipe.sink_counts()["audit"] == once
    assert dd.bloom_sink.committed_epochs() == sorted(dd.sink.committed_epochs())


def test_dedupe_batch_rows_bloom_gated_matches_plain(spark, tmp_path):
    """The rows-preserving dedup path yields identical survivor rows
    with and without the gate, including under a filter so small that
    most probes are false positives."""
    from opentelemetry_collector_spark.streaming.dedup import StreamingDeduper

    batches = [
        [(1, "page alpha"), (2, "page beta"), (3, "page alpha")],
        [(10, "page alpha"), (11, "page gamma")],
        [(20, "page gamma"), (21, "page delta"), (22, "page beta")],
    ]
    plain = StreamingDeduper(str(tmp_path / "p"))
    gated = StreamingDeduper(str(tmp_path / "g"), bloom_m_bits=64, bloom_k=2)
    for e, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sp = plain.dedupe_batch_rows(df, e)
        sg = gated.dedupe_batch_rows(df, e)
        assert sorted(map(tuple, sp.collect())) == sorted(
            map(tuple, sg.collect())
        ), e
        sp.unpersist(), sg.unpersist()


def test_snapshot_compaction_preserves_dedup_and_truncates_state(spark, tmp_path):
    """compact() merges old epoch slices into one artifact without
    changing any later batch's survivor set; the newest epoch may never
    be absorbed; re-compaction folds the prior artifact in; and the
    bloom-gated deduper compacts both state families in lockstep."""
    from opentelemetry_collector_spark.streaming.dedup import StreamingDeduper

    batches = [
        [(1, "page alpha"), (2, "page beta")],
        [(10, "page alpha"), (11, "page gamma")],
        [(20, "page gamma"), (21, "page delta")],
        [(30, "page delta"), (31, "page beta"), (32, "page epsilon")],
    ]
    ref = StreamingDeduper(str(tmp_path / "ref"))
    cc = StreamingDeduper(
        str(tmp_path / "cc"), bloom_m_bits=1 << 12, bloom_k=3
    )
    want = []
    for e, rows in enumerate(batches[:3]):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        want.append(sorted(map(tuple, ref.dedupe_batch(df, e).collect())))
        got = cc.dedupe_batch(df, e)
        assert sorted(map(tuple, got.collect())) == want[e]
        got.unpersist()

    # absorbing the newest epoch is refused (its replay view would change)
    with pytest.raises(ValueError, match="replay safety"):
        cc.compact(spark, 2)

    assert cc.compact(spark, 1) == 2  # epochs 0+1 → compact=1
    assert cc.sink.committed_epochs() == [2]
    assert os.path.isdir(os.path.join(cc.sink.data_dir, "compact=1"))
    assert cc.bloom_sink.committed_epochs() == [2]

    # epoch 3 after compaction: identical survivors vs the uncompacted ref
    df3 = spark.createDataFrame(batches[3], "doc_id long, text string")
    want3 = sorted(map(tuple, ref.dedupe_batch(df3, 3).collect()))
    got3 = cc.dedupe_batch(df3, 3)
    assert sorted(map(tuple, got3.collect())) == want3
    got3.unpersist()
    # {32: epsilon} is the only survivor (alpha/beta/gamma/delta all seen)
    assert [t[1] for t in want3] == [32]

    # re-compaction folds the prior artifact + epoch 2 into compact=2
    assert cc.compact(spark, 2) == 2
    assert cc.sink.committed_epochs() == [3]
    assert not os.path.isdir(os.path.join(cc.sink.data_dir, "compact=1"))
    # replay of epoch 3 AFTER compaction: same survivors, nothing rewritten
    replay = cc.dedupe_batch(df3, 3)
    assert sorted(map(tuple, replay.collect())) == want3
    replay.unpersist()
    # compacted digest set is the union of what it absorbed
    comp = spark.read.parquet(
        os.path.join(cc.sink.data_dir, "compact=2")
    )
    assert comp.count() == 4  # alpha beta gamma delta
    # nothing-to-do case returns 0
    assert cc.compact(spark, 2) == 0


def test_snapshot_compaction_plain_deduper_without_bloom(spark, tmp_path):
    """Compaction also works for the bloom-less deduper (digest state
    only), and a deduper restarted over a compacted root sees the full
    seen set."""
    from opentelemetry_collector_spark.streaming.dedup import StreamingDeduper

    root = str(tmp_path / "plain")
    dd = StreamingDeduper(root)
    for e, rows in enumerate(
        [[(1, "a a a"), (2, "b b b")], [(10, "c c c")], [(20, "d d d")]]
    ):
        dd.dedupe_batch(
            spark.createDataFrame(rows, "doc_id long, text string"), e
        ).unpersist()
    assert dd.compact(spark, 1) == 2
    dd2 = StreamingDeduper(root)  # restart over compacted state
    out = dd2.dedupe_batch(
        spark.createDataFrame(
            [(30, "a a a"), (31, "e e e")], "doc_id long, text string"
        ),
        3,
    )
    assert {r["doc_id"] for r in out.collect()} == {31}
    out.unpersist()


def test_config_dedup_compact_every_truncates_snapshot(spark, tmp_path):
    """`dedup: {compact_every: 2}` folds old snapshot slices during the
    stream: after 4+ micro-batches the digest snapshot holds a
    compaction artifact plus only the epochs above it, and sink totals
    equal the non-compacting pipeline's."""
    from opentelemetry_collector_spark.plans.config import load_config

    src = str(tmp_path / "pages_many")
    ids = np.arange(0, 30, dtype=np.uint64)
    for _ in range(4):  # 4 identical files → 4 micro-batches
        pdf = generate_pages_pandas(ids)
        spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    cfg = f"""
receivers:
  pages: {{kind: pages_parquet, path: {src}, max_files_per_trigger: 1}}
processors:
  dedup: {{bloom_m_bits: 4096, compact_every: 2}}
exporters:
  audit: {{kind: parquet, all: true}}
service:
  pipelines:
    logs: {{receivers: [pages], processors: [dedup], exporters: [audit]}}
"""
    out = str(tmp_path / "sinks")
    pipe = StreamingPipeline.from_config(spark, load_config(cfg), "logs", out)
    assert pipe.plan.stages[1].compact_every == 2
    q = pipe.start(checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(240)
    assert len(pipe.epochs_seen) >= 4
    once = parse_pages(
        spark.createDataFrame(generate_pages_pandas(ids), PAGES_SCHEMA)
    ).count()
    assert pipe.sink_counts()["audit"] == once
    from opentelemetry_collector_spark.streaming.dedup import _latest_compaction

    dd = pipe.plan.stages[1].deduper
    comp = _latest_compaction(dd.sink)
    assert comp is not None  # at least one compaction ran mid-stream
    # the snapshot now reads as: one artifact + the epochs above it
    live = dd.sink.committed_epochs()
    assert live and min(live) > comp


def test_near_deduper_compaction_preserves_filter(spark, tmp_path):
    """Signature-snapshot compaction: filtering is unchanged after old
    epochs merge into one artifact, and the newest epoch is protected."""
    from opentelemetry_collector_spark.streaming.dedup import (
        StreamingNearDeduper,
        _latest_compaction,
    )

    base = "the quick brown fox jumps over the lazy dog today"
    nd = StreamingNearDeduper(str(tmp_path / "nd"), threshold=0.5)
    b0 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    nd.dedupe_batch_rows(b0, 0).unpersist()
    b1 = spark.createDataFrame(
        [(10, "completely different words in this one here now ok")],
        "doc_id long, text string",
    )
    nd.dedupe_batch_rows(b1, 1).unpersist()
    b2 = spark.createDataFrame([(20, "another unrelated page")], "doc_id long, text string")
    nd.dedupe_batch_rows(b2, 2).unpersist()
    with pytest.raises(ValueError, match="replay safety"):
        nd.compact(spark, 2)
    assert nd.compact(spark, 1) == 2
    assert _latest_compaction(nd.sink) == 1 and nd.sink.committed_epochs() == [2]
    # near-dup of the epoch-0 survivor is still filtered post-compaction
    b3 = spark.createDataFrame(
        [(30, base.replace("dog", "cat")), (31, "brand new text entirely")],
        "doc_id long, text string",
    )
    out = nd.dedupe_batch_rows(b3, 3)
    assert {r["doc_id"] for r in out.collect()} == {31}
    out.unpersist()


def test_bloom_gate_survives_colliding_record_columns(spark, tmp_path):
    """Record frames may legitimately carry columns named m_bits/k/words
    — the gate's bloom row must ride the cross join under prefixed names
    and leave the user columns untouched."""
    from opentelemetry_collector_spark.streaming.dedup import StreamingDeduper

    dd = StreamingDeduper(str(tmp_path / "c"), bloom_m_bits=1 << 12, bloom_k=3)
    b0 = spark.createDataFrame(
        [(1, "page alpha", 7, 8, "w0")],
        "doc_id long, text string, m_bits int, k int, words string",
    )
    dd.dedupe_batch_rows(b0, 0).unpersist()
    b1 = spark.createDataFrame(
        [(10, "page alpha", 1, 2, "w1"), (11, "page beta", 3, 4, "w2")],
        "doc_id long, text string, m_bits int, k int, words string",
    )
    out = dd.dedupe_batch_rows(b1, 1)
    rows = {r["doc_id"]: r for r in out.collect()}
    out.unpersist()
    assert set(rows) == {11}
    # user columns intact
    assert (rows[11]["m_bits"], rows[11]["k"], rows[11]["words"]) == (3, 4, "w2")


def test_config_declared_encoding_gate_drops_corrupt_records(spark, tmp_path):
    """encoding_gate as a config-declared streaming processor: records
    whose body carries a lossy-decode marker never reach the sink; the
    stream total matches the batch twin with the same gate applied."""
    from opentelemetry_collector_spark.plans.config import load_config

    d = str(tmp_path / "pages")
    _write_pages_files(spark, d, n_files=1, rows_per_file=30)
    # plant one page whose FIRST line carries a replacement character
    pdf = generate_pages_pandas(np.arange(1000, 1002, dtype=np.uint64))
    pdf.loc[0, "text"] = "� " + str(pdf.loc[0, "text"])
    spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    records = parse_pages(spark.read.parquet(d))
    total = records.count()
    corrupt = records.where(F.col("body").contains("�")).count()
    assert corrupt >= 1  # the planted line parsed into a record

    cfg = f"""
receivers:
  pages: {{kind: pages_parquet, path: {d}}}
processors:
  gate: {{kind: encoding_gate}}
exporters:
  audit: {{kind: parquet, all: true}}
service:
  pipelines:
    logs: {{receivers: [pages], processors: [gate], exporters: [audit]}}
"""
    pipe = StreamingPipeline.from_config(
        spark, load_config(cfg), "logs", str(tmp_path / "sinks")
    )
    q = pipe.start(checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert pipe.sink_counts()["audit"] == total - corrupt


def test_streaming_write_honors_metadata_keys_and_compression(spark, pages_dir, tmp_path):
    """The STREAMING write path honors the same per-write contracts as the
    batch runner: metadata_keys → partitionBy(*keys) per epoch (no file
    mixes key values, batch_processor.go:65-75) and exporter compression →
    per-write parquet codec (configcompression analog)."""
    import glob

    import pyarrow.parquet as pq

    from opentelemetry_collector_spark.plans.config import load_config

    cfg = f"""
receivers:
  pages:
    kind: pages_parquet
    path: {pages_dir}
processors:
  batch/md:
    kind: batch
    metadata_keys: [severity_text]
exporters:
  audit:
    kind: parquet
    all: true
    compression: gzip
service:
  pipelines:
    logs:
      receivers: [pages]
      processors: [batch/md]
      exporters: [audit]
"""
    out = str(tmp_path / "sinks")
    pipe = StreamingPipeline.from_config(spark, load_config(cfg), "logs", out)
    q = pipe.start(checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert pipe.sink_counts()["audit"] == _batch_expected(spark, pages_dir)["audit"]
    files = glob.glob(f"{out}/data/epoch=*/sink=audit/severity_text=*/part-*.parquet")
    assert files, "expected per-key-value partition directories in each epoch"
    f = files[0]
    assert "severity_text" not in pq.read_schema(f).names
    assert pq.ParquetFile(f).metadata.row_group(0).column(0).compression == "GZIP"


def test_near_deduper_empty_snapshot_matches_string_id_type(spark, tmp_path):
    # the empty seen-signatures frame must derive the id column's type
    # from the live batch (streaming default id_col 'url' is a STRING);
    # the old hardcoded 'long' only worked because zero rows flowed
    from opentelemetry_collector_spark.streaming.dedup import StreamingNearDeduper

    dd = StreamingNearDeduper(
        str(tmp_path / "sig_url"), id_col="url", text_col="body", threshold=0.5
    )
    b0 = spark.createDataFrame(
        [("https://a.example/x", "one shared body of text right here")],
        "url string, body string",
    )
    s0 = dd.dedupe_batch_rows(b0, 0)
    assert s0.count() == 1
    s0.unpersist()
    # the empty frame's schema itself must agree with the persisted slices
    from opentelemetry_collector_spark.operators.dedup import minhash_signatures

    sigs = minhash_signatures(b0, "url", "body", dd.n, dd.num_hashes)
    empty = dd._seen_sigs(spark, 0, like=sigs)
    persisted = dd._seen_sigs(spark, 1)  # epoch 0 committed above
    assert dict(empty.dtypes)["url"] == dict(persisted.dtypes)["url"] == "string"
    empty.unionByName(persisted)  # must not raise on type mismatch


def test_streaming_enforces_metadata_cardinality_limit(spark, pages_dir, tmp_path):
    """Streaming epochs enforce the batch runner's
    metadata_cardinality_limit (config.go:51-56): a high-cardinality key
    (url) must FAIL loudly instead of silently writing unbounded
    partition directories per epoch."""
    from opentelemetry_collector_spark.plans.config import load_config

    cfg = f"""
receivers:
  pages:
    kind: pages_parquet
    path: {pages_dir}
processors:
  batch/md:
    kind: batch
    metadata_keys: [url]
    metadata_cardinality_limit: 3
exporters:
  audit:
    kind: parquet
    all: true
service:
  pipelines:
    logs:
      receivers: [pages]
      processors: [batch/md]
      exporters: [audit]
"""
    pipe = StreamingPipeline.from_config(
        spark, load_config(cfg), "logs", str(tmp_path / "sinks")
    )
    assert pipe.plan.cardinality_limit == 3
    q = pipe.start(checkpoint_dir=str(tmp_path / "ckpt"))
    # the limit breach surfaces as the stream's terminal exception
    with pytest.raises(Exception, match="metadata_cardinality_limit"):
        q.awaitTermination(120)


def test_streaming_rejects_connector_exporter(spark, pages_dir, tmp_path):
    """config.validate() permits a connector in the exporter slot (the
    batch runner bridges it); the streaming runner must say so in a
    ConfigError instead of dying with a raw KeyError."""
    from opentelemetry_collector_spark.plans.config import ConfigError, load_config

    cfg = f"""
receivers:
  pages:
    kind: pages_parquet
    path: {pages_dir}
connectors:
  fwd:
    kind: forward
exporters:
  audit:
    kind: parquet
    all: true
service:
  pipelines:
    logs:
      receivers: [pages]
      exporters: [fwd]
    logs/out:
      receivers: [fwd]
      exporters: [audit]
"""
    with pytest.raises(ConfigError, match="connector"):
        StreamingPipeline.from_config(
            spark, load_config(cfg), "logs", str(tmp_path / "sinks")
        )
