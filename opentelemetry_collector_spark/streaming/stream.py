"""Structured Streaming mode — the push data path as micro-batches.

A streaming pipeline runs the same ``PipelinePlan`` as the batch runner
(plans/compiler.py): ``compile_pipeline`` reads the config once, and each
``foreachBatch`` micro-batch is one ``run_epoch`` over the receiver's raw
rows — the stages in config order (parse included), the routes, the
cardinality limit, the write, exporter ``sent``, lineage and per-stage
counters harvested per epoch. A pages-fed pipeline that declares no
``parse`` gets the sql one at compile time, in both modes.

Both modes write the same layout: one ``IdempotentParquetSink`` per
pipeline, each epoch one ``write_partitioned`` job into ``<sink root>/
data/epoch=<id>/sink=<route>`` and one commit marker ``_commits/<id>.json``
whose ``per_sink`` holds every route's rows — all routes of an epoch
commit together, like one Iceberg snapshot. A stream's sink root is its
``out_root``; the batch runner's is ``<out_root>/<pipeline>``.

The reference's hot path is a synchronous consumer chain fed by receivers,
with two async boundaries: the batch processor's channel
(processor/batchprocessor/batch_processor.go:196-200) and the export queue
(exporter/exporterhelper/queued_retry.go:204-207). Structured Streaming
maps those exactly:

- micro-batch trigger     ≈ batch processor flush (count/time window);
  ``maxFilesPerTrigger``  ≈ send_batch_max_size (config.go:25-46);
- ``foreachBatch`` epoch  ≈ the export-queue work item; its epoch_id feeds
  the idempotent sinks, so replay-after-crash is exactly-once (the WAL
  upgrade of persistent_storage.go:283-349 — see sinks.py);
- checkpointLocation      ≈ the WAL's read/write indices (ri/wi keys,
  persistent_storage.go:29-83);
- watermark + window      ≈ the OTTL ``group_by(key, 2m)`` stateful design
  (docs/processing.md:217-222) with bounded state eviction.

``Trigger.AvailableNow`` is the scraper-controller drain-and-stop analog
(receiver/scraperhelper/scrapercontroller.go:179-191).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.compiler import (
    PipelinePlan,
    compile_pipeline,
    parse_stage,
    read_receiver,
    run_epoch,
    stream_pages,  # noqa: F401 — the file-stream source, importable here
)
from ..plans.config import ConfigError
from .router import FanoutRouter, Route, SinkRoute
from .sinks import IdempotentParquetSink
from .telemetry import PipelineTelemetry

# run_epoch (plans/compiler.py) writes the lineage now; the name stays
# importable here because the benchmark's tracer wraps it in this module
from .telemetry import write_lineage  # noqa: F401


@dataclass
class StreamingPipeline:
    """readStream → ``run_epoch`` per micro-batch → one idempotent
    partitioned write per epoch.

    One ``foreachBatch`` per micro-batch: the routed frame is computed
    once and written, every route in one job, to the epoch directory keyed
    by the micro-batch id under ``out_root``. A replayed micro-batch (crash
    between sink commit and checkpoint commit) hits an already-committed
    epoch and is skipped — exactly-once end to end. ``sinks`` maps each
    route to a read handle (``SinkRoute``) over the one sink.

    Built by ``from_config``, or in code from ``routes`` alone: a pages
    stream, the sql parse, those routes.
    """

    routes: Sequence[Route]
    out_root: str
    lineage_dir: str | None = None
    plan: PipelinePlan | None = None
    # the config-built source stream (S1); start() reads it when the
    # caller passes none
    source: DataFrame | None = None
    epochs_seen: list[int] = field(default_factory=list)

    def __post_init__(self) -> None:
        if self.plan is None:
            self.plan = PipelinePlan("stream", [parse_stage()], FanoutRouter(list(self.routes)))
        self.telemetry = PipelineTelemetry()
        self.sink = IdempotentParquetSink(self.out_root, name=self.plan.name)
        self.sinks = {r.name: SinkRoute(self.sink, r.name) for r in self.plan.router.routes}

    def process_batch(self, records: DataFrame, epoch_id: int) -> None:
        """One micro-batch of the source's rows as one epoch of the plan."""
        run_epoch(self.plan, records, int(epoch_id), self.sink, self.telemetry, self.lineage_dir)
        self.epochs_seen.append(int(epoch_id))

    def start(
        self,
        pages_stream: DataFrame | None = None,
        checkpoint_dir: str = None,
        available_now: bool = True,
        processing_time: str | None = None,
    ):
        """Start the micro-batch loop.

        ``pages_stream`` defaults to the config-built ``source`` (S1 —
        receivers come from the pipeline's receiver section, like the
        batch runner). ``processing_time`` (e.g. ``"5 seconds"``) is the
        scraper-controller's periodic tick (S3,
        receiver/scraperhelper/scrapercontroller.go:71-123: a ticker fires
        every collection_interval and drains whatever the source
        accumulated); it takes precedence over ``available_now``, which
        remains the drain-and-stop mode (scrapercontroller.go:179-191).
        """
        if pages_stream is None:
            pages_stream = self.source
        if pages_stream is None:
            raise ValueError(
                "no source: pass pages_stream or build via from_config with a "
                "receiver path"
            )
        writer = pages_stream.writeStream.foreachBatch(
            lambda df, eid: self.process_batch(df, eid)
        ).outputMode("update")
        if checkpoint_dir is not None:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        if processing_time is not None:
            writer = writer.trigger(processingTime=processing_time)
        elif available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    @classmethod
    def from_config(
        cls,
        spark: SparkSession,
        config,
        pipeline: str,
        out_root: str,
        lineage_dir: str | None = None,
    ) -> "StreamingPipeline":
        """Build from a CollectorConfig pipeline — the piece the hot-reload
        loop rebuilds on config change (otelcol/collector.go:189-202,
        221-251: a watched-config change triggers a full stop → rebuild →
        restart; state survives in the checkpoint + idempotent sinks, so
        the rebuilt pipeline resumes exactly-once). The RECEIVER section
        builds the stream source (graph.go:59-102 builds receivers
        identically in both modes) through ``read_receiver``, which
        refuses what a stream cannot read; ``compile_pipeline`` builds the
        rest.
        """
        plan = compile_pipeline(spark, config, pipeline, out_root)
        if plan.connectors:
            raise ConfigError(
                f"pipeline {pipeline!r}: exporters {plan.connectors} are "
                "connectors — connector exporters are not supported in the "
                "streaming runner; use the batch runner or export to a table "
                "the downstream pipeline reads"
            )
        # every receiver with a path is unioned, as the batch runner unions
        # its inputs; without one the caller passes the stream to start()
        source = None
        for r in config.pipelines[pipeline].receivers:
            s = read_receiver(spark, config, r, streaming=True)
            if s is not None:
                source = s if source is None else source.unionByName(s)
        return cls(
            routes=plan.router.routes,
            out_root=out_root,
            lineage_dir=lineage_dir,
            plan=plan,
            source=source,
        )

    def sink_counts(self) -> dict[str, int]:
        return {name: sink.committed_row_count() for name, sink in self.sinks.items()}


def watch_and_run(
    spark: SparkSession,
    config_sources,
    pipeline: str,
    out_root: str,
    checkpoint_dir: str,
    *,
    lineage_dir: str | None = None,
    env: dict | None = None,
    poll_interval: float = 0.25,
    processing_time: str = "1 seconds",
    stop_event=None,
    on_rebuild=None,
) -> list["StreamingPipeline"]:
    """Watch-driven reload loop — the collector's run loop
    (otelcol/collector.go:221-251): block on the config watch, and on a
    change stop the running query, rebuild the pipeline from the NEW
    config, and restart it on the SAME checkpoint (resume is exactly-once
    via the idempotent epoch sinks). Returns every pipeline generation
    built, newest last; runs until ``stop_event`` is set.

    ``on_rebuild(pipe, generation)`` is invoked after each (re)start —
    the test hook standing in for the reference's reload telemetry.

    Failure semantics mirror the reference run loop
    (otelcol/collector.go:224-231): a config that resolves but fails
    validation/build terminates the loop with the error (the reference
    returns err from reloadConfiguration); a HALF-WRITTEN config file is
    not a change event at all — the watcher's digest swallows transient
    resolve errors and the next poll sees the complete write.
    """
    import threading
    import time

    from ..plans.config import ConfigWatcher, config_from_resolved, load_config

    if stop_event is None:
        stop_event = threading.Event()
    watcher = ConfigWatcher(config_sources, env=env)
    generations: list[StreamingPipeline] = []

    def build_and_start(resolved: dict | None = None):
        # on reload, build from the EXACT dict the watcher's digest saw —
        # re-resolving the sources would double the I/O and race the file
        cfg = (
            config_from_resolved(resolved)
            if resolved is not None
            else load_config(config_sources, env=env)
        )
        if pipeline not in cfg.pipelines:
            # a reload that renames/removes the watched pipeline is a
            # validation failure, not an invitation to run a different
            # pipeline on the same checkpoint (reference reload errors
            # terminate the run loop, collector.go:228-231)
            raise ConfigError(
                f"pipeline {pipeline!r} not in reloaded config "
                f"(has: {sorted(cfg.pipelines)})"
            )
        pipe = StreamingPipeline.from_config(
            spark, cfg, pipeline, out_root, lineage_dir=lineage_dir
        )
        q = pipe.start(
            checkpoint_dir=checkpoint_dir,
            available_now=False,
            processing_time=processing_time,
        )
        generations.append(pipe)
        if on_rebuild is not None:
            on_rebuild(pipe, len(generations))
        return q

    query = build_and_start()
    try:
        while not stop_event.is_set():
            changed = watcher.poll()
            if changed is not None:
                query.stop()
                query.awaitTermination()
                query = build_and_start(changed)
            time.sleep(poll_interval)
    finally:
        query.stop()
        query.awaitTermination()
    return generations


def windowed_severity_counts(
    records: DataFrame,
    width: str = "5 minutes",
    watermark: str = "10 minutes",
    ts_col: str = "observed_ts",
) -> DataFrame:
    """Stateful event-time aggregation (P11): tumbling-window severity
    counts with a watermark bounding state. Works identically on batch and
    streaming frames (same expression tree)."""
    return (
        records.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), width).alias("w"), F.col("severity_text"))
        .agg(F.count("*").alias("items"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "severity_text",
            "items",
        )
    )
