"""Pipeline compiler, epoch runner and batch executor — the
service/graph.go analog (T1).

The reference builds a DAG of receiver→capabilities→processor→fanout→
exporter nodes and instantiates components in reverse topo order so each
gets its downstream consumer (service/graph.go:42-223), one graph for both
push and pull. Our plan is declarative: ``compile_pipeline`` reads a
pipeline's processors and exporters once into a ``PipelinePlan`` (ordered
stages, a fan-out router, write options), and ``run_epoch`` runs it over
one epoch's frame. The batch runner below calls it with epoch 0 per
pipeline; the streaming runner (streaming/stream.py) once per micro-batch.
Spark's lazy DAG is the runtime and Catalyst replaces hand-built consumer
chains.

Semantics preserved from the reference:
- shared receiver instances: a receiver referenced by many pipelines is
  read ONCE (internal/sharedcomponent, docs/design.md:77) — and persisted
  when >1 pipeline consumes it;
- per-pipeline processor instances: the same processor config yields a
  fresh instance per pipeline (docs/design.md:121-152);
- connectors bridge pipelines (connector/forwardconnector/forward.go:75-88);
- capabilities/clone bookkeeping (fanoutconsumer/logs.go:37-55) vanishes —
  DataFrames are immutable.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import lkp_geo, lkp_lang, synthesize_pages
from ..operators.batch import batch_repartition
from ..operators.enrich import enrich_lang_family, enrich_resource_geo
from ..operators.ottl import compile_statements
from ..operators.parse import pages_parser
from ..streaming.router import FanoutRouter, Route
from ..streaming.sinks import IdempotentParquetSink
from ..streaming.telemetry import PipelineTelemetry, write_lineage
from .config import CollectorConfig, ConfigError

Stage = Callable[[DataFrame], DataFrame]


# --------------------------------------------------------------------------
# component factories (receiver.Factory / processor.Factory analog)
# --------------------------------------------------------------------------

def _build_receiver(spark: SparkSession, kind: str, opts: dict) -> DataFrame:
    if kind == "pages_parquet":
        return spark.read.parquet(opts["path"])
    if kind == "pages_synthetic":
        return synthesize_pages(spark, int(opts["n_rows"]), opts.get("partitions"))
    if kind == "records_parquet":  # pre-parsed log records
        return spark.read.parquet(opts["path"])
    raise ConfigError(f"unknown receiver kind {kind!r}")


def _metadata_keys(opts: dict) -> list[str]:
    """A batch processor's metadata_keys: its stage co-locates them, its
    write partitions by them."""
    return list(opts.get("metadata_keys") or [])


def _build_processor(spark: SparkSession, kind: str, opts: dict) -> Stage:
    if kind == "parse":
        return pages_parser(opts.get("engine", "sql"))
    if kind == "transform":
        return compile_statements(list(opts.get("statements") or []))
    if kind == "filter":
        stmts = []
        if "drop_where" in opts:
            stmts.append(f"drop() where {opts['drop_where']}")
        if "keep_where" in opts:
            stmts.append(f"keep() where {opts['keep_where']}")
        if not stmts:
            raise ConfigError("filter processor needs drop_where or keep_where")
        return compile_statements(stmts)
    if kind == "grok":
        # filelog-operator analog: grok-syntax field extraction from a
        # text column into typed columns (regex_parser with the pattern
        # library); compile eagerly so a bad pattern fails at config
        # load, not mid-pipeline
        from ..operators.grok import GrokError, compile_grok, grok_extract

        pattern = opts.get("pattern")
        if not pattern:
            raise ConfigError("grok processor needs a pattern")
        custom = opts.get("custom") or None
        try:
            compile_grok(pattern, custom)
        except GrokError as e:
            raise ConfigError(f"grok processor: {e}") from e
        source = opts.get("source", "body")
        return lambda df: grok_extract(df, pattern, source, custom)
    if kind == "enrich_geo":
        dim = lkp_geo(spark)
        return lambda df: enrich_resource_geo(df, dim)
    if kind == "enrich_lang":
        dim = lkp_lang(spark)
        return lambda df: enrich_lang_family(df, dim)
    if kind == "batch":
        md_keys = _metadata_keys(opts)
        if md_keys:
            # metadata_keys batching (batch_processor.go:65-75): batches
            # never mix values of these keys. Stage half: co-locate each
            # value-set (repartition on the key tuple, not url-hash); the
            # plan adds the write half — partitionBy(*keys) — and run_epoch
            # enforces metadata_cardinality_limit (default 1000,
            # config.go:51-56) with one bounded count-distinct
            return batch_repartition(
                partitions=opts.get("partitions"),
                key=F.struct(*[F.col(k) for k in md_keys]),
            )
        return batch_repartition(
            partitions=opts.get("partitions"),
            key=opts.get("key", "url"),
        )
    if kind == "client_attribute":
        # the "authprinter" consumption pattern (client/client.go:63-88):
        # copy one authenticator attribute from client.auth onto records
        from ..operators.clientauth import client_attribute_stage

        attribute = opts.get("attribute")
        if not attribute:
            raise ConfigError("client_attribute processor needs an attribute")
        return client_attribute_stage(attribute, opts.get("column"))
    if kind == "memory_limiter":
        # P5: backpressure/spill is built into Spark's unified memory
        # manager (memorylimiter.go:181-235 has no dataplane equivalent
        # here) — accept the config for compatibility, pass through.
        return lambda df: df
    if kind == "redact_pii":
        # config-declarable curation: redact emails/IPs/phones IN PLACE
        # on `source` (attributes-processor-style value rewrite); with
        # counters: true the match counts ride along for drop-rate audits

        from ..operators.redact import pii_counts, redact_text

        source = opts.get("source", "body")
        with_counters = bool(opts.get("counters"))

        def _redact(df):
            if with_counters:
                # counters read the ORIGINAL text, then the rewrite lands
                ne, ni, np_ = pii_counts(F.col(source))
                df = df.select(
                    "*",
                    ne.cast("int").alias("n_emails"),
                    ni.cast("int").alias("n_ips"),
                    np_.cast("int").alias("n_phones"),
                )
            return df.withColumn(source, redact_text(F.col(source)))

        return _redact
    if kind == "c4_clean":
        # C4 line-level cleanup in place on `source`; drop_failing: true
        # additionally drops pages failing the page rule (min kept lines,
        # no braces, no lorem-ipsum) — same expressions as the oracle'd
        # c4_line_filter via the shared helpers, so the two cannot drift

        from ..operators.textstats import c4_lines_kept, c4_page_flags

        source = opts.get("source", "body")
        min_words = int(opts.get("min_words_per_line", 5))
        min_kept = int(opts.get("min_kept_lines", 3))
        drop_failing = bool(opts.get("drop_failing"))

        def _c4(df):
            text = F.col(source)
            _lines, kept = c4_lines_kept(text, min_words)
            has_brace, has_lorem = c4_page_flags(text)
            ok = (F.size(kept) >= min_kept) & ~has_brace & ~has_lorem
            out = df.where(text.isNotNull()).withColumns(
                {"c4_ok": ok, source: F.array_join(kept, "\n")}
            )
            return out.where("c4_ok").drop("c4_ok") if drop_failing else out

        return _c4
    if kind == "badwords":
        # C4 word-blocklist page filter: whole-token, case-insensitive,
        # blocklist folded into the plan as a literal array (no join);
        # action: drop (default) removes flagged pages, flag keeps them
        # with a badwords_ok column

        words = opts.get("words") or []
        if not words:
            raise ConfigError("badwords processor needs a words list")
        source = opts.get("source", "body")
        action = opts.get("action", "drop")
        if action not in ("drop", "flag"):
            raise ConfigError(f"badwords action must be drop|flag, got {action!r}")

        def _bad(df):
            toks = F.split(F.lower(F.col(source)), "[^a-z0-9]+")
            hits = F.array_intersect(
                toks, F.array(*[F.lit(w.lower()) for w in words])
            )
            ok = F.size(hits) == 0
            if action == "drop":
                return df.where(F.col(source).isNotNull() & ok)
            return df.withColumn("badwords_ok", ok)

        return _bad
    if kind == "encoding_gate":
        # encoding-sanity quality gate: drop (default) or flag pages with
        # replacement chars, C0 controls, or mojibake artifacts — same
        # column expressions as the oracle'd encoding_signals operator,
        # so the config path cannot drift; pure codegen regex counts

        from ..operators.textstats import _encoding_exprs

        source = opts.get("source", "body")
        action = opts.get("action", "drop")
        if action not in ("drop", "flag"):
            raise ConfigError(
                f"encoding_gate action must be drop|flag, got {action!r}"
            )

        def _gate(df):
            ok = _encoding_exprs(F.col(source))["encoding_ok"]
            if action == "drop":
                return df.where(F.col(source).isNotNull() & ok)
            return df.withColumn("encoding_ok", ok)

        return _gate
    raise ConfigError(f"unknown processor kind {kind!r}")


# --------------------------------------------------------------------------
# the compiled plan: one reading of a pipeline, run by both modes
# --------------------------------------------------------------------------

# receivers that deliver pages: their pipelines reach records through parse
_PAGES_RECEIVERS = ("pages_parquet", "pages_synthetic", "pages_stream")


@dataclass(frozen=True)
class PlanStage:
    """One processor of a compiled pipeline, in config order. A stateless
    stage is ``fn(frame)``; an epoch-aware one (``dedup``,
    ``dedup_minhash``) is ``deduper.dedupe_batch_rows(frame, epoch_id)``
    over snapshot state kept across epochs."""

    name: str
    kind: str
    options: dict
    fn: Stage | None = None
    deduper: object | None = None
    # fold the dedup snapshot slices below the epoch every N epochs
    compact_every: int | None = None


@dataclass
class PipelinePlan:
    """A pipeline compiled once from its config (``compile_pipeline``) and
    run one epoch at a time by ``run_epoch`` — epoch 0 per batch run, one
    epoch per streaming micro-batch. The reference builds one graph for
    both push and pull (service/graph.go:42-223)."""

    name: str
    stages: list[PlanStage]
    router: FanoutRouter | None  # None: every exporter is a connector
    connectors: list[str] = field(default_factory=list)
    # per-WRITE options, never session conf (a session-conf mutation would
    # leak across pipelines — per-pipeline processor isolation,
    # docs/design.md:121-152): max_records_per_file (send_batch_max_size),
    # partition_keys (metadata_keys: partitionBy(*keys), so no file mixes
    # key values, batch_processor.go:65-75), compression (the exporters'
    # parquet codec, configcompression analog)
    write_options: dict = field(default_factory=dict)
    # metadata_cardinality_limit (config.go:51-56) over partition_keys
    cardinality_limit: int = 1000
    telemetry_level: str = "normal"


def parse_stage() -> PlanStage:
    """The sql ``parse`` a pages-fed pipeline gets when it declares none."""
    opts = {"engine": "sql"}
    return PlanStage("parse", "parse", opts, fn=_build_processor(None, "parse", opts))


def _dedup_stage(name: str, kind: str, opts: dict, state_root: str) -> PlanStage:
    """Cross-epoch content dedup of the parsed records (``body``, with the
    url as the first-occurrence tiebreak); its snapshot state lives under
    ``state_root`` unless the config points it elsewhere."""
    from ..streaming.dedup import StreamingDeduper, StreamingNearDeduper

    snapshot_dir = opts.get("snapshot_dir", os.path.join(state_root, "_dedup_snapshot"))
    id_col, text_col = opts.get("id_col", "url"), opts.get("text_col", "body")
    if kind == "dedup":
        # bloom_m_bits opts into the Bloom-gated membership path (per-epoch
        # filter slices, OR-accumulated) — bit-identical survivors, anti-join
        # input scaled by the duplicate rate instead of the batch size
        bloom_m = opts.get("bloom_m_bits")
        deduper = StreamingDeduper(
            snapshot_dir,
            id_col=id_col,
            text_col=text_col,
            bloom_m_bits=int(bloom_m) if bloom_m else None,
            bloom_k=int(opts.get("bloom_k", 5)),
        )
    else:  # dedup_minhash: NEAR-dup filter, signature snapshot
        deduper = StreamingNearDeduper(
            snapshot_dir,
            id_col=id_col,
            text_col=text_col,
            num_hashes=int(opts.get("num_hashes", 16)),
            bands=int(opts.get("bands", 8)),
            threshold=float(opts.get("threshold", 0.8)),
        )
    ce = opts.get("compact_every")
    return PlanStage(name, kind, opts, deduper=deduper, compact_every=int(ce) if ce else None)


def _route(name: str, opts: dict) -> Route:
    if opts.get("all"):
        return Route(name, kind="all")
    if opts.get("default"):
        return Route(name, kind="default")
    predicate = opts.get("predicate")
    if predicate is not None:
        return Route(name, predicate=predicate)
    return Route(name, kind="all")


def compile_pipeline(
    spark: SparkSession, config: CollectorConfig, name: str, state_root: str
) -> PipelinePlan:
    """Compile pipeline ``name`` into its plan: the one reader of the
    pipeline's processor and exporter options. ``state_root`` holds the
    default snapshot state of epoch-aware stages.

    A pipeline fed by a pages receiver that declares no ``parse`` gets the
    sql ``parse`` stage first: records, not pages, are what the other
    processors and the routes read."""
    p = config.pipelines[name]
    stages: list[PlanStage] = []
    fed_pages = any(
        config.receivers[r].kind in _PAGES_RECEIVERS
        for r in p.receivers
        if r in config.receivers
    )
    if fed_pages and all(config.processors[n].kind != "parse" for n in p.processors):
        stages.append(parse_stage())
    write_cap: int | None = None
    md_keys: list[str] = []
    md_limit = 1000
    for proc_name in p.processors:
        c = config.processors[proc_name]
        if c.kind in ("dedup", "dedup_minhash"):
            # dedup state must be keyed on records as parsed: a stage ahead
            # of it would change what counts as "seen", and a reload that
            # edits that stage would then disagree with the snapshot
            if any(st.kind != "parse" for st in stages):
                raise ConfigError(
                    f"pipeline {name!r}: {c.kind!r} processor {proc_name!r} "
                    "must be declared before any other (non-parse) processor "
                    "— dedup runs on the parsed record stream"
                )
            stages.append(_dedup_stage(proc_name, c.kind, c.options, state_root))
            continue
        if c.kind == "batch":
            cap = c.options.get("send_batch_max_size")
            if cap:
                write_cap = int(cap)
            keys = _metadata_keys(c.options)
            if keys:
                # write half of metadata_keys batching; the stage half
                # co-locates each value-set (_build_processor)
                md_keys = keys
                md_limit = int(c.options.get("metadata_cardinality_limit", 1000))
        stages.append(
            PlanStage(proc_name, c.kind, c.options, fn=_build_processor(spark, c.kind, c.options))
        )

    routes: list[Route] = []
    connectors: list[str] = []
    # validate() already guaranteed all sink exporters of a pipeline agree
    # on compression: they share one write
    compression: str | None = None
    for e in p.exporters:
        if e in config.connectors:
            connectors.append(e)
            continue
        opts = config.exporters[e].options
        compression = opts.get("compression") or compression
        routes.append(_route(e, opts))
    return PipelinePlan(
        name=name,
        stages=stages,
        router=FanoutRouter(routes) if routes else None,
        connectors=connectors,
        write_options={
            "max_records_per_file": write_cap,
            "partition_keys": md_keys or None,
            "compression": "uncompressed" if compression == "none" else compression,
        },
        cardinality_limit=md_limit,
        telemetry_level=config.telemetry_level,
    )


def run_epoch(
    plan: PipelinePlan,
    frame: DataFrame,
    epoch_id: int,
    sink: IdempotentParquetSink,
    telemetry: PipelineTelemetry,
    lineage_dir: str | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """Run one epoch of ``plan`` over ``frame``: observe each stage
    boundary, apply the stages, assign routes, then — over the persisted
    routed frame — enforce ``metadata_cardinality_limit``, commit every
    route in one ``write_partitioned`` to ``sink``, record exporter
    ``sent`` and write lineage.

    Returns the processed frame (before routing; connector exporters read
    it) and the per-sink rows. A connector-only plan writes nothing: its
    observations ride the downstream pipeline's job and are harvested
    there."""
    # service::telemetry::metrics::level gates obsreport grain
    # (configtelemetry.go:11-25): none — no counters; basic —
    # receiver/exporter boundaries only; normal+ — every stage. detailed
    # adds content-byte sums to the SAME observation (configtelemetry.go:
    # 20-25); zero extra passes either way
    level = plan.telemetry_level
    every_stage = level in ("normal", "detailed")

    def observe(df: DataFrame, stage: str, upstream: str | None = None) -> DataFrame:
        bytes_col = None
        if level == "detailed":
            bytes_col = next((c for c in ("body", "text") if c in df.columns), None)
        return telemetry.observe(df, stage, bytes_col=bytes_col, upstream=upstream)

    prev = f"receiver/{plan.name}"
    if level != "none":
        frame = observe(frame, prev)
    cached: list[DataFrame] = []
    for st in plan.stages:
        if st.deduper is not None:
            frame = st.deduper.dedupe_batch_rows(frame, epoch_id)
            cached.append(frame)
        else:
            frame = st.fn(frame)
        if every_stage:
            # per-processor accepted/dropped (obsreport_processor.go:
            # 237-295 grain); parse changes the unit (pages → records),
            # so its dropped is not derivable
            stage = f"processor/{plan.name}/{st.name}"
            frame = observe(frame, stage, upstream=None if st.kind == "parse" else prev)
            prev = stage
    if every_stage:
        frame = observe(frame, f"processor/{plan.name}")
    if plan.router is None:
        return frame, {}

    # persist across the cardinality check, the write and lineage: without
    # it each would re-run the stages end to end — more full input scans
    # per epoch at 100 TB
    assigned = plan.router.assign(frame).persist()
    try:
        keys = plan.write_options.get("partition_keys")
        if keys:
            # the reference's batcher errors past the combination cap at
            # runtime; here it is ONE bounded count-distinct (key tuples
            # are config-chosen low-cardinality columns)
            n_combos = assigned.select(
                F.count_distinct(F.struct(*keys)).alias("n")
            ).collect()[0]["n"]
            if n_combos > plan.cardinality_limit:
                raise ConfigError(
                    f"batch metadata_keys {keys}: {n_combos} metadata-value "
                    "combinations exceed "
                    f"metadata_cardinality_limit={plan.cardinality_limit}"
                )
        plan.router.write_partitioned(assigned, sink, epoch_id=epoch_id, **plan.write_options)
        # the per-sink counts rode the write into the commit marker — read
        # the tiny marker json, never re-scan the files just written
        # (VERDICT r1 #3); a replayed epoch reads its earlier marker
        sent = sink.epoch_meta(epoch_id)["per_sink"]
        if lineage_dir is not None:
            # epoch-keyed overwrite: a replayed epoch re-lands identical
            # lineage rows instead of duplicating them
            write_lineage(assigned, lineage_dir, telemetry.run_id, epoch_id)
    finally:
        assigned.unpersist()
        for df in cached:
            df.unpersist()
    if level != "none":
        for s, n in sent.items():
            telemetry.record_sent(s, n)
    for st in plan.stages:
        if st.compact_every and epoch_id > 0 and epoch_id % st.compact_every == 0:
            # everything below THIS epoch is final (its own slice is the
            # newest committed, never absorbed); a replayed epoch re-runs
            # compact() idempotently
            st.deduper.compact(frame.sparkSession, epoch_id - 1)
    telemetry.harvest()
    return frame, sent


# --------------------------------------------------------------------------


@dataclass
class PipelineResult:
    name: str
    sink_root: str
    sink_counts: dict[str, int] = field(default_factory=dict)


@dataclass
class RunResult:
    telemetry: PipelineTelemetry
    pipelines: dict[str, PipelineResult] = field(default_factory=dict)

    def sink_counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for p in self.pipelines.values():
            out.update(p.sink_counts)
        return out


class BatchPipelineRunner:
    """Execute a CollectorConfig as one Spark batch job per pipeline."""

    def __init__(self, spark: SparkSession, config: CollectorConfig, out_root: str):
        self.spark = spark
        self.config = config
        self.out_root = out_root
        self.telemetry = PipelineTelemetry()
        self._connector_frames: dict[str, list[DataFrame]] = {}
        self._epoch_sinks: dict[str, IdempotentParquetSink] = {}

    # -- receivers: shared instance per name (S4) --
    def _receiver_frames(self) -> dict[str, DataFrame]:
        uses: dict[str, int] = {}
        for p in self.config.pipelines.values():
            for r in p.receivers:
                if r in self.config.receivers:
                    uses[r] = uses.get(r, 0) + 1
        frames: dict[str, DataFrame] = {}
        for name, n in uses.items():
            c = self.config.receivers[name]
            df = _build_receiver(self.spark, c.kind, c.options)
            auth_name = c.options.get("auth")
            if auth_name:
                # server authenticator at the receiver boundary: validated
                # by config.validate() to name an ENABLED extension
                # (configauth.GetServerAuthenticator semantics); refused
                # rows are counted on this receiver's obsreport counter and
                # never enter any pipeline (extension/auth/server.go:32-38)
                from ..operators.clientauth import AUTH_OK_COL, build_authenticator

                ext = self.config.extensions[auth_name]
                authenticator = build_authenticator(ext.kind, ext.options)
                df = authenticator.authenticate(
                    df, metadata_col=c.options.get("metadata_col", "request_metadata")
                )
                if self.config.telemetry_level == "none":
                    # metering off (configtelemetry LevelNone) — the GATE
                    # still applies; only the counters disappear
                    df = df.where(F.col(AUTH_OK_COL)).drop(AUTH_OK_COL)
                else:
                    # own namespace: a receiver and a pipeline may share a
                    # name, and the pipeline boundary observes under
                    # 'receiver/<pipeline>' — a colliding key would
                    # silently overwrite these refused counters
                    df = self.telemetry.observe_auth(
                        df, f"receiver_auth/{name}", AUTH_OK_COL
                    ).drop(AUTH_OK_COL)
            if n > 1:
                # shared receiver read once; persist so each consuming
                # pipeline's job reuses the materialized scan
                df = df.persist()
            frames[name] = df
        return frames

    def _apply_connector(self, name: str, df: DataFrame) -> DataFrame:
        """Connector factory at the pipeline bridge. ``forward`` passes
        the frame through (forwardconnector/forward.go:75-88); ``count``
        TRANSFORMS at the bridge the way a real connector is both an
        exporter of pipeline A and a receiver of pipeline B with its own
        signal type (connector/connector.go:324-391): records in, metric
        points out."""
        c = self.config.connectors[name]
        if c.kind == "forward":
            return df
        if c.kind == "count":
            from ..operators.metrics import count_connector

            attrs = tuple(c.options.get("attributes") or ("event_type",))
            return count_connector(
                df,
                attrs=attrs,
                metric_name=c.options.get("metric_name", "log.record.count"),
            )
        raise ConfigError(f"unknown connector kind {c.kind!r}")

    def run(self, epoch_id: int = 0) -> RunResult:
        result = RunResult(telemetry=self.telemetry)
        receivers = self._receiver_frames()

        for pname in self.config.topo_order():
            p = self.config.pipelines[pname]
            inputs: list[DataFrame] = []
            for r in p.receivers:
                if r in receivers:
                    inputs.append(receivers[r])
                elif r in self._connector_frames:
                    inputs.extend(self._connector_frames[r])
                else:
                    raise ConfigError(
                        f"pipeline {pname!r}: connector {r!r} has no upstream data"
                    )
            df = inputs[0]
            for other in inputs[1:]:
                df = df.unionByName(other)

            # per-pipeline processor instances (T6)
            sink_root = f"{self.out_root}/{pname}"
            plan = compile_pipeline(self.spark, self.config, pname, sink_root)
            sink = IdempotentParquetSink(sink_root, name=pname)
            df, sent = run_epoch(
                plan, df, epoch_id, sink, self.telemetry, f"{self.out_root}/_lineage"
            )
            for e in plan.connectors:
                self._connector_frames.setdefault(e, []).append(
                    self._apply_connector(e, df)
                )
            if plan.router is not None:
                self._epoch_sinks[pname] = sink
                counts = {s: int(n) for s, n in sent.items() if n > 0}
                result.pipelines[pname] = PipelineResult(pname, sink_root, counts)

        for df in receivers.values():
            df.unpersist()
        return result

    def read_sink(self, pipeline: str, sink_name: str) -> DataFrame:
        return FanoutRouter.read_sink(self.spark, self._epoch_sinks[pipeline], sink_name)
