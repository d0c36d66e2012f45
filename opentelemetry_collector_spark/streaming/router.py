"""Fan-out router — the fanoutconsumer + routing analog (T2).

Reference: the fanout consumer is the last node of each pipeline and hands
every batch to every exporter, cloning only when a consumer mutates
(service/internal/fanoutconsumer/logs.go:32-82). Here cloning is free
(immutable DataFrames); the design choices that matter at 100 TB are:

1. **One pass.** Route membership for ALL sinks is computed in a single
   projection as an ``array<string>`` column — the input is scanned once,
   not once per sink.
2. **One shuffle-free write.** The default write strategy explodes the
   sink array and writes ``partitionBy("sink")`` in a single job: every
   row is written exactly to the sinks it routes to, with no per-sink
   re-scan. (A row routed to k sinks is materialized k times — same as the
   reference's fanout, where each exporter serializes its own copy.)
3. **Per-sink isolation mode.** ``write_per_sink`` instead persists the
   routed frame once and runs an independent (retryable) write per sink —
   the shape to use when sinks have different availability/retry policies,
   mirroring the reference's per-exporter sender chains.

Route semantics follow FIXTURES.md §5: ordered predicate routes, a
``default`` route catching rows matched by no predicate route, and ``all``
routes receiving an unconditional copy.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ottl import compile_condition
from .sinks import IdempotentParquetSink

SINKS_COL = "__sinks"


def _stack_sinks(names: Sequence[str]) -> Column:
    """Unpivot per-sink count columns to (sink, n) rows. Sink names are
    collector component ids like ``type/instance`` (or anything else a
    config names) — the literal is quote-escaped and the column reference
    backtick-quoted so such names don't break the ``stack()`` SQL."""
    parts = []
    for s in names:
        lit = s.replace("'", "''")
        ident = s.replace("`", "``")
        parts.append(f"'{lit}', `{ident}`")
    return F.expr("stack({n}, {args})".format(n=len(names), args=", ".join(parts))).alias(
        "sink", "n"
    )


@dataclass
class Route:
    name: str
    predicate: str | Column | None = None  # OTTL condition / Column
    kind: str = "predicate"  # "predicate" | "default" | "all"

    def condition(self) -> Column | None:
        if self.kind != "predicate":
            return None
        if isinstance(self.predicate, str):
            return compile_condition(self.predicate)
        return self.predicate


class FanoutRouter:
    def __init__(self, routes: Sequence[Route]):
        self.routes = list(routes)
        names = [r.name for r in self.routes]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate route names: {names}")

    def assign(self, records: DataFrame) -> DataFrame:
        """Add the ``__sinks: array<string>`` membership column (one pass),
        one entry per route in :meth:`membership` order."""
        entries = [F.when(m, F.lit(name)) for name, m in self.membership(records).items()]
        sinks = F.array_compact(F.array(*entries)) if entries else F.array().cast("array<string>")
        return records.withColumn(SINKS_COL, sinks)

    def route_counts(self, assigned: DataFrame) -> DataFrame:
        """Per-sink routed-row counts (obsreport exporter counters).

        Emits one row per configured sink INCLUDING sinks that matched
        nothing (n=0) — a counter exists even when idle, and the output is
        data-independent in shape (ADVICE r1: the explode+groupBy form
        silently dropped empty sinks). Conditional aggregation: one pass,
        no explode, no row multiplication.
        """
        aggs = [
            F.coalesce(
                F.sum(
                    F.when(F.array_contains(F.col(SINKS_COL), r.name), F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(r.name)
            for r in self.routes
        ]
        wide = assigned.agg(*aggs)
        return wide.select(_stack_sinks([r.name for r in self.routes]))

    def membership(self, records: DataFrame) -> dict[str, Column]:
        """Per-route boolean membership columns (no array allocation)."""
        preds = [r for r in self.routes if r.kind == "predicate"]
        matched = {r.name: F.coalesce(r.condition(), F.lit(False)) for r in preds}
        any_matched = F.lit(False)
        for m in matched.values():
            any_matched = any_matched | m
        out: dict[str, Column] = dict(matched)
        for r in self.routes:
            if r.kind == "default":
                out[r.name] = ~any_matched
            elif r.kind == "all":
                out[r.name] = F.lit(True)
        return out

    def count_by(self, records: DataFrame, *group_cols: Column | str) -> DataFrame:
        """Per-(group, sink) routed counts via conditional aggregation.

        The counting fast path: no per-row array allocation, no explode, no
        row multiplication — one hash aggregate with a sum(CASE) per sink,
        then a tiny unpivot of the per-group result. Use this for counters
        (obsreport grain); use ``assign``+``write_*`` when rows must
        physically fan out to sinks.
        """
        members = self.membership(records)
        aggs = [
            F.sum(F.when(m, F.lit(1)).otherwise(F.lit(0))).alias(name)
            for name, m in members.items()
        ]
        wide = records.groupBy(*group_cols).agg(*aggs)
        names = list(members)
        # wide[c] (not F.col) so group columns with dots/slashes resolve
        keep = [wide[c] for c in wide.columns if c not in names]
        return wide.select(*keep, _stack_sinks(names)).where(F.col("n") > 0)

    # -- write strategies ---------------------------------------------------

    def write_partitioned(
        self,
        assigned: DataFrame,
        sink: IdempotentParquetSink,
        epoch_id: int = 0,
        max_records_per_file: int | None = None,
        partition_keys: list[str] | None = None,
        compression: str | None = None,
    ) -> int:
        """Single-job fan-out: explode sink membership into a ``sink``
        column and write the epoch with ``sink.write_epoch`` partitioned by
        it, to ``<root>/data/epoch=<id>/sink=<route>``.

        ``partition_keys`` extends the layout to
        ``partitionBy(sink, *keys)`` — the batch processor's
        ``metadata_keys`` contract (batch_processor.go:65-75): no output
        batch (file) ever mixes records with different values of those
        keys, because the writer splits them into per-value directories.

        Exactly-once: the whole epoch (all sinks) commits atomically via the
        sink's one epoch marker. Total and per-sink "sent" counters ride the
        write itself via ``observe()`` (obsreport analog) and land in the
        marker as ``rows`` and ``per_sink`` — the routed frame is scanned
        exactly once; there is no post-write re-read (VERDICT r1 "What's
        wrong #3": at 100 TB a count-by-re-scan doubles sink I/O).
        """
        exploded = assigned.withColumn("sink", F.explode(SINKS_COL)).drop(SINKS_COL)
        return sink.write_epoch(
            exploded,
            epoch_id,
            max_records_per_file=max_records_per_file,
            partition_keys=["sink", *(partition_keys or [])],
            compression=compression,
            routes=[r.name for r in self.routes],
        )

    @staticmethod
    def read_sink(spark: SparkSession, sink: IdempotentParquetSink, name: str) -> DataFrame:
        """Rows of route ``name`` over every committed epoch of a
        :meth:`write_partitioned` sink."""
        epochs = sink.committed_epochs()
        if not epochs:
            raise FileNotFoundError(f"no committed epochs under {sink.root}")
        df = spark.read.option("basePath", sink.data_dir).parquet(
            *[f"{sink.data_dir}/epoch={e}" for e in epochs]
        )
        return df.where(F.col("sink") == name).drop("sink", "epoch")

    def write_per_sink(
        self,
        assigned: DataFrame,
        sinks: dict[str, "IdempotentParquetSink | object"],
        epoch_id: int = 0,
    ) -> dict[str, int]:
        """Independent write per sink over a persisted routed frame.

        ``sinks`` values are IdempotentParquetSink or RetryingSink-wrapped
        callables exposing ``send(df, epoch_id)``.
        """
        assigned = assigned.persist()
        try:
            assigned.count()  # materialize once; each sink write reuses the cache
            out: dict[str, int] = {}
            for route in self.routes:
                target = sinks.get(route.name)
                if target is None:
                    continue
                subset = assigned.where(F.array_contains(F.col(SINKS_COL), route.name)).drop(
                    SINKS_COL
                )
                if hasattr(target, "send"):
                    out[route.name] = target.send(subset, epoch_id)
                else:
                    out[route.name] = target.write_epoch(subset, epoch_id)
            return out
        finally:
            assigned.unpersist()


@dataclass(frozen=True)
class SinkRoute:
    """Read handle on one route of a :meth:`FanoutRouter.write_partitioned`
    sink: the epochs, marker and rows of ``sink=<route>``. An epoch's
    marker covers every route at once; ``rows`` is this route's entry in
    its ``per_sink`` (0 for an epoch written before the route existed)."""

    sink: IdempotentParquetSink
    route: str

    @property
    def data_dir(self) -> str:
        return self.sink.data_dir

    def committed_epochs(self) -> list[int]:
        return self.sink.committed_epochs()

    def epoch_meta(self, epoch_id: int) -> dict:
        meta = self.sink.epoch_meta(epoch_id)
        return {**meta, "rows": meta["per_sink"].get(self.route, 0)}

    def committed_row_count(self) -> int:
        return sum(self.epoch_meta(e)["rows"] for e in self.committed_epochs())

    def read_committed(self, spark: SparkSession) -> DataFrame:
        return FanoutRouter.read_sink(spark, self.sink, self.route)
