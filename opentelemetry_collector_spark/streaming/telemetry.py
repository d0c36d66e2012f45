"""Pipeline telemetry — the obsreport analog (SURVEY.md §2.7).

The reference meters every stage boundary: receiver accepted/refused
(obsreport/obsreport_receiver.go:166-296), processor accepted/refused/
dropped (obsreport_processor.go:237-295), exporter sent/send-failed
(obsreport_exporter.go:142-227), all in *items* (LogRecordCount grain,
pdata/plog/logs.go:45-57).

Here counters ride the existing jobs via ``df.observe`` (computed by the
JVM during the action that materializes the stage — no extra pass), and
per-partition lineage rows go to a parquet table keyed by
(run_id, epoch, partition, sink) so a resumed run can prove which work
landed (SURVEY.md §4 item 5).
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@dataclass
class StageCounters:
    """obsreporttest.CheckProcessorLogs analog — per-stage item counts."""

    accepted: int = 0
    refused: int = 0
    dropped: int = 0
    sent: int = 0
    send_failed: int = 0
    # content bytes seen at this boundary — recorded only at the
    # DETAILED telemetry level (the reference gates its size/histogram
    # metrics the same way, configtelemetry.go:20-25)
    bytes: int = 0


@dataclass
class PipelineTelemetry:
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    stages: dict[str, StageCounters] = field(default_factory=dict)
    # stage -> (pending observation, the stage whose items are its input)
    _observations: dict[str, tuple[Observation, str | None]] = field(
        default_factory=dict
    )

    def counters(self, stage: str) -> StageCounters:
        return self.stages.setdefault(stage, StageCounters())

    def observe(
        self,
        df: DataFrame,
        stage: str,
        bytes_col: str | None = None,
        upstream: str | None = None,
    ) -> DataFrame:
        """Attach a count observation at a stage boundary; harvested by
        ``harvest()`` after the terminal action runs. Free — rides the job.

        ``bytes_col`` additionally sums that column's byte length into the
        stage's ``bytes`` counter (detailed-level size metrics; the same
        single observation, still zero extra passes). ``upstream`` names
        the stage whose items, in the same unit, are this stage's input:
        harvest counts the difference as this stage's dropped items."""
        obs = Observation(f"{self.run_id}-{stage}")
        self._observations[stage] = (obs, upstream)
        aggs = [F.count(F.lit(1)).alias("items")]
        if bytes_col is not None:
            aggs.append(
                F.coalesce(
                    F.sum(F.octet_length(F.col(bytes_col).cast("string"))),
                    F.lit(0),
                )
                .cast("long")
                .alias("bytes")
            )
        return df.observe(obs, *aggs)

    def observe_auth(self, df: DataFrame, stage: str, ok_col: str) -> DataFrame:
        """Receiver-boundary auth gate: count total + refused items in ONE
        observation on the pre-filter frame (accepted = items − refused,
        the obsreport receiver accepted/refused split,
        obsreport/obsreport_receiver.go:166-296), then filter — refused
        requests never enter the pipeline and are never retried
        (extension/auth/server.go:32-38). Rides the job like observe()."""
        obs = Observation(f"{self.run_id}-{stage}")
        self._observations[stage] = (obs, None)
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("items"),
            F.coalesce(
                F.sum(F.when(F.col(ok_col), 0).otherwise(1)), F.lit(0)
            ).alias("refused"),
        )
        return df.where(F.col(ok_col))

    def harvest(self) -> None:
        """Add every observation whose action has run into its stage's
        counters, then drop it: per-epoch harvests sum, and harvesting
        again adds nothing. Uses the JVM Observation's non-blocking
        ``getRowOrEmpty`` (bounded ~100ms wait) rather than
        ``Observation.get``, which blocks FOREVER when the observed frame's
        action never ran — e.g. a connector-only pipeline whose frame is
        consumed downstream, or a pipeline the runner skipped. Such an
        observation stays pending, and its stage has no counters until it
        is harvested: absent, never a made-up 0.

        Dropped = input − output for each stage observed with an
        ``upstream`` harvested in the same call (parse changes the unit
        from pages to records, so it has no upstream)."""
        harvested: dict[str, tuple[int, str | None]] = {}
        for stage, (obs, upstream) in list(self._observations.items()):
            opt = obs._jo.getRowOrEmpty()
            if opt.isEmpty():
                continue
            del self._observations[stage]
            row = opt.get()
            fields = set(row.schema().fieldNames())
            items = int(row.get(row.fieldIndex("items")))
            refused = (
                int(row.get(row.fieldIndex("refused"))) if "refused" in fields else 0
            )
            c = self.counters(stage)
            c.accepted += items - refused
            c.refused += refused
            if "bytes" in fields:
                c.bytes += int(row.get(row.fieldIndex("bytes")))
            harvested[stage] = (items, upstream)
        for stage, (items, upstream) in harvested.items():
            if upstream in harvested:
                self.counters(stage).dropped += max(harvested[upstream][0] - items, 0)

    def record_sent(self, sink: str, n: int) -> None:
        self.counters(f"exporter/{sink}").sent += n

    def record_send_failed(self, sink: str, n: int = 1) -> None:
        self.counters(f"exporter/{sink}").send_failed += n

    def export_response(self, sink: str) -> str:
        """ExportLogsServiceResponse (proto3 JSON) for one sink, populated
        from its counters — the response-side partial-success contract
        (plogotlp/generated_exportpartialsuccess.go:24-60): full success
        leaves partialSuccess unset ('{}'); otherwise rejectedLogRecords
        carries the sink's rejected item count (int64 → decimal string
        per proto3 JSON). Parse with
        functions.otlp_json.parse_logs_export_response — field-name
        parity is pinned by tests/test_otlp_json.py."""
        import json as _json

        c = self.counters(f"exporter/{sink}")
        if c.send_failed <= 0:
            return "{}"
        return _json.dumps(
            {
                "partialSuccess": {
                    "rejectedLogRecords": str(c.send_failed),
                    "errorMessage": f"{sink}: {c.send_failed} records rejected",
                }
            },
            separators=(",", ":"),
        )

    def as_dict(self) -> dict:
        self.harvest()
        return {
            "run_id": self.run_id,
            "stages": {
                k: {
                    "accepted": v.accepted,
                    "refused": v.refused,
                    "dropped": v.dropped,
                    "sent": v.sent,
                    "send_failed": v.send_failed,
                    "bytes": v.bytes,
                }
                for k, v in self.stages.items()
            },
        }


def lineage_frame(
    assigned: DataFrame, run_id: str, epoch_id: int, sinks_col: str = "__sinks"
) -> DataFrame:
    """Per-(partition, sink) routed-item counts — the lineage table row per
    (run_id, epoch, partition, sink) from SURVEY.md §4 item 5."""
    return (
        assigned.select(
            F.spark_partition_id().alias("partition_id"),
            F.explode(sinks_col).alias("sink"),
        )
        .groupBy("partition_id", "sink")
        .agg(F.count("*").alias("items"))
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(epoch_id).alias("epoch"),
            "partition_id",
            "sink",
            "items",
        )
    )


def write_lineage(assigned: DataFrame, path: str, run_id: str, epoch_id: int) -> None:
    """Epoch-idempotent lineage write: each epoch overwrites its own
    ``epoch=<id>`` partition directory, so a replayed micro-batch (crash
    between sink commit and checkpoint commit) re-lands identical lineage
    rows instead of appending duplicates — the same exactly-once contract
    the data sinks give (ADVICE r1: plain append broke it)."""
    lineage_frame(assigned, run_id, epoch_id).drop("epoch").write.mode(
        "overwrite"
    ).parquet(os.path.join(path, f"epoch={epoch_id}"))


def read_lineage(spark: SparkSession, path: str) -> DataFrame:
    """Partition discovery restores the ``epoch`` column from the
    directory layout."""
    return spark.read.option("basePath", path).parquet(path)
