"""Exactly-once sinks + retry — the exporterhelper analog.

The reference's delivery chain is queuedRetrySender → retrySender →
timeoutSender → push (exporter/exporterhelper/common.go:159-186), with a
WAL-backed persistent queue for crash recovery (internal/
persistent_storage.go:29-83: read/write/dispatched indices, un-acked items
re-enqueued on restart 283-349).

Spark absorbs most of that machinery:

- the bounded queue + N consumers → task parallelism over partitions;
- the WAL → Structured Streaming checkpoints: a micro-batch whose commit
  never landed is simply re-offered with the same epoch_id on restart;
- at-least-once re-delivery is upgraded to exactly-once by making the sink
  commit *idempotent per epoch* — the strategy below writes each epoch to
  its own partition directory and records a commit marker, so a replayed
  epoch either fully overwrites its own output or is skipped.

Physical format is parquet (Iceberg jars are not in this image — at
production scale the same epoch-idempotence maps 1:1 onto Iceberg's
``overwritePartitions`` atomic commit; see SURVEY.md §4 item 4).

RetryPolicy mirrors the reference defaults: initial 5s interval, ×1.5
multiplier, 30s cap, give up after 5min elapsed
(queued_retry.go:267-277), permanent errors dropped immediately (399-407),
throttle-delay override honored (420-424).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame

from .errors import PermanentError, RetryableError, is_permanent


@dataclass
class RetryPolicy:
    """NewDefaultRetrySettings analog (queued_retry.go:267-277)."""

    initial_interval: float = 5.0
    multiplier: float = 1.5
    max_interval: float = 30.0
    max_elapsed_time: float = 300.0
    enabled: bool = True

    def backoff_schedule(self):
        interval = self.initial_interval
        while True:
            yield interval
            interval = min(interval * self.multiplier, self.max_interval)


@dataclass
class SinkStats:
    """obsreport exporter counters (obsreport/obsreport_exporter.go:142-227)."""

    sent: int = 0
    send_failed: int = 0
    attempts: int = 0


class IdempotentParquetSink:
    """Epoch-idempotent parquet sink.

    Layout::

        <root>/data/epoch=<id>/[<key>=<v>/...]part-*.parquet
        <root>/_commits/<id>.json      (commit marker, written last)

    ``write_epoch`` is safe to call again with the same epoch_id after a
    crash: a marked epoch is skipped; an unmarked partial epoch is
    overwritten in place before the marker lands. Readers consult only
    marked epochs — the two-step gives the same observable atomicity as an
    Iceberg snapshot commit. A fan-out write
    (``FanoutRouter.write_partitioned``) puts every route of an epoch under
    ``epoch=<id>/sink=<route>`` and its per-route rows in the one marker
    (``per_sink``), so all routes of an epoch commit together.
    """

    def __init__(self, root: str, name: str = "sink"):
        self.root = root
        self.name = name
        self.data_dir = os.path.join(root, "data")
        self.commits_dir = os.path.join(root, "_commits")

    def _marker(self, epoch_id: int) -> str:
        return os.path.join(self.commits_dir, f"{epoch_id}.json")

    def is_committed(self, epoch_id: int) -> bool:
        return os.path.exists(self._marker(epoch_id))

    def committed_epochs(self) -> list[int]:
        if not os.path.isdir(self.commits_dir):
            return []
        return sorted(
            int(f.split(".")[0]) for f in os.listdir(self.commits_dir) if f.endswith(".json")
        )

    def write_epoch(
        self,
        df: DataFrame,
        epoch_id: int,
        max_records_per_file: int | None = None,
        partition_keys: list | None = None,
        compression: str | None = None,
        routes: list[str] | None = None,
    ) -> int:
        """Idempotently write one epoch; returns rows written (0 if skipped).

        The row count rides the write via ``observe()`` — one scan of the
        frame, no post-write re-read of the files just written. ``routes``
        names values of the frame's ``sink`` column: their row counts ride
        the same observation into the marker as ``per_sink`` (0 for a
        route that matched nothing). ``partition_keys`` →
        ``partitionBy(*keys)``; ``max_records_per_file`` is the per-WRITE
        output-batch cap (send_batch_max_size analog) and ``compression``
        the per-WRITE codec — never session conf, which would leak across
        pipelines sharing the session.
        """
        if self.is_committed(epoch_id):
            return 0
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        routes = list(routes or [])
        obs = Observation()
        per_sink = [
            F.coalesce(F.sum(F.when(F.col("sink") == r, 1).otherwise(0)), F.lit(0)).alias(
                f"__sink{i}"
            )
            for i, r in enumerate(routes)
        ]
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"), *per_sink)
        epoch_dir = os.path.join(self.data_dir, f"epoch={epoch_id}")
        # overwrite-in-place = replay-safe (persistent_storage.go:283-349
        # re-enqueue analog, minus the at-least-once duplicate risk)
        writer = df.write.mode("overwrite")
        if partition_keys:
            # metadata_keys layout (batch_processor.go:65-75): no epoch
            # file ever mixes values of the declared keys
            writer = writer.partitionBy(*partition_keys)
        if compression:
            writer = writer.option("compression", compression)
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        writer.parquet(epoch_dir)
        metrics = obs.get
        n = int(metrics["rows"])
        meta = {"epoch": epoch_id, "rows": n, "ts": time.time(), "sink": self.name}
        if routes:
            meta["per_sink"] = {r: int(metrics[f"__sink{i}"]) for i, r in enumerate(routes)}
        self.commit(epoch_id, meta)
        return n

    def commit(self, epoch_id: int, meta: dict) -> None:
        """Publish the epoch's commit marker: write ``meta`` to a tmp file,
        then rename it into place (atomic), so a reader sees the whole
        marker or none. Call only after the epoch's data is written."""
        os.makedirs(self.commits_dir, exist_ok=True)
        tmp = self._marker(epoch_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.rename(tmp, self._marker(epoch_id))

    def committed_row_count(self) -> int:
        return sum(self.epoch_meta(e)["rows"] for e in self.committed_epochs())

    def epoch_meta(self, epoch_id: int) -> dict:
        """Commit-marker metadata for one epoch (rows, per_sink counts, ts)."""
        with open(self._marker(epoch_id)) as f:
            return json.load(f)


class RetryingSink:
    """Retry wrapper around a sink push — retrySender analog
    (queued_retry.go:353-449).

    ``push`` is any callable ``(df, epoch_id) -> int``. On RetryableError:
    exponential backoff (honoring throttle_delay overrides), give up after
    max_elapsed_time. On PermanentError: drop immediately.

    ``supports_partial`` gates the failed-subset shrink (signalerrors.go:
    56-69 / OTLP partial success): only a push target that DURABLY keeps
    the succeeded subset across a failed request (a remote receiver that
    acked part of the batch) may retry just ``failed_predicate`` rows. For
    an overwrite-per-epoch sink like IdempotentParquetSink a failed attempt
    leaves nothing durable (the commit marker never landed), so shrinking
    would silently drop the "succeeded" rows — the default retries the
    full batch and ignores the predicate.
    """

    def __init__(
        self,
        push: Callable[[DataFrame, int], int],
        policy: RetryPolicy | None = None,
        name: str = "sink",
        sleep: Callable[[float], None] = time.sleep,
        supports_partial: bool = False,
    ):
        self.push = push
        self.policy = policy or RetryPolicy()
        self.name = name
        self.stats = SinkStats()
        self._sleep = sleep
        self.supports_partial = supports_partial

    def send(self, df: DataFrame, epoch_id: int = 0) -> int:
        start = time.monotonic()
        schedule = self.policy.backoff_schedule()
        current = df
        while True:
            self.stats.attempts += 1
            try:
                n = self.push(current, epoch_id)
                self.stats.sent += n
                return n
            except Exception as exc:  # noqa: BLE001 — classify below
                if is_permanent(exc) or not self.policy.enabled:
                    # queued_retry.go:399-407 — permanent: drop, don't retry
                    self.stats.send_failed += 1
                    raise
                if not isinstance(exc, RetryableError):
                    raise
                if exc.failed_predicate is not None and self.supports_partial:
                    # retry only the failed subset (OnError shrink) — only
                    # when the target durably kept the succeeded rows
                    current = current.filter(exc.failed_predicate)
                delay = next(schedule)
                if exc.throttle_delay > 0:
                    delay = max(delay, exc.throttle_delay)  # queued_retry.go:420-424
                if time.monotonic() - start + delay > self.policy.max_elapsed_time:
                    self.stats.send_failed += 1
                    raise PermanentError(
                        f"max elapsed time exceeded for {self.name}"
                    ) from exc
                self._sleep(delay)
