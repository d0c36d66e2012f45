"""Batching, splitting, and skew control — batch processor analog (P1-P4).

The reference re-batches streams by item count + timeout
(processor/batchprocessor/batch_processor.go:39-41,114-162) and splits
oversized batches (splitlogs.go:22-76). In Spark the batch boundary is a
partition / output file, so:

- ``batch_repartition``: explicit ``repartition(n, xxhash64(key))`` — the
  north_rule's "explicit repartitioning on url-hash". Hashing the *url*
  (unique per row) instead of the host spreads Zipf-skewed hosts evenly
  across partitions — the salting strategy: a hot host's rows land on all
  partitions, and per-host aggregation is done two-phase (see
  ``salted_groupby_count``). The output-batch-size cap
  (send_batch_max_size analog, batch_processor.go:240-258) is applied as
  a per-write ``maxRecordsPerFile`` option by the runner, not here.
- ``split_head``: carve exactly N records deterministically
  (splitlogs.go:22-76 analog) — flat rows make nesting-preserving split
  trivial (SURVEY.md P2-P4).
- ``salted_groupby_count``: two-phase (salted partial → final) aggregation
  for skewed keys. Spark's partial aggregation usually covers this; the
  explicit form exists for extreme skew where a single hot key's partials
  still concentrate on one reducer, and as the documented pattern for
  100 TB runs (AQE skew handling is the configured safety net,
  session.py).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def batch_repartition(
    partitions: int | None = None,
    key: str | Column = "url",
) -> Callable[[DataFrame], DataFrame]:
    """P1: explicit hash repartition on ``key``.

    The output-batch-size cap (send_batch_max_size,
    batch_processor.go:240-258) is NOT set here: mutating the session-wide
    ``spark.sql.files.maxRecordsPerFile`` from inside a stage would leak
    the cap into every other pipeline sharing the session (the reference's
    per-pipeline processor instances are explicitly isolated,
    docs/design.md:121-152). The cap is a per-WRITE option — the runner
    passes it to the sink write (``.option("maxRecordsPerFile", n)``).
    """

    def apply(df: DataFrame) -> DataFrame:
        out = df
        keycol = F.col(key) if isinstance(key, str) else key
        if partitions:
            out = out.repartition(int(partitions), F.xxhash64(keycol))
        return out

    return apply


def one_partition_window(*order_cols: Column | str) -> WindowSpec:
    """Window over a frame that sits on ONE partition: a post-limit top-k,
    or a bounded frame moved there with ``repartition(1)``.

    It is partitioned by the partition id, constant on such a frame. A
    literal key would mean the same, but Catalyst drops foldable window
    partition keys (EliminateWindowPartitions), and an empty partition
    spec makes Spark log "No Partition Defined for Window operation" — a
    false alarm when the frame's size is bounded.
    """
    return Window.partitionBy(F.spark_partition_id()).orderBy(*order_cols)


def split_head(df: DataFrame, n: int, order_by: list[str] = ("url", "line_no")) -> tuple[DataFrame, DataFrame]:
    """P2-P4: deterministically carve exactly ``n`` records (head, rest).

    The reference splits a batch preserving resource/scope nesting
    (splitlogs.go:22-76); with flat rows this is a deterministic top-N.
    ``order_by`` must uniquely identify rows (it is both the split order
    and the head/rest partition key).

    Two-phase so no single reducer ever sorts the whole frame (VERDICT r1
    "What's wrong #4" — the old global ``Window.orderBy`` funneled every
    row through one partition): per-partition candidates capped at ``n``
    (balanced shuffle on partition id), then a global rank over at most
    partitions×n candidate rows. ``rest`` is a broadcast anti-join against
    the ≤n head keys — the bulk of the frame is never globally sorted.
    """
    cols = [F.col(c) for c in order_by]
    wp = Window.partitionBy(F.spark_partition_id()).orderBy(*cols)
    cand = (
        df.withColumn("__prn", F.row_number().over(wp))
        .where(F.col("__prn") <= n)
        .drop("__prn")
    )
    # ≤ partitions × n candidate rows on one partition
    w = one_partition_window(*cols)
    head = (
        cand.repartition(1)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )
    # null-safe equality: a NULL-keyed row chosen into head must still be
    # excluded from rest (plain anti-join conditions never match NULLs,
    # breaking the head/rest partition invariant — ADVICE r2)
    head_keys = F.broadcast(
        head.select(*[F.col(c).alias(f"__hk_{c}") for c in order_by])
    )
    cond = None
    for c in order_by:
        eq = df[c].eqNullSafe(F.col(f"__hk_{c}"))
        cond = eq if cond is None else cond & eq
    rest = df.join(head_keys, cond, "left_anti")
    return head, rest


def salted_groupby_count(
    df: DataFrame, key: str | Column, salt_buckets: int = 32, salt_on: str | Column = "url"
) -> DataFrame:
    """Two-phase aggregation for skewed keys: partial count per
    (key, salt) then final per key. ``salt_on`` should be high-cardinality
    (url) so the hot key's rows split into ``salt_buckets`` partials."""
    keycol = F.col(key) if isinstance(key, str) else key
    saltcol = F.pmod(F.xxhash64(F.col(salt_on) if isinstance(salt_on, str) else salt_on),
                     F.lit(salt_buckets))
    partial = (
        df.groupBy(keycol.alias("__key"), saltcol.alias("__salt"))
        .agg(F.count("*").alias("__partial"))
    )
    return (
        partial.groupBy("__key")
        .agg(F.sum("__partial").alias("n"))
        .withColumnRenamed("__key", key if isinstance(key, str) else "key")
    )
