"""SparkSession factory tuned for the pipeline.

Scale notes (100 TB / 1000-executor design, tested on local[N]):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting is
  the safety net for Zipf-skewed hosts (SURVEY.md §4 item 1).
- shuffle.partitions defaults to cores locally; on a real cluster this is
  set to ~2-3x total cores via spark-submit conf, and AQE coalesces down.
- Arrow enabled for the few pandas-UDF boundaries (multimodal decode); the
  hot parse path is pure JVM expressions and never crosses into Python.
- session TZ pinned UTC so timestamps compare bit-exactly with the DuckDB
  oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Long-running-JVM headroom, needed by any driver/executor that lives for
# hours (a production streaming collector as much as a full pytest run):
# whole-stage codegen emits thousands of classes, and once the default
# 240m code cache fills, the JIT shuts off and interpreted frames are
# several times larger — at which point Java-regex backtracking over a
# repeated-group grammar (the KV line match) can overflow the default
# thread stack mid-stream (observed: StackOverflowError inside
# Pattern.match in a stream-execution thread only after ~200 tests in one
# JVM). A bigger code cache keeps the JIT alive; a bigger stack makes the
# recursion safe either way.
_JVM_LONGRUN_OPTS = "-Xss16m -XX:ReservedCodeCacheSize=512m"

DEFAULT_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # parquet sinks: zstd mirrors the reference's wire compression options
    # (config/configcompression/compressionType.go:21-28)
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.shuffle.partitions": "32",
    # 16m splits keep small local benches parallel (a 212MB table would be
    # ~2 splits at the 128m default, serializing every narrow chain); on a
    # real cluster the input is TB-scale and this knob moves back to 128m+
    # via spark-submit conf.
    "spark.sql.files.maxPartitionBytes": "16m",
    # 8g is deliberate: larger heaps (measured at 32g) trigger a kernel-side
    # page-management pathology on this host — 90% sys time, 30x slowdowns.
    # At real cluster scale memory is per-executor, not one giant local JVM.
    "spark.driver.memory": "8g",
    # ParallelGC beats G1 ~1.7x for this allocation-heavy local workload
    # (measured: 140k vs 80k docs/s at 32 threads on the parse pipeline);
    # G1's concurrent marking fights the 32 worker threads for cores.
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC " + _JVM_LONGRUN_OPTS,
    "spark.ui.enabled": "false",
}


def session_conf(master: str, extra_conf: dict[str, str] | None = None) -> dict[str, str]:
    """The session conf for ``master``: ``DEFAULT_CONF``, sized to a
    ``local[N]`` master, then ``extra_conf``."""
    conf = dict(DEFAULT_CONF)
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner.isdigit():
            conf["spark.sql.shuffle.partitions"] = inner
            # pin GC threads to the task parallelism: JVM ergonomics size
            # ParallelGC by HOST cores (~23 threads on a 32-core host),
            # which hands a local[2] "cluster" 10x its share of GC
            # parallelism — free compute that inflates the low-cores
            # scaling sample. A real N-core executor gets N-core GC.
            conf["spark.driver.extraJavaOptions"] = (
                f"-XX:+UseParallelGC -XX:ParallelGCThreads={int(inner)} " + _JVM_LONGRUN_OPTS
            )
    if extra_conf:
        conf.update(extra_conf)
    return conf


def get_spark(
    app_name: str = "otel-collector-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to local[$SPARK_GRAFT_CPUS] (env, default all cores).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in session_conf(master, extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
