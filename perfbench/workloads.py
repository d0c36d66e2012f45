"""The three workloads, untraced (end-to-end metrics) and traced (per-layer).

Every workload goes through the engine's public entry points only.  Batch
workloads run fresh plans back to back (a closed loop with one client) for
the run's seconds; ``stream_tail`` is an open loop fed by one thread.  See
NOTES.md for why each workload exists and what each metric should move.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

from opentelemetry_collector_spark.fixtures.lookups import lkp_geo, lkp_lang
from opentelemetry_collector_spark.operators.batch import batch_repartition
from opentelemetry_collector_spark.operators.enrich import (
    enrich_lang_family,
    enrich_resource_geo,
)
from opentelemetry_collector_spark.operators.ottl import compile_statements
from opentelemetry_collector_spark.operators.parse import explode_lines, parse_pages
from opentelemetry_collector_spark.plans.compiler import BatchPipelineRunner
from opentelemetry_collector_spark.plans.config import load_config
from opentelemetry_collector_spark.streaming.router import FanoutRouter, Route
from opentelemetry_collector_spark.streaming.stream import StreamingPipeline

from . import configs, inputs, measure, spans

MIN_REPS = 3  # a batch run times at least this many reps, however long
TRACE_ROUNDS = 3  # a traced run times each prefix plan at least this often
STREAM_PREFIX_ROUNDS = 2  # counted prefix rounds of a traced stream run (it is the longest run)
WARMUP_REPS = 3  # untimed reps whose time is part of setup_s (JIT warm-up)

PARSE_COUNT_INPUT = (8, 2000)  # files x pages per file
COLLECTOR_INPUT = (4, 500)
STREAM_PAGES_PER_FILE = 25
STREAM_PERIOD_S = 0.25  # offered load: one file per period = 100 pages/s
STREAM_WARMUP_S = 16.0  # feeding time whose epochs count as set-up
STREAM_DRAIN_S = 30.0  # a file not committed this long after the last due time fails


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    traced: bool
    work: str  # this run's scratch directory, removed when the run ends
    cache: str  # inputs and references, kept across runs
    tracer: spans.Tracer | None = None  # set on traced runs
    setup: dict = field(default_factory=dict)  # setup components, seconds

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    notes: dict = field(default_factory=dict)  # printed ahead of the result line

    def record(self, problems: list[str]) -> None:
        """Count one operation; it failed if its check found problems."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[:3])

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (value, unit)


def compare(what: str, got: dict, want: dict) -> list[str]:
    """Problems found comparing two count maps (missing keys read as 0)."""
    out = []
    for k in sorted(set(got) | set(want)):
        if got.get(k, 0) != want.get(k, 0):
            out.append(f"{what}[{k}]: got {got.get(k, 0)}, want {want.get(k, 0)}")
    return out


def _cached_json(path: str, compute) -> dict:
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    t0 = time.perf_counter()
    value = compute()
    print(f"perfbench: reference {os.path.basename(path)} took {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


def input_spec(workload: str, seconds: float, traced: bool) -> tuple[str, int, int]:
    """(kind, files, pages per file) of a workload's input."""
    if workload == "parse_count":
        return ("pages", *PARSE_COUNT_INPUT)
    if workload == "collector_write":
        return ("pages", *COLLECTOR_INPUT)
    n_warm, phases = _stream_files(seconds, traced)
    return ("stream", n_warm + sum(phases), STREAM_PAGES_PER_FILE)


def input_dir(cache: str, seed: int, spec: tuple[str, int, int]) -> str:
    kind, n_files, per_file = spec
    return os.path.join(cache, "inputs", f"{kind}-s{seed}-{n_files}x{per_file}-{inputs.source_key()}")


def ref_path(cache: str, workload: str, pages_dir: str) -> str:
    """The cached reference of a workload over one input directory (whose
    name carries the seed, the size and the source key)."""
    return os.path.join(cache, "refs", f"{workload}-{os.path.basename(pages_dir)}.json")


def _inputs(ctx: Ctx, workload: str) -> tuple[str, int]:
    """(directory, pages) of the workload's input, which run.py wrote."""
    spec = input_spec(workload, ctx.seconds, ctx.traced)
    return input_dir(ctx.cache, ctx.seed, spec), spec[1] * spec[2]


def _timed(fn):
    t0 = time.perf_counter()
    value = fn()
    return time.perf_counter() - t0, value


def _reps(ctx: Ctx, rep) -> list[tuple[float, object]]:
    """Run ``rep`` back to back for the run's seconds (at least MIN_REPS)."""
    out = []
    t_end = time.time() + ctx.seconds
    while len(out) < MIN_REPS or time.time() < t_end:
        out.append(_timed(rep))
    return out


def _agg(df, cols):
    """Tiny aggregate that forces every given column (prefix-plan tail)."""
    exprs = []
    for c in cols:
        col = F.col(c) if isinstance(c, str) else c
        if isinstance(c, str) and isinstance(df.schema[c].dataType, T.MapType):
            exprs += [F.map_keys(col), F.map_values(col)]
        else:
            exprs.append(col)
    return df.agg(F.count(F.lit(1)).alias("n"), F.max(F.xxhash64(*exprs)).alias("h"))


def _window_metrics(out: Outcome, setup_s, latencies, docs_per_s, pages, cpu_s, rss):
    p50 = measure.median(latencies)
    tail, pct, beyond = measure.tail(latencies)
    out.put("docs_per_s", docs_per_s, "pages/s")
    out.put("latency_p50_s", p50, "s")
    out.put("latency_tail_s", tail, "s")
    out.put("setup_s", setup_s, "s")
    out.put("peak_rss_mb", rss / 2**20, "MB")
    out.put("cpu_s_per_mdoc", cpu_s / pages * 1e6, "cpu-s/Mpage")
    out.notes["latency_samples"] = len(latencies)
    out.notes["latencies_s"] = [round(x, 3) for x in latencies]
    out.notes["latency_tail"] = f"p{pct:.1f} ({beyond} of {len(latencies)} samples beyond it)"


# --------------------------------------------------------------------------
# parse_count: parse -> enrich -> FanoutRouter.count_by, one collect per plan


def _count_routes(engine: str) -> list[Route]:
    if engine == "sql":
        status = F.col("attr_status")
    else:
        # the arrow engine has no promoted columns; attr_status is the
        # access-line status, and only access lines carry a method
        status = F.when(
            F.col("attributes")["method"].isNotNull(),
            F.col("attributes")["status"].cast("int"),
        )
    return [
        Route("errors", predicate=F.col("severity_number") >= 17),
        Route("access_4xx", predicate=(status >= 400) & (status < 500)),
        Route("audit", kind="all"),
        Route("default", kind="default"),
    ]


def _pages(spark, pages_dir):
    return spark.read.parquet(pages_dir).select("url", "warc_ts", "lang", "text")


def _count_enriched(spark, pages_dir, engine="sql"):
    records = parse_pages(_pages(spark, pages_dir), engine=engine, hot_columns=engine == "sql")
    records = enrich_resource_geo(records, lkp_geo(spark))
    return enrich_lang_family(records, lkp_lang(spark))


def count_plan(spark, pages_dir, engine="sql"):
    records = _count_enriched(spark, pages_dir, engine)
    return FanoutRouter(_count_routes(engine)).count_by(
        records, F.col("resource.country").alias("country")
    )


def collect_counts(df) -> dict[str, int]:
    return {f"{r['country']}|{r['sink']}": int(r["n"]) for r in df.collect()}


def _count_prefixes(spark, pages_dir):
    def parsed():
        return parse_pages(_pages(spark, pages_dir), engine="sql", hot_columns=True)

    return [
        ("sources.scan_s", lambda: _agg(_pages(spark, pages_dir), ["url", "warc_ts", "lang", "text"])),
        (
            "parse.explode_s",
            lambda: _agg(
                explode_lines(_pages(spark, pages_dir)),
                ["url", "warc_ts", "lang", "host", "line_no", "line"],
            ),
        ),
        ("parse.parse_s", lambda: _agg(parsed(), ["resource", "severity_number", "attr_status"])),
        (
            "enrich.enrich_s",
            lambda: _agg(
                _count_enriched(spark, pages_dir),
                [F.col("resource.country"), "severity_number", "attr_status"],
            ),
        ),
        # the whole count plan: the rep's own plan, timed as one more prefix
        ("router.count_s", lambda: count_plan(spark, pages_dir)),
    ]


def run_parse_count(ctx: Ctx) -> Outcome:
    spark, out = ctx.spark, Outcome()
    pages_dir, pages = _inputs(ctx, "parse_count")

    def rep():
        return collect_counts(count_plan(spark, pages_dir))

    warm_s, _ = _timed(lambda: [rep() for _ in range(WARMUP_REPS)])
    setup_s = ctx.setup["session.start_s"] + warm_s

    if not ctx.traced:
        cpu0 = measure.tree_usage()[0]
        reps = _reps(ctx, rep)
        cpu1, rss = measure.tree_usage()
        ref = _count_reference(ctx, pages_dir)
        for _, got in reps:
            out.record(compare("count", got, ref))
        times = [t for t, _ in reps]
        _window_metrics(
            out, setup_s, times, pages / measure.median(times), pages * len(reps), cpu1 - cpu0, rss
        )
        return out

    rounds = _trace_rounds(ctx, _count_prefixes(spark, pages_dir), rep)
    ref = _count_reference(ctx, pages_dir)
    for r in rounds:
        for got in (r["untraced_result"], r["traced_result"]):
            out.record(compare("count", got, ref))
    _batch_layers(out, ctx, rounds, eager=False)
    audit = sum(v for k, v in ref.items() if k.endswith("|audit"))
    out.put("router.fanout_ratio", sum(ref.values()) / audit, "ratio")
    _probe_counts(out, spark, pages_dir, rounds[0]["prefix"])
    return out


def _count_reference(ctx, pages_dir) -> dict:
    return _cached_json(
        ref_path(ctx.cache, "parse_count", pages_dir),
        lambda: collect_counts(count_plan(ctx.spark, pages_dir, "arrow")),
    )


# --------------------------------------------------------------------------
# collector_write: load_config + BatchPipelineRunner.run into a fresh root


def collector_observed(spark, out_root: str, result) -> dict:
    """What one run committed: its sink counts, commit marker and per
    (sink, country) rows read back from the written files."""
    sink_root = os.path.join(out_root, configs.PIPELINE)
    with open(os.path.join(sink_root, "_commits", "0.json")) as f:
        marker = json.load(f)
    rows = (
        spark.read.parquet(os.path.join(sink_root, "data"))
        .groupBy("sink", F.col("resource.country").alias("country"))
        .count()
        .collect()
    )
    return {
        "sink_counts": result.sink_counts(),
        "marker_rows": int(marker["rows"]),
        "marker_per_sink": {k: int(v) for k, v in marker["per_sink"].items()},
        "by_country": {f"{r['sink']}|{r['country']}": int(r["count"]) for r in rows},
    }


def check_collector(got: dict, ref: dict) -> list[str]:
    marker = got["marker_per_sink"]
    problems = compare(
        "sink_counts vs marker",
        got["sink_counts"],
        {k: v for k, v in marker.items() if v > 0},
    )
    if got["marker_rows"] != sum(marker.values()):
        problems.append(f"marker rows {got['marker_rows']} != per-sink sum {sum(marker.values())}")
    problems += compare("per_sink", marker, ref["marker_per_sink"])
    problems += compare("by_country", got["by_country"], ref["by_country"])
    return problems


def _collector_prefixes(spark, pages_dir):
    proc = configs.PROCESSORS
    transform = compile_statements(proc["transform/normalize"]["statements"])
    drop = compile_statements([f"drop() where {proc['filter/drop_declined']['drop_where']}"])
    batch = batch_repartition(partitions=proc["batch"]["partitions"], key=proc["batch"]["key"])

    def parsed():
        return parse_pages(spark.read.parquet(pages_dir), engine="sql")

    def ottl():
        return drop(transform(parsed()))

    def enriched():
        return enrich_lang_family(enrich_resource_geo(ottl(), lkp_geo(spark)), lkp_lang(spark))

    def every(df):
        return _agg(df, df.columns)

    return [
        (
            "sources.scan_s",
            lambda: _agg(spark.read.parquet(pages_dir), ["url", "warc_ts", "lang", "text"]),
        ),
        ("parse.explode_s", lambda: every(explode_lines(spark.read.parquet(pages_dir)))),
        ("parse.parse_s", lambda: every(parsed())),
        ("ottl.ottl_s", lambda: every(ottl())),
        ("enrich.enrich_s", lambda: every(enriched())),
        ("batch.shuffle_s", lambda: every(batch(enriched()))),
    ]


def _write_stats(root: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``root``."""
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def run_collector_write(ctx: Ctx) -> Outcome:
    spark, out = ctx.spark, Outcome()
    pages_dir, pages = _inputs(ctx, "collector_write")

    load_s, cfg = _timed(lambda: load_config(configs.collector_config("pages_parquet", pages_dir)))
    ctx.setup["plans.load_config_s"] = load_s
    roots = (ctx.path(f"out{i}") for i in itertools.count())

    def rep():
        root = next(roots)
        return root, BatchPipelineRunner(spark, cfg, root).run()

    warm_s, _ = _timed(lambda: [rep() for _ in range(WARMUP_REPS)])
    setup_s = ctx.setup["session.start_s"] + load_s + warm_s

    if not ctx.traced:
        cpu0 = measure.tree_usage()[0]
        reps = _reps(ctx, rep)
        cpu1, rss = measure.tree_usage()
        ref = _collector_reference(ctx, pages_dir)
        for _, (root, result) in reps:
            out.record(check_collector(collector_observed(spark, root, result), ref))
        times = [t for t, _ in reps]
        _window_metrics(
            out, setup_s, times, pages / measure.median(times), pages * len(reps), cpu1 - cpu0, rss
        )
        return out

    rounds = _trace_rounds(ctx, _collector_prefixes(spark, pages_dir), rep)
    ref = _collector_reference(ctx, pages_dir)
    for r in rounds:
        for root, result in (r["untraced_result"], r["traced_result"]):
            out.record(check_collector(collector_observed(spark, root, result), ref))
    _batch_layers(out, ctx, rounds, eager=True)
    last_root, last_result = rounds[-1]["traced_result"]
    marker = collector_observed(spark, last_root, last_result)["marker_per_sink"]
    out.put("router.fanout_ratio", sum(marker.values()) / marker["sink_all"], "ratio")
    size, files = _write_stats(last_root)
    out.put("sinks.output_bytes", size, "bytes")
    out.put("sinks.files", files, "count")
    out.put("sinks.calls_per_epoch", 1, "count")  # one partitioned write per run
    _probe_counts(out, spark, pages_dir, rounds[0]["prefix"])
    return out


def _collector_reference(ctx, pages_dir) -> dict:
    def compute():
        cfg = load_config(configs.collector_config("pages_parquet", pages_dir, parse_engine="arrow"))
        root = ctx.path("reference")
        return collector_observed(ctx.spark, root, BatchPipelineRunner(ctx.spark, cfg, root).run())

    return _cached_json(ref_path(ctx.cache, "collector_write", pages_dir), compute)


# --------------------------------------------------------------------------
# traced batch rounds


def _run_prefixes(ctx: Ctx, prefixes, trace_id: str) -> dict:
    """Time each prefix plan once (plan build + collect of its aggregate)."""
    counters = measure.SparkCounters(ctx.spark)
    out = {}
    for name, build in prefixes:
        mark = counters.mark()
        with ctx.tracer.span(name, trace_id=trace_id):
            t, (df, rows) = _timed(lambda: _collect_df(build()))
        out[name] = {"s": t, "stages": counters.stages_since(mark), "df": df, "n": rows[0]["n"]}
    return out


def _self_times(rounds: list[dict]) -> tuple[dict[str, float], list[float]]:
    """Median marginal of each prefix over the one before it, and each
    round's last prefix time."""
    prev = [0.0] * len(rounds)
    self_s = {}
    for name in rounds[0]:
        cur = [r[name]["s"] for r in rounds]
        self_s[name] = measure.median([c - p for c, p in zip(cur, prev)])
        prev = cur
    return self_s, prev


def _trace_rounds(ctx: Ctx, prefixes, rep) -> list[dict]:
    """Rounds of: one untraced rep, the prefix plans, one traced rep, for the
    run's seconds and at least TRACE_ROUNDS rounds, after one round of the
    prefix plans that warms them up (new plan shapes compile new code)."""
    counters = measure.SparkCounters(ctx.spark)
    _run_prefixes(ctx, prefixes, "warmup")
    rounds = []
    t_end = time.time() + ctx.seconds
    while len(rounds) < TRACE_ROUNDS or time.time() < t_end:
        trace_id = f"rep{len(rounds)}"
        r = {"trace_id": trace_id}
        r["untraced_s"], r["untraced_result"] = _timed(rep)
        r["prefix"] = _run_prefixes(ctx, prefixes, trace_id)
        mark, gc0 = counters.mark(), counters.gc_ms()
        with spans.wrapped(ctx.tracer), ctx.tracer.span("rep", trace_id=trace_id):
            r["traced_s"], r["traced_result"] = _timed(rep)
        r["stages"] = counters.stages_since(mark)
        r["gc_s"] = (counters.gc_ms() - gc0) / 1000
        rounds.append(r)
    return rounds


def _collect_df(df):
    return df, df.collect()


def _prefix_counters(out: Outcome, prefix_rounds: list[dict]) -> None:
    """Bytes from the status store and the executed plans of the prefixes."""
    last = prefix_rounds[-1]
    # the status store's stage inputBytes misses the vectorized parquet
    # reads in this build (67 KB for 30 MB of files); the scan node's
    # filesSize is the size of the files it opened
    out.put("sources.input_bytes", spans.plan_metric(last["sources.scan_s"]["df"], "Scan parquet", "filesSize"), "bytes")
    out.put(
        "enrich.broadcast_bytes",
        spans.plan_metric(last["enrich.enrich_s"]["df"], "BroadcastExchange", "dataSize"),
        "bytes",
    )
    if "batch.shuffle_s" in last:
        key = "shuffleWriteBytes"
        out.put(
            "batch.shuffle_write_bytes",
            measure.median(
                [r["batch.shuffle_s"]["stages"][key] - r["enrich.enrich_s"]["stages"][key] for r in prefix_rounds]
            ),
            "bytes",
        )


def _batch_layers(out: Outcome, ctx: Ctx, rounds: list[dict], eager: bool) -> None:
    """Per-layer self times of a batch workload: medians of the prefix
    marginals and, with ``eager`` (collector_write), of the rep's eager
    spans, the write's time counted beyond the last prefix.  Nothing is a
    residual of the rep, so their sum can miss the untraced rep time."""
    med = measure.median
    self_s, last = _self_times([r["prefix"] for r in rounds])
    if eager:
        split = []
        for r, p in zip(rounds, last):
            tid = {r["trace_id"]}
            split.append(
                (
                    sum(ctx.tracer.durations("router.write_partitioned", tid)) - p,
                    sum(ctx.tracer.durations("telemetry.write_lineage", tid)),
                    sum(ctx.tracer.durations("telemetry.harvest", tid)),
                )
            )
        names = ("router.write_s", "telemetry.lineage_s", "telemetry.harvest_s")
        for i, name in enumerate(names):
            self_s[name] = med([x[i] for x in split])
    for name, v in self_s.items():
        out.put(name, v, "s")
    layers_sum = sum(self_s.values())
    out.put("trace.layers_sum_s", layers_sum, "s")
    untraced = med([r["untraced_s"] for r in rounds])
    traced = med([r["traced_s"] for r in rounds])
    out.notes["layers_sum_vs_rep"] = round(layers_sum / untraced - 1, 4)
    out.put("trace.rep_untraced_s", untraced, "s")
    out.put("trace.rep_traced_s", traced, "s")
    out.put("trace.overhead_s", traced - untraced, "s")
    _prefix_counters(out, [r["prefix"] for r in rounds])
    out.put("spark.executor_run_s", med([r["stages"]["executorRunTime"] / 1e3 for r in rounds]), "s")
    out.put("spark.executor_cpu_s", med([r["stages"]["executorCpuTime"] / 1e9 for r in rounds]), "s")
    out.put("spark.gc_s", med([r["gc_s"] for r in rounds]), "s")
    out.put("session.start_s", ctx.setup["session.start_s"], "s")
    out.put("plans.load_config_s", ctx.setup.get("plans.load_config_s", 0.0), "s")
    out.notes["rounds"] = len(rounds)


def _probe_counts(out: Outcome, spark, pages_dir, prefix: dict) -> None:
    """Row counts per layer from one untimed query over the same pages."""
    records = parse_pages(spark.read.parquet(pages_dir), engine="sql")
    enriched = enrich_resource_geo(records, lkp_geo(spark))
    row = enriched.agg(
        F.count(F.lit(1)).alias("records"),
        F.sum(F.when(F.size("attributes") > 0, 1).otherwise(0)).alias("matched"),
        F.sum(F.when(F.col("resource.country") != "", 1).otherwise(0)).alias("geo_hits"),
    ).collect()[0]
    out.put("sources.rows", prefix["sources.scan_s"]["n"], "count")
    out.put("parse.lines", prefix["parse.explode_s"]["n"], "count")
    if "ottl.ottl_s" in prefix:
        out.put("ottl.dropped_rows", prefix["parse.parse_s"]["n"] - prefix["ottl.ottl_s"]["n"], "count")
    out.put("parse.records", row["records"], "count")
    out.put("parse.match_ratio", row["matched"] / row["records"], "ratio")
    out.put("enrich.geo_hit_ratio", row["geo_hits"] / row["records"], "ratio")


# --------------------------------------------------------------------------
# stream_tail: StreamingPipeline.from_config(...).start(available_now=False)


class Feeder:
    """Open-loop feeder: one thread renames ``files[i]`` into ``watch`` at
    ``t0 + i * period``, without slowing when the system does."""

    def __init__(self, files: list[str], watch: str, t0: float, period: float):
        self.files, self.watch = files, watch
        self.due = [t0 + i * period for i in range(len(files))]
        self.released: list[float] = []
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        for path, due in zip(self.files, self.due):
            time.sleep(max(0.0, due - time.time()))
            os.rename(path, os.path.join(self.watch, os.path.basename(path)))
            self.released.append(time.time())

    def start(self) -> "Feeder":
        self._thread.start()
        return self

    def join(self) -> None:
        self._thread.join()

    def lateness(self) -> list[float]:
        return [r - d for r, d in zip(self.released, self.due)]


def file_epochs(checkpoint: str) -> dict[str, int]:
    """basename -> micro-batch id, from the file source's log in the
    checkpoint (one JSON entry per file, compacted files included)."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def epoch_commits(pipe: StreamingPipeline) -> dict[int, float]:
    """epoch -> commit time: the latest ``ts`` among that epoch's markers in
    every sink (an epoch missing from any sink is not committed)."""
    per_sink = [set(s.committed_epochs()) for s in pipe.sinks.values()]
    done = set.intersection(*per_sink) if per_sink else set()
    return {e: max(s.epoch_meta(e)["ts"] for s in pipe.sinks.values()) for e in done}


def _stream_files(seconds: float, traced: bool) -> tuple[int, list[int]]:
    """(warm-up files, measured files of each phase).  A traced run splits
    its seconds into untraced, traced and untraced phases (1:2:1)."""
    n = max(1, round(seconds / STREAM_PERIOD_S))
    if not traced:
        return round(STREAM_WARMUP_S / STREAM_PERIOD_S), [n]
    quarter = max(1, n // 4)
    return round(STREAM_WARMUP_S / STREAM_PERIOD_S), [quarter, max(1, n - 2 * quarter), quarter]


def _committed(checkpoint: str, names: list[str]) -> bool:
    """Whether every named file sits in a micro-batch the query committed."""
    commits = os.path.join(checkpoint, "commits")
    if not os.path.isdir(commits):
        return False
    done = {int(n) for n in os.listdir(commits) if n.isdigit()}
    epochs = file_epochs(checkpoint)
    return all(epochs.get(n) in done for n in names)


def _feed_phase(q, checkpoint: str, files: list[str], watch: str) -> Feeder:
    """Feed ``files`` open loop from now, then wait until all are committed
    or the drain deadline passes."""
    feeder = Feeder(files, watch, time.time() + 0.05, STREAM_PERIOD_S).start()
    feeder.join()
    names = [os.path.basename(f) for f in files]
    deadline = feeder.due[-1] + STREAM_DRAIN_S
    while q.isActive and time.time() < deadline and not _committed(checkpoint, names):
        time.sleep(0.05)
    return feeder


def run_stream_tail(ctx: Ctx) -> Outcome:
    spark, out = ctx.spark, Outcome()
    src, _ = _inputs(ctx, "stream_tail")
    n_warm, sizes = _stream_files(ctx.seconds, ctx.traced)
    staging, watch = ctx.path("staging"), ctx.path("watch")
    os.makedirs(staging)
    os.makedirs(watch)
    files = []
    for name in sorted(n for n in os.listdir(src) if n.endswith(".parquet")):
        shutil.copy(os.path.join(src, name), staging)
        files.append(os.path.join(staging, name))

    load_s, cfg = _timed(lambda: load_config(configs.collector_config("pages_stream", watch)))
    ctx.setup["plans.load_config_s"] = load_s
    checkpoint = ctx.path("checkpoint")
    t0 = time.perf_counter()
    pipe = StreamingPipeline.from_config(
        spark, cfg, configs.PIPELINE, ctx.path("out"), lineage_dir=ctx.path("lineage")
    )
    q = pipe.start(checkpoint_dir=checkpoint, available_now=False)
    try:
        _feed_phase(q, checkpoint, files[:n_warm], watch)
        setup_s = ctx.setup["session.start_s"] + load_s + time.perf_counter() - t0
        counters = measure.SparkCounters(spark)
        phases = []
        start = n_warm
        for i, size in enumerate(sizes):
            chunk = files[start : start + size]
            start += size
            cpu0 = measure.tree_usage()[0]
            mark, gc0 = counters.mark(), counters.gc_ms()
            if i == 1:  # traced phase
                with spans.wrapped(ctx.tracer):
                    feeder = _feed_phase(q, checkpoint, chunk, watch)
            else:
                feeder = _feed_phase(q, checkpoint, chunk, watch)
            phases.append(
                {
                    "feeder": feeder,
                    "usage": measure.tree_usage(),
                    "cpu0": cpu0,
                    "stages": counters.stages_since(mark),
                    "gc_s": (counters.gc_ms() - gc0) / 1000,
                }
            )
    finally:
        q.stop()
        q.awaitTermination()
    # read once the query has stopped: a batch's progress is posted after
    # its commit, so a read at the end of a phase can miss the last one
    progress = [json.loads(p.json) for p in q.recentProgress]

    epoch_of = file_epochs(checkpoint)
    commits = epoch_commits(pipe)
    for ph in phases:
        f = ph["feeder"]
        ph["epoch"] = [epoch_of.get(os.path.basename(p)) for p in f.files]
        ph["latency"] = [
            commits[e] - due if e in commits else None for e, due in zip(ph["epoch"], f.due)
        ]

    # per-sink committed totals must equal one batch run of the same config
    # over the same files (all of them are in ``watch`` by now)
    ref_cfg = load_config(configs.collector_config("pages_parquet", watch))
    runner = BatchPipelineRunner(spark, ref_cfg, ctx.path("reference"))
    if ctx.traced:  # the reference run also times the batch write path
        with spans.wrapped(ctx.tracer), ctx.tracer.span("rep", trace_id="reference"):
            result = runner.run()
    else:
        result = runner.run()
    ref = result.sink_counts()
    totals = compare("stream vs batch sink rows", pipe.sink_counts(), ref)

    for ph in phases:
        for lat in ph["latency"]:
            out.record(totals + ([] if lat is not None else ["file not committed by the drain deadline"]))
    if out.failed:
        return out
    if not ctx.traced:
        main = phases[0]
        pages = len(main["latency"]) * STREAM_PAGES_PER_FILE
        last_commit = max(commits[e] for e in main["epoch"])
        _window_metrics(
            out,
            setup_s,
            main["latency"],
            pages / (last_commit - main["feeder"].due[0]),
            pages,
            main["usage"][0] - main["cpu0"],
            main["usage"][1],
        )
        out.notes["feeder_late_max_s"] = max(main["feeder"].lateness())
        # files of one epoch share its commit time, so the samples rest on
        # fewer epochs than files: count those behind the window and the tail
        tail = out.metrics["latency_tail_s"][0]
        out.notes["window_epochs"] = len(set(main["epoch"]))
        out.notes["tail_epochs"] = len({e for e, x in zip(main["epoch"], main["latency"]) if x >= tail})
        return out

    _stream_layers(out, ctx, pipe, phases, commits, progress)
    out.put("session.start_s", ctx.setup["session.start_s"], "s")
    out.put("plans.load_config_s", load_s, "s")
    # the upstream layers run lazily inside process_batch; the collector
    # prefix plans over the same files attribute them (first round warms up)
    prefixes = _collector_prefixes(spark, watch)
    rounds = [_run_prefixes(ctx, prefixes, f"prefix{i}") for i in range(STREAM_PREFIX_ROUNDS + 1)][1:]
    self_s, last = _self_times(rounds)
    tid = {"reference"}
    write = sum(ctx.tracer.durations("router.write_partitioned", tid))
    harvest = sum(ctx.tracer.durations("telemetry.harvest", tid))
    self_s["router.write_s"] = write - measure.median(last)
    self_s["telemetry.harvest_s"] = harvest
    for name, v in self_s.items():
        out.put(name, v, "s")
    _prefix_counters(out, rounds)
    _probe_counts(out, spark, watch, rounds[0])
    return out


def _stream_layers(out: Outcome, ctx: Ctx, pipe, phases, commits, progress) -> None:
    med = measure.median
    tracer = ctx.tracer
    traced = phases[1]
    epochs = sorted({e for e in traced["epoch"] if e is not None})
    ids = {f"epoch{e}" for e in epochs}
    pb = tracer.durations("stream.process_batch", ids)
    writes = tracer.durations("sinks.write_epoch", ids)
    progress = [p for p in progress if p["batchId"] in epochs and "addBatch" in p["durationMs"]]
    out.put("stream.epochs", len(epochs), "count")
    out.put("stream.process_batch_p50_s", med(pb), "s")
    out.put("stream.process_batch_max_s", max(pb), "s")
    out.put(
        "stream.trigger_overhead_s",
        med([(p["durationMs"]["triggerExecution"] - p["durationMs"]["addBatch"]) / 1e3 for p in progress]),
        "s",
    )
    files_in = [traced["epoch"].count(e) for e in epochs]
    out.put("stream.files_per_epoch", med(files_in), "count")
    f = traced["feeder"]
    # backlog at each release: files released so far whose epoch has not committed
    backlog = [
        sum(1 for r, e in zip(f.released, traced["epoch"]) if r <= t and commits[e] > t)
        for t in f.released
    ]
    out.put("stream.backlog_files_max", max(backlog), "count")
    out.put("stream.feeder_late_s", max(f.lateness()), "s")
    out.put("sinks.write_epoch_s", med(writes), "s")
    out.put("sinks.calls_per_epoch", len(writes) / len(epochs), "count")
    size = files = 0
    rows = {}
    for name, sink in pipe.sinks.items():
        rows[name] = sum(sink.epoch_meta(e)["rows"] for e in epochs)
        for e in epochs:
            s, n = _write_stats(os.path.join(sink.data_dir, f"epoch={e}"))
            size, files = size + s, files + n
    out.put("sinks.output_bytes", size, "bytes")
    out.put("sinks.files", files, "count")
    out.put("router.fanout_ratio", sum(rows.values()) / rows["sink_all"], "ratio")
    out.put("telemetry.lineage_s", med(tracer.durations("telemetry.write_lineage", ids)), "s")
    out.put("spark.executor_run_s", traced["stages"]["executorRunTime"] / 1e3, "s")
    out.put("spark.executor_cpu_s", traced["stages"]["executorCpuTime"] / 1e9, "s")
    out.put("spark.gc_s", traced["gc_s"], "s")
    # the traced phase sits between two untraced ones, so warm-up drift
    # across phases does not read as tracing overhead
    p50 = [med([x for x in ph["latency"] if x is not None]) for ph in phases]
    untraced = (p50[0] + p50[2]) / 2
    out.put("trace.rep_untraced_s", untraced, "s")
    out.put("trace.rep_traced_s", p50[1], "s")
    out.put("trace.overhead_s", p50[1] - untraced, "s")
    # share of an epoch its layer spans explain
    children = [
        sum(s["end"] - s["start"] for s in tracer.spans if s["trace_id"] == tid and s["parent"] is not None)
        for tid in ids
    ]
    out.put("trace.layers_sum_s", med(children), "s")


# (name, unit) of every per-layer metric, in BENCHMARK.json order
LAYER_METRICS = [
    ("session.start_s", "s"),
    ("plans.load_config_s", "s"),
    ("sources.scan_s", "s"),
    ("sources.input_bytes", "bytes"),
    ("sources.rows", "count"),
    ("parse.explode_s", "s"),
    ("parse.parse_s", "s"),
    ("parse.lines", "count"),
    ("parse.records", "count"),
    ("parse.match_ratio", "ratio"),
    ("enrich.enrich_s", "s"),
    ("enrich.broadcast_bytes", "bytes"),
    ("enrich.geo_hit_ratio", "ratio"),
    ("ottl.ottl_s", "s"),
    ("ottl.dropped_rows", "count"),
    ("batch.shuffle_write_bytes", "bytes"),
    ("batch.shuffle_s", "s"),
    ("router.count_s", "s"),
    ("router.write_s", "s"),
    ("router.fanout_ratio", "ratio"),
    ("sinks.write_epoch_s", "s"),
    ("sinks.calls_per_epoch", "count"),
    ("sinks.output_bytes", "bytes"),
    ("sinks.files", "count"),
    ("telemetry.lineage_s", "s"),
    ("telemetry.harvest_s", "s"),
    ("stream.epochs", "count"),
    ("stream.process_batch_p50_s", "s"),
    ("stream.process_batch_max_s", "s"),
    ("stream.trigger_overhead_s", "s"),
    ("stream.files_per_epoch", "count"),
    ("stream.backlog_files_max", "count"),
    ("stream.feeder_late_s", "s"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("trace.layers_sum_s", "s"),
    ("trace.rep_untraced_s", "s"),
    ("trace.rep_traced_s", "s"),
    ("trace.overhead_s", "s"),
]

END_TO_END_METRICS = [
    ("docs_per_s", "pages/s"),
    ("latency_p50_s", "s"),
    ("latency_tail_s", "s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("cpu_s_per_mdoc", "cpu-s/Mpage"),
]

WORKLOADS = {
    "parse_count": run_parse_count,
    "collector_write": run_collector_write,
    "stream_tail": run_stream_tail,
}
