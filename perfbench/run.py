"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload parse_count --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  Everything the run writes stays under
``.perfbench_cache/`` in the repository root.  Exits 2, printing no result,
when the engine package is not importable from that root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER = "local[4]"
# a fixed, pre-touched heap keeps the JVM's resident size small and the
# same from run to run (a growing heap made peak RSS bimodal)
SPARK_CONF = {
    "spark.driver.memory": "2g",
    "spark.driver.defaultJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
    "spark.ui.showConsoleProgress": "false",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["parse_count", "collector_write", "stream_tail"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _confine(cache: str) -> None:
    """Point every temporary and scratch directory of this process, the JVM
    and the Python workers into ``cache``, and make the repository
    importable for the workers."""
    tmp = os.path.join(cache, "tmp")
    local = os.path.join(cache, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -UsePerfData: HotSpot writes its perf-data file to /tmp whatever tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)

    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _stop_jvm(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import opentelemetry_collector_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    cache = os.path.join(ROOT, ".perfbench_cache")
    _confine(cache)
    from perfbench import inputs, measure, spans, workloads

    traced = bool(args.trace)
    spec = workloads.input_spec(args.workload, args.seconds, traced)
    # inputs are written by child processes before Spark starts: their cost
    # is in no metric and their memory never sits in the measured tree
    t0 = time.perf_counter()
    inputs.write_page_files(workloads.input_dir(cache, args.seed, spec), args.seed, spec[1], spec[2])
    print(f"perfbench: inputs took {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    work = os.path.join(cache, "runs", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    from opentelemetry_collector_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=MASTER, extra_conf=SPARK_CONF)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    ctx = workloads.Ctx(
        spark=spark,
        seed=args.seed,
        seconds=args.seconds,
        traced=traced,
        work=work,
        cache=cache,
        tracer=spans.Tracer() if traced else None,
        setup={"session.start_s": start_s},
    )
    try:
        out = workloads.WORKLOADS[args.workload](ctx)
    finally:
        _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    if traced:
        trace_dir = os.path.join(cache, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-s{args.seed}-{os.getpid()}.json")
        ctx.tracer.dump(path)
        out.notes["spans"] = os.path.relpath(path, ROOT)

    names = workloads.LAYER_METRICS if traced else workloads.END_TO_END_METRICS
    metrics = {}
    for name, unit in names:
        # a layer the workload never calls did no work on it: 0
        value, unit = out.metrics.get(name, (0, unit))
        metrics[name] = {"value": value, "unit": unit}
    for p in out.problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print("host: " + json.dumps(measure.host_facts()))
    print("notes: " + json.dumps(out.notes))
    result = {
        "correct": out.attempted > 0 and out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
