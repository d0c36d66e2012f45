"""spark-submit entry point: run the parse→enrich→route→aggregate pipeline
over a pages table (parquet or Iceberg) and write per-sink outputs.

    spark-submit --py-files dist/opentelemetry_collector_spark.zip \
        submit_pipeline.py <pages_path> <out_root> [--streaming] [--repartition N]

On a cluster, pass the usual sizing conf (executors, shuffle partitions,
maxPartitionBytes back to 128m+); the pipeline itself is cluster-agnostic —
everything here is the same code the local benches and tests run.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    # optional so `--validate --config ...` works without data paths
    # (the reference's validate sub-command takes only --config)
    ap.add_argument("pages_path", nargs="?", default=None)
    ap.add_argument("out_root", nargs="?", default=None)
    ap.add_argument("--streaming", action="store_true", help="run as a file stream")
    ap.add_argument("--repartition", type=int, default=0, help="url-hash repartition width")
    ap.add_argument(
        "--parse-engine",
        default="sql",
        choices=["sql", "arrow"],
        help="parse engine of the built-in demo pipeline (no --config); with "
        "--config the parse processor's engine option decides, in both modes",
    )
    ap.add_argument(
        "--config",
        action="append",
        help="collector config source (path / file:/env:/yaml: URI / inline "
        "YAML); repeatable — later sources merge over earlier ones, and "
        "${env:VAR}/${file:...} references expand (confmap resolver)",
    )
    ap.add_argument(
        "--components",
        action="store_true",
        help="print the available component kinds as YAML and exit "
        "(the `otelcol components` sub-command, "
        "otelcol/command_components.go:24-75)",
    )
    ap.add_argument(
        "--validate",
        action="store_true",
        help="validate the config and exit without starting Spark "
        "(the `otelcol validate` sub-command, "
        "otelcol/command_validate.go:15-40)",
    )
    ap.add_argument(
        "--trigger",
        default=None,
        help='streaming processingTime interval, e.g. "5 seconds" '
        "(default: drain-and-stop availableNow)",
    )
    args = ap.parse_args()

    if args.components:
        # `otelcol components` analog (otelcol/command_components.go:24-75):
        # the factory inventory as YAML, no runtime started. Kinds mirror
        # the dispatch tables in plans/compiler.py + streaming/stream.py +
        # operators/clientauth.py — keep in sync when adding a kind.
        import yaml

        inventory = {
            "buildinfo": {"description": "OpenTelemetry Collector on PySpark"},
            "receivers": [
                "pages_parquet", "pages_synthetic", "records_parquet",
                "pages_stream",
            ],
            "processors": [
                "parse", "transform", "filter", "grok", "enrich_geo",
                "enrich_lang", "batch", "client_attribute", "memory_limiter",
                "redact_pii", "c4_clean", "badwords", "encoding_gate",
                "dedup", "dedup_minhash",
            ],
            "exporters": ["parquet"],
            "connectors": ["forward", "count"],
            "extensions": ["bearertoken"],
        }
        print(yaml.safe_dump(inventory, sort_keys=False), end="")
        return

    if args.validate:
        # `otelcol validate` analog: resolve + unmarshal + Validate(),
        # report, exit — no runtime is started
        # (otelcol/command_validate.go:15-40)
        from opentelemetry_collector_spark.plans import ConfigError, load_config

        if not args.config:
            ap.error("--validate requires at least one --config source")
        try:
            load_config(list(args.config))
        except ConfigError as e:
            raise SystemExit(f"config is invalid: {e}")
        print("config is valid")
        return

    if not args.pages_path or not args.out_root:
        ap.error("pages_path and out_root are required (except with --validate)")

    spark = SparkSession.builder.appName("otel-collector-spark-pipeline").getOrCreate()

    if args.config:
        # config-driven mode: the YAML IS the pipeline (T1); the pages
        # path is injected as the receiver unless the config names one
        from opentelemetry_collector_spark.plans import BatchPipelineRunner, load_config
        from opentelemetry_collector_spark.streaming.stream import StreamingPipeline

        cfg = load_config(list(args.config))
        for rc in cfg.receivers.values():
            if rc.kind in ("pages_parquet", "records_parquet") and not rc.options.get("path"):
                rc.options["path"] = args.pages_path
        if args.streaming:
            pname = cfg.topo_order()[0]
            pipe = StreamingPipeline.from_config(
                spark, cfg, pname, args.out_root, lineage_dir=f"{args.out_root}/_lineage"
            )
            # the receiver section built the stream source (graph.go
            # builds receivers identically in both modes) — no injected
            # pages_stream needed
            q = pipe.start(
                checkpoint_dir=f"{args.out_root}/_checkpoint",
                available_now=args.trigger is None,
                processing_time=args.trigger,
            )
            q.awaitTermination()
            print(json.dumps({"sinks": pipe.sink_counts()}))
        else:
            runner = BatchPipelineRunner(spark, cfg, args.out_root)
            result = runner.run()
            print(
                json.dumps(
                    {
                        "sinks": result.sink_counts(),
                        "telemetry": result.telemetry.as_dict(),
                    }
                )
            )
        return

    from opentelemetry_collector_spark.fixtures.lookups import lkp_geo, lkp_lang
    from opentelemetry_collector_spark.operators.batch import batch_repartition
    from opentelemetry_collector_spark.operators.enrich import (
        enrich_lang_family,
        enrich_resource_geo,
    )
    from opentelemetry_collector_spark.operators.parse import parse_pages
    from opentelemetry_collector_spark.streaming.router import FanoutRouter, Route
    from opentelemetry_collector_spark.streaming.stream import StreamingPipeline, stream_pages

    routes = [
        Route("errors", predicate=F.col("severity_number") >= 17),
        Route("audit", kind="all"),
        Route("default", kind="default"),
    ]

    def transform(records):
        records = enrich_resource_geo(records, lkp_geo(spark))
        return enrich_lang_family(records, lkp_lang(spark))

    if args.streaming:
        from opentelemetry_collector_spark.operators.parse import pages_parser
        from opentelemetry_collector_spark.plans.compiler import PipelinePlan, PlanStage

        stages = [
            PlanStage("parse", "parse", {}, fn=pages_parser(args.parse_engine)),
            PlanStage("enrich", "enrich", {}, fn=transform),
        ]
        plan = PipelinePlan("demo", stages, FanoutRouter(routes))
        pipe = StreamingPipeline(routes, args.out_root, plan=plan)
        q = pipe.start(
            stream_pages(spark, args.pages_path),
            checkpoint_dir=f"{args.out_root}/_checkpoint",
        )
        q.awaitTermination()
        print(json.dumps({"sinks": pipe.sink_counts()}))
        return

    pages = spark.read.parquet(args.pages_path).select("url", "warc_ts", "lang", "text")
    if args.repartition:
        pages = batch_repartition(partitions=args.repartition, key="url")(pages)
    records = transform(parse_pages(pages, engine=args.parse_engine))
    router = FanoutRouter(routes)
    counts = {
        r["sink"]: r["n"]
        for r in router.count_by(records).collect()
    }
    from opentelemetry_collector_spark.streaming.sinks import IdempotentParquetSink

    assigned = router.assign(records)
    written = router.write_per_sink(
        assigned,
        {r.name: IdempotentParquetSink(f"{args.out_root}/{r.name}", name=r.name) for r in routes},
    )
    print(json.dumps({"route_counts": counts, "written": written}))


if __name__ == "__main__":
    main()
