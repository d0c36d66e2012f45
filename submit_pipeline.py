"""spark-submit entry point: run a collector config's pipelines over a
pages table (parquet or Iceberg) and write per-sink outputs.

    spark-submit --py-files dist/opentelemetry_collector_spark.zip \
        submit_pipeline.py <pages_path> <out_root> --config <config.yaml> \
        [--streaming [--trigger "5 seconds"]]

As ``otelcol`` takes its pipelines from ``--config``, so does this entry:
the config is the pipeline, and ``pages_path`` is injected as the path of
every ``pages_parquet``/``records_parquet`` receiver that names none.

On a cluster, pass the usual sizing conf (executors, shuffle partitions,
maxPartitionBytes back to 128m+); the pipeline itself is cluster-agnostic —
everything here is the same code the local benches and tests run.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    # optional so `--validate --config ...` works without data paths
    # (the reference's validate sub-command takes only --config)
    ap.add_argument("pages_path", nargs="?", default=None)
    ap.add_argument("out_root", nargs="?", default=None)
    ap.add_argument("--streaming", action="store_true", help="run as a file stream")
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
        # the dispatch tables in plans/compiler.py (receivers, processors,
        # connectors) + operators/clientauth.py (extensions) — keep in
        # sync when adding a kind.
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

    if not args.config:
        ap.error("--config is required: the collector config is the pipeline")
    if not args.pages_path or not args.out_root:
        ap.error("pages_path and out_root are required (except with --validate)")

    # the YAML IS the pipeline (T1); the pages path is injected as the
    # receiver unless the config names one
    from opentelemetry_collector_spark.plans import BatchPipelineRunner, load_config
    from opentelemetry_collector_spark.streaming.stream import StreamingPipeline

    cfg = load_config(list(args.config))
    for rc in cfg.receivers.values():
        if rc.kind in ("pages_parquet", "records_parquet") and not rc.options.get("path"):
            rc.options["path"] = args.pages_path
    spark = SparkSession.builder.appName("otel-collector-spark-pipeline").getOrCreate()
    if args.streaming:
        pname = cfg.topo_order()[0]
        pipe = StreamingPipeline.from_config(
            spark, cfg, pname, args.out_root, lineage_dir=f"{args.out_root}/_lineage"
        )
        # the receiver section built the stream source (graph.go builds
        # receivers identically in both modes)
        q = pipe.start(
            checkpoint_dir=f"{args.out_root}/_checkpoint",
            available_now=args.trigger is None,
            processing_time=args.trigger,
        )
        q.awaitTermination()
        print(json.dumps({"sinks": pipe.sink_counts()}))
        return
    result = BatchPipelineRunner(spark, cfg, args.out_root).run()
    print(
        json.dumps(
            {"sinks": result.sink_counts(), "telemetry": result.telemetry.as_dict()}
        )
    )


if __name__ == "__main__":
    main()
