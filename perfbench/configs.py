"""Collector configs for the write workloads.

Shaped like ``pipelines/example.yaml``: parse, transform, filter, both
enrichments and the batch repartition, four parquet exporters (including a
``default`` and an ``all`` route), telemetry level ``normal``.  Only the
receiver differs between the batch (``pages_parquet``) and the streaming
(``pages_stream``) workload, so one batch run of the stream config over the
same files is the reference for the stream's committed totals.
"""

from __future__ import annotations

PROCESSORS = {
    "parse": {"engine": "sql"},
    "transform/normalize": {
        "kind": "transform",
        "statements": [
            'set(attributes["source"], "web")',
            'replace_match(attributes["path"], "/r/4*", "/r/4xx")',
        ],
    },
    "filter/drop_declined": {
        "kind": "filter",
        "drop_where": 'attributes["status"] == "403"',
    },
    "enrich_geo": {},
    "enrich_lang": {},
    "batch": {"partitions": 8, "key": "url"},
}

EXPORTERS = {
    "sink_errors": {"kind": "parquet", "predicate": "severity_number >= 17"},
    "sink_access": {"kind": "parquet", "predicate": 'attributes["method"] != nil'},
    "sink_default": {"kind": "parquet", "default": True},
    "sink_all": {"kind": "parquet", "all": True},
}

PIPELINE = "logs"


def collector_config(receiver: str, pages_dir: str, parse_engine: str = "sql") -> dict:
    """The workload config with one ``receiver`` kind reading ``pages_dir``."""
    processors = {k: dict(v) for k, v in PROCESSORS.items()}
    processors["parse"]["engine"] = parse_engine
    return {
        "receivers": {receiver: {"path": pages_dir}},
        "processors": processors,
        "exporters": {k: dict(v) for k, v in EXPORTERS.items()},
        "service": {
            "telemetry": {"metrics": {"level": "normal"}},
            "pipelines": {
                PIPELINE: {
                    "receivers": [receiver],
                    "processors": list(PROCESSORS),
                    "exporters": list(EXPORTERS),
                }
            },
        },
    }
