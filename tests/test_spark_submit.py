"""Ship-mode end-to-end: the real `spark-submit --py-files` invocation.

The north rule requires the pipeline to run via spark-submit --py-files;
everything else in the suite drives the library in-process, so this is
the one test that proves the deployable artifact (dist zip + entry
script) actually boots a fresh Spark JVM, imports the engine from the
zip, runs a ``--config`` pipeline (parse→enrich→route), and reports
per-sink counts that match an in-process ground truth.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

from pyspark.sql import functions as F

from opentelemetry_collector_spark.fixtures.pages import generate_pages_pandas
from opentelemetry_collector_spark.operators.parse import parse_pages
from opentelemetry_collector_spark.schemas import PAGES_SCHEMA

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = "/opt/spark/bin/spark-submit"

# inline YAML for --config: parse → both enrichments → three routes; the
# pages receiver names no path, so the entry injects pages_path
SHIP_CONFIG = """
receivers: {pages: {kind: pages_parquet}}
processors: {enrich_geo: {}, enrich_lang: {}}
exporters:
  errors: {kind: parquet, predicate: "severity_number >= 17"}
  audit: {kind: parquet, all: true}
  default: {kind: parquet, default: true}
service:
  pipelines:
    logs:
      receivers: [pages]
      processors: [enrich_geo, enrich_lang]
      exporters: [errors, audit, default]
"""


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit binary absent"
)
def test_spark_submit_py_files_ships_the_pipeline(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    pdf = generate_pages_pandas(np.arange(0, 120, dtype=np.uint64))
    spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(2).write.parquet(pages_dir)

    # ground truth from the in-process engine (same code the zip ships)
    records = parse_pages(
        spark.read.parquet(pages_dir).select("url", "warc_ts", "lang", "text")
    )
    total = records.count()
    n_err = records.where(F.col("severity_number") >= 17).count()
    assert total > 0 and n_err > 0

    subprocess.run(
        ["make", "dist"], cwd=REPO, check=True, capture_output=True, timeout=120
    )
    out_root = str(tmp_path / "out")
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--driver-memory", "2g",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.session.timeZone=UTC",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", f"{REPO}/dist/opentelemetry_collector_spark.zip",
            f"{REPO}/dist/submit_pipeline.py",
            pages_dir,
            out_root,
            "--config",
            SHIP_CONFIG,
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
        cwd=str(tmp_path),  # NOT the repo root: the zip must supply the code
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(
        [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    )
    counts = result["sinks"]
    assert counts["audit"] == total
    assert counts["errors"] == n_err
    assert counts["default"] == total - n_err
    # and the per-sink parquet really landed on disk with the right rows
    got = spark.read.parquet(f"{out_root}/logs/data").where("sink = 'errors'").count()
    assert got == n_err


def test_validate_subcommand_checks_config_without_spark(tmp_path):
    """`--validate` = the `otelcol validate` sub-command
    (otelcol/command_validate.go:15-40): resolve + validate the config and
    exit — no SparkSession, no data paths, exit code carries the verdict."""
    ok = tmp_path / "ok.yaml"
    ok.write_text(
        "receivers:\n  pages_synthetic: {n_rows: 5}\n"
        "exporters:\n  a: {kind: parquet, all: true}\n"
        "service:\n  pipelines:\n"
        "    p: {receivers: [pages_synthetic], exporters: [a]}\n"
    )
    bad = tmp_path / "bad.yaml"
    bad.write_text("service:\n  pipelines: {}\n")

    entry = os.path.join(REPO, "submit_pipeline.py")
    good = subprocess.run(
        [sys.executable, entry, "--validate", "--config", str(ok)],
        capture_output=True, text=True, timeout=60,
    )
    assert good.returncode == 0 and "config is valid" in good.stdout

    broken = subprocess.run(
        [sys.executable, entry, "--validate", "--config", str(bad)],
        capture_output=True, text=True, timeout=60,
    )
    assert broken.returncode != 0
    assert "config is invalid" in broken.stderr

    # data paths stay required outside validate mode
    missing = subprocess.run(
        [sys.executable, entry, "--config", str(ok)],
        capture_output=True, text=True, timeout=60,
    )
    assert missing.returncode != 0
    # and so does a config: there is no built-in pipeline
    no_config = subprocess.run(
        [sys.executable, entry, str(tmp_path / "pages"), str(tmp_path / "out")],
        capture_output=True, text=True, timeout=60,
    )
    assert no_config.returncode != 0 and "--config is required" in no_config.stderr


def test_components_subcommand_lists_factory_inventory(tmp_path):
    """`--components` = the `otelcol components` sub-command
    (otelcol/command_components.go:24-75): YAML inventory, no runtime.
    Sync-guard: every listed kind must appear in the dispatch tables it
    claims to mirror, so the inventory can't silently drift."""
    import yaml

    entry = os.path.join(REPO, "submit_pipeline.py")
    proc = subprocess.run(
        [sys.executable, entry, "--components"],
        capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 0
    inv = yaml.safe_load(proc.stdout)
    assert set(inv) == {
        "buildinfo", "receivers", "processors", "exporters",
        "connectors", "extensions",
    }
    dispatch_src = ""
    for rel in (
        "opentelemetry_collector_spark/plans/compiler.py",
        "opentelemetry_collector_spark/operators/clientauth.py",
    ):
        with open(os.path.join(REPO, rel)) as f:
            dispatch_src += f.read()
    for section in ("receivers", "processors", "connectors", "extensions"):
        for kind in inv[section]:
            assert f'"{kind}"' in dispatch_src, (
                f"--components lists {kind!r} but no dispatch table "
                "mentions it"
            )
