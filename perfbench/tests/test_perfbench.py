"""Tests of the benchmark itself, at toy size.

    python -m pytest perfbench/tests -q

The end-to-end cases run ``perfbench/run.py``'s ``main`` in a child process
with the workload sizes shrunk, so each takes well under a minute.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, measure, workloads  # noqa: E402

TOY = """
import sys
sys.path.insert(0, {root!r})
from perfbench import run, workloads as w
w.PARSE_COUNT_INPUT = {parse_count}
w.COLLECTOR_INPUT = (2, 20)
w.STREAM_PAGES_PER_FILE = 5
w.STREAM_WARMUP_S = 1.0
w.STREAM_PERIOD_S = 0.5
sys.exit(run.main({argv!r}))
"""

TOY_SEED = 977  # toy inputs and references are cached under their own seed
TOY_PARSE_COUNT = (2, 40)


def _toy_run(workload: str, trace: int, seed: int = TOY_SEED) -> tuple[int, str]:
    argv = ["--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]
    p = subprocess.run(
        [sys.executable, "-c", TOY.format(root=ROOT, argv=argv, parse_count=TOY_PARSE_COUNT)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=ROOT,
    )
    return p.returncode, p.stdout


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["parse_count", "stream_tail", "collector_write"])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_unit(workload, trace):
    rc, stdout = _toy_run(workload, trace)
    assert rc == 0, stdout
    result = json.loads(stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = _declared()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    notes = json.loads(stdout.strip().splitlines()[-2].removeprefix("notes: "))
    if trace and workload != "stream_tail":
        assert "layers_sum_vs_rep" in notes  # the layer-sum check was made
    if workload == "stream_tail" and not trace:
        assert 1 <= notes["tail_epochs"] <= notes["window_epochs"]
    if not trace:
        for m in declared:  # end-to-end metrics are never 0
            assert result["metrics"][m["name"]]["value"] > 0, m["name"]
        assert result["metrics"]["latency_tail_s"]["value"] != result["metrics"]["latency_p50_s"]["value"]


def test_declared_names_match_the_code():
    declared = _declared()
    assert [(m["name"], m["unit"]) for m in declared["end_to_end"]] == workloads.END_TO_END_METRICS
    assert [(m["name"], m["unit"]) for m in declared["per_layer"]] == workloads.LAYER_METRICS
    assert {w["name"] for w in declared["workloads"]} <= set(workloads.WORKLOADS)


def test_planted_wrong_count_fails_the_rep():
    # plant a reference with one count off by one; every timed rep then
    # disagrees with it and must count as failed
    cache = os.path.join(ROOT, ".perfbench_cache")
    seed = TOY_SEED + 1
    pages_dir = workloads.input_dir(cache, seed, ("pages", *TOY_PARSE_COUNT))
    ref = workloads.ref_path(cache, "parse_count", pages_dir)
    rc, stdout = _toy_run("parse_count", 0, seed=seed)  # writes the true reference
    assert rc == 0
    assert json.loads(stdout.strip().splitlines()[-1])["correct"] is True
    with open(ref) as f:
        counts = json.load(f)
    key = sorted(counts)[0]
    counts[key] += 1
    with open(ref, "w") as f:
        json.dump(counts, f)
    try:
        rc, stdout = _toy_run("parse_count", 0, seed=seed)
    finally:
        os.remove(ref)
    assert rc == 0
    result = json.loads(stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["attempted"] >= 1 and result["failed"] == result["attempted"]


def test_check_collector_catches_a_planted_count():
    ref = {
        "sink_counts": {"a": 3, "b": 2},
        "marker_rows": 5,
        "marker_per_sink": {"a": 3, "b": 2},
        "by_country": {"a|US": 3, "b|DE": 2},
    }
    out = workloads.Outcome()
    out.record(workloads.check_collector(json.loads(json.dumps(ref)), ref))
    bad = json.loads(json.dumps(ref))
    bad["by_country"]["a|US"] = 4
    out.record(workloads.check_collector(bad, ref))
    assert (out.attempted, out.failed) == (2, 1)
    assert any("by_country" in p for p in out.problems)


def _grammar_mix(table) -> dict[str, float]:
    from opentelemetry_collector_spark.operators.parse import ACCESS_RE, APPLOG_FULL_RE, KV_RE

    kinds = {"access": 0, "applog": 0, "kv": 0, "noise": 0}
    total = 0
    for text in table.column("text").to_pylist():
        for line in (text or "").split("\n"):
            if not line:
                continue
            total += 1
            if re.match(ACCESS_RE, line, re.ASCII):
                kinds["access"] += 1
            elif re.match(APPLOG_FULL_RE, line, re.ASCII):
                kinds["applog"] += 1
            elif re.match(KV_RE, line, re.ASCII):
                kinds["kv"] += 1
            else:
                kinds["noise"] += 1
    return {k: v / total for k, v in kinds.items()}


def test_seed_changes_content_not_grammar_mix():
    a = inputs.pages_table(1, 0, 300)
    b = inputs.pages_table(2, 0, 300)
    assert a.equals(inputs.pages_table(1, 0, 300))  # same seed, same input
    assert not set(a.column("url").to_pylist()) & set(b.column("url").to_pylist())
    assert a.column("text").to_pylist() != b.column("text").to_pylist()
    mix_a, mix_b = _grammar_mix(a), _grammar_mix(b)
    for kind in mix_a:  # ~6k lines per seed: 0.03 is several standard errors
        assert abs(mix_a[kind] - mix_b[kind]) < 0.03, (kind, mix_a, mix_b)


def test_tail_has_ten_samples_beyond_it_or_is_the_nearest_rank_p90():
    values = [float(i) for i in range(150)]
    v, pct, beyond = measure.tail(values)
    assert beyond == 10 and sum(x > v for x in values) == 10
    assert pct == pytest.approx(100 * 140 / 150)
    values = [float(i) for i in range(15)]  # a batch run's reps
    v, pct, beyond = measure.tail(values)
    assert (v, beyond) == (13.0, 1) and pct >= 90
    v, pct, beyond = measure.tail([3.0, 1.0, 2.0])
    assert (v, pct, beyond) == (3.0, 100.0, 0)
    assert v != measure.median([3.0, 1.0, 2.0])


def test_fails_without_the_engine():
    # a directory holding only BENCHMARK.json and the benchmark
    bare = os.path.join(ROOT, ".perfbench_cache", "tmp", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"))
    try:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "parse_count", "--seed", "1", "--seconds", "1", "--trace", "0"],
            capture_output=True,
            text=True,
            timeout=170,
            cwd=bare,
            env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        )
    finally:
        shutil.rmtree(bare)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
