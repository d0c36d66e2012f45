"""The bench final-line contract and the scaling rules, without Spark.

A bench capture keeps only the last ~2 KB of stdout, so the single JSON
line bench.py prints must stay inside ``_LINE_BUDGET`` (with bounded
last-resort slack) however large the query slice grows — round 4 lost its
headline + ``calm_raw_pass`` evidence to exactly this (BENCH parsed:
null). The scaling pair and the pass rule are pure functions of the core
count and of a round list, so they are pinned here too.
"""

import importlib.util
import json
import os

_SPEC = importlib.util.spec_from_file_location(
    "bench_mod",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"),
)
bench = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(bench)


def _round(lo, hi, eff, before, after):
    return {
        "lo": lo,
        "hi": hi,
        "efficiency": eff,
        "host_ceiling": [before, after],
        "calmness": min(bench.calmness(before), bench.calmness(after)),
    }


def _rounds():
    return [
        _round(5123.4, 15878.9, 0.775, 0.921, 0.874),
        _round(4987.1, 15223.6, 0.763, 0.712, 0.958),
        _round(5201.7, 17114.2, 0.823, 0.902, 0.931),
    ]


def _realistic_result(n_queries: int) -> dict:
    names = list(bench.BENCH_QUERIES)
    names += [f"extra_query_family_{i:02d}" for i in range(n_queries - len(names))]
    scaling = bench.summarize_rounds(_rounds(), (1, 4))
    scaling["wall_s"] = 478.6
    return {
        "metric": "e2e_parse_enrich_route_aggregate",
        "value": 9.812,
        "unit": "sec",
        "sf": 0.1,
        "queries": {name: round(10.137 + 1.371 * i, 3) for i, name in enumerate(names[:n_queries])},
        "n_pages": 200000,
        "docs_per_sec": 20383.2,
        "routed_items": 8117050,
        "host": {
            "nproc": 4,
            "mem_gb": 15.7,
            "cpu_model": "Intel(R) Xeon(R) Platinum 8375C CPU @ 2.90GHz",
        },
        "scaling": scaling,
    }


def test_realistic_line_fits_untouched():
    # the real shape (21 queries, 3 rounds, host stamp) fits the budget
    # WITHOUT shedding — shedding is the emergency path, not the norm
    result = _realistic_result(21)
    line = bench._compact_line(result)
    assert len(line) <= bench._LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["scaling"]["calm_raw_pass"] is True
    assert len(parsed["scaling"]["rounds"]) == 3
    assert parsed["host"]["nproc"] == 4
    assert len(parsed["queries"]) == 21  # nothing shed


def test_oversized_line_sheds_to_bounded_length():
    # pathological growth (many queries) must shed down near the budget,
    # never print an unparseable >2KB line
    result = _realistic_result(80)
    assert len(json.dumps(result)) > bench._LINE_BUDGET  # premise
    line = bench._compact_line(result)
    assert len(line) <= bench._LINE_BUDGET + 400
    parsed = json.loads(line)  # still one valid JSON object
    # every informational tier actually shed before queries were cut —
    # a key-name typo in the shed list would silently no-op one tier
    for k in ("rounds", "host_ceiling"):
        assert k not in parsed["scaling"], k


def test_shedding_keeps_graded_fields_and_slowest_queries():
    result = _realistic_result(80)
    slowest = max(result["queries"], key=result["queries"].get)
    line = bench._compact_line(result)
    parsed = json.loads(line)
    # graded evidence survives: headline, calm_raw_pass, the host stamp
    assert parsed["value"] == 9.812
    assert parsed["docs_per_sec"] == 20383.2
    assert parsed["scaling"]["calm_raw_pass"] is True
    assert parsed["scaling"]["efficiency"] == 0.823
    assert parsed["host"] == result["host"]
    # query shedding drops the FASTEST first and says it truncated
    assert slowest in parsed["queries"]
    assert parsed["queries_truncated_to_slowest"] == len(parsed["queries"])
    assert len(parsed["queries"]) >= 5


def test_informational_scaling_fields_shed_before_queries():
    # mildly oversized: shedding should stop at the per-round list without
    # touching the query dict. Pad ONLY the round list to just past the
    # budget so dropping it (shedding tier 1) recovers fully.
    result = _realistic_result(21)
    while len(json.dumps(result)) <= bench._LINE_BUDGET:
        result["scaling"]["rounds"].append(_rounds()[0])
    line = bench._compact_line(result)
    parsed = json.loads(line)
    assert len(parsed["queries"]) == 21
    assert "rounds" not in parsed["scaling"]
    assert parsed["scaling"]["host_ceiling"] == [0.902, 0.931]


def test_scaling_pair_is_n_and_4n_within_the_host():
    assert bench.scaling_pair(4) == (1, 4)
    assert bench.scaling_pair(32) == (8, 32)
    assert bench.scaling_pair(9) == (2, 8)
    assert bench.scaling_pair(3) is None
    assert bench.scaling_pair(1) is None


def test_calmness_is_symmetric_around_one():
    assert bench.calmness(1.25) == bench.calmness(0.8) == 0.8
    assert bench.calmness(1.0) == 1.0
    assert bench.calmness(0.0) == 0.0


def test_pass_rule_and_summary_over_hand_built_rounds():
    noisy = _round(5000.0, 17000.0, 0.85, 0.84, 0.99)  # calmness 0.84 < bar
    superlinear = _round(3000.0, 14000.0, 1.167, 0.99, 0.98)  # not sane
    edge = _round(5000.0, 16000.0, 0.8, 0.85, 1.0)  # both bounds inclusive
    assert not bench.calm_pass(noisy)
    assert not bench.calm_pass(superlinear)
    assert not bench.sane(superlinear) and bench.sane(edge)
    assert bench.calm_pass(edge)
    assert bench.calm_pass(_round(5000.0, 21000.0, 1.05, 0.9, 0.9))

    failed = bench.summarize_rounds([noisy, superlinear], (1, 4))
    assert failed["calm_raw_pass"] is False
    # sane beats calm: the super-linear round is never the reported one
    assert failed["efficiency"] == 0.85
    assert failed["host_calmness"] == 0.84
    assert failed["efficiency_median"] == 0.85  # over sane rounds only
    assert failed["rounds_this_run"] == 2

    passed = bench.summarize_rounds([noisy, superlinear, edge], (1, 4))
    assert passed["calm_raw_pass"] is True
    assert passed["pair"] == [1, 4]
    assert (passed["lo_docs_per_sec"], passed["hi_docs_per_sec"]) == (5000.0, 16000.0)
    assert passed["efficiency_median"] == 0.825

    only_insane = bench.summarize_rounds([superlinear], (1, 4))
    assert only_insane["efficiency_median"] == 1.167  # all rounds as a last resort
