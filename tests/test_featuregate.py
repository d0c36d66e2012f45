"""Feature-gate registry tests (featuregate/registry.go + gate.go analog)."""

from __future__ import annotations

import pytest

from opentelemetry_collector_spark.plans.featuregate import (
    GateError,
    Registry,
    Stage,
)


def test_stage_defaults_and_flip():
    r = Registry()
    a = r.register("x.alpha", Stage.ALPHA)
    b = r.register("x.beta", Stage.BETA)
    assert not a.is_enabled() and b.is_enabled()  # registry.go:74-79
    r.set("x.alpha", True)
    r.set("x.beta", False)
    assert a.is_enabled() and not b.is_enabled()


def test_stable_gate_contract():
    r = Registry()
    with pytest.raises(GateError, match="removal version"):
        r.register("x.stable", Stage.STABLE)  # registry.go:83-85
    g = r.register("x.stable", Stage.STABLE, removal_version="v0.99.0")
    assert g.is_enabled()
    with pytest.raises(GateError, match="stable"):
        r.set("x.stable", False)  # registry.go:116-118


def test_duplicate_and_unknown():
    r = Registry()
    r.register("dup", Stage.ALPHA)
    with pytest.raises(GateError, match="pre-existing"):
        r.register("dup", Stage.ALPHA)  # registry.go:86-88
    with pytest.raises(GateError, match="no such feature gate"):
        r.set("nope", True)  # registry.go:111-114


def test_apply_flags_spec_and_visit_order():
    r = Registry()
    r.register("b.two", Stage.BETA)
    r.register("a.one", Stage.ALPHA)
    r.apply_flags("+a.one, -b.two")  # command.go:40-52 syntax
    assert r.is_enabled("a.one") and not r.is_enabled("b.two")
    r.apply_flags(["b.two"])  # bare id = enable
    assert r.is_enabled("b.two")
    seen = []
    r.visit_all(lambda g: seen.append(g.id))
    assert seen == ["a.one", "b.two"]  # lexicographical (registry.go:124-137)


def test_config_feature_gate_disables_record_count_envelopes(spark):
    from opentelemetry_collector_spark.fixtures.pages import synthesize_pages
    from opentelemetry_collector_spark.functions.otlp_json import logs_to_otlp_json
    from opentelemetry_collector_spark.operators.parse import parse_pages
    from opentelemetry_collector_spark.plans.config import ConfigError, load_config
    from opentelemetry_collector_spark.plans.featuregate import (
        BOUNDED_ENVELOPES_GATE,
        global_registry,
    )

    records = parse_pages(synthesize_pages(spark, 50, partitions=2))

    def n_envelopes() -> int:
        return logs_to_otlp_json(records, max_records_per_envelope=2).count()

    n_resources = records.select("resource").distinct().count()
    assert BOUNDED_ENVELOPES_GATE.is_enabled()  # beta: on by default
    assert n_envelopes() > n_resources  # split at 2 records per envelope
    cfg_yaml = """
receivers: {pages: {path: /tmp/x}}
exporters: {out: {path: /tmp/y}}
service:
  pipelines:
    logs: {receivers: [pages], exporters: [out]}
feature_gates: ["-exporter.record_count_envelopes"]
"""
    try:
        load_config(cfg_yaml)
        assert not BOUNDED_ENVELOPES_GATE.is_enabled()
        # gate off: one unbounded envelope per resource
        assert n_envelopes() == n_resources
    finally:
        global_registry().set("exporter.record_count_envelopes", True)
    assert BOUNDED_ENVELOPES_GATE.is_enabled()
    with pytest.raises(ConfigError, match="no such feature gate"):
        load_config(cfg_yaml.replace("exporter.record_count_envelopes", "bogus.gate"))
