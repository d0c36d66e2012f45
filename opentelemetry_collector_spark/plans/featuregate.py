"""Staged feature-gate registry — the featuregate package analog
(featuregate/registry.go:28-137, gate.go:21-77, stage.go:18-48).

Gates carry a lifecycle stage with the reference's exact semantics:

- ``ALPHA``  — disabled by default, operator must enable;
- ``BETA``   — enabled by default, operator may disable;
- ``STABLE`` — permanently enabled; must carry a removal version at
  registration (registry.go:83-85) and rejects modification
  (registry.go:116-118).

Configuration follows the collector's ``--feature-gates`` flag syntax
(otelcol/command.go:40-52): a comma-separated/list spec of ``+id`` /
``-id`` / ``id`` (bare id = enable), also accepted as a top-level
``feature_gates:`` list in the YAML config (applied by
``plans.config.load_config`` before pipeline build, so gated behavior is
decided at plan time, not per task — gates never ship to executors)."""

from __future__ import annotations

import enum
import threading
from collections.abc import Callable
from dataclasses import dataclass, field


class Stage(enum.Enum):
    ALPHA = "Alpha"
    BETA = "Beta"
    STABLE = "Stable"

    def __str__(self) -> str:  # Stage.String() parity (stage.go:38-48)
        return self.value


class GateError(ValueError):
    """Unknown gate, duplicate registration, or invalid modification."""


@dataclass
class Gate:
    """Immutable registration facts + the mutable enabled bit
    (gate.go:21-28). Owned by a Registry."""

    id: str
    stage: Stage
    description: str = ""
    reference_url: str = ""
    removal_version: str = ""
    _enabled: bool = field(default=False, repr=False)

    def is_enabled(self) -> bool:
        return self._enabled


class Registry:
    """Thread-safe gate registry (registry.go:32-137)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._gates: dict[str, Gate] = {}

    def register(
        self,
        gate_id: str,
        stage: Stage,
        description: str = "",
        reference_url: str = "",
        removal_version: str = "",
    ) -> Gate:
        """Register a gate; default enabled state follows the stage
        (registry.go:74-90): ALPHA off, BETA/STABLE on. A STABLE gate
        without a removal version or a duplicate id raises."""
        if not isinstance(stage, Stage):
            raise GateError(f"unknown stage value {stage!r} for gate {gate_id!r}")
        if stage is Stage.STABLE and not removal_version:
            raise GateError(f"no removal version set for stable gate {gate_id!r}")
        g = Gate(
            id=gate_id,
            stage=stage,
            description=description,
            reference_url=reference_url,
            removal_version=removal_version,
            _enabled=stage in (Stage.BETA, Stage.STABLE),
        )
        with self._lock:
            if gate_id in self._gates:
                raise GateError(f"attempted to add pre-existing gate {gate_id!r}")
            self._gates[gate_id] = g
        return g

    def set(self, gate_id: str, enabled: bool) -> None:
        """Flip a gate (registry.go:110-121). STABLE gates reject."""
        with self._lock:
            g = self._gates.get(gate_id)
            if g is None:
                raise GateError(f"no such feature gate -{gate_id}")
            if g.stage is Stage.STABLE:
                raise GateError(
                    f"feature gate {gate_id} is stable, can not be modified"
                )
            g._enabled = enabled

    def is_enabled(self, gate_id: str) -> bool:
        with self._lock:
            g = self._gates.get(gate_id)
            if g is None:
                raise GateError(f"no such feature gate -{gate_id}")
            return g._enabled

    def visit_all(self, fn: Callable[[Gate], None]) -> None:
        """Visit gates in lexicographical id order (registry.go:124-137)."""
        with self._lock:
            gates = sorted(self._gates.values(), key=lambda g: g.id)
        for g in gates:
            fn(g)

    def apply_flags(self, spec: str | list[str]) -> None:
        """Apply a ``--feature-gates`` spec (otelcol/command.go:40-52):
        comma-separated string or list of ``+id`` / ``-id`` / ``id``
        entries; bare id enables. Unknown ids raise (same as Set)."""
        items = spec.split(",") if isinstance(spec, str) else list(spec)
        for raw in items:
            item = raw.strip()
            if not item:
                continue
            if item.startswith("-"):
                self.set(item[1:], False)
            else:
                self.set(item.removeprefix("+"), True)


_global_registry = Registry()


def global_registry() -> Registry:
    """The process-wide registry (registry.go:26-30 GlobalRegistry)."""
    return _global_registry


# --- gates this engine actually consults -----------------------------------

# record-count-bounded export envelopes (send_batch_max_size semantics)
# are well-tested and on by default; disabling falls back to unbounded
# per-resource envelopes
BOUNDED_ENVELOPES_GATE = _global_registry.register(
    "exporter.record_count_envelopes",
    Stage.BETA,
    description="split export envelopes at max_records_per_envelope",
)
