"""In-memory spans and the arithmetic the report derives from them.

Pure Python: no Spark here, so the tests can check the arithmetic alone.
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; ``dump`` writes them out once, at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name, layer, start, end, parent=None, run_id="") -> Span:
        span = Span(len(self.spans), name, layer, start, end, parent, run_id)
        self.spans.append(span)
        return span

    def timed(self, name, layer, fn, run_id="") -> Span:
        """Run ``fn()`` inside a new root span."""
        t0 = time.time()
        fn()
        return self.add(name, layer, t0, time.time(), None, run_id)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "self_s_by_layer": self_time_by_layer(self.spans),
                },
                f,
                indent=1,
            )


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + own[s.id]
    return out


#: layer → (the prefix outputs it ends at, the prefix outputs it starts from).
#: Each prefix output is one stage ``run_pipeline``/``parse_stage`` returns,
#: timed alone; a layer's time is the difference of the two prefix sums.
PREFIX_LAYERS = {
    "sources.scan_s": (["scan"], []),
    "functions.parse_s": (["parse.telemetry", "parse.logs"], ["scan"]),
    "enrich.s": (["telemetry", "logs"], ["parse.telemetry", "parse.logs"]),
    "route.s": (["routed_telemetry", "routed_logs"], ["telemetry", "logs"]),
    # the aggregate reads the enriched telemetry, not the routed rows
    "aggregate.s": (["aggregates"], ["telemetry"]),
}


def prefix_differences(prefix_s: dict[str, float]) -> dict[str, float]:
    """Layer times from the timed prefixes; not clamped, so a negative
    value says the layer's cost is below the probes' noise."""
    return {
        layer: sum(prefix_s[p] for p in upto) - sum(prefix_s[p] for p in base)
        for layer, (upto, base) in PREFIX_LAYERS.items()
    }


SINKS = ("console", "wavefront", "prometheus", "influxdb", "elasticsearch", "kafka")

_AS_SINK = re.compile(r"\b(" + "|".join(SINKS) + r") AS sink#")
_SINK_EQ = re.compile(r"sink#\d+ = (" + "|".join(SINKS) + r")\)")


def attribute(plan: str, description: str, out_dir: str, lineage_dir: str | None):
    """(layer, sink or None, what) of one SQL execution of a job run, from
    its physical plan and call site. ``write_sinks`` tags each sink table
    with a literal ``<sink> AS sink`` column; the lineage append writes
    only the lineage path."""
    m = _AS_SINK.search(plan)
    if m:
        if "checkpoint.py" in description:
            return "checkpoint", m.group(1), "count"
        return "sinks", m.group(1), "write"
    if lineage_dir is not None and lineage_dir in plan:
        return "checkpoint", None, "lineage"
    m = _SINK_EQ.search(plan)
    if m:
        return "sinks", m.group(1), "prepare"
    if out_dir in plan:
        return "sinks", None, "write"
    return "session", None, "other"
