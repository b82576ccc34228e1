"""Seeded inputs for the benchmark workloads.

The generator is plain Python: the same (workload, seed) gives the same
rows, so the expected per-class line counts are known before Spark sees
the input. Line templates are the corpora of
``cernan_spark.sources.transcripts`` (the reference's golden statsd,
graphite, JSON and prose lines), plus one statsd line per event kind of
its events map, so that the influxdb routes (``^purchase.*``,
``^errors$``) and the ``^errors$`` histogram mask receive rows.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from cernan_spark.sources.transcripts import (
    _EVENT_MAP,
    BAD_CORPUS,
    GRAPHITE_CORPUS,
    JSON_CORPUS,
    PROSE_CORPUS,
    ROLES,
    STATSD_CORPUS,
    TOOLS,
)

#: line classes the generator draws from, in the order of ``Workload.mix``
CLASSES = ("statsd", "graphite", "json", "prose", "bad")

TEMPLATES = {
    "statsd": STATSD_CORPUS
    + [f"{name}:%v{suffix}" for name, suffix, _, _ in _EVENT_MAP.values()],
    "graphite": GRAPHITE_CORPUS,
    "json": JSON_CORPUS,
    "prose": PROSE_CORPUS,
    "bad": BAD_CORPUS,
}

#: parse-layer output each generated line class must land in
PARSE_OUTPUT = {
    "statsd": "telemetry",
    "graphite": "telemetry",
    "json": "logs",
    "prose": "logs",
    "bad": "bad",
}

#: distinct inputs per workload: ``--seed`` n selects input n % SEED_POOL,
#: so that every run's outputs can be checked against recorded ones
SEED_POOL = 32

BASE_EPOCH = 1_700_000_000
TURNS_PER_CONV = 40
#: share of rows on the hot conversation conv-000000 (the skew fixture)
HOT_FRAC = 0.2

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("order_key", pa.int64()),
    ]
)


@dataclass(frozen=True)
class Workload:
    name: str
    #: "ship": run_pipeline + write_sinks with a lineage table (the
    #: shipping job); "rollup": run_pipeline's aggregates written once
    job: str
    turns: int
    #: share of statsd, graphite, json, prose and bad lines (CLASSES order)
    mix: tuple[float, float, float, float, float]
    #: distinct name suffixes per telemetry template; 1 keeps corpus names
    series: int
    #: seconds the timestamps spread uniformly over (bins = span_s / 60);
    #: None keeps synthetic_transcripts' layout (see ``turn_epoch``)
    span_s: int | None


WORKLOADS = {
    w.name: w
    for w in (
        # synthetic_transcripts' traffic through the shipping job: fan-out
        # sinks dominate
        Workload("ship_mixed", "ship", 40_000, (0.6, 0.1, 0.1, 0.1, 0.1), 1, None),
        # aggregates only, over many series, tags and bins, where the
        # aggregate shuffle and quantile sketches were predicted to dominate
        # (README.md has the traced result). Uniform timestamps put
        # every series in every bin, so there are many groups per series
        Workload(
            "rollup_hicard", "rollup", 120_000, (0.85, 0.15, 0.0, 0.0, 0.0), 3,
            1_200,
        ),
        # the shipping job over ~90% JSON and prose, where parse, route
        # fan-out and the row-grain elasticsearch/kafka writes were
        # predicted to dominate
        Workload("logs_fanout", "ship", 40_000, (0.05, 0.0, 0.45, 0.45, 0.05), 1, None),
    )
}


def input_seed(seed: int) -> int:
    """The generator seed behind ``--seed``."""
    return seed % SEED_POOL


def turn_epoch(i: int) -> int:
    """Epoch second of row ``i`` in synthetic_transcripts' layout:
    conversations run in 24 hour-slots of a simulated day, and every 4
    turns of a conversation share an epoch second, 7 s after the previous
    4. Rows of the hot conversation keep their row's slot."""
    return (
        BASE_EPOCH
        + (i // TURNS_PER_CONV) % 24 * 3600
        + (i % TURNS_PER_CONV) // 4 * 7
    )


def _with_suffix(template: str, sep: str, k: int) -> str:
    name, rest = template.split(sep, 1)
    return f"{name}.s{k}{sep}{rest}"


def generate(wl: Workload, seed: int) -> tuple[pa.Table, dict[str, int]]:
    """Rows of the transcripts table for ``wl`` and ``seed``, plus the
    number of lines generated per class (one line per turn)."""
    rng = random.Random(f"{wl.name}:{seed}")
    counts = dict.fromkeys(CLASSES, 0)
    cols: dict[str, list] = {name: [] for name in SCHEMA.names}
    classes = rng.choices(CLASSES, weights=wl.mix, k=wl.turns)
    for i, cls in enumerate(classes):
        counts[cls] += 1
        text = rng.choice(TEMPLATES[cls])
        if wl.series > 1 and cls in ("statsd", "graphite"):
            text = _with_suffix(
                text, ":" if cls == "statsd" else " ", rng.randrange(wl.series)
            )
        text = text.replace("%v", f"{rng.randrange(100_000) / 100:.2f}")
        text = text.replace("%i", str(rng.randrange(1000)))
        hot = rng.random() < HOT_FRAC
        conv = 0 if hot else i // TURNS_PER_CONV + 1
        cols["conv_id"].append(f"conv-{conv:06d}")
        # the hot conversation keeps turn_idx unique by using the row id
        cols["turn_idx"].append(i if hot else i % TURNS_PER_CONV)
        cols["role"].append(rng.choice(ROLES))
        cols["text"].append(text)
        cols["tool"].append(rng.choice(TOOLS))
        epoch = turn_epoch(i) if wl.span_s is None else BASE_EPOCH + rng.randrange(wl.span_s)
        cols["ts"].append(epoch * 1_000_000)
        cols["order_key"].append(i)
    return pa.table(cols, schema=SCHEMA), counts


def expected_parse_counts(line_counts: dict[str, int]) -> dict[str, int]:
    """Rows each parse_stage output must hold for these generated lines."""
    out = {"telemetry": 0, "logs": 0, "bad": 0}
    for cls, n in line_counts.items():
        out[PARSE_OUTPUT[cls]] += n
    return out


def write_input(wl: Workload, seed: int, path: str, n_files: int) -> dict:
    """Write the workload's input to ``path`` as ``n_files`` parquet files
    (one scan task each) and describe it."""
    table, counts = generate(wl, seed)
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(
            table.slice(k * step, step), os.path.join(path, f"part-{k}.parquet")
        )
    return {
        "rows": table.num_rows,
        "bytes": dir_bytes(path),
        "line_counts": counts,
    }


def dir_bytes(path: str) -> int:
    """Total size of the data files under ``path`` (hidden files and
    ``_SUCCESS`` markers excluded)."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return total
