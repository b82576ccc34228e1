"""Output checks: order-independent digests of what the sinks wrote.

A digest is exact, so float sums that depend on the order partial
aggregates merge in make it depend on the partition layout: recorded
values are kept per core count (``expected.json``)."""

from __future__ import annotations

import json
import os
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _hashable(df: DataFrame, name: str) -> Column:
    """Maps are not hashable in Spark; hash their sorted entries instead."""
    c = F.col(name)
    if isinstance(df.schema[name].dataType, MapType):
        return F.array_sort(F.map_entries(c))
    return c


def summarize(tables: dict[str, DataFrame]) -> dict[str, dict]:
    """Row count and order-independent digest of each table, in one Spark
    job: the sum, modulo 2**64, of each row's xxhash64 over its columns
    in name order (so the digest ignores both row order and column
    order)."""
    hashed = reduce(DataFrame.unionByName, [
        df.select(
            F.lit(name).alias("table"),
            F.xxhash64(*[_hashable(df, c) for c in sorted(df.columns)])
            .cast("decimal(38,0)").alias("h"),
        )
        for name, df in tables.items()
    ])
    rows = hashed.groupBy("table").agg(
        F.count(F.lit(1)).alias("rows"), F.sum("h").alias("acc")
    ).collect()
    out = {name: {"rows": 0, "digest": f"{0:016x}"} for name in tables}
    for r in rows:
        out[r["table"]] = {"rows": r["rows"], "digest": f"{int(r['acc']) % (1 << 64):016x}"}
    return out


def load_expected(cpus: int, workload: str, seed: int) -> dict | None:
    """Sink summaries recorded for this core count, workload and seed, or
    None if none were recorded."""
    with open(EXPECTED_PATH) as f:
        table = json.load(f)
    return table.get(str(cpus), {}).get(workload, {}).get(str(seed))


def compare(observed: dict, expected: dict) -> list[str]:
    """Mismatches between two {sink: {rows, digest}} maps; an empty list
    means they agree."""
    return [
        f"{sink}: got {observed.get(sink)}, expected {expected.get(sink)}"
        for sink in sorted(set(observed) | set(expected))
        if observed.get(sink) != expected.get(sink)
    ]
