"""Tests of the benchmark's own logic.

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.spans import (  # noqa: E402
    PREFIX_LAYERS,
    Span,
    attribute,
    covered,
    prefix_differences,
    self_time_by_layer,
    self_times,
)
from perfbench.workloads import (  # noqa: E402
    BASE_EPOCH,
    CLASSES,
    TURNS_PER_CONV,
    WORKLOADS,
    Workload,
    expected_parse_counts,
    generate,
    turn_epoch,
)

SMALL = Workload("small", "ship", 2_000, (0.6, 0.1, 0.1, 0.1, 0.1), 3, 3_600)


def test_generator_is_deterministic_per_seed():
    a, counts_a = generate(SMALL, 7)
    b, counts_b = generate(SMALL, 7)
    c, _ = generate(SMALL, 8)
    assert a.equals(b) and counts_a == counts_b
    assert not a.equals(c)


def test_generator_counts_every_line_once():
    table, counts = generate(SMALL, 1)
    assert sum(counts.values()) == table.num_rows == SMALL.turns
    assert set(counts) == set(CLASSES)
    assert expected_parse_counts(counts) == {
        "telemetry": counts["statsd"] + counts["graphite"],
        "logs": counts["json"] + counts["prose"],
        "bad": counts["bad"],
    }


def test_generator_follows_mix_and_cardinality():
    rollup = WORKLOADS["rollup_hicard"]
    wl = Workload("t", "rollup", 5_000, rollup.mix, 4, 600)
    table, counts = generate(wl, 3)
    assert counts["json"] == counts["prose"] == counts["bad"] == 0
    names = {t.split(":")[0].split(" ")[0] for t in table.column("text").to_pylist()}
    # every telemetry name carries one of the 4 series suffixes
    assert {n.rsplit(".s", 1)[1] for n in names} == {"0", "1", "2", "3"}


def test_conversation_layout_shares_seconds_within_hour_slots():
    wl = Workload("t", "ship", 2_000, SMALL.mix, 1, None)
    table, _ = generate(wl, 5)
    epochs = [ts.timestamp() for ts in table.column("ts").to_pylist()]
    assert epochs == [turn_epoch(i) for i in range(wl.turns)]
    # 24 hour slots of a simulated day; 4 turns of a conversation per second
    assert len(set(epochs)) == 24 * TURNS_PER_CONV // 4
    assert {int(e - BASE_EPOCH) // 3600 for e in epochs} == set(range(24))


def test_covered_merges_overlapping_intervals_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert covered([], 0, 1) == 0


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "job", "job", 0.0, 10.0, None, "r"),
        Span(1, "build", "session", 0.0, 2.0, 0, "r"),
        Span(2, "write", "sinks", 2.0, 10.0, 0, "r"),
        # two overlapping executions inside the write
        Span(3, "a.write", "sinks", 3.0, 6.0, 2, "r"),
        Span(4, "b.count", "checkpoint", 5.0, 7.0, 2, "r"),
    ]
    own = self_times(spans)
    assert own == {0: 0.0, 1: 2.0, 2: 4.0, 3: 3.0, 4: 2.0}
    assert self_time_by_layer(spans) == {
        "job": 0.0, "session": 2.0, "sinks": 7.0, "checkpoint": 2.0,
    }


def test_prefix_differences():
    prefix = {
        "scan": 1.0,
        "parse.telemetry": 2.0, "parse.logs": 1.5,
        "telemetry": 2.5, "logs": 2.0,
        "routed_telemetry": 3.0, "routed_logs": 2.25,
        "aggregates": 6.0,
    }
    assert prefix_differences(prefix) == {
        "sources.scan_s": 1.0,
        "functions.parse_s": 2.5,
        "enrich.s": 1.0,
        "route.s": 0.75,
        "aggregate.s": 3.5,
    }
    assert set(PREFIX_LAYERS) == set(prefix_differences(prefix))


@pytest.mark.parametrize(
    "plan, description, expected",
    [
        ("Project [line#1, wavefront AS sink#9]", "collect at /x/plans/checkpoint.py:90",
         ("checkpoint", "wavefront", "count")),
        ("InsertIntoHadoopFs /r/sinks/kafka ... kafka AS sink#3", "parquet at <unknown>:0",
         ("sinks", "kafka", "write")),
        ("InsertIntoHadoopFs /r/lineage", "parquet at <unknown>:0",
         ("checkpoint", None, "lineage")),
        ("Filter (isnotnull(sink#4) AND (sink#4 = prometheus))", "collect at sinks.py:48",
         ("sinks", "prometheus", "prepare")),
        ("InsertIntoHadoopFs /r/sinks/aggregates", "parquet at <unknown>:0",
         ("sinks", None, "write")),
        ("LocalTableScan [scope#1]", "collect at enrich.py:49", ("session", None, "other")),
    ],
)
def test_attribute(plan, description, expected):
    assert attribute(plan, description, "/r/sinks", "/r/lineage") == expected


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_digest_ignores_row_and_column_order(spark):
    from perfbench.check import compare, summarize

    rows = [(i, f"v{i}", {"k": str(i % 3), "a": "x"}) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, s string, m map<string,string>")
    got = summarize({
        "base": df,
        "shuffled": df.repartition(5).orderBy("s").select("m", "s", "id"),
        "changed": df.withColumn("s", df["s"].substr(1, 2)),
        "empty": df.limit(0),
    })
    assert got["base"] == got["shuffled"]
    assert got["base"]["rows"] == got["changed"]["rows"] == 200
    assert got["changed"]["digest"] != got["base"]["digest"]
    assert got["empty"] == {"rows": 0, "digest": "0" * 16}
    # one table alone digests the same as inside a batch
    assert summarize({"x": df}) == {"x": got["base"]}
    assert compare({"a": got["base"]}, {"a": got["shuffled"]}) == []
    assert compare({"a": got["base"]}, {"a": got["changed"]}) != []


def test_turn_epoch_matches_synthetic_transcripts(spark):
    from pyspark.sql import functions as F

    from cernan_spark.sources.transcripts import synthetic_transcripts

    rows = synthetic_transcripts(spark, n_convs=30, turns_per_conv=TURNS_PER_CONV).select(
        "order_key", F.unix_timestamp("ts").alias("epoch")
    ).collect()
    assert len(rows) == 30 * TURNS_PER_CONV
    assert all(r["epoch"] == turn_epoch(r["order_key"]) for r in rows)
