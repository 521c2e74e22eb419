"""Self-tests of the benchmark: seeded inputs, output checks that catch a
wrong result, tail statistics, span bookkeeping, and event-log job counts
past Spark's ~1000 retained-job window.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import datagen, transports
from perfbench.trace import (
    GROUP_PREFIX,
    TracedTransport,
    Tracer,
    event_log_file,
    read_event_log,
    union_seconds,
)
from perfbench.workloads import check_reference, compare, tail


def test_benchmark_json_lists_the_reported_metrics():
    from perfbench.layers import PER_LAYER
    from perfbench.run import END_TO_END, ROOT, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert tuple(w["name"] for w in spec["workloads"]) == WORKLOADS


def test_datagen_same_seed_same_tables():
    a, b = datagen.make_tables(7), datagen.make_tables(7)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)


def test_datagen_other_seed_other_values_same_sizes():
    a, b = datagen.make_tables(7), datagen.make_tables(8)
    assert not a["lineitem"].equals(b["lineitem"])
    assert not a["events"].equals(b["events"])
    assert all(a[t].num_rows == b[t].num_rows for t in datagen.TABLES)
    assert all(a[t].schema == b[t].schema for t in datagen.TABLES)


def test_reference_draws_follow_the_seed():
    assert transports.draw(3) == transports.draw(3)
    assert transports.draw(3) != transports.draw(4)


def test_compare_catches_perturbed_result():
    good = pa.table({"k": ["a", "b"], "v": [1.25, 2.5]})
    assert compare(good, pa.table({"v": [2.5, 1.25], "k": ["b", "a"]})) is None
    # inside 6 significant digits is the same value
    assert compare(good, pa.table({"k": ["a", "b"], "v": [1.2500001, 2.5]})) is None
    assert compare(good, pa.table({"k": ["a", "b"], "v": [1.26, 2.5]})) is not None
    assert compare(good, pa.table({"k": ["a"], "v": [1.25]})) is not None
    assert compare(good, pa.table({"k": ["a", "b"], "w": [1.25, 2.5]})) is not None


def _write(root, table, rows):
    os.makedirs(os.path.join(root, table))
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(root, table, "part-0.parquet"))


def test_reference_check_catches_perturbed_store(tmp_path):
    p = transports.draw(5)
    h = transports.day_block(p, p.day)
    good = [{"block_height": h, "end_block": h + p.day_span - 1}]
    bad = [{"block_height": h, "end_block": h + p.day_span}]
    _write(str(tmp_path / "good"), "block_numbers_by_day", good)
    _write(str(tmp_path / "bad"), "block_numbers_by_day", bad)
    assert check_reference(str(tmp_path / "good"), p)["block_numbers_by_day"] is None
    assert check_reference(str(tmp_path / "bad"), p)["block_numbers_by_day"] is not None
    # a table that never landed is a failed check, not a crash
    assert check_reference(str(tmp_path / "good"), p)["protocol_data_by_day"] is not None


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(29)]
    value, pct = tail(xs)
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 19 / 29)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_union_seconds_merges_overlaps():
    assert union_seconds([[0, 2], [1, 3], [5, 6]]) == 4
    assert union_seconds([]) == 0


def test_spans_nest_and_record_parent(tmp_path):
    t = Tracer("r", enabled=True)
    with t.span("outer"):
        with t.span("inner", jobs=False):
            pass
    inner, outer = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["run"] == "r" and inner["end"] >= inner["start"]
    t.dump(str(tmp_path / "spans.jsonl"))
    assert outer["self_s"] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"]))
    off = Tracer("r", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_traced_transport_pickles_with_parent(tmp_path):
    import cloudpickle

    t = Tracer("r", enabled=True, trace_dir=str(tmp_path))
    fn = TracedTransport(lambda req: req["x"] + 1, "probe", t)
    with t.span("asset"):
        shipped = cloudpickle.loads(cloudpickle.dumps(fn))
    assert shipped({"x": 1}) == 2  # as on an executor: appended to a file
    (f,) = tmp_path.glob("transport-*.jsonl")
    rec = json.loads(f.read_text())
    assert rec["parent"] == t.spans[0]["id"] and rec["kind"] == "probe"
    assert fn({"x": 2}) == 3  # on the driver: an in-memory span
    assert t.spans[-1]["name"] == "transport"


def test_event_log_counts_more_than_a_thousand_jobs(tmp_path):
    """Job counts come from the event log, so they stay exact (and never
    negative) past the status tracker's retained-job window."""
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-jobcount")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", str(tmp_path))
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", "file://" + str(log_dir))
        .getOrCreate()
    )
    n = 1100
    try:
        t = Tracer("r", enabled=True)
        t.attach(spark)
        rdd = spark.range(1)._jdf.javaRDD()  # JVM-only jobs, no Python worker
        with t.span("unit") as unit:
            for _ in range(n):
                rdd.count()
        rdd.count()  # outside any span
    finally:
        spark.stop()
    groups = read_event_log(event_log_file(str(log_dir)))
    assert groups[f"{GROUP_PREFIX}{unit['id']}"]["jobs"] == n
    assert groups[None]["jobs"] == 1
    assert all(g["jobs"] >= 0 for g in groups.values())
