"""Driver-built frames: ``local_frame`` plans a JVM LocalRelation that
holds the same schema and rows as ``createDataFrame(<list>)``, every
driver-built frame in the sinks and pipelines goes through it, and one
append micro-batch on a Bloom-indexed table runs a pinned number of
Spark jobs."""

from __future__ import annotations

import ast
import os
import re
import time
from datetime import date, datetime, timezone
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_bigquery_spark.config import SinkConfig
from kafka_connect_bigquery_spark.sinks.warehouse import Warehouse, local_frame
from kafka_connect_bigquery_spark.sources.kafka import KAFKA_SCHEMA
from kafka_connect_bigquery_spark.streaming.pipeline import (
    SinkPipeline,
    json_value_parser,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "kafka_connect_bigquery_spark")

# a stored (manifest) schema as the empty-frame sites receive it: a
# non-nullable key, field metadata, and nested/collection/temporal types
STORED = T.StructType([
    T.StructField("k", T.LongType(), False),
    T.StructField("s", T.StructType([
        T.StructField("a", T.IntegerType()),
        T.StructField("t", T.TimestampType()),
    ]), True, {"comment": "evolved"}),
    T.StructField("tags", T.ArrayType(T.StringType())),
    T.StructField("m", T.MapType(T.StringType(), T.LongType())),
    T.StructField("d", T.DateType()),
    T.StructField("amt", T.DecimalType(10, 2)),
    T.StructField("raw", T.BinaryType()),
    T.StructField("p_date", T.StringType()),
])

CASES = {
    "empty": ("a int, b string", []),
    "nulls": ("a int, b string, c double", [(1, None, None), (None, "x", 2.5)]),
    "nested_struct": (
        "s struct<x: int, y: struct<z: string>>",
        [((1, ("q",)),), (None,), ((None, None),)],
    ),
    "array_int": ("xs array<int>", [([1, None, 3],), ([],), (None,)]),
    "map_string_bigint": (
        "m map<string,bigint>", [({"a": 1, "b": None},), ({},), (None,)]
    ),
    "timestamp": (
        "t timestamp",
        [
            (datetime(2024, 1, 2, 3, 4, 5, 678901),),
            (datetime(1969, 12, 31, 23, 59, 59, tzinfo=timezone.utc),),
            (None,),
        ],
    ),
    "date": ("d date", [(date(2024, 2, 29),), (date(1900, 1, 1),), (None,)]),
    "decimal": (
        "amt decimal(10,2)",
        [(Decimal("12.34"),), (Decimal("-99999999.99"),), (None,)],
    ),
    "binary": ("b binary", [(b"\x00\x01",), (bytearray(b"ab"),), (None,)]),
    "stored_schema_empty": (STORED, []),
    "stored_schema_rows": (
        STORED,
        [
            (7, (1, datetime(2024, 5, 6, 7, 8, 9)), ["a", None], {"x": 3},
             date(2024, 5, 6), Decimal("1.50"), b"\xff", "2024-05-06"),
            (8, None, None, None, None, None, None, None),
        ],
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_same_schema_and_rows_as_the_list_path(spark, case):
    schema, rows = CASES[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_naive_timestamps_read_as_local_time_like_the_list_path(spark, monkeypatch):
    rows = [(datetime(2024, 3, 10, 2, 30),), (datetime(2024, 11, 3, 1, 30),)]
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        got = local_frame(spark, rows, "t timestamp")
        want = spark.createDataFrame(rows, "t timestamp")
        epoch = F.unix_micros("t").alias("us")
        assert got.select(epoch).collect() == want.select(epoch).collect()
    finally:
        monkeypatch.undo()
        time.tzset()


def test_plans_a_local_table_scan_not_a_python_rdd(spark, capsys):
    rows = [("f1", "c", -1, 0), ("f2", "c", -1, 0)]
    ddl = "f string, c string, w int, bits long"
    local_frame(spark, rows, ddl).explain()
    plan = capsys.readouterr().out
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    # control: the list path this replaces is an RDD scan
    spark.createDataFrame(rows, ddl).explain()
    assert "ExistingRDD" in capsys.readouterr().out


def _frame_builders_outside_local_frame(path: str) -> list[str]:
    with open(path) as fh:
        src = fh.read()
    skip: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
            skip.update(range(node.lineno, node.end_lineno + 1))
    return [
        f"{os.path.relpath(path, PKG)}:{i}: {line.strip()}"
        for i, line in enumerate(src.splitlines(), 1)
        if i not in skip and re.search(r"createDataFrame\(|parallelize\(", line)
    ]


def test_sinks_and_pipelines_build_frames_only_through_local_frame():
    hits = []
    for sub in ("sinks", "pipelines"):
        for root, _dirs, files in os.walk(os.path.join(PKG, sub)):
            for name in sorted(files):
                if name.endswith(".py"):
                    hits += _frame_builders_outside_local_frame(os.path.join(root, name))
    assert hits == []


def _jobs_in_group(spark, group: str) -> int:
    """Spark jobs the status store recorded under one job group (set on
    the calling thread; jobs that adaptive execution starts on other
    threads inherit it), read once the listener bus has drained."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(sc._jvm.java.util.ArrayList())
    n = 0
    for i in range(jobs.size()):
        g = jobs.apply(i).jobGroup()
        n += int(g.isDefined() and g.get() == group)
    return n


def _kafka_batch(spark, tmp_path, name: str, ids: range, bad: int = 0):
    rows = [
        (f"k{i}".encode(), f'{{"event_id": {i}, "name": "n{i % 3}"}}'.encode(),
         "events", 0, i, datetime(2024, 1, 1, 0, 0, i % 60))
        for i in ids
    ] + [
        (b"bad", b"{not json", "events", 0, 10_000 + j, datetime(2024, 1, 1))
        for j in range(bad)
    ]
    path = str(tmp_path / name)
    spark.createDataFrame(rows, KAFKA_SCHEMA).write.parquet(path)
    return spark.read.schema(KAFKA_SCHEMA).parquet(path)


# jobs one append micro-batch runs on a Bloom-indexed table when it
# carries malformed records, adaptive execution's shuffle-stage jobs
# included: the dead-letter probe and append, the per-table split, the
# data append and the incremental Bloom refresh. A change that adds a
# job per batch must update this figure knowingly.
APPEND_BATCH_JOBS = 9


def test_write_batch_metrics_and_job_count_on_a_bloom_indexed_table(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = SinkConfig(
        topics=["events"], errors_tolerance="all", dead_letter_table="events_dlq"
    )
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("name", T.StringType()),
    ])
    pipe = SinkPipeline(warehouse=wh, config=cfg, value_parser=json_value_parser(schema))
    pipe.write_batch(_kafka_batch(spark, tmp_path, "b0", range(0, 20)), 0)
    wh.record_bloom("events", ["event_id"])

    batch = _kafka_batch(spark, tmp_path, "b1", range(20, 50), bad=2)
    spark.sparkContext.setJobGroup("append_batch", "one pinned write_batch")
    try:
        pipe.write_batch(batch, 1)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert _jobs_in_group(spark, "append_batch") == APPEND_BATCH_JOBS

    m = pipe.last_metrics
    assert m["batch_id"] == 1
    assert m["n_records"] == 32 and m["n_tombstones"] == 0
    assert m["convert_s"] > 0 and m["route_s"] > 0
    assert set(m["append_s"]) == {"events"} and m["append_s"]["events"] > 0
    assert wh.read("events").count() == 50
    assert wh.read("events_dlq").count() == 2
    # the refreshed index prunes to the file holding a new id
    hit = wh.read_pruned_where("events", {"event_id": 42})
    assert [r["event_id"] for r in hit.filter(F.col("event_id") == 42).collect()] == [42]
