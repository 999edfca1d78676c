"""Key-bucket pruning for point reads on bucketed MERGE tables.

The pure-Python port of Spark's ``hash`` (``sinks/bucket_hash.py``) is
checked against ``F.pmod(F.hash(...), n)`` itself, one Spark pass per
key type over edge and randomly drawn values. ``read_pruned_where`` on
bucketed tables is checked against ``read(t).filter(pred)``: pruned
where the key fixes the bucket, unpruned wherever it cannot, and built
without a single Spark job.
"""

from __future__ import annotations

import datetime
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_bigquery_spark.sinks.bucket_hash import key_bucket, spark_hash
from kafka_connect_bigquery_spark.sinks.warehouse import (
    TableSpec,
    Warehouse,
    local_frame,
)
from tests.test_local_frame import _jobs_in_group

MODS = (1, 4, 8, 13)
N_BUCKETS = 8
SPEC = TableSpec(partition_grain="NONE", key_bucket_count=N_BUCKETS)
UTC = datetime.timezone.utc
# 1-, 2-, 3- and 4-byte UTF-8 code points, NUL included
ALPHABET = "a\x00Z~é߿日￿🙂\U0010ffff"


def _ints(rng, bits: int, n: int = 40) -> list[int]:
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    edges = [0, 1, -1, lo, hi, lo + 1, hi - 1]
    return edges + [rng.randint(lo, hi) for _ in range(n)] + [
        rng.randint(max(lo, -300), min(hi, 300)) for _ in range(n // 4)
    ]


def _strings(rng) -> list[str]:
    out = ["", "0", "42", "abcd", "abcde"]
    for length in range(14):
        out += ["".join(rng.choice(ALPHABET) for _ in range(length)) for _ in range(3)]
    return out


def _values(rng) -> dict[str, list]:
    epoch = datetime.date(1970, 1, 1).toordinal()
    return {
        "bigint": _ints(rng, 64),
        "int": _ints(rng, 32),
        "smallint": _ints(rng, 16, 8),
        "tinyint": _ints(rng, 8, 8),
        "boolean": [True, False],
        "date": [datetime.date(1, 1, 1), datetime.date(9999, 12, 31)]
        + [
            datetime.date.fromordinal(epoch + rng.randint(-40_000, 40_000))
            for _ in range(20)
        ],
        "timestamp": [
            datetime.datetime(1970, 1, 1),
            datetime.datetime(2024, 3, 10, 2, 30, tzinfo=UTC),
        ]
        + [
            datetime.datetime(1900, 1, 2)
            + datetime.timedelta(microseconds=rng.randint(0, 5 * 10**15))
            for _ in range(20)
        ],
        "string": _strings(rng),
        "binary": [b"", b"\x80", b"\xff\xff\xff\xff\x7f"]
        + [rng.randbytes(rng.randint(0, 13)) for _ in range(30)],
    }


@pytest.mark.parametrize(
    "ddl",
    ["bigint", "int", "smallint", "tinyint", "boolean", "date", "timestamp",
     "string", "binary"],
)
def test_hash_port_matches_spark_hash(spark, ddl):
    """One Spark pass per type: every value (and a NULL) hashed and
    bucketed by Spark, then by the port."""
    values = _values(random.Random(ddl))[ddl] + [None]
    df = local_frame(spark, [(v,) for v in values], f"x {ddl}")
    dtype = df.schema["x"].dataType
    got = df.select(
        F.hash("x"), *[F.pmod(F.hash("x"), F.lit(n)) for n in MODS]
    ).collect()
    for v, row in zip(values, got):
        assert spark_hash([v], [dtype]) == row[0], (ddl, v)
        assert [key_bucket([v], [dtype], n) for n in MODS] == list(row[1:]), (ddl, v)


def test_hash_port_chains_two_column_keys_and_skips_nulls(spark):
    rng = random.Random(7)
    longs, strs = _ints(rng, 64, 10), _strings(rng)
    rows = [(rng.choice(longs), rng.choice(strs)) for _ in range(60)]
    rows += [(None, "x"), (5, None), (None, None)]
    df = local_frame(spark, rows, "a bigint, b string")
    types = [f.dataType for f in df.schema.fields]
    got = df.select(
        F.hash("a", "b"), *[F.pmod(F.hash("a", "b"), F.lit(n)) for n in MODS]
    ).collect()
    for r, row in zip(rows, got):
        assert spark_hash(r, types) == row[0], r
        assert [key_bucket(r, types, n) for n in MODS] == list(row[1:]), r


def test_hash_port_matches_literals_compared_against_the_column(spark):
    """A point read compares the stored column with ``F.lit(value)``:
    the port must hash the literal as that comparison sees it."""
    cases = [
        (7, T.LongType()), (2**40, T.LongType()), (-3, T.IntegerType()),
        (9, T.ShortType()), (True, T.BooleanType()), ("héllo 日本", T.StringType()),
        (b"\x00\xfe", T.BinaryType()), (datetime.date(2024, 2, 29), T.DateType()),
        (datetime.datetime(2024, 1, 1, 12, 0, 0, 123456), T.TimestampType()),
        (datetime.datetime(2024, 1, 1, 12, tzinfo=UTC), T.TimestampType()),
    ]
    row = spark.range(1).select(
        *[F.hash(F.lit(v).cast(t)) for v, t in cases]
    ).first()
    assert [spark_hash([v], [t]) for v, t in cases] == list(row)


def test_hash_port_refuses_what_it_does_not_model():
    assert spark_hash([1.5], [T.DoubleType()]) is None
    assert spark_hash([5], [T.StringType()]) is None  # literal type mismatch
    assert spark_hash(["5"], [T.LongType()]) is None
    assert spark_hash([True], [T.LongType()]) is None  # bool is not an int here
    assert spark_hash([1], [T.BooleanType()]) is None
    assert spark_hash([2**31], [T.IntegerType()]) is None  # out of range
    assert spark_hash(["a"], [T.StringType("UTF8_LCASE")]) is None
    assert spark_hash([datetime.datetime(2024, 1, 1)], [T.DateType()]) is None
    assert spark_hash([None], [T.DoubleType()]) == 42  # NULL keeps the seed


# -- read_pruned_where on bucketed tables --------------------------------


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _pred(predicates: dict):
    pred = F.lit(True)
    for c, spec in predicates.items():
        lo, hi = spec if isinstance(spec, tuple) else (spec, spec)
        pred = pred & F.col(c).between(lo, hi)
    return pred


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    """``s``: string key, one bucket emptied by deletes; ``m``: a
    (long, string) key; ``d``: a double key the port does not cover."""
    w = Warehouse(spark, str(tmp_path_factory.mktemp("bucket_prune")))
    rows = [(str(i), i, f"t{i % 5}", i, False) for i in range(48)]
    ddl = "k string, v bigint, tag string, i bigint, __tombstone boolean"
    w.merge(local_frame(spark, rows, ddl), "s", ["k"], mode="upsert_delete", spec=SPEC)
    gone = key_bucket(["0"], [T.StringType()], N_BUCKETS)
    dels = [
        (str(i), None, None, 100 + i, True)
        for i in range(48)
        if key_bucket([str(i)], [T.StringType()], N_BUCKETS) == gone
    ]
    w.merge(local_frame(spark, dels, ddl), "s", ["k"], mode="upsert_delete", spec=SPEC)
    assert str(gone) not in w.layout_meta("s")["generations"]
    w.merge(
        local_frame(spark, [(i % 6, f"b{i % 4}", i, i) for i in range(40)],
                    "a bigint, b string, v bigint, i bigint"),
        "m", ["a", "b"], spec=SPEC,
    )
    w.merge(
        local_frame(spark, [(i / 2, i, i) for i in range(30)], "x double, v bigint, i bigint"),
        "d", ["x"], spec=SPEC,
    )
    return w


# (table, predicates, files the pruned read may list: None = all live)
CASES = [
    ("s", {"k": "5"}, 1),  # present key
    ("s", {"k": "0"}, 0),  # its bucket was emptied by deletes
    ("s", {"k": "7"}, 0),  # a deleted key of the same bucket
    ("s", {"k": ("5", "5")}, 1),  # a degenerate range is an equality
    ("s", {"k": "5", "v": (0, 100)}, 1),  # key equality plus a non-key range
    ("s", {"k": ("1", "3")}, None),  # range on the key: no pruning
    # a NULL literal: never pruned by key, but the optimizer folds the
    # NULL comparison to an empty relation, so no file is listed anyway
    ("s", {"k": None}, 0),
    ("s", {"k": 5}, None),  # literal type differs from the column's
    ("s", {"v": 5}, None),  # no key predicate
    ("m", {"a": 3, "b": "b3"}, 1),
    ("m", {"a": 3}, None),  # one of two key columns
    ("m", {"a": 3, "b": None}, 0),
    ("d", {"x": 2.5}, None),  # double key: not covered by the port
]


def test_pruned_read_equals_filtered_read_and_starts_no_job(spark, wh):
    spark.sparkContext.setJobGroup("bucket_prune", "build the pruned reads")
    try:
        built = [wh.read_pruned_where(t, p) for t, p, _ in CASES]
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert _jobs_in_group(spark, "bucket_prune") == 0
    for (t, p, n_files), got in zip(CASES, built):
        full = wh.read(t)
        want = full.filter(_pred(p))
        assert got.dtypes == want.dtypes, (t, p)
        assert _rows(got) == _rows(want), (t, p)
        live = len(full.inputFiles())
        assert len(got.inputFiles()) == (live if n_files is None else n_files), (t, p)
    for t, p in (("s", {"k": (None, None)}), ("m", {"a": (3, 3), "b": (None, None)})):
        assert Warehouse._key_bucket(wh.layout_meta(t), p) is None


def test_pruned_read_keeps_bloom_pruning_inside_the_bucket(spark, wh):
    """A Bloom index on a non-key column still prunes the bucket's file."""
    wh.record_bloom("s", ["tag"])
    for p, n_files in (({"k": "5", "tag": "t0"}, 1), ({"k": "5", "tag": "none"}, 0)):
        got = wh.read_pruned_where("s", p)
        assert _rows(got) == _rows(wh.read("s").filter(_pred(p))), p
        assert len(got.inputFiles()) == n_files, p
