"""Avro decode seam: golden-fixture tests against the reference's own
integration test cases (kcbq-connector/src/test/resources/
integration_test_cases/{primitives,logical-types,matryoshka-dolls,
nulls}/ — the Avro payloads BigQuerySinkConnectorIT.java:75-159 pushes
through Schema Registry).

The fixtures are encoded to Avro BINARY here with a small test-side
encoder written straight from the public spec (zigzag varints,
little-endian floats, length-prefixed bytes, union-by-index) — an
independent inverse of the production decoder, so a sign/offset bug in
either side fails the round-trip. The production path under test is
``avro_value_parser`` in python (Arrow-batched pandas_udf) mode; jvm
(``from_avro``) mode runs too when the spark-avro datasource is on the
session (skip otherwise — the pip wheel doesn't bundle it)."""

from __future__ import annotations

import datetime as dt
import io
import json
import os
import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_connect_bigquery_spark.schema.avro import (
    AvroSchemaError,
    avro_to_spark,
    avro_value_parser,
    jvm_avro_available,
    make_decoder,
    strip_confluent_frame,
)

FIXTURES = os.path.join(
    os.sep, "root", "reference", "kcbq-connector", "src", "test",
    "resources", "integration_test_cases",
)

# only the tests that read those fixture files skip without them; the
# encoder/decoder round trips that build their own payloads run everywhere
needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(FIXTURES), reason="reference fixtures not present"
)


# -- minimal spec-faithful encoder (test-side inverse of the decoder) --

def _zigzag(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _encode(schema, value, buf: io.BytesIO, ns=None, named=None) -> None:
    named = named if named is not None else {}
    if isinstance(schema, dict) and schema.get("type") == "record":
        named[schema["name"]] = schema
        rec_ns = schema.get("namespace", ns)
        for f in schema["fields"]:
            _encode(f["type"], value[f["name"]], buf, rec_ns, named)
        return
    if isinstance(schema, str):
        bare = schema.rsplit(".", 1)[-1]
        if bare in named:
            _encode(named[bare], value, buf, ns, named)
            return
        t = schema
    elif isinstance(schema, list):  # union: index then branch
        # Avro JSON-encoding wraps non-null union values as
        # {"branch_type": v} (the nulls fixture's {"int": 42})
        if isinstance(value, dict) and len(value) == 1 and next(iter(value)) in schema:
            value = next(iter(value.values()))
        # pick the ACTUAL branch index, not "assume null-first": a
        # ["string","null"] union must encode None as branch 1, and a
        # non-null value as the index of its non-null branch — mirrors
        # production _make_writer so fixture expansion can't mask bugs
        if value is None:
            if "null" not in schema:
                raise ValueError("None for a union without a null branch")
            idx = schema.index("null")
        else:
            non_null = [i for i, b in enumerate(schema) if b != "null"]
            assert len(non_null) == 1, "test encoder supports null-unions only"
            idx = non_null[0]
        buf.write(_zigzag(idx))
        if schema[idx] != "null":
            _encode(schema[idx], value, buf, ns, named)
        return
    else:
        t = schema["type"]
        if t == "array":
            if value:
                buf.write(_zigzag(len(value)))
                for v in value:
                    _encode(schema["items"], v, buf, ns, named)
            buf.write(_zigzag(0))
            return
        if t == "map":
            if value:
                buf.write(_zigzag(len(value)))
                for k, v in value.items():
                    kb = k.encode()
                    buf.write(_zigzag(len(kb)) + kb)
                    _encode(schema["values"], v, buf, ns, named)
            buf.write(_zigzag(0))
            return
        if t == "enum":
            buf.write(_zigzag(schema["symbols"].index(value)))
            return
    if t in ("int", "long"):
        buf.write(_zigzag(int(value)))
    elif t == "boolean":
        buf.write(b"\x01" if value else b"\x00")
    elif t == "float":
        buf.write(struct.pack("<f", value))
    elif t == "double":
        buf.write(struct.pack("<d", value))
    elif t == "string":
        vb = value.encode("utf-8")
        buf.write(_zigzag(len(vb)) + vb)
    elif t == "bytes":
        vb = value if isinstance(value, bytes) else value.encode("latin-1")
        buf.write(_zigzag(len(vb)) + vb)
    elif isinstance(schema, dict):  # logical wrapper like {"type":"long",...}
        _encode(t, value, buf, ns, named)
    else:
        raise AssertionError(f"test encoder: unhandled {schema!r}")


def _fixture(case: str):
    with open(os.path.join(FIXTURES, case, "schema.json")) as f:
        schema = json.load(f)
    rows = []
    with open(os.path.join(FIXTURES, case, "data.json")) as f:
        for line in f:
            line = line.strip()
            if line:
                rows.append(json.loads(line))
    return schema, rows


def _plain(schema, row):
    """Strip Avro JSON-encoding union wrappers ({"int": 42} -> 42) so
    fixture rows compare against decoded/typed output."""
    if isinstance(schema, dict) and schema.get("type") == "record":
        return {
            f["name"]: _plain(f["type"], row[f["name"]]) for f in schema["fields"]
        }
    if isinstance(schema, list):
        if isinstance(row, dict) and len(row) == 1 and next(iter(row)) in schema:
            row = next(iter(row.values()))
        return row
    if isinstance(schema, dict) and schema.get("type") == "array":
        return [_plain(schema["items"], v) for v in row]
    return row


def _encoded(schema, rows):
    out = []
    for r in rows:
        buf = io.BytesIO()
        _encode(schema, r, buf)
        out.append(buf.getvalue())
    return out


def _assert_tree_equal(got, want):
    """Recursive equality with float32 tolerance and bytes-vs-latin1
    string handling (the fixtures carry bytes as codepoint strings)."""
    if isinstance(want, dict):
        assert isinstance(got, dict) and set(got) == set(want)
        for k in want:
            _assert_tree_equal(got[k], want[k])
    elif isinstance(want, list):
        assert len(got) == len(want)
        for g, w in zip(got, want):
            _assert_tree_equal(g, w)
    elif isinstance(want, float):
        assert got == pytest.approx(want, rel=1e-6)
    elif isinstance(got, (bytes, bytearray)):
        assert bytes(got) == want.encode("latin-1")
    else:
        assert got == want


@needs_fixtures
def test_schema_translation_all_fixtures():
    prim = avro_to_spark(_fixture("primitives")[0])
    by = {f.name: f for f in prim.fields}
    assert isinstance(by["long_prim"].dataType, T.LongType)
    assert isinstance(by["float_prim"].dataType, T.FloatType)
    assert isinstance(by["bytes_prim"].dataType, T.BinaryType)
    assert by["null_prim"].nullable and not by["row"].nullable

    logi = avro_to_spark(_fixture("logical-types")[0])
    by = {f.name: f for f in logi.fields}
    assert isinstance(by["timestamp_test"].dataType, T.TimestampType)
    assert isinstance(by["date_test"].dataType, T.DateType)

    dolls = avro_to_spark(_fixture("matryoshka-dolls")[0])
    by = {f.name: f for f in dolls.fields}
    assert isinstance(by["middle"].dataType, T.StructType)
    inner_ref = by["inner"].dataType  # resolved named-type REFERENCE
    assert isinstance(inner_ref, T.StructType)
    assert [f.name for f in inner_ref.fields] == ["inner_int", "inner_string"]


def test_multi_branch_union_rejected():
    with pytest.raises(AvroSchemaError, match="null-unions"):
        avro_to_spark(
            {"type": "record", "name": "r", "fields": [
                {"name": "u", "type": ["int", "string"]}]}
        )


@needs_fixtures
def test_pure_decoder_primitives_roundtrip():
    schema, rows = _fixture("primitives")
    decode = make_decoder(schema)
    for raw, want in zip(_encoded(schema, rows), rows):
        got = decode(raw)
        for k, v in want.items():
            if k == "bytes_prim":
                assert got[k] == v.encode("latin-1")
            elif k == "float_prim":
                assert got[k] == pytest.approx(v, rel=1e-6)
            else:
                assert got[k] == v


@needs_fixtures
@pytest.mark.parametrize("case", ["primitives", "nulls", "matryoshka-dolls"])
def test_python_path_decodes_fixture(spark, case):
    schema, rows = _fixture(case)
    payloads = _encoded(schema, rows)
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)], "i: int, value: binary"
    )
    parser = avro_value_parser(spark, json.dumps(schema), mode="python")
    out = (
        df.select("i", parser(F.col("value")).alias("v"))
        .orderBy("i")
        .select("v.*")
        .collect()
    )
    assert len(out) == len(rows)
    for got, want in zip(out, rows):
        _assert_tree_equal(got.asDict(recursive=True), _plain(schema, want))


@needs_fixtures
def test_python_path_logical_types_match_reference_expectation(spark):
    """logical-types/data.json rows land as real TIMESTAMP/DATE values —
    the same instants the reference's BigQuery rows show
    (BigQuerySinkConnectorIT: 1468275102000 ms = 2016-07-11T22:11:42Z,
    16993 d = 2016-07-11)."""
    schema, rows = _fixture("logical-types")
    payloads = _encoded(schema, rows)
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)], "i: int, value: binary"
    )
    parser = avro_value_parser(spark, json.dumps(schema), mode="python")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        out = (
            df.select("i", parser(F.col("value")).alias("v"))
            .orderBy("i").select("v.*").collect()
        )
    finally:
        spark.conf.unset("spark.sql.session.timeZone")
    last = out[-1]
    assert last["timestamp_test"].replace(tzinfo=dt.timezone.utc) == dt.datetime(
        2016, 7, 11, 22, 11, 42, tzinfo=dt.timezone.utc
    )
    assert last["date_test"] == dt.date(2016, 7, 11)
    assert out[0]["date_test"] == dt.date(1970, 1, 1)


@needs_fixtures
def test_tombstone_and_confluent_frame(spark):
    schema, rows = _fixture("nulls")
    payloads = _encoded(schema, rows)
    framed = [b"\x00\x00\x00\x00\x2a" + p for p in payloads]
    df = spark.createDataFrame(
        [(0, None)] + [(i + 1, bytearray(p)) for i, p in enumerate(framed)],
        "i: int, value: binary",
    )
    parser = avro_value_parser(
        spark, json.dumps(schema), mode="python", confluent_framed=True
    )
    out = df.select("i", parser(F.col("value")).alias("v")).orderBy("i").collect()
    assert out[0]["v"] is None  # tombstone -> NULL struct, like from_json
    assert out[1]["v"]["f1"] == rows[0]["f1"]
    # frame stripper is a plain Column fn too
    stripped = df.filter("value is not null").select(
        strip_confluent_frame(F.col("value")).alias("b")
    ).first()
    assert bytes(stripped["b"]) == payloads[0]


@needs_fixtures
def test_python_path_agrees_with_from_json_path(spark):
    """The Avro seam and the from_json seam produce identical typed rows
    for the same logical records (P9 parity: Connect deserializes either
    wire format into the same SinkRecord)."""
    schema, rows = _fixture("nulls")
    payloads = _encoded(schema, rows)
    avro_df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)], "i: int, value: binary"
    )
    parser = avro_value_parser(spark, json.dumps(schema), mode="python")
    via_avro = (
        avro_df.select("i", parser(F.col("value")).alias("v"))
        .orderBy("i").select("v.*")
    )
    json_df = spark.createDataFrame(
        [(i, json.dumps(_plain(schema, r))) for i, r in enumerate(rows)],
        "i: int, value: string",
    )
    via_json = (
        json_df.select(
            "i", F.from_json(F.col("value"), avro_to_spark(schema)).alias("v")
        )
        .orderBy("i").select("v.*")
    )
    # same field names/types; nullability differs (the python seam's
    # Arrow path needs nullable top-level fields)
    assert via_avro.schema.simpleString() == via_json.schema.simpleString()
    assert [r.asDict() for r in via_avro.collect()] == [
        r.asDict() for r in via_json.collect()
    ]


@needs_fixtures
def test_jvm_path_if_available(spark):
    if not jvm_avro_available(spark):
        pytest.skip("spark-avro datasource not loaded in this environment")
    schema, rows = _fixture("primitives")
    payloads = _encoded(schema, rows)
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)], "i: int, value: binary"
    )
    parser = avro_value_parser(spark, json.dumps(schema), mode="jvm")
    out = df.select(parser(F.col("value")).alias("v")).select("v.*").collect()
    assert [r["row"] for r in out] == [r["row"] for r in rows]


def test_avro_values_through_sink_pipeline(spark, tmp_path):
    """End-to-end S2+P9: Kafka-shaped batches whose values are raw Avro
    binary flow through SinkPipeline.convert -> write_batch with
    ``avro_value_parser`` as the converter seam, landing the same
    warehouse rows the JSON wire format produces — including the F1
    tombstone filter on NULL values."""
    from kafka_connect_bigquery_spark.config import SinkConfig
    from kafka_connect_bigquery_spark.sinks.warehouse import Warehouse
    from kafka_connect_bigquery_spark.streaming.pipeline import SinkPipeline

    schema = {
        "type": "record",
        "name": "ev",
        "fields": [
            {"name": "row", "type": "int"},
            {"name": "name", "type": ["null", "string"]},
        ],
    }
    payloads = _encoded(schema, [
        {"row": 1, "name": {"string": "a"}},
        {"row": 2, "name": None},
    ])
    batch = spark.createDataFrame(
        [
            (bytearray(b"k1"), bytearray(payloads[0]), "topic_a", 0, 0, None),
            (bytearray(b"k2"), bytearray(payloads[1]), "topic_a", 0, 1, None),
            (bytearray(b"k3"), None, "topic_a", 0, 2, None),  # tombstone
        ],
        "key: binary, value: binary, topic: string, partition: int, "
        "offset: long, timestamp: timestamp",
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = SinkPipeline(
        warehouse=wh,
        config=SinkConfig(topics=["topic_a"], time_partitioning_type="NONE"),
        value_parser=avro_value_parser(spark, json.dumps(schema), mode="python"),
    )
    pipe.write_batch(batch, 0)
    got = wh.read("topic_a").orderBy("row").collect()
    assert [(r["row"], r["name"]) for r in got] == [(1, "a"), (2, None)]


@needs_fixtures
def test_production_encoder_matches_independent_test_encoder():
    """make_encoder (production) and this file's _encode (written
    independently from the spec) must emit byte-identical wire data for
    the fixture corpora — and make_decoder must invert both."""
    from kafka_connect_bigquery_spark.schema.avro import make_encoder

    for case in ("primitives", "nulls", "matryoshka-dolls"):
        schema, rows = _fixture(case)
        encode = make_encoder(schema)
        decode = make_decoder(schema)
        for raw_test, row in zip(_encoded(schema, rows), rows):
            plain = _plain(schema, row)
            if case == "primitives":
                plain = dict(plain, bytes_prim=plain["bytes_prim"].encode("latin-1"))
            raw_prod = encode(plain)
            assert raw_prod == raw_test, f"{case}: wire bytes diverge"
            round_tripped = decode(raw_prod)
            got = decode(raw_test)
            assert round_tripped == got


def test_fixed_backed_decimal_logical_decodes():
    """A {"type":"fixed","logicalType":"decimal"} node must decode the
    raw `size` bytes as the unscaled big-endian value — previously the
    pure-python reader mis-resolved 'fixed' as a named-type reference
    and failed at executor runtime with a misleading error."""
    schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "d", "type": {
                "type": "fixed", "name": "dec8", "size": 8,
                "logicalType": "decimal", "precision": 18, "scale": 2,
            }},
        ],
    }
    st = avro_to_spark(schema)
    assert st["d"].dataType == T.DecimalType(18, 2)
    decode = make_decoder(schema)
    unscaled = 314159  # -> 3141.59 at scale 2
    raw = unscaled.to_bytes(8, "big", signed=True)
    out = decode(raw)
    from decimal import Decimal

    assert out["d"] == Decimal("3141.59")


@needs_fixtures
def test_bad_magic_byte_surfaces_as_conversion_failure(spark):
    """confluent_framed=True must not silently behead 5 bytes (that
    decodes garbage) NOR fail the task outright: a payload whose first
    byte is not the 0x00 magic parses to a NULL struct — raw value
    present, parsed NULL — which is exactly the malformed signature
    SinkPipeline._route_malformed classifies, so errors_tolerance
    decides ('none' raises with coordinates, 'all' dead-letters)."""
    schema, rows = _fixture("nulls")
    payloads = _encoded(schema, rows)
    good = b"\x00\x00\x00\x00\x2a" + payloads[0]
    bad = b"\x01\x00\x00\x00\x2a" + payloads[0]
    df = spark.createDataFrame(
        [(0, bytearray(bad)), (1, bytearray(good))], "i: int, value: binary"
    )
    parser = avro_value_parser(
        spark, json.dumps(schema), mode="python", confluent_framed=True
    )
    out = (
        df.select("i", parser(F.col("value")).alias("v")).orderBy("i").collect()
    )
    assert out[0]["v"] is None  # malformed -> NULL struct, not an error
    assert out[1]["v"]["f1"] == rows[0]["f1"]  # good rows unaffected
    # the Column-level stripper used by the JVM path strips to NULL too
    stripped = (
        df.select("i", strip_confluent_frame(F.col("value")).alias("b"))
        .orderBy("i")
        .collect()
    )
    assert stripped[0]["b"] is None
    assert bytes(stripped[1]["b"]) == payloads[0]


@needs_fixtures
def test_malformed_avro_honors_errors_tolerance(spark, tmp_path):
    """End-to-end over the Avro seam: malformed bytes (bad frame OR
    corrupt body) are routed by errors_tolerance BEFORE the tombstone
    filter — 'none' raises naming the record, 'all' dead-letters it and
    writes the good rows, and the true tombstone is never misrouted."""
    from kafka_connect_bigquery_spark.config import SinkConfig
    from kafka_connect_bigquery_spark.errors import ConversionError
    from kafka_connect_bigquery_spark.sinks.warehouse import Warehouse
    from kafka_connect_bigquery_spark.streaming.pipeline import SinkPipeline

    schema, rows = _fixture("nulls")
    payloads = _encoded(schema, rows)
    good = b"\x00\x00\x00\x00\x2a" + payloads[0]
    bad_frame = b"\x01\x00\x00\x00\x2a" + payloads[0]
    corrupt_body = b"\x00\x00\x00\x00\x2a" + b"\xff"  # truncated varint
    batch_rows = [
        (None, bytearray(good), "t", 0, 0, 0),
        (None, bytearray(bad_frame), "t", 0, 1, 0),
        (None, bytearray(corrupt_body), "t", 0, 2, 0),
        (None, None, "t", 0, 3, 0),  # tombstone: NOT malformed
    ]
    cols = "key: binary, value: binary, topic: string, partition: int, offset: long, timestamp: long"

    def mk_pipeline(**cfg_kw):
        wh = Warehouse(spark, str(tmp_path / cfg_kw.pop("root")))
        cfg = SinkConfig(
            topics=["t"],
            default_dataset="d",
            time_partitioning_type="NONE",
            **cfg_kw,
        )
        return wh, SinkPipeline(
            warehouse=wh,
            config=cfg,
            value_parser=avro_value_parser(
                spark, json.dumps(schema), mode="python", confluent_framed=True
            ),
        )

    batch = spark.createDataFrame(batch_rows, cols)
    # 'none': fail loudly, naming the first bad record
    _, strict = mk_pipeline(root="w_none", errors_tolerance="none")
    with pytest.raises(ConversionError, match="t-0:[12]"):
        strict.write_batch(batch, batch_id=0)
    # 'all': both malformed rows dead-letter, the good row lands
    wh, dlq = mk_pipeline(
        root="w_all", errors_tolerance="all", dead_letter_table="d.dlq"
    )
    dlq.write_batch(batch, batch_id=0)
    dead = wh.read("d.dlq")
    assert sorted(r["offset"] for r in dead.collect()) == [1, 2]
    landed = wh.read("t")
    assert landed.count() == 1  # good row only (tombstone filtered, not DLQ'd)


def test_construction_time_schema_error(spark):
    """Uncompilable schemas fail at avro_value_parser() construction,
    not at executor runtime inside the pandas UDF."""
    bad = {
        "type": "record", "name": "r", "fields": [
            {"name": "x", "type": "NoSuchNamedType"},
        ],
    }
    with pytest.raises(AvroSchemaError):
        avro_value_parser(spark, json.dumps(bad), mode="python")


def test_jvm_probe_memoized_per_session(spark, monkeypatch):
    """jvm_avro_available must probe the session at most once — parser
    construction in a loop must not pay a Spark job per call."""
    from kafka_connect_bigquery_spark.schema import avro as avro_mod

    calls = {"n": 0}
    real = avro_mod._probe_jvm_avro

    def counting(s):
        calls["n"] += 1
        return real(s)

    monkeypatch.setattr(avro_mod, "_probe_jvm_avro", counting)
    monkeypatch.setattr(avro_mod, "_JVM_AVRO_PROBE", None)  # fresh cache
    first = jvm_avro_available(spark)
    for _ in range(3):
        assert jvm_avro_available(spark) == first
    assert calls["n"] == 1


@needs_fixtures
def test_jvm_and_python_paths_agree_when_jvm_available(spark):
    """Parity gate for the JVM fast path: when the spark-avro
    datasource IS loadable, from_avro (jvm mode) and the Arrow-batched
    python seam must produce identical typed rows for every fixture
    corpus. Skips (rather than silently not existing) on hosts without
    the datasource — it self-activates on capable hosts, keeping
    `jvm_avro_available`'s true branch honest."""
    if not jvm_avro_available(spark):
        pytest.skip("spark-avro datasource not loaded in this environment")
    for case in ("primitives", "nulls", "matryoshka-dolls"):
        schema, rows = _fixture(case)
        payloads = _encoded(schema, rows)
        df = spark.createDataFrame(
            [(i, bytearray(p)) for i, p in enumerate(payloads)],
            "i: int, value: binary",
        )
        out = {}
        for mode in ("jvm", "python"):
            parser = avro_value_parser(spark, json.dumps(schema), mode=mode)
            out[mode] = (
                df.select("i", parser(F.col("value")).alias("v"))
                .orderBy("i")
                .select("v.*")
                .collect()
            )
        assert [r.asDict(True) for r in out["jvm"]] == [
            r.asDict(True) for r in out["python"]
        ], f"{case}: jvm/python decode divergence"


# ---------------------------------------------------------------------------
# Java-reference differential (r11, from r09 ask #4): the spark-avro
# MODULE jar is absent from this image and there is no network to
# fetch it (ivy/--packages attempted: no resolver reachable), so the
# from_avro parity tests above remain self-skipping. The strongest
# in-sandbox substitute: Spark's classpath DOES carry the canonical
# Apache Avro *core* implementation (avro-1.12.x), i.e. the very
# library spark-avro and the reference connector's Confluent
# deserializer delegate to. Differentially testing our pure-Python
# codec against it pins the wire format to the authoritative
# implementation, independent of this repo's own test encoder.
# ---------------------------------------------------------------------------

_JAVA_DIFF_SCHEMA = {
    "type": "record",
    "name": "jref",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "count", "type": "int"},
        {"name": "name", "type": "string"},
        {"name": "ratio", "type": "double"},
        {"name": "flag", "type": "boolean"},
        {"name": "blob", "type": "bytes"},
        {"name": "maybe", "type": ["null", "string"], "default": None},
        {"name": "nums", "type": {"type": "array", "items": "long"}},
        {
            "name": "inner",
            "type": {
                "type": "record",
                "name": "innerrec",
                "fields": [{"name": "x", "type": "long"}],
            },
        },
    ],
}

_JAVA_DIFF_ROWS = [
    {
        "id": 7, "count": -3, "name": "alpha", "ratio": 2.5, "flag": True,
        "blob": b"\x00\xff\x10", "maybe": "present", "nums": [1, -2, 300],
        "inner": {"x": 99},
    },
    {
        "id": -(2**40), "count": 2**31 - 1, "name": "", "ratio": -0.0,
        "flag": False, "blob": b"", "maybe": None, "nums": [],
        "inner": {"x": 0},
    },
]


def _java_encode(spark, schema_json: str, rows: list[dict]) -> list[bytes]:
    """Encode rows with org.apache.avro's GenericDatumWriter — the
    reference implementation, reached over the running session's py4j
    gateway (no extra jars: avro core ships with Spark)."""
    jvm = spark._jvm
    jschema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    inner_schema = jschema.getField("inner").schema()
    out = []
    for row in rows:
        rec = jvm.org.apache.avro.generic.GenericData.Record(jschema)
        rec.put("id", jvm.java.lang.Long.valueOf(row["id"]))
        rec.put("count", jvm.java.lang.Integer.valueOf(row["count"]))
        rec.put("name", row["name"])
        rec.put("ratio", jvm.java.lang.Double.valueOf(row["ratio"]))
        rec.put("flag", jvm.java.lang.Boolean.valueOf(row["flag"]))
        rec.put("blob", jvm.java.nio.ByteBuffer.wrap(bytearray(row["blob"])))
        rec.put("maybe", row["maybe"])
        arr = jvm.java.util.ArrayList()
        for n in row["nums"]:
            arr.add(jvm.java.lang.Long.valueOf(n))
        rec.put("nums", arr)
        inner = jvm.org.apache.avro.generic.GenericData.Record(inner_schema)
        inner.put("x", jvm.java.lang.Long.valueOf(row["inner"]["x"]))
        rec.put("inner", inner)
        baos = jvm.java.io.ByteArrayOutputStream()
        enc = jvm.org.apache.avro.io.EncoderFactory.get().binaryEncoder(baos, None)
        jvm.org.apache.avro.generic.GenericDatumWriter(jschema).write(rec, enc)
        enc.flush()
        out.append(bytes(baos.toByteArray()))
    return out


def test_wire_format_matches_apache_avro_java_reference(spark):
    """Byte-level differential against the canonical Java Avro codec:
    our encoder must emit byte-identical wire data, our decoder must
    invert Java-encoded payloads, and Java-encoded Confluent-framed
    values must flow through the DataFrame parser seam."""
    from kafka_connect_bigquery_spark.schema.avro import (
        avro_value_parser,
        make_decoder,
        make_encoder,
    )

    schema_json = json.dumps(_JAVA_DIFF_SCHEMA)
    java_raw = _java_encode(spark, schema_json, _JAVA_DIFF_ROWS)

    encode = make_encoder(schema_json)
    decode = make_decoder(schema_json)
    for row, jraw in zip(_JAVA_DIFF_ROWS, java_raw):
        assert encode(row) == jraw, "python encoder diverges from Java reference"
        got = decode(jraw)
        assert got == row, f"python decoder cannot invert Java bytes: {got}"

    # the pipeline seam: Java-encoded, Confluent-framed values through
    # the Arrow-batched parser (exactly what a Schema-Registry broker
    # would deliver), plus a tombstone
    framed = [b"\x00\x00\x00\x00\x07" + r for r in java_raw]
    df = spark.createDataFrame(
        [(0, bytearray(framed[0])), (1, bytearray(framed[1])), (2, None)],
        "i: int, value: binary",
    )
    parser = avro_value_parser(
        spark, schema_json, mode="python", confluent_framed=True
    )
    out = df.select("i", parser(F.col("value")).alias("v")).orderBy("i").collect()
    assert out[0]["v"]["id"] == 7
    assert out[0]["v"]["inner"]["x"] == 99
    assert bytes(out[0]["v"]["blob"]) == b"\x00\xff\x10"
    assert out[1]["v"]["maybe"] is None
    assert out[1]["v"]["count"] == 2**31 - 1
    assert out[2]["v"] is None  # tombstone stays NULL


def test_java_reference_decodes_python_encoder_output(spark):
    """The reverse direction: the Java GenericDatumReader must accept
    our encoder's bytes — readability by the reference implementation
    is the property a broker-side consumer actually depends on."""
    from kafka_connect_bigquery_spark.schema.avro import make_encoder

    jvm = spark._jvm
    schema_json = json.dumps(_JAVA_DIFF_SCHEMA)
    jschema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    encode = make_encoder(schema_json)
    for row in _JAVA_DIFF_ROWS:
        raw = encode(row)
        bais = jvm.java.io.ByteArrayInputStream(bytearray(raw))
        dec = jvm.org.apache.avro.io.DecoderFactory.get().binaryDecoder(bais, None)
        rec = jvm.org.apache.avro.generic.GenericDatumReader(jschema).read(None, dec)
        assert int(str(rec.get("id"))) == row["id"]
        assert str(rec.get("name")) == row["name"]
        assert [int(str(n)) for n in rec.get("nums")] == row["nums"]
        assert int(str(rec.get("inner").get("x"))) == row["inner"]["x"]
