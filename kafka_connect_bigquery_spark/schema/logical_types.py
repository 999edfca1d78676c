"""Logical-type converter registry.

Reference: kcbq/convert/logicaltype/LogicalConverterRegistry.java:26-42
(name-keyed registry), KafkaLogicalConverters.java (Kafka built-ins) and
DebeziumLogicalConverters.java (Debezium variants). Registration happens
at import time, like the reference's static initializer blocks
(BigQuerySchemaConverter.java:61-63).

Each converter maps a Connect logical type (identified by schema
``name``) to (expected base type, Spark target type, Column transform).
The transforms reproduce the reference's *lossy* choices exactly —
Decimal -> FLOAT64, TIME -> "HH:mm:ss.SSS" string, etc. — so outputs
match what the reference would have written to BigQuery.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Connect base type names
_INT32, _INT64, _STRING, _BYTES = "int32", "int64", "string", "bytes"


@dataclass(frozen=True)
class LogicalConverter:
    name: str
    expected_base: str
    spark_type: T.DataType
    convert: Callable[[Column], Column]


_REGISTRY: dict[str, LogicalConverter] = {}


def decode_decimal(c: Column, scale: int = 0) -> Column:
    """Decode a Connect ``Decimal`` value column to FLOAT64.

    On the wire a Connect Decimal is the big-endian two's-complement
    *unscaled* integer bytes; the scale lives in the schema parameters
    (``Decimal.toLogical``: ``new BigDecimal(new BigInteger(bytes),
    scale)``). The reference then writes it to a BigQuery FLOAT column
    (KafkaLogicalConverters.java:66-81) — lossy by design, so the
    double output here matches.

    Pure-SQL decode (no UDF): hex -> unsigned decimal via ``conv``,
    two's-complement sign fix from the top nibble, exact power-of-two
    literals per byte length. Supports unscaled values up to 8 bytes
    (int64 range) — beyond that the reference's FLOAT64 target has lost
    the precision anyway.
    """
    hexs = F.hex(c)
    unsigned = F.conv(hexs, 16, 10).cast("decimal(38,0)")
    nbytes = F.length(c)
    power = None
    for n in range(1, 9):
        lit = F.lit(str(1 << (8 * n))).cast("decimal(38,0)")
        power = F.when(nbytes == n, lit) if power is None else power.when(nbytes == n, lit)
    negative = F.conv(F.substring(hexs, 1, 1), 16, 10).cast("int") >= 8
    signed = F.when(negative, unsigned - power).otherwise(unsigned)
    return signed.cast("double") / F.lit(float(10**scale))


def register(conv: LogicalConverter) -> None:
    """LogicalConverterRegistry.register (reference :26-31)."""
    _REGISTRY[conv.name] = conv


def lookup(name: str) -> LogicalConverter | None:
    return _REGISTRY.get(name)


# --- Kafka built-in logical types (KafkaLogicalConverters.java) -----------

register(
    LogicalConverter(
        # DATE: int32 days since epoch -> DATE (":47-61")
        name="org.apache.kafka.connect.data.Date",
        expected_base=_INT32,
        spark_type=T.DateType(),
        convert=lambda c: F.date_add(F.lit("1970-01-01").cast("date"), c.cast("int")),
    )
)

register(
    LogicalConverter(
        # DECIMAL: bytes-encoded BigDecimal -> FLOAT (lossy!, ":66-81").
        # The wire value is the unscaled big-endian int; schema callers
        # pass the 'scale' parameter (Connect Decimal.toLogical), e.g.
        # ``lookup(...).convert(col, scale=2)``.
        name="org.apache.kafka.connect.data.Decimal",
        expected_base=_BYTES,
        spark_type=T.DoubleType(),
        convert=decode_decimal,
    )
)

register(
    LogicalConverter(
        # TIMESTAMP: int64 epoch-millis -> TIMESTAMP (":86-100")
        name="org.apache.kafka.connect.data.Timestamp",
        expected_base=_INT64,
        spark_type=T.TimestampType(),
        convert=lambda c: F.timestamp_millis(c.cast("long")),
    )
)

register(
    LogicalConverter(
        # TIME: int32 millis-of-day -> "HH:mm:ss.SSS" UTC string (":106-120",
        # format LogicalTypeConverter.java:85-89)
        name="org.apache.kafka.connect.data.Time",
        expected_base=_INT32,
        spark_type=T.StringType(),
        convert=lambda c: F.date_format(F.timestamp_millis(c.cast("long")), "HH:mm:ss.SSS"),
    )
)

# --- Debezium logical types (DebeziumLogicalConverters.java) --------------

register(
    LogicalConverter(
        # io.debezium.time.Date: int32 epoch-days -> DATE (":59-76")
        name="io.debezium.time.Date",
        expected_base=_INT32,
        spark_type=T.DateType(),
        convert=lambda c: F.date_add(F.lit("1970-01-01").cast("date"), c.cast("int")),
    )
)

register(
    LogicalConverter(
        # io.debezium.time.Time: int32 millis-of-day -> TIME string (":143-158")
        name="io.debezium.time.Time",
        expected_base=_INT32,
        spark_type=T.StringType(),
        convert=lambda c: F.date_format(F.timestamp_millis(c.cast("long")), "HH:mm:ss.SSS"),
    )
)

register(
    LogicalConverter(
        # io.debezium.time.MicroTime: int64 micros-of-day -> TIME string
        # (":81-107"): "HH:mm:ss" + "." + the UNPADDED micro remainder —
        # 1000001us -> "00:00:01.1", NOT "00:00:01.000001". That loses
        # the remainder's leading zeros (a reference quirk), reproduced
        # here verbatim so outputs match byte-for-byte.
        name="io.debezium.time.MicroTime",
        expected_base=_INT64,
        spark_type=T.StringType(),
        convert=lambda c: F.concat(
            F.date_format(F.timestamp_micros(c.cast("long")), "HH:mm:ss"),
            F.lit("."),
            (c.cast("long") % F.lit(1_000_000)).cast("string"),
        ),
    )
)

register(
    LogicalConverter(
        # io.debezium.time.Timestamp: int64 epoch-millis -> TIMESTAMP (":163-178")
        name="io.debezium.time.Timestamp",
        expected_base=_INT64,
        spark_type=T.TimestampType(),
        convert=lambda c: F.timestamp_millis(c.cast("long")),
    )
)

register(
    LogicalConverter(
        # io.debezium.time.MicroTimestamp: int64 epoch-micros -> TIMESTAMP (":112-138")
        name="io.debezium.time.MicroTimestamp",
        expected_base=_INT64,
        spark_type=T.TimestampType(),
        convert=lambda c: F.timestamp_micros(c.cast("long")),
    )
)

register(
    LogicalConverter(
        # io.debezium.time.ZonedTimestamp: ISO-8601 string -> TIMESTAMP (":183-204")
        name="io.debezium.time.ZonedTimestamp",
        expected_base=_STRING,
        spark_type=T.TimestampType(),
        convert=lambda c: F.to_timestamp(c),
    )
)
