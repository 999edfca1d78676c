"""BigQuery-shape record projection (the reference's record converter).

Reference: kcbq/convert/BigQueryRecordConverter.java and
kcbq/utils/SinkRecordConverter.java, re-expressed as Column
transformations (JVM-side, codegen'd — no Python in the hot path):

- P1 struct flatten        (:171-190)  -> ``flatten_struct``
- P2 array map             (:193-203)  -> F.transform inside _shape
- P3 map -> entry list     (:206-227)  -> ``map_to_entries``
- P4 bytes -> base64       (:259-268)  -> ``bytes_to_base64``
- P5 double special clamp  (:247-257)  -> ``clamp_double_specials``
- P8 kafka metadata struct (KafkaDataBuilder.java:46-73)
- P10 upsert row shaping   (SinkRecordConverter.java:83-125)
- int/float widening       (BigQuerySchemaConverter.java:65-84)
"""

from __future__ import annotations

import sys

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Java Double.MAX_VALUE / MIN_VALUE — the reference clamps to these
# (BigQueryRecordConverter.java:247-257): +Inf -> MAX_VALUE,
# -Inf and NaN -> MIN_VALUE (smallest positive double in Java!).
JAVA_DOUBLE_MAX = 1.7976931348623157e308
JAVA_DOUBLE_MIN = 4.9e-324


def clamp_double_specials(col: Column) -> Column:
    """convertDoubleSpecialValues (BigQueryRecordConverter.java:247-257)."""
    return (
        F.when(col == F.lit(float("inf")), F.lit(JAVA_DOUBLE_MAX))
        .when(col == F.lit(float("-inf")), F.lit(JAVA_DOUBLE_MIN))
        .when(F.isnan(col), F.lit(JAVA_DOUBLE_MIN))
        .otherwise(col)
    )


def bytes_to_base64(col: Column) -> Column:
    """BYTES emitted as base64 strings (BigQueryRecordConverter.java:259-268)."""
    return F.base64(col)


def map_to_entries(col: Column) -> Column:
    """MAP -> repeated {key, value} records (:206-227)."""
    return F.map_entries(col)


def flatten_struct(df: DataFrame, col_name: str) -> DataFrame:
    """Struct projection: expand a struct column into named top-level
    columns (:171-190). ``select(col("s.*"))`` keeps it JVM-side."""
    other = [c for c in df.columns if c != col_name]
    return df.select(*other, F.col(f"{col_name}.*"))


def _shape_col(col: Column, dt: T.DataType, *, base64_bytes: bool, clamp: bool) -> Column:
    if isinstance(dt, T.StructType):
        parts = [
            _shape_col(col.getField(f.name), f.dataType, base64_bytes=base64_bytes, clamp=clamp).alias(f.name)
            for f in dt.fields
        ]
        return F.when(col.isNull(), F.lit(None)).otherwise(F.struct(*parts))
    if isinstance(dt, T.ArrayType):
        return F.transform(
            col, lambda x: _shape_col(x, dt.elementType, base64_bytes=base64_bytes, clamp=clamp)
        )
    if isinstance(dt, T.MapType):
        entries = F.map_entries(col)
        return F.transform(
            entries,
            lambda e: F.struct(
                _shape_col(e.getField("key"), dt.keyType, base64_bytes=base64_bytes, clamp=clamp).alias("key"),
                _shape_col(e.getField("value"), dt.valueType, base64_bytes=base64_bytes, clamp=clamp).alias("value"),
            ),
        )
    if isinstance(dt, T.BinaryType) and base64_bytes:
        return bytes_to_base64(col)
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return col.cast("long")
    if isinstance(dt, T.FloatType):
        c = col.cast("double")
        return clamp_double_specials(c) if clamp else c
    if isinstance(dt, T.DoubleType) and clamp:
        return clamp_double_specials(col)
    if isinstance(dt, T.DecimalType):
        return col.cast("double")
    return col


def to_bq_shape(
    df: DataFrame,
    *,
    base64_bytes: bool = True,
    clamp_doubles: bool = False,
) -> DataFrame:
    """Apply the full BigQuery-shape projection to every column.

    Deterministic, purely declarative (whole-stage codegen applies);
    equivalent to running every record through the reference's
    BigQueryRecordConverter. ``clamp_doubles`` mirrors the
    ``convertDoubleSpecialValues`` config (BigQuerySinkConfig.java:268-275).
    """
    out_cols = []
    for f in df.schema.fields:
        c = _shape_col(F.col(f.name), f.dataType, base64_bytes=base64_bytes, clamp=clamp_doubles)
        out_cols.append(c.alias(f.name))
    return df.select(*out_cols)


def with_kafka_metadata(
    df: DataFrame,
    field_name: str = "kafkaData",
    topic_col: str = "topic",
    partition_col: str = "partition",
    offset_col: str = "offset",
) -> DataFrame:
    """P8: inject {topic, partition, offset, insertTime} struct
    (KafkaDataBuilder.java:46-73). The Kafka source exposes
    topic/partition/offset natively; insertTime is the wall clock at
    conversion, matching the reference."""
    return df.withColumn(
        field_name,
        F.struct(
            F.col(topic_col).cast("string").alias("topic"),
            F.col(partition_col).cast("long").alias("partition"),
            F.col(offset_col).cast("long").alias("offset"),
            F.current_timestamp().alias("insertTime"),
        ),
    )


def shape_upsert_rows(
    df: DataFrame,
    key_col: str,
    value_cols: list[str],
    batch_number: int,
    order_col: str | None = None,
    tombstone: Column | None = None,
) -> DataFrame:
    """P10: wrap rows as {key, value, i, partitionTime, batchNumber}
    (SinkRecordConverter.java:83-125). ``tombstone`` is a boolean Column
    marking Kafka tombstones (null record value) — those rows get a
    NULL value struct. ``order_col`` supplies the intra-batch sequence
    (Kafka offset); falling back to a monotonic id preserves arrival
    order per partition like the reference's per-batch counter."""
    i_col = F.col(order_col) if order_col else F.monotonically_increasing_id()
    value_struct = F.struct(*[F.col(c) for c in value_cols])
    if tombstone is not None:
        value_struct = F.when(tombstone, F.lit(None)).otherwise(value_struct)
    return df.select(
        F.col(key_col).alias("key"),
        value_struct.alias("value"),
        i_col.cast("long").alias("i"),
        F.current_timestamp().alias("partitionTime"),
        F.lit(batch_number).cast("long").alias("batchNumber"),
    )


if sys.version_info < (3, 9):  # pragma: no cover
    raise RuntimeError("requires Python 3.9+")
