"""SparkSession factory tuned for this engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` in a single JVM, but every
config here is chosen to also be correct on a large multi-executor
cluster: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), UTC session timezone (oracle comparability), Arrow enabled
for the Pandas-UDF slow path.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kcbq-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    On a real cluster, ``master`` comes from spark-submit and
    ``shuffle_partitions`` should be ~2-3x total executor cores (or left
    to AQE's coalescing with a high initial value). Locally we match the
    thread count so tiny benchmarks aren't dominated by task overhead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # driver testdata stores some timestamps at nanosecond precision,
        # which Spark's parquet reader rejects; read them as raw int64
        # nanos and convert in read_table().
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Per-op call-site capture for error enrichment (SPARK-47274)
        # costs ~6 py4j round trips + a Python traceback walk on EVERY
        # DataFrame/Column API call on the driver — profiled 1373 -> 367
        # py4j sends for one events_welch_t build, 0.45 -> 0.17 s
        # same-session A/B; guide §5 (the driver should do almost no
        # work). Results are unchanged — only error messages lose the
        # Python call-site line. Deployment-independent: driver chatter
        # is identical on a real cluster.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def table_path(sf_dir: str, name: str) -> str:
    """Path of one driver-generated parquet table."""
    return os.path.join(sf_dir, f"{name}.parquet")


@functools.lru_cache(maxsize=256)
def _ns_timestamp_columns(path: str) -> tuple[str, ...]:
    """Names of nanosecond-precision timestamp columns in a parquet file.

    Driver-side metadata probe, cached per path so the 67-query registry
    pays the footer read once per table, not once per query.
    """
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        if os.path.isdir(path):
            # multi-file table (name.parquet/part-*.parquet): all parts
            # share a schema, so the first file's footer answers
            parts = sorted(
                f for f in os.listdir(path) if f.endswith(".parquet")
            )
            if not parts:
                return ()
            path = os.path.join(path, parts[0])
        sch = pq.read_schema(path)
        return tuple(
            f.name
            for f in sch
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        )
    except Exception:  # pragma: no cover - pyarrow always present in env
        return ()


# WeakSet, not an id() set: a GC'd session's id can be reused by a new
# session object, which would then silently skip the conf setup and read
# parquet with the wrong timestamp behavior.
import weakref

_NANOS_CONF_SESSIONS: "weakref.WeakSet" = weakref.WeakSet()

# Resolved-relation cache per session: the catalog role a metastore
# plays on a real cluster. Re-resolving a parquet relation re-lists
# files and re-reads footers — pure constant overhead when the same 90
# registry queries hit the same 10 immutable tables in one session.
# Keyed weakly by session (a dead session must not pin its JVM state);
# DataFrames are immutable so sharing one per (dir, table) is safe.
_TABLE_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _reset_debugging_flag_cache() -> bool:
    """Drop pyspark's cached ``dataFrameDebugging.enabled`` flag so the
    next wrapped API call re-reads the conf. pyspark caches the flag at
    the first wrapped call, and a session built without ``get_spark()``
    may have warmed that cache True before reaching the read boundary.

    The cache is the private ``pyspark.errors.utils._enable_debugging_cache``
    (verified on PySpark 4.1.2; re-check on upgrade). If a release
    renames it, this returns False instead of creating a dead attribute;
    tests/test_tooling.py pins that the attribute still exists."""
    import pyspark.errors.utils as _eu

    if not hasattr(_eu, "_enable_debugging_cache"):
        return False
    _eu._enable_debugging_cache = None
    return True


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one testdata table, normalizing nanosecond-precision parquet
    timestamps to Spark's microsecond TimestampType.

    With ``spark.sql.legacy.parquet.nanosAsLong`` the ns columns arrive
    as int64 epoch-nanos; we floor-divide to micros (integer `div`, no
    double round-trip — ns epochs exceed 2^53). The DuckDB oracle must
    apply the same truncation (``make_timestamp(epoch_ns(ts) // 1000)``)
    when emitting such columns.
    """
    from pyspark.sql import functions as F

    # The driver harness (and any external caller) may hand us a plain
    # SparkSession without engine confs; nanosAsLong is a runtime SQL conf,
    # so set it here rather than relying on get_spark() having built the
    # session. Without it every read of the ns-timestamp `events` parquet
    # dies with PARQUET_TYPE_ILLEGAL. Once per session, not per read.
    if spark not in _NANOS_CONF_SESSIONS:
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            # Without-timezone parquet timestamps (isAdjustedToUTC=false)
            # would otherwise surface as TIMESTAMP_NTZ, a second timestamp
            # type the engine would have to handle everywhere (e.g. NTZ
            # forbids cast-to-double). Normalize at the read boundary: one
            # engine-wide TimestampType, instants taken as UTC (the session
            # timezone get_spark() pins).
            spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
            # Driver-side py4j diet (see get_spark): also applied here so
            # the driver harness's plain conf-free session gets it — it
            # builds hundreds of plans per correctness run. Lazily read
            # (and cached) by pyspark at the first wrapped API call, so
            # setting it at the read boundary is early enough.
            spark.conf.set(
                "spark.python.sql.dataFrameDebugging.enabled", "false"
            )
            _reset_debugging_flag_cache()
        except Exception:  # pragma: no cover - conf is runtime-settable in 4.x
            pass
        _NANOS_CONF_SESSIONS.add(spark)

    cache = _TABLE_CACHE.setdefault(spark, {})
    path = table_path(sf_dir, name)
    df = cache.get(path)
    if df is None:
        df = spark.read.parquet(path)
        for col in _ns_timestamp_columns(path):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        cache[path] = df
    return df


def register_views(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> None:
    """Register the testdata tables as temp views so the full engine
    surface is reachable through plain ``spark.sql(...)`` — the same
    table names the DuckDB oracles use, making ad-hoc SQL portable
    between the two. Views go through ``read_table`` and therefore get
    the same timestamp normalization as the DataFrame path."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the standard testdata tables as a dict of DataFrames."""
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    return {n: read_table(spark, sf_dir, n) for n in names}
