"""The sink pipeline: source stream -> convert/route -> warehouse.

This is the Spark re-expression of BigQuerySinkTask's three write paths
(SURVEY §3):

1. streaming insert (default): foreachBatch -> route -> BQ-shape ->
   per-table append                       (BigQuerySinkTask.java:248-297)
2. upsert/delete: shape {key,value,i,batchNumber} rows -> per-batch
   dedup -> MERGE                        (:469-506 + MergeQueries)
3. batch load: stage NDJSON then load on a timer
   (GCSToBQWriter/GCSToBQLoadRunnable)   -> sinks staging + loader tick

The cross-batch machinery the reference hand-builds (flush barriers T4,
async offset tracking T5, ordered batches T6, error latching T7)
collapses into Structured Streaming semantics: micro-batches are
sequential, checkpoints commit after foreachBatch returns, failures
fail the query. That is not lost functionality — it is the engine
providing it natively.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_bigquery_spark.config import SinkConfig
from kafka_connect_bigquery_spark.errors import ConversionError, is_retriable
from kafka_connect_bigquery_spark.functions.bq_shape import (
    to_bq_shape,
    with_kafka_metadata,
)
from kafka_connect_bigquery_spark.operators.routing import (
    TopicRouter,
    split_by_table,
    with_partition_decorator,
    with_routing,
)
from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse


def retry_with_jitter(fn, retries: int, wait_ms: int, *, classify=None, sleep=time.sleep):
    """T8: bounded retry with jitter (BigQueryWriter.java:98-149,187-190).

    ``classify(exc) -> bool`` marks retriable errors (the reference's
    BigQueryErrorResponses.java:51-129 taxonomy); deterministic jitter
    via attempt-hash keeps tests reproducible."""
    attempt = 0
    while True:
        try:
            return fn()
        except Exception as e:  # noqa: BLE001
            if classify is not None and not classify(e):
                raise
            if attempt >= retries:
                raise
            jitter_ms = hash(("jitter", attempt)) % 1000  # <=1s, like the reference
            sleep((wait_ms + jitter_ms) / 1000.0)
            attempt += 1


CORRUPT_COL = "_corrupt_record"


class ChangeFeed:
    """One micro-batch's CDC feed, shared by the IVM maintainers of a
    table. ``changes(source, from_version, to_version)`` builds
    ``Warehouse.read_changes(..., images="both")`` once per span and
    persists it lazily: the first maintainer's refresh computes the
    manifest-diff join inside its own job and fills the cache, and the
    others read the cached rows. Maintainers attached to one table
    share a cursor in steady state, so one batch costs one CDC pass
    instead of one per maintainer — and zero when the batch rewrote
    every live bucket of the table: the maintainers then rebuild
    without asking for the span (``rollup.cdc_span``), so it is never
    built. ``release()`` unpersists every span;
    ``SinkPipeline.merge_batch`` calls it when the batch ends."""

    def __init__(self, warehouse: Warehouse) -> None:
        self.warehouse = warehouse
        self._frames: dict[tuple[str, int, int], DataFrame] = {}

    def changes(self, source: str, from_version: int, to_version: int) -> DataFrame:
        key = (source, int(from_version), int(to_version))
        if key not in self._frames:
            self._frames[key] = self.warehouse.read_changes(
                source,
                from_version=key[1],
                to_version=key[2],
                images="both",
            ).persist()
        return self._frames[key]

    def release(self) -> None:
        while self._frames:
            self._frames.popitem()[1].unpersist()


def _releases_batch_caches(fn):
    """Handler decorator: unpersist the frames convert() cached for the
    strict/DLQ malformed probe once the handler (and its write) is done,
    whether it succeeded or raised."""
    import functools

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        try:
            return fn(self, *args, **kwargs)
        finally:
            self._release_batch_caches()

    return wrapper


def json_value_parser(schema):
    """JSON value parser WITH conversion-failure detection: Spark's
    PERMISSIVE ``from_json`` never returns a NULL struct for bad input
    (it null-fills), so a plain ``from_json`` parser cannot distinguish
    garbage bytes from a legitimately all-null record. This constructor
    appends the ``columnNameOfCorruptRecord`` field, which
    ``SinkPipeline._route_malformed`` reads (and strips) to implement
    errors_tolerance / dead-letter routing. Works for every tolerance
    mode; required for "none"/"all" to actually catch JSON failures."""
    from pyspark.sql import types as T

    full = T.StructType(
        [*schema.fields, T.StructField(CORRUPT_COL, T.StringType())]
    )
    opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}
    return lambda c: F.from_json(c.cast("string"), full, opts)


@dataclass
class SinkPipeline:
    """End-to-end sink over a (micro-)batch DataFrame with the Kafka
    column contract [key, value, topic, partition, offset, timestamp].

    ``value_parser`` turns the raw value column into a typed struct
    column — the stand-in for the Connect framework's converter step
    which happens *before* the reference connector sees records. Two
    built-in constructors: ``from_json(col, schema)`` (JSON wire
    format; schema/inference.py builds one from a sample) and
    ``schema.avro.avro_value_parser(spark, avro_schema)`` (Avro wire
    format, the reference's own fixture format — JVM ``from_avro``
    when the spark-avro datasource is loaded, Arrow-batched pure-Python
    decode otherwise).
    """

    warehouse: Warehouse
    config: SinkConfig
    value_parser: object = None  # Callable[[Column], Column]
    key_parser: object = None
    # X1 pluggable schema provider (SchemaRetriever.java:31-52): when set
    # (and not identity), its per-topic value schema overrides each
    # batch's own schema for table creation/evolution.
    schema_retriever: object = None
    table_specs: dict[str, TableSpec] = dc_field(default_factory=dict)
    # IVM consumers (operators/rollup.py:RollupMaintainer,
    # operators/sketch.py:SketchMaintainer) per destination table: after
    # each micro-batch MERGE commits, they catch up one at a time
    # through one shared ChangeFeed (cursor-tracked, so a crash between
    # merge and refresh loses nothing — next batch covers both)
    rollup_maintainers: dict[str, list] = dc_field(default_factory=dict)
    dedupe_by_offset: bool = True
    _batch_counter: int = 0
    # frames persisted by _route_malformed for the strict/'all' probe;
    # the batch handlers release them after their write
    _persisted: list = dc_field(default_factory=list)
    # A3 batch counters (MergeBatches.java:146-167,305-349): per-batch
    # row/tombstone counts observed on the running plan, no extra pass
    # (append path); per-phase wall seconds on both paths
    last_metrics: dict = dc_field(default_factory=dict)

    def __post_init__(self) -> None:
        self.config.validate()
        self.router = TopicRouter(
            topic_map=self.config.topic2table_map,
            smt_rules=self.config.smt_regex_routers,
            sanitize_names=self.config.sanitize_topics,
            default_dataset=self.config.default_dataset,
        )

    # -- conversion ------------------------------------------------------
    def convert(self, batch: DataFrame) -> DataFrame:
        """Route + parse + shape one micro-batch (steps 2-3 of §3.1)."""
        if self.dedupe_by_offset:
            # S2 best-effort dedup: the reference tags insertAll rows with
            # id topic-partition-offset (SinkRecordConverter.java:142-147);
            # replayed/duplicated source rows collapse on the same key.
            batch = batch.dropDuplicates(["topic", "partition", "offset"])
        df = with_routing(batch, self.router)
        value_col = (
            self.value_parser(F.col("value")) if self.value_parser else F.col("value")
        )
        df = df.withColumn("__value", value_col)
        # errors_tolerance routing runs BEFORE the F1 tombstone filter:
        # parsers that signal conversion failure with a NULL struct (the
        # Avro decode seam) would otherwise have their malformed rows
        # silently swallowed by the filter in append mode — 'none' must
        # raise and 'all' must dead-letter them first.
        df = self._route_malformed(df)
        if not self.config.delete_enabled:
            # F1 tombstone filter (BigQuerySinkTask.java:258)
            df = df.filter(F.col("__value").isNotNull())
        if self.config.kafka_key_field_name:
            key_col = self.key_parser(F.col("key")) if self.key_parser else F.col("key")
            df = df.withColumn(self.config.kafka_key_field_name, key_col)
        if self.config.kafka_data_field_name:
            df = with_kafka_metadata(df, self.config.kafka_data_field_name)
        return df

    def _route_malformed(self, df: DataFrame) -> DataFrame:
        """The Connect framework's errors.tolerance /
        errors.deadletterqueue contract, applied at the one seam where
        conversion failure is observable. Detection: when the parser
        carries a ``_corrupt_record`` field (the
        :func:`json_value_parser` constructor — Spark's PERMISSIVE
        ``from_json`` never returns a NULL struct for bad input, it
        null-fills and stashes the raw text there), malformed means
        that field is set; otherwise (the Avro decode seam — BOTH paths
        return a NULL struct on decode failure: JVM ``from_avro`` runs
        in PERMISSIVE mode, the pure-Python decoder catches decode
        errors, see schema/avro.py) malformed means raw value present
        but parsed value NULL. Either way a true tombstone (raw value
        NULL) is never misclassified, and routing happens BEFORE the F1
        tombstone filter so append mode cannot silently drop failures.
        This matters most in delete_enabled mode, where a NULL value is
        a TOMBSTONE: with a NULL-marker parser under ``permissive``
        tolerance, a decode failure is indistinguishable from a
        tombstone downstream — ``SinkConfig.validate()`` therefore
        REJECTS ``permissive`` when deletes are enabled (``none`` and
        ``all`` are the valid delete-mode tolerances). In append mode
        PERMISSIVE JSON parsing silently writes all-NULL rows.

        - ``permissive`` (default): historical behavior, zero extra
          cost — malformed rows flow as PERMISSIVE leaves them.
        - ``none``: fail the batch loudly on the first failure (the
          Connect default), naming the (topic, partition, offset).
        - ``all``: append failures to ``dead_letter_table`` (raw key/
          value base64 + source coordinates + error tag — everything a
          replay needs) and continue with the good rows."""
        cfg = self.config
        if self.value_parser is None:
            return df
        has_corrupt = CORRUPT_COL in _struct_fields(df, "__value")
        if has_corrupt:
            bad_cond = F.col(f"__value.{CORRUPT_COL}").isNotNull()
            df = df.withColumn(
                "__bad", F.coalesce(bad_cond, F.lit(False))
            ).withColumn("__value", F.col("__value").dropFields(CORRUPT_COL))
            bad_cond = F.col("__bad")
        else:
            bad_cond = F.col("value").isNotNull() & F.col("__value").isNull()
        if cfg.errors_tolerance == "permissive":
            return df.drop("__bad") if has_corrupt else df
        # strict/'all' modes probe the batch for failures BEFORE the
        # write — without a persist that probe re-parses every value
        # (and 'all' would parse three times: probe, DLQ select, write).
        # Cache the parsed frame so conversion runs once; the handler
        # unpersists after its write via _release_batch_caches().
        df = df.persist()
        self._persisted.append(df)
        if cfg.errors_tolerance == "none":
            first = (
                df.filter(bad_cond).select("topic", "partition", "offset").first()
            )
            if first is not None:
                raise ConversionError(
                    "record value conversion failed at "
                    f"{first['topic']}-{first['partition']}:{first['offset']}"
                    " (errors_tolerance='none'; set 'all' + "
                    "dead_letter_table to route instead)"
                )
        elif cfg.dead_letter_table:
            bad = df.filter(bad_cond).select(
                "topic",
                "partition",
                "offset",
                F.col("timestamp").cast("timestamp").alias("record_ts"),
                F.base64(F.col("key").cast("binary")).alias("key_b64"),
                F.base64(F.col("value").cast("binary")).alias("value_b64"),
                F.lit("value_conversion_failed").alias("error"),
            )
            if not bad.isEmpty():
                self._retried(
                    lambda: self.warehouse.append(
                        bad,
                        cfg.dead_letter_table,
                        TableSpec(partition_grain="NONE"),
                    )
                )
        out = df if cfg.errors_tolerance == "none" else df.filter(~bad_cond)
        return out.drop("__bad") if has_corrupt else out

    def _release_batch_caches(self) -> None:
        """Unpersist frames cached for the strict/DLQ malformed probe
        (one per convert() call in 'none'/'all' modes). Called by every
        batch handler after its write; safe to call when empty."""
        while self._persisted:
            try:
                self._persisted.pop().unpersist()
            except Exception:  # pragma: no cover - session already gone
                pass

    def _retried(self, fn):
        """Run one warehouse write under the reference's retry policy
        (T8 + BigQueryErrorResponses taxonomy, config keys
        bigQueryRetry/bigQueryRetryWait — BigQuerySinkConfig.java:421-440)."""
        return retry_with_jitter(
            fn,
            retries=self.config.bigquery_retry,
            wait_ms=self.config.bigquery_retry_wait_ms,
            classify=is_retriable,
        )

    def _retrieved_schema(self, table: str, sub: DataFrame, extras: list[str]):
        """Authoritative value schema for a table from the pluggable
        SchemaRetriever (SchemaManager.java:290-377 consults
        retrieveValueSchema; identity/None -> batch schema rules). The
        pipeline's own engine-added columns (kafka data/key fields,
        partition decorator) are appended from the live batch schema,
        like SchemaManager augmenting the retrieved schema with
        kafkaDataField."""
        from pyspark.sql import types as T

        if self.schema_retriever is None:
            return None
        topic = next(
            (t for t in self.config.topics if self.router.table_for(t) == table),
            table,
        )
        sch = self.schema_retriever.retrieve_value_schema(topic)
        if sch is None:
            return None
        engine_added = set(extras) | {"p_date", self.config.kafka_key_field_name} - {None}
        fields = list(sch.fields)
        have = set(sch.fieldNames())
        for f in sub.schema.fields:
            if f.name in engine_added and f.name not in have:
                fields.append(f)
        return T.StructType(fields)

    def _spec_for(self, table: str) -> TableSpec:
        if table in self.table_specs:
            return self.table_specs[table]
        cfg = self.config
        return TableSpec(
            partition_grain=cfg.time_partitioning_type,
            timestamp_field=cfg.timestamp_partition_field_name,
            clustering=tuple(cfg.clustering_field_names),
        )

    # -- path 1: streaming insert ---------------------------------------
    @_releases_batch_caches
    def write_batch(self, batch: DataFrame, batch_id: int) -> None:
        """foreachBatch handler for the default append path.

        ``last_metrics`` then holds ``batch_id``, the observed
        ``n_records`` and ``n_tombstones``, and the wall seconds of each
        phase: ``convert_s`` (parse and shape, plus the dead-letter
        probe and append under ``errors_tolerance`` none/all),
        ``route_s`` (the per-table split) and ``append_s[<table>]`` —
        wall clocks only, so reporting adds no Spark job."""
        from pyspark.sql import Observation

        t0 = time.perf_counter()
        obs = Observation(f"kcbq_batch_{batch_id}")
        batch = batch.observe(
            obs,
            F.count(F.lit(1)).alias("n_records"),
            F.sum(F.col("value").isNull().cast("long")).alias("n_tombstones"),
        )
        df = self.convert(batch)
        extras = []
        if self.config.kafka_data_field_name:
            extras.append(self.config.kafka_data_field_name)
        carry_ts = (
            self.config.use_partition_decorator
            and self.config.use_message_time_partitioning
        )
        flat = df.select(
            "__table",
            F.col("__value").alias("v"),
            *extras,
            *(["timestamp"] if carry_ts else []),
        )
        flat = flat.select("__table", "v.*", *extras, *(["timestamp"] if carry_ts else []))
        if self.config.use_partition_decorator:
            flat = with_partition_decorator(flat, ts_col="timestamp" if carry_ts else None)
            if carry_ts:
                flat = flat.drop("timestamp")
        shaped = to_bq_shape(
            flat, clamp_doubles=self.config.convert_double_special_values
        )
        metrics: dict = {"batch_id": batch_id, "convert_s": time.perf_counter() - t0}
        t0 = time.perf_counter()
        tables = split_by_table(shaped)
        metrics["route_s"] = time.perf_counter() - t0
        metrics["append_s"] = {}
        for table, sub in tables.items():
            # Retry policy = the reference's BigQueryWriter.java:98-149
            # loop with the BigQueryErrorResponses taxonomy re-expressed
            # for Spark failures (errors.py): transient infra/IO retries
            # with jitter, schema violations fail fast. Parquet appends
            # are at-least-once under retry, same as insertAll.
            t0 = time.perf_counter()
            self._retried(
                lambda sub=sub, table=table: self.warehouse.append(
                    sub,
                    table,
                    self._spec_for(table),
                    allow_new_fields=self.config.allow_new_bigquery_fields,
                    allow_relaxation=self.config.allow_required_field_relaxation,
                    allow_unionization=self.config.allow_schema_unionization,
                    proposed_schema=self._retrieved_schema(table, sub, extras),
                )
            )
            metrics["append_s"][table] = time.perf_counter() - t0
        try:
            metrics.update(obs.get)
        except Exception:  # pragma: no cover - observation not materialized
            pass
        self.last_metrics = metrics

    # -- path 2: upsert/delete ------------------------------------------
    @_releases_batch_caches
    def merge_batch(self, batch: DataFrame, batch_id: int, key_cols: list[str]) -> None:
        """foreachBatch handler for upsert/delete mode (§3.2): dedup to
        newest per key happens inside the MERGE operators; tombstones are
        records with null value.

        After each table's MERGE its maintainers refresh one at a time
        over one shared :class:`ChangeFeed`. ``last_metrics`` then holds
        ``batch_id``, ``merge_s`` (all tables) and, per maintained
        table, ``refresh[<table>] = {"source", "seconds", "versions"}``
        — wall clocks only, so reporting adds no Spark job."""
        metrics: dict = {"batch_id": batch_id, "merge_s": 0.0, "refresh": {}}
        feed = ChangeFeed(self.warehouse)
        try:
            self._merge_tables(batch, key_cols, feed, metrics)
        finally:
            feed.release()
        self.last_metrics = metrics

    def _merge_tables(
        self, batch: DataFrame, key_cols: list[str], feed: ChangeFeed, metrics: dict
    ) -> None:
        df = self.convert(batch)
        mode = (
            "upsert_delete"
            if (self.config.upsert_enabled and self.config.delete_enabled)
            else ("upsert" if self.config.upsert_enabled else "delete_only")
        )
        for table, sub in split_by_table(df.withColumn("__tombstone", F.col("__value").isNull())).items():
            value_fields = [f"__value.{f}" for f in _struct_fields(sub, "__value")]
            shaped = sub.select(
                *key_cols,
                *[F.col(v).alias(v.split(".", 1)[1]) for v in value_fields],
                F.col("offset").alias("i"),
                "__tombstone",
            )
            # table_specs flows through so bucketed-MERGE layouts
            # (TableSpec.key_bucket_count) apply on the streaming path;
            # unconfigured tables keep the unpartitioned default.
            spec = self.table_specs.get(table, TableSpec(partition_grain="NONE"))
            t0 = time.perf_counter()
            self._retried(
                lambda shaped=shaped, table=table, spec=spec: self.warehouse.merge(
                    shaped,
                    table,
                    key_cols,
                    mode=mode,
                    order_col="i",
                    tombstone_col="__tombstone",
                    spec=spec,
                    # S3 policy parity on the upsert path: evolving the
                    # destination from batch columns needs the same flag
                    # the append path enforces
                    allow_new_fields=self.config.allow_new_bigquery_fields,
                )
            )
            metrics["merge_s"] += time.perf_counter() - t0
            # one at a time: concurrent refreshes would interleave their
            # Spark jobs, and the first one fills the shared feed's cache
            for maintainer in self.rollup_maintainers.get(table, []):
                t0 = time.perf_counter()
                versions = self._retried(
                    lambda m=maintainer: m.refresh(feed=feed)
                )
                metrics["refresh"][maintainer.table] = {
                    "source": table,
                    "seconds": time.perf_counter() - t0,
                    "versions": versions,
                }

    # -- path 3: batch load ---------------------------------------------
    @_releases_batch_caches
    def stage_batch(self, batch: DataFrame, batch_id: int, staging_dir: str) -> None:
        """S5: serialize rows to newline-delimited JSON in the staging
        dir with table metadata in the path (GCSToBQWriter.java:108-193;
        blob name pattern topic_uuid_epoch ->
        staging/<table>/batch_<id>)."""
        df = self.convert(batch)
        flat = df.select("__table", F.col("__value").alias("v")).select("__table", "v.*")
        for table, sub in split_by_table(flat).items():
            sub.write.mode("append").json(os.path.join(staging_dir, table, f"batch_{batch_id}"))

    def load_staged(
        self,
        staging_dir: str,
        *,
        max_files_per_job: int = 10_000,
        max_bytes_per_job: int = 15 * 10**12,
    ) -> list[str]:
        """S6 loader tick: list staging, load each table's pending
        batches into the warehouse, then delete the loaded files
        (GCSToBQLoadRunnable.java:101-139,190-211,266-307).

        Operational parity with the reference's job grouping
        (:71-73,101-139): ONE load job per table per tick, claiming
        staged batches in order only while the job stays under
        ``max_files_per_job`` data files and ``max_bytes_per_job``
        total bytes (BigQuery's hard load-job quotas; parquet appends
        have no such quota, but honoring the caps keeps per-tick work
        bounded and crash-replayable the same way). Over-cap batches
        stay staged and load on subsequent ticks — exactly the
        reference's leftover-blob behavior. The claim unit here is a
        whole batch directory (the reference claims individual blobs);
        a single batch larger than both caps still loads alone, since
        a job must always make progress. Files delete only AFTER the
        table's append succeeds, so a crash mid-tick leaves unloaded
        batches staged for replay (T10 semantics on the batch path).

        Returns the tables that had a job fire this tick.
        """
        import shutil

        loaded = []
        if not os.path.isdir(staging_dir):
            return loaded
        for table in sorted(os.listdir(staging_dir)):
            tdir = os.path.join(staging_dir, table)
            batches = sorted(os.listdir(tdir)) if os.path.isdir(tdir) else []
            claimed: list[str] = []
            n_files = 0
            n_bytes = 0
            for b in batches:
                bdir = os.path.join(tdir, b)
                files = [
                    os.path.join(r, f)
                    for r, _, fs in os.walk(bdir)
                    for f in fs
                    if not f.startswith((".", "_"))
                ]
                size = sum(os.path.getsize(p) for p in files)
                over = (
                    n_files + len(files) > max_files_per_job
                    or n_bytes + size > max_bytes_per_job
                )
                if over and claimed:
                    break  # leftovers wait for the next tick
                claimed.append(b)
                n_files += len(files)
                n_bytes += size
                if over:
                    break  # single oversized batch: load alone
            if not claimed:
                continue
            df = self.warehouse.spark.read.json(
                [os.path.join(tdir, b) for b in claimed]
            )
            self._retried(
                lambda df=df, table=table: self.warehouse.append(
                    df, table, self._spec_for(table)
                )
            )
            for b in claimed:
                shutil.rmtree(os.path.join(tdir, b))
            loaded.append(table)
        return loaded

    # -- stream wiring ---------------------------------------------------
    def start(
        self,
        source: DataFrame,
        checkpoint_dir: str,
        key_cols: list[str] | None = None,
        trigger_sec: float = 0.0,
    ):
        """Attach the right foreachBatch handler and start the query.
        Offsets commit via the checkpoint after each handler returns —
        the reference's preCommit/flush barrier semantics for free.

        ``trigger_sec`` maps the reference's merge-amortization knob
        (BigQuerySinkConfig mergeIntervalMs, :353-374) onto Structured
        Streaming's processing-time trigger: a production upsert sink
        sets it to ``config.merge_interval_ms / 1000`` so each
        micro-batch accumulates an interval's worth of input and pays
        ONE MERGE for it; 0 (the default, and the test posture) fires
        as fast as data arrives."""
        if self.config.upsert_enabled or self.config.delete_enabled:
            handler = lambda b, i: self.merge_batch(b, i, key_cols or ["key"])  # noqa: E731
        elif self.config.enable_batch_load_topics:
            handler = lambda b, i: self.stage_batch(  # noqa: E731
                b, i, self.config.gcs_staging_dir
            )
        else:
            handler = self.write_batch
        return (
            source.writeStream.foreachBatch(handler)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{trigger_sec} seconds")
            .start()
        )


def _struct_fields(df: DataFrame, col: str) -> list[str]:
    for f in df.schema.fields:
        if f.name == col:
            return [sf.name for sf in f.dataType.fields]
    return []
