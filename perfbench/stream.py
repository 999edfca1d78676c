"""The two stream workloads: ``stream_append`` and ``stream_upsert_ivm``.

Load model: one producer in a closed loop. Every flush file is staged
before the clock starts; the feeder releases the next file into the
source directory only after the previous micro-batch completed. Each
released file becomes one micro-batch
(``file_stream_source(max_files_per_trigger=1)``). Untimed warm-up
batches run first, then a fixed number of timed ones. After the drain,
untimed warm-up reads and a fixed number of timed point reads run
against the same warehouse. The counts follow from ``--seconds`` and
the workload's nominal cost per batch and per read (``timed_counts``),
so every run of one workload measures the same amount of work.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

from perfbench import gen, oracles
from perfbench.common import file_sizes, log, median, percentile

VALUE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)
TABLE, DLQ_TABLE = gen.TABLE, gen.DLQ_TABLE
ROLLUP_TABLE, SKETCH_TABLE = gen.ROLLUP_TABLE, gen.SKETCH_TABLE
# untimed micro-batches ahead of the timed ones (the first one runs cold)
WARMUP_BATCHES = 1
# untimed point reads ahead of the timed ones (the first ones run cold)
WARMUP_READS = 4


def timed_counts(params: dict, seconds: float) -> tuple[int, int]:
    """(timed micro-batches, timed point reads) for a run of ``seconds``:
    ``ingest_share`` of it at the nominal ``batch_s`` per micro-batch,
    the rest at ``read_s`` per read; at least 2 of each."""
    share = float(params["ingest_share"])
    batches = round(seconds * share / float(params["batch_s"]))
    reads = round(seconds * (1 - share) / float(params["read_s"]))
    return max(2, batches), max(2, reads)


class ProgressLog(StreamingQueryListener):
    """Every progress update of every micro-batch that had input, kept
    in full (``recentProgress`` keeps only the last 100 and mixes in
    no-data triggers)."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self.failed: list[str] = []
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows > 0:
            with self._cv:
                self.batches.append(
                    {"batch_id": p.batchId, "duration_ms": dict(p.durationMs)}
                )
                self._cv.notify_all()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        if event.exception:
            with self._cv:
                self.failed.append(event.exception)
                self._cv.notify_all()

    def count(self) -> int:
        with self._cv:
            return len(self.batches)

    def wait_for(self, n: int, timeout: float) -> bool:
        with self._cv:
            return self._cv.wait_for(
                lambda: len(self.batches) >= n or self.failed, timeout
            )


class StreamRun:
    """One stream workload over one warehouse root."""

    def __init__(self, spark, name: str, params: dict, tracer) -> None:
        self.spark = spark
        self.name = name
        self.params = params
        self.tracer = tracer
        self.upsert = name == "stream_upsert_ivm"

    # -- engine wiring ----------------------------------------------------
    def build_pipeline(self, root: str):
        from kafka_connect_bigquery_spark.config import SinkConfig
        from kafka_connect_bigquery_spark.operators import rollup as R
        from kafka_connect_bigquery_spark.operators import sketch as SK
        from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse
        from kafka_connect_bigquery_spark.streaming.pipeline import (
            SinkPipeline,
            json_value_parser,
        )

        wh = Warehouse(self.spark, root)
        if not self.upsert:
            # the reference's default streaming-insert posture: SinkConfig
            # defaults (DAY ingestion-time partitions) plus a dead-letter
            # table for malformed records
            cfg = SinkConfig(
                topics=[TABLE], errors_tolerance="all", dead_letter_table=DLQ_TABLE
            )
            return wh, SinkPipeline(
                warehouse=wh, config=cfg, value_parser=json_value_parser(VALUE_SCHEMA)
            )
        cfg = SinkConfig(
            topics=[TABLE],
            upsert_enabled=True,
            delete_enabled=True,
            kafka_key_field_name="ukey",
            errors_tolerance="none",
        )
        measures = {
            "n": F.lit(1).cast("bigint"),
            "sum_q": R.quantized(F.col("value")),
        }
        maintainers = [
            R.RollupMaintainer(wh, TABLE, ROLLUP_TABLE, ["event_type"], measures, count_measure="n"),
            SK.SketchMaintainer(wh, TABLE, SKETCH_TABLE, "event_id", ["event_type"], kind="hll"),
        ]
        return wh, SinkPipeline(
            warehouse=wh,
            config=cfg,
            value_parser=json_value_parser(VALUE_SCHEMA),
            key_parser=lambda c: c.cast("string"),
            table_specs={TABLE: TableSpec(partition_grain="NONE", key_bucket_count=8)},
            rollup_maintainers={TABLE: maintainers},
        )

    def handle_static(self, pipe, path: str) -> None:
        """Run the pipeline's micro-batch handler on one flush file as a
        static batch: creates the tables during set-up."""
        from kafka_connect_bigquery_spark.sources.kafka import KAFKA_SCHEMA

        batch = self.spark.read.schema(KAFKA_SCHEMA).parquet(path)
        if self.upsert:
            pipe.merge_batch(batch, -1, ["ukey"])
        else:
            pipe.write_batch(batch, -1)

    def setup(self, root: str, first_file: str):
        """Fresh warehouse, tables created by the first flush, and the
        read-side structures: a Bloom index on the unique id (append) or
        the attached rollup and sketch maintainers (upsert)."""
        wh, pipe = self.build_pipeline(root)
        self.handle_static(pipe, first_file)
        if not self.upsert:
            wh.record_bloom(TABLE, ["event_id"])
        return wh, pipe

    # -- measured phases ----------------------------------------------------
    def ingest(self, pipe, pending: list[str], src: str, ckpt: str, batches: int) -> dict:
        """Start the stream on an empty source and wait until it idles,
        then run ``WARMUP_BATCHES`` micro-batches, all of that untimed.
        Then the timed closed-loop drain of ``batches`` micro-batches;
        each one's cycle runs from the file's release to its progress
        event."""
        from kafka_connect_bigquery_spark.sources import kafka as K

        warm = WARMUP_BATCHES
        progress = ProgressLog()
        self.spark.streams.addListener(progress)
        os.makedirs(src, exist_ok=True)
        released = 0
        cycle_ms: list[float] = []

        def run_batch() -> None:
            nonlocal released
            name = os.path.basename(pending[released])
            t = time.perf_counter()
            os.rename(pending[released], os.path.join(src, name))
            released += 1
            if not progress.wait_for(released, timeout=120) or progress.failed:
                raise RuntimeError(f"micro-batch {released} did not complete")
            cycle_ms.append((time.perf_counter() - t) * 1e3)

        out = {"error": None, "start_s": 0.0, "warmup_s": 0.0, "wall_s": 0.0}
        query = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("sources.file_stream_source"):
                source = K.file_stream_source(self.spark, src, max_files_per_trigger=1)
            query = pipe.start(source, ckpt, key_cols=["ukey"] if self.upsert else None)
            while query.status["message"] != "Waiting for data to arrive":
                if not query.isActive or time.perf_counter() - t0 > 120:
                    raise RuntimeError(f"the query did not start: {query.status}")
                time.sleep(0.005)
            out["start_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            while released < warm:
                run_batch()
            out["warmup_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            while released < min(len(pending), warm + batches):
                run_batch()
            query.processAllAvailable()
            out["wall_s"] = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - a failed batch is a counted outcome
            out["wall_s"] = time.perf_counter() - t0
            out["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            if query is not None:
                query.stop()
            self.spark.streams.removeListener(progress)
        out["released"] = released
        out["timed_released"] = max(0, released - warm)
        out["cycle_ms"] = cycle_ms[warm:]
        out["batches"] = progress.batches
        out["timed_batches"] = progress.batches[warm:]
        return out

    def lookup(self, wh, key):
        col = "ukey" if self.upsert else "event_id"
        with self.tracer.span("warehouse.lookup", key=key) as attrs:
            with self.tracer.span("warehouse.lookup.prune"):
                df = wh.read_pruned_where(TABLE, {col: key})
            with self.tracer.span("warehouse.lookup.collect"):
                rows = df.collect()
        if self.tracer.recording:
            with self.tracer.aside():
                attrs["files_read"] = len(df.inputFiles())
                attrs["files_holding"] = (
                    df.select(F.input_file_name()).distinct().count() if rows else 0
                )
                attrs["files_on_disk"] = wh.describe_detail(TABLE)["num_files"]
        return rows

    def read_loop(self, wh, keys: list):
        """Closed loop of one point read per key; returns
        (key, ms, rows or exception) per read."""
        out = []
        for key in keys:
            t = time.perf_counter()
            try:
                rows = self.lookup(wh, key)
            except Exception as e:  # noqa: BLE001 - counted as a failed read
                rows = e
            out.append((key, (time.perf_counter() - t) * 1e3, rows))
        return out

    # -- the whole run -----------------------------------------------------
    def run(self, work: str, seed: int, seconds: float, setup_repeats: int) -> dict:
        p = self.params
        inputs = gen.stream_records(p, seed)
        staged = os.path.join(work, "staged")
        files = gen.write_stream_files(inputs, staged)
        sizes = [os.path.getsize(f) for f in files]
        # strictly increasing modification times: the file source orders
        # new files by mtime, so batch order equals offset order
        base = time.time() - 3600
        for i, f in enumerate(files):
            os.utime(f, (base + i, base + i))

        # set-up, repeated into fresh roots; the last one is measured
        setup_s = []
        for r in range(setup_repeats):
            root = os.path.join(work, f"wh{r}")
            t = time.perf_counter()
            wh, pipe = self.setup(root, files[0])
            setup_s.append(time.perf_counter() - t)
            if r < setup_repeats - 1:
                shutil.rmtree(root)

        log(f"set-up done: {[round(x, 2) for x in setup_s]}")
        n_batches, n_reads = timed_counts(p, seconds)
        self.tracer.start()
        ing = self.ingest(
            pipe, files[1:], os.path.join(work, "src"), os.path.join(work, "ckpt"), n_batches
        )
        released, error = ing["released"], ing["error"]
        log(f"ingest done: {released} files, timed {ing['wall_s']:.2f}s, error={error}")
        # flushes in the table: the set-up one plus every committed batch
        committed = 1 + (released if error is None else len(ing["batches"]))
        rng = random.Random(seed)
        warm = WARMUP_READS
        if self.upsert:
            seen = sorted({int(u) for u in inputs.user_id[: committed * inputs.records_per_file]})
            keys = [str(rng.choice(seen)) for _ in range(warm + n_reads)]
        else:
            good = oracles.append_good_rows(inputs, committed)
            keys = [r["event_id"] for r in rng.sample(good, min(len(good), warm + n_reads))]
        # untimed warm-up reads: the read path's first calls run cold
        self.tracer.stop()
        warm_reads = self.read_loop(wh, keys[:warm])
        self.tracer.start()
        reads = self.read_loop(wh, keys[warm:])
        self.tracer.stop()
        log(
            f"reads done: warm-up {[round(ms) for _, ms, _ in warm_reads]},"
            f" timed {[round(ms) for _, ms, _ in reads]}"
        )

        check = oracles.check_stream(self.upsert, wh, inputs, committed, reads)
        log("checks done")
        batch_ms = [b["duration_ms"]["triggerExecution"] for b in ing["timed_batches"]]
        read_ms = [ms for _, ms, _ in reads]
        live_rows = check.pop("live_rows")
        failed_batches = 0 if error is None else max(1, released - len(ing["batches"]))
        return {
            "setup_samples_s": setup_s,
            "stream_start_s": ing["start_s"],
            "warmup_s": ing["warmup_s"],
            "records_per_batch": inputs.records_per_file,
            "cycle_ms": ing["cycle_ms"],
            "batch_ms": batch_ms,
            "read_ms": read_ms,
            "progress": ing["timed_batches"],
            "error": error,
            "attempted": released + len(reads),
            "failed": failed_batches + check.pop("failed_reads"),
            "checks": check,
            "stored_bytes": sum(file_sizes(wh.root).values()),
            "live_rows": live_rows,
            # micro-batch id -> bytes of its flush file
            "input_bytes": dict(enumerate(sizes[1 : released + 1])),
        }


def summarize(res: dict) -> dict:
    """End-to-end figures of one stream run, named as in the doc."""
    out = {
        "stream_start_s": (res["stream_start_s"], "s", 1),
        "warmup_s": (res["warmup_s"], "s", 1),
        "ingest_rows_per_s": (
            res["records_per_batch"] * 1e3 / max(median(res["cycle_ms"]), 1e-9),
            "rows/s",
            len(res["cycle_ms"]),
        ),
        "batch_ms_p50": (median(res["batch_ms"]), "ms", len(res["batch_ms"])),
        "read_ms_p50": (median(res["read_ms"]), "ms", len(res["read_ms"])),
        "stored_bytes_per_row": (
            res["stored_bytes"] / max(1, res["live_rows"]), "B/row", res["live_rows"],
        ),
    }
    for name, xs, pct in (("batch_ms", res["batch_ms"], 75), ("read_ms", res["read_ms"], 90)):
        v = percentile(xs, pct)
        if v is not None:
            out[f"{name}_p{pct}"] = (v, "ms", len(xs))
    return out
