"""Per-layer metrics of a traced run: which engine entry points are
wrapped, and how their spans fold into named metrics.

Every workload reports every metric; a layer a workload does not run
reports 0, which is itself the prediction for that workload.
"""

from __future__ import annotations

import os

from perfbench.common import file_sizes, is_data_file, median

TRIGGER_PHASES = ("latest_offset", "query_planning", "add_batch", "wal_commit", "commit_offsets")
# layers whose self-attributed Spark stages are reported as spark.<layer>.*
SPARK_LAYERS = (
    "pipeline.convert",
    "routing.split_by_table",
    "warehouse.append",
    "warehouse.merge",
    "rollup.refresh",
    "sketch.refresh",
    "warehouse.lookup",
    "queries.relational",
    "queries.llm_ops",
)
SPARK_FIELDS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "busy_share",
)
FAMILIES = ("relational", "llm_ops")
QUERY_FIELDS = ("build_s", "materialize_s", "materialize_jobs", "action_s")

NAMES = (
    [f"streaming.trigger.{p}_ms" for p in TRIGGER_PHASES]
    + [
        "sources.build_s",
        "pipeline.handler_s",
        "pipeline.convert_s",
        "pipeline.dlq_rows",
        "routing.split_by_table_s",
        "schema.evolve_s",
        "warehouse.append_s",
        "warehouse.append_files",
        "warehouse.append_bytes",
        "warehouse.merge_s",
        "warehouse.merge_bytes_written",
        "warehouse.write_amp",
        "rollup.refresh_s",
        "rollup.refresh_versions",
        "sketch.refresh_s",
        "sketch.refresh_versions",
        "warehouse.lookup_s",
        "warehouse.lookup_files_read",
        "warehouse.lookup_files_on_disk",
        "warehouse.lookup_hit_ratio",
        "warehouse.stored_bytes_per_row",
    ]
    + [f"queries.{f}.{k}" for f in FAMILIES for k in QUERY_FIELDS]
    + ["trace.overhead_share", "trace.blocking_coverage"]
    + [f"spark.{layer}.{k}" for layer in SPARK_LAYERS for k in SPARK_FIELDS]
)

UNITS = {
    "_ms": "ms",
    "_s": "s",
    "_rows": "rows",
    "_files": "count",
    "_files_read": "count",
    "_files_on_disk": "count",
    "_bytes": "B",
    "_bytes_written": "B",
    "_bytes_per_row": "B/row",
    "_versions": "count",
    "_jobs": "count",
    ".jobs": "count",
    ".tasks": "count",
}


def unit_of(name: str) -> str:
    for suffix, unit in sorted(UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suffix):
            return unit
    return "ratio"


# -- installation ------------------------------------------------------------
def _table_files(wh, df, table, *args, **kwargs):
    return wh.path(table), file_sizes(wh.path(table))


def _table_delta(state, _out, *args, **kwargs) -> dict:
    import pyarrow.parquet as pq

    root, before = state
    after = file_sizes(root)
    added = [p for p, s in after.items() if before.get(p) != s]
    data = [p for p in added if is_data_file(p, root)]
    return {
        "table": os.path.basename(root),
        "files": len(data),
        "bytes": sum(after[p] for p in added),
        "rows": sum(pq.ParquetFile(p).metadata.num_rows for p in data),
    }


def install(tracer) -> None:
    """Wrap the public entry points of each layer."""
    from kafka_connect_bigquery_spark.operators import rollup, sketch
    from kafka_connect_bigquery_spark.sinks import warehouse
    from kafka_connect_bigquery_spark.streaming import pipeline

    def batch_id(_state, _out, _pipe, _batch, bid, *a, **k):
        return {"batch_id": bid}

    def versions(_state, out, *a, **k):
        return {"versions": out}

    tracer.wrap(pipeline.SinkPipeline, "write_batch", "pipeline.handler", after=batch_id)
    tracer.wrap(pipeline.SinkPipeline, "merge_batch", "pipeline.handler", after=batch_id)
    tracer.wrap(pipeline.SinkPipeline, "convert", "pipeline.convert")
    tracer.wrap(pipeline, "split_by_table", "routing.split_by_table")
    # append() calls the module-level evolve(), so patch it there
    tracer.wrap(warehouse, "evolve", "schema.evolve")
    tracer.wrap(warehouse.Warehouse, "append", "warehouse.append", _table_files, _table_delta)
    tracer.wrap(warehouse.Warehouse, "merge", "warehouse.merge", _table_files, _table_delta)
    tracer.wrap(rollup.RollupMaintainer, "refresh", "rollup.refresh", after=versions)
    tracer.wrap(sketch.SketchMaintainer, "refresh", "sketch.refresh", after=versions)


# -- folding spans into metrics ------------------------------------------------
def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _stream_metrics(tracer, res: dict, table: str, dlq: str) -> tuple[dict, list, set]:
    kids = tracer.children()
    handlers = [s for s in tracer.spans if s.name == "pipeline.handler"]
    trig = {b["batch_id"]: b["duration_ms"] for b in res["progress"]}
    per_batch: dict[str, list] = {}
    timed: set[int] = set()
    coverage = []
    # (op, span name) -> per-op self-time shares of that op's wall
    shares: dict[tuple, list] = {}

    def add(k, v):
        per_batch.setdefault(k, []).append(v)

    for h in handlers:
        bid = h.attrs.get("batch_id")
        if bid not in trig:  # a set-up batch
            continue
        sub = tracer.subtree(h, kids)
        timed.update(s.id for s in sub)
        by = lambda name, **kw: [  # noqa: E731
            s for s in sub if s.name == name and all(s.attrs.get(a) == v for a, v in kw.items())
        ]
        add("pipeline.handler_s", h.duration)
        add("pipeline.convert_s", sum(s.duration for s in by("pipeline.convert")))
        add("pipeline.dlq_rows", sum(s.attrs.get("rows", 0) for s in by("warehouse.append", table=dlq)))
        add("routing.split_by_table_s", sum(s.duration for s in by("routing.split_by_table")))
        add("schema.evolve_s", sum(s.duration for s in by("schema.evolve")))
        app = by("warehouse.append", table=table)
        add("warehouse.append_s", sum(s.duration for s in app))
        add("warehouse.append_files", sum(s.attrs.get("files", 0) for s in app))
        add("warehouse.append_bytes", sum(s.attrs.get("bytes", 0) for s in app))
        mrg = by("warehouse.merge")
        written = sum(s.attrs.get("bytes", 0) for s in mrg)
        add("warehouse.merge_s", sum(s.duration for s in mrg))
        add("warehouse.merge_bytes_written", written)
        add("warehouse.write_amp", written / res["input_bytes"].get(bid, 1) if mrg else 0.0)
        for layer in ("rollup", "sketch"):
            spans = by(f"{layer}.refresh")
            add(f"{layer}.refresh_s", sum(s.duration for s in spans))
            add(f"{layer}.refresh_versions", sum(s.attrs.get("versions") or 0 for s in spans))
        wall = trig[bid].get("triggerExecution")
        if wall:
            selfs = {}
            for s in sub:
                selfs[s.name] = selfs.get(s.name, 0.0) + tracer.self_time(s, kids)
            coverage.append(sum(selfs.values()) * 1e3 / wall)
            for name, v in selfs.items():
                shares.setdefault(("batch", name), []).append(v * 1e3 / wall)
    out = {k: median(v) for k, v in per_batch.items()}
    for p in TRIGGER_PHASES:
        key = "".join(w.capitalize() if i else w for i, w in enumerate(p.split("_")))
        out[f"streaming.trigger.{p}_ms"] = median(
            [b["duration_ms"].get(key, 0) for b in res["progress"]]
        )
    out["trace.blocking_coverage"] = median(coverage)
    src = [s for s in tracer.spans if s.name == "sources.file_stream_source"]
    out["sources.build_s"] = sum(s.duration for s in src)
    lookups = [s for s in tracer.spans if s.name == "warehouse.lookup"]
    for lk in lookups:
        sub = tracer.subtree(lk, kids)
        timed.update(s.id for s in sub)
        for s in sub:
            shares.setdefault(("lookup", s.name), []).append(
                tracer.self_time(s, kids) / lk.duration
            )
    if lookups:
        out["warehouse.lookup_s"] = median([s.duration for s in lookups])
        out["warehouse.lookup_files_read"] = _mean([s.attrs["files_read"] for s in lookups])
        out["warehouse.lookup_files_on_disk"] = _mean([s.attrs["files_on_disk"] for s in lookups])
        read = sum(s.attrs["files_read"] for s in lookups)
        out["warehouse.lookup_hit_ratio"] = (
            sum(s.attrs["files_holding"] for s in lookups) / read if read else 0.0
        )
    out["warehouse.stored_bytes_per_row"] = res["stored_bytes"] / max(1, res["live_rows"])
    blocking = [(op, name, median(v)) for (op, name), v in sorted(shares.items())]
    return out, blocking, timed


def _query_metrics(tracer, res: dict) -> tuple[dict, list]:
    kids = tracer.children()
    n_pass = len(res["passes"])
    out: dict = {}
    blocking = []
    for fam in FAMILIES:
        per_pass = {k: [0.0] * n_pass for k in QUERY_FIELDS}
        roots = [s for s in tracer.spans if s.name == f"queries.{fam}"]
        per = max(1, len(roots) // max(1, n_pass))
        for i, root in enumerate(roots):
            p = min(i // per, n_pass - 1)
            for s in kids.get(root.id, []):
                if s.name.endswith(".build"):
                    mat = tracer.job_seconds(s)
                    per_pass["materialize_s"][p] += mat
                    per_pass["materialize_jobs"][p] += len(s.jobs)
                    per_pass["build_s"][p] += max(0.0, s.duration - mat)
                elif s.name.endswith(".action"):
                    per_pass["action_s"][p] += s.duration
        for k, v in per_pass.items():
            out[f"queries.{fam}.{k}"] = median(v)
        walls = [p["wall_s"] for p in res["passes"]]
        for k in ("build_s", "materialize_s", "action_s"):
            blocking.append(("pass", f"queries.{fam}.{k}", median(per_pass[k]) / median(walls)))
    covered = sum(tracer.self_time(s, kids) for s in tracer.spans)
    out["trace.blocking_coverage"] = covered / res["timed_s"]
    return out, blocking


def metrics(tracer, res: dict, kind: str, cores: int) -> tuple[dict, list]:
    """All per-layer metrics (zeros for layers not run) and the
    blocking-path shares ``(op, layer, share of op wall)``."""
    from perfbench.gen import DLQ_TABLE, TABLE

    out = {n: 0.0 for n in NAMES}
    if kind == "stream":
        got, blocking, timed = _stream_metrics(tracer, res, TABLE, DLQ_TABLE)
        ops = max(1, len(res["progress"]))
    else:
        got, blocking = _query_metrics(tracer, res)
        timed = {s.id for s in tracer.spans}
        ops = max(1, len(res["passes"]))
    out.update(got)
    out["trace.overhead_share"] = tracer.overhead_s / max(tracer.recorded_s, 1e-9)
    kids = tracer.children()
    for layer in SPARK_LAYERS:
        spans = [
            s for s in tracer.spans
            if s.id in timed and (s.name == layer or s.name.startswith(layer + "."))
        ]
        if not spans:
            continue
        n = len([s for s in spans if s.name == "warehouse.lookup"]) or ops
        tot = tracer.stage_totals(spans)
        busy = sum(tracer.self_time(s, kids) for s in spans) * cores
        for k in SPARK_FIELDS[:-1]:
            out[f"spark.{layer}.{k}"] = tot[k] / n
        out[f"spark.{layer}.busy_share"] = tot["executor_run_s"] / busy if busy else 0.0
    return out, blocking
