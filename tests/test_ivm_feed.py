"""The bucketed MERGE + IVM read path: generation dirs read with the
manifest schema (no footer-merge job), one shared CDC feed per
micro-batch for every maintainer of a table, maintainers that stay
incremental after their first refresh while a span leaves a live bucket
unchanged, rebuild without the feed when it rewrote every live bucket,
and read the source at the version their cursor records."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from kafka_connect_bigquery_spark.config import SinkConfig
from kafka_connect_bigquery_spark.operators import rollup as R
from kafka_connect_bigquery_spark.operators import sketch as SK
from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse
from kafka_connect_bigquery_spark.sources.kafka import KAFKA_SCHEMA
from kafka_connect_bigquery_spark.streaming.pipeline import ChangeFeed, SinkPipeline

SPEC = TableSpec(partition_grain="NONE", key_bucket_count=4)
BASE = "k: bigint, g: string, s: struct<a: int>, i: bigint, __tombstone: boolean"
EVOLVED = (
    "k: bigint, g: string, s: struct<a: int, b: string>, w: double, "
    "i: bigint, __tombstone: boolean"
)


def _jobs_started(spark) -> int:
    """Spark jobs started so far in this session (ids are sequential),
    read from the status store once the listener bus has drained."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(sc._jvm.java.util.ArrayList())
    return int(jobs.head().jobId()) + 1 if jobs.nonEmpty() else 0


def _gen_paths(wh, table, meta):
    return [wh._bucket_gen_dir(table, b, g) for b, g in meta["generations"].items()]


def _footer_merge_read(spark, wh, paths, meta):
    """The read shape the manifest-schema read replaced: merged footers
    conformed to the manifest."""
    return wh._conform_to_stored(
        spark.read.option("mergeSchema", "true").parquet(*paths), meta
    )


def _rows(df):
    return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True) for r in df.collect())


@pytest.fixture
def evolved_wh(spark, tmp_path):
    """A 4-bucket table whose top-level (``w``) and nested (``s.b``)
    evolution touched bucket 0 only, plus a manifest-only column
    (``z``) added by a tombstone-only batch for an absent key of the
    empty bucket 3. Returns the warehouse and the keys by role."""
    by_bucket: dict[int, list[int]] = {}
    for r in spark.range(64).select(
        "id", F.pmod(F.hash("id"), F.lit(4)).alias("b")
    ).collect():
        by_bucket.setdefault(r["b"], []).append(r["id"])
    keys = {
        "evolved": by_bucket[0][0],
        "nulled": by_bucket[0][1],
        "plain": by_bucket[1][0],
        "ghost": by_bucket[3][0],
    }
    wh = Warehouse(spark, str(tmp_path / "wh"), snapshot_retention=4)
    base_keys = by_bucket[0][:3] + by_bucket[1][:3] + by_bucket[2][:2]
    base = spark.createDataFrame(
        [(k, "ab"[k % 2], (k,), 0, False) for k in base_keys], BASE
    )
    wh.merge(base, "t", ["k"], mode="upsert_delete", spec=SPEC)
    evolved = spark.createDataFrame(
        [
            (keys["evolved"], "a", (10, "x"), 2.5, 1, False),
            (keys["nulled"], None, None, None, 1, False),
        ],
        EVOLVED,
    )
    wh.merge(evolved, "t", ["k"], mode="upsert_delete", spec=SPEC)
    ghost = spark.createDataFrame(
        [(keys["ghost"], None, None, None, None, 2, True)],
        EVOLVED.replace("w: double,", "w: double, z: string,"),
    )
    wh.merge(ghost, "t", ["k"], mode="upsert_delete", spec=SPEC)
    return wh, keys


def test_manifest_schema_read_equals_footer_merge(spark, evolved_wh):
    wh, keys = evolved_wh
    meta = wh.layout_meta("t")
    paths = _gen_paths(wh, "t", meta)
    footers = [
        set(pq.read_schema(os.path.join(p, f)).names)
        for p in paths
        for f in os.listdir(p)
        if f.endswith(".parquet")
    ]
    # the evolution really is partial: some footers predate w, none has z
    assert any("w" not in names for names in footers)
    assert any("w" in names for names in footers)
    assert not any("z" in names for names in footers)
    new = wh._read_stored(paths, meta)
    old = _footer_merge_read(spark, wh, paths, meta)
    assert new.schema == old.schema
    assert new.columns == ["k", "g", "s", "w", "z"]
    assert _rows(new) == _rows(old)
    assert _rows(wh.read("t")) == _rows(old)
    nested = {r["k"]: r["s"] for r in new.collect()}
    assert nested[keys["evolved"]].asDict() == {"a": 10, "b": "x"}
    assert nested[keys["nulled"]] is None  # a NULL parent stays NULL
    assert nested[keys["plain"]].asDict() == {"a": keys["plain"], "b": None}


def test_manifest_without_schema_falls_back_to_footer_merge(spark, evolved_wh):
    wh, _ = evolved_wh
    meta = wh.layout_meta("t")
    legacy = {k: v for k, v in meta.items() if k != "schema"}
    wh._write_layout_meta("t", legacy)
    paths = _gen_paths(wh, "t", legacy)
    got = wh.read("t")
    want = spark.read.option("mergeSchema", "true").parquet(*paths)
    assert got.schema == want.schema
    assert "z" not in got.columns  # only the manifest knew it
    assert _rows(got) == _rows(want)
    n0 = _jobs_started(spark)
    wh.read("t")
    assert _jobs_started(spark) > n0  # the footer-merge job


def test_bucketed_reads_start_no_jobs_while_planning(spark, evolved_wh):
    wh, keys = evolved_wh
    meta = wh.layout_meta("t")
    # the counter sees the job a footer merge starts
    n0 = _jobs_started(spark)
    spark.read.option("mergeSchema", "true").parquet(*_gen_paths(wh, "t", meta))
    assert _jobs_started(spark) > n0
    n0 = _jobs_started(spark)
    plans = [
        wh.read("t"),
        wh.read("t", version=1),
        wh.read_changes("t", from_version=0, images="both"),
        wh.read_changes("t", from_version=0, to_version=1),
    ]
    for df in plans:
        df.schema  # noqa: B018 - analysis only
    assert _jobs_started(spark) == n0
    changes = {(r["_change_type"], r["k"]) for r in plans[2].collect()}
    assert changes == {
        (kind, keys[role])
        for kind in ("update_preimage", "update_postimage")
        for role in ("evolved", "nulled")
    }


# -- maintainers ---------------------------------------------------------------
def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "k: bigint, g: string, v: bigint, i: bigint, __tombstone: boolean"
    )


def _measures():
    return {"n": F.lit(1).cast("bigint"), "sum_v": F.col("v").cast("bigint")}


def _rollup_rows(df):
    return {(r["g"], r["n"], r["sum_v"]) for r in df.collect()}


def _hll_rows(df):
    return {(r["g"], r["register"], r["rho"]) for r in df.collect()}


@pytest.mark.parametrize("kind", ["rollup", "hll"])
def test_maintainer_never_rebuilds_after_first_refresh(spark, tmp_path, monkeypatch, kind):
    """Once the cursor exists every refresh is incremental: a silent
    fallback rebuild (e.g. a rollup table that grew a partition column
    its delta merge cannot resolve) fails here."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge(
        _mk(spark, [(k, "abc"[k % 3], k, 0, False) for k in range(9)]),
        "t", ["k"], mode="upsert_delete", order_col="i", spec=SPEC,
    )
    if kind == "rollup":
        m = R.RollupMaintainer(wh, "t", "t_agg", ["g"], _measures(), count_measure="n")
    else:
        m = SK.SketchMaintainer(wh, "t", "t_agg", "k", ["g"], kind="hll")
    assert m.refresh() == 1

    def _no_rebuild(self):
        raise AssertionError("incremental refresh fell back to a rebuild")

    monkeypatch.setattr(type(m), "_rebuild", _no_rebuild)
    for step in (1, 2):
        wh.merge(
            _mk(spark, [
                (1, "a", 100 * step, step, False),   # update, group move
                (3 * step, None, None, step, True),  # delete
                (20 + step, "d", step, step, False),  # insert, new group
            ]),
            "t", ["k"], mode="upsert_delete", order_col="i", spec=SPEC,
        )
        # the span leaves a live bucket unchanged, so it takes the delta
        # path (a span that rewrote every live bucket rebuilds by design)
        v = wh.layout_meta("t")["generation"]
        assert not wh.bucket_diff("t", v - 1, v).rewrote_every_live_bucket
        assert m.refresh() == 1
    assert wh.layout_meta("t_agg").get("generations") is None
    assert wh.read("t_agg").columns == (
        ["g", "n", "sum_v"] if kind == "rollup" else ["g", "register", "rho"]
    )
    monkeypatch.undo()
    if kind == "rollup":
        want = R.build_rollup(wh.read("t"), ["g"], _measures())
        assert _rollup_rows(wh.read("t_agg")) == _rollup_rows(want)
    else:
        want = SK.hll_build_grouped(wh.read("t"), "k", ["g"])
        assert _hll_rows(wh.read("t_agg")) == _hll_rows(want)


def _maintainer(wh, kind, table):
    if kind == "rollup":
        return R.RollupMaintainer(wh, "t", table, ["g"], _measures(), count_measure="n")
    if kind == "hist":
        return SK.SketchMaintainer(
            wh, "t", table, "v", ["g"], kind="hist", lo=0.0, hi=100.0, nbins=8
        )
    return SK.SketchMaintainer(wh, "t", table, "k", ["g"], kind=kind)


def _merge(spark, wh, rows):
    wh.merge(_mk(spark, rows), "t", ["k"], mode="upsert_delete", order_col="i", spec=SPEC)
    return wh.layout_meta("t")["generation"]


def _poisoned(*args, **kwargs):
    raise AssertionError("a span that rewrote every live bucket built the CDC feed")


# keys 0-8 fill buckets 0 (2, 4, 5, 8), 1 (0, 1, 6) and 3 (3, 7); key 14
# falls in bucket 2
_BASE_ROWS = [(k, "abc"[k % 3], k, 0, False) for k in range(9)]
# Spark jobs a rebuild starts: one per shuffle plus the write. KMV has two
# shuffles (distinct, then the per-group top-k window)
_REBUILD_JOBS = {"rollup": 2, "hll": 2, "kmv": 3, "cm": 2, "hist": 2}


def test_span_that_rewrote_every_live_bucket_rebuilds_without_the_feed(
    spark, tmp_path, monkeypatch
):
    """The refresh of a span that rewrote every live source bucket
    builds no CDC feed: every kind of maintainer rebuilds at the span's
    end version in the rebuild's own few Spark jobs. Two such spans: a
    lagging one of two merges that each leave a live bucket alone, and
    an all-tombstone batch that empties the table."""
    wh = Warehouse(spark, str(tmp_path / "wh"), snapshot_retention=4)
    v0 = _merge(spark, wh, _BASE_ROWS)
    ms = [_maintainer(wh, kind, f"t_{kind}") for kind in _REBUILD_JOBS]
    for m in ms:
        m.refresh()
    spans = [
        # together: buckets 0, 1 and 3 rewritten, bucket 2 created
        [[(2, "b", 50, 1, False), (1, None, None, 1, True)],
         [(3, "d", 60, 2, False), (14, "a", 70, 2, False)]],
        [[(k, None, None, 3, True) for k in (0, 2, 3, 4, 5, 6, 7, 8, 14)]],
    ]
    for merges in spans:
        for rows in merges:
            v1 = _merge(spark, wh, rows)
            assert wh.bucket_diff("t", v1 - 1, v1).rewrote_every_live_bucket == (
                len(merges) == 1
            )
        assert wh.bucket_diff("t", v0, v1).rewrote_every_live_bucket
        with monkeypatch.context() as mp:
            mp.setattr(Warehouse, "read_changes", _poisoned)
            mp.setattr(ChangeFeed, "changes", _poisoned)
            feed = ChangeFeed(wh)
            for kind, m in zip(_REBUILD_JOBS, ms):
                n0 = _jobs_started(spark)
                assert m.refresh(feed=feed) == v1 - v0
                assert _jobs_started(spark) - n0 <= _REBUILD_JOBS[kind], kind
        for m in ms:
            assert wh.table_property(m.table, m.CURSOR_KEY) == v1
            assert _rows(wh.read(m.table)) == _rows(m._rebuild(v1)), m.table
        v0 = v1
    assert not wh.layout_meta("t")["generations"]
    assert all(wh.read(m.table).isEmpty() for m in ms)


def test_refresh_reads_the_source_at_the_cursor_version(spark, tmp_path, monkeypatch):
    """A merge that commits between the refresh's cursor read and its
    source read belongs to the next span: the first refresh's rebuild
    must not see it, or the next refresh applies it a second time."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _merge(spark, wh, _BASE_ROWS)
    m = _maintainer(wh, "rollup", "t_agg")
    real = Warehouse.table_property
    raced = []

    def racing(self, table, key, default=None):
        if table == "t_agg" and not raced:
            raced.append(True)
            # an insert into bucket 1 only: the next span takes the
            # delta path
            _merge(spark, wh, [(22, "a", 5, 1, False)])
        return real(self, table, key, default)

    monkeypatch.setattr(Warehouse, "table_property", racing)
    assert m.refresh() == 1
    monkeypatch.undo()
    assert raced
    assert m.refresh() == 1
    assert _rows(wh.read("t_agg")) == _rows(m._rebuild(wh.layout_meta("t")["generation"]))


def test_rollup_heals_a_table_written_with_a_partition_column(spark, tmp_path):
    """Rollups written by releases that used the default DAY spec carry
    ``p_date``; the next incremental refresh drops it."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge(
        _mk(spark, [(k, "ab"[k % 2], k, 0, False) for k in range(4)]),
        "t", ["k"], mode="upsert_delete", order_col="i", spec=SPEC,
    )
    m = R.RollupMaintainer(wh, "t", "t_agg", ["g"], _measures(), count_measure="n")
    m.refresh()
    wh.overwrite(wh.read("t_agg"), "t_agg")  # the old default DAY spec
    wh.set_table_property("t_agg", m.CURSOR_KEY, 0)
    assert "p_date" in wh.read("t_agg").columns
    wh.merge(
        _mk(spark, [(7, "b", 7, 1, False)]),
        "t", ["k"], mode="upsert_delete", order_col="i", spec=SPEC,
    )
    assert m.refresh() == 1
    assert wh.read("t_agg").columns == ["g", "n", "sum_v"]
    want = R.build_rollup(wh.read("t"), ["g"], _measures())
    assert _rollup_rows(wh.read("t_agg")) == _rollup_rows(want)


def _kafka_batch(spark, rows):
    return spark.createDataFrame(
        [
            (
                key.encode(),
                json.dumps(val).encode() if val is not None else None,
                "t", 0, off, None,
            )
            for key, val, off in rows
        ],
        KAFKA_SCHEMA,
    )


def test_merge_batch_shares_one_cdc_pass_and_reports_metrics(spark, tmp_path, monkeypatch):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = SinkConfig(
        topics=["t"], upsert_enabled=True, delete_enabled=True,
        errors_tolerance="none", kafka_key_field_name="kkey",
        time_partitioning_type="NONE",
    )
    schema = "struct<row: bigint, name: string>"
    rollup = R.RollupMaintainer(
        wh, "t", "t_by_name", ["name"],
        {"n": F.lit(1).cast("bigint"), "sum_row": F.col("row")},
        count_measure="n",
    )
    hll = SK.SketchMaintainer(wh, "t", "t_hll", "row", ["name"], kind="hll")
    pipe = SinkPipeline(
        warehouse=wh,
        config=cfg,
        value_parser=lambda c: F.from_json(c.cast("string"), schema),
        key_parser=lambda c: c.cast("string"),
        table_specs={"t": SPEC},
        rollup_maintainers={"t": [rollup, hll]},
    )
    pipe.merge_batch(
        _kafka_batch(spark, [
            # u7 fills bucket 0, which the second batch leaves alone: a
            # batch that rewrote every live bucket would rebuild instead
            (f"u{k}", {"row": k, "name": "ab"[k % 2]}, k) for k in range(8)
        ]),
        0, key_cols=["kkey"],
    )
    calls = []
    real = Warehouse.read_changes

    def counting(self, *args, **kwargs):
        calls.append(kwargs)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(Warehouse, "read_changes", counting)
    fed = []
    real_changes = ChangeFeed.changes

    def recording(self, *args):
        fed.append(real_changes(self, *args))
        return fed[-1]

    monkeypatch.setattr(ChangeFeed, "changes", recording)
    pipe.merge_batch(
        _kafka_batch(spark, [
            ("u1", {"row": 11, "name": "b"}, 6),   # update, same group
            ("u2", {"row": 2, "name": "c"}, 7),    # group move a -> c
            ("u3", None, 8),                       # delete
            ("u9", {"row": 9, "name": "d"}, 9),    # insert
        ]),
        1, key_cols=["kkey"],
    )
    assert len(calls) == 1
    assert calls[0] == {"from_version": 0, "to_version": 1, "images": "both"}
    # both maintainers got the one feed frame, released with the batch
    assert len(fed) == 2 and fed[0] is fed[1]
    assert fed[0].storageLevel == StorageLevel.NONE
    src = wh.read("t")
    want_roll = R.build_rollup(src, ["name"], rollup.measures)
    assert {tuple(r) for r in wh.read("t_by_name").collect()} == {
        tuple(r) for r in want_roll.select("name", "n", "sum_row").collect()
    }
    want_hll = SK.hll_build_grouped(src, "row", ["name"])
    assert {tuple(r) for r in wh.read("t_hll").collect()} == {
        tuple(r) for r in want_hll.select("name", "register", "rho").collect()
    }
    m = pipe.last_metrics
    assert m["batch_id"] == 1 and m["merge_s"] > 0
    assert set(m["refresh"]) == {"t_by_name", "t_hll"}
    for entry in m["refresh"].values():
        assert entry["source"] == "t"
        assert entry["versions"] == 1
        assert entry["seconds"] > 0
