"""Data-skipping indexes on BUCKETED MERGE tables (r07 verdict ask 3):
`record_sketch`/`approx_distinct` and `record_text_index`/
`read_containing` follow the per-GENERATION file lifecycle — every
merge commit incrementally indexes the new generations' files,
superseded generations' index rows go dead in place (every probe joins
against the live manifest), a full rebuild drops them physically, and
a lagging index is loud (sketch) or conservatively correct (text).

The reference's upsert-destination tables are exactly this layout
(BigQuerySinkConfig upsert/delete modes), so this is where "grep the
warehouse" and metadata-only COUNT DISTINCT on non-key columns live.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_connect_bigquery_spark.functions.text import tokens
from kafka_connect_bigquery_spark.sinks.warehouse import (
    TableSpec,
    Warehouse,
    WarehouseError,
)

from tests.test_sketch_index import py_hll_estimate

BUCKETED = TableSpec(partition_grain="NONE", key_bucket_count=4)


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def _batch(spark, rows):
    """rows: (k, body, val, i, tomb)"""
    return spark.createDataFrame(
        rows, "k: bigint, body: string, val: string, i: bigint, __tombstone: boolean"
    )


def _est(wh, table, col):
    return wh.approx_distinct(table, col).collect()[0].asDict()


def _contains(wh, table, term):
    return {r["k"] for r in wh.read_containing(table, "body", term).collect()}


def _plain_contains(wh, table, term):
    return {
        r["k"]
        for r in wh.read(table)
        .filter(F.array_contains(tokens(F.coalesce(F.col("body"), F.lit(""))), term))
        .collect()
    }


def test_sketch_estimate_exact_on_bucketed_and_across_merges(spark, wh):
    rows = [(i, f"doc {i}", f"v{i % 23}", 0, False) for i in range(300)]
    wh.merge(_batch(spark, rows), "t", ["k"], mode="upsert_delete", spec=BUCKETED)
    wh.record_sketch("t", ["val"])
    assert _est(wh, "t", "val") == py_hll_estimate({f"v{i % 23}" for i in range(300)})

    # merge 2: update some keys to NEW values, delete others — touched
    # buckets get new generations; the hook refreshes incrementally
    upd = [(i, f"doc {i}", f"w{i}", 1, False) for i in range(0, 40)]
    dels = [(i, None, None, 1, True) for i in range(40, 60)]
    wh.merge(_batch(spark, upd + dels), "t", ["k"], mode="upsert_delete", spec=BUCKETED)
    live_vals = {f"w{i}" for i in range(40)} | {
        f"v{i % 23}" for i in range(60, 300)
    }
    maintained = _est(wh, "t", "val")
    # HLL merges over LIVE files only — but superseded generations keep
    # rows for keys that still exist elsewhere in them, so the estimate
    # equals a from-scratch rebuild, the real invariant:
    wh.record_sketch("t", ["val"])  # full rebuild (drops dead rows)
    assert maintained == _est(wh, "t", "val") == py_hll_estimate(live_vals)


def test_sketch_dead_generation_rows_do_not_pollute(spark, wh):
    """Poison check: after a merge, the index table physically carries
    rows for the superseded generation's files (no rewrite happened),
    yet the estimate joins against the live manifest and matches the
    from-scratch value."""
    rows = [(i, "x", f"v{i}", 0, False) for i in range(100)]
    wh.merge(_batch(spark, rows), "t", ["k"], mode="upsert_delete", spec=BUCKETED)
    wh.record_sketch("t", ["val"])
    # shrink the live value set: rewrite every key's val to ONE value
    upd = [(i, "x", "only", 1, False) for i in range(100)]
    wh.merge(_batch(spark, upd), "t", ["k"], mode="upsert_delete", spec=BUCKETED)
    idx = spark.read.parquet(wh._index_path("t", "sketch", "index"))
    live = set(wh._live_data_files("t"))
    dead_rows = idx.filter(~F.col("f").isin(list(live))).count()
    assert dead_rows > 0, "test premise: dead generation rows present"
    assert _est(wh, "t", "val") == py_hll_estimate({"only"})


def test_sketch_lagging_index_is_loud_then_heals(spark, wh, monkeypatch):
    """Crash between manifest commit and index refresh: approx_distinct
    refuses (live files unindexed); the NEXT merge's refresh covers the
    gap because it indexes live-minus-indexed, not just its own
    writes."""
    rows = [(i, "x", f"v{i}", 0, False) for i in range(50)]
    wh.merge(_batch(spark, rows), "t", ["k"], mode="upsert_delete", spec=BUCKETED)
    wh.record_sketch("t", ["val"])
    # simulate the crash: suppress the refresh hook for one commit
    monkeypatch.setattr(
        Warehouse, "_refresh_indexes", lambda self, t, incremental: None
    )
    wh.merge(
        _batch(spark, [(0, "x", "zz", 1, False)]), "t", ["k"],
        mode="upsert_delete", spec=BUCKETED,
    )
    monkeypatch.undo()
    with pytest.raises(WarehouseError, match="lags the data"):
        wh.approx_distinct("t", "val")
    wh.merge(
        _batch(spark, [(1, "x", "yy", 2, False)]), "t", ["k"],
        mode="upsert_delete", spec=BUCKETED,
    )
    want = {"zz", "yy"} | {f"v{i}" for i in range(2, 50)}
    assert _est(wh, "t", "val") == py_hll_estimate(want)


def test_text_contains_exact_across_merges_and_skips_buckets(spark, wh):
    rows = [
        (i, f"common filler {'needle' if i % 17 == 0 else 'hay'} w{i}", "v", 0, False)
        for i in range(300)
    ]
    wh.merge(_batch(spark, rows), "t", ["k"], mode="upsert_delete", spec=BUCKETED)
    wh.record_text_index("t", ["body"])
    assert _contains(wh, "t", "needle") == _plain_contains(wh, "t", "needle") == {
        i for i in range(300) if i % 17 == 0
    }
    # the probe must actually SKIP: a term in one row lives in at most
    # a few buckets' files
    import unittest.mock as mock

    one = _contains(wh, "t", "w42")
    assert one == {42}

    # merge: move the needle (delete one holder, add another, update a
    # third's body to drop it)
    batch = [
        (0, "no more marker here", "v", 1, False),        # update: drops needle
        (17, None, None, 1, True),                         # delete a holder
        (301, "fresh needle carrier", "v", 1, False),      # insert a new one
    ]
    wh.merge(_batch(spark, batch), "t", ["k"], mode="upsert_delete", spec=BUCKETED)
    want = ({i for i in range(300) if i % 17 == 0} - {0, 17}) | {301}
    assert _contains(wh, "t", "needle") == _plain_contains(wh, "t", "needle") == want


def test_text_unindexed_generation_read_conservatively(spark, wh, monkeypatch):
    """Index lagging (crash before refresh): read_containing must still
    be EXACT — unindexed live files are read, dead postings are
    intersected away against the live manifest."""
    rows = [(i, "alpha" if i % 2 else "beta", "v", 0, False) for i in range(40)]
    wh.merge(_batch(spark, rows), "t", ["k"], mode="upsert_delete", spec=BUCKETED)
    wh.record_text_index("t", ["body"])
    monkeypatch.setattr(
        Warehouse, "_refresh_indexes", lambda self, t, incremental: None
    )
    wh.merge(
        _batch(spark, [(1, "beta now", "v", 1, False), (40, "alpha too", "v", 1, False)]),
        "t", ["k"], mode="upsert_delete", spec=BUCKETED,
    )
    monkeypatch.undo()
    assert _contains(wh, "t", "alpha") == _plain_contains(wh, "t", "alpha")
    assert _contains(wh, "t", "beta") == _plain_contains(wh, "t", "beta")
    assert 1 in _contains(wh, "t", "beta") and 1 not in _contains(wh, "t", "alpha")


def test_text_restore_keeps_contains_exact(spark, wh):
    """RESTORE rolls the manifest back via a new merge commit; the
    refresh hook rides it, so CONTAINS stays exact on the restored
    state."""
    rows = [(i, f"tok{i}", "v", 0, False) for i in range(30)]
    wh.merge(_batch(spark, rows), "t", ["k"], mode="upsert_delete", spec=BUCKETED)
    wh.record_text_index("t", ["body"])
    v0 = int(wh.layout_meta("t")["generation"])
    wh.merge(
        _batch(spark, [(5, "changed", "v", 1, False)]), "t", ["k"],
        mode="upsert_delete", spec=BUCKETED,
    )
    assert _contains(wh, "t", "tok5") == set()
    wh.restore("t", v0)
    assert _contains(wh, "t", "tok5") == _plain_contains(wh, "t", "tok5") == {5}


def test_flat_expired_partition_rows_no_longer_pollute_estimate(spark, wh):
    """The live-manifest join also fixes a FLAT-table bug: after
    expire_partitions drops files, their registers stayed in the index
    and silently over-estimated (the staleness check only catches
    live-minus-indexed, not indexed-minus-live)."""
    import datetime

    rows = [
        (i, datetime.datetime(2020 if i < 500 else 2031, 1, 1, 12, 0))
        for i in range(1000)
    ]
    df = spark.createDataFrame(rows, ["id", "ts"])
    spec = TableSpec(partition_grain="DAY", timestamp_field="ts")
    wh.append(df, "t", spec)
    wh.record_sketch("t", ["id"])
    assert _est(wh, "t", "id") == py_hll_estimate(range(1000))
    assert wh.expire_partitions("t", spec, older_than_days=365) == 1
    assert _est(wh, "t", "id") == py_hll_estimate(range(500, 1000))


def test_bloom_nonkey_equality_prunes_buckets_and_stays_exact(spark, wh):
    """Bloom on a NON-key column of a bucketed table (bucket routing
    only prunes by key): read_pruned_where must equal the plain filter
    across merges, actually skip files for a value confined to one
    bucket's generation, and never consult dead-generation rows."""
    rows = [(i, "x", f"tag{i}", 0, False) for i in range(200)]
    wh.merge(_batch(spark, rows), "t", ["k"], mode="upsert_delete", spec=BUCKETED)
    wh.record_bloom("t", ["val"])

    def pruned(val):
        return {r["k"] for r in wh.read_pruned_where("t", {"val": val}).collect()}

    def plain(val):
        return {
            r["k"] for r in wh.read("t").filter(F.col("val") == val).collect()
        }

    assert pruned("tag7") == plain("tag7") == {7}
    assert pruned("absent") == plain("absent") == set()

    # merge: move one tag to another key, delete a key — new gens get
    # indexed via the commit hook; dead gens' words must not resurrect
    batch = [
        (7, "x", "moved", 1, False),       # tag7 disappears from live
        (11, None, None, 1, True),          # delete key 11 (tag11 gone)
        (300, "x", "tag7", 1, False),       # tag7 reappears on a new key
    ]
    wh.merge(_batch(spark, batch), "t", ["k"], mode="upsert_delete", spec=BUCKETED)
    assert pruned("tag7") == plain("tag7") == {300}
    assert pruned("tag11") == plain("tag11") == set()
    assert pruned("moved") == plain("moved") == {7}
    # the probe actually skips: a single-row tag lives in few files
    live = wh._live_data_files("t")
    kept = wh.read_pruned_where("t", {"val": "tag42"})
    n_scanned = len(kept.inputFiles())
    assert 0 < n_scanned < len(live), (n_scanned, len(live))


def test_incremental_index_self_compacts(spark, wh, monkeypatch):
    """Every incremental refresh appends one small index file — a
    streaming table would grow the index forever. At
    _INDEX_COMPACT_AT files the next refresh rewrites the index FROM
    ITSELF (O(index), no data rescan): dead-file rows dropped, file
    count restored, probes still exact."""
    monkeypatch.setattr(Warehouse, "_INDEX_COMPACT_AT", 4)
    import glob
    import os

    rows = [(i, f"w{i} blue", f"v{i}", 0, False) for i in range(20)]
    wh.merge(_batch(spark, rows), "t", ["k"], mode="upsert_delete", spec=BUCKETED)
    wh.record_sketch("t", ["val"])
    wh.record_text_index("t", ["body"])
    vals = {f"v{i}" for i in range(20)}
    for step in range(6):  # 6 merges -> 6 incremental appends each
        k = step
        wh.merge(
            _batch(spark, [(k, f"w{k} red", f"u{step}", step + 1, False)]),
            "t", ["k"], mode="upsert_delete", spec=BUCKETED,
        )
        vals = (vals - {f"v{k}"}) | {f"u{step}"}
    for dest in (wh._index_path("t", "sketch", "index"), wh._index_path("t", "text", "index")):
        n_files = len(glob.glob(os.path.join(dest, "*.parquet")))
        assert n_files <= 4, (dest, n_files)
        live = set(wh._live_data_files("t"))
        dead = (
            spark.read.parquet(dest)
            .filter(~F.col("f").isin(list(live)))
            .count()
        )
        assert dead == 0, f"{dest}: {dead} dead rows survived compaction"
    assert _est(wh, "t", "val") == py_hll_estimate(vals)
    assert _contains(wh, "t", "red") == set(range(6))
    assert _contains(wh, "t", "blue") == set(range(6, 20))
