"""Key-hash-bucketed MERGE: result-identical to the full-table merge,
but only buckets whose keys appear in the batch are read or rewritten
(SURVEY §7 hard part (d) — bounded per-merge work at 100 TB)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_connect_bigquery_spark.sinks.warehouse import (
    TableSpec,
    Warehouse,
    WarehouseError,
)

N_BUCKETS = 8
SPEC = TableSpec(partition_grain="NONE", key_bucket_count=N_BUCKETS)


def _mk(spark, rows):
    return spark.createDataFrame(rows, ["k", "v", "i", "__tombstone"])


def _state(wh, table):
    return {
        (r["k"], r["v"])
        for r in wh.read_bucketed(table).select("k", "v").collect()
    }


def _bucket_gens(wh, table):
    """bucket -> live generation from the manifest (the unit of
    rewrite: a merge bumps the generation of exactly the touched
    buckets)."""
    return dict(wh.layout_meta(table).get("generations") or {})


def test_bucketed_upsert_result_and_pruning(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = _mk(spark, [(k, f"v{k}", k, False) for k in range(50)])
    wh.merge(base, "t", ["k"], mode="upsert", spec=SPEC)
    assert _state(wh, "t") == {(k, f"v{k}") for k in range(50)}
    before = _bucket_gens(wh, "t")
    assert len(before) > 1  # data actually spread over buckets

    # batch touches two keys -> at most two buckets
    batch = _mk(spark, [(7, "updated", 100, False), (999, "new", 101, False)])
    wh.merge(batch, "t", ["k"], mode="upsert", spec=SPEC)
    expect = {(k, f"v{k}") for k in range(50) if k != 7} | {(7, "updated"), (999, "new")}
    assert _state(wh, "t") == expect

    after = _bucket_gens(wh, "t")
    touched_buckets = {
        str(r["b"])
        for r in batch.select(
            F.pmod(F.hash("k"), F.lit(N_BUCKETS)).alias("b")
        ).collect()
    }
    untouched = set(before) - touched_buckets
    assert untouched, "test needs untouched buckets"
    for name in untouched:
        assert after[name] == before[name], f"bucket {name} was rewritten needlessly"
    for name in touched_buckets:
        assert after[name] != before.get(name), f"bucket {name} should have been rewritten"


def test_bucketed_upsert_delete(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge(
        _mk(spark, [(1, "a", 0, False), (2, "b", 1, False), (3, "c", 2, False)]),
        "t",
        ["k"],
        mode="upsert_delete",
        spec=SPEC,
    )
    batch = _mk(spark, [(2, None, 10, True), (3, "c2", 11, False), (4, "d", 12, False)])
    wh.merge(batch, "t", ["k"], mode="upsert_delete", spec=SPEC)
    assert _state(wh, "t") == {(1, "a"), (3, "c2"), (4, "d")}


def test_compact_reduces_files_preserves_data(spark, tmp_path):
    import glob

    wh = Warehouse(spark, str(tmp_path / "wh"))
    plain = TableSpec(partition_grain="NONE")
    # simulate many micro-batch appends -> many small files
    for i in range(6):
        df = spark.createDataFrame([(i * 10 + j, f"v{i}") for j in range(5)], ["k", "v"])
        wh.append(df, "t", plain)
    before = set(
        (r["k"], r["v"]) for r in wh.read("t").collect()
    )
    # LIVE files only: compaction parks the replaced era's files under
    # _retained/ for time travel, so a raw recursive glob would count
    # both eras
    files_before = len(wh._data_files(wh.path("t")))
    assert files_before >= 6
    compacted = wh.compact("t", plain, target_file_rows=1_000_000)
    assert compacted == files_before
    files_after = len(wh._data_files(wh.path("t")))
    assert files_after < files_before
    assert set((r["k"], r["v"]) for r in wh.read("t").collect()) == before
    # the old era is retained (time travel), invisible to live reads
    assert len(wh.retained_layers("t")) == 1
    # idempotent-ish: second call skips (already compact)
    assert wh.compact("t", plain, target_file_rows=1_000_000, min_files=2) in (0, files_after)


def test_compact_preserves_bucket_layout(spark, tmp_path):
    import glob, os as _os

    wh = Warehouse(spark, str(tmp_path / "wh"))
    for batch in range(3):
        b = _mk(spark, [(k, f"v{k}_{batch}", batch * 100 + k, False) for k in range(20)])
        wh.merge(b, "t", ["k"], mode="upsert", spec=SPEC)
    before = _state(wh, "t")
    wh.compact("t", TableSpec(partition_grain="NONE"), target_file_rows=1_000_000)
    assert _state(wh, "t") == before
    # the bucketed layout survives compaction (merge pruning still works)
    assert _bucket_gens(wh, "t")
    assert "_buckets" in _os.listdir(wh.path("t"))
    wh.merge(_mk(spark, [(1, "post", 999, False)]), "t", ["k"], mode="upsert", spec=SPEC)
    assert (1, "post") in _state(wh, "t")


def test_compact_skips_a_bucketed_table_that_is_already_compact(spark, tmp_path):
    """Every merge writes one file per bucket, so the live table is
    already compact: superseded generations that retained snapshots
    keep on disk neither trigger a rewrite nor count as files."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for batch in range(3):
        b = _mk(spark, [(k, f"v{k}_{batch}", batch * 100 + k, False) for k in range(20)])
        wh.merge(b, "t", ["k"], mode="upsert", spec=SPEC)
    gen = wh.layout_meta("t")["generation"]
    plain = TableSpec(partition_grain="NONE")
    assert [wh.compact("t", plain) for _ in range(3)] == [0, 0, 0]
    assert wh.layout_meta("t")["generation"] == gen
    # min_files=1 still rewrites, and counts only the live files
    live = len(_bucket_gens(wh, "t"))
    assert wh.compact("t", plain, min_files=1) == live
    assert wh.layout_meta("t")["generation"] == gen + 1


def test_bucketed_matches_unbucketed(spark, tmp_path):
    """Same batches through bucketed and plain layouts give identical
    final states."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    plain_spec = TableSpec(partition_grain="NONE")
    b1 = _mk(spark, [(k, f"v{k}", k, False) for k in range(20)])
    b2 = _mk(
        spark,
        [(5, "x", 100, False), (6, None, 101, True), (25, "y", 102, False)],
    )
    for table, spec in (("plain", plain_spec), ("bucketed", SPEC)):
        wh.merge(b1, table, ["k"], mode="upsert_delete", spec=spec)
        wh.merge(b2, table, ["k"], mode="upsert_delete", spec=spec)
    plain = {
        (r["k"], r["v"]) for r in wh.read("plain").select("k", "v").collect()
    }
    assert plain == _state(wh, "bucketed")


def test_merge_auto_cutover_to_bucketed(spark, tmp_path):
    """A table that grows past bucket_threshold_bytes is migrated into
    the bucketed layout on the next merge, without an explicit
    key_bucket_count — the scale path is the default, not an opt-in."""
    wh = Warehouse(
        spark, str(tmp_path / "wh"), bucket_threshold_bytes=1, target_bucket_bytes=1 << 30
    )
    plain = TableSpec(partition_grain="NONE")
    wh.merge(_mk(spark, [(k, f"v{k}", k, False) for k in range(30)]), "t", ["k"],
             mode="upsert", spec=plain)
    # second merge: size (> 1 byte) triggers migration + bucketed path
    wh.merge(_mk(spark, [(5, "new", 100, False)]), "t", ["k"], mode="upsert", spec=plain)
    assert _bucket_gens(wh, "t")
    # migration GC'd the pre-migration flat files (post-commit)
    assert not any(n.startswith("part-") for n in os.listdir(wh.path("t")))
    n = wh.layout_meta("t").get("key_bucket_count")
    assert n and n >= 16
    got = {(r["k"], r["v"]) for r in wh.read_bucketed("t").select("k", "v").collect()}
    assert got == {(k, f"v{k}") for k in range(30) if k != 5} | {(5, "new")}
    # third merge keeps using the persisted bucket count (stable layout)
    wh.merge(_mk(spark, [(6, "x", 200, False)]), "t", ["k"], mode="upsert", spec=plain)
    assert wh.layout_meta("t").get("key_bucket_count") == n
    assert (6, "x") in {
        (r["k"], r["v"]) for r in wh.read_bucketed("t").select("k", "v").collect()
    }


def test_layout_meta_survives_compact(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for batch in range(3):
        b = _mk(spark, [(k, f"v{k}_{batch}", batch * 100 + k, False) for k in range(20)])
        wh.merge(b, "t", ["k"], mode="upsert", spec=SPEC)
    assert wh.layout_meta("t").get("key_bucket_count") == N_BUCKETS
    wh.compact("t", TableSpec(partition_grain="NONE"), target_file_rows=1_000_000)
    assert wh.layout_meta("t").get("key_bucket_count") == N_BUCKETS


def test_first_batch_delete_only_pre_tombstone_drop(spark, tmp_path):
    """First batch against a not-yet-created table in delete_only mode
    must drop rows preceding their key's latest tombstone
    (MergeQueries.java:382-396) — both plain and bucketed layouts."""
    rows = [
        (1, "early", 0, False),   # precedes k=1 tombstone -> dropped
        (1, None, 1, True),       # tombstone itself -> never lands
        (1, "late", 2, False),    # at/after tombstone -> kept
        (2, "solo", 3, False),    # untombstoned key -> kept
    ]
    for table, spec in (("plain", TableSpec(partition_grain="NONE")), ("bkt", SPEC)):
        wh = Warehouse(spark, str(tmp_path / table))
        wh.merge(_mk(spark, rows), table, ["k"], mode="delete_only", spec=spec)
        read = wh.read_bucketed(table) if spec.key_bucket_count else wh.read(table)
        got = {(r["k"], r["v"]) for r in read.select("k", "v").collect()}
        assert got == {(1, "late"), (2, "solo")}, table


# ---------------------------------------------------------------------------
# crash safety: the manifest is the commit point
# ---------------------------------------------------------------------------


def test_crash_mid_commit_keeps_old_generation_readable(spark, tmp_path, monkeypatch):
    """Kill the commit after the first bucket-generation rename: the
    manifest still references only old, complete generations, so reads
    see exactly the pre-merge state (no torn mix of old and new
    buckets). Retrying the merge then converges."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = _mk(spark, [(k, f"v{k}", k, False) for k in range(40)])
    wh.merge(base, "t", ["k"], mode="upsert", spec=SPEC)
    state0 = _state(wh, "t")
    gens0 = _bucket_gens(wh, "t")

    # batch spans several buckets so the commit has >1 rename to die in
    batch = _mk(spark, [(k, "updated", 100 + k, False) for k in range(10)])
    n_touched = batch.select(
        F.pmod(F.hash("k"), F.lit(N_BUCKETS)).alias("b")
    ).distinct().count()
    assert n_touched > 1

    orig = Warehouse._move_dir
    calls = {"n": 0}

    def dying(self, src, dst):
        if calls["n"] >= 1:
            raise RuntimeError("simulated crash mid-commit")
        calls["n"] += 1
        orig(self, src, dst)

    monkeypatch.setattr(Warehouse, "_move_dir", dying)
    with pytest.raises(RuntimeError, match="simulated crash"):
        wh.merge(batch, "t", ["k"], mode="upsert", spec=SPEC)

    # old generation set fully intact — not one new row, not one lost row
    assert _state(wh, "t") == state0
    assert _bucket_gens(wh, "t") == gens0

    # recovery: re-running the merge sweeps the orphaned generation dir
    # and commits normally
    monkeypatch.setattr(Warehouse, "_move_dir", orig)
    wh.merge(batch, "t", ["k"], mode="upsert", spec=SPEC)
    expect = {(k, "updated") for k in range(10)} | {
        (k, f"v{k}") for k in range(10, 40)
    }
    assert _state(wh, "t") == expect


def test_crash_before_any_rename_is_a_noop(spark, tmp_path, monkeypatch):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge(_mk(spark, [(k, f"v{k}", k, False) for k in range(20)]), "t", ["k"],
             mode="upsert", spec=SPEC)
    state0 = _state(wh, "t")

    def dying(self, src, dst):
        raise RuntimeError("simulated crash before staging")

    monkeypatch.setattr(Warehouse, "_move_dir", dying)
    with pytest.raises(RuntimeError):
        wh.merge(_mk(spark, [(3, "x", 99, False)]), "t", ["k"], mode="upsert", spec=SPEC)
    assert _state(wh, "t") == state0


def test_stale_generations_invisible_and_swept(spark, tmp_path):
    """Superseded generation dirs are GC'd by the commit; even if GC
    died, reads resolve the manifest and never see them.
    (retention=1: no snapshot history, the pre-time-travel contract)"""
    wh = Warehouse(spark, str(tmp_path / "wh"), snapshot_retention=1)
    wh.merge(_mk(spark, [(k, f"v{k}", k, False) for k in range(20)]), "t", ["k"],
             mode="upsert", spec=SPEC)
    wh.merge(_mk(spark, [(1, "b2", 50, False)]), "t", ["k"], mode="upsert", spec=SPEC)
    wh.merge(_mk(spark, [(1, "b3", 60, False)]), "t", ["k"], mode="upsert", spec=SPEC)
    # exactly one gen dir per live bucket on disk
    broot = os.path.join(wh.path("t"), "_buckets")
    gens = _bucket_gens(wh, "t")
    for b in os.listdir(broot):
        on_disk = os.listdir(os.path.join(broot, b))
        assert on_disk == [f"gen={gens[b]}"]
    assert (1, "b3") in _state(wh, "t")


def test_time_travel_reads_prior_snapshot(spark, tmp_path):
    """Each bucketed commit publishes an immutable snapshot manifest;
    read(version=) reproduces the exact pre-merge state within the
    retention window — the corpus-pinning primitive for training runs."""
    wh = Warehouse(spark, str(tmp_path / "wh"), snapshot_retention=3)
    wh.merge(_mk(spark, [(k, f"v{k}", k, False) for k in range(10)]), "t", ["k"],
             mode="upsert", spec=SPEC)
    wh.merge(_mk(spark, [(3, "updated", 50, False)]), "t", ["k"],
             mode="upsert", spec=SPEC)
    tomb = spark.createDataFrame(
        [(5, None, 60, True)],
        "k: bigint, v: string, i: bigint, __tombstone: boolean",
    )
    wh.merge(tomb, "t", ["k"], mode="upsert_delete", spec=SPEC)

    versions = wh.snapshots("t")
    assert versions == [0, 1, 2]
    v0 = {(r["k"], r["v"]) for r in wh.read("t", version=0).select("k", "v").collect()}
    assert v0 == {(k, f"v{k}") for k in range(10)}
    v1 = {(r["k"], r["v"]) for r in wh.read("t", version=1).select("k", "v").collect()}
    assert (3, "updated") in v1 and (5, "v5") in v1
    v2 = {(r["k"], r["v"]) for r in wh.read("t", version=2).select("k", "v").collect()}
    assert (5, "v5") not in v2 and len(v2) == 9
    # current read == latest snapshot
    assert v2 == _state(wh, "t")


def test_snapshot_retention_prunes_and_errors_cleanly(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"), snapshot_retention=2)
    for i in range(4):
        wh.merge(_mk(spark, [(1, f"b{i}", 10 + i, False)]), "t", ["k"],
                 mode="upsert", spec=SPEC)
    assert wh.snapshots("t") == [2, 3]
    with pytest.raises(Exception, match="not readable"):
        wh.read("t", version=0)
    # retained snapshot still resolves to complete data
    assert {(r["k"], r["v"]) for r in wh.read("t", version=2).collect()} == {(1, "b2")}
    # explicit vacuum to 1 drops the older retained snapshot + its dirs
    wh.vacuum_snapshots("t", keep_last=1)
    assert wh.snapshots("t") == [3]
    broot = os.path.join(wh.path("t"), "_buckets")
    gens = _bucket_gens(wh, "t")
    for b in os.listdir(broot):
        assert os.listdir(os.path.join(broot, b)) == [f"gen={gens[b]}"]


def test_read_changes_between_snapshots(spark, tmp_path):
    """CDC between snapshots: insert/update/delete classified per key,
    reading only buckets whose generation moved."""
    wh = Warehouse(spark, str(tmp_path / "wh"), snapshot_retention=4)
    wh.merge(_mk(spark, [(k, f"v{k}", k, False) for k in range(10)]), "t", ["k"],
             mode="upsert", spec=SPEC)
    batch = spark.createDataFrame(
        [(3, "updated", 50, False), (99, "new", 51, False), (5, None, 52, True)],
        "k: bigint, v: string, i: bigint, __tombstone: boolean",
    )
    wh.merge(batch, "t", ["k"], mode="upsert_delete", spec=SPEC)

    ch = {
        (r["_change_type"], r["k"]): r["v"]
        for r in wh.read_changes("t", from_version=0).collect()
    }
    assert ch == {
        ("update", 3): "updated",
        ("insert", 99): "new",
        ("delete", 5): "v5",
    }
    # identical versions -> no changes
    assert wh.read_changes("t", from_version=1, to_version=1).count() == 0
    # output schema: change column + full row image
    cols = wh.read_changes("t", from_version=0).columns
    assert cols[0] == "_change_type" and "k" in cols and "v" in cols


def test_concurrent_commit_detected(spark, tmp_path, monkeypatch):
    """A writer whose base generation was superseded between *reading
    its destination buckets* and committing must fail loudly instead of
    silently dropping the other writer's update — the lost-update race
    the optimistic-concurrency check exists for. Writer B lands a full,
    real merge (separate Warehouse instance) inside A's read→commit
    window; A must abort, and B's committed data must survive A's abort
    untouched (collision-free generation dirs)."""
    from kafka_connect_bigquery_spark.sinks import warehouse as whmod

    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    wh.merge(_mk(spark, [(k, f"v{k}", k, False) for k in range(10)]), "t", ["k"],
             mode="upsert", spec=SPEC)

    orig = Warehouse._commit_bucket_generations
    state = {"interleaved": False}

    def interleaving(self, table, tmp, buckets, **kw):
        if not state["interleaved"]:
            state["interleaved"] = True
            # writer B: a complete merge by an independent Warehouse,
            # landing after A read its buckets but before A commits
            wh_b = Warehouse(spark, root)
            wh_b.merge(_mk(spark, [(2, "from_b", 55, False)]), "t", ["k"],
                       mode="upsert", spec=SPEC)
        return orig(self, table, tmp, buckets, **kw)

    monkeypatch.setattr(Warehouse, "_commit_bucket_generations", interleaving)
    with pytest.raises(whmod.WarehouseError, match="concurrent MERGE commit"):
        wh.merge(_mk(spark, [(1, "from_a", 50, False)]), "t", ["k"],
                 mode="upsert", spec=SPEC)
    monkeypatch.setattr(Warehouse, "_commit_bucket_generations", orig)
    # B's commit survived A's abort; A's update did not land
    got = _state(wh, "t")
    assert (2, "from_b") in got and (1, "v1") in got and len(got) == 10
    # and a retried merge by A (fresh base) succeeds without losing B's row
    wh.merge(_mk(spark, [(1, "from_a", 60, False)]), "t", ["k"],
             mode="upsert", spec=SPEC)
    got = _state(wh, "t")
    assert (1, "from_a") in got and (2, "from_b") in got


def test_two_session_writer_race_no_lost_update(spark, tmp_path):
    """Two independent Spark sessions race real MERGEs on the same
    bucketed table from two threads (the scenario the optimistic
    concurrency + commit lock exist for — the reference leans on
    BigQuery serializing MERGEs server-side, MergeQueries.java:137).
    Invariants: every writer's update lands (with bounded retries on
    the loudly-detected conflict), generations serialize (one manifest
    generation bump per successful commit), and no other row is lost
    or duplicated."""
    import threading

    from kafka_connect_bigquery_spark.sinks.warehouse import WarehouseError

    root = str(tmp_path / "wh")
    wh0 = Warehouse(spark, root, snapshot_retention=1)
    wh0.merge(_mk(spark, [(k, f"v{k}", k, False) for k in range(20)]), "t", ["k"],
              mode="upsert", spec=SPEC)

    n_writers, n_batches = 2, 3
    errors: list[Exception] = []
    commits = [0] * n_writers
    barrier = threading.Barrier(n_writers)

    def writer(widx: int) -> None:
        try:
            sess = spark.newSession()
            whw = Warehouse(sess, root, snapshot_retention=1)
            for b in range(n_batches):
                key = (widx + 1) * 1000 + b  # distinct, disjoint from base keys
                batch = sess.createDataFrame(
                    [(key, f"w{widx}b{b}", 1000 + b, False)],
                    "k: bigint, v: string, i: bigint, __tombstone: boolean",
                )
                barrier.wait(timeout=60)
                for _ in range(10):  # retry loop on detected conflicts
                    try:
                        whw.merge(batch, "t", ["k"], mode="upsert", spec=SPEC)
                        commits[widx] += 1
                        break
                    except WarehouseError as e:
                        if "concurrent MERGE commit" not in str(e):
                            raise
                else:
                    raise AssertionError(f"writer {widx} starved")
        except Exception as e:  # surfaced in the main thread
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors

    got = _state(wh0, "t")
    for w in range(n_writers):
        for b in range(n_batches):
            assert ((w + 1) * 1000 + b, f"w{w}b{b}") in got, f"lost update w{w}b{b}"
    assert {(k, f"v{k}") for k in range(20)} <= got
    assert len(got) == 20 + n_writers * n_batches
    # generations serialized: initial commit is gen 0, each successful
    # commit bumps by exactly one
    assert wh0.layout_meta("t")["generation"] == sum(commits)
    # exactly one gen dir per live bucket remains (losers never clobbered
    # winners; GC swept aborted writers' orphan dirs)
    broot = os.path.join(wh0.path("t"), "_buckets")
    gens = _bucket_gens(wh0, "t")
    for b in os.listdir(broot):
        assert os.listdir(os.path.join(broot, b)) == [f"gen={gens[b]}"]


def test_two_process_writer_race_loses_nothing(spark, tmp_path):
    """The same race as above but across two REAL processes — separate
    JVMs, separate Python interpreters, nothing shared but the
    filesystem (the deployment shape two independent ingest jobs have).
    Barrier files force the deterministic interleaving: A stages its
    merge from gen G and holds its commit until B publishes G+1. A's
    commit MUST abort loudly (stale base generation), A's retry must
    converge, and no writer's rows may be lost or clobbered."""
    import subprocess
    import sys as _sys

    root = str(tmp_path / "wh")
    sync = str(tmp_path / "sync")
    os.makedirs(sync)
    # retention=1 everywhere so the last commit's GC sweeps superseded
    # generations — the per-bucket single-dir assertion below needs no
    # time-travel snapshots pinning old gens
    wh0 = Warehouse(spark, root, snapshot_retention=1)
    wh0.merge(_mk(spark, [(k, "base", k, False) for k in range(20)]), "t", ["k"],
              mode="upsert", spec=TableSpec(partition_grain="NONE", key_bucket_count=4))

    script = os.path.join(os.path.dirname(__file__), "race_writer_proc.py")
    procs = {
        role: subprocess.Popen(
            [_sys.executable, script, root, role, sync],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        )
        for role in ("A", "B")
    }
    outs = {r: p.communicate(timeout=420) for r, p in procs.items()}
    for role, p in procs.items():
        assert p.returncode == 0, (role, outs[role][1].decode()[-2000:])

    # the conflict really fired and was retried, not silently passed
    assert os.path.exists(os.path.join(sync, "a_conflict"))
    assert not os.path.exists(os.path.join(sync, "a_no_conflict"))
    assert os.path.exists(os.path.join(sync, "a_done"))

    got = _state(wh0, "t")
    assert got == {(k, "A") for k in range(10)} | {(k, "B") for k in range(10, 20)}
    # three serialized commits: base=0, B=1, A's retry=2
    assert wh0.layout_meta("t")["generation"] == 2
    # exactly one live gen dir per bucket — the aborted stale commit
    # never published and its staging was swept
    broot = os.path.join(wh0.path("t"), "_buckets")
    gens = _bucket_gens(wh0, "t")
    for b in os.listdir(broot):
        assert os.listdir(os.path.join(broot, b)) == [f"gen={gens[b]}"]
    assert not [d for d in os.listdir(wh0.path("t")) if d.startswith(".tmp_")]


def test_all_tombstone_first_batch_leaves_live_empty_table(spark, tmp_path):
    """Fuzz-found (tests/test_warehouse_stateful.py): a FIRST batch
    consisting solely of tombstones must create a live, readable-as-
    empty table (schema persisted in the manifest — no data files
    exist), and the NEXT merge must take the normal path, not the
    create path (which would abort on the concurrency check)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge(_mk(spark, [(0, "x", 0, True)]), "t", ["k"],
             mode="upsert_delete", spec=SPEC)
    assert wh.exists("t")
    empty = wh.read_bucketed("t")
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "v"}
    assert wh.layout_meta("t")["generation"] == 0
    # the table is fully usable afterwards
    wh.merge(_mk(spark, [(0, "back", 1, False)]), "t", ["k"],
             mode="upsert_delete", spec=SPEC)
    assert _state(wh, "t") == {(0, "back")}
    assert wh.layout_meta("t")["generation"] == 1
    # and an emptied-at-head CDC span still shapes correctly
    ch = wh.read_changes("t", from_version=0, images="both")
    assert {(r["_change_type"], r["k"]) for r in ch.collect()} == {("insert", 0)}


def test_emptied_evolved_table_keeps_schema_on_refill(spark, tmp_path):
    """Fuzz-found: table created by an all-tombstone batch CARRYING an
    evolved column, then refilled by a batch WITHOUT it — the evolved
    column must survive (manifest schema), refill rows carrying NULL,
    exactly like merging into a non-empty evolved table."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    first = spark.createDataFrame(
        [(0, "x", 7, 0, True)],
        "k: bigint, v: string, w: bigint, i: bigint, __tombstone: boolean",
    )
    wh.merge(first, "t", ["k"], mode="upsert_delete", order_col="i", spec=SPEC)
    assert set(wh.read_bucketed("t").columns) == {"k", "v", "w"}
    refill = _mk(spark, [(1, "back", 1, False)])
    wh.merge(refill, "t", ["k"], mode="upsert_delete", order_col="i", spec=SPEC)
    rows = wh.read_bucketed("t").collect()
    assert {(r["k"], r["v"], r["w"]) for r in rows} == {(1, "back", None)}


def test_describe_detail(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge(_mk(spark, [(k, f"v{k}", k, False) for k in range(10)]), "t", ["k"],
             mode="upsert", spec=SPEC)
    d = wh.describe_detail("t")
    assert d["layout"] == "bucketed" and d["generation"] == 0
    assert d["key_cols"] == ["k"] and d["key_bucket_count"] == N_BUCKETS
    assert 0 < d["live_buckets"] <= N_BUCKETS
    assert d["num_files"] > 0 and d["size_bytes"] > 0
    assert d["snapshots"] == [0]
    wh.append(spark.createDataFrame([(1, "x")], "a: bigint, b: string"), "flat")
    assert wh.describe_detail("flat")["layout"] == "flat"
    with pytest.raises(Exception, match="no such table"):
        wh.describe_detail("missing")


def test_vacuum_sweeps_orphans_respects_grace_and_retention(spark, tmp_path):
    """vacuum(): removes crashed-commit orphan generation dirs and aged
    staging dirs, prunes snapshots to the requested retention, and never
    touches live data or a fresh (possibly in-flight) staging dir."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge(_mk(spark, [(k, f"v{k}", k, False) for k in range(20)]), "t", ["k"],
             mode="upsert", spec=SPEC)
    wh.merge(_mk(spark, [(1, "u1", 100, False)]), "t", ["k"], mode="upsert", spec=SPEC)
    state0 = _state(wh, "t")
    assert wh.snapshots("t") == [0, 1]

    # orphan of a commit that crashed after staging its rename
    broot = os.path.join(wh.path("t"), "_buckets")
    some_bucket = os.listdir(broot)[0]
    orphan = os.path.join(broot, some_bucket, "gen=99-deadbeef")
    os.makedirs(orphan)
    # abandoned staging (old) vs in-flight staging (fresh)
    old_tmp = os.path.join(wh.root, ".tmp_t_deadbeef")
    new_tmp = os.path.join(wh.root, ".tmp_t_inflight")
    os.makedirs(old_tmp)
    os.makedirs(new_tmp)
    os.utime(old_tmp, (0, 0))

    removed = wh.vacuum("t", keep_snapshots=1)
    # orphan gen + old staging + pruned snapshot v0 + the superseded
    # generation dir that only v0's manifest was keeping alive
    assert removed == 4
    assert not os.path.exists(orphan)
    assert not os.path.exists(old_tmp)
    assert os.path.exists(new_tmp)  # grace protected it
    assert wh.snapshots("t") == [1]
    assert _state(wh, "t") == state0
    with pytest.raises(Exception, match="not readable"):
        wh.read("t", version=0)


def test_compact_aborts_on_concurrent_merge_then_retries(spark, tmp_path):
    """Compaction races a MERGE: compact stages from generation G, a
    merge publishes G+1 before compact's commit — compact must abort
    loudly (its output would resurrect the pre-merge rows), and a retry
    against the new state must succeed."""
    import threading

    from kafka_connect_bigquery_spark.sinks.warehouse import WarehouseError

    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    wh.merge(_mk(spark, [(k, f"v{k}", k, False) for k in range(40)]), "t", ["k"],
             mode="upsert", spec=SPEC)

    staged, merged = threading.Event(), threading.Event()
    outcome: list = []

    class HoldingWarehouse(Warehouse):
        def _commit_bucket_generations(self, *a, **kw):
            staged.set()
            assert merged.wait(timeout=120)
            return super()._commit_bucket_generations(*a, **kw)

    def compacting():
        whc = HoldingWarehouse(spark.newSession(), root)
        try:
            whc.compact("t", SPEC, target_file_rows=5, min_files=1)
            outcome.append("committed")
        except WarehouseError as e:
            outcome.append(str(e))

    th = threading.Thread(target=compacting)
    th.start()
    assert staged.wait(timeout=120)
    wh.merge(_mk(spark, [(1, "updated", 100, False)]), "t", ["k"],
             mode="upsert", spec=SPEC)
    merged.set()
    th.join(timeout=300)
    assert outcome and "concurrent MERGE commit" in outcome[0], outcome

    # the merge's update survived (compact's stale output never landed)
    assert (1, "updated") in _state(wh, "t")
    assert wh.layout_meta("t")["generation"] == 1
    # retry compacts the post-merge state and preserves it exactly
    before = _state(wh, "t")
    assert wh.compact("t", SPEC, target_file_rows=5, min_files=1) > 0
    assert _state(wh, "t") == before
    assert wh.layout_meta("t")["generation"] == 2


def _evolved_batch(spark):
    return spark.createDataFrame(
        [(1, "x", "extra", 99, False)],
        "k: bigint, v: string, new_col: string, i: bigint, __tombstone: boolean",
    )


def test_merge_evolves_schema_bucketed(spark, tmp_path):
    """A batch carrying a new column evolves the table on the bucketed
    path (AdaptiveBigQueryWriter parity): touched buckets persist the
    column, untouched buckets surface NULLs via schema-merged reads."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge(_mk(spark, [(k, f"v{k}", k, False) for k in range(10)]), "t", ["k"],
             mode="upsert", spec=SPEC)
    wh.merge(_evolved_batch(spark), "t", ["k"], mode="upsert", spec=SPEC)
    out = {r["k"]: r for r in wh.read_bucketed("t").collect()}
    assert "new_col" in wh.read_bucketed("t").columns
    assert out[1]["v"] == "x" and out[1]["new_col"] == "extra"
    assert out[2]["new_col"] is None  # untouched bucket -> NULL fill
    assert len(out) == 10
    # CDC across the evolution boundary classifies the update correctly
    ch = {(r["_change_type"], r["k"]) for r in wh.read_changes("t", from_version=0).collect()}
    assert ch == {("update", 1)}


def test_merge_evolves_schema_rewrite_path(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    flat_spec = TableSpec(partition_grain="NONE")
    wh.merge(_mk(spark, [(k, f"v{k}", k, False) for k in range(5)]), "t", ["k"],
             mode="upsert", spec=flat_spec)
    wh.merge(_evolved_batch(spark), "t", ["k"], mode="upsert", spec=flat_spec)
    out = {r["k"]: r for r in wh.read("t").collect()}
    assert out[1]["new_col"] == "extra" and out[3]["new_col"] is None


def test_merge_evolves_nested_struct_field(spark, tmp_path):
    """A batch adding a field *inside* a struct column evolves the
    table on the MERGE path (the reference's SchemaManager unionizes
    RECORDs recursively, SchemaManager.java:449-461): both merge sides
    are rebuilt to the unionized struct shape, old rows surface a NULL
    for the new nested field."""
    for table, spec in (("plain", TableSpec(partition_grain="NONE")), ("bkt", SPEC)):
        wh = Warehouse(spark, str(tmp_path / table))
        base = spark.createDataFrame(
            [(k, {"a": k}, k, False) for k in range(5)],
            "k: bigint, s: struct<a: bigint>, i: bigint, __tombstone: boolean",
        )
        wh.merge(base, table, ["k"], mode="upsert", spec=spec)
        batch = spark.createDataFrame(
            [(1, {"a": 10, "b": "nested"}, 99, False)],
            "k: bigint, s: struct<a: bigint, b: string>, i: bigint, __tombstone: boolean",
        )
        wh.merge(batch, table, ["k"], mode="upsert", spec=spec)
        read = wh.read_bucketed(table) if spec.key_bucket_count else wh.read(table)
        out = {r["k"]: r for r in read.collect()}
        assert out[1]["s"]["a"] == 10 and out[1]["s"]["b"] == "nested", table
        assert out[2]["s"]["a"] == 2 and out[2]["s"]["b"] is None, table
        assert len(out) == 5, table


def test_merge_new_fields_policy_refusal(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge(_mk(spark, [(k, f"v{k}", k, False) for k in range(5)]), "t", ["k"],
             mode="upsert", spec=SPEC)
    with pytest.raises(Exception, match="allow_new_fields"):
        wh.merge(_evolved_batch(spark), "t", ["k"], mode="upsert", spec=SPEC,
                 allow_new_fields=False)


def test_history_lists_commits(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"), snapshot_retention=3)
    wh.merge(_mk(spark, [(k, f"v{k}", k, False) for k in range(20)]), "t", ["k"],
             mode="upsert", spec=SPEC)
    wh.merge(_mk(spark, [(3, "x", 99, False)]), "t", ["k"], mode="upsert", spec=SPEC)
    h = {r["version"]: r for r in wh.history("t").collect()}
    assert sorted(h) == [0, 1]
    assert h[0]["key_bucket_count"] == N_BUCKETS
    # the initial commit rewrote every live bucket; the second exactly one
    assert len(h[0]["rewrote_buckets"]) == h[0]["live_buckets"]
    assert len(h[1]["rewrote_buckets"]) == 1


def test_read_changes_prunes_unchanged_buckets(spark, tmp_path):
    """The CDC scan's input paths come from the manifest diff — buckets
    whose generation didn't move are never opened."""
    wh = Warehouse(spark, str(tmp_path / "wh"), snapshot_retention=4)
    wh.merge(_mk(spark, [(k, f"v{k}", k, False) for k in range(50)]), "t", ["k"],
             mode="upsert", spec=SPEC)
    wh.merge(_mk(spark, [(7, "x", 99, False)]), "t", ["k"], mode="upsert", spec=SPEC)
    df = wh.read_changes("t", from_version=0)
    # plan reads only the touched bucket's generation dirs
    files = set(df.inputFiles())
    import re

    buckets_in_plan = {re.search(r"_buckets/(\d+)/", f).group(1) for f in files}
    from pyspark.sql import functions as FF

    expect = {
        str(r["b"])
        for r in spark.createDataFrame([(7,)], ["k"]).select(
            FF.pmod(FF.hash("k"), FF.lit(N_BUCKETS)).alias("b")
        ).collect()
    }
    assert buckets_in_plan == expect
    assert {r["_change_type"] for r in df.collect()} == {"update"}


def test_delete_only_empties_bucket(spark, tmp_path):
    """A merge that tombstones every key in a bucket drops the bucket
    from the manifest; reads stay consistent."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    rows = [(k, f"v{k}", k, False) for k in range(12)]
    wh.merge(_mk(spark, rows), "t", ["k"], mode="upsert", spec=SPEC)
    live0 = set(_bucket_gens(wh, "t"))
    # tombstone every key -> every bucket empties
    tomb = spark.createDataFrame(
        [(k, None, 100 + k, True) for k in range(11)],
        "k: bigint, v: string, i: bigint, __tombstone: boolean",
    )
    wh.merge(tomb, "t", ["k"], mode="upsert_delete", spec=SPEC)
    assert _state(wh, "t") == {(11, "v11")}
    assert set(_bucket_gens(wh, "t")) < live0


def test_timestamp_time_travel(spark, tmp_path):
    """AS OF <timestamp> resolves to the newest commit at or before the
    timestamp (Delta/Iceberg rule), from the committed_at recorded in
    the manifest under the commit lock."""
    import time

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge(_mk(spark, [(1, "a", 0, False)]), "t", ["k"], spec=SPEC)
    t_mid = time.time()
    time.sleep(0.05)
    wh.merge(_mk(spark, [(1, "b", 1, False), (2, "c", 1, False)]), "t", ["k"], spec=SPEC)

    v_mid = wh.version_at("t", t_mid)
    assert v_mid == wh.snapshots("t")[0]
    assert _state(wh, "t") == {(1, "b"), (2, "c")}
    old = {
        (r["k"], r["v"])
        for r in wh.read("t", as_of_ts=t_mid).select("k", "v").collect()
    }
    assert old == {(1, "a")}
    # a timestamp after the last commit resolves to the latest version
    now_state = {
        (r["k"], r["v"])
        for r in wh.read("t", as_of_ts=time.time()).select("k", "v").collect()
    }
    assert now_state == {(1, "b"), (2, "c")}

    import pytest as _pytest
    with _pytest.raises(WarehouseError):
        wh.version_at("t", 0.0)  # before any commit
    with _pytest.raises(WarehouseError):
        wh.read("t", version=0, as_of_ts=t_mid)


def test_restore_to_version_is_a_new_commit(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge(_mk(spark, [(k, f"v{k}", k, False) for k in range(10)]), "t", ["k"], spec=SPEC)
    # v1: update 3, delete 7, insert 100
    wh.merge(
        _mk(spark, [(3, "changed", 50, False), (7, "x", 51, True), (100, "new", 52, False)]),
        "t", ["k"], mode="upsert_delete", spec=SPEC,
    )
    assert _state(wh, "t") == (
        {(k, f"v{k}") for k in range(10) if k not in (3, 7)}
        | {(3, "changed"), (100, "new")}
    )

    new_v = wh.restore("t", 0)
    # state equals snapshot v0 exactly (update reverted, delete undone,
    # insert tombstoned away)
    assert _state(wh, "t") == {(k, f"v{k}") for k in range(10)}
    # history is append-only: the restore is a NEW version, and both
    # prior snapshots remain readable
    assert new_v == max(wh.snapshots("t"))
    assert {(r["k"], r["v"]) for r in wh.read("t", version=1).select("k", "v").collect()} != \
        {(k, f"v{k}") for k in range(10)}
    # the rollback is CDC-visible: changes v1 -> new_v undo the delta
    ch = {
        (r["_change_type"], r["k"])
        for r in wh.read_changes("t", from_version=1, to_version=new_v).collect()
    }
    assert ("update", 3) in ch and ("insert", 7) in ch and ("delete", 100) in ch


def test_restore_rejects_flat_tables(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "whf"))
    wh.append(spark.createDataFrame([(1, "a")], "k: bigint, v: string"), "t",
              TableSpec(partition_grain="NONE"))
    with pytest.raises(WarehouseError, match="bucketed"):
        wh.restore("t", 0)


def test_evolving_tombstone_for_absent_key_keeps_new_column(spark, tmp_path):
    """Pinned regression for the r04 stateful-fuzz falsifying example:
    merge([(2,0,ins)]) then merge_evolving([(0,0,TOMBSTONE)]). The
    evolving batch's only row is a tombstone for an ABSENT key, so zero
    rows survive the merge and no parquet footer ever carries ``w`` —
    evolution must still land, as a manifest (metadata) commit
    independent of row content (SchemaManager.java:264-281), and
    subsequent merges must not regress it."""
    wh = Warehouse(spark, str(tmp_path / "wh"), snapshot_retention=3)
    spec = TableSpec(partition_grain="NONE", key_bucket_count=4)
    wh.merge(_mk(spark, [(2, "x", 0, False)]), "t", ["k"],
             mode="upsert_delete", spec=spec)
    evolving = spark.createDataFrame(
        [(0, "y", 0, 0, True)],
        "k: bigint, v: string, w: bigint, i: bigint, __tombstone: boolean",
    )
    wh.merge(evolving, "t", ["k"], mode="upsert_delete", order_col="i", spec=spec)
    df = wh.read_bucketed("t")
    assert set(df.columns) == {"k", "v", "w"}, "evolved column lost"
    assert {(r["k"], r["v"], r["w"]) for r in df.collect()} == {(2, "x", None)}
    # a later merge touching only w-less buckets must NOT regress the
    # manifest schema back to [k, v] (commit-time union is additive)
    wh.merge(_mk(spark, [(2, "x2", 1, False)]), "t", ["k"],
             mode="upsert_delete", spec=spec)
    df2 = wh.read_bucketed("t")
    assert set(df2.columns) == {"k", "v", "w"}
    assert {(r["k"], r["v"], r["w"]) for r in df2.collect()} == {(2, "x2", None)}
    # and an evolving re-upsert then lands real values
    ev2 = spark.createDataFrame(
        [(2, "x3", 30, 0, False)],
        "k: bigint, v: string, w: bigint, i: bigint, __tombstone: boolean",
    )
    wh.merge(ev2, "t", ["k"], mode="upsert_delete", order_col="i", spec=spec)
    assert {(r["k"], r["v"], r["w"]) for r in wh.read_bucketed("t").collect()} == {
        (2, "x3", 30)
    }
    # compaction carries the manifest schema forward untouched
    wh.compact("t", spec, target_file_rows=4, min_files=1)
    assert set(wh.read_bucketed("t").columns) == {"k", "v", "w"}


@pytest.mark.parametrize("bucketed", [True, False], ids=["bucketed", "rewrite"])
def test_tombstone_predating_evolution_same_batch_as_evolved_upsert(
    spark, tmp_path, bucketed
):
    """The adversarial MERGE shape: a tombstone whose column set
    predates an evolution (NULL evolved column — a Kafka tombstone has
    no value at all) arrives in the SAME batch as a post-evolution
    upsert for the SAME key, in both orders. Exercises
    _align_for_merge (dest lacks new_col), _conform_to_stored, and the
    pre-tombstone drop ordering (F4: d_i IS NULL OR i >= d_i,
    kcbq/MergeQueries.java delete-ordering semantics) in one batch.

    Key 1: tombstone(i=0) then evolved upsert(i=1) -> row survives
           with the evolved value (the upsert postdates the delete).
    Key 2: evolved upsert(i=0) then tombstone(i=1) -> row deleted
           (the delete postdates the upsert; its NULL new_col must
           not poison the alignment).
    Key 3: untouched pre-evolution row -> survives with NULL new_col.
    """
    spec = SPEC if bucketed else TableSpec(partition_grain="NONE")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge(
        _mk(spark, [(k, f"v{k}", k, False) for k in (1, 2, 3)]),
        "t", ["k"], mode="upsert_delete", spec=spec,
    )
    batch = spark.createDataFrame(
        [
            (1, None, None, 0, True),
            (1, "resurrected", "extra1", 1, False),
            (2, "doomed", "extra2", 0, False),
            (2, None, None, 1, True),
        ],
        "k: bigint, v: string, new_col: string, i: bigint, __tombstone: boolean",
    )
    wh.merge(batch, "t", ["k"], mode="upsert_delete", spec=spec)
    df = wh.read("t")
    assert "new_col" in df.columns
    out = {r["k"]: (r["v"], r["new_col"]) for r in df.collect()}
    assert out == {1: ("resurrected", "extra1"), 3: ("v3", None)}
