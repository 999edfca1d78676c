"""Stateful fuzz of the bucketed warehouse: random interleavings of
upsert/delete MERGE batches, compaction, and vacuum, checked against a
dict model after every step. Hypothesis explores operation orders a
hand-written test never would (delete-then-reinsert across compaction,
vacuum mid-history, emptied buckets...)."""

from __future__ import annotations

import shutil
import tempfile

from hypothesis import settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine, initialize, invariant, precondition, rule,
)

from kafka_connect_bigquery_spark.session import get_spark
from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

SPEC = TableSpec(partition_grain="NONE", key_bucket_count=4)
_batch = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=99),
        st.booleans(),
    ),
    min_size=1,
    max_size=6,
)


class WarehouseMachine(RuleBasedStateMachine):
    def __init__(self):
        super().__init__()
        self.spark = get_spark("tests", master="local[4]", shuffle_partitions=4)
        self.tmp = tempfile.mkdtemp(prefix="wh_fuzz_")
        self.wh = Warehouse(self.spark, self.tmp, snapshot_retention=3)
        self.model: dict[int, int] = {}
        # evolved-column models: k -> w / x (None = row written without
        # that column). TWO independently-evolving columns exercise the
        # additive manifest union + read conform across commits that
        # each carry only a subset of the evolved schema.
        self.extra: dict[int, int | None] = {}
        self.extra2: dict[int, int | None] = {}
        self.evolved = False
        self.evolved2 = False
        # version -> model snapshot at that commit (time-travel oracle);
        # compaction also commits a version, with the same logical state
        self.history: dict[int, dict[int, int]] = {}
        # version -> wall clock observed just after that commit
        # (AS OF timestamp oracle)
        self.commit_ts: dict[int, float] = {}
        self.created = False
        self.indexed = False
        # point-read probe: one key per step, cycling through the
        # keyspace so present, deleted and never-written keys all occur
        self.probe = 0

    def _committed(self):
        gen = int(self.wh.layout_meta("t")["generation"])
        # history keys map to (v, w, x): the CDC diff must see a row as
        # changed when ONLY an evolved column moved (e.g. same v
        # re-upserted by an evolving batch flips w NULL -> v*10)
        self.history[gen] = {
            k: (v, self.extra.get(k), self.extra2.get(k))
            for k, v in self.model.items()
        }
        import time as _time

        self.commit_ts[gen] = _time.time()
        self.created = True

    def _one_file_per_generation(self):
        """Every live generation dir is ONE data file: the bucket writer
        repartitions on the bucket id before ``partitionBy``."""
        for b, g in self.wh.layout_meta("t")["generations"].items():
            files = self.wh._data_files(self.wh._bucket_gen_dir("t", b, g))
            assert len(files) == 1, f"bucket {b} gen {g}: {len(files)} files"

    def _apply_merge(self, batch, with_extra, with_extra2=False, null_tomb=False):
        # base schema carries a derived TEXT column s = "w<v> c<v%3> blue"
        # so the per-generation text index has something to index; its
        # content is a pure function of v, so every model check stays
        # expressible over {k: v}
        cols = ["k: bigint", "v: bigint", "s: string"]
        if with_extra:
            cols.append("w: bigint")
        if with_extra2:
            cols.append("x: bigint")
        cols += ["i: bigint", "__tombstone: boolean"]
        rows = []
        for i, (k, v, t) in enumerate(batch):
            r = [k, v, None if t else f"w{v} c{v % 3} blue"]
            if with_extra:
                r.append(None if (t and null_tomb) else v * 10)
            if with_extra2:
                r.append(None if (t and null_tomb) else v * 100)
            r += [i, t]
            rows.append(tuple(r))
        df = self.spark.createDataFrame(rows, ", ".join(cols))
        self.wh.merge(df, "t", ["k"], mode="upsert_delete", order_col="i", spec=SPEC)
        newest = {}
        for k, v, t in batch:
            newest[k] = (v, t)  # later index wins
        for k, (v, t) in newest.items():
            if t:
                self.model.pop(k, None)
            else:
                self.model[k] = v
                # models track the evolved columns too: NULL for rows
                # written by batches not carrying that column
                self.extra[k] = v * 10 if with_extra else None
                self.extra2[k] = v * 100 if with_extra2 else None
        for d in (self.extra, self.extra2):
            for k in list(d):
                if k not in self.model:
                    d.pop(k)
        if with_extra:
            self.evolved = True
        if with_extra2:
            self.evolved2 = True
        self._committed()
        self._one_file_per_generation()

    @rule(batch=_batch)
    def merge(self, batch):
        self._apply_merge(batch, with_extra=False)

    @rule(batch=_batch)
    def merge_evolving(self, batch):
        """A batch carrying a new column w — merge-path schema
        evolution interleaved with everything else."""
        self._apply_merge(batch, with_extra=True)

    @rule(batch=_batch)
    def merge_evolving_second(self, batch):
        """A batch carrying a DIFFERENT new column x (and not w):
        interleaved multi-column evolution — each commit carries only a
        subset of the evolved schema, so the manifest union + read
        conform must reassemble [k, v, w?, x?] across commits."""
        self._apply_merge(batch, with_extra=False, with_extra2=True)

    @rule(batch=_batch)
    def merge_mixed_era_tombstones(self, batch):
        """Tombstone rows carry NULL evolved columns (a Kafka tombstone
        has no value, so its column set predates any evolution) in the
        same batch as post-evolution upserts — possibly for the SAME
        key in either order, exercising _align_for_merge +
        _conform_to_stored + the pre-tombstone drop (F4) ordering
        simultaneously (the adversarial MERGE shape from the r05
        verdict)."""
        self._apply_merge(batch, with_extra=True, with_extra2=True, null_tomb=True)

    @precondition(lambda self: self.created)
    @rule()
    def compact(self):
        if self.wh.compact("t", SPEC, target_file_rows=4, min_files=1):
            self._committed()
            self._one_file_per_generation()

    @precondition(lambda self: self.created)
    @rule()
    def vacuum(self):
        self.wh.vacuum("t")

    @precondition(lambda self: self.created and not self.indexed)
    @rule()
    def record_indexes(self):
        """Record the per-generation HLL + text indexes (r07 verdict
        ask 3); from here every merge/compact/restore commit refreshes
        them incrementally through the commit hook, and the invariant
        below holds them to engine-independent oracles."""
        self.wh.record_sketch("t", ["v"])
        self.wh.record_text_index("t", ["s"])
        self.indexed = True

    @invariant()
    def bucketed_indexes_match_oracles(self):
        """approx_distinct must equal the pure-Python register oracle
        over the MODEL's live values (dead generation rows never leak
        in), and CONTAINS probes through the text index must return
        exactly the model keys whose derived text carries the token —
        across merges, compaction, vacuum, and restore."""
        if not self.indexed:
            return
        from tests.test_sketch_index import py_hll_estimate

        got = self.wh.approx_distinct("t", "v").collect()[0].asDict()
        assert got == py_hll_estimate(set(self.model.values())), (
            "bucketed HLL estimate diverged from the model oracle"
        )
        probes = ["blue", "c1"]
        if self.model:
            probes.append(f"w{min(self.model.values())}")
        for tok in probes:
            want = {
                k for k, v in self.model.items()
                if tok in (f"w{v}", f"c{v % 3}", "blue")
            }
            rows = self.wh.read_containing("t", "s", tok).select("k").collect()
            assert {r["k"] for r in rows} == want, (
                f"bucketed CONTAINS({tok!r}) diverged from the model"
            )

    @precondition(lambda self: self.created)
    @rule(data=st.data())
    def restore(self, data):
        """RESTORE to a retained snapshot: the table must land exactly
        on the recorded model state for that version, as a NEW commit
        (exercises the merge-path rollback against evolution, deletes,
        and compaction interleavings)."""
        versions = [v for v in self.wh.snapshots("t") if v in self.history]
        if not versions:
            return
        v = data.draw(st.sampled_from(versions))
        self.wh.restore("t", v)
        snap = self.history[v]
        self.model = {k: vw[0] for k, vw in snap.items()}
        self.extra = {k: vw[1] for k, vw in snap.items()}
        self.extra2 = {k: vw[2] for k, vw in snap.items()}
        self._committed()

    @precondition(lambda self: self.created)
    @rule(data=st.data())
    def clone_at_snapshot(self, data):
        """Bucketed shallow clone (r08) composed against merges,
        evolution, compaction, restore, and vacuum: a clone pinned at
        any retained snapshot must read EXACTLY that version's model
        state (evolved columns included); cloning at head must match
        the live model. The clone is read and dropped immediately."""
        versions = [v for v in self.wh.snapshots("t") if v in self.history]
        if not versions:
            return
        v = data.draw(st.sampled_from([*versions, None]))
        dst = f"c{len(self.history)}_{v}"
        self.wh.clone_table("t", dst, version=v)
        got = {
            r["k"]: r["v"]
            for r in self.wh.read(dst).select("k", "v").collect()
        }
        if v is None:
            want = dict(self.model)
        else:
            want = {k: vw[0] for k, vw in self.history[v].items()}
        self.wh.drop_table(dst)
        assert got == want, f"bucketed clone at {v} diverged"

    @invariant()
    def state_matches_model(self):
        if not self.created:
            return
        df = self.wh.read_bucketed("t")
        got = {r["k"]: r["v"] for r in df.select("k", "v").collect()}
        assert got == self.model
        for flag, col, want in (
            (self.evolved, "w", self.extra),
            (self.evolved2, "x", self.extra2),
        ):
            if flag:
                assert col in df.columns, f"evolved column {col} lost"
                got_c = {r["k"]: r[col] for r in df.select("k", col).collect()}
                assert got_c == want, f"evolved column {col} values diverged"

    @invariant()
    def key_point_read_matches_model(self):
        """``read_pruned_where`` on the key prunes to the key's bucket
        (or reads nothing when that bucket is empty) and must still
        return exactly the model's row for that key."""
        if not self.created:
            return
        key = self.probe % 10
        self.probe += 1
        rows = self.wh.read_pruned_where("t", {"k": key}).select("k", "v").collect()
        want = [(key, self.model[key])] if key in self.model else []
        assert [(r["k"], r["v"]) for r in rows] == want, f"point read of k={key}"

    @precondition(lambda self: self.created)
    @rule()
    def cdc_between_retained_versions_matches_model_diff(self):
        versions = [v for v in self.wh.snapshots("t") if v in self.history]
        if len(versions) < 2:
            return
        lo, hi = versions[0], versions[-1]
        a, b = self.history[lo], self.history[hi]
        want = set()
        for k in set(a) | set(b):
            if k not in a:
                want.add(("insert", k, b[k][0]))
            elif k not in b:
                want.add(("delete", k, a[k][0]))
            elif a[k] != b[k]:  # tuple compare: v OR evolved w moved
                want.add(("update", k, b[k][0]))
        got = {
            (r["_change_type"], r["k"], r["v"])
            for r in self.wh.read_changes(
                "t", from_version=lo, to_version=hi
            ).collect()
        }
        assert got == want, f"CDC v{lo}->v{hi} diverged"

    @invariant()
    def retained_snapshots_match_history(self):
        if not self.created:
            return
        for v in self.wh.snapshots("t"):
            if v not in self.history:
                continue
            got = {
                r["k"]: r["v"]
                for r in self.wh.read("t", version=v).select("k", "v").collect()
            }
            want = {k: vw[0] for k, vw in self.history[v].items()}
            assert got == want, f"time travel to v{v} diverged"

    @invariant()
    def timestamp_travel_resolves_each_commit(self):
        if not self.created:
            return
        for v in self.wh.snapshots("t"):
            ts = self.commit_ts.get(v)
            if ts is None or v not in self.history:
                continue
            assert self.wh.version_at("t", ts) == v
            got = {
                r["k"]: r["v"]
                for r in self.wh.read("t", as_of_ts=ts).select("k", "v").collect()
            }
            assert got == {k: vw[0] for k, vw in self.history[v].items()}, (
                f"AS OF ts of v{v} diverged"
            )

    def teardown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)


TestWarehouseStateful = WarehouseMachine.TestCase
TestWarehouseStateful.settings = settings(
    max_examples=12, stateful_step_count=14, deadline=None
)
