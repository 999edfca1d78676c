"""Fast self-tests of the benchmark (no Spark):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import common, gen, layers, oracles  # noqa: E402

CONFIG = json.loads((ROOT / "perfbench" / "config.json").read_text())
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _small(name: str) -> dict:
    return dict(CONFIG["workloads"][name], max_files=3, records_per_file=200)


@pytest.mark.parametrize("name", ["stream_append", "stream_upsert_ivm"])
def test_stream_inputs_are_a_function_of_the_seed(name, tmp_path):
    a, b, c = (gen.stream_records(_small(name), s) for s in (5, 5, 6))
    assert a.event_id.tolist() == b.event_id.tolist()
    assert a.props == b.props and a.kind.tolist() == b.kind.tolist()
    assert a.user_id.tolist() != c.user_id.tolist()
    fa = gen.write_stream_files(a, str(tmp_path / "a"))
    fb = gen.write_stream_files(b, str(tmp_path / "b"))
    assert len(fa) == 3
    for x, y in zip(fa, fb):
        assert pq.read_table(x).equals(pq.read_table(y))


def test_stream_inputs_realise_the_traffic_shares():
    p = dict(CONFIG["workloads"]["stream_append"], max_files=20)
    inp = gen.stream_records(p, 1)
    n = inp.n
    assert abs((inp.kind == 2).sum() / n - p["malformed_share"]) < 0.005
    assert abs((inp.kind == 1).sum() / n - p["tombstone_share"]) < 0.005
    assert len(set(inp.event_id.tolist())) == n  # the lookup id is unique
    # the events shape of tools/gen_scale.py: uniform users, {"k": N} props
    assert 0 <= inp.user_id.min() and inp.user_id.max() < p["keyspace"]
    assert all(json.loads(x).keys() == {"k"} for x in inp.props[:100])


def test_query_inputs_are_a_function_of_the_seed(tmp_path, monkeypatch):
    monkeypatch.chdir(ROOT)  # gen_scale is imported from tools/
    a = gen.query_inputs(0.001, 3, str(tmp_path / "x"))
    b = gen.query_inputs(0.001, 3, str(tmp_path / "y"))
    c = gen.query_inputs(0.001, 4, str(tmp_path / "z"))
    for t in oracles.TABLES:
        ta = pq.read_table(os.path.join(a, f"{t}.parquet"))
        assert ta.equals(pq.read_table(os.path.join(b, f"{t}.parquet")))
    ev = "events.parquet"
    assert not pq.read_table(os.path.join(a, ev)).equals(pq.read_table(os.path.join(c, ev)))
    # the generator module's seed is restored afterwards
    import gen_scale

    assert gen_scale.SEED == 42


@pytest.mark.parametrize(
    "n,p,ok", [(40, 75, True), (39, 75, False), (100, 90, True), (99, 90, False), (20, 50, True)]
)
def test_tail_percentile_needs_ten_samples_beyond(n, p, ok):
    assert common.supports_percentile(n, p) is ok
    assert (common.percentile(list(range(n)), p) is not None) is ok


def test_percentile_value():
    assert common.percentile(list(range(101)), 90) == pytest.approx(90.0)
    assert common.median([3, 1, 2]) == 2


def test_newest_per_key_applies_tombstones():
    p = dict(_small("stream_upsert_ivm"), max_files=1, records_per_file=6)
    inp = gen.stream_records(p, 0)
    inp.user_id[:] = [1, 2, 1, 2, 3, 3]
    inp.kind[:] = [0, 0, 0, 1, 0, 0]
    state = oracles.newest_per_key(inp, 1)
    assert set(state) == {"1", "3"}
    assert state["1"]["event_id"] == int(inp.event_id[2])
    assert state["3"]["event_id"] == int(inp.event_id[5])


def test_hll_estimate_is_near_exact_for_distinct_ids():
    rows = [{"g": "a", "id": i} for i in range(3000)]
    regs = oracles.hll_registers(rows, "g", "id")
    est = oracles.hll_estimate(list(regs.values()))
    assert abs(est - 3000) <= 4 * 1.04 / 16 * 3000


def test_benchmark_json_names_what_the_run_prints():
    from perfbench.run import end_to_end

    res = {"setup_samples_s": [1.0]}
    figs = {k: (1.0, "", 1) for k in ("ingest_rows_per_s", "batch_ms_p50", "read_ms_p50")}
    e2e = end_to_end("stream", res, figs)
    assert [m["name"] for m in BENCH["end_to_end"]] == list(e2e)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == {k: u for k, (_, u) in e2e.items()}
    assert [m["name"] for m in BENCH["per_layer"]] == layers.NAMES
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == {
        n: layers.unit_of(n) for n in layers.NAMES
    }
    assert len(layers.NAMES) <= 128
    assert [w["name"] for w in BENCH["workloads"]] == list(CONFIG["workloads"])


@pytest.mark.parametrize("name", ["stream_append", "stream_upsert_ivm"])
def test_timed_counts_are_fixed_and_fit_the_staged_flushes(name):
    from perfbench.stream import WARMUP_BATCHES, timed_counts

    p = CONFIG["workloads"][name]
    batches, reads = timed_counts(p, BENCH["run_seconds"])
    assert batches >= 2 and reads >= 2
    # the set-up flush, the warm-up flushes and the timed ones
    assert 1 + WARMUP_BATCHES + batches <= p["max_files"]


def test_untraced_tracer_never_records():
    from perfbench.trace import Tracer

    tracer = Tracer(None)
    tracer.start()
    assert not tracer.recording
