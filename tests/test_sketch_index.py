"""Per-file HLL distinct-count index (`record_sketch` /
`approx_distinct`): metadata-only COUNT DISTINCT estimates whose
registers must match a direct operators/sketch.py build bit-for-bit,
stay fresh across append (incremental) / overwrite / compact
(rebuild), and refuse to answer stale.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from kafka_connect_bigquery_spark.operators import sketch as SK
from kafka_connect_bigquery_spark.sinks.warehouse import (
    TableSpec,
    Warehouse,
    WarehouseError,
)

PLAIN = TableSpec(partition_grain="NONE")


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def _est(wh, col):
    return wh.approx_distinct("t", col).collect()[0].asDict()


def _direct(wh, col):
    return SK.hll_estimate(SK.hll_build(wh.read("t"), col)).collect()[0].asDict()


def py_hll_estimate(values, p=8):
    """Pure-Python replica of the register math — an engine-independent
    oracle (same md5/'hll:' convention as operators/sketch.py)."""
    wbits, rmax, m = 32 - p, 32 - p + 1, 1 << p
    regs: dict[int, int] = {}
    for v in values:
        hv = int(hashlib.md5(f"hll:{v}".encode()).hexdigest()[:8], 16)
        w = hv % (1 << wbits)
        rho = rmax if w == 0 else rmax - w.bit_length()
        reg = hv >> wbits
        regs[reg] = max(regs.get(reg, 0), rho)
    s = sum(1 << (rmax - r) for r in regs.values()) + (m - len(regs)) * (1 << rmax)
    return {
        "m": m,
        "n_nonzero": len(regs),
        "s_scaled": s,
        "hll_estimate": SK.HLL_ALPHA_PPM * m * m * (1 << rmax) // (s * 1_000_000),
    }


def test_index_estimate_equals_direct_build_and_python_oracle(spark, wh):
    df = spark.createDataFrame(
        [(i, "u%d" % (i % 137)) for i in range(900)], "id: bigint, u: string"
    )
    wh.append(df, "t", PLAIN)
    wh.record_sketch("t", ["id", "u"])
    for col, values in (("id", range(900)), ("u", {f"u{i % 137}" for i in range(900)})):
        est = _est(wh, col)
        assert est == _direct(wh, col)
        assert est == py_hll_estimate(values)


def test_incremental_refresh_on_append(spark, wh):
    a = spark.createDataFrame([(i,) for i in range(400)], "id: bigint")
    b = spark.createDataFrame([(i,) for i in range(300, 700)], "id: bigint")
    wh.append(a, "t", PLAIN)
    wh.record_sketch("t", ["id"])
    files_indexed = wh.sketch_indexed_files("t")
    wh.append(b, "t", PLAIN)  # hook refreshes incrementally
    assert wh.sketch_indexed_files("t") > files_indexed
    assert _est(wh, "id") == py_hll_estimate(range(700))


def test_rebuild_on_overwrite_and_compact(spark, wh):
    wh.append(
        spark.createDataFrame([(i,) for i in range(500)], "id: bigint"), "t", PLAIN
    )
    wh.record_sketch("t", ["id"])
    wh.overwrite(
        spark.createDataFrame([(i,) for i in range(50)], "id: bigint"), "t", PLAIN
    )
    assert _est(wh, "id") == py_hll_estimate(range(50))
    wh.append(
        spark.createDataFrame([(i,) for i in range(50, 80)], "id: bigint"), "t", PLAIN
    )
    wh.compact("t", PLAIN, min_files=1)
    assert _est(wh, "id") == py_hll_estimate(range(80))


def test_deferred_deletes_not_subtracted_until_compact(spark, wh):
    """Documented file-physical semantics: HLL cannot unsee — pending
    predicate deletes surface in the estimate until materialized."""
    wh.append(
        spark.createDataFrame([(i,) for i in range(200)], "id: bigint"), "t", PLAIN
    )
    wh.record_sketch("t", ["id"])
    wh.delete_where("t", "id >= 100")
    assert _est(wh, "id") == py_hll_estimate(range(200))  # pre-delete view
    wh.compact("t", PLAIN, min_files=1)  # materialize
    assert _est(wh, "id") == py_hll_estimate(range(100))


def test_stale_and_missing_index_refuse_loudly(spark, wh):
    wh.append(spark.createDataFrame([(1,)], "id: bigint"), "t", PLAIN)
    with pytest.raises(WarehouseError):
        wh.approx_distinct("t", "id")
    wh.record_sketch("t", ["id"])
    with pytest.raises(WarehouseError):
        wh.approx_distinct("t", "other")
    # write files BEHIND the index (no hook): estimate must refuse
    spark.createDataFrame([(2,)], "id: bigint").write.mode("append").parquet(
        wh.path("t")
    )
    with pytest.raises(WarehouseError):
        wh.approx_distinct("t", "id")
    wh.record_sketch("t", ["id"], incremental=True)
    assert _est(wh, "id") == py_hll_estimate([1, 2])


def test_all_null_column_yields_marker_only_and_zero_estimate(spark, wh):
    df = spark.createDataFrame([(None,), (None,)], "id: bigint")
    wh.append(df, "t", PLAIN)
    wh.record_sketch("t", ["id"])
    est = _est(wh, "id")
    assert est["n_nonzero"] == 0
    assert est == py_hll_estimate([])


def test_bucketed_tables_supported(spark, wh):
    """r07 verdict ask 3: bucketed MERGE tables take the per-generation
    index lifecycle instead of the pre-r08 raise (depth coverage in
    test_bucketed_indexes.py)."""
    df = spark.createDataFrame(
        [(i, f"v{i % 7}", 0) for i in range(40)], "k: bigint, val: string, i: bigint"
    )
    wh.merge(
        df, "bt", key_cols=["k"],
        spec=TableSpec(partition_grain="NONE", key_bucket_count=4),
    )
    wh.record_sketch("bt", ["val"])
    est = wh.approx_distinct("bt", "val").collect()[0].asDict()
    assert est == py_hll_estimate({f"v{i % 7}" for i in range(40)})


def test_partition_scoped_estimate(spark, wh):
    import datetime

    rows = [
        (i, datetime.datetime(2024, 1, 1 + (i % 2), 12, 0)) for i in range(600)
    ]
    df = spark.createDataFrame(rows, ["id", "ts"])
    wh.append(df, "t", TableSpec(partition_grain="DAY", timestamp_field="ts"))
    wh.record_sketch("t", ["id"])
    full = _est(wh, "id")
    assert full == py_hll_estimate(range(600))
    day1 = (
        wh.approx_distinct("t", "id", partition=("p_date", "2024-01-01"))
        .collect()[0]
        .asDict()
    )
    assert day1 == py_hll_estimate(range(0, 600, 2))
    day2 = (
        wh.approx_distinct("t", "id", partition=("p_date", "2024-01-02"))
        .collect()[0]
        .asDict()
    )
    assert day2 == py_hll_estimate(range(1, 600, 2))


def test_full_rebuild_fans_out_when_table_has_many_files(spark, wh, monkeypatch):
    """r06 verdict ask 5: a FULL index rebuild must not funnel through
    one task — output file count scales with the table's file count
    (threshold lowered via monkeypatch), while incremental appends stay
    single-file, every (f, c) marker keeps its register rows in the
    same output file, and estimates stay exact."""
    import glob
    import os

    monkeypatch.setattr(Warehouse, "_INDEX_FILES_PER_OUTPUT", 2)
    for i in range(3):
        wh.append(
            spark.createDataFrame(
                [(i * 10 + j, f"c{j}") for j in range(5)], "k: bigint, cat: string"
            ).repartition(2),
            "t",
            PLAIN,
        )
    n_table_files = len(Warehouse._data_files(wh.path("t")))
    assert n_table_files >= 5
    wh.record_sketch("t", ["k"])  # full build over >threshold files
    idx_dir = wh._index_path("t", "sketch", "index")
    idx_files = glob.glob(os.path.join(idx_dir, "*.parquet"))
    assert len(idx_files) > 1, "full rebuild still single-task"
    assert _est(wh, "k") == _direct(wh, "k") == py_hll_estimate(
        {r["k"] for r in wh.read("t").collect()}
    )
    # (f, c) groups land whole: every indexed file's rows live in ONE
    # index output file
    rows = spark.read.parquet(idx_dir).select(
        "f", F.input_file_name().alias("src")
    ).distinct().collect()
    by_f: dict[str, set] = {}
    for r in rows:
        by_f.setdefault(r["f"], set()).add(r["src"])
    assert all(len(srcs) == 1 for srcs in by_f.values())
    # incremental append stays single-file and exact
    before = set(idx_files)
    wh.append(
        spark.createDataFrame([(100, "x")], "k: bigint, cat: string"), "t", PLAIN
    )
    after = set(glob.glob(os.path.join(idx_dir, "*.parquet")))
    assert len(after - before) == 1
    assert _est(wh, "k") == _direct(wh, "k")


def test_bloom_full_rebuild_fans_out_and_probes_stay_exact(spark, wh, monkeypatch):
    import glob
    import os

    monkeypatch.setattr(Warehouse, "_INDEX_FILES_PER_OUTPUT", 2)
    for i in range(3):
        wh.append(
            spark.createDataFrame(
                [(i * 10 + j, f"c{j}") for j in range(5)], "k: bigint, cat: string"
            ).repartition(2),
            "t",
            PLAIN,
        )
    wh.record_bloom("t", ["k"])
    idx_files = glob.glob(os.path.join(wh._index_path("t", "bloom", "index"), "*.parquet"))
    assert len(idx_files) > 1
    for key in (0, 11, 24, 999):
        got = {r["k"] for r in wh.read_pruned_where("t", {"k": key}).collect()}
        want = {r["k"] for r in wh.read("t").filter(F.col("k") == key).collect()}
        assert got == want
