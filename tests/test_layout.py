"""Z-order clustering tests: the Morton layout must give per-file
min/max ranges that allow data skipping on EVERY clustered column,
where a lexicographic sort only helps the leading one."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from kafka_connect_bigquery_spark.operators.layout import zorder_key, zorder_write_sorted


@pytest.fixture()
def grid_df(spark):
    # uniform 2-d grid: worst case for lexicographic, ideal to show
    # z-order's benefit on the second column
    rows = [(x, y) for x in range(64) for y in range(64)]
    return spark.createDataFrame(rows, ["a", "b"])


def _file_spans(spark, path, col):
    """Per-parquet-file (min, max) of col, via file-grouped read."""
    df = spark.read.parquet(path).withColumn("__f", F.input_file_name())
    rows = df.groupBy("__f").agg(F.min(col).alias("mn"), F.max(col).alias("mx")).collect()
    return [(r["mn"], r["mx"]) for r in rows]


def test_zorder_key_deterministic_and_bounded(spark, grid_df):
    k1 = [r[0] for r in grid_df.select(zorder_key(grid_df, ["a", "b"], bits=4)).collect()]
    k2 = [r[0] for r in grid_df.select(zorder_key(grid_df, ["a", "b"], bits=4)).collect()]
    assert k1 == k2
    assert all(0 <= k < 2 ** 8 for k in k1)  # 4 bits x 2 cols


def test_zorder_files_skip_on_both_columns(spark, grid_df, tmp_path):
    zpath = str(tmp_path / "z")
    lpath = str(tmp_path / "lex")
    n = 16
    zorder_write_sorted(grid_df, ["a", "b"], bits=4, n_files=n).write.parquet(zpath)
    (
        grid_df.repartitionByRange(n, "a", "b")
        .sortWithinPartitions("a", "b")
        .write.parquet(lpath)
    )

    def avg_span(path, col):
        spans = [mx - mn for mn, mx in _file_spans(spark, path, col)]
        return sum(spans) / len(spans)

    # leading column: lexicographic wins or ties — fine
    # second column: z-order spans must be much tighter than lex (which
    # covers the full 0..63 range in every file)
    z_b = avg_span(zpath, "b")
    lex_b = avg_span(lpath, "b")
    assert z_b < lex_b * 0.5, f"z-order b-span {z_b} not tighter than lex {lex_b}"
    # and the z-layout still bounds the first column usefully
    assert avg_span(zpath, "a") < 40  # full range would be 63


# ---------------------------------------------------------------------------
# zone-map file skipping (the read-side payoff of clustering L4)
# ---------------------------------------------------------------------------


def test_zonemap_prunes_files_under_clustered_predicate(spark, tmp_path):
    """A clustered write records per-file min/max; read_pruned under an
    equality predicate on the clustering column must open strictly
    fewer files than exist while returning exactly the filtered rows."""
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    cats = ["alpha", "beta", "gamma", "delta", "epsilon"]
    rows = [(i, cats[i % 5], float(i)) for i in range(5000)]
    df = spark.createDataFrame(rows, "k: bigint, cat: string, v: double")
    spec = TableSpec(partition_grain="NONE", clustering=("cat",))
    wh.overwrite(df, "t", spec)
    # compaction re-clusters into explicitly-sized range files (AQE
    # coalesces a toy-sized overwrite into one file, where file-level
    # pruning is moot)
    wh.compact("t", spec, target_file_rows=1000, min_files=1)

    all_files = set(glob.glob(f"{wh.path('t')}/**/*.parquet", recursive=True))
    assert len(all_files) > 1, "test needs multiple files to show pruning"

    pruned = wh.read_pruned("t", "cat", eq="beta")
    opened = {f.replace("file://", "") for f in pruned.inputFiles()}
    assert opened < all_files, "zone map did not skip any file"
    got = {(r["k"], r["v"]) for r in pruned.collect()}
    expect = {(i, float(i)) for i in range(5000) if cats[i % 5] == "beta"}
    assert got == expect

    # range predicate on a numeric clustering column after compaction
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    spec_k = TableSpec(partition_grain="NONE", clustering=("k",))
    for lo in range(0, 5000, 1000):  # multiple appends -> many files
        part = spark.createDataFrame(
            [(i, float(i)) for i in range(lo, lo + 1000)], "k: bigint, v: double"
        )
        wh2.append(part, "t", spec_k)
    pr = wh2.read_pruned("t", "k", lo=100, hi=150)
    assert {r["k"] for r in pr.collect()} == set(range(100, 151))
    all2 = set(glob.glob(f"{wh2.path('t')}/**/*.parquet", recursive=True))
    opened2 = {f.replace("file://", "") for f in pr.inputFiles()}
    assert opened2 < all2


def test_zonemap_never_skips_unmapped_files(spark, tmp_path):
    """Files appended without a zone-map refresh (no clustering spec)
    must still be read — absence from the map is not evidence of
    absence of matches."""
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE", clustering=("cat",))
    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2], float(i)) for i in range(100)],
        "k: bigint, cat: string, v: double",
    )
    wh.overwrite(df, "t", spec)
    # append WITHOUT clustering: the zone map goes stale
    extra = spark.createDataFrame([(999, "b", 9.9)], "k: bigint, cat: string, v: double")
    wh.append(extra, "t", TableSpec(partition_grain="NONE"))
    got = {r["k"] for r in wh.read_pruned("t", "cat", eq="b").collect()}
    assert 999 in got and len(got) == 51


def test_read_pruned_matches_full_filter_on_unclustered_table(spark, tmp_path):
    """No zone map at all -> read_pruned degrades to read().filter()."""
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "k: bigint, v: double")
    wh.overwrite(df, "t", TableSpec(partition_grain="NONE"))
    assert {r["k"] for r in wh.read_pruned("t", "k", lo=10, hi=12).collect()} == {10, 11, 12}


def test_zorder_warehouse_multicolumn_pruning(spark, tmp_path):
    """End-to-end: TableSpec(zorder=True) writes Z-ordered files whose
    zones are narrow in BOTH columns, and read_pruned_where's
    conjunction opens fewer files than either single-column predicate
    alone — while returning exactly the filtered rows."""
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    rows = [(x, y, x * 64 + y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x: bigint, y: bigint, v: bigint")
    spec = TableSpec(partition_grain="NONE", clustering=("x", "y"), zorder=True)
    wh.overwrite(df, "t", spec)
    wh.compact("t", spec, target_file_rows=256, min_files=1)

    all_files = set(glob.glob(f"{wh.path('t')}/**/*.parquet", recursive=True))
    assert len(all_files) > 4

    def opened(pred):
        d = wh.read_pruned_where("t", pred)
        return d, {f.replace("file://", "") for f in d.inputFiles()}

    both, f_both = opened({"x": (10, 15), "y": (50, 55)})
    _, f_x = opened({"x": (10, 15)})
    _, f_y = opened({"y": (50, 55)})
    # each dimension prunes something; the conjunction prunes strictly
    # more than either alone (the z-order payoff)
    assert f_x < all_files and f_y < all_files
    assert f_both <= f_x and f_both <= f_y
    assert len(f_both) < min(len(f_x), len(f_y))
    got = {(r["x"], r["y"]) for r in both.collect()}
    assert got == {(x, y) for x in range(10, 16) for y in range(50, 56)}


def test_read_pruned_where_eq_shorthand_and_degradation(spark, tmp_path):
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2]) for i in range(50)], "k: bigint, cat: string"
    )
    wh.overwrite(df, "t", TableSpec(partition_grain="NONE"))  # no zone map
    got = {r["k"] for r in wh.read_pruned_where("t", {"cat": "b", "k": (0, 9)}).collect()}
    assert got == {1, 3, 5, 7, 9}


# ---------------------------------------------------------------------------
# bloom-filter file skipping (point lookups on NON-clustered columns)
# ---------------------------------------------------------------------------


def _bloom_table(spark, tmp_path, name="wh"):
    """Three appends with interleaved-but-disjoint id sets (residues mod
    3): every file spans the whole [0, 3000) range, so a zone map could
    never prune — exactly the case bloom filters exist for."""
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    wh = Warehouse(spark, str(tmp_path / name))
    for res in range(3):
        rows = [(i * 3 + res, f"u{i * 3 + res}", float(i)) for i in range(1000)]
        wh.append(
            spark.createDataFrame(rows, "id: bigint, user: string, v: double"),
            "t",
            TableSpec(partition_grain="NONE"),
        )
    return wh


def test_bloom_prunes_files_on_point_lookup(spark, tmp_path):
    wh = _bloom_table(spark, tmp_path)
    wh.record_bloom("t", ["id", "user"])
    all_files = set(glob.glob(f"{wh.path('t')}/**/*.parquet", recursive=True))
    assert len(all_files) >= 3

    pruned = wh.read_pruned_where("t", {"id": 42})  # 42 % 3 == 0: batch 0 only
    opened = {f.replace("file://", "") for f in pruned.inputFiles()}
    assert opened < all_files, "bloom filter did not skip any file"
    assert [(r["id"], r["v"]) for r in pruned.collect()] == [(42, 14.0)]

    # string column probe
    pruned_s = wh.read_pruned_where("t", {"user": "u100"})  # 100 % 3 == 1
    opened_s = {f.replace("file://", "") for f in pruned_s.inputFiles()}
    assert opened_s < all_files
    assert [r["id"] for r in pruned_s.collect()] == [100]

    # absent value: provable absence -> zero files opened, empty result
    gone = wh.read_pruned_where("t", {"id": 999_983})
    assert gone.count() == 0 and gone.inputFiles() == []


def test_bloom_matches_full_filter_on_many_probes(spark, tmp_path):
    wh = _bloom_table(spark, tmp_path, "wh2")
    wh.record_bloom("t", ["id"])
    full = {r["id"] for r in wh.read("t").collect()}
    for probe in (0, 1, 2, 1499, 2998, 2999, 5000):
        got = {r["id"] for r in wh.read_pruned_where("t", {"id": probe}).collect()}
        assert got == ({probe} if probe in full else set())


def test_bloom_incremental_refresh_on_append(spark, tmp_path):
    import glob as _glob

    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec

    wh = _bloom_table(spark, tmp_path, "wh3")
    wh.record_bloom("t", ["id"])
    before = wh.bloom_indexed_files("t")
    index_files_before = set(
        _glob.glob(f"{wh._index_path('t', 'bloom', 'index')}/*.parquet")
    )
    assert before and index_files_before

    # append WITHOUT an explicit record_bloom: the writer keeps it fresh
    new = spark.createDataFrame(
        [(10_000 + i, f"n{i}", 0.0) for i in range(50)],
        "id: bigint, user: string, v: double",
    )
    wh.append(new, "t", TableSpec(partition_grain="NONE"))
    after = wh.bloom_indexed_files("t")
    assert after > before  # strictly more files indexed, old ones kept
    # incremental refresh APPENDED to the parquet index: the original
    # index part files are untouched (no rebuild of old bitmaps)
    index_files_after = set(_glob.glob(f"{wh._index_path('t', 'bloom', 'index')}/*.parquet"))
    assert index_files_after > index_files_before

    found = wh.read_pruned_where("t", {"id": 10_007})
    assert found.count() == 1
    assert len(found.inputFiles()) < len(after)


def test_bloom_index_is_parquet_and_invisible_to_data_paths(spark, tmp_path):
    """The bloom index is a parquet TABLE under <table>/_bloom/ — it
    must never leak into data reads, zone maps, compaction inputs, or
    table stats."""
    wh = _bloom_table(spark, tmp_path, "wh6")
    n_rows = wh.read("t").count()
    bytes_before = wh.table_bytes("t")
    files_before = wh.describe_detail("t")["num_files"]
    wh.record_bloom("t", ["id"])
    # index parquet exists on disk...
    import glob as _glob

    assert _glob.glob(f"{wh._index_path('t', 'bloom', 'index')}/*.parquet")
    # ...but row counts, byte totals, and file counts are unchanged
    assert wh.read("t").count() == n_rows
    assert wh.table_bytes("t") == bytes_before
    assert wh.describe_detail("t")["num_files"] == files_before
    # zonemap refresh does not index the bloom files either
    wh._record_zonemap("t")
    import json

    with open(wh._zonemap_path("t")) as f:
        zm = json.load(f)
    assert all(not rel.startswith("_bloom") for rel in zm)


def test_bloom_compact_rebuilds(spark, tmp_path):
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec

    wh = _bloom_table(spark, tmp_path, "wh4")
    wh.record_bloom("t", ["id"])
    wh.compact("t", TableSpec(partition_grain="NONE"), target_file_rows=500, min_files=1)
    # the recording SURVIVES the compaction dir swap (capture-and-
    # rebuild, not silent loss) and indexes the NEW files
    assert wh.bloom_meta("t") is not None
    indexed = wh.bloom_indexed_files("t")
    assert indexed and all("tmp" not in rel for rel in indexed)
    # post-compact bitmaps reflect the NEW files; results stay exact
    for probe in (42, 43, 44, 123_456):
        got = {r["id"] for r in wh.read_pruned_where("t", {"id": probe}).collect()}
        assert got == ({probe} if probe < 3000 else set())


def test_bloom_survives_overwrite(spark, tmp_path):
    """An overwrite is a full re-statement of the DATA, but the user's
    point-lookup index recording must survive it — rebuilt over the new
    files, still pruning."""
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    wh = _bloom_table(spark, tmp_path, "wh7")
    wh.record_bloom("t", ["id"])
    # overwrite with fresh interleaved batches (multiple files so
    # pruning has something to skip), then append more
    rows = [(i, f"w{i}", 1.0) for i in range(500)]
    wh.overwrite(
        spark.createDataFrame(rows, "id: bigint, user: string, v: double"),
        "t", TableSpec(partition_grain="NONE"),
    )
    assert wh.bloom_meta("t") is not None, "bloom recording lost on overwrite"
    for res in (1, 2):
        more = [(1000 * res + i, f"x{i}", 2.0) for i in range(100)]
        wh.append(
            spark.createDataFrame(more, "id: bigint, user: string, v: double"),
            "t", TableSpec(partition_grain="NONE"),
        )
    pruned = wh.read_pruned_where("t", {"id": 1007})
    assert [r["user"] for r in pruned.collect()] == ["x7"]
    all_files = set(glob.glob(f"{wh.path('t')}/**/*.parquet", recursive=True))
    all_files = {f for f in all_files if "/_bloom/" not in f}
    opened = {f.replace("file://", "") for f in pruned.inputFiles()}
    assert opened < all_files, "rebuilt bloom did not prune"
    # absent value still provably absent post-overwrite
    assert wh.read_pruned_where("t", {"id": 424_242}).inputFiles() == []


def test_bloom_supported_on_bucketed_tables(spark, tmp_path):
    """r08: bloom covers bucketed MERGE tables via the per-generation
    lifecycle (bucket routing prunes by key; bloom adds NON-key
    equality probes — depth coverage in test_bucketed_indexes.py)."""
    from pyspark.sql import functions as F

    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh5"))
    df = spark.createDataFrame(
        [(k, f"v{k}", k, False) for k in range(20)],
        "id: bigint, s: string, i: bigint, __tombstone: boolean",
    )
    wh.merge(
        df, "t", ["id"], mode="upsert",
        spec=TableSpec(partition_grain="NONE", key_bucket_count=4),
    )
    wh.record_bloom("t", ["s"])
    got = {r["id"] for r in wh.read_pruned_where("t", {"s": "v7"}).collect()}
    want = {r["id"] for r in wh.read("t").filter(F.col("s") == "v7").collect()}
    assert got == want == {7}


def test_zorder_string_column_pruning(spark, tmp_path):
    """Z-order over (string, numeric): string dims rank by sample-sorted
    cut strings, so files stay narrow — and therefore prunable — in the
    string dimension too (a hash-based rank would destroy this)."""
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    cats = [f"cat_{chr(97 + i)}" for i in range(16)]
    rows = [(i, cats[i % 16], float(i % 97)) for i in range(4000)]
    df = spark.createDataFrame(rows, "k: bigint, cat: string, v: double")
    wh = Warehouse(spark, str(tmp_path / "whz"))
    spec = TableSpec(partition_grain="NONE", clustering=("cat", "v"), zorder=True)
    wh.overwrite(df, "t", spec)
    wh.compact("t", spec, target_file_rows=500, min_files=1)

    all_files = set(glob.glob(f"{wh.path('t')}/**/*.parquet", recursive=True))
    assert len(all_files) > 2
    pruned = wh.read_pruned_where("t", {"cat": "cat_a"})
    opened = {f.replace("file://", "") for f in pruned.inputFiles()}
    assert opened < all_files, "string z-order dimension did not prune"
    got = {r["k"] for r in pruned.collect()}
    assert got == {i for i in range(4000) if i % 16 == 0}


def test_bloom_on_partitioned_table(spark, tmp_path):
    """Bloom filters over a column-partitioned table: index rel paths
    include the Hive partition dirs, pruned reads keep partition
    columns visible (basePath), and incremental refresh tracks files
    inside partition subdirs."""
    from pyspark.sql import functions as F

    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

    wh = Warehouse(spark, str(tmp_path / "whp"))
    spec = TableSpec(partition_grain="DAY", timestamp_field="ts")
    for res in range(2):
        rows = [
            (i * 2 + res, f"u{i * 2 + res}",
             "2024-01-0" + str(1 + (i % 3)) + " 12:00:00")
            for i in range(300)
        ]
        df = spark.createDataFrame(rows, "id: bigint, user: string, ts_s: string").select(
            "id", "user", F.to_timestamp("ts_s").alias("ts")
        )
        wh.append(df, "t", spec)
    wh.record_bloom("t", ["id"])
    indexed = wh.bloom_indexed_files("t")
    assert indexed and any("p_date=" in rel for rel in indexed)
    pruned = wh.read_pruned_where("t", {"id": 42})  # 42 even -> res 0 files
    got = pruned.collect()
    assert [r["id"] for r in got] == [42]
    assert "p_date" in pruned.columns and got[0]["p_date"] is not None
    all_files = {
        f for f in glob.glob(f"{wh.path('t')}/**/*.parquet", recursive=True)
        if "/_bloom/" not in f
    }
    opened = {f.replace("file://", "") for f in pruned.inputFiles()}
    assert opened < all_files
    # incremental refresh on append into a partition subdir
    extra = spark.createDataFrame(
        [(9999, "new", "2024-01-02 08:00:00")], "id: bigint, user: string, ts_s: string"
    ).select("id", "user", F.to_timestamp("ts_s").alias("ts"))
    wh.append(extra, "t", spec)
    assert wh.bloom_indexed_files("t") > indexed
    assert wh.read_pruned_where("t", {"id": 9999}).count() == 1
