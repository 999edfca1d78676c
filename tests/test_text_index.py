"""Per-file full-text token index (`record_text_index` /
`read_containing`): CONTAINS-style file skipping whose results must
equal the unindexed filter across append (incremental refresh) /
overwrite / compact (rebuild), with deferred deletes applied and
unindexed files conservatively read."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from kafka_connect_bigquery_spark.functions.text import tokens
from kafka_connect_bigquery_spark.sinks.warehouse import (
    TableSpec,
    Warehouse,
    WarehouseError,
)

PLAIN = TableSpec(partition_grain="NONE")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "k: bigint, body: string")


def _want(wh, term):
    return {
        r["k"]
        for r in wh.read("t")
        .filter(F.array_contains(tokens(F.coalesce(F.col("body"), F.lit(""))), term))
        .collect()
    }


def _got(wh, term):
    return {r["k"] for r in wh.read_containing("t", "body", term).collect()}


def test_contains_matches_plain_filter_and_skips_files(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append(_docs(spark, [(1, "alpha beta gamma"), (2, "beta delta")]), "t", PLAIN)
    wh.append(_docs(spark, [(3, "epsilon zeta"), (4, None)]), "t", PLAIN)
    wh.record_text_index("t", ["body"])
    for term in ("beta", "epsilon", "missing", "alpha"):
        assert _got(wh, term) == _want(wh, term)
    # the skipping is real: a term confined to one file reads one file
    idx = wh._index_path("t", "text", "index")
    assert os.path.isdir(idx)
    import pyarrow.dataset as pads

    ds = pads.dataset(idx, format="parquet")
    files_with_epsilon = {
        f
        for batch in ds.to_batches(
            columns=["f"], filter=(pads.field("tok") == "epsilon")
        )
        for f in batch.column("f").to_pylist()
    }
    assert len(files_with_epsilon) >= 1
    all_scanned = wh.text_indexed_files("t")
    assert files_with_epsilon < all_scanned


def test_incremental_append_refresh_and_unindexed_conservative(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append(_docs(spark, [(1, "alpha beta")]), "t", PLAIN)
    wh.record_text_index("t", ["body"])
    # append AFTER recording: the auto-refresh hook indexes new files
    wh.append(_docs(spark, [(2, "omega psi")]), "t", PLAIN)
    assert _got(wh, "omega") == {2} == _want(wh, "omega")
    # a file the index never saw is conservatively read: wipe the index
    # dir's knowledge of file 2 by rebuilding from only file 1's rows —
    # simulate by dropping the marker via a fresh index over col meta
    # mismatch (cols differ -> full rebuild path still covers all). The
    # conservative contract is covered by reading through a stale
    # bloom-style miss: delete the index dir entirely and verify the
    # fallback equals the plain filter.
    import shutil

    shutil.rmtree(wh._index_path("t", "text"))
    assert _got(wh, "omega") == {2}


def test_overwrite_and_compact_rebuild_index(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append(_docs(spark, [(1, "alpha beta"), (2, "beta gamma")]), "t", PLAIN)
    wh.record_text_index("t", ["body"])
    wh.overwrite(_docs(spark, [(5, "nu xi"), (6, "xi omicron")]), "t", PLAIN)
    assert wh.text_meta("t") == {"cols": ["body"]}
    assert _got(wh, "alpha") == set()
    assert _got(wh, "xi") == {5, 6} == _want(wh, "xi")
    wh.append(_docs(spark, [(7, "pi rho")]), "t", PLAIN)
    wh.compact("t", PLAIN, min_files=1)
    assert _got(wh, "pi") == {7} == _want(wh, "pi")


def test_deferred_deletes_apply_through_index_reads(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append(
        _docs(spark, [(1, "alpha beta"), (2, "alpha gamma"), (3, "beta")]),
        "t",
        PLAIN,
    )
    wh.record_text_index("t", ["body"])
    wh.delete_where("t", "k = 2")
    # index is file-physical (k=2's tokens still recorded) but the read
    # applies the pending delete — file skipping never resurrects rows
    assert _got(wh, "alpha") == {1} == _want(wh, "alpha")
    # later append matching the predicate survives (snapshot scope)
    wh.append(_docs(spark, [(2, "alpha resurrect")]), "t", PLAIN)
    assert _got(wh, "alpha") == {1, 2} == _want(wh, "alpha")


def test_bucketed_tables_supported_and_tokenization_is_canonical(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "needle in X", 0, False), (2, "hay only", 0, False)],
        "k: bigint, body: string, i: bigint, __tombstone: boolean",
    )
    wh.merge(df, "b", ["k"], mode="upsert", spec=TableSpec(
        partition_grain="NONE", key_bucket_count=2
    ))
    # r07 verdict ask 3: bucketed tables take the per-generation index
    # lifecycle (depth coverage in test_bucketed_indexes.py)
    wh.record_text_index("b", ["body"])
    assert {r["k"] for r in wh.read_containing("b", "body", "needle").collect()} == {1}
    # canonical tokenizer: case-folded, whitespace-collapsed
    wh.append(_docs(spark, [(1, "Alpha   BETA\ngamma")]), "t", PLAIN)
    wh.record_text_index("t", ["body"])
    assert _got(wh, "beta") == {1}
    assert _got(wh, "BETA") == set()


def test_read_containing_all_conjunctive_probe(spark, tmp_path):
    """Multi-term AND grep (r08): exactly the chained array_contains
    filter, one index probe for all terms, pruning multiplies — a
    scanned file missing ANY term is skipped; unindexed files are
    conservatively read."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    docs = [
        (1, "alpha beta gamma"),
        (2, "alpha beta"),
        (3, "alpha gamma"),
        (4, "delta epsilon"),
        (5, None),
    ]
    for k, body in docs:  # one file per row -> per-file pruning visible
        wh.append(_docs(spark, [(k, body)]), "t", PLAIN)
    wh.record_text_index("t", ["body"])

    def got(terms):
        return {
            r["k"] for r in wh.read_containing_all("t", "body", terms).collect()
        }

    assert got(["alpha"]) == {1, 2, 3}
    assert got(["alpha", "beta"]) == {1, 2}
    assert got(["alpha", "beta", "gamma"]) == {1}
    assert got(["alpha", "zzz"]) == set()
    assert got(["beta", "beta"]) == {1, 2}  # dupes collapse
    # conjunctive pruning actually narrows the scan
    both = wh.read_containing_all("t", "body", ["alpha", "beta"])
    assert len(both.inputFiles()) == 2
    # an unindexed late append is conservatively read
    wh2 = Warehouse(spark, str(tmp_path / "wh"))
    spark.createDataFrame([(9, "alpha beta late")], "k: bigint, body: string").write.mode(
        "append"
    ).parquet(wh2.path("t"))
    assert got(["alpha", "beta"]) == {1, 2, 9}
