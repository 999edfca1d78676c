"""On-disk format pin for the per-file skipping indexes (Bloom, HLL
sketch, text, ANN membership and PQ codes).

The index subdirs, ``meta.json`` keys, index-table schemas and marker
rows are a storage format: external readers and older tables depend on
them. This test records every kind on a two-file flat table, appends a
third file (the incremental refresh path) and pins exactly that format,
so a refactor of the index lifecycle cannot drift it silently.
"""
from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, Warehouse

PLAIN = TableSpec(partition_grain="NONE")

SCHEMAS = {
    ("_bloom", "index"): "struct<f:string,c:string,w:int,bits:bigint>",
    ("_sketch", "index"): "struct<f:string,c:string,register:int,rho:int>",
    ("_text", "index"): "struct<f:string,c:string,tok:string>",
    ("_ann", "index"): "struct<f:string,list_id:int>",
    ("_ann", "codes"): "struct<f:string,nid:bigint,list_id:int,codes:array<int>>",
}

# (marker predicate, marker row minus f and c) per index table
MARKERS = {
    ("_bloom", "index"): ("w = -1", {"w": -1, "bits": 0}),
    ("_sketch", "index"): ("register = -1", {"register": -1, "rho": 0}),
    ("_text", "index"): ("tok = ''", {"tok": ""}),
    ("_ann", "index"): ("list_id = -1", {"list_id": -1}),
    ("_ann", "codes"): ("list_id = -1", {"list_id": -1, "nid": None, "codes": None}),
}

ANN_KEYS = ["col", "id_col", "n_lists", "iters", "centroids"]
PQ_KEYS = ["pq_m", "pq_ksub", "codebooks"]


def _batch(spark, lo, hi):
    return spark.createDataFrame(
        [
            (i, f"n{i % 3}", f"w{i} common", [float(i % 2), 1.0 - i % 2])
            for i in range(lo, hi)
        ],
        "vid: long, name: string, body: string, emb: array<float>",
    ).coalesce(1)


def _meta_text(wh, table, sub):
    with open(os.path.join(wh.path(table), sub, "meta.json")) as f:
        return f.read()


# declared DDL per index table: marker-only writes land in this order
DDLS = {
    (kind.subdir, t.name): t.ddl
    for kind in Warehouse._INDEX_KINDS.values()
    for t in kind.tables
}


def _check_tables(spark, wh, table, cols_by_table):
    """Schema and one marker per scanned (file, column) for every index
    table of ``table``; markers cover exactly the live files."""
    live = sorted(wh._live_data_files(table))
    for (sub, name), cols in cols_by_table.items():
        d = os.path.join(wh.path(table), sub, name)
        df = spark.read.parquet(d)
        assert df.schema.simpleString() == SCHEMAS[(sub, name)], (sub, name)
        # data-bearing and marker-only files share one column order
        ddl_names = T.StructType.fromDDL(DDLS[(sub, name)]).names
        assert ddl_names == df.schema.names, (sub, name, ddl_names)
        is_marker, tail = MARKERS[(sub, name)]
        rows = [r.asDict() for r in df.filter(is_marker).collect()]
        keys = sorted(
            (r["f"], r["c"]) if "c" in r else (r["f"],) for r in rows
        )
        want = sorted(
            (f, c) if cols else (f,) for f in live for c in (cols or [None])
        )
        assert keys == want, (sub, name, keys, want)
        for r in rows:
            assert {k: r[k] for k in tail} == tail, (sub, name, r)


def test_index_on_disk_format(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.append(_batch(spark, 0, 4), "t", PLAIN)
    wh.append(_batch(spark, 4, 8), "t", PLAIN)
    assert len(wh._live_data_files("t")) == 2
    wh.record_bloom("t", ["vid", "name"])
    wh.record_sketch("t", ["name"])
    wh.record_text_index("t", ["body"])
    wh.record_ann("t", "emb", id_col="vid", n_lists=2)
    tables = {
        ("_bloom", "index"): ["name", "vid"],
        ("_sketch", "index"): ["name"],
        ("_text", "index"): ["body"],
        ("_ann", "index"): None,
    }
    for step in ("record", "record_pq", "append"):
        pq = step != "record"
        if step == "record_pq":
            wh.record_ann("t", "emb", id_col="vid", n_lists=2, pq_m=2, pq_ksub=2)
            tables[("_ann", "codes")] = None
        elif step == "append":
            wh.append(_batch(spark, 8, 12), "t", PLAIN)
            assert len(wh._live_data_files("t")) == 3
        for sub in ("_bloom", "_sketch", "_text", "_ann"):
            want = ["index", "meta.json"] + (["codes"] if sub == "_ann" and pq else [])
            assert sorted(os.listdir(os.path.join(wh.path("t"), sub))) == sorted(want)
        assert _meta_text(wh, "t", "_bloom") == (
            '{"m": 8192, "k": 4, "cols": ["name", "vid"]}'
        )
        assert _meta_text(wh, "t", "_sketch") == '{"p": 8, "cols": ["name"]}'
        assert _meta_text(wh, "t", "_text") == '{"cols": ["body"]}'
        ann = json.loads(_meta_text(wh, "t", "_ann"))
        assert list(ann) == ANN_KEYS + (PQ_KEYS if pq else [])
        assert (ann["col"], ann["id_col"], ann["n_lists"], ann["iters"]) == (
            "emb", "vid", 2, 0
        )
        if pq:
            assert (ann["pq_m"], ann["pq_ksub"]) == (2, 2)
        _check_tables(spark, wh, "t", tables)
