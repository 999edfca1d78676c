"""Warehouse-native IVF ANN index (r09): ``record_ann`` /
``read_nearest`` complete the table-attached data-skipping index family
(bloom = equality, zone maps = range, HLL = distinct, text = CONTAINS,
ann = vector similarity).

Contracts pinned here, mirroring the family's (tests/test_bucketed_
indexes.py, test_warehouse_bloom.py):

- probe == exact brute force within the probed lists over the LIVE row
  set, regardless of index state (pruning is an optimization, never a
  correctness dependency);
- appends/merges refresh incrementally against the FROZEN quantizer;
  compact re-indexes against the same centroids; overwrite retrains;
- a list-clustered layout actually skips files (the 100-TB shape);
- loud when missing (the centroids define the semantics), conservative
  when stale.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_connect_bigquery_spark.operators import ann as ANN
from kafka_connect_bigquery_spark.sinks.warehouse import (
    TableSpec,
    Warehouse,
    WarehouseError,
)

DIM = 4


def _vec(xs):
    return [float(x) for x in xs]


def _corner(i: int, jitter: float = 0.0) -> list[float]:
    """A vector near corner i of the 4-cube — corners are far apart, so
    seeded centroids at distinct corners give a perfectly clusterable
    corpus (each corner's points assign to its seed)."""
    base = [1.0 if (i >> d) & 1 else -1.0 for d in range(DIM)]
    return [b + jitter for b in base]


def _corpus(spark, ids_and_vecs):
    return spark.createDataFrame(
        [(int(i), _vec(v)) for i, v in ids_and_vecs],
        "vec_id: long, embedding: array<float>",
    )


def _brute(wh, table, meta, qv, k, n_probe):
    """The probe's definition, computed without the index: assign every
    live row to the frozen centroids, keep the n_probe lists nearest to
    the query, exact cosine top-k (ties by id)."""
    probes = wh._ann_probe_lists(qv, meta["centroids"], n_probe)
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    rows = (
        wh.read(table)
        .filter(F.col(meta["col"]).isNotNull())
        .filter(ANN.assign_list(F.col(meta["col"]), meta["centroids"]).isin(probes))
        .select(
            F.col(meta["id_col"]).alias("neighbor_id"),
            ANN.cosine_from_quantized(
                ANN.quantized_dot(qlit, F.col(meta["col"])),
                ANN.quantized_norm_sq(qlit),
                ANN.quantized_norm_sq(F.col(meta["col"])),
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("neighbor_id"))
        .limit(k)
        .collect()
    )
    return [(r["neighbor_id"], r["cosine"]) for r in rows]


def _probe(wh, table, qv, k, n_probe):
    rows = wh.read_nearest(table, "embedding", qv, k=k, n_probe=n_probe).collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    return [(r["neighbor_id"], r["cosine"]) for r in rows]


def test_flat_lifecycle_incremental_matches_brute_force(spark, tmp_path):
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    wh.append(emb.filter(F.col("vec_id") % 2 == 0), "vecs", spec)
    wh.record_ann("vecs", "embedding", id_col="vec_id", n_lists=8)
    pre_centroids = wh.ann_meta("vecs")["centroids"]
    # append triggers the incremental refresh hook; quantizer frozen
    wh.append(emb.filter(F.col("vec_id") % 2 == 1), "vecs", spec)
    meta = wh.ann_meta("vecs")
    assert meta["centroids"] == pre_centroids
    live = wh._live_data_files("vecs")
    assert set(live) == wh.ann_indexed_files("vecs")  # fully fresh
    qv = _vec(emb.filter(F.col("vec_id") == 1).first()["embedding"])
    for n_probe in (1, 2, 8):
        assert _probe(wh, "vecs", qv, 5, n_probe) == _brute(
            wh, "vecs", meta, qv, 5, n_probe
        )


def test_list_clustered_layout_actually_skips_files(spark, tmp_path):
    """The 100-TB shape: data written clustered by list assignment —
    each append holds one corner's points — must let the probe skip
    every file of an unprobed list."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    # seeds first: ids 0..7 at the 8 corners land in the first append,
    # so seed_centroids picks exactly one per corner
    wh.append(
        _corpus(spark, [(i, _corner(i)) for i in range(8)]).coalesce(1),
        "vecs",
        spec,
    )
    wh.record_ann("vecs", "embedding", id_col="vec_id", n_lists=8)
    # one append per corner: 8 more single-list files
    for c in range(8):
        wh.append(
            _corpus(
                spark, [(100 + 10 * c + j, _corner(c, 0.01 * (j + 1))) for j in range(3)]
            ).coalesce(1),
            "vecs",
            spec,
        )
    meta = wh.ann_meta("vecs")
    qv = _corner(3, 0.005)
    probes = wh._ann_probe_lists(qv, meta["centroids"], 1)
    keep, skipped = wh._ann_candidate_files("vecs", probes)
    assert skipped >= 7  # the other corners' single-list files skipped
    assert _probe(wh, "vecs", qv, 4, 1) == _brute(wh, "vecs", meta, qv, 4, 1)
    # the nearest neighbors really are corner 3's points
    got_ids = [i for i, _ in _probe(wh, "vecs", qv, 4, 1)]
    assert set(got_ids) <= {3, 130, 131, 132}


def test_compact_reindexes_with_frozen_quantizer(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    rows = [(i, _corner(i % 8, 0.002 * i)) for i in range(40)]
    for lo in range(0, 40, 10):
        wh.append(_corpus(spark, rows[lo : lo + 10]).coalesce(1), "vecs", spec)
    wh.record_ann("vecs", "embedding", id_col="vec_id", n_lists=4)
    meta0 = wh.ann_meta("vecs")
    qv = _corner(2, 0.001)
    before = _probe(wh, "vecs", qv, 6, 2)
    assert wh.compact("vecs", spec) > 0
    meta1 = wh.ann_meta("vecs")
    assert meta1["centroids"] == meta0["centroids"]  # frozen across compact
    # index covers exactly the rewritten live files, results unchanged
    assert set(wh._live_data_files("vecs")) == wh.ann_indexed_files("vecs")
    assert _probe(wh, "vecs", qv, 6, 2) == before


def test_overwrite_retrains_quantizer(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    wh.append(_corpus(spark, [(i, _corner(i % 4, 0.01)) for i in range(12)]), "vecs", spec)
    wh.record_ann("vecs", "embedding", id_col="vec_id", n_lists=4)
    old_cents = wh.ann_meta("vecs")["centroids"]
    # re-state the corpus with entirely different vectors/ids
    wh.overwrite(
        _corpus(spark, [(1000 + i, _corner(7 - i % 8, 0.02)) for i in range(16)]),
        "vecs",
        spec,
    )
    meta = wh.ann_meta("vecs")
    assert meta["centroids"] != old_cents  # retrained on the new corpus
    qv = _corner(5, 0.01)
    assert _probe(wh, "vecs", qv, 5, 2) == _brute(wh, "vecs", meta, qv, 5, 2)


def test_overwrite_without_vector_column_drops_recording(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    wh.append(_corpus(spark, [(i, _corner(i % 4)) for i in range(8)]), "vecs", spec)
    wh.record_ann("vecs", "embedding", id_col="vec_id", n_lists=4)
    wh.overwrite(
        spark.createDataFrame([(1, "x")], "vec_id: long, label: string"),
        "vecs",
        spec,
    )
    assert wh.ann_meta("vecs") is None
    with pytest.raises(WarehouseError, match="no ANN index"):
        wh.read_nearest("vecs", "embedding", _corner(0), k=3)


def test_probe_is_loud_when_missing_and_ignores_null_vectors(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    df = _corpus(spark, [(i, _corner(i % 4)) for i in range(8)]).unionByName(
        spark.createDataFrame(
            [(99, None)], "vec_id: long, embedding: array<float>"
        )
    )
    wh.append(df, "vecs", spec)
    with pytest.raises(WarehouseError, match="no ANN index"):
        wh.read_nearest("vecs", "embedding", _corner(0), k=3)
    wh.record_ann("vecs", "embedding", id_col="vec_id", n_lists=4)
    got = _probe(wh, "vecs", _corner(0), 8, 4)
    assert 99 not in [i for i, _ in got]  # NULL vector joins no list


def test_record_ann_on_empty_corpus_raises(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    wh.append(
        spark.createDataFrame([], "vec_id: long, embedding: array<float>"),
        "vecs",
        spec,
    )
    with pytest.raises(WarehouseError, match="no non-null vectors"):
        wh.record_ann("vecs", "embedding", id_col="vec_id", n_lists=4)


def test_bucketed_merge_lifecycle(spark, tmp_path):
    """The bucketed twin: the live set resolves through the generation
    manifest, merge commits refresh incrementally, superseded
    generations' index rows go dead harmlessly, and the probe equals
    brute force over the POST-merge live rows (updates included)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE", key_bucket_count=4)
    base = [(i, _corner(i % 8, 0.001 * i)) for i in range(24)]
    delta = [(i, _corner((i + 1) % 8, 0.03)) for i in range(0, 24, 3)] + [
        (100 + i, _corner(i % 8, 0.02)) for i in range(6)
    ]

    def merged(rows):
        return _corpus(spark, rows).withColumn("i", F.col("vec_id"))

    wh.merge(merged(base), "vecs", ["vec_id"], mode="upsert", order_col="i", spec=spec)
    wh.record_ann("vecs", "embedding", id_col="vec_id", n_lists=4)
    cents0 = wh.ann_meta("vecs")["centroids"]
    wh.merge(merged(delta), "vecs", ["vec_id"], mode="upsert", order_col="i", spec=spec)
    meta = wh.ann_meta("vecs")
    assert meta["centroids"] == cents0  # frozen across merges
    # fully fresh: every live (manifest-resolved) file indexed
    assert set(wh._live_data_files("vecs")) <= wh.ann_indexed_files("vecs")
    qv = _corner(1, 0.005)
    for n_probe in (1, 2, 4):
        assert _probe(wh, "vecs", qv, 6, n_probe) == _brute(
            wh, "vecs", meta, qv, 6, n_probe
        )


def test_fuzz_probe_equals_brute_force_across_lifecycle(spark, tmp_path):
    """Randomized lifecycle fuzz (seeded): interleave appends, deferred
    deletes, and compactions; after every op the probe must equal the
    brute-force definition over the live rows — the family's invariant
    (skipping is an optimization, never a correctness dependency)."""
    import random

    rng = random.Random(90210)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    next_id = 0

    def batch(n):
        nonlocal next_id
        rows = []
        for _ in range(n):
            c = rng.randrange(8)
            rows.append((next_id, _corner(c, rng.random() * 0.05)))
            next_id += 1
        return _corpus(spark, rows)

    wh.append(batch(12).coalesce(1), "vecs", spec)
    wh.record_ann("vecs", "embedding", id_col="vec_id", n_lists=8)
    qv = _corner(4, 0.01)
    for step in range(6):
        op = rng.choice(["append", "append", "delete", "compact"])
        if op == "append":
            wh.append(batch(rng.randrange(3, 9)).coalesce(1), "vecs", spec)
        elif op == "delete":
            victim = rng.randrange(max(next_id, 1))
            wh.delete_where("vecs", f"vec_id = {victim}")
        else:
            wh.compact("vecs", spec)
        meta = wh.ann_meta("vecs")
        n_probe = rng.choice([1, 2, 8])
        got = _probe(wh, "vecs", qv, 5, n_probe)
        want = _brute(wh, "vecs", meta, qv, 5, n_probe)
        assert got == want, (step, op, n_probe, got, want)


def test_read_nearest_many_matches_per_query_probes(spark, tmp_path):
    """The batch probe equals read_nearest called per query — same
    frozen quantizer, same probe semantics — and exclude_self drops
    exactly the query's own row when queries are corpus rows."""
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    wh.append(emb.filter(F.col("vec_id") % 2 == 0), "vecs", spec)
    wh.record_ann("vecs", "embedding", id_col="vec_id", n_lists=8)
    wh.append(emb.filter(F.col("vec_id") % 2 == 1), "vecs", spec)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    many = {
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in wh.read_nearest_many(
            "vecs", "embedding", queries, k=4, n_probe=2
        ).collect()
    }
    single = set()
    for q in queries.collect():
        for r in wh.read_nearest(
            "vecs", "embedding", [float(x) for x in q["query_vec"]],
            k=4, n_probe=2,
        ).collect():
            single.add((q["query_id"], r["neighbor_id"], r["cosine"], r["rank"]))
    assert many == single
    # exclude_self: each query loses exactly its own row (cosine 1 rank 1)
    excl = {
        (r["query_id"], r["neighbor_id"])
        for r in wh.read_nearest_many(
            "vecs", "embedding", queries, k=4, n_probe=2, exclude_self=True
        ).collect()
    }
    assert all(q != n for q, n in excl)


def test_optimize_ann_makes_unclustered_data_prunable(spark, tmp_path):
    """The layout pass: an ingest-ordered table (every file holds every
    list) prunes nothing; after optimize_ann the same probes skip most
    files and return byte-identical results."""
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    # four ingest-ordered appends: list membership is uncorrelated with
    # file boundaries
    for m in range(4):
        wh.append(emb.filter(F.col("vec_id") % 4 == m).coalesce(1), "vecs", spec)
    wh.record_ann("vecs", "embedding", id_col="vec_id", n_lists=8)
    meta = wh.ann_meta("vecs")
    qv = _vec(emb.filter(F.col("vec_id") == 2).first()["embedding"])
    probes = wh._ann_probe_lists(qv, meta["centroids"], 1)
    before = _probe(wh, "vecs", qv, 5, 1)
    _, skipped_before = wh._ann_candidate_files("vecs", probes)
    assert skipped_before == 0  # every file holds every list
    assert wh.optimize_ann("vecs") > 0
    meta2 = wh.ann_meta("vecs")
    assert meta2["centroids"] == meta["centroids"]  # quantizer frozen
    keep, skipped = wh._ann_candidate_files("vecs", probes)
    assert skipped >= 4  # most files now provably skippable
    assert len(keep) <= 3
    assert _probe(wh, "vecs", qv, 5, 1) == before  # results identical


def test_filtered_probe_ranks_within_predicate(spark, tmp_path):
    """where= applies BEFORE ranking: top-k OF the matching rows, not a
    post-filter of an unfiltered top-k."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    rows = [(i, _corner(i % 4, 0.001 * (i + 1)), "en" if i % 2 == 0 else "de")
            for i in range(24)]
    df = spark.createDataFrame(
        [(i, v, lang) for i, v, lang in rows],
        "vec_id: long, embedding: array<float>, lang: string",
    )
    wh.append(df, "vecs", spec)
    wh.record_ann("vecs", "embedding", id_col="vec_id", n_lists=4)
    qv = _corner(1, 0.0005)
    got = wh.read_nearest(
        "vecs", "embedding", qv, k=4, n_probe=1, where="lang = 'de'"
    ).collect()
    ids = [r["neighbor_id"] for r in got]
    assert len(ids) == 4 and all(i % 2 == 1 for i in ids)
    # the batch form agrees
    queries = spark.createDataFrame(
        [(0, qv)], "query_id: long, query_vec: array<float>"
    )
    many = wh.read_nearest_many(
        "vecs", "embedding", queries, k=4, n_probe=1,
        where=F.col("lang") == "de",
    ).collect()
    assert [r["neighbor_id"] for r in many] == ids


def test_optimize_ann_refuses_bucketed_tables(spark, tmp_path):
    """optimize_ann's list-clustered rewrite only exists for flat
    tables: compact() on a bucketed table re-clusters by MERGE bucket
    and would silently ignore the list-id repartition expression. The
    call must refuse loudly, not no-op (ADVICE r10)."""
    import pytest as _pytest

    from kafka_connect_bigquery_spark.sinks.warehouse import WarehouseError

    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE", key_bucket_count=4)
    rows = [(i, _corner(i % 4, 0.001 * i)) for i in range(16)]
    df = _corpus(spark, rows).withColumn("i", F.col("vec_id"))
    wh.merge(df, "vecs", ["vec_id"], mode="upsert", order_col="i", spec=spec)
    wh.record_ann("vecs", "embedding", id_col="vec_id", n_lists=4)
    with _pytest.raises(WarehouseError, match="bucketed-MERGE"):
        wh.optimize_ann("vecs")


# ---------------------------------------------------------------------------
# PQ codes persisted in the index (r11): record_ann(pq_m=...) /
# read_nearest_pq — IVFADC where candidate generation + ADC scoring
# read stored m-int codes and only the shortlist's raw vectors are
# opened for the exact re-rank.
# ---------------------------------------------------------------------------


def _pq_ref(spark, wh, table, meta, qv, k, n_probe, shortlist):
    """The probe's definition, computed WITHOUT the stored codes:
    operators/ann.py::ivfpq_topk over the live rows with the same
    frozen centroids + codebooks (query as a synthetic -1 id row,
    no self-exclusion — read_nearest_pq probes a literal vector)."""
    corpus = (
        wh.read(table)
        .filter(F.col(meta["col"]).isNotNull())
        .select(F.col(meta["id_col"]).alias("vec_id"), F.col(meta["col"]).alias("embedding"))
    )
    q = spark.createDataFrame([(-1, _vec(qv))], "vec_id: long, embedding: array<double>")
    rows = (
        ANN.ivfpq_topk(
            q, corpus, meta["centroids"], meta["codebooks"],
            k=k, n_probe=n_probe, shortlist=shortlist, exclude_self=False,
        )
        .orderBy("rank")
        .collect()
    )
    return [
        (r["neighbor_id"], round(r["adc_dist"], 9), round(r["cosine"], 9), r["rank"])
        for r in rows
    ]


def _pq_probe(wh, table, qv, k, n_probe, shortlist):
    rows = (
        wh.read_nearest_pq(table, "embedding", qv, k=k, n_probe=n_probe, shortlist=shortlist)
        .orderBy("rank")
        .collect()
    )
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    return [
        (r["neighbor_id"], round(r["adc_dist"], 9), round(r["cosine"], 9), r["rank"])
        for r in rows
    ]


def test_pq_lifecycle_incremental_matches_operator(spark, tmp_path):
    """Codes stored at record time + codes appended by the incremental
    refresh (frozen codebooks) reproduce ivfpq_topk bit-exactly."""
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    wh.append(emb.filter(F.col("vec_id") % 2 == 0), "vecs", spec)
    wh.record_ann(
        "vecs", "embedding", id_col="vec_id", n_lists=8, pq_m=8, pq_ksub=16
    )
    meta0 = wh.ann_meta("vecs")
    assert meta0["pq_m"] == 8 and len(meta0["codebooks"]) == 8
    wh.append(emb.filter(F.col("vec_id") % 2 == 1), "vecs", spec)
    meta = wh.ann_meta("vecs")
    assert meta["codebooks"] == meta0["codebooks"]  # frozen
    live = wh._live_data_files("vecs")
    assert set(live) == wh.ann_encoded_files("vecs")  # codes fully fresh
    qv = _vec(emb.filter(F.col("vec_id") == 1).first()["embedding"])
    for n_probe, shortlist in ((1, 10), (2, 20), (8, 30)):
        assert _pq_probe(wh, "vecs", qv, 5, n_probe, shortlist) == _pq_ref(
            spark, wh, "vecs", meta, qv, 5, n_probe, shortlist
        )


def test_pq_probe_skips_files(spark, tmp_path):
    """File-skipping proof for the PQ probe: with the corpus written
    one-list-per-file, a 1-probe query must prune every other list's
    files (membership index) while the codes path returns the exact
    IVFADC answer."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    wh.append(
        _corpus(spark, [(i, _corner(i)) for i in range(8)]).coalesce(1),
        "vecs",
        spec,
    )
    wh.record_ann(
        "vecs", "embedding", id_col="vec_id", n_lists=8, pq_m=2, pq_ksub=8
    )
    for c in range(8):
        wh.append(
            _corpus(
                spark,
                [(100 + 10 * c + j, _corner(c, 0.01 * (j + 1))) for j in range(3)],
            ).coalesce(1),
            "vecs",
            spec,
        )
    meta = wh.ann_meta("vecs")
    qv = _corner(3, 0.005)
    probes = wh._ann_probe_lists(qv, meta["centroids"], 1)
    _, skipped = wh._ann_candidate_files("vecs", probes)
    assert skipped >= 7
    got = _pq_probe(wh, "vecs", qv, 4, 1, 10)
    assert got == _pq_ref(spark, wh, "vecs", meta, qv, 4, 1, 10)
    assert {i for i, *_ in got} <= {3, 130, 131, 132}


def test_pq_unencoded_file_falls_back_on_the_fly(spark, tmp_path):
    """A torn codes build (file in the membership index but not the
    codes table) costs IO, never correctness: the probe encodes the
    unencoded candidate file from its raw column with the same frozen
    codebooks."""
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    wh.append(emb.filter(F.col("vec_id") % 2 == 0), "vecs", spec)
    wh.record_ann(
        "vecs", "embedding", id_col="vec_id", n_lists=8, pq_m=8, pq_ksub=16
    )
    # simulate the torn build: the incremental refresh updates the
    # membership rows but dies before the codes write
    orig = Warehouse._ann_codes_build
    Warehouse._ann_codes_build = lambda self, t, m, f: (None, False)
    try:
        wh.append(emb.filter(F.col("vec_id") % 2 == 1), "vecs", spec)
    finally:
        Warehouse._ann_codes_build = orig
    live = wh._live_data_files("vecs")
    enc = wh.ann_encoded_files("vecs")
    assert enc < set(live)  # second append's file(s) unencoded
    assert set(live) == wh.ann_indexed_files("vecs")  # membership fresh
    meta = wh.ann_meta("vecs")
    qv = _vec(emb.filter(F.col("vec_id") == 1).first()["embedding"])
    assert _pq_probe(wh, "vecs", qv, 5, 2, 20) == _pq_ref(
        spark, wh, "vecs", meta, qv, 5, 2, 20
    )


def test_pq_torn_codes_build_heals_on_next_refresh(spark, tmp_path):
    """The torn-codes IO penalty is TRANSIENT, not permanent: the codes
    scan set derives from live - encoded (not from the membership
    index's new-file set), so the next incremental record_ann backfills
    the unencoded files — even when no new data arrived to create new
    membership work."""
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    wh.append(emb.filter(F.col("vec_id") % 2 == 0), "vecs", spec)
    wh.record_ann(
        "vecs", "embedding", id_col="vec_id", n_lists=8, pq_m=8, pq_ksub=16
    )
    orig = Warehouse._ann_codes_build
    Warehouse._ann_codes_build = lambda self, t, m, f: (None, False)
    try:
        wh.append(emb.filter(F.col("vec_id") % 2 == 1), "vecs", spec)
    finally:
        Warehouse._ann_codes_build = orig
    live = wh._live_data_files("vecs")
    assert wh.ann_encoded_files("vecs") < set(live)  # the tear
    assert wh.ann_indexed_files("vecs") == set(live)  # membership fresh
    # the heal tick: membership has NOTHING new, codes do
    wh.record_ann(
        "vecs",
        "embedding",
        id_col="vec_id",
        n_lists=8,
        pq_m=8,
        pq_ksub=16,
        incremental=True,
    )
    assert wh.ann_encoded_files("vecs") == set(live)
    meta = wh.ann_meta("vecs")
    qv = _vec(emb.filter(F.col("vec_id") == 1).first()["embedding"])
    assert _pq_probe(wh, "vecs", qv, 5, 2, 20) == _pq_ref(
        spark, wh, "vecs", meta, qv, 5, 2, 20
    )
    # and the healed state is stable: another tick is a no-op
    import os as _os

    before = sorted(_os.listdir(wh._index_path("vecs", "ann", "codes")))
    wh.record_ann(
        "vecs",
        "embedding",
        id_col="vec_id",
        n_lists=8,
        pq_m=8,
        pq_ksub=16,
        incremental=True,
    )
    assert sorted(_os.listdir(wh._index_path("vecs", "ann", "codes"))) == before


def test_pq_compact_and_optimize_keep_codebooks_and_results(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    rows = [(i, _corner(i % 8, 0.002 * (i + 1))) for i in range(40)]
    for lo in range(0, 40, 10):
        wh.append(_corpus(spark, rows[lo : lo + 10]).coalesce(1), "vecs", spec)
    wh.record_ann(
        "vecs", "embedding", id_col="vec_id", n_lists=4, pq_m=2, pq_ksub=8
    )
    meta0 = wh.ann_meta("vecs")
    qv = _corner(2, 0.001)
    before = _pq_probe(wh, "vecs", qv, 6, 2, 15)
    assert wh.optimize_ann("vecs") > 0
    meta1 = wh.ann_meta("vecs")
    assert meta1["codebooks"] == meta0["codebooks"]  # frozen across compact
    assert set(wh._live_data_files("vecs")) == wh.ann_encoded_files("vecs")
    assert _pq_probe(wh, "vecs", qv, 6, 2, 15) == before
    # and the clustered layout now prunes 1-probe queries
    probes = wh._ann_probe_lists(qv, meta1["centroids"], 1)
    _, skipped = wh._ann_candidate_files("vecs", probes)
    assert skipped > 0


def test_pq_deferred_delete_rows_never_surface(spark, tmp_path):
    """Stored codes of a row excised by a deferred delete_where may
    still occupy shortlist slots, but the delete-aware re-rank drops
    them — the deleted row never reaches the result."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    rows = [(i, _corner(i % 4, 0.002 * (i + 1))) for i in range(24)]
    wh.append(_corpus(spark, rows).coalesce(1), "vecs", spec)
    wh.record_ann(
        "vecs", "embedding", id_col="vec_id", n_lists=4, pq_m=2, pq_ksub=8
    )
    qv = _corner(2, 0.0019)  # vec_id 2 territory
    top1 = _pq_probe(wh, "vecs", qv, 3, 4, 50)[0][0]
    wh.delete_where("vecs", f"vec_id = {top1}")
    meta = wh.ann_meta("vecs")
    after = _pq_probe(wh, "vecs", qv, 3, 4, 50)
    assert top1 not in [i for i, *_ in after]
    # with the shortlist covering every candidate, the result equals
    # the reference computed over the LIVE (post-delete) rows
    assert after == _pq_ref(spark, wh, "vecs", meta, qv, 3, 4, 50)


def test_pq_loud_when_missing_and_rerecord_without_pq_drops_codes(spark, tmp_path):
    import os as _os

    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    rows = [(i, _corner(i % 4, 0.002 * (i + 1))) for i in range(16)]
    wh.append(_corpus(spark, rows).coalesce(1), "vecs", spec)
    wh.record_ann("vecs", "embedding", id_col="vec_id", n_lists=4)
    with pytest.raises(WarehouseError, match="no PQ codes"):
        wh.read_nearest_pq("vecs", "embedding", _corner(1), k=3)
    wh.record_ann(
        "vecs", "embedding", id_col="vec_id", n_lists=4, pq_m=2, pq_ksub=8
    )
    assert _os.path.isdir(wh._index_path("vecs", "ann", "codes"))
    assert wh.read_nearest_pq("vecs", "embedding", _corner(1), k=3).count() == 3
    # re-record WITHOUT pq: stale codes must not survive under new meta
    wh.record_ann("vecs", "embedding", id_col="vec_id", n_lists=4)
    assert not _os.path.isdir(wh._index_path("vecs", "ann", "codes"))
    with pytest.raises(WarehouseError, match="no PQ codes"):
        wh.read_nearest_pq("vecs", "embedding", _corner(1), k=3)


def test_pq_bucketed_merge_lifecycle(spark, tmp_path):
    """PQ on a bucketed-MERGE table: codes live per generation like the
    membership rows — merges refresh them incrementally against frozen
    centroids AND codebooks, superseded generations' codes rows go dead
    harmlessly (the probe's file semi-join ignores them), and the ADC
    shortlist + exact re-rank equals ivfpq_topk over the POST-merge
    live rows (updates included)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE", key_bucket_count=4)
    base = [(i, _corner(i % 8, 0.001 * i)) for i in range(24)]
    delta = [(i, _corner((i + 1) % 8, 0.03)) for i in range(0, 24, 3)] + [
        (100 + i, _corner(i % 8, 0.02)) for i in range(6)
    ]

    def merged(rows):
        return _corpus(spark, rows).withColumn("i", F.col("vec_id"))

    wh.merge(merged(base), "vecs", ["vec_id"], mode="upsert", order_col="i", spec=spec)
    wh.record_ann(
        "vecs", "embedding", id_col="vec_id", n_lists=4, pq_m=2, pq_ksub=8
    )
    meta0 = wh.ann_meta("vecs")
    wh.merge(merged(delta), "vecs", ["vec_id"], mode="upsert", order_col="i", spec=spec)
    meta = wh.ann_meta("vecs")
    assert meta["codebooks"] == meta0["codebooks"]  # frozen across merges
    assert set(wh._live_data_files("vecs")) <= wh.ann_encoded_files("vecs")
    qv = _corner(1, 0.005)
    for n_probe, shortlist in ((1, 8), (2, 12), (4, 40)):
        assert _pq_probe(wh, "vecs", qv, 6, n_probe, shortlist) == _pq_ref(
            spark, wh, "vecs", meta, qv, 6, n_probe, shortlist
        )


def test_pq_many_matches_per_query_probes(spark, tmp_path):
    """The batch PQ probe equals the single-query probe per query (and
    both equal the operator-level IVFADC), with exclude_self dropping
    corpus-row queries' self-matches."""
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    spec = TableSpec(partition_grain="NONE")
    wh.append(emb.filter(F.col("vec_id") % 2 == 0), "vecs", spec)
    wh.record_ann(
        "vecs", "embedding", id_col="vec_id", n_lists=8, pq_m=8, pq_ksub=16
    )
    wh.append(emb.filter(F.col("vec_id") % 2 == 1), "vecs", spec)
    meta = wh.ann_meta("vecs")
    qdf = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = {
        (r["query_id"], r["rank"]): (
            r["neighbor_id"], round(r["adc_dist"], 9), round(r["cosine"], 9)
        )
        for r in wh.read_nearest_pq_many(
            "vecs", "embedding", qdf, k=4, n_probe=2, shortlist=15,
            exclude_self=False,
        ).collect()
    }
    for row in qdf.collect():
        qv = [float(x) for x in row["query_vec"]]
        single = _pq_probe(wh, "vecs", qv, 4, 2, 15)
        for nid, adc, cos, rank in single:
            assert got[(row["query_id"], rank)] == (nid, adc, cos)
    # exclude_self: a corpus-row query never returns itself
    ex = wh.read_nearest_pq_many(
        "vecs", "embedding", qdf, k=4, n_probe=2, shortlist=15,
        exclude_self=True,
    ).collect()
    assert all(r["neighbor_id"] != r["query_id"] for r in ex)
    assert ex  # still returns neighbors
