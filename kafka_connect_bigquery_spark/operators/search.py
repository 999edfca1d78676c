"""Hybrid retrieval: per-query lexical ranking + reciprocal-rank fusion.

The RAG-era search stack queries BOTH a lexical index and a dense
(embedding) index and fuses the two rankings; reciprocal-rank fusion
(Cormack, Clarke & Buettcher, SIGIR 2009) is the standard rank-level
combiner because it needs no score calibration between heterogeneous
retrievers. The fused score here is integer — SUM over lists of
floor(q / (k + rank)) — so the ranking is engine- and partitioning-
exact (float RRF sums are summation-order dependent).

Scale shape: each retriever produces a (query, doc, rank) frame of at
most top_n rows per query; fusion is a union + one groupBy on
(query, doc) + one per-query window over <= n_lists * top_n rows — the
corpus is never touched again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RRF_Q = 1_000_000  # score lattice
RRF_K = 60  # the SIGIR-2009 default damping


def jaccard_rank(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    top_n: int = 20,
    max_doc_freq: int | None = 100,
    queries_in_corpus: bool = False,
) -> DataFrame:
    """Lexical retrieval: rank corpus documents for each query document
    by character-n-gram Jaccard overlap, via the same inverted-index
    join the dedup pass uses (operators/dedup.py:_shingle_postings) —
    only postings of the query set join the corpus index, so cost
    follows |queries|·postings, never corpus². Returns
    (query_id, doc_id, jaccard, rank) with rank <= top_n, self-matches
    excluded. Shingle keys travel packed as BIGINTs only for ``n <= 8``
    (128^9 overflows int64); wider shingles fall back to string keys —
    same results, slower joins.

    Contracts (caller-asserted, not checked at runtime):

    - the QUERY SET must be broadcast-small: query postings
      (|queries| × shingles-per-doc rows) are force-broadcast so the
      corpus index is never exchanged; a query set of thousands of long
      documents can exceed the broadcast limit, where the pre-r13
      shuffle join merely degraded. This operator is built for the
      few-queries-against-big-corpus shape.
    - ``queries_in_corpus=True`` asserts every query row is id- AND
      text-identical to a corpus row AND that corpus (id, text) rows
      are unique: the pre-r13 union+``distinct`` also deduped
      corpus-internal duplicate rows, so a corpus with duplicate
      (id, text) rows would double its postings (and every Jaccard
      intersection/size count) under the fast path. The engine's
      corpora are id-unique by construction; an external caller who
      cannot assert this must pass ``queries_in_corpus=False``."""
    from kafka_connect_bigquery_spark.operators.dedup import _shingle_postings

    # ``queries_in_corpus=True``: the caller asserts every query row is
    # (id- and text-identical) a corpus row, so the index universe IS
    # the corpus and the union+distinct — a full shuffle of the raw
    # corpus TEXT just to dedup a handful of known members — is
    # skipped. At scale that is a corpus-sized exchange an index build
    # must not pay (guide §2.4); it also keeps the corpus frame on raw
    # scan lineage, so _shingle_postings widens via fan_out instead of
    # an explicit repartition.
    if queries_in_corpus:
        union = corpus.select(id_col, text_col)
    else:
        union = queries.select(id_col, text_col).unionByName(
            corpus.select(id_col, text_col)
        ).distinct()
    # pack=True: shingles ride every downstream exchange/join of this
    # index as BIGINTs instead of n-char strings (injective — see
    # _shingle_postings; the shingle value never surfaces in results)
    posts = _shingle_postings(union, id_col, text_col, n, max_doc_freq, pack=True)
    sizes = posts.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    qids = queries.select(F.col(id_col).alias("doc")).distinct()
    qposts = posts.join(F.broadcast(qids), "doc").select(
        F.col("doc").alias("qid"), "sh"
    )
    # Broadcast the QUERY postings (|queries| ~ 10 docs, bounded by the
    # caller) instead of equi-joining two derivations of the corpus
    # index: the planner otherwise shuffles the ENTIRE postings frame
    # by `sh` on both sides (profiled: the two dominant exchanges of
    # search_hybrid_rrf at sf0.1). With the broadcast the corpus index
    # is never exchanged — cost follows |queries|·postings with zero
    # index movement, the right shape at any corpus scale (guide §3.1).
    inter = (
        posts.select(F.col("doc").alias("did"), "sh")
        .join(F.broadcast(qposts), "sh")
        .filter(F.col("qid") != F.col("did"))
        .groupBy("qid", "did")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    scored = (
        inter.join(
            sizes.select(F.col("doc").alias("qid"), F.col("sz").alias("sz_q")),
            "qid",
        )
        .join(
            sizes.select(F.col("doc").alias("did"), F.col("sz").alias("sz_d")),
            "did",
        )
        .withColumn(
            "jaccard",
            F.col("inter_size")
            / (F.col("sz_q") + F.col("sz_d") - F.col("inter_size")).cast("double"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("jaccard"), F.asc("did"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            F.col("qid").alias("query_id"),
            F.col("did").alias("doc_id"),
            "jaccard",
            "rank",
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    *,
    k: int = RRF_K,
    top_k: int = 10,
    q: int = RRF_Q,
) -> DataFrame:
    """Fuse (query_id, doc_id, rank) frames by integer reciprocal-rank
    fusion: score_q = sum over lists of q // (k + rank). Returns
    (query_id, doc_id, score_q, n_lists, rank) with the fused rank
    <= top_k (ties broken by doc_id)."""
    parts = [
        r.select(
            "query_id",
            "doc_id",
            F.expr(f"{q}L div ({k} + rank)").alias("contrib"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("query_id", "doc_id").agg(
        F.sum("contrib").cast("bigint").alias("score_q"),
        F.count(F.lit(1)).cast("int").alias("n_lists"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score_q"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )
