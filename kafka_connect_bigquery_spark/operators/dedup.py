"""Document deduplication operators for large-scale training-data pipelines.

Five strategies, all expressed as declarative DataFrame plans (no Python
in the hot path) so Catalyst/AQE choose physical execution:

- exact:          hash-groupBy on a canonical fingerprint
- n-gram Jaccard: shingle explode -> inverted-index self-join -> ratio
- MinHash + LSH:  shingle -> per-seed min-hash -> band -> bucket join
- SimHash:        token bit-vote signature -> small-hamming pairs
- embedding:      quantized-cosine near-duplicate pairs (see ann.py)

Determinism note: every hash is md5-of-string (identical across
engines/platforms), and every float reduction is quantized to integers
first (see ann.py), so results are bit-reproducible — a requirement for
auditable dedup decisions over a 100 TB corpus, not just for tests.

Scale design: all strategies avoid the O(n²) all-pairs comparison. The
inverted-index join (shingle/band/bucket as join key) shuffles
*candidates*, not the cross product; `block_col` adds coarse blocking
(e.g. language) on top. At 1000 executors each join key is one shuffle
partition's worth of postings — skew from stop-shingles is handled by
dropping top-frequency shingles (``max_doc_freq``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# canonicalization + exact dedup
# --------------------------------------------------------------------------

def canonical_text(col: Column) -> Column:
    """Lowercase, collapse whitespace, strip non-alphanumerics — the
    canonical form used for exact-duplicate detection."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the canonical text."""
    return F.md5(canonical_text(col))


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Exact dedup via hash-groupBy: one shuffle on the fingerprint.

    Returns (fingerprint, keep_id, dup_count) — keep the smallest id per
    group (deterministic survivor policy).
    """
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# --------------------------------------------------------------------------
# shingling
# --------------------------------------------------------------------------

def passage_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    passage_tokens: int = 10,
    max_doc_freq: int = 3,
) -> DataFrame:
    """Passage-level boilerplate detection (the C4/RefinedWeb line-dedup
    analog for unstructured text): documents are cut into fixed-span
    token passages; a passage whose hash occurs in more than
    ``max_doc_freq`` documents is corpus boilerplate (navigation chrome,
    license blurbs, template filler) and is dropped from the cleaned
    fingerprint.

    Returns per document: total passages, boilerplate passages, and the
    md5 of the surviving passages in order (the dedup key for a
    subsequent exact pass over cleaned content).

    Scale: one shuffle on the passage hash for the document-frequency
    count, one on the doc id to reassemble — both map-side combinable.
    No pairwise joins anywhere.
    """
    # materialize the token array before the slice-per-passage lambda:
    # an inline split+canonicalization expression inside the HOF body is
    # re-evaluated once per passage (see _shingle_postings note; a bare
    # projection or exchange is collapsed by Catalyst, the checkpoint
    # is a hard barrier)
    toked = df.select(
        F.col(id_col).alias("doc"),
        F.split(canonical_text(F.col(text_col)), " ").alias("_toks"),
    ).localCheckpoint(eager=True)
    toks = F.col("_toks")
    n_pass = F.ceil(F.size(toks) / F.lit(passage_tokens)).cast("int")
    passages = F.transform(
        F.sequence(F.lit(0), n_pass - 1),
        lambda i: F.array_join(
            F.slice(toks, i * passage_tokens + 1, passage_tokens), " "
        ),
    )
    # checkpoint the exploded postings so the explode pipeline runs once
    # for both the document-frequency aggregate and the reassembly
    exploded = (
        toked.select("doc", F.posexplode(passages).alias("pos", "passage"))
        .withColumn("ph", F.md5(F.col("passage")))
        .localCheckpoint(eager=True)
    )
    # Document frequency via a two-level aggregate, NOT a window over the
    # passage hash: the ultra-frequent passages this guard exists to drop
    # are exactly the keys that would concentrate every posting into one
    # window partition (skew stall) while collect_set holds the full doc
    # set in memory (OOM at corpus scale). groupBy + countDistinct is
    # planned as two map-side-combinable aggregations, and the resulting
    # boilerplate set (only hashes with df > max_doc_freq) is small by
    # construction — broadcast it back as a flag join, so the postings
    # themselves never shuffle for the guard.
    boiler = (
        exploded.groupBy("ph")
        .agg(F.countDistinct("doc").alias("pdf"))
        .filter(F.col("pdf") > max_doc_freq)
        .select("ph", F.lit(True).alias("is_boiler"))
    )
    flagged = exploded.join(F.broadcast(boiler), "ph", "left").withColumn(
        "is_boiler", F.coalesce(F.col("is_boiler"), F.lit(False))
    )
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(
                    ~F.col("is_boiler"),
                    F.struct(F.col("pos").alias("p"), F.col("passage").alias("t")),
                )
            )
        ),
        lambda s: s["t"],
    )
    return flagged.groupBy("doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_passages"),
        F.sum(F.col("is_boiler").cast("long")).alias("n_boilerplate"),
        F.md5(F.array_join(kept_sorted, " ")).alias("cleaned_fp"),
    )


def _shingle_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_doc_freq: int | None,
    *,
    pack: bool = False,
) -> DataFrame:
    """(id, shingle) postings list — the inverted index.

    ``pack=True`` replaces the n-char shingle STRING with an injective
    BIGINT (base-128 digits of the chars' code points). Safe because
    ``canonical_text`` restricts the alphabet to ASCII ``[a-z0-9 ]``, so
    each char is one code point < 128 and the pack is a bijection onto
    its image for any n <= 8 — equality joins, distinct counts and
    document frequencies are IDENTICAL to the string form (guide §2.3:
    narrower types — a 3-char string key costs 16+ bytes per UnsafeRow
    field vs 8 for a long, and long hashing/comparison is cheaper in
    every downstream exchange and join). Callers for which the shingle
    VALUE is semantic must keep ``pack=False``: prefix_filter_pairs
    (its global total order ties break on shingle text) and
    minhash_signature (md5 of the shingle string).
    """
    # parallelize the whole narrow stage, and materialize the canonical
    # text BEFORE the per-position substr lambda — an inline
    # canonicalization expression inside the HOF re-runs its two
    # regexes len(text) times per document. A bare exchange is not a
    # barrier (Catalyst pushes the projection below it); the checkpoint
    # is, and the canon frame is the smallest thing in the pipeline.
    #
    # Two input shapes (the r12 settlement of the r11 search_hybrid_rrf
    # watch item — 7-run interleaved A/B, BASELINE.md Round 12):
    # - raw scan lineage: fan_out BEFORE the projection, so the
    #   canonicalization regexes run wide too (the r11 win:
    #   decontaminate 0.38x, DSIR 0.36x at sf1);
    # - exchanged lineage (search's union+distinct): fan_out's AQE
    #   probe would EXECUTE the upstream shuffle just to read the
    #   partition count, and AQE may coalesce the small canon frame to
    #   1 partition, starving the CPU-bound shingling — keep the
    #   pre-r11 shape: project, then an explicit repartition of the
    #   (small) canon text guarantees width with no probe. Measured
    #   1.08x faster min-over-min on search_hybrid_rrf at sf0.1.
    from kafka_connect_bigquery_spark.operators.skew import (
        fan_out,
        has_shuffle_lineage,
    )

    proj = [
        F.col(id_col).alias("doc"),
        canonical_text(F.col(text_col)).alias("_c"),
    ]
    if has_shuffle_lineage(df):
        par = df.sparkSession.sparkContext.defaultParallelism
        canon = df.select(*proj).repartition(par).localCheckpoint(eager=True)
    else:
        canon = fan_out(df).select(*proj).localCheckpoint(eager=True)
    c = F.col("_c")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
            lambda i: c.substr(i, F.lit(n)),
        )
    )
    posts = canon.select("doc", F.explode(shingles).alias("sh"))
    if pack and n <= 8:
        # pack AFTER the explode so the ascii/substring ops run row-wise
        # inside whole-stage codegen, not inside the (interpreted) HOF
        # lambda above; one F.expr = one py4j parse (guide §5). Empty
        # positions (shingles shorter than n near short-doc edges) pack
        # as digit 0, which no canonical char occupies — injectivity
        # holds across lengths too.
        digits = " + ".join(
            f"ascii(substring(sh, {i + 1}, 1)) * {128 ** (n - 1 - i)}L"
            for i in range(n)
        )
        posts = posts.select(
            "doc", F.expr(f"CAST({digits} AS BIGINT)").alias("sh")
        )
    if max_doc_freq is not None:
        # Drop stop-shingles: they explode the candidate join and add no
        # discriminative signal (classic skew guard at corpus scale).
        # Two-level form, NOT a window on `sh`: the hottest shingles are
        # precisely the ones the guard drops, and an unbounded window
        # partitioned on them funnels all their postings into single
        # tasks. groupBy gets map-side partial counts (skew-safe); the
        # stop set (df > max_doc_freq only — a bounded universe for
        # char n-grams) broadcasts back as an anti-join, so the postings
        # don't shuffle for the guard. Explode runs once: checkpointed.
        posts = posts.localCheckpoint(eager=True)
        stop = (
            posts.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") > max_doc_freq)
            .select("sh")
        )
        posts = posts.join(F.broadcast(stop), "sh", "left_anti")
    return posts


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    min_jaccard: float = 0.5,
    block_col: str | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Pairwise n-gram Jaccard similarity via inverted-index join.

    Returns (id_a, id_b, inter_size, size_a, size_b, jaccard) with
    id_a < id_b and jaccard >= min_jaccard. Jaccard is computed from
    integer set sizes — exactly reproducible.

    Shingle keys travel packed as BIGINTs only for ``n <= 8`` (128^9
    overflows int64); wider shingles fall back to string keys — same
    results, slower joins.
    """
    posts = _shingle_postings(df, id_col, text_col, n, max_doc_freq, pack=True)
    if block_col is not None:
        blocks = df.select(F.col(id_col).alias("doc"), F.col(block_col).alias("blk"))
        posts = posts.join(blocks, "doc")
    # Spread the inverted index across the cluster on the join key: the
    # upstream scan is often a handful of input splits, and without the
    # explicit exchange the whole posting self-join lands on those few
    # tasks. Shuffling on `sh` co-partitions both join sides.
    posts = posts.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "sh"
    ).localCheckpoint(eager=True)
    sizes = posts.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))

    a = posts.select(
        F.col("doc").alias("id_a"), "sh", *(["blk"] if block_col else [])
    )
    b = posts.select(
        F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"), *([F.col("blk").alias("blk_b")] if block_col else [])
    )
    cond = (a.sh == b.sh_b) & (a.id_a < b.id_b)
    if block_col:
        cond = cond & (a.blk == b.blk_b)
    inter = (
        a.join(b, cond)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({"doc": "id_a", "sz": "size_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"doc": "id_b", "sz": "size_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter_size")
            / (F.col("size_a") + F.col("size_b") - F.col("inter_size")).cast("double"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    return out.select("id_a", "id_b", "inter_size", "size_a", "size_b", "jaccard")


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    jaccard_num: int = 7,
    jaccard_den: int = 10,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard join via prefix filtering
    (AllPairs, Bayardo et al. WWW'07; the prefix principle behind
    PPJoin, Xiao et al. WWW'08) — the guarantee ``ngram_jaccard_pairs``
    trades away: its ``max_doc_freq`` stop-shingle guard bounds the
    candidate join by DROPPING frequent shingles, losing recall for
    pairs whose overlap lives there. Prefix filtering bounds candidates
    with NO recall loss.

    Principle: order every doc's shingle set by a single global total
    order (document frequency ascending, shingle text as tie-break —
    rarest first). For threshold t, two sets with Jaccard >= t MUST
    share at least one shingle within each one's PREFIX of length
    |d| - ceil(t*|d|) + 1, so joining only prefix postings finds every
    qualifying pair; survivors are verified with exact integer
    intersection counts over the full postings. The threshold is a
    rational ``jaccard_num/jaccard_den`` so every filter (prefix
    length, size ratio, final test td*inter >= tn*(union)) is pure
    integer arithmetic — engine-exact.

    Scale shape: the frequency table is one map-side-combinable count;
    the per-doc ordering window partitions BY doc (never global); the
    candidate join touches only the rarest ~(1-t) fraction of each
    doc's postings, whose per-shingle df is small BY CONSTRUCTION of
    the order (the frequent shingles that would make the self-join
    quadratic sit at the back of every prefix, excluded); the verify
    join fans candidate pairs (already size- and prefix-pruned) against
    full postings as two equi-joins. Returns the same frame as
    ``ngram_jaccard_pairs``: (id_a, id_b, inter_size, size_a, size_b,
    jaccard) with id_a < id_b.
    """
    from pyspark.sql import Window

    tn, td = jaccard_num, jaccard_den
    posts = _shingle_postings(df, id_col, text_col, n, None).localCheckpoint(
        eager=True
    )  # feeds freq, sizes, prefixes AND the verify join
    freq = posts.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    sizes = posts.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    ordered = (
        posts.join(freq, "sh")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("doc").orderBy("_df", "sh")
            ),
        )
        .join(sizes, "doc")
    )
    # prefix length |d| - ceil(t*|d|) + 1, ceil via integer DIV
    prefix = ordered.filter(
        F.col("_rn") <= F.col("sz") - F.expr(f"({tn} * sz + {td - 1}) DIV {td}") + 1
    ).select("doc", "sh", "sz", "_rn")
    a = prefix.select(
        F.col("doc").alias("id_a"), "sh",
        F.col("sz").alias("size_a"), F.col("_rn").alias("_pa"),
    )
    b = prefix.select(
        F.col("doc").alias("id_b"),
        F.col("sh").alias("sh_b"),
        F.col("sz").alias("size_b"),
        F.col("_rn").alias("_pb"),
    )
    # PPJoin positional filter: a match at prefix positions (pa, pb)
    # bounds the possible overlap by 1 + min of the remaining suffix
    # lengths, which must still reach the Jaccard-implied overlap
    # threshold alpha = ceil(t/(1+t) * (|a|+|b|)) — measured 7x fewer
    # candidates than prefix+size filtering alone on this corpus
    alpha = F.expr(
        f"CAST(({tn} * (size_a + size_b) + {tn + td} - 1) DIV {tn + td} AS BIGINT)"
    )
    cand = (
        a.join(
            b,
            (a.sh == b.sh_b)
            & (a.id_a < b.id_b)
            # size pruning: jacc >= t forces t*max(|a|,|b|) <= min(|a|,|b|)
            & (F.lit(tn) * a.size_a <= F.lit(td) * b.size_b)
            & (F.lit(tn) * b.size_b <= F.lit(td) * a.size_a),
        )
        .filter(
            1 + F.least(
                F.col("size_a") - F.col("_pa"), F.col("size_b") - F.col("_pb")
            )
            >= alpha
        )
        .select("id_a", "id_b", "size_a", "size_b")
        .distinct()
    )
    pa = posts.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    pb = posts.select(F.col("doc").alias("_pb_id"), F.col("sh").alias("sh_b"))
    inter = (
        cand.join(pa, "id_a")
        .join(pb, (F.col("id_b") == F.col("_pb_id")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    return (
        inter.filter(
            F.lit(td) * F.col("inter_size")
            >= F.lit(tn) * (F.col("size_a") + F.col("size_b") - F.col("inter_size"))
        )
        .select(
            "id_a",
            "id_b",
            "inter_size",
            "size_a",
            "size_b",
            (
                F.col("inter_size")
                / (F.col("size_a") + F.col("size_b") - F.col("inter_size")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    min_containment_pct: int = 80,
    block_col: str | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric containment near-dup pairs: |A∩B| / min(|A|,|B|) of
    the shingle sets — the Broder (1997) *containment* measure. Catches
    the pair Jaccard structurally cannot: a short document embedded
    verbatim in a much longer one (quote farms, boilerplate wrappers,
    concatenated dumps), where the union term dilutes Jaccard below any
    usable threshold but the smaller side is ~100% contained.

    Same inverted-index join + stop-shingle guard as
    ``ngram_jaccard_pairs`` (identical scale shape — candidates, never
    the cross product); the ratio is decided in integer arithmetic
    (``inter*100 >= pct*min(size)``), so the emitted
    ``containment_pct`` is engine-exact. Returns (id_a, id_b,
    inter_size, size_a, size_b, containment_pct, jaccard_pct) with
    id_a < id_b. Shingle keys travel packed as BIGINTs only for
    ``n <= 8`` (128^9 overflows int64); wider shingles fall back to
    string keys — same results, slower joins."""
    posts = _shingle_postings(df, id_col, text_col, n, max_doc_freq, pack=True)
    if block_col is not None:
        blocks = df.select(F.col(id_col).alias("doc"), F.col(block_col).alias("blk"))
        posts = posts.join(blocks, "doc")
    posts = posts.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "sh"
    ).localCheckpoint(eager=True)
    sizes = posts.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))

    a = posts.select(
        F.col("doc").alias("id_a"), "sh", *(["blk"] if block_col else [])
    )
    b = posts.select(
        F.col("doc").alias("id_b"),
        F.col("sh").alias("sh_b"),
        *([F.col("blk").alias("blk_b")] if block_col else []),
    )
    cond = (a.sh == b.sh_b) & (a.id_a < b.id_b)
    if block_col:
        cond = cond & (a.blk == b.blk_b)
    inter = (
        a.join(b, cond)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc": "id_a", "sz": "size_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"doc": "id_b", "sz": "size_b"}), "id_b")
        .filter(
            F.col("inter_size") * 100
            >= F.least("size_a", "size_b") * min_containment_pct
        )
        .select(
            "id_a",
            "id_b",
            "inter_size",
            "size_a",
            "size_b",
            F.expr("inter_size * 100 DIV least(size_a, size_b)").alias(
                "containment_pct"
            ),
            F.expr("inter_size * 100 DIV (size_a + size_b - inter_size)").alias(
                "jaccard_pct"
            ),
        )
    )


# --------------------------------------------------------------------------
# winnowing fingerprints (MOSS-style local fingerprinting)
# --------------------------------------------------------------------------

def _grams(c: Column, k: int) -> Column:
    """Array of character k-grams of an (already materialized) canonical
    text column.

    ``c`` MUST be a plain attribute reference, not an inline expression:
    expressions referenced inside a higher-order-function lambda are
    re-evaluated per element, so an inline regex canonicalization would
    run len(c) times per document. The lambda body is a bare substr —
    hashing happens later on exploded rows, where md5 runs inside
    whole-stage codegen instead of the interpreted HOF path (~5x)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - (k - 1), F.lit(1))),
        lambda i: c.substr(i, F.lit(k)),
    )


def winnow_posts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowed fingerprint postings (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03): hash every character k-gram, keep the minimum hash of
    each window of ``w`` consecutive grams, distinct per document.
    Guarantees any shared substring of length >= k + w - 1 produces at
    least one shared fingerprint — *local* overlap detection, where
    whole-document hashes only catch global duplicates.

    Returns distinct (doc, fp) rows. Shape note: the gram array is
    computed once per document *before* the repartition exchange, then
    exploded; the window minimum is a single windowed pass over rows.
    (A nested transform/slice over the array re-evaluates the gram
    expression per window — O(len·w) md5 calls per doc — so the
    row-based plan is the scale path.)
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    # A repartition exchange is NOT enough to materialize the canonical
    # text: Catalyst pushes the projection below the exchange and the
    # HOF lambda is back to re-running the regexes per element (measured
    # 51 s -> 1.6 s at sf0.1 for the gram stage). The checkpoint is a
    # hard barrier; the canon frame is ~doc-count x text bytes, the
    # smallest thing in the pipeline.
    canon = (
        df.select(
            F.col(id_col).alias("doc"), canonical_text(F.col(text_col)).alias("c")
        )
        .repartition(par)
        .localCheckpoint(eager=True)
    )
    arrs = canon.select("doc", _grams(F.col("c"), k).alias("g"))
    rows = arrs.select(
        "doc", F.size("g").alias("n"), F.posexplode("g").alias("pos", "gram")
    ).select(
        "doc",
        "n",
        "pos",
        # first 8 md5 hex digits as a bigint — engine- and
        # partitioning-independent gram hash, codegen'd row-wise
        F.conv(F.md5("gram").substr(1, 8), 16, 10).cast("long").alias("gh"),
    )
    wspec = Window.partitionBy("doc").orderBy("pos").rowsBetween(0, w - 1)
    return (
        rows.withColumn("wm", F.min("gh").over(wspec))
        # valid window starts only (0-based): 0 .. max(n - w, 0); a doc
        # shorter than one window contributes its global min
        .filter(F.col("pos") <= F.greatest(F.col("n") - w, F.lit(0)))
        .select("doc", F.col("wm").alias("fp"))
        .distinct()
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs from shared winnowed fingerprints.

    Same inverted-index shape as the shingle join (shuffle candidates,
    never the cross product), but over the winnowed selection — ~1/w of
    the grams — so the postings list is a fraction of the full shingle
    index at the same detection guarantee for overlaps >= k+w-1 chars.
    Returns (id_a, id_b, n_shared, n_a, n_b) with id_a < id_b.
    """
    # materialize the postings once: five downstream branches (doc-freq
    # guard, sizes, both sides of the candidate self-join) would each
    # recompute the explode+window winnowing pipeline otherwise (at
    # corpus scale the postings are a stored table between stages)
    posts = winnow_posts(df, id_col, text_col, k=k, w=w).localCheckpoint(eager=True)
    if max_doc_freq is not None:
        freq = posts.groupBy("fp").agg(F.count(F.lit(1)).alias("df_"))
        posts = posts.join(
            freq.filter(F.col("df_") <= max_doc_freq), "fp"
        ).drop("df_").localCheckpoint(eager=True)
    sizes = posts.groupBy("doc").agg(F.count(F.lit(1)).alias("n_fp"))
    a = posts.select(F.col("doc").alias("id_a"), "fp")
    b = posts.select(F.col("doc").alias("id_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc", "id_a"), "id_a")
        .withColumnRenamed("n_fp", "n_a")
        .join(sizes.withColumnRenamed("doc", "id_b"), "id_b")
        .withColumnRenamed("n_fp", "n_b")
        .select("id_a", "id_b", "n_shared", "n_a", "n_b")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, *, num_hashes: int = 16, n: int = 3
) -> DataFrame:
    """MinHash signatures: sig[i] = min over shingles of md5(i || ':' || s).

    md5-hex strings compare lexicographically the same everywhere, so the
    min is engine-independent (no custom hash needed). One explode +
    one groupBy with ``num_hashes`` min-aggregates: a single shuffle.
    """
    posts = _shingle_postings(df, id_col, text_col, n, max_doc_freq=None)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return posts.groupBy("doc").agg(*aggs).withColumnRenamed("doc", id_col)


def lsh_band_postings(
    sig_df: DataFrame,
    id_col: str,
    *,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(doc, bucket) LSH band postings — the *index* rows: bucket =
    md5 of each signature band. This is the thing a persistent dedup
    service stores (e.g. as a warehouse table keyed by bucket); both the
    full self-join dedup and the incremental probe build on it."""
    r = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{i}") for i in range(b * r, (b + 1) * r)]
        band_cols.append(F.md5(F.concat_ws(",", *parts)).alias(f"band{b}"))
    banded = sig_df.select(F.col(id_col).alias("doc"), *band_cols)
    return banded.select(
        "doc",
        F.explode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias("bucket"),
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    *,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH banding: hash each band of the signature, bucket-join.

    Returns distinct (id_a, id_b) candidate pairs (id_a < id_b) that
    collide in >= 1 band. Probability of collision ≈ 1-(1-j^r)^b for
    Jaccard j with r = num_hashes/bands rows per band.
    """
    stacked = lsh_band_postings(sig_df, id_col, num_hashes=num_hashes, bands=bands)
    return lsh_pairs_from_postings(stacked)


def lsh_pairs_from_postings(postings: DataFrame) -> DataFrame:
    """Distinct (id_a, id_b) bucket-collision pairs from (doc, bucket)
    postings — the self-join form used when the postings/index already
    exist (so signatures aren't recomputed)."""
    a = postings.select(F.col("doc").alias("id_a"), "bucket")
    b2 = postings.select(F.col("doc").alias("id_b"), F.col("bucket").alias("bucket_b"))
    return (
        a.join(b2, (a.bucket == b2.bucket_b) & (a.id_a < b2.id_b))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_probe_index(
    new_postings: DataFrame, index_postings: DataFrame
) -> DataFrame:
    """Incremental LSH probe: candidate pairs involving at least one
    *new* document — new×index plus new×new — via bucket equi-join.

    This is the daily-ingest operation at 100 TB: the corpus-sized
    index is NEVER self-joined or recomputed; it is only probed on the
    bucket key by the (ingest-sized) new postings, so per-ingest cost
    follows the delta, not the corpus. Invariant (oracle-checked by
    ``dedup_incremental``): pairs(index ∪ new) = pairs(index) ∪
    probe(new, index) — the decomposition loses and invents nothing.

    Returns distinct (id_a, id_b), id_a < id_b.
    """
    n = new_postings.select(F.col("doc").alias("n_doc"), F.col("bucket").alias("n_bucket"))
    # new × index: the new side is the small side of the equi-join
    i = index_postings.select(F.col("doc").alias("i_doc"), "bucket")
    cross = n.join(i, n.n_bucket == i.bucket).select(
        F.least("n_doc", "i_doc").alias("id_a"),
        F.greatest("n_doc", "i_doc").alias("id_b"),
    ).filter(F.col("id_a") < F.col("id_b"))
    # new × new: same self-join shape as the full dedup, delta-sized
    n2 = new_postings.select(
        F.col("doc").alias("id_b"), F.col("bucket").alias("bucket_b")
    )
    nn = new_postings.select(F.col("doc").alias("id_a"), "bucket").join(
        n2, (F.col("bucket") == F.col("bucket_b")) & (F.col("id_a") < F.col("id_b"))
    ).select("id_a", "id_b")
    return cross.unionByName(nn).distinct()


def lsh_probe_losers_by_quality(
    new_postings: DataFrame, index_postings: DataFrame | None
) -> DataFrame:
    """Keep-best loser ids straight off the LSH probe: both postings
    sides carry a per-doc ``q`` column (quality), so the bucket join
    already has each pair's (q, id) on BOTH sides and the loser — the
    lexicographically smaller (q, -id); quality ties drop the larger
    id — is a projection of the join row. Same pair semantics as
    ``lsh_probe_index`` (+ ``lsh_pairs_from_postings`` for the
    within-new self-join when ``index_postings`` is None-equivalent).

    Why this exists instead of ``orient_pairs_by_quality`` over the
    probe's output: on a dense candidate graph the pair frame is the
    biggest thing in the tick, and re-joining quality onto it twice
    shuffles it twice more by id (measured 2.7x on the sf1 template
    corpus, growing with index size).

    Why it is an ARGMAX, not a pair join: the loser set never needed
    pairs. A doc loses iff some bucket-mate outranks it under the
    lexicographic ``(q, -id)`` order, i.e. iff it is not the argmax of
    every bucket it appears in — so per bucket ONE struct-max suffices,
    and each posting row then compares against its bucket's max. The
    bucket self-join this replaces materialized m²/2 pair rows inside
    the single task owning an m-doc bucket: on the dense sf10 template
    corpus (500k docs collapsing to ~10² survivors, duplicate families
    of 10⁴⁺ docs sharing buckets) that one task ran 20+ minutes while
    31 cores idled. The aggregation form is linear in postings, its
    partial (map-side) combine absorbs the hot bucket, and the join
    back against the per-bucket max is one row per posting — no
    pair-sized frame exists at any point.

    Output parity with the pair form is exact, including the index
    side: an index doc is marked only when the delta's best new doc in
    a shared bucket outranks it (``best_new``) — index docs beaten
    solely by other index docs were marked in the tick that ingested
    the beating doc (bucket keys are pure functions of a doc's
    signature), so re-deriving them here would be redundant, and the
    pair form never did.

    Returns DISTINCT loser ids as ``doc``."""
    rank = F.struct(F.col("q").alias("q"), (-F.col("doc")).alias("nid"))
    n = new_postings.select("doc", "bucket", "q")
    if index_postings is None:
        pop = n
    else:
        # only buckets probed by the delta orient anything this tick
        i_hit = index_postings.select("doc", "bucket", "q").join(
            n.select("bucket"), "bucket", "left_semi"
        )
        pop = n.unionByName(i_hit)
    best_all = pop.groupBy("bucket").agg(F.max(rank).alias("__best"))
    losers = (
        n.join(best_all, "bucket")
        .filter(rank < F.col("__best"))
        .select("doc")
    )
    if index_postings is not None:
        best_new = n.groupBy("bucket").agg(F.max(rank).alias("__bn"))
        idx_losers = (
            i_hit.join(best_new, "bucket")
            .filter(rank < F.col("__bn"))
            .select("doc")
        )
        losers = losers.unionByName(idx_losers)
    return losers.distinct()


def orient_pairs_by_quality(
    pairs: DataFrame,
    quality: DataFrame,
    *,
    id_col: str = "doc",
    q_col: str = "q",
) -> DataFrame:
    """Per candidate pair, the LOSER under the keep-best survivor
    policy: the side with the lexicographically smaller ``(quality,
    -id)`` — i.e. lower quality loses, and a quality TIE keeps the
    smaller id (so equal-quality twins, e.g. exact copies, degenerate
    to the min-id greedy policy the pipeline uses by default).

    ``pairs`` is any (id_a, id_b) candidate frame (LSH output — id_a <
    id_b, though the rule doesn't rely on it); ``quality`` maps
    ``id_col`` -> ``q_col`` for every id appearing in pairs. Returns
    DISTINCT loser ids as ``id_col``.

    Scale: two equi-joins of the (small, pair-sized) candidate frame
    against the quality map — same blocked/bucketed candidate machinery
    as the min-id policy, never O(n²)."""
    qa = quality.select(F.col(id_col).alias("id_a"), F.col(q_col).alias("_qa"))
    qb = quality.select(F.col(id_col).alias("id_b"), F.col(q_col).alias("_qb"))
    j = pairs.join(qa, "id_a").join(qb, "id_b")
    b_loses = (F.col("_qa") > F.col("_qb")) | (
        (F.col("_qa") == F.col("_qb")) & (F.col("id_a") < F.col("id_b"))
    )
    loser = F.when(b_loses, F.col("id_b")).otherwise(F.col("id_a"))
    return j.select(loser.alias(id_col)).distinct()


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """End-to-end MinHash/LSH near-duplicate candidates."""
    sig = minhash_signature(df, id_col, text_col, num_hashes=num_hashes, n=n)
    return lsh_candidate_pairs(sig, id_col, num_hashes=num_hashes, bands=bands)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(
    df: DataFrame, id_col: str, text_col: str, *, bits: int = 16
) -> DataFrame:
    """SimHash signature: per bit, sum +-1 votes of each token's md5 bit;
    signature bit = 1 iff the vote is positive.

    Implemented as explode(tokens) x explode(bits) -> arithmetic bit
    extraction from md5 hex digits -> one groupBy(doc) with a conditional
    sum per bit folded back into an integer. ``bits`` <= 28 (hex-digit
    arithmetic stays in exact int range).
    """
    assert bits <= 28
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(canonical_text(F.col(text_col)), " ")).alias("tok"),
    ).withColumn("h", F.md5(F.col("tok")))
    # bit k of token hash: take hex digit k//4, extract bit k%4 by
    # integer arithmetic (portable: no engine-specific bit ops)
    exploded = toks.select(
        "doc",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
    )
    digit_val = F.instr(
        F.lit("0123456789abcdef"),
        F.substring(F.col("h"), (F.col("bit") / 4).cast("int") + 1, 1),
    ) - 1
    bit_val = F.floor(digit_val / F.pow(F.lit(2.0), (F.col("bit") % 4).cast("double"))).cast("int") % 2
    votes = exploded.withColumn("vote", F.when(bit_val == 1, 1).otherwise(-1))
    sig = (
        votes.groupBy("doc", "bit")
        .agg(F.sum("vote").alias("v"))
        .withColumn("bitset", F.when(F.col("v") > 0, F.lit(1)).otherwise(F.lit(0)))
        .groupBy("doc")
        .agg(
            F.sum(
                F.col("bitset") * F.pow(F.lit(2.0), F.col("bit").cast("double")).cast("long")
            ).alias("simhash")
        )
        .withColumnRenamed("doc", id_col)
    )
    return sig


def simhash_pairs(
    sig_df: DataFrame, id_col: str, *, bits: int = 16, max_hamming: int = 3
) -> DataFrame:
    """Near-duplicate pairs by Hamming distance over SimHash signatures.

    Blocking: split the signature into (max_hamming+1) segments — two
    signatures within the distance must agree on >= 1 whole segment
    (pigeonhole), so the join key is (segment_index, segment_value), not
    the cross product. This is the standard scale trick for SimHash at
    corpus size.
    """
    nseg = max_hamming + 1
    seg_bits = bits // nseg
    segs = []
    for s in range(nseg):
        seg = (
            F.floor(F.col("simhash") / F.lit(2 ** (s * seg_bits))).cast("long")
            % F.lit(2**seg_bits)
        ).alias(f"seg{s}")
        segs.append(seg)
    with_segs = sig_df.select(F.col(id_col).alias("doc"), F.col("simhash"), *segs)
    stacked = with_segs.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(s).alias("si"), F.col(f"seg{s}").alias("sv"))
                    for s in range(nseg)
                ]
            )
        ).alias("seg"),
    ).select("doc", "simhash", F.col("seg.si").alias("si"), F.col("seg.sv").alias("sv"))
    a = stacked.select(F.col("doc").alias("id_a"), F.col("simhash").alias("sh_a"), "si", "sv")
    b = stacked.select(F.col("doc").alias("id_b"), F.col("simhash").alias("sh_b"), F.col("si").alias("si_b"), F.col("sv").alias("sv_b"))
    cand = (
        a.join(b, (a.si == b.si_b) & (a.sv == b.sv_b) & (a.id_a < b.id_b))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = _hamming(F.col("sh_a"), F.col("sh_b"), bits)
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --------------------------------------------------------------------------
# embedding-cosine near-duplicates
# --------------------------------------------------------------------------

def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.9,
    n_planes: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    id_a < id_b and cosine >= min_cosine.

    ``n_planes=None`` compares all pairs — the exact baseline, O(n²),
    fine for a re-ranking stage over a pre-blocked candidate set. At
    corpus scale pass ``n_planes`` to restrict comparison to random-
    hyperplane LSH buckets (true near-dups almost always share the
    bucket at high cosine): the bucket becomes the join/partition key
    and the cross product never materializes. Cosines are integer-
    quantized (see ann.quantized_dot) so the pair set is deterministic.
    """
    from kafka_connect_bigquery_spark.operators import ann

    a = ann.with_norm(df, vec_col).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("__norm_q").alias("na"),
    )
    b = ann.with_norm(df, vec_col).select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("__norm_q").alias("nb"),
    )
    cond = F.col("id_a") < F.col("id_b")
    if n_planes is not None:
        a = a.withColumn("bucket", ann.lsh_bucket(F.col("va"), n_planes=n_planes))
        b = b.withColumn("bucket_b", ann.lsh_bucket(F.col("vb"), n_planes=n_planes))
        cond = cond & (F.col("bucket") == F.col("bucket_b"))
    return (
        a.join(b, cond)
        .withColumn(
            "cosine",
            ann.cosine_from_quantized(
                ann.quantized_dot(F.col("va"), F.col("vb")),
                F.col("na"),
                F.col("nb"),
            ),
        )
        .filter(F.col("cosine") >= min_cosine)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.9,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023,
    arXiv:2303.09540): cluster embeddings with a coarse quantizer, then
    mark near-duplicates *within each cluster only* — the cluster id is
    the blocking key, so pairwise cosine work is bounded per cluster
    and the corpus-wide cross product never materializes.

    Returns one row per vector ``(id, list_id, keep)``: ``keep=false``
    iff some same-cluster vector with a smaller id has quantized cosine
    >= min_cosine (the deterministic keep-min-id representative policy;
    the paper's keep-farthest-from-centroid is a one-line swap that
    sacrifices closed-form checkability).

    Scale shape: one assignment pass (centroids are a k×dim broadcast
    literal, as in any IVF build), one equi-join on ``list_id``, one
    distinct + left join back. Cross-cluster near-dups are missed by
    design — that is SemDeDup's approximation, reproduced faithfully by
    the oracle. Cosines use the quantized-integer arithmetic from
    operators/ann.py, so the verdict set is engine- and partitioning-
    exact."""
    from kafka_connect_bigquery_spark.operators import ann

    assigned = df.select(
        F.col(id_col),
        F.col(vec_col),
        # by NAME: one parsed expression, not k×dim py4j literals
        ann.assign_list(vec_col, centroids).alias("list_id"),
    ).localCheckpoint(eager=False)  # assignment feeds both pair sides + output
    a = ann.with_norm(assigned, vec_col).select(
        F.col("list_id"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("__norm_q").alias("na"),
    )
    b = ann.with_norm(assigned, vec_col).select(
        F.col("list_id"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("__norm_q").alias("nb"),
    )
    losers = (
        a.join(b, "list_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            ann.cosine_from_quantized(
                ann.quantized_dot(F.col("va"), F.col("vb")),
                F.col("na"),
                F.col("nb"),
            ),
        )
        .filter(F.col("cosine") >= min_cosine)
        .select(F.col("id_b").alias("__loser"))
        .distinct()
    )
    return (
        assigned.join(losers, assigned[id_col] == losers["__loser"], "left")
        .select(
            F.col(id_col),
            F.col("list_id"),
            F.col("__loser").isNull().alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# duplicate clustering (connected components)
# --------------------------------------------------------------------------

def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    node_col: str = "node",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Duplicate-cluster labeling: connected components of the near-dup
    pair graph via min-label propagation. Returns (node, component)
    where component = the smallest node id reachable — so the canonical
    survivor of each duplicate cluster is the row with
    node == component.

    Iterative DataFrame algorithm (no GraphFrames dependency): each
    round joins labels across edges both ways and keeps the per-node
    min; converges in O(component diameter) rounds, checked by a cheap
    count of changed labels. Near-dup graphs have tiny diameters
    (dup clusters are dense), so 3-5 rounds is typical at corpus scale.
    Each round is one shuffle on the node id; labels are the only state.
    """
    und = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .unionAll(edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v")))
        .distinct()
        # materialize once: every round joins this edge list — without
        # this the full upstream candidate-generation plan re-executes
        # per iteration
        .localCheckpoint(eager=True)
    )
    labels = nodes.select(F.col(node_col).alias("node")).withColumn(
        "component", F.col("node")
    )
    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und.v == labels.node)
            .groupBy("u")
            .agg(F.min("component").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.u, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
            )
        )
        # checkpoint first (iterative joins otherwise stack plans
        # exponentially), then check convergence on the materialized
        # result so the round's plan executes exactly once
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def substring_run_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    min_doc_freq: int = 2,
) -> DataFrame:
    """Per-document exact-substring duplication profile (the
    suffix-array dedup of Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better", re-expressed as joins + windows):
    a token position is *duplicated* when the length-``n`` token gram
    starting there appears in >= ``min_doc_freq`` distinct documents;
    overlapping/adjacent duplicated grams merge into maximal runs via
    an interval-union sweep. Emits one row per document:

    - ``n_tokens``            total tokens
    - ``n_dup_starts``        duplicated gram start positions
    - ``n_dup_runs``          maximal duplicated runs (interval islands)
    - ``dup_covered_tokens``  tokens inside any duplicated run
    - ``longest_dup_run``     longest run, in tokens
    - ``dup_pct``             100 * covered DIV n_tokens (integer)

    This is the signal ExactSubstr dedup cuts on (drop/trim documents
    whose coverage exceeds a threshold), kept as a profile so callers
    pick the policy.

    Scale shape: gram construction is a per-row array transform (no
    shuffle, no HOF re-eval — tokens materialize once); the document-
    frequency count is one (gram) groupBy; marking is a semi-join on
    the gram hash; the island sweep shuffles each doc's duplicated
    positions once. Nothing is pairwise — cost is O(total tokens), the
    property that lets ExactSubstr run where MinHash already runs.
    Unlike a true suffix array it can't find duplicates *shorter* than
    ``n`` tokens or cheaply report the matching partner — the standard
    gram-granularity trade (same as the reference implementation's
    50-token threshold)."""
    from kafka_connect_bigquery_spark.functions.text import tokens

    d = (
        df.select(
            F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("_toks")
        )
        .select(
            "doc_id",
            F.size("_toks").alias("n_tokens"),
            F.when(
                F.size("_toks") >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size("_toks") - n),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, n))
                    ),
                ),
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("_grams"),
        )
    )
    # Three consumers re-derive this projection (doc totals, gram
    # doc-freq, position marking) — deliberately NOT checkpointed:
    # measured at sf0.1 (interleaved A/B, warm), materializing the
    # gram arrays costs 2x the three codegen'd recomputes (0.9s vs
    # 0.4s) — serializing len(text)*32-char md5 arrays loses to
    # re-running the regex+md5 pipeline inside whole-stage codegen.
    # (The HOF re-eval trap doesn't apply: _toks materializes in its
    # own projection before the gram lambda references it.)
    docs = d.select("doc_id", "n_tokens")
    pos = d.select(
        "doc_id", F.posexplode("_grams").alias("pos", "gram")
    )
    dup_grams = (
        pos.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("_df"))
        .filter(F.col("_df") >= min_doc_freq)
        .select("gram")
    )
    marked = pos.join(dup_grams, "gram", "left_semi").select(
        "doc_id",
        F.col("pos").alias("s"),
        (F.col("pos") + n - 1).alias("e"),
    )
    w = Window.partitionBy("doc_id").orderBy("s")
    prev_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    swept = marked.withColumn(
        "_new",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e + 1), 1).otherwise(0),
    ).withColumn(
        "island", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    runs = swept.groupBy("doc_id", "island").agg(
        (F.max("e") - F.min("s") + 1).alias("run_len"),
        F.count(F.lit(1)).alias("n_starts"),
    )
    per_doc = runs.groupBy("doc_id").agg(
        F.sum("n_starts").alias("n_dup_starts"),
        F.count(F.lit(1)).alias("n_dup_runs"),
        F.sum("run_len").alias("dup_covered_tokens"),
        F.max("run_len").alias("longest_dup_run"),
    )
    zero = F.lit(0).cast("long")
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_dup_starts", zero).alias("n_dup_starts"),
            F.coalesce("n_dup_runs", zero).alias("n_dup_runs"),
            F.coalesce("dup_covered_tokens", zero).alias("dup_covered_tokens"),
            F.coalesce("longest_dup_run", zero).alias("longest_dup_run"),
            F.expr(
                "CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) "
                "ELSE coalesce(dup_covered_tokens, CAST(0 AS BIGINT)) * 100 "
                "DIV n_tokens END"
            ).alias("dup_pct"),
        )
    )


def _hamming(a: Column, b: Column, bits: int) -> Column:
    """Portable Hamming distance via arithmetic bit extraction (bitwise
    xor exists in both engines but with different syntax; aggregate of
    per-bit diffs keeps one code path)."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        F.lit(0),
        lambda acc, k: acc
        + (
            (F.floor(a / F.pow(F.lit(2.0), k.cast("double"))).cast("long") % 2)
            != (F.floor(b / F.pow(F.lit(2.0), k.cast("double"))).cast("long") % 2)
        ).cast("int"),
    )
