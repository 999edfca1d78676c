"""End-to-end pretraining-corpus construction: the composition a user
of this engine actually runs over raw documents, assembled from the
repo's public operators in the canonical order —

    quality gate → exact dedup → MinHash-LSH near-dedup →
    [semantic dedup over embeddings, when provided] →
    train/val/test split → eval decontamination → sequence packing

Every stage is one of the individually-oracled operators
(functions/text.py, operators/dedup.py, operators/sampling.py,
operators/packing.py); this module adds only the glue: survivor
policies (keep the smallest id), anti-joins between stages, and a
single artifact dict so each intermediate stays inspectable (and
cacheable — at 100 TB you persist the survivor frames between stages,
you don't re-derive them).

Scale notes: the stage boundaries are all semi/anti-joins on the id
column against SMALL frames (dup groups, candidate pairs, contaminated
ids — each orders of magnitude below the corpus), so AQE broadcasts
them; the corpus itself is never shuffled except where the underlying
operator's contract requires it (fingerprint groupBy, LSH band join,
gram join, the per-shard packing window).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_bigquery_spark.functions.text import quality_score
from kafka_connect_bigquery_spark.operators import ann, dedup, packing, sampling


@dataclass(frozen=True)
class CorpusConfig:
    min_quality: float = 0.35
    minhash_hashes: int = 16
    minhash_bands: int = 4
    shingle_n: int = 3
    split_fractions: dict = field(
        default_factory=lambda: {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    decon_n: int = 5
    decon_max_df: int = 50
    pack_budget: int = 2048
    pack_shards: int = 64
    # SemDeDup's within-cluster verdict is inherently pairwise (the
    # cosine threshold is a per-pair relation, not a total order, so
    # no argmax shortcut exists) — its cost is Σ |cluster|² and the
    # scale knob is k itself: size sem_clusters ∝ corpus vectors to
    # bound the per-cluster population (the paper's regime; k=O(n/c)
    # keeps per-cluster pair work O(n·c)).
    sem_clusters: int = 8
    sem_min_cosine: float = 0.95
    # near-dup survivor policy: "min_id" (first-seen/smallest id wins —
    # arbitrary but deterministic) or "best" (highest token count wins,
    # quality ties to the smallest id — the dedup_keep_best policy:
    # reference-grade corpus curation keeps the best copy, not the
    # first-seen one). Scoped to the NEAR-DUP stage: the exact stage is
    # policy-independent (identical text => identical quality => the
    # tie-break IS min-id), and the semantic stage keeps its own
    # cluster policy.
    survivor: str = "min_id"


def build_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: CorpusConfig = CorpusConfig(),
    embeddings: DataFrame | None = None,
    emb_id_col: str = "vec_id",
    emb_vec_col: str = "embedding",
) -> dict[str, DataFrame]:
    """Run the full corpus pipeline; returns every stage's artifact:

    - ``gated``: docs passing the quality gate
    - ``exact_survivors``: one doc per exact-content fingerprint
      (smallest id survives)
    - ``near_survivors``: minus near-duplicates — under the default
      ``cfg.survivor="min_id"`` any doc appearing as the larger id of
      an LSH candidate pair is dropped (the standard greedy policy;
      swap in connected_components + min-per-cluster when cluster-exact
      survivorship matters); under ``cfg.survivor="best"`` each pair's
      LOWER-quality side loses (quality = token count, ties to the
      smaller id — the ``dedup_keep_best`` policy)
    - ``sem_survivors``: minus SemDeDup semantic duplicates, when an
      aligned ``embeddings`` frame is passed (ids shared with docs);
      identical to ``near_survivors`` otherwise
    - ``split``: survivors with a stable ``split`` column
    - ``contaminated``: train docs sharing rare n-grams with test docs
    - ``train``: the decontaminated training split
    - ``packed``: per-doc packed-layout coordinates for ``train``
    """
    did = F.col(id_col)
    if cfg.survivor not in ("min_id", "best"):
        raise ValueError(f"unknown survivor policy: {cfg.survivor!r}")

    gated = docs.filter(quality_score(F.col(text_col)) >= cfg.min_quality)

    fps = dedup.exact_dedup(gated, id_col, text_col)
    exact_survivors = gated.join(
        fps.select(F.col("keep_id").alias(id_col)), id_col, "left_semi"
    )

    # losers via the per-bucket (q, -id) ARGMAX over the postings — no
    # pair frame exists at any point, so a 10⁴-doc duplicate family
    # sharing a bucket costs m postings rows, not m²/2 pairs in one
    # task (see lsh_probe_losers_by_quality; min-id is the same rule
    # under constant quality)
    sig = dedup.minhash_signature(
        exact_survivors,
        id_col,
        text_col,
        num_hashes=cfg.minhash_hashes,
        n=cfg.shingle_n,
    )
    posts = dedup.lsh_band_postings(
        sig, id_col, num_hashes=cfg.minhash_hashes, bands=cfg.minhash_bands
    )
    if cfg.survivor == "best":
        from kafka_connect_bigquery_spark.functions.text import token_count

        qual = exact_survivors.select(
            F.col(id_col).alias("doc"),
            token_count(F.col(text_col)).cast("long").alias("q"),
        )
        posts = posts.join(qual, "doc")
    else:
        posts = posts.withColumn("q", F.lit(0).cast("long"))
    losers = dedup.lsh_probe_losers_by_quality(posts, None)
    near_survivors = exact_survivors.join(
        losers.select(F.col("doc").alias(id_col)), id_col, "left_anti"
    )
    # Stage boundary: everything downstream runs its own actions over
    # this frame (the sem stage's seed collect and the verdict's
    # internal checkpoint, then split/decontaminate/pack), and without
    # lineage truncation each action re-executes the full minhash/LSH
    # pass — measured as 2 extra executions (+96 s) at sf1 with the
    # sem stage on. Survivor-sized, and the same truncation the
    # incremental tick already makes at this boundary.
    near_survivors = near_survivors.localCheckpoint(eager=False)

    sem_survivors = near_survivors
    if embeddings is not None:
        # verdicts only over docs still alive after the LSH pass: scoring
        # the FULL embeddings frame lets an already-removed smaller-id
        # doc win its semantic cluster, deleting every surviving copy of
        # that cluster from the final corpus (over-deletion)
        live_emb = embeddings.join(
            near_survivors.select(F.col(id_col).alias(emb_id_col)),
            emb_id_col,
            "left_semi",
        )
        cents = ann.seed_centroids(
            live_emb, id_col=emb_id_col, vec_col=emb_vec_col, k=cfg.sem_clusters
        )
        verdict = dedup.semantic_dedup(
            live_emb,
            cents,
            id_col=emb_id_col,
            vec_col=emb_vec_col,
            min_cosine=cfg.sem_min_cosine,
        )
        sem_losers = verdict.filter(~F.col("keep")).select(
            F.col(emb_id_col).alias(id_col)
        )
        sem_survivors = near_survivors.join(sem_losers, id_col, "left_anti")

    split = sampling.split_dataset(sem_survivors, id_col, cfg.split_fractions)

    contaminated = packing.decontaminate(
        split,
        id_col,
        text_col,
        "split",
        n=cfg.decon_n,
        max_gram_doc_freq=cfg.decon_max_df,
    )
    train = split.filter(F.col("split") == "train").join(
        contaminated.select(F.col("train_doc_id").alias(id_col)),
        id_col,
        "left_anti",
    )

    packed = packing.sequence_pack(
        train, id_col, text_col, budget=cfg.pack_budget, n_shards=cfg.pack_shards
    )

    return {
        "gated": gated,
        "exact_survivors": exact_survivors,
        "near_survivors": near_survivors,
        "sem_survivors": sem_survivors,
        "split": split,
        "contaminated": contaminated,
        "train": train,
        "packed": packed,
    }


# ---------------------------------------------------------------------------
# Incremental mode: the per-ingest tick (r09)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class PretrainTickTables:
    """The persistent state of the incremental corpus pipeline — three
    warehouse tables plus the source cursor the caller stores between
    ticks (alongside its checkpoint, like any streaming consumer).

    - ``fingerprints``: (fp, doc) — one row per distinct exact-content
      fingerprint already accepted, with its keeper id
    - ``postings``: (doc, bucket) — the LSH band-postings INDEX of every
      doc that passed gate + exact dedup (near-dup losers INCLUDED:
      the batch policy drops any doc colliding with any exact-survivor,
      so the index must hold exactly the exact-survivor population or
      incremental would resurrect docs whose older twin was itself
      dropped)
    - ``survivors``: the accumulated output corpus (gate + exact +
      near-dup survivors)
    - ``evicted``: under ``cfg.survivor="best"``, ids of ALREADY-
      ACCEPTED survivors later beaten by a higher-quality new twin.
      Retroactive eviction is merge-on-read: the tick APPENDS loser
      ids here (so it rides the same stamped-append atomicity as every
      other state table — no in-place mutation the torn-tick rollback
      couldn't excise) and the accumulated corpus is
      ``survivors ANTI JOIN evicted``; the sem probe reads
      ``sem_vectors`` through the same anti-join. Each id is appended
      at its FIRST eviction only (the beaten doc's postings stay in
      the index, so it can lose again later). At 100 TB the eviction
      set is a small fraction of the corpus, the anti-join broadcasts;
      a periodic ``materialize_survivors`` (anti-join + overwrite +
      truncate evicted) is ordinary compaction hygiene.
    """

    fingerprints: str = "pretrain_fingerprints"
    postings: str = "pretrain_postings"
    survivors: str = "pretrain_survivors"
    evicted: str = "pretrain_evicted"
    # semantic-stage state (used only when the tick gets embeddings):
    # - ``sem_centroids``: the FROZEN coarse quantizer, one row per
    #   (list_id, centroid) — seeded from the first tick's survivors
    # - ``sem_vectors``: (id, embedding, list_id) of every doc that
    #   REACHED the sem stage (sem losers included — the batch policy
    #   drops any doc with a smaller-id same-cluster near-twin whether
    #   or not that twin was itself kept, so the probe population must
    #   be the full near-survivor set)
    sem_centroids: str = "pretrain_sem_centroids"
    sem_vectors: str = "pretrain_sem_vectors"
    # the per-tick commit log: one row per (tick, state table) written
    # as the LAST act of a tick. Its absence for a tick whose appends
    # are already on disk is how a torn tick is detected (see
    # _recover_torn_tick).
    tick_log: str = "pretrain_tick_log"

    def state_tables(self) -> list[str]:
        """Every table the tick appends to (the rollback scope)."""
        return [
            self.fingerprints,
            self.postings,
            self.sem_centroids,
            self.sem_vectors,
            self.survivors,
            self.evicted,
        ]


# Column stamped onto every state-table append with the tick's id (the
# corpus version the tick consumed through) — the handle the recovery
# path uses to excise a torn tick's partial appends.
TICK_COL = "__tick"


def _recover_torn_tick(wh, tables: PretrainTickTables) -> int:
    """Detect and roll back a torn tick, returning the last committed
    tick id (-1 if none).

    A tick's state commit spans several tables; only the tick-log row
    written LAST makes it durable. Detection is O(1) metadata: the log
    records each state table's version as of the last committed tick,
    so ``current_version > committed version`` means appends landed
    that no committed tick owns. Rollback excises exactly those rows
    via ``delete_where(TICK_COL > last_committed)`` — sound because
    tick ids are corpus versions (monotonic), so every committed row's
    stamp is <= the last committed tick id and every torn row's stamp
    is greater. The recovery is itself idempotent: a crash mid-recovery
    leaves ``current_version`` above the committed version, so the next
    run re-issues the (now no-op) deletes.
    """
    try:
        log_rows = wh.read(tables.tick_log).collect()  # tiny: O(ticks)
    except Exception:  # first ever tick: no log yet
        log_rows = []
    last = max((int(r["tick"]) for r in log_rows), default=-1)
    committed: dict[str, int] = {}
    for r in log_rows:
        committed[r["state_table"]] = max(
            committed.get(r["state_table"], -1), int(r["version"])
        )
    for t in tables.state_tables():
        try:
            cur = wh.current_version(t)
        except Exception:  # state table not created yet — nothing torn
            continue
        if cur > committed.get(t, -1):
            wh.delete_where(t, f"{TICK_COL} > {last}")
    return last


def materialize_survivors(
    wh,
    *,
    tables: PretrainTickTables = PretrainTickTables(),
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
) -> int:
    """Compaction hygiene for the keep-best eviction path: fold the
    accumulated ``evicted`` ids into the ``survivors`` table (one
    anti-join + overwrite) — and into ``sem_vectors`` when the sem
    stage is in play, since the sem probe population is merge-on-read
    against the same log (truncating ``evicted`` without compacting
    the vectors would resurrect beaten docs as semantic vetoers) —
    then truncate ``evicted``, so reads stop paying the anti-join.
    Returns the number of evicted-log rows folded in (0 = nothing to
    do, no write happens).

    Run BETWEEN ticks, by the same single ticker that owns the state
    tables (the overwrite group is not atomic; a crash between the
    overwrites re-applies an eviction already folded in — an
    idempotent no-op, since the anti-join of an absent id changes
    nothing — so recovery needs no special handling). The final act
    re-points the tick log at the post-compaction table versions:
    without it the next tick's ``_recover_torn_tick`` would read the
    bumped versions as a torn tick and answer with no-op (but
    permanent, read-path-evaluated) deferred deletes. A crash before
    that log append leaves exactly that once-per-crash no-op — the
    recovery stays sound because compaction preserves the surviving
    rows' original tick stamps (all <= the last committed tick).
    Equality with the un-compacted read is pinned by tests.

    Like any warehouse ``overwrite``, the compaction destroys the
    files behind the tables' earlier versions — lazy views returned by
    earlier ``incremental_tick`` calls (``art["survivors"]`` etc.) are
    pinned to those versions and must be re-read afterwards, exactly
    as after a VACUUM in any snapshot table format."""
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, local_frame

    try:
        ev = wh.read(tables.evicted).select(id_col).localCheckpoint(eager=True)
    except Exception:  # no evictions ever recorded
        return 0
    n = ev.count()
    if n == 0:
        return 0
    spec = TableSpec(partition_grain="NONE")
    surv = wh.read(tables.survivors).join(ev, id_col, "left_anti")
    # materialize off the source files before the destructive swap
    wh.overwrite(surv.localCheckpoint(eager=True), tables.survivors, spec)
    touched = [tables.survivors, tables.evicted]
    if wh.exists(tables.sem_vectors):
        sem = wh.read(tables.sem_vectors).join(
            ev.select(F.col(id_col).alias(emb_id_col)), emb_id_col, "left_anti"
        )
        wh.overwrite(sem.localCheckpoint(eager=True), tables.sem_vectors, spec)
        touched.append(tables.sem_vectors)
    wh.overwrite(ev.limit(0).withColumn(TICK_COL, F.lit(0).cast("long")), tables.evicted, spec)
    try:
        last = max(
            int(r["tick"]) for r in wh.read(tables.tick_log).collect()
        )
    except Exception:  # unreachable in practice: evictions imply ticks
        return n
    wh.append(
        local_frame(
            wh.spark,
            [(last, t, int(wh.current_version(t))) for t in touched],
            "tick: long, state_table: string, version: long",
        ),
        tables.tick_log,
        spec,
    )
    return n


def incremental_tick(
    wh,
    corpus_table: str,
    cursor: int | None,
    *,
    tables: PretrainTickTables = PretrainTickTables(),
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: CorpusConfig = CorpusConfig(),
    tokens_per_shard: int | None = None,
    embeddings: DataFrame | None = None,
    emb_id_col: str = "vec_id",
    emb_vec_col: str = "embedding",
) -> dict:
    """One incremental ingest tick — the 100 TB operating shape the
    batch pipeline's operators were built for: process ONLY the rows
    appended to ``corpus_table`` since ``cursor`` (``None`` = first
    tick, process everything), dedup them against the accumulated
    corpus via the LSH probe index (the corpus-sized index is never
    self-joined or rebuilt — per-tick cost follows the delta), and
    append the new survivors + index rows to the state tables.

    Equality contract (pinned by tests/test_pretrain_pipeline.py):
    with ingest-monotonic ids (each append's ids exceed all earlier
    ones — the realistic ingest shape, and the precondition under
    which "first arrival wins" coincides with the batch "smallest id
    wins"), the accumulated ``survivors`` table after any number of
    ticks equals ``build_corpus`` run from scratch on the unioned
    corpus, near-dup greedy policy included. The decomposition leans
    on the oracle-checked probe invariant (operators/dedup.py::
    lsh_probe_index): pairs(index ∪ new) = pairs(index) ∪
    probe(new, index).

    Under ``cfg.survivor="best"`` the same contract holds (same probe
    invariant; the per-pair loser rule is a pure function of the two
    sides' (quality, -id), independent of arrival order) with one new
    mechanism: a new doc can BEAT an already-accepted survivor, which
    is then retroactively evicted — recorded as an APPEND to the
    ``evicted`` state table (so eviction rides the tick's stamped-
    append atomicity; the corpus read is survivors ANTI JOIN evicted,
    and the sem-stage probe population is sem_vectors ANTI JOIN the
    same set — a beaten doc is absent from the batch's near_survivors,
    so its vector must stop vetoing semantically-similar later
    arrivals). Exact-stage ties are quality ties (identical text), so
    the exact stage is policy-independent given monotonic ids. With
    BOTH ``survivor="best"`` and ``embeddings``, equality additionally
    requires that no quantizer seed row (the ``cfg.sem_clusters``
    smallest-id near-survivors of tick 1) is later evicted — eviction
    would change the batch side's seed set, and the frozen incremental
    quantizer can't follow.

    Per-tick stages (each the oracled operator, composed):
    1. ``read_appended(corpus_table, cursor)`` — the delta;
    2. quality gate (functions/text.py::quality_score);
    3. exact dedup: new content fingerprints anti-joined against the
       fingerprint table (old twins win), then min-id per fp within
       the delta (new twins resolve);
    4. near dedup: band postings for the delta, probed against the
       postings table — a new doc colliding with ANY indexed doc (or a
       smaller-id delta doc) is dropped. The probe pair semantics are
       ``lsh_probe_index``'s, but losers come from the per-bucket
       (q, -id) argmax over the postings (``lsh_probe_losers_by_
       quality``; min-id = the quality rule under constant quality) so
       no pair-sized frame is ever materialized;
    5. state appends: fingerprints, postings (ALL exact survivors),
       survivors (near survivors) — each stamped with the tick id, made
       atomic AS A GROUP by the tick-log marker written last: a crash
       between appends is detected on the next run and the torn tick's
       rows are excised before reprocessing (no document loss, no
       duplication — see ``_recover_torn_tick``);
    6. optionally a fresh ``shard_plan`` over the accumulated corpus
       (deterministic in the survivor set: same corpus => same shards
       whether reached incrementally or in one batch).

    Returns the artifacts dict: ``new_rows``, ``gated``, ``exact_new``,
    ``near_new``, ``survivors`` (accumulated, post-append), ``shards``
    (or None), and ``cursor`` — the corpus version this tick consumed
    through, to store for the next tick.
    """
    from kafka_connect_bigquery_spark.functions.text import token_count
    from kafka_connect_bigquery_spark.operators.dedup import fingerprint
    from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, local_frame

    spec = TableSpec(partition_grain="NONE")
    # torn-tick recovery FIRST: if a prior tick crashed between state
    # appends, excise its partial writes before reading any state (the
    # state tables are pipeline-owned — single ticker discipline, like
    # any streaming checkpoint owner)
    _recover_torn_tick(wh, tables)
    # pin the span end BEFORE reading: appends racing the tick land in
    # the next span instead of being half-seen
    to_version = wh.current_version(corpus_table)

    def _stamp(df: DataFrame) -> DataFrame:
        return df.withColumn(TICK_COL, F.lit(int(to_version)).cast("long"))
    if cursor is None:
        # first tick: the whole corpus at the pinned version (spans
        # start EXCLUSIVE, so version 0's own rows need the full read)
        new = wh.read(corpus_table, version=to_version)
    else:
        new = wh.read_appended(corpus_table, cursor, to_version)
    new = new.select(id_col, text_col)

    gated = new.filter(quality_score(F.col(text_col)) >= cfg.min_quality)

    # -- exact dedup against the accumulated fingerprint set ------------
    fp = gated.withColumn("fp", fingerprint(F.col(text_col)))
    try:
        seen_fp = wh.read(tables.fingerprints).select("fp")
    except Exception:  # first tick: no state yet
        seen_fp = None
    fresh = fp.join(seen_fp, "fp", "left_anti") if seen_fp is not None else fp
    keepers = fresh.groupBy("fp").agg(F.min(id_col).alias(id_col))
    exact_new = fresh.join(
        keepers, [ "fp", id_col ], "left_semi"
    ).localCheckpoint(eager=False)

    # -- near dedup: probe the corpus index with the delta's postings ---
    sig = dedup.minhash_signature(
        exact_new, id_col, text_col, num_hashes=cfg.minhash_hashes, n=cfg.shingle_n
    )
    # postings carry each doc's quality (token count): the "best"
    # survivor policy orients probe pairs by the INDEX side's quality,
    # which therefore must persist with the index (near-dup losers'
    # text never reaches the survivors table, so it can't be re-read)
    q_new = exact_new.select(
        F.col(id_col).alias("doc"),
        token_count(F.col(text_col)).cast("long").alias("q"),
    )
    new_posts = (
        dedup.lsh_band_postings(
            sig, id_col, num_hashes=cfg.minhash_hashes, bands=cfg.minhash_bands
        )
        .join(q_new, "doc")
        .localCheckpoint(eager=False)
    )
    try:
        index_posts = wh.read(tables.postings).drop(TICK_COL)
    except Exception:
        index_posts = None
    old_losers = None
    if cfg.survivor == "best":
        # quality rides the postings rows, so the probe join orients
        # each pair inline — never re-joining quality onto the
        # pair-sized frame (measured 2.7x and growing with index size
        # on a dense candidate graph)
        if index_posts is not None and "q" not in index_posts.columns:
            raise ValueError(
                "survivor='best' needs a quality-bearing postings "
                "index (doc, bucket, q); the stored index predates "
                "it — rebuild the state tables"
            )
        if index_posts is not None:
            # column PRESENCE isn't NULL-safety: append-path schema
            # evolution reads pre-q postings rows as q=NULL, and a NULL
            # quality would silently invert the orientation (every
            # comparison NULL => the otherwise() branch, so the NEW doc
            # loses every pair against a pre-q index doc). Fail loudly
            # at execution instead — the filter rides the probe's index
            # scan, so it costs no extra pass.
            index_posts = index_posts.filter(
                F.assert_true(
                    F.col("q").isNotNull(),
                    F.lit(
                        "survivor='best': stored postings index has "
                        "NULL-q rows (pre-quality rows read through "
                        "schema evolution) — rebuild the state tables"
                    ),
                ).isNull()
            )
        all_losers = dedup.lsh_probe_losers_by_quality(
            new_posts, index_posts
        ).localCheckpoint(eager=False)
        losers = all_losers.select(F.col("doc").alias(id_col))
        # losers not in this tick's delta are ALREADY-ACCEPTED docs a
        # higher-quality new twin just beat: evict them retroactively
        # (append-only — see PretrainTickTables.evicted)
        old_losers = all_losers.join(
            q_new.select("doc"), "doc", "left_anti"
        ).select(F.col("doc").alias(id_col))
        # a beaten doc's postings STAY in the index (the population
        # contract above), so it can lose again in any later tick —
        # only its FIRST eviction is appended, or the append-only log
        # would accumulate a duplicate id per re-loss
        try:
            old_losers = old_losers.join(
                wh.read(tables.evicted).select(id_col), id_col, "left_anti"
            )
        except Exception:  # no evictions recorded yet
            pass
    else:
        if cfg.survivor != "min_id":
            raise ValueError(f"unknown survivor policy: {cfg.survivor!r}")
        # min-id greedy = the quality rule under CONSTANT quality (ties
        # drop the larger id), so the same argmax probe applies. Loser
        # ids outside the delta (an index doc with a larger id than a
        # colliding new doc) fall out of the anti-join below, exactly
        # as before.
        zero = F.lit(0).cast("long")
        losers = dedup.lsh_probe_losers_by_quality(
            new_posts.withColumn("q", zero),
            index_posts.withColumn("q", zero) if index_posts is not None else None,
        ).select(F.col("doc").alias(id_col))
    near_new = exact_new.join(losers, id_col, "left_anti").drop("fp")

    # -- semantic dedup against the accumulated embedding index --------
    # (only when an aligned embeddings frame is supplied — the SemDeDup
    # stage of build_corpus, made incremental with the same
    # probe-the-index decomposition as the LSH stage; equality with the
    # batch holds under the same ingest-monotonic-id precondition,
    # provided the quantizer's seed rows all land in the first tick,
    # which monotonic ids guarantee)
    sem_new = near_new
    assigned_new = None
    if embeddings is not None:
        sem_new = near_new.localCheckpoint(eager=False)
        emb_new = embeddings.join(
            sem_new.select(F.col(id_col).alias(emb_id_col)),
            emb_id_col,
            "left_semi",
        )
        try:
            cent_rows = wh.read(tables.sem_centroids).orderBy("list_id").collect()
            cents = [[float(x) for x in r["centroid"]] for r in cent_rows]
        except Exception:  # first tick: freeze the quantizer
            cents = ann.seed_centroids(
                emb_new, id_col=emb_id_col, vec_col=emb_vec_col,
                k=cfg.sem_clusters,
            )
            wh.append(
                _stamp(
                    local_frame(
                        wh.spark,
                        [(i, c) for i, c in enumerate(cents)],
                        "list_id: int, centroid: array<double>",
                    )
                ),
                tables.sem_centroids,
                spec,
            )
        assigned_new = emb_new.select(
            F.col(emb_id_col),
            F.col(emb_vec_col).alias("embedding"),
            ann.assign_list(F.col(emb_vec_col), cents).alias("list_id"),
        ).localCheckpoint(eager=False)
        try:
            sem_index = wh.read(tables.sem_vectors).drop(TICK_COL)
        except Exception:
            sem_index = None
        sem_index_raw = sem_index  # pre-exclusion view (resurrection seeds)
        if sem_index is not None:
            # eviction reaches the sem probe population too: a beaten
            # doc is absent from the batch's near_survivors, so its
            # vector never vetoes there — keep the incremental probe's
            # population identical by excluding (accumulated evicted ∪
            # this tick's old losers). Merge-on-read like the corpus
            # itself; materialize_survivors compacts it away.
            gone = None
            try:
                gone = wh.read(tables.evicted).select(
                    F.col(id_col).alias(emb_id_col)
                )
            except Exception:  # no evictions recorded yet
                pass
            if old_losers is not None:
                mine = old_losers.select(F.col(id_col).alias(emb_id_col))
                gone = mine if gone is None else gone.unionByName(mine)
            if gone is not None:
                sem_index = sem_index.join(gone, emb_id_col, "left_anti")
        n = ann.with_norm(assigned_new, "embedding").select(
            "list_id",
            F.col(emb_id_col).alias("id_n"),
            F.col("embedding").alias("vn"),
            F.col("__norm_q").alias("nn"),
        )

        def _pairs(side):
            joined = side.join(n, "list_id").filter(F.col("id_a") < F.col("id_n"))
            return (
                joined.withColumn(
                    "cosine",
                    ann.cosine_from_quantized(
                        ann.quantized_dot(F.col("va"), F.col("vn")),
                        F.col("na"),
                        F.col("nn"),
                    ),
                )
                .filter(F.col("cosine") >= cfg.sem_min_cosine)
                .select(F.col("id_n").alias(id_col))
            )

        sem_losers = _pairs(
            ann.with_norm(assigned_new, "embedding").select(
                "list_id",
                F.col(emb_id_col).alias("id_a"),
                F.col("embedding").alias("va"),
                F.col("__norm_q").alias("na"),
            )
        )
        if sem_index is not None:
            sem_losers = sem_losers.unionByName(
                _pairs(
                    ann.with_norm(sem_index, "embedding").select(
                        "list_id",
                        F.col(emb_id_col).alias("id_a"),
                        F.col("embedding").alias("va"),
                        F.col("__norm_q").alias("na"),
                    )
                )
            )
        sem_new = sem_new.join(
            sem_losers.distinct(), id_col, "left_anti"
        )

        # -- sem resurrection on retroactive eviction ------------------
        # The sem stage's veto population is the CURRENT near-survivor
        # set (build_corpus re-derives it from scratch every run), and
        # keep-best eviction SHRINKS that set retroactively: a past doc
        # whose every smaller-id similar near-survivor has since been
        # evicted is a sem SURVIVOR in the batch, so the tick must
        # re-admit it (found by the r13 stateful fuzz: near-beaten doc
        # E evicted in tick N+k resurrects the doc E had sem-vetoed in
        # tick N). Exactly one level deep — no cascade — because the
        # veto population is near_survivors, not sem survivors, and
        # under the monotone-id precondition a NEW vector can never
        # veto a PAST doc (veto needs the smaller id), so a past doc's
        # sem status changes only when the population shrinks.
        # Candidates = the stored population's non-survivors (past sem
        # losers; `sem_index` is already evicted/old_losers-filtered),
        # re-checked against that same remaining population; texts of
        # the re-admitted ids are re-read from the pinned corpus span.
        if old_losers is not None and sem_index is not None:
            try:
                surv_past = wh.read(tables.survivors).select(
                    F.col(id_col).alias(emb_id_col)
                )
            except Exception:  # first tick: nothing to resurrect
                surv_past = None
            if surv_past is not None:

                def _sides(df, a, v, nq):
                    return ann.with_norm(df, "embedding").select(
                        "list_id",
                        F.col(emb_id_col).alias(a),
                        F.col("embedding").alias(v),
                        F.col("__norm_q").alias(nq),
                    )

                def _sim_pairs(left, right):
                    # (id_l < id_r, same cluster, cos >= tau) -> id_r
                    return (
                        left.join(right, "list_id")
                        .filter(F.col("id_l") < F.col("id_r"))
                        .withColumn(
                            "cosine",
                            ann.cosine_from_quantized(
                                ann.quantized_dot(F.col("vl"), F.col("vr")),
                                F.col("nl"),
                                F.col("nr"),
                            ),
                        )
                        .filter(F.col("cosine") >= cfg.sem_min_cosine)
                        .select(F.col("id_r").alias(emb_id_col))
                        .distinct()
                    )

                # seed candidates from THIS tick's newly-gone vectors
                # only: a past doc's sem status can change only when
                # one of its vetoers leaves the population, and a
                # vetoer leaves exactly once (old_losers is first-
                # eviction-only) — so re-checking the docs the newly
                # gone vectors had vetoed is complete across ticks,
                # and the seed frame stays eviction-sized instead of
                # population-sized (the full-candidate first cut grew
                # per tick: 29/34/42 s at sf1 vs 23/21/18 recorded).
                #
                # UPGRADE NOTE: completeness holds from the first tick
                # run with this code onward. A warehouse whose
                # `evicted` table already contains evictions recorded
                # by PRE-resurrection code keeps any sem survivors
                # those old evictions should have resurrected until a
                # full materialize/rebuild replays the corpus — there
                # is deliberately no one-time backfill pass here (it
                # would scan the full vector population on every
                # upgrade detection; rebuild is the documented path).
                gone_vecs = sem_index_raw.join(
                    old_losers.select(F.col(id_col).alias(emb_id_col)),
                    emb_id_col,
                    "left_semi",
                )
                touched = _sim_pairs(
                    _sides(gone_vecs, "id_l", "vl", "nl"),
                    _sides(sem_index, "id_r", "vr", "nr"),
                )
                cand = (
                    sem_index.join(touched, emb_id_col, "left_semi")
                    .join(surv_past, emb_id_col, "left_anti")
                    .localCheckpoint(eager=True)
                )
                vetoed = _sim_pairs(
                    _sides(sem_index, "id_l", "vl", "nl"),
                    _sides(cand, "id_r", "vr", "nr"),
                )
                res_ids = (
                    cand.select(emb_id_col)
                    .join(vetoed, emb_id_col, "left_anti")
                    .localCheckpoint(eager=True)
                )
                if res_ids.count() > 0:
                    resurrected = (
                        wh.read(corpus_table, version=to_version)
                        .select(id_col, text_col)
                        .join(
                            res_ids.select(F.col(emb_id_col).alias(id_col)),
                            id_col,
                            "left_semi",
                        )
                    )
                    sem_new = sem_new.unionByName(resurrected)

    # -- commit state: stamped appends + the tick-log marker LAST ------
    # Idempotence: a rerun of a crashed tick first rolls back these
    # stamped appends (_recover_torn_tick), then re-reads the same span
    # and re-appends — no document is lost or duplicated whichever
    # append the crash interrupted.
    wh.append(_stamp(exact_new.select("fp", id_col)), tables.fingerprints, spec)
    wh.append(_stamp(new_posts), tables.postings, spec)
    if assigned_new is not None:
        wh.append(_stamp(assigned_new), tables.sem_vectors, spec)
    if old_losers is not None:
        wh.append(_stamp(old_losers), tables.evicted, spec)
    wh.append(_stamp(sem_new), tables.survivors, spec)
    # the COMMIT: one tick-log row per state table, written last. A
    # crash anywhere above leaves the log without this tick, and the
    # next run's _recover_torn_tick rolls the stamped appends back.
    wh.append(
        local_frame(
            wh.spark,
            [
                (int(to_version), t, int(wh.current_version(t)))
                for t in tables.state_tables()
                if wh.exists(t)
            ],
            "tick: long, state_table: string, version: long",
        ),
        tables.tick_log,
        spec,
    )

    survivors = wh.read(tables.survivors).drop(TICK_COL)
    try:
        ev = wh.read(tables.evicted).select(id_col)
        # merge-on-read: accepted-then-beaten docs leave the corpus here
        survivors = survivors.join(ev, id_col, "left_anti")
    except Exception:  # no evictions recorded (min_id policy, or none yet)
        pass
    shards = None
    if tokens_per_shard is not None:
        shards = packing.shard_plan(
            survivors.withColumn("n_tok", token_count(F.col(text_col))),
            id_col,
            "n_tok",
            tokens_per_shard=tokens_per_shard,
        )
    return {
        "new_rows": new,
        "gated": gated,
        "exact_new": exact_new.drop("fp"),
        "near_new": near_new,
        "sem_new": sem_new,
        "survivors": survivors,
        "shards": shards,
        "cursor": to_version,
    }
