"""Count-min sketch: sub-linear frequency estimation over a key column.

The streaming-analytics counterpart to the exact groupBy count — a
bounded ``depth x width`` integer table whose cells are additive, so
sketches built per partition / per micro-batch / per day MERGE by cell
addition (the property HLL gives distinct counts, CMS gives
frequencies). Estimate(key) = min over rows of the key's slot counts;
it never under-estimates, and over-estimates by at most ~2N/width with
probability 1 - 2^-depth (Cormode & Muthukrishnan 2005).

Spark-first shape: build is one explode(xdepth) + one map-side-
combinable groupBy — output is depth*width rows no matter the corpus
size; probe is an equi-join of the (tiny, broadcast) sketch. Hashing
is depth-salted md5 — deterministic across engines, so an external
system (or the DuckDB oracle) reproduces the sketch bit-for-bit.

Reference parity: the reference has no sketch surface (BigQuery runs
APPROX_* server-side); this is part of the engine's own analytics
layer alongside events_approx_stats (HLL/quantiles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_connect_bigquery_spark.operators.rollup import cdc_span
from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, WarehouseError

DEPTH = 4
WIDTH = 256


def _slot(key: Column, d: int, width: int) -> Column:
    """Depth-salted md5 slot: first 8 hex chars -> uint32 -> mod width.
    Same arithmetic as the SQL twin: CAST(concat('0x', substr(md5(..),
    1, 8)) AS BIGINT) % width."""
    h = F.md5(F.concat(F.lit(f"{d}:"), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % width


def _probe_rows(
    df: DataFrame,
    col: str,
    depth: int,
    width: int,
    keep: list[str] | None = None,
) -> DataFrame:
    key = F.col(col)
    keep = list(keep or [])
    return (
        df.filter(key.isNotNull())
        .select(
            *keep,
            col,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"), _slot(key, d, width).alias("slot")
                        )
                        for d in range(depth)
                    ]
                )
            ).alias("_e"),
        )
        .select(*keep, col, "_e.d", "_e.slot")
    )


def count_min_build(
    df: DataFrame, col: str, *, depth: int = DEPTH, width: int = WIDTH
) -> DataFrame:
    """Build the sketch: ``(d, slot, cnt)`` rows, at most depth*width of
    them. NULL keys are skipped (count them separately if they matter).
    Two sketches over disjoint data union by summing cnt per (d, slot)
    — the merge path a per-day rollup uses."""
    return (
        _probe_rows(df, col, depth, width)
        .groupBy("d", "slot")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built over disjoint row sets (cell-wise add)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "slot").agg(F.sum("cnt").alias("cnt"))


def count_min_build_grouped(
    df: DataFrame,
    col: str,
    group_cols: list[str],
    *,
    depth: int = DEPTH,
    width: int = WIDTH,
) -> DataFrame:
    """Per-group count-min sketches in one pass: ``(*group_cols, d,
    slot, cnt)`` rows, at most depth*width per group. One explode + one
    map-side-combinable groupBy — the shape that lets a per-day
    frequency sketch ride the same scan as the day's rollup."""
    return (
        _probe_rows(df, col, depth, width, keep=group_cols)
        .groupBy(*group_cols, "d", "slot")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_maintain_grouped(
    stored: DataFrame,
    changes: DataFrame,
    col: str,
    group_cols: list[str],
    *,
    depth: int = DEPTH,
    width: int = WIDTH,
) -> DataFrame:
    """Incremental maintenance of a per-group count-min table from a CDC
    feed (``Warehouse.read_changes(images="both")``) — the third member
    of the sketch-IVM family, and the strongest: count-min is a LINEAR
    sketch (every cell is a sum of per-row +1s), so deletions SUBTRACT.
    Insert / update_postimage rows add 1 to their (d, slot) cells;
    delete / update_preimage rows add -1; cells cancel exactly. Unlike
    :func:`hll_maintain_grouped` (max cannot unsee) and
    :func:`kmv_maintain_grouped` (the discarded (k+1)-th hash), there is
    NO rebuild path and no ``current`` argument — maintenance cost is
    O(|changes| x depth) + the merge against affected groups' cells,
    even for a group that lost every row (its cells reach 0 and are
    dropped, exactly as a direct rebuild would never emit them).
    Maintained cells are provably EQUAL to a from-scratch build of the
    final state: both are the same sum, associativity is the proof.
    """
    live = changes.filter(F.col(col).isNotNull())
    w = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    signed = _probe_rows(
        live.select(*group_cols, col, w.alias("_w")),
        col,
        depth,
        width,
        keep=[*group_cols, "_w"],
    )
    delta = signed.groupBy(*group_cols, "d", "slot").agg(
        F.sum("_w").alias("cnt")
    )
    return (
        stored.unionByName(delta)
        .groupBy(*group_cols, "d", "slot")
        .agg(F.sum("cnt").alias("cnt"))
        .filter(F.col("cnt") != 0)
    )


def count_min_estimate_grouped(
    sketch: DataFrame,
    keys: DataFrame,
    col: str,
    group_cols: list[str],
    *,
    depth: int = DEPTH,
    width: int = WIDTH,
) -> DataFrame:
    """Per-group frequency estimates for the distinct ``(*group_cols,
    col)`` tuples in ``keys``: min over depth of the group's slot
    counts. The sketch side is depth*width rows per group — the join
    keys carry the group, so estimates for different groups never mix.
    """
    probes = _probe_rows(
        keys.select(*group_cols, col).distinct(),
        col,
        depth,
        width,
        keep=group_cols,
    )
    return (
        probes.join(sketch, [*group_cols, "d", "slot"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
        .groupBy(*group_cols, col)
        .agg(F.min("cnt").alias("cm_estimate"))
    )


def count_min_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    col: str,
    *,
    depth: int = DEPTH,
    width: int = WIDTH,
) -> DataFrame:
    """Frequency estimates for ``keys[col]`` (deduplicated): min over
    depth of the key's slot counts; a slot the sketch never filled
    counts 0. The sketch side is depth*width rows — broadcast, so the
    probe is shuffle-free on the sketch side."""
    probes = _probe_rows(keys.select(col).distinct(), col, depth, width)
    return (
        probes.join(F.broadcast(sketch), ["d", "slot"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
        .groupBy(col)
        .agg(F.min("cnt").alias("cm_estimate"))
    )


# ---------------------------------------------------------------------------
# HyperLogLog: mergeable distinct-count registers, integer-exact
# ---------------------------------------------------------------------------
#
# The register layer of Flajolet et al. 2007 with every float removed:
# hash is the 32-bit md5 prefix (same convention as the CMS slots), the
# top HLL_P bits pick the register, rho is the leading-zero rank of the
# remaining 32-HLL_P bits, and the harmonic sum is kept as the INTEGER
# sum of 2^(RMAX - rho) — order-independent, so a distributed groupBy
# and a single-threaded SQL engine produce bit-identical sketches and
# estimates (raw estimate only; the small-range linear-counting branch
# needs ln() and is deliberately left to the caller, documented below).
# Registers MERGE by per-register max — the property that makes HLL the
# 100 TB distinct-count tool: per-day / per-partition sketches combine
# without rescanning data.

HLL_P = 8  # 2^8 = 256 registers, standard error ~1.04/sqrt(256) = 6.5%
_HLL_M = 1 << HLL_P
_HLL_WBITS = 32 - HLL_P  # bits hashed into the rank
_HLL_W = 1 << _HLL_WBITS
_HLL_RMAX = _HLL_WBITS + 1  # max possible rho (all rank bits zero)
# alpha_256 = 0.7213/(1+1.079/256), scaled to parts-per-million so the
# estimate is a pure bigint expression both here and in the SQL twin
HLL_ALPHA_PPM = 718273


def _hash32(key: Column, salt: str) -> Column:
    """Salted 32-bit md5 prefix — the shared engine/oracle hash."""
    h = F.md5(F.concat(F.lit(salt), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def hll_build(df: DataFrame, col: str, *, p: int = HLL_P) -> DataFrame:
    """Build HLL registers for ``df[col]``: ``(register, rho)`` rows,
    at most 2^p of them, NULLs skipped. One map-side-combinable groupBy
    regardless of input size. Registers with no hits are absent (their
    implicit rho is 0); ``hll_estimate`` accounts for them."""
    wbits = 32 - p
    w = F.col("_h") % (1 << wbits)
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(w))
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(_hash32(F.col(col), "hll:").alias("_h"))
        .select(
            F.shiftright(F.col("_h"), wbits).alias("register"),
            rho.alias("rho"),
        )
        .groupBy("register")
        .agg(F.max("rho").alias("rho"))
    )


def hll_build_grouped(
    df: DataFrame, col: str, group_cols: list[str], *, p: int = HLL_P
) -> DataFrame:
    """Per-group register frames in ONE pass: ``(*group_cols, register,
    rho)``. The shape a 100 TB rollup stores — one tiny sketch per
    day/source — which ``hll_merge`` later collapses to any coarser
    grain without touching the data again."""
    wbits = 32 - p
    w = F.col("_h") % (1 << wbits)
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(w))
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(*group_cols, _hash32(F.col(col), "hll:").alias("_h"))
        .select(
            *group_cols,
            F.shiftright(F.col("_h"), wbits).alias("register"),
            rho.alias("rho"),
        )
        .groupBy(*group_cols, "register")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Merge register frames built over arbitrary (even overlapping)
    row sets: per-register max. max(max(..)) == max(..), so merging
    per-group sketches is bit-identical to one global build."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("register").agg(F.max("rho").alias("rho"))


def hll_estimate(sketch: DataFrame, *, p: int = HLL_P) -> DataFrame:
    """Raw HLL estimate as one integer row: ``m``, ``n_nonzero``
    (occupied registers), ``s_scaled`` = sum over ALL m registers of
    2^(RMAX - rho) (empty registers contribute 2^RMAX), and
    ``hll_estimate`` = alpha_ppm * m^2 * 2^RMAX DIV (s_scaled * 10^6).
    Pure bigint arithmetic end-to-end (max numerator ~1.6e18 < 2^63).
    Callers needing the small-range branch apply linear counting
    m*ln(m/(m-n_nonzero)) on these same integers — kept out of the
    operator so its output stays engine-exact."""
    m = 1 << p
    rmax = 32 - p + 1
    agg = sketch.agg(
        F.count(F.lit(1)).alias("n_nonzero"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {rmax} - rho)")
        ).alias("_s_present"),
    )
    return agg.select(
        F.lit(m).alias("m"),
        F.col("n_nonzero"),
        (
            F.coalesce(F.col("_s_present"), F.lit(0))
            + (F.lit(m) - F.col("n_nonzero")) * F.lit(1 << rmax)
        ).alias("s_scaled"),
    ).select(
        "m",
        "n_nonzero",
        "s_scaled",
        F.expr(
            f"CAST({HLL_ALPHA_PPM} AS BIGINT) * {m} * {m} * {1 << rmax}"
            " DIV (s_scaled * 1000000)"
        ).alias("hll_estimate"),
    )


def hll_estimate_grouped(
    grouped: DataFrame, group_cols: list[str], *, p: int = HLL_P
) -> DataFrame:
    """Per-group raw estimates from a ``hll_build_grouped`` frame: one
    integer row per group, same arithmetic as ``hll_estimate``."""
    m = 1 << p
    rmax = 32 - p + 1
    return (
        grouped.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_nonzero"),
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {rmax} - rho)")
            ).alias("_s_present"),
        )
        .select(
            *group_cols,
            F.lit(m).alias("m"),
            F.col("n_nonzero"),
            (
                F.coalesce(F.col("_s_present"), F.lit(0))
                + (F.lit(m) - F.col("n_nonzero")) * F.lit(1 << rmax)
            ).alias("s_scaled"),
        )
        .select(
            *group_cols,
            "m",
            "n_nonzero",
            "s_scaled",
            F.expr(
                f"CAST({HLL_ALPHA_PPM} AS BIGINT) * {m} * {m} * {1 << rmax}"
                " DIV (s_scaled * 1000000)"
            ).alias("hll_estimate"),
        )
    )


def hll_maintain_grouped(
    stored: DataFrame,
    changes: DataFrame,
    col: str,
    group_cols: list[str],
    current: DataFrame,
    *,
    p: int = HLL_P,
) -> DataFrame:
    """Incremental maintenance of a per-group HLL register table from a
    CDC feed (``Warehouse.read_changes(images="both")``) — the sketch
    counterpart of ``rollup.apply_rollup_delta``.

    HLL registers are max-monotone: additions MERGE in (per-register
    max, bit-identical to a direct rebuild), and re-inserting an
    existing value is a no-op, so insert / update_postimage rows apply
    at CDC cost. What max cannot do is SUBTRACT, so any group that
    LOST a contribution — a tuple ``(group, col)`` present in a
    delete/update_preimage row with no matching post-image row — is
    rebuilt from ``current`` instead. The lost-contribution test is an
    anti-join of pre-image tuples against post-image tuples, i.e. an
    update that keeps the sketched tuple (only other columns changed)
    stays on the cheap path.

    Scale shape: the cheap path touches |changes| + |registers of
    affected groups| rows; the rebuild path scans only the affected
    groups of ``current`` (with a date-grained group column that read
    is partition-pruned). Nothing ever rescans the unaffected corpus,
    and maintained registers are provably EQUAL to a direct rebuild —
    the staged oracle query re-derives both inside one plan.

    Returns ``(*group_cols, register, rho)`` for every group still
    carrying contributions (a fully-deleted group disappears, exactly
    as a direct rebuild would drop it).
    """
    live = changes.filter(F.col(col).isNotNull())
    pre = live.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select(*group_cols, col)
    post = live.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(*group_cols, col)
    lost_groups = (
        pre.join(post, [*group_cols, col], "left_anti")
        .select(*group_cols)
        .distinct()
        .localCheckpoint(eager=False)  # feeds two anti-joins + one semi-join
    )
    delta = hll_build_grouped(
        post.join(lost_groups, group_cols, "left_anti"), col, group_cols, p=p
    )
    kept = stored.join(lost_groups, group_cols, "left_anti")
    rebuilt = hll_build_grouped(
        current.join(F.broadcast(lost_groups), group_cols, "left_semi"),
        col,
        group_cols,
        p=p,
    )
    return (
        kept.unionByName(delta)
        .groupBy(*group_cols, "register")
        .agg(F.max("rho").alias("rho"))
        .unionByName(rebuilt)
    )


# ---------------------------------------------------------------------------
# KMV (k minimum values): distinct-count sketch with exact set algebra
# ---------------------------------------------------------------------------
#
# Keep the k smallest DISTINCT 32-bit hashes; the kth smallest U_(k)
# estimates n ~ (k-1) * 2^32 / U_(k) (Bar-Yossef et al. 2002 / the
# theta-sketch core). Two properties make it the engineer's sketch:
# (1) merge = k smallest of the union of the kept sets, EXACTLY equal
# to the sketch of the concatenated data (no approximation in the merge
# itself), and (2) with fewer than k distinct values the sketch IS the
# exact distinct set. Both are integer facts a SQL oracle re-derives.

KMV_K = 64


def kmv_build(df: DataFrame, col: str, *, k: int = KMV_K) -> DataFrame:
    """k smallest distinct hashes of ``df[col]`` as ``(hv,)`` rows
    (≤ k of them). Distinct (the one shuffle) then orderBy+limit, which
    Spark compiles to TakeOrderedAndProject — per-partition top-k then
    a k-bounded merge, never a global sort."""
    return (
        df.filter(F.col(col).isNotNull())
        .select(_hash32(F.col(col), "kmv:").alias("hv"))
        .distinct()
        .orderBy("hv")
        .limit(k)
    )


def kmv_build_grouped(
    df: DataFrame, col: str, group_cols: list[str], *, k: int = KMV_K
) -> DataFrame:
    """Per-group KMV sketches in one pass: ``(*group_cols, hv)`` rows,
    at most k per group — distinct (group, hash) then a top-k window
    PARTITIONED by group (parallel across groups, k-bounded within)."""
    from pyspark.sql import Window

    hashes = (
        df.filter(F.col(col).isNotNull())
        .select(*group_cols, _hash32(F.col(col), "kmv:").alias("hv"))
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy("hv")
    return (
        hashes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_maintain_grouped(
    stored: DataFrame,
    changes: DataFrame,
    col: str,
    group_cols: list[str],
    current: DataFrame,
    *,
    k: int = KMV_K,
) -> DataFrame:
    """Incremental maintenance of a per-group KMV sketch table from a
    CDC feed — the KMV twin of :func:`hll_maintain_grouped`, and the
    second half of the mergeable-sketch IVM story: KMV merge is
    LOSSLESS set algebra (k smallest of the union == sketch of the
    concatenation), so insert / update post-images fold in at CDC cost
    via a per-group top-k window. What the kept set cannot do is
    UN-SEE a deletion — the (k+1)-th smallest hash was discarded — so
    any group that LOST a ``(group, col)`` contribution (pre-image with
    no matching post-image) rebuilds from ``current``, affected groups
    only. Maintained sketches are provably EQUAL to a direct rebuild of
    the final state."""
    live = changes.filter(F.col(col).isNotNull())
    pre = live.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select(*group_cols, col)
    post = live.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(*group_cols, col)
    lost_groups = (
        pre.join(post, [*group_cols, col], "left_anti")
        .select(*group_cols)
        .distinct()
        .localCheckpoint(eager=False)  # feeds two anti-joins + one semi-join
    )
    delta = (
        post.join(lost_groups, group_cols, "left_anti")
        .filter(F.col(col).isNotNull())
        .select(*group_cols, _hash32(F.col(col), "kmv:").alias("hv"))
    )
    kept = stored.join(lost_groups, group_cols, "left_anti")
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy("hv")
    merged = (
        kept.unionByName(delta)
        .distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
    rebuilt = kmv_build_grouped(
        current.join(F.broadcast(lost_groups), group_cols, "left_semi"),
        col,
        group_cols,
        k=k,
    )
    return merged.unionByName(rebuilt)


def kmv_estimate_grouped(
    grouped: DataFrame, group_cols: list[str], *, k: int = KMV_K
) -> DataFrame:
    """Per-group integer estimates from a ``kmv_build_grouped`` frame —
    same arithmetic as :func:`kmv_estimate`."""
    return (
        grouped.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("n_kept"), F.max("hv").alias("kth_hash"))
        .select(
            *group_cols,
            "n_kept",
            "kth_hash",
            F.when(F.col("n_kept") < k, F.col("n_kept").cast("long"))
            .otherwise(
                F.expr(f"CAST({k - 1} AS BIGINT) * 4294967296 DIV kth_hash")
            )
            .alias("kmv_estimate"),
        )
    )


def kmv_merge(*sketches: DataFrame, k: int = KMV_K) -> DataFrame:
    """Union the kept hash sets, dedup, keep the k smallest — exactly
    the sketch of the concatenated inputs."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.distinct().orderBy("hv").limit(k)


def kmv_estimate(sketch: DataFrame, *, k: int = KMV_K) -> DataFrame:
    """One integer row: ``n_kept`` (= min(k, true distinct)), ``kth_hash``
    (max kept hash), and ``kmv_estimate`` — (k-1)*2^32 DIV kth when the
    sketch is full, else n_kept itself (the sketch saw every distinct
    value, so the count is exact)."""
    agg = sketch.agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("hv").alias("kth_hash")
    )
    return agg.select(
        "n_kept",
        "kth_hash",
        F.when(
            F.col("n_kept") < k, F.col("n_kept").cast("long")
        )
        .otherwise(
            F.expr(f"CAST({k - 1} AS BIGINT) * 4294967296 DIV kth_hash")
        )
        .alias("kmv_estimate"),
    )


# ---------------------------------------------------------------------------
# Fixed-grid histogram: mergeable quantiles that survive deletes
# ---------------------------------------------------------------------------
#
# A per-group equi-width histogram over a FIXED [lo, hi) grid is the
# third linear sketch: cells are sums, so per-partition histograms
# merge by addition and CDC deletions SUBTRACT — the property
# approx_percentile's GK/KLL summaries lack (they cannot unsee). On a
# fixed grid the quantile answer is deterministic to a bucket: the
# smallest bucket whose cumulative count covers ceil(q*n), every step
# integer arithmetic a SQL oracle re-derives. Bucket resolution is the
# accuracy knob; out-of-range values clamp into the edge buckets, so
# the sketch never drops rows.

HIST_NBINS = 64


def _hist_bucket(col: Column, lo: float, hi: float, nbins: int) -> Column:
    raw = F.floor(
        (col.cast("double") - F.lit(float(lo)))
        * F.lit(float(nbins))
        / F.lit(float(hi) - float(lo))
    ).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(nbins - 1), raw))


def hist_build_grouped(
    df: DataFrame,
    col: str,
    group_cols: list[str],
    *,
    lo: float,
    hi: float,
    nbins: int = HIST_NBINS,
) -> DataFrame:
    """Per-group fixed-grid histogram: ``(*group_cols, bucket, cnt)``
    rows, at most nbins per group. One map-side-combinable groupBy."""
    key = F.col(col)
    return (
        df.filter(key.isNotNull())
        .select(*group_cols, _hist_bucket(key, lo, hi, nbins).alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_maintain_grouped(
    stored: DataFrame,
    changes: DataFrame,
    col: str,
    group_cols: list[str],
    *,
    lo: float,
    hi: float,
    nbins: int = HIST_NBINS,
) -> DataFrame:
    """Incremental maintenance from a CDC feed — linear, exactly like
    :func:`count_min_maintain_grouped`: post-images add 1 to their
    bucket, pre-images subtract 1, no rebuild path, maintained ==
    direct build by associativity. An update that moves a row's value
    across buckets decrements the old bucket and increments the new
    one in the same pass."""
    key = F.col(col)
    live = changes.filter(key.isNotNull())
    w = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = (
        live.select(
            *group_cols,
            _hist_bucket(key, lo, hi, nbins).alias("bucket"),
            w.alias("_w"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.sum("_w").alias("cnt"))
    )
    return (
        stored.unionByName(delta)
        .groupBy(*group_cols, "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .filter(F.col("cnt") != 0)
    )


def hist_quantile_grouped(
    hist: DataFrame,
    group_cols: list[str],
    qs_x1000: list[int],
    *,
    lo: float,
    hi: float,
    nbins: int = HIST_NBINS,
) -> DataFrame:
    """Per-group quantile buckets from a histogram frame: for each
    q (in thousandths), the smallest bucket whose cumulative count
    reaches ceil(q*n/1000) — compared in cross-multiplied integers
    (``cum * 1000 >= q * n``), so the answer is engine-exact. Emits
    ``p<q>_bucket`` plus its lower edge ``p<q>_lo`` (the deterministic
    double ``lo + bucket*(hi-lo)/nbins``). The cumulative sum is a
    window PARTITIONED by group over at most nbins rows per group."""
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    h = hist.withColumn("cum", F.sum("cnt").over(w_cum))
    totals = hist.groupBy(*group_cols).agg(F.sum("cnt").alias("n"))
    j = h.join(totals, list(group_cols))
    out = totals
    step = (float(hi) - float(lo)) / nbins
    for q in qs_x1000:
        picked = (
            j.filter(F.col("cum") * 1000 >= F.lit(q) * F.col("n"))
            .groupBy(*group_cols)
            .agg(F.min("bucket").alias(f"p{q}_bucket"))
        )
        out = out.join(picked, list(group_cols))
        out = out.withColumn(
            f"p{q}_lo",
            F.lit(float(lo)) + F.col(f"p{q}_bucket").cast("double") * F.lit(step),
        )
    return out


# ---------------------------------------------------------------------------
# AMS (Alon-Matias-Szegedy) F2 sketch: second-moment / self-join size
# ---------------------------------------------------------------------------
#
# The tug-of-war sketch (Alon, Matias & Szegedy 1996): depth x width
# cells, each the SIGNED sum of its keys' occurrences (sign = an
# independently-salted hash bit per depth row). E[sum_slot cell^2] = F2
# = sum_k f_k^2 — the self-join size, the quantity a join planner needs
# to size a shuffle before running it. Like count-min it is LINEAR:
# per-partition sketches merge by cell addition and deletions subtract,
# so the same CDC maintenance applies with no rebuild path. depth is
# odd so the median estimate is a single integer cell — every number
# below is engine-exact int64 arithmetic a SQL oracle re-derives.

AMS_DEPTH = 5
AMS_WIDTH = 64


def _ams_sign(key: Column, d: int) -> Column:
    """±1 from a depth-salted hash bit, independent of the slot hash
    (different salt prefix). SQL twin: 1 - 2 * (CAST(concat('0x',
    substr(md5(concat('s<d>:', key)), 1, 8)) AS BIGINT) % 2)."""
    h = F.md5(F.concat(F.lit(f"s{d}:"), key.cast("string")))
    bit = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 2
    return F.lit(1) - F.lit(2) * bit


def _ams_rows(
    df: DataFrame, col: str, depth: int, width: int, keep: list[str] | None = None
) -> DataFrame:
    key = F.col(col)
    keep = list(keep or [])
    return (
        df.filter(key.isNotNull())
        .select(
            *keep,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            _slot(key, d, width).alias("slot"),
                            _ams_sign(key, d).alias("sign"),
                        )
                        for d in range(depth)
                    ]
                )
            ).alias("_e"),
        )
        .select(*keep, "_e.d", "_e.slot", "_e.sign")
    )


def ams_build(
    df: DataFrame, col: str, *, depth: int = AMS_DEPTH, width: int = AMS_WIDTH
) -> DataFrame:
    """Build the tug-of-war sketch: ``(d, slot, s)`` rows (s = signed
    occurrence sum; zero cells dropped — they contribute nothing to any
    estimate and keep the sketch sparse). One explode + one map-side-
    combinable groupBy, depth*width rows max regardless of input size.
    """
    return (
        _ams_rows(df, col, depth, width)
        .groupBy("d", "slot")
        .agg(F.sum("sign").alias("s"))
        .filter(F.col("s") != 0)
    )


def ams_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built over disjoint row sets (cell-wise add —
    linearity, same as count_min_merge)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return (
        out.groupBy("d", "slot").agg(F.sum("s").alias("s")).filter(F.col("s") != 0)
    )


def ams_maintain(
    stored: DataFrame,
    changes: DataFrame,
    col: str,
    *,
    depth: int = AMS_DEPTH,
    width: int = AMS_WIDTH,
) -> DataFrame:
    """Incremental maintenance from a CDC feed — linear, like
    :func:`count_min_maintain_grouped`: insert/update_postimage rows add
    their sign, delete/update_preimage rows subtract it, no rebuild
    path, maintained == direct build by associativity."""
    live = changes.filter(F.col(col).isNotNull())
    w = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    signed = _ams_rows(live.select(col, w.alias("_w")), col, depth, width, keep=["_w"])
    delta = signed.groupBy("d", "slot").agg(
        F.sum(F.col("sign") * F.col("_w")).alias("s")
    )
    return (
        stored.unionByName(delta)
        .groupBy("d", "slot")
        .agg(F.sum("s").alias("s"))
        .filter(F.col("s") != 0)
    )


def ams_f2_estimate(sketch: DataFrame, *, depth: int = AMS_DEPTH) -> DataFrame:
    """One integer row: ``f2_estimate`` = median over depth of the
    per-row sum of squared cells. Median of an odd count is a single
    element — ``array_sort`` + ``element_at`` keeps it exact int64.
    Depth rows that lost every cell to cancellation estimate 0, which
    is what an all-zero row means."""
    per_d = sketch.groupBy("d").agg(
        F.sum(F.col("s") * F.col("s")).alias("f2")
    )
    # right-pad missing depth rows with 0 via a literal depth frame
    dframe = sketch.sparkSession.range(depth).select(
        F.col("id").cast("int").alias("d")
    )
    padded = dframe.join(per_d, "d", "left").select(
        F.coalesce(F.col("f2"), F.lit(0).cast("long")).alias("f2")
    )
    return padded.agg(
        F.element_at(
            F.array_sort(F.collect_list("f2")), (depth + 1) // 2
        ).alias("f2_estimate")
    )


class SketchMaintainer:
    """Keeps a materialized per-group sketch table (HLL registers, KMV
    minima, count-min cells, or fixed-grid histogram buckets) fresh
    against a bucketed source table by
    consuming the warehouse CDC feed — the sketch twin of
    ``rollup.RollupMaintainer``, attachable to the streaming MERGE
    pipeline via ``SinkPipeline(rollup_maintainers=...)`` (same
    ``refresh()`` protocol, the pipeline does not care what the
    maintainer materializes).

    Crash tolerance via the same durable cursor: the sketch table's
    layout manifest records the applied source generation
    (``sketch_applied_version``); each refresh applies the CDC span
    cursor→current through ``hll_maintain_grouped`` /
    ``kmv_maintain_grouped`` (additions merge at CDC cost; groups that
    lost a contribution rebuild from only the affected groups). A
    pruned cursor snapshot (consumer lagged past snapshot_retention)
    falls back to a full rebuild — correct, just not incremental; any
    other failure propagates. A span that rewrote every live source
    bucket rebuilds too, without building the feed (``rollup.cdc_span``
    returns ``None``): the rebuild reads a subset of the delta path's
    reads. Rebuilds and the ``current`` input read the source at the
    cursor's version. Like the rollup maintainer, ``refresh``
    takes the CDC span from a shared ``ChangeFeed`` when given one
    (the streaming pipeline passes one per micro-batch) and reads it
    itself otherwise.
    Maintained state is provably equal to a direct rebuild (the
    operator-level tests pin it with poisoned-current checks).
    """

    CURSOR_KEY = "sketch_applied_version"

    def __init__(
        self,
        warehouse,
        source_table: str,
        sketch_table: str,
        col: str,
        group_cols: list[str],
        *,
        kind: str = "hll",
        p: int = HLL_P,
        k: int = KMV_K,
        depth: int = DEPTH,
        width: int = WIDTH,
        lo: float = 0.0,
        hi: float = 1.0,
        nbins: int = HIST_NBINS,
    ) -> None:
        if kind not in ("hll", "kmv", "cm", "hist"):
            raise ValueError(f"unknown sketch kind: {kind!r}")
        self.wh = warehouse
        self.source = source_table
        self.table = sketch_table
        self.col = col
        self.group_cols = group_cols
        self.kind = kind
        self.p = p
        self.k = k
        self.depth = depth
        self.width = width
        self.lo = lo
        self.hi = hi
        self.nbins = nbins

    def _rebuild(self, version: int) -> DataFrame:
        src = self.wh.read(self.source, version=version)
        if self.kind == "hll":
            return hll_build_grouped(src, self.col, self.group_cols, p=self.p)
        if self.kind == "cm":
            return count_min_build_grouped(
                src, self.col, self.group_cols, depth=self.depth, width=self.width
            )
        if self.kind == "hist":
            return hist_build_grouped(
                src, self.col, self.group_cols,
                lo=self.lo, hi=self.hi, nbins=self.nbins,
            )
        return kmv_build_grouped(src, self.col, self.group_cols, k=self.k)

    def refresh(self, feed=None) -> int:
        """Bring the sketch table up to the source's current generation.
        Returns the number of source versions applied (0 = current).
        ``feed``: an optional ``ChangeFeed`` shared with the other
        maintainers of the source."""
        cur = self.wh.layout_meta(self.source).get("generation")
        if cur is None:
            raise ValueError(
                f"source {self.source} is not a bucketed table; sketch "
                "maintenance consumes the bucketed-MERGE CDC feed"
            )
        cur = int(cur)
        last = self.wh.table_property(self.table, self.CURSOR_KEY)
        if last is not None and int(last) == cur:
            return 0
        changes = None
        if last is not None:
            try:
                changes = cdc_span(self.wh, self.source, int(last), cur, feed)
            except WarehouseError:
                pass  # cursor snapshot pruned (lagged past retention)
        if changes is None:
            out = self._rebuild(cur)
        else:
            stored = self.wh.read(self.table)
            # at the cursor's version, like the rebuild: a merge that
            # commits meanwhile belongs to the next refresh's span
            current = self.wh.read(self.source, version=cur)
            if self.kind == "hll":
                out = hll_maintain_grouped(
                    stored, changes, self.col, self.group_cols,
                    current=current, p=self.p,
                )
            elif self.kind == "cm":
                # linear sketch: no rebuild path, `current` unused
                out = count_min_maintain_grouped(
                    stored, changes, self.col, self.group_cols,
                    depth=self.depth, width=self.width,
                )
            elif self.kind == "hist":
                # linear sketch: no rebuild path, `current` unused
                out = hist_maintain_grouped(
                    stored, changes, self.col, self.group_cols,
                    lo=self.lo, hi=self.hi, nbins=self.nbins,
                )
            else:
                out = kmv_maintain_grouped(
                    stored, changes, self.col, self.group_cols,
                    current=current, k=self.k,
                )
        # no materialization first: overwrite runs the plan once, into a
        # scratch dir, before it swaps out (and retains) the old sketch
        # files the plan reads. Explicit NONE grain: a register table
        # must not grow an ingestion-time partition column
        self.wh.overwrite(out, self.table, TableSpec(partition_grain="NONE"))
        self.wh.set_table_property(self.table, self.CURSOR_KEY, cur)
        return cur - (int(last) if last is not None else cur - 1)
