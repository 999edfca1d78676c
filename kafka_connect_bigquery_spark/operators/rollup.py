"""Incremental materialized-aggregate maintenance (IVM) over the
warehouse CDC feed.

A 100 TB ingest pipeline keeps serving rollups (counts / sums per
group) without recomputing them per ingest: the manifest-diff CDC feed
(`Warehouse.read_changes(images="both")`) names every changed row with
its pre- and post-image, and for *self-maintainable* aggregates
(SUM / COUNT / anything additive — classic incremental-view-maintenance
theory) the new rollup is

    rollup' = rollup  ⊕  Σ sign(change) · contribution(row)

with sign = +1 for insert / update_postimage and -1 for delete /
update_preimage. Cost follows the change volume and the number of
*touched groups*, never the corpus or the rollup size (the delta is
aggregated first; the final merge joins the rollup only on touched
keys — broadcast when the delta is small).

Exactness: double sums are not associative, so a maintained sum would
drift from a recomputed one. Contributions should therefore be integer
or decimal typed — `quantized()` maps a double onto 1e-4 quanta as
DECIMAL(38,0), making the maintained state order- and
history-independent (same discipline as the TPC-H oracle sums,
queries.py:_qsum).

Reference parity: the reference keeps BigQuery tables fresh by MERGE
and lets BigQuery recompute queries (kcbq/MergeQueries.java:137); a
warehouse that owns storage maintains its aggregates incrementally
instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_connect_bigquery_spark.sinks.warehouse import TableSpec, WarehouseError

_Q = 10_000  # 1e-4 quanta, matches queries._Q


def quantized(col: Column | str, q: int = _Q) -> Column:
    """Exact additive contribution for a double column: round-half-up
    onto 1/q quanta as DECIMAL(38,0) (order-independent under SUM)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * q + F.lit(0.5)).cast("decimal(38,0)")


def dequantized(col: Column | str, q: int = _Q) -> Column:
    """Quantized decimal sum back to a double value."""
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast("double") / F.lit(float(q)))


def build_rollup(
    df: DataFrame, keys: list[str], measures: dict[str, Column]
) -> DataFrame:
    """Materialize the rollup: one row per group, one summed measure
    per entry. ``measures`` maps output name -> per-row contribution
    (integer/decimal typed for exact maintenance; ``F.lit(1)`` is a
    row count). One map-side-combinable shuffle on ``keys``."""
    return df.groupBy(*keys).agg(
        *[F.sum(c).alias(name) for name, c in measures.items()]
    )


def rollup_delta(
    changes: DataFrame, keys: list[str], measures: dict[str, Column]
) -> DataFrame:
    """Aggregate a CDC frame (from ``read_changes(images="both")``)
    into one signed delta row per touched group.

    A plain ``update`` row (the ``images="post"`` feed) cannot be
    applied additively — its pre-image is unknown — so it fails loudly
    per-row rather than corrupting the rollup silently."""
    sign = (
        F.when(F.col("_change_type").isin("insert", "update_postimage"), F.lit(1))
        .when(F.col("_change_type").isin("delete", "update_preimage"), F.lit(-1))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("rollup_delta requires read_changes(images='both'); got _change_type="),
                    F.col("_change_type"),
                )
            ).cast("int")
        )
    )
    return changes.groupBy(*keys).agg(
        *[F.sum(sign * c).alias(name) for name, c in measures.items()]
    )


def apply_rollup_delta(
    rollup: DataFrame,
    delta: DataFrame,
    keys: list[str],
    *,
    count_measure: str,
) -> DataFrame:
    """Merge a signed delta into the existing rollup: touched groups
    add their contributions, new groups appear, groups whose
    ``count_measure`` reaches zero disappear (every row deleted).

    Shaped as union + re-aggregate rather than a full-outer join: one
    map-side-combinable shuffle over |rollup| + |touched groups| rows
    (a full-outer join cannot broadcast-hash in Spark and would fall
    back to a sort-merge of both sides anyway), NULL group keys group
    natively, and the plan stays whole-stage-codegen. The shuffled
    rollup is the *aggregate* — group-count sized, not corpus sized;
    when even that is too big, store the rollup bucketed by ``keys``
    and apply the (tiny) delta per-bucket via the warehouse MERGE
    machinery instead."""
    measure_cols = [c for c in rollup.columns if c not in keys]
    merged = rollup.select(*keys, *measure_cols).unionByName(
        delta.select(*keys, *measure_cols)
    )
    out = merged.groupBy(*keys).agg(
        *[F.sum(m).alias(m) for m in measure_cols]
    )
    return out.filter(F.col(count_measure) > 0)


def cdc_span(
    warehouse, source: str, from_version: int, to_version: int, feed=None
) -> DataFrame | None:
    """The ``images="both"`` CDC span a maintainer applies: taken from
    the shared ``feed`` (a ``ChangeFeed``, streaming/pipeline.py) when
    given, read from the warehouse otherwise. Raises ``WarehouseError``
    when the ``from_version`` snapshot has been pruned.

    Returns ``None`` — rebuild instead — when the span rewrote every
    bucket live at ``to_version`` (``Warehouse.bucket_diff``). The feed
    then reads every live bucket at both versions and joins them, while
    a rebuild reads only the newer side and aggregates it: a sub-plan
    of the delta plan at any table size, so no threshold is needed.
    Nothing is read and no feed frame is built for such a span."""
    diff = warehouse.bucket_diff(source, from_version, to_version)
    if diff.rewrote_every_live_bucket:
        return None
    if feed is not None:
        return feed.changes(source, from_version, to_version)
    return warehouse.read_changes(
        source, from_version=from_version, to_version=to_version, images="both"
    )


class RollupMaintainer:
    """Keeps a materialized rollup table fresh against a bucketed
    source table by consuming the warehouse CDC feed — the IVM consumer
    a streaming MERGE pipeline attaches per micro-batch.

    Crash tolerance via a durable cursor: the rollup's layout manifest
    records the source generation it has applied
    (``rollup_applied_version``). Each refresh applies the CDC span
    cursor→current, so a crash between a merge commit and its rollup
    refresh loses nothing — the next refresh covers both batches. A
    replayed idempotent merge contributes an empty row-diff, so
    refresh is replay-safe too. If the cursor's snapshot has been
    pruned (consumer lagged past snapshot_retention), refresh falls
    back to a full rebuild — correct, just not incremental. Any other
    failure propagates: a silent rebuild would hide a broken delta path
    behind O(source) work on every batch. A span that rewrote every
    live source bucket also rebuilds (``cdc_span`` returns ``None``):
    there the rebuild reads a subset of what the delta path reads.
    Every rebuild reads the source at the cursor's version, so a merge
    that commits during the refresh is applied by the next one, once.

    The CDC span comes from a shared ``ChangeFeed``
    (streaming/pipeline.py) when the caller passes one — the streaming
    MERGE pipeline does, so its maintainers pay one CDC pass per batch,
    zero when the batch rewrote every live bucket — and from
    ``Warehouse.read_changes`` otherwise.
    """

    CURSOR_KEY = "rollup_applied_version"

    def __init__(
        self,
        warehouse,
        source_table: str,
        rollup_table: str,
        keys: list[str],
        measures: dict[str, Column],
        *,
        count_measure: str,
    ) -> None:
        self.wh = warehouse
        self.source = source_table
        self.table = rollup_table
        self.keys = keys
        self.measures = measures
        self.count_measure = count_measure

    def _rebuild(self, version: int) -> DataFrame:
        return build_rollup(
            self.wh.read(self.source, version=version), self.keys, self.measures
        )

    def refresh(self, feed=None) -> int:
        """Bring the rollup up to the source's current generation.
        Returns the number of source versions applied (0 = current).
        ``feed``: an optional ``ChangeFeed`` shared with the other
        maintainers of the source."""
        cur = self.wh.layout_meta(self.source).get("generation")
        if cur is None:
            raise ValueError(
                f"source {self.source} is not a bucketed table; rollup "
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
            delta = rollup_delta(changes, self.keys, self.measures)
            # project the stored state onto keys + measures: rollups
            # written by older releases carry an ingestion-date column
            stored = self.wh.read(self.table).select(*self.keys, *self.measures)
            out = apply_rollup_delta(
                stored, delta, self.keys, count_measure=self.count_measure
            )
        # no materialization first: overwrite runs the plan once, into a
        # scratch dir, before it swaps out (and retains) the old rollup
        # files the plan reads. Explicit NONE grain: a partition column
        # would become a phantom measure of the next refresh's delta merge
        self.wh.overwrite(out, self.table, TableSpec(partition_grain="NONE"))
        self.wh.set_table_property(self.table, self.CURSOR_KEY, cur)
        return cur - (int(last) if last is not None else cur - 1)
