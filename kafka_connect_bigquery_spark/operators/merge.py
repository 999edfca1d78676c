"""Upsert/delete MERGE semantics as pure DataFrame transformations.

Reproduces the relational surface of the reference's generated BigQuery
``MERGE`` statements (reference: ``kcbq/MergeQueries.java``):

- upsert            -> MergeQueries.java:283-307 (template :245-266)
- upsert + delete   -> MergeQueries.java:201-242 (template :176-199)
- delete-only       -> MergeQueries.java:362-411 (rationale :310-328)
- batch dedup (keep newest row per key, ``ARRAY_AGG(x ORDER BY i DESC
  LIMIT 1)``) -> MergeQueries.java:219-225, here a window ``row_number``.

Everything is expressed with built-in DataFrame ops (window + joins +
unions) so Catalyst plans it: the key-equi-joins shuffle on the key
columns, AQE handles skew, and a small batch side is broadcast
automatically. At 100 TB scale the destination table should be stored
hash-bucketed by key (see ``sinks/warehouse.py``) so the MERGE join
co-locates without a full shuffle of the destination.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_latest_per_key(
    batch: DataFrame,
    key_cols: Sequence[str],
    order_col: str = "i",
) -> DataFrame:
    """Keep only the newest row per key within a batch.

    Mirrors the reference's ``ARRAY_AGG(x ORDER BY i DESC LIMIT 1)[OFFSET(0)]``
    batch-dedup subquery (MergeQueries.java:219-225). ``order_col`` is the
    intra-batch sequence number (Kafka offset in the reference); it is
    unique per key per batch, so ordering is total.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    dest: DataFrame,
    batch: DataFrame,
    key_cols: Sequence[str],
    order_col: str = "i",
) -> DataFrame:
    """MERGE ... WHEN MATCHED UPDATE ALL / WHEN NOT MATCHED INSERT ALL.

    Reference: MergeQueries.java:283-307. ``dest`` is unique per key;
    ``batch`` may hold many rows per key and is first deduped to the
    newest (by ``order_col``). Result column set = dest's columns.

    Implementation note: rather than a full-outer join (which rewrites
    every dest row's lineage), we express it as
    ``src UNION ALL (dest ANTI JOIN src)`` — matched dest rows are
    replaced by src, unmatched dest rows pass through untouched. The
    anti-join shuffles only on the key and is broadcast-able when the
    batch is small (the common case: micro-batch vs. huge table).
    """
    value_cols = [c for c in dest.columns]
    src = dedup_latest_per_key(batch, key_cols, order_col).select(*value_cols)
    untouched = dest.join(src.select(*key_cols), on=list(key_cols), how="left_anti")
    return untouched.unionByName(src)


def merge_upsert_delete(
    dest: DataFrame,
    batch: DataFrame,
    key_cols: Sequence[str],
    order_col: str = "i",
    tombstone_col: str = "__tombstone",
) -> DataFrame:
    """MERGE with upsert + delete semantics.

    Reference: MergeQueries.java:201-242 —
      MATCHED & value IS NOT NULL -> UPDATE,
      MATCHED & value IS NULL     -> DELETE,
      NOT MATCHED & value NOT NULL -> INSERT.

    ``tombstone_col`` is a boolean column on ``batch`` marking deletes
    (the reference's ``value IS NULL`` for a Kafka tombstone record).
    The batch is first deduped to newest-per-key, so a key whose *last*
    record is a tombstone is deleted even if earlier batch records
    upserted it — exactly the reference's ARRAY_AGG(... ORDER BY i DESC
    LIMIT 1) + conditional-MERGE behavior.
    """
    value_cols = [c for c in dest.columns]
    src = dedup_latest_per_key(batch, key_cols, order_col)
    live = src.filter(~F.col(tombstone_col)).select(*value_cols)
    dead_keys = src.filter(F.col(tombstone_col)).select(*key_cols)
    touched_keys = src.select(*key_cols)
    untouched = dest.join(touched_keys, on=list(key_cols), how="left_anti")
    # dead keys simply don't come back; live rows replace or insert.
    _ = dead_keys  # deletions are implicit: they are in touched but not live
    return untouched.unionByName(live)


def _latest_tombstones(
    batch: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    tombstone_col: str,
) -> DataFrame:
    """Per key, the sequence number of the newest tombstone in the batch
    (the reference's ``deletes`` subquery, MergeQueries.java:382-390)."""
    return (
        batch.filter(F.col(tombstone_col))
        .groupBy(*key_cols)
        .agg(F.max(order_col).alias("__del_i"))
    )


def surviving_after_tombstones(
    batch: DataFrame,
    key_cols: Sequence[str],
    order_col: str = "i",
    tombstone_col: str = "__tombstone",
    *,
    latest_tombstone: DataFrame | None = None,
) -> DataFrame:
    """Drop batch rows that precede their key's latest tombstone.

    The reference's ``deletes`` subquery semantics
    (MergeQueries.java:382-396) apply to the batch *itself*, independent
    of any destination state — so a first batch against a not-yet-created
    table must honor them too (a row upserted then tombstoned within one
    batch never lands). Returns the batch minus pre-tombstone rows; the
    tombstone rows themselves are retained (callers filter them out when
    building inserts). Callers that also need the tombstone keys pass a
    precomputed ``latest_tombstone`` so the aggregate is planned once.
    """
    if tombstone_col not in batch.columns:
        return batch
    if latest_tombstone is None:
        latest_tombstone = _latest_tombstones(batch, key_cols, order_col, tombstone_col)
    with_del = batch.join(latest_tombstone, on=list(key_cols), how="left")
    return with_del.filter(
        F.col("__del_i").isNull() | (F.col(order_col) >= F.col("__del_i"))
    ).drop("__del_i")


def merge_delete_only(
    dest: DataFrame,
    batch: DataFrame,
    key_cols: Sequence[str],
    order_col: str = "i",
    tombstone_col: str = "__tombstone",
) -> DataFrame:
    """Delete-only MERGE with tombstone *ordering* semantics.

    Reference: MergeQueries.java:362-411, rationale comment :310-328.
    In delete-only mode the destination is an append log (keys NOT
    unique). Within a batch:

    1. per key, find the newest tombstone's sequence number
       (``deletes`` subquery, :382-390);
    2. keep batch rows where ``deletes.i IS NULL OR batch.i >= deletes.i``
       (:396) — rows *preceding* the latest tombstone are dropped;
    3. MERGE ON ``dest.key = src.key AND src.tombstone``:
       matched (i.e. tombstoned) dest rows are DELETEd; every surviving
       non-tombstone batch row is INSERTed (the ON-condition is false
       for non-tombstones, so they always take the NOT-MATCHED branch).

    Result = (dest minus rows whose key has a tombstone in the batch)
    UNION ALL (batch rows at-or-after their key's latest tombstone,
    excluding the tombstones themselves).
    """
    value_cols = [c for c in dest.columns]
    latest_tombstone = _latest_tombstones(batch, key_cols, order_col, tombstone_col)
    surviving = surviving_after_tombstones(
        batch, key_cols, order_col, tombstone_col, latest_tombstone=latest_tombstone
    )
    inserts = surviving.filter(~F.col(tombstone_col)).select(*value_cols)
    # reuse the aggregate for the delete keys — already unique per key,
    # no extra distinct shuffle
    tombstoned_keys = latest_tombstone.select(*key_cols)
    kept_dest = dest.join(tombstoned_keys, on=list(key_cols), how="left_anti")
    return kept_dest.unionByName(inserts)
