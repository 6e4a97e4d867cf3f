"""Upsert / merge sink — SURVEY.md §2.3 J6, §2.1 S5/S6, §2.4 A1.

The reference upserts row-at-a-time: look up by ``upsertField``, then
update-or-create (/root/reference/server/services/csv-import.js:362-428,
findExistingRecord :414-428). Here the whole batch merges in one plan
with SQL MERGE semantics:

    matched rows   -> batch values win (S6 update)
    unmatched rows -> appended          (S5 create)
    untouched rows -> pass through

On a Delta/Iceberg table this would be ``MERGE INTO``; the engine's
storage-agnostic fallback is the classic join+union rewrite, which is
what MERGE compiles to anyway. Counters (created/updated — the
reference's import result, csv-import.js:364-368) come from the same
lazy plan: every merged row carries an ``OP_COL`` tag (kept / updated /
created), so a caller can aggregate :func:`counter_columns` over ``tagged``
either as a query of its own or as an ``Observation`` riding the write.

Scale: the merge shuffles both sides by the key once; with a bucketed
target the shuffle drops to the batch side only. The batch is typically
<< target, so AQE picks broadcast for the existence join.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window, functions as F


#: per-row merge outcome on ``MergeResult.tagged``
OP_COL = "__merge_op"
KEPT, UPDATED, CREATED = 0, 1, 2



def counter_columns() -> tuple:
    """created / updated counts (A1) as aggregates over ``tagged``; a
    count() of a when() is 0, not NULL, over zero rows."""
    return (
        F.count(F.when(F.col(OP_COL) == CREATED, 1)).alias("created"),
        F.count(F.when(F.col(OP_COL) == UPDATED, 1)).alias("updated"),
    )


@dataclass
class MergeResult:
    merged: DataFrame      # post-merge table content
    tagged: DataFrame      # merged plus OP_COL per row
    counters: DataFrame    # one row: created / updated counts (A1)


def dedupe_batch(batch: DataFrame, key: str, order_col: str | None = None) -> DataFrame:
    """Collapse duplicate upsert keys to one row per key: LAST write wins,
    matching the reference's sequential update-or-create loop
    (csv-import.js:362-428) where a later CSV row overwrites an earlier
    one. Order = ``order_col`` (the CSV row number) when present; without
    one, a struct over the remaining columns keeps the pick deterministic.

    Scale: one shuffle on the key — the same partitioning the merge join
    needs next, so AQE/exchange-reuse keeps the extra cost near zero."""
    if order_col and order_col in batch.columns:
        order = [F.col(order_col).desc()]
    else:
        others = [c for c in batch.columns if c != key]
        order = [F.struct(*others).desc()] if others else [F.lit(1)]
    w = Window.partitionBy(key).orderBy(*order)
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge(
    target: DataFrame, batch: DataFrame, key: str, *, order_col: str | None = "__row"
) -> MergeResult:
    """Join+union MERGE: batch wins on key collisions, new keys append.

    Columns are aligned by name; batch columns missing from target are
    dropped, target columns missing from batch keep the target value on
    matched rows (partial update, like the reference's entity update).
    Duplicate keys inside the batch collapse first (last write wins) so
    the left join cannot fan out target rows.
    """
    batch = dedupe_batch(batch, key, order_col)
    tcols = target.columns
    b = batch.alias("b")
    t = target.alias("t")

    joined = t.join(b, F.col(f"t.{key}") == F.col(f"b.{key}"), "left")
    existing = joined.select(
        *[
            F.coalesce(F.col(f"b.{c}"), F.col(f"t.{c}")).alias(c)
            if c in batch.columns
            else F.col(f"t.{c}").alias(c)
            for c in tcols
        ],
        F.when(F.col(f"b.{key}").isNotNull(), F.lit(UPDATED))
        .otherwise(F.lit(KEPT)).alias(OP_COL),
    )

    created = batch.join(target.select(key), key, "left_anti").select(
        *[
            (F.col(c) if c in batch.columns else F.lit(None).cast(dict(target.dtypes)[c])).alias(c)
            for c in tcols
        ],
        F.lit(CREATED).alias(OP_COL),
    )
    tagged = existing.unionByName(created)
    counters = tagged.agg(*counter_columns())
    return MergeResult(merged=tagged.drop(OP_COL), tagged=tagged, counters=counters)


# ---------------------------------------------------------------------------
# MERGE INTO branch (table formats with row-level ops: Delta / Iceberg)
# ---------------------------------------------------------------------------
def merge_into_sql(
    target_table: str, source_view: str, key: str, columns: list[str]
) -> str:
    """Render the ``MERGE INTO`` statement equivalent to :func:`merge`:
    matched -> batch values win, unmatched -> insert. Partial update
    (batch columns only) mirrors the join+union rewrite's coalesce."""
    if not columns:
        raise ValueError("columns must be non-empty")
    sets = ", ".join(f"t.{c} = s.{c}" for c in columns if c != key)
    cols = ", ".join(columns)
    vals = ", ".join(f"s.{c}" for c in columns)
    update = f"WHEN MATCHED THEN UPDATE SET {sets} " if sets else ""
    return (
        f"MERGE INTO {target_table} t USING {source_view} s "
        f"ON t.{key} = s.{key} "
        f"{update}"
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
    )


def merge_catalog_table(
    spark, target_table: str, batch: DataFrame, key: str, *,
    order_col: str | None = "__row",
) -> None:
    """Atomic upsert into a catalog table via ``MERGE INTO`` — the sink
    to use when the target is a Delta or Iceberg table (v2 tables with
    row-level operations): one transactional commit instead of the
    read-modify-overwrite cycle of the join+union rewrite, and no
    full-table rewrite for small batches (formats with deletion vectors
    / merge-on-read touch only matched files).

    Raises the engine's AnalysisException untouched when the catalog
    table's format does not support MERGE (plain parquet tables) — the
    caller falls back to :func:`merge`, which is this statement's
    logical plan spelled out."""
    deduped = dedupe_batch(batch, key, order_col)
    cols = [c for c in deduped.columns if c != order_col]
    view = f"__merge_src_{abs(hash(target_table)) % 10**8}"
    deduped.select(*cols).createOrReplaceTempView(view)
    try:
        spark.sql(merge_into_sql(target_table, view, key, cols))
    finally:
        spark.catalog.dropTempView(view)
