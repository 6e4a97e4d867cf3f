"""Denormalizing export — SURVEY.md §2.3 J9, §2.7 F19/F20, §2.4 A6, §2.1 S7.

Re-expresses the reference's export path
(/root/reference/server/controllers/csv-import.js:300-466): fetch rows
with relations/components populated, flatten nested values to
dot-notation columns, serialize to quoted CSV.

  - scalar relation  -> `field.<firstcol>` column (first-column heuristic
    F19, controllers/csv-import.js:390-391: first attribute of the target
    schema, falling back name -> title -> displayName -> id)
  - multi relation   -> display values joined ', ' (A6, :383-401)
  - single component -> `field.key` columns (:353-360)
  - repeatable comp  -> `field.{i}.key` 1-based columns (:361-378)
  - metadata columns createdAt/updatedAt/publishedAt dropped (P10, :420-423)

A relation is shown through its dimension's ``id -> display`` lookup.
:func:`display_lookup` collects a small dimension once and inlines it in
the plan as a constant hash table, so :func:`show_relation` is one
projection: no join, no explode, no regroup and no broadcast job. A
dimension too large to inline, or one whose ids repeat, is read through
a broadcast left join instead (:func:`flatten_scalar_relation`,
:func:`flatten_multi_relation`). Components are per-row select
expressions. The export verb pages first, so all of these run over the
exported rows only (Engine.export_csv).
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F

from advanced_strapi_import_spark.schema import ContentType

METADATA_COLS = ["createdAt", "updatedAt", "publishedAt"]


def first_column(target_ct: ContentType) -> str:
    """F19: the display column of a related row (controllers/csv-import.js
    :390-391,408-409)."""
    # first non-id attribute, else id. (A name/title/displayName
    # fallback chain would be dead code here: any such attribute is
    # itself a non-id attribute and therefore already names[0]'s list.)
    names = [n for n in target_ct.attributes if n != "id"]
    return names[0] if names else "id"


# an FK column -> its display value, NULL when the FK is null or dangles
Lookup = Callable[[Column], Column]


def display_lookup(target: DataFrame, target_ct: ContentType, *, max_rows: int) -> Lookup | None:
    """The ``id -> display`` lookup of a dimension of at most
    ``max_rows`` rows, as an expression over a constant hash table; None
    when the dimension has more rows or repeats an id (a join would show
    such an FK once per matching row).

    One job collects at most ``max_rows + 1`` rows of ``(id, display)``.
    Row ``(i, d)`` goes to bucket ``i % n`` of ``n = row count`` buckets,
    and the buckets travel as one JSON literal that Catalyst folds into
    a constant. A lookup reads one bucket and filters it on the id.
    ``try_element_at`` keeps every miss NULL under ANSI mode."""
    disp = first_column(target_ct)
    rows = (
        target.select(
            F.col("id").cast("long").alias("i"), F.col(disp).cast("string").alias("d")
        )
        .where(F.col("i").isNotNull())
        .limit(max_rows + 1)
        .collect()
    )
    n = len(rows)
    if n > max_rows or len({r["i"] for r in rows}) < n:
        return None
    if n == 0:
        return lambda fk: F.lit(None).cast("string")
    buckets: list[list[dict]] = [[] for _ in range(n)]
    for r in rows:
        buckets[r["i"] % n].append({"i": r["i"], "d": r["d"]})  # Python % is pmod
    table = F.from_json(F.lit(json.dumps(buckets)), "array<array<struct<i:bigint,d:string>>>")

    def lookup(fk: Column) -> Column:
        bucket = F.try_element_at(table, (F.pmod(fk, F.lit(n)) + 1).cast("int"))
        return F.try_element_at(F.filter(bucket, lambda e: e["i"] == fk), F.lit(1))["d"]

    return lookup


def show_relation(
    df: DataFrame, field: str, lookup: Lookup, disp: str, *, multi: bool
) -> DataFrame:
    """Replace the FK column ``field`` with `` field.<disp> `` in one
    projection, with the columns and NULL rules of
    :func:`flatten_scalar_relation` (display last) and
    :func:`flatten_multi_relation` (``id`` first, display last)."""
    fk = F.col(f"`{field}`")
    rest = [c for c in df.columns if c != field]
    if multi:
        rest.sort(key=lambda c: c != "id")
        shown = F.when(
            F.exists(fk, lambda x: x.isNotNull()),
            F.array_join(F.transform(fk, lookup), ", "),
        )
    else:
        shown = lookup(fk)
    return df.select(*[F.col(f"`{c}`") for c in rest], shown.alias(f"{field}.{disp}"))


def flatten_scalar_relation(
    df: DataFrame,
    field: str,
    target: DataFrame,
    target_ct: ContentType,
    *,
    id_col: str = "id",
) -> DataFrame:
    """Replace FK column ``field`` with `` field.<first> `` display value
    via a broadcast left join (J9)."""
    disp = first_column(target_ct)
    dim = F.broadcast(
        target.select(
            F.col(id_col).alias("__dim_id"), F.col(disp).cast("string").alias("__dim_disp")
        )
    )
    return (
        df.join(dim, df[field] == F.col("__dim_id"), "left")
        .drop(field, "__dim_id")
        .withColumnRenamed("__dim_disp", f"{field}.{disp}")
    )


def flatten_multi_relation(
    df: DataFrame,
    field: str,
    target: DataFrame,
    target_ct: ContentType,
    *,
    id_col: str = "id",
) -> DataFrame:
    """A6: array-of-FK column -> `', '`-joined display values, order =
    array order (the reference joins in populate order).

    One pass: every row gets its own key, its FKs are exploded with
    their positions and joined to the broadcast dimension, and one
    ``groupBy(key)`` rebuilds the row, its other columns riding
    ``first(struct)``. Nothing joins back, so rows that share an ``id``
    keep their own lists, and a one-partition input (an export page)
    regroups with no exchange.

    A null, empty or all-null array flattens to NULL, not '': the
    reference leaves the field unset, and the CSV writer serializes NULL
    as an empty cell but '' as a quoted "". A row whose FKs all dangle
    gets '' (``array_join`` skips null displays). ``id`` leads the
    output columns, where the export has always placed it."""
    disp = first_column(target_ct)
    dim = F.broadcast(
        target.select(F.col(id_col).alias("__dim_id"), F.col(disp).cast("string").alias("__d"))
    )
    rest = sorted((c for c in df.columns if c != field), key=lambda c: c != "id")
    # the key is its own projection: beside the generator it would be
    # evaluated once per exploded element instead of once per row
    keyed = df.select(
        F.monotonically_increasing_id().alias("__rk"),
        F.struct(*[F.col(f"`{c}`").alias(c) for c in rest]).alias("__row"),
        F.col(f"`{field}`").alias("__fks"),
    )
    items = F.array_sort(
        F.collect_list(F.when(F.col("__fk").isNotNull(), F.struct("__pos", "__d")))
    )
    regrouped = (
        keyed.select("__rk", "__row", F.posexplode_outer("__fks").alias("__pos", "__fk"))
        .join(dim, F.col("__fk") == F.col("__dim_id"), "left")
        .groupBy("__rk")
        .agg(F.first("__row").alias("__row"), items.alias("__items"))
    )
    shown = F.when(
        F.size("__items") > 0,
        F.array_join(F.transform("__items", lambda s: s["__d"]), ", "),
    )
    return regrouped.select(
        *[F.col("__row").getField(c).alias(c) for c in rest],
        shown.alias(f"{field}.{disp}"),
    )


def flatten_single_component(df: DataFrame, field: str) -> DataFrame:
    """F20 single: struct column -> `field.key` scalar columns."""
    struct_type = dict(zip(df.columns, [f.dataType for f in df.schema.fields]))[field]
    out = df
    for sub in struct_type.fieldNames():
        out = out.withColumn(f"{field}.{sub}", F.col(field).getField(sub))
    return out.drop(field)


def flatten_repeatable_component(
    df: DataFrame, field: str, *, max_items: int | None = None
) -> DataFrame:
    """F20 repeatable: array<struct> -> `field.{i}.key` 1-based columns.

    ``max_items`` bounds the flattened width; when None it is computed
    with one tiny agg (max array size) — a driver-side scalar, not a
    collect of data."""
    if max_items is None:
        max_items = (
            df.agg(F.max(F.size(F.coalesce(F.col(field), F.array()))).alias("m"))
            .collect()[0]["m"]
            or 0
        )
    arr_type = dict(zip(df.columns, [f.dataType for f in df.schema.fields]))[field]
    sub_names = arr_type.elementType.fieldNames()
    out = df
    for i in range(1, max_items + 1):
        item = F.try_element_at(F.col(field), F.lit(i))  # null past the end (ANSI-safe)
        for sub in sub_names:
            out = out.withColumn(f"{field}.{i}.{sub}", item.getField(sub))
    return out.drop(field)


def is_metadata(col: str) -> bool:
    """P10 export hygiene: metadata and reserved `__*` columns are not
    exported."""
    return col in METADATA_COLS or col.startswith("__")


def drop_metadata(df: DataFrame) -> DataFrame:
    return df.drop(*[c for c in df.columns if is_metadata(c)])


def write_csv(df: DataFrame, path: str, *, header: bool = True) -> None:
    """S7 CSV sink: RFC-4180 quoting (quote when needed, `\"`->`\"\"`)
    is Spark's CSV writer default (controllers/csv-import.js:442-445).

    ignoreLeading/TrailingWhiteSpace default to TRUE on the writer
    (unlike the reader) and would silently trim cell padding the
    reference writes as-is — found by the round-trip property test."""
    (
        df.write.mode("overwrite")
        .option("header", str(header).lower())
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
    )
