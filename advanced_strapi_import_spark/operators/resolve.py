"""Entity-resolution (FK lookup) cascade — SURVEY.md §2.3 J1-J5.

The reference resolves every relation value with a per-row fallback
cascade of DB queries (/root/reference/server/services/csv-import.js:521-620):

    1. searchField $eqi exact        (when a `relation.field` header gave one)
    2. searchField $containsi fuzzy
    3. id equality (numeric values)
    4. common string fields [name,title,slug,displayName,label,country] $eqi
    5. $containsi on the first common field
    -- first hit wins, limit 1 per strategy.

Here every relation of a batch resolves in ONE set-oriented plan
(:func:`_resolve_columns`):
  - each relation cell explodes to (row, rel, pos, value) tokens: a
    scalar cell is one token, a multi cell its split_trim tokens;
  - the exact arms and the id arm are ONE broadcast equi-join on
    (rel, kind, key) against a lookup stacked from one scan per target
    table. Exact keys are lower(field); the id key is the canonical
    string of double(id) + 0.0, so numeric values keep JS's
    Number(v) == id float equality ("2", " 2 ", "2.0", "+2", "2e0");
  - the hits aggregate to one row per distinct (rel, value), so each
    value is resolved once, not once per row (kills the N+1);
  - the contains arms are ONE broadcast join on rel with a contains
    residual, fed only the values with no exact hit ranked above their
    relation's first contains arm, which keeps the theta join tiny;
  - precedence = min(struct(rank, id)) per (rel, value): strategy order
    first, then min id inside one strategy (the reference takes the DB's
    arbitrary first row — documented divergence). A searchField contains
    hit thus outranks the id and common-field exact arms;
  - one groupBy(row) rebuilds every relation column and one join puts
    them back.

Scale: the lookup side is the dimension table, broadcast to every task;
the batch side is not re-shuffled per strategy.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import broadcast

from advanced_strapi_import_spark.functions.casts import is_numeric, split_trim
from advanced_strapi_import_spark.operators.validate import dot_storage_col
from advanced_strapi_import_spark.schema import ContentType, Registry

VALUE_COL = "__value"
RESOLVED_COL = "__resolved_id"

_REL, _POS, _KIND, _KEY, _RANK, _ID, _BEST = (
    "__rel", "__pos", "__kind", "__key", "__rank", "__id", "__best"
)


def _strategies(
    target_ct: ContentType, registry: Registry, search_field: str | None
) -> tuple[list[tuple[int, str]], list[tuple[int, str]], int | None]:
    """Return (exact_arms [(rank, field)], contains_arms [(rank, field)],
    id_rank) in reference precedence order."""
    exact: list[tuple[int, str]] = []
    contains: list[tuple[int, str]] = []
    rank = 0
    if search_field and search_field in target_ct.attributes:
        exact.append((rank, search_field)); rank += 1
        contains.append((rank, search_field)); rank += 1
    id_rank = rank; rank += 1
    commons = registry.search_fields(target_ct)
    for f in commons:
        exact.append((rank, f)); rank += 1
    if commons:
        contains.append((rank, commons[0])); rank += 1
    return exact, contains, id_rank


@dataclass
class _Relation:
    """One relation column to resolve: ``src`` cells into ``field``
    through the cascade arms over the dimension ``dim`` named ``target``."""

    field: str
    src: Column
    multi: bool
    target: str
    dim: DataFrame
    id_col: str
    exact: list[tuple[int, str]]
    contains: list[tuple[int, str]]
    id_rank: int
    dot_col: str | None = None


def _id_key(x: Column) -> Column:
    # + 0.0 folds -0.0 into 0.0, so string equality is double equality
    return (x + F.lit(0.0)).cast("string")


def _lookup(rels: list[_Relation]) -> DataFrame:
    """Every arm of every relation as (rel, kind, key, rank, id) rows,
    exploded from one scan per target: kind "x" is an exact field arm,
    "i" the id arm and "c" a contains arm."""
    parts = []
    for target in dict.fromkeys(r.target for r in rels):
        arms = []
        for i, r in enumerate(rels):
            if r.target != target:
                continue
            dim, tid = r.dim, F.col(r.id_col).cast("long")
            keys = [("x", rank, F.lower(F.col(fld).cast("string"))) for rank, fld in r.exact]
            keys.append(("i", r.id_rank, _id_key(tid.cast("double"))))
            keys += [("c", rank, F.lower(F.col(fld).cast("string"))) for rank, fld in r.contains]
            arms += [
                F.struct(F.lit(i).alias(_REL), F.lit(kind).alias(_KIND), key.alias(_KEY),
                         F.lit(rank).alias(_RANK), tid.alias(_ID))
                for kind, rank, key in keys
            ]
        parts.append(dim.select(F.inline(F.array(*arms))))
    return reduce(DataFrame.unionByName, parts).where(F.col(_KEY).isNotNull())


def _winners(probes: DataFrame, rels: list[_Relation]) -> DataFrame:
    """(rel, VALUE_COL) probes -> distinct (rel, VALUE_COL, RESOLVED_COL)
    of the values some arm hits."""
    lookup = _lookup(rels)
    value = F.col(VALUE_COL)
    keyed = probes.where(value.isNotNull()).select(
        _REL, VALUE_COL,
        F.inline(F.array(
            F.struct(F.lit("x").alias(_KIND), F.lower(value).alias(_KEY)),
            F.struct(
                F.lit("i").alias(_KIND),
                F.when(is_numeric(value), _id_key(value.try_cast("double"))).alias(_KEY),
            ),
        )),
    )
    best = (
        keyed.join(broadcast(lookup.where(F.col(_KIND) != "c")), [_REL, _KIND, _KEY], "left")
        .groupBy(_REL, VALUE_COL)
        .agg(F.min(F.when(F.col(_ID).isNotNull(), F.struct(_RANK, _ID))).alias(_BEST))
    )
    cand = best.where(F.col(_BEST).isNotNull())
    first_contains = {i: r.contains[0][0] for i, r in enumerate(rels) if r.contains}
    if first_contains:
        first = F.coalesce(*[
            F.when(F.col(_REL) == i, F.lit(rank)) for i, rank in first_contains.items()
        ])
        missed = best.where(
            first.isNotNull()
            & (F.col(_BEST).isNull() | (F.col(f"{_BEST}.{_RANK}") > first))
        )
        contains = lookup.where(F.col(_KIND) == "c").withColumnRenamed(_REL, "__lk_rel")
        cand = cand.unionByName(
            missed.join(
                broadcast(contains),
                (F.col(_REL) == F.col("__lk_rel"))
                & F.col(_KEY).contains(F.lower(value)),
            ).select(_REL, VALUE_COL, F.struct(_RANK, _ID).alias(_BEST))
        )
    return (
        cand.groupBy(_REL, VALUE_COL)
        .agg(F.min(_BEST).alias(_BEST))
        .select(_REL, VALUE_COL, F.col(f"{_BEST}.{_ID}").alias(RESOLVED_COL))
    )


def _resolve_columns(df: DataFrame, rels: list[_Relation], row_key: str) -> DataFrame:
    """Replace each relation's column on ``df`` with its resolved id(s),
    all relations in one plan; ``row_key`` must identify a row."""
    if not rels:
        return df
    cells = []
    for i, r in enumerate(rels):
        if r.multi:
            tokens = F.coalesce(split_trim(r.src), F.array().cast("array<string>"))
            # transform() calls the lambda right away, so ``i`` binds now
            cells.append(F.transform(tokens, lambda v, p: F.struct(
                F.lit(i).alias(_REL), p.alias(_POS), v.alias(VALUE_COL)
            )))
        else:
            cells.append(F.array(F.struct(
                F.lit(i).alias(_REL), F.lit(0).alias(_POS),
                r.src.cast("string").alias(VALUE_COL),
            )))
    tokens = df.select(row_key, F.inline(F.concat(*cells))).where(
        F.col(VALUE_COL).isNotNull()
    )
    ids = tokens.join(
        _winners(tokens.select(_REL, VALUE_COL), rels), [_REL, VALUE_COL], "left"
    )

    aggs, outs = [], []
    for i, r in enumerate(rels):
        mine = F.col(_REL) == i
        if r.multi:
            # token order, misses dropped; all missed -> null (J3)
            aggs.append(F.array_compact(F.transform(
                F.array_sort(F.collect_list(F.when(mine, F.struct(_POS, RESOLVED_COL)))),
                lambda s: s[RESOLVED_COL],
            )).alias(r.field))
            outs.append(F.when(F.size(r.field) > 0, F.col(r.field)).alias(r.field))
        else:
            aggs.append(F.max(F.when(mine, F.col(RESOLVED_COL))).alias(r.field))
            outs.append(F.col(r.field))
    resolved = ids.groupBy(row_key).agg(*aggs).select(row_key, *outs)

    # keep the column order stored tables already have (that of resolving
    # one relation after another): a scalar column stays in place or is
    # appended, a multi column is appended after the row key moves first
    cols = list(df.columns)
    for r in rels:
        if r.multi:
            cols = [row_key] + [c for c in cols if c not in (row_key, r.field)] + [r.field]
        elif r.field not in cols:
            cols.append(r.field)
        if r.dot_col in cols:
            cols.remove(r.dot_col)
    base = df.drop(*[r.field for r in rels], *[r.dot_col for r in rels if r.dot_col])
    return base.join(resolved, row_key, "left").select(*[F.col(f"`{c}`") for c in cols])


def resolve_values(
    values: DataFrame,
    target: DataFrame,
    target_ct: ContentType,
    registry: Registry,
    *,
    search_field: str | None = None,
    id_col: str = "id",
) -> DataFrame:
    """Resolve a one-column DataFrame of strings (VALUE_COL) to target ids
    -> distinct (VALUE_COL, RESOLVED_COL); unresolved values are absent.
    """
    rel = _Relation(VALUE_COL, F.col(VALUE_COL), False, "", target, id_col,
                    *_strategies(target_ct, registry, search_field))
    probes = values.select(F.lit(0).alias(_REL), VALUE_COL)
    return _winners(probes, [rel]).select(VALUE_COL, RESOLVED_COL)


def _relation_on(
    df: DataFrame, field_name: str, ct: ContentType, target: str, dim: DataFrame,
    id_col: str, target_ct: ContentType, registry: Registry,
    search_field: str | None, dot_col: str | None,
) -> _Relation:
    """``field_name`` of ``df`` as a relation to resolve; the dot-notation
    value column (J4) takes precedence over the direct one
    (csv-import.js:450-459)."""
    has_dot = dot_col is not None and dot_col in df.columns
    src = F.col(field_name) if field_name in df.columns else None
    if has_dot:
        dot = F.col(f"`{dot_col}`")
        src = dot if src is None else F.coalesce(dot, src)
    return _Relation(
        field_name, src, ct.attributes[field_name].is_multi_relation, target, dim,
        id_col, *_strategies(target_ct, registry, search_field),
        dot_col=dot_col if has_dot else None,
    )


def resolve_relation(
    df: DataFrame,
    field_name: str,
    ct: ContentType,
    target: DataFrame,
    target_ct: ContentType,
    registry: Registry,
    *,
    search_field: str | None = None,
    dot_col: str | None = None,
    id_col: str = "id",
    row_key: str = "__row",
) -> DataFrame:
    """J2/J3/J4: replace ``field_name`` on ``df`` with resolved FK id(s).

    - dot-notation value column (J4) takes precedence over the direct one;
    - scalar relations -> long id, miss -> null (reference deletes the
      key, csv-import.js:471 — null is the columnar equivalent);
    - multi relations -> array of ids in input token order, misses
      dropped; all-missed -> null (csv-import.js:475-493).

    ``row_key`` is a column identifying each row of ``df``.
    """
    rel = _relation_on(df, field_name, ct, "", target, id_col, target_ct, registry,
                       search_field, dot_col)
    return _resolve_columns(df, [rel], row_key)


def resolve_all_relations(
    df: DataFrame,
    ct: ContentType,
    registry: Registry,
    targets: dict[str, DataFrame],
    *,
    mapping: dict | None = None,
    row_key: str = "__row",
    id_cols: dict[str, str] | None = None,
) -> DataFrame:
    """processRelations analog (csv-import.js:433-513): resolve every
    relation attribute of ``ct`` present on ``df``, all in one plan;
    ``targets`` maps content-type name -> dimension DataFrame."""
    rels = []
    for fname, attr in ct.attributes.items():
        if attr.type != "relation" or attr.target not in targets:
            continue
        dot_col = None
        search_field = None
        if mapping:
            for m in mapping.values():
                if m.is_valid and m.is_dot_notation and not m.is_component and m.field == fname:
                    dot_col = dot_storage_col(m)
                    search_field = m.relation_field
                    break
        if fname not in df.columns and (dot_col is None or dot_col not in df.columns):
            continue
        rels.append(_relation_on(
            df, fname, ct, attr.target, targets[attr.target],
            (id_cols or {}).get(attr.target, "id"), registry.get(attr.target),
            registry, search_field, dot_col,
        ))
    return _resolve_columns(df, rels, row_key)
