"""Validation & casting engine (SURVEY.md §2.2 P1-P6).

Re-expresses the reference's row-at-a-time validation loop
(/root/reference/server/services/csv-import.js:51-218) as ONE lazy
DataFrame plan: every field gets a cast expression + an error expression;
errors accumulate into an array column; the valid/invalid split is two
complementary filters (cheaper than except — SURVEY §2.6 E3).

Error strings reproduce the reference exactly:
    Row {n}: "{field}" must be a number                 (csv-import.js:132)
    Row {n}: "{field}" must be a decimal number         (:142)
    Row {n}: "{field}" must be true/false, 1/0, or yes/no (:153)
    Row {n}: "{field}" must be a valid date             (:162)
    Row {n}: "{field}" must be a valid email            (:171)
    Row {n}: "{field}" must be one of: {enum}           (:179)
    Row {n}: Required field "{field}" is missing        (:199)

Row numbers are 1-based data-row indexes (the reference indexes its
in-memory array). At scale, a global row_number is a single-partition
sort — callers that don't need reference-identical messages should pass
``row_number_col=None`` to keep the plan fully parallel (errors then
carry the field message without the row prefix).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from advanced_strapi_import_spark.functions import casts as C
from advanced_strapi_import_spark.schema import Attribute, ContentType, Registry

ROW_COL = "__row"
ERRORS_COL = "__errors"


def qcol(name: str) -> Column:
    """Column ref with backtick escaping (headers may contain dots).
    Embedded backticks escape by doubling — stripping them would build
    a reference to a column that does not exist."""
    return F.col("`" + name.replace("`", "``") + "`")


def dot_storage_col(m: "HeaderMapping") -> str:
    """Safe materialized column name for a dot-notation header — the
    engine's analog of the reference's reserved ``__<field>_dotNotation`` /
    ``__<field>_componentData`` columns (csv-import.js:109-123)."""
    rest = (m.relation_field if not m.is_component else m.component_field) or ""
    return f"__dot__{m.field}__{rest.replace('.', '__')}"


# ---------------------------------------------------------------------------
# P1: header -> field mapping (plan-time; csv-import.js:223-287)
# ---------------------------------------------------------------------------
@dataclass
class HeaderMapping:
    header: str
    field: str | None = None
    is_valid: bool = False
    is_dot_notation: bool = False
    is_component: bool = False
    relation_field: str | None = None      # relation.<field>
    component_field: str | None = None     # component.<field> (may be "rel.sub")
    error: str | None = None


def parse_header_mapping(
    headers: list[str], ct: ContentType, registry: Registry | None = None
) -> dict[str, HeaderMapping]:
    """Classify each CSV header: plain field, relation.field,
    component.path..., or unknown (csv-import.js:223-287)."""
    attrs = ct.attributes
    out: dict[str, HeaderMapping] = {}
    for h in headers:
        if "." not in h:
            if h in attrs:
                out[h] = HeaderMapping(h, field=h, is_valid=True)
            else:
                out[h] = HeaderMapping(h, error=f'Unknown field "{h}"')
            continue
        base, rest = h.split(".", 1)
        attr = attrs.get(base)
        if attr is None:
            out[h] = HeaderMapping(h, error=f'Unknown field "{base}"')
        elif attr.type == "relation":
            out[h] = HeaderMapping(
                h, field=base, is_valid=True, is_dot_notation=True,
                relation_field=rest,
            )
        elif attr.type == "component":
            out[h] = HeaderMapping(
                h, field=base, is_valid=True, is_dot_notation=True,
                is_component=True, component_field=rest,
            )
        else:
            out[h] = HeaderMapping(h, error=f'Field "{base}" is not a relation or component')
    return out


# ---------------------------------------------------------------------------
# P2-P4: schema-level checks (plan-time set differences; csv-import.js:62-93)
# ---------------------------------------------------------------------------
def schema_errors(
    headers: list[str], ct: ContentType, mapping: dict[str, HeaderMapping]
) -> tuple[list[str], list[str]]:
    """Return (errors, warnings): missing required fields are hard errors,
    unknown headers are warnings (column ignored)."""
    mapped = {m.field for m in mapping.values() if m.is_valid}
    errors = [
        f'Required field "{f}" is not mapped in the CSV'
        for f in ct.required_without_default()
        if f not in mapped
    ]
    warnings = [
        f'Column "{h}" does not match any field and will be ignored'
        for h, m in mapping.items()
        if not m.is_valid
    ]
    return errors, warnings


def validate_relation_target_uniqueness(
    mapping: dict[str, HeaderMapping], ct: ContentType, registry: Registry
) -> list[str]:
    """P4 (csv-import.js:292-357): each relation.field header must name an
    existing, unique:true field on the target content type."""
    errors = []
    for m in mapping.values():
        if not (m.is_valid and m.is_dot_notation and not m.is_component):
            continue
        attr = ct.attributes[m.field]
        target = registry.content_types.get(attr.target or "")
        if target is None:
            errors.append(f'Relation target "{attr.target}" of "{m.field}" is unknown')
            continue
        tattr = target.attributes.get(m.relation_field or "")
        if tattr is None:
            errors.append(
                f'Field "{m.relation_field}" does not exist on relation target "{attr.target}"'
            )
        elif not tattr.unique:
            errors.append(
                f'Field "{m.relation_field}" on "{attr.target}" must be unique to be used for relation matching'
            )
    return errors


# ---------------------------------------------------------------------------
# P5: per-field cast + error expressions
# ---------------------------------------------------------------------------
def _cast_and_error(
    attr_name: str, attr: Attribute, value: Column, row_no: Column | None
) -> tuple[Column, Column]:
    """Return (casted_value, error_message_or_null) for one field.

    The error mirrors the reference's message; ``row_no`` prepends the
    "Row N: " prefix when available.
    """

    def msg(text: str) -> Column:
        if row_no is not None:
            return F.concat(F.lit("Row "), row_no.cast("string"), F.lit(": "), F.lit(text))
        return F.lit(text)

    present = value.isNotNull() & (value != "")
    t = attr.type

    if t in ("integer", "biginteger"):
        casted = C.parse_int(value)
        err = msg(f'"{attr_name}" must be a number')
    elif t in ("decimal", "float"):
        casted = C.parse_float(value)
        err = msg(f'"{attr_name}" must be a decimal number')
    elif t == "boolean":
        casted = C.parse_bool(value)
        err = msg(f'"{attr_name}" must be true/false, 1/0, or yes/no')
    elif t in ("date", "datetime", "time"):
        casted = C.to_iso_string(C.parse_date_lenient(value))
        err = msg(f'"{attr_name}" must be a valid date')
    elif t == "email":
        casted = F.when(C.is_valid_email(value), value)
        err = msg(f'"{attr_name}" must be a valid email')
    elif t == "enumeration":
        allowed = attr.enum or []
        casted = F.when(value.isin(allowed), value) if allowed else value
        err = msg(f'"{attr_name}" must be one of: {", ".join(allowed)}')
    else:
        # string-ish and relation passthrough (relation resolved later)
        casted = value.cast("string")
        err = None

    if err is None:
        error_expr = F.lit(None).cast("string")
    else:
        error_expr = F.when(present & casted.isNull(), err)

    casted_expr = F.when(present, casted)
    # Default materialization is an engine choice the reference's
    # validator does not make (it leaves the default to the DB insert);
    # here empty cells get the schema default written into the column.
    if attr.default is not None:
        casted_expr = casted_expr.otherwise(F.lit(attr.default))
    # Required check mirrors JS falsiness (csv-import.js:198
    # `attribute.required && !attribute.default`): a default of
    # False / 0 / '' does NOT satisfy a required field.
    required_err = (
        F.when(~present, msg(f'Required field "{attr_name}" is missing'))
        if attr.required and not attr.default
        else F.lit(None).cast("string")
    )
    error_expr = F.coalesce(error_expr, required_err)
    return casted_expr, error_expr


@dataclass
class ValidationResult:
    """Mirror of validateCsvData's return (csv-import.js:210-217), with
    DataFrames instead of arrays."""

    valid: DataFrame            # casted columns, error-free rows
    invalid: DataFrame          # original columns + __errors array
    all: DataFrame              # original columns + __row + __errors
    schema_errors: list[str] = dc_field(default_factory=list)
    warnings: list[str] = dc_field(default_factory=list)
    mapping: dict[str, HeaderMapping] = dc_field(default_factory=dict)
    # the projection that turns an error-free row of ``all`` into a
    # ``valid`` row; its columns name ``all``'s columns only
    valid_cols: list[Column] = dc_field(default_factory=list)

    def over(self, frame: DataFrame) -> "ValidationResult":
        """This result re-split over ``frame``, a materialized copy of
        ``all`` such as its local checkpoint: ``valid`` and ``invalid``
        select from ``frame`` by column name, so nothing upstream of it
        (the CSV scan, the row numbering, the error expressions) runs
        again."""
        return replace(self, all=frame, **_split(frame, self.valid_cols))


def _split(frame: DataFrame, valid_cols: list[Column]) -> dict[str, DataFrame]:
    """``valid``/``invalid`` of a frame carrying ``__errors``: two
    complementary filters, the error-free side projected by
    ``valid_cols``."""
    return {
        "valid": frame.filter(F.size(ERRORS_COL) == 0).select(*valid_cols),
        "invalid": frame.filter(F.size(ERRORS_COL) > 0),
    }


def validate_df(
    df: DataFrame,
    ct: ContentType,
    registry: Registry | None = None,
    *,
    header_mapping: dict[str, HeaderMapping] | None = None,
    row_number_col: str | None = ROW_COL,
    order_by: list[str] | None = None,
    row_number_partition: str | None = None,
) -> ValidationResult:
    """Validate + cast an all-string DataFrame against a content type.

    ``order_by``: columns defining the row order for "Row N" numbering;
    defaults to input file order via monotonically_increasing_id (correct
    for single-file CSV reads). Pass ``row_number_col=None`` to skip
    numbering — that keeps the plan shuffle-free for scale runs — or
    ``row_number_partition="_metadata.file_path"`` to number PER INPUT
    FILE: the window then partitions by file and the sort parallelizes
    across files instead of collapsing to one partition (the scale mode
    from SCALE.md; error messages become per-file row numbers).
    """
    mapping = header_mapping or parse_header_mapping(df.columns, ct, registry)
    errs, warns = schema_errors(df.columns, ct, mapping)
    if registry is not None:
        errs += validate_relation_target_uniqueness(mapping, ct, registry)

    row_no = None
    out = df
    if row_number_col is not None:
        if order_by:
            w = Window.orderBy(*order_by)
        else:
            out = out.withColumn("__mid", F.monotonically_increasing_id())
            w = Window.orderBy("__mid")
        if row_number_partition:
            out = out.withColumn("__rnp", F.col(row_number_partition))
            w = (
                Window.partitionBy("__rnp").orderBy(*order_by)
                if order_by
                else Window.partitionBy("__rnp").orderBy("__mid")
            )
        out = out.withColumn(row_number_col, F.row_number().over(w)).drop(
            "__mid", "__rnp"
        )
        row_no = F.col(row_number_col)

    header_of = {m.field: h for h, m in mapping.items()
                 if m.is_valid and not m.is_dot_notation}
    cast_cols: dict[str, Column] = {}
    err_cols: list[Column] = []
    for fname, attr in ct.attributes.items():
        h = header_of.get(fname)
        if h is None:
            # field not present as a plain column (may arrive via dot notation)
            if attr.required and attr.default is None and not any(
                m.is_valid and m.field == fname for m in mapping.values()
            ):
                pass  # already reported as schema error
            elif attr.default is not None and not any(
                m.is_valid and m.field == fname for m in mapping.values()
            ):
                # a defaulted field wholly ABSENT from the CSV gets its
                # default materialized, same as a present-but-empty cell
                # — otherwise the stored row differs depending on
                # whether the column existed with blanks or not at all
                cast_cols[fname] = F.lit(attr.default)
            continue
        if attr.type == "component":
            continue  # components are built from dot-notation columns only
        casted, err = _cast_and_error(fname, attr, F.col(h), row_no)
        cast_cols[fname] = casted
        err_cols.append(err)

    err_array = (
        F.array_compact(F.array(*err_cols)) if err_cols else F.array().cast("array<string>")
    )
    out = out.withColumn(ERRORS_COL, err_array)

    keep = [F.col(row_number_col)] if row_number_col else []
    valid_cols = [
        *keep,
        *[cast_cols[f].alias(f) for f in cast_cols],
        *[qcol(h).alias(dot_storage_col(m)) for h, m in mapping.items()
          if m.is_valid and m.is_dot_notation],
    ]
    return ValidationResult(all=out, schema_errors=errs, warnings=warns,
                            mapping=mapping, valid_cols=valid_cols,
                            **_split(out, valid_cols))
