"""Reply checks: every verb reply and read-back against the generator's
ground truth. Each check returns a list of problems (empty = correct); a
problem marks the verb call as failed and never stops the run."""

from __future__ import annotations

import csv
import glob
import os

from gen import EXPORT_FULL_LIMIT, EXPORT_PAGE, MEDIA_FIELDS, Request, TableModel

READ_BACK_SAMPLE = 24


def preview(out: dict, req: Request, attributes: list[str]) -> list[str]:
    got = [r.get("id") for r in out.get("rows", [])]
    return [p for ok, p in [
        (out.get("headers") == req.header, f"headers {out.get('headers')}"),
        (got == req.first_ids, f"preview ids {got} != {req.first_ids}"),
        (out.get("totalRows") == req.total_rows, f"totalRows {out.get('totalRows')}"),
        (out.get("attributes") == attributes, "attributes"),
    ] if not ok]


def validate(out: dict, req: Request) -> list[str]:
    valid = len(req.batch)
    problems = [p for ok, p in [
        (out.get("totalRows") == req.total_rows, f"totalRows {out.get('totalRows')}"),
        (out.get("validRows") == valid, f"validRows {out.get('validRows')} != {valid}"),
        (out.get("invalidRows") == req.invalid_rows,
         f"invalidRows {out.get('invalidRows')} != {req.invalid_rows}"),
        (sorted(out.get("errors", [])) == sorted(req.errors), "error strings differ"),
        (out.get("warnings") == [], f"warnings {out.get('warnings')}"),
        (out.get("errorsTruncated") is False, "errorsTruncated"),
        (len(out.get("preview", [])) == min(5, valid), "preview length"),
    ] if not ok]
    for r in out.get("preview", []):
        want = req.batch.get(r.get("id"))
        if want is None or want[1] != r.get("name"):
            problems.append(f"preview row {r.get('id')} is not a valid input row")
    return problems


def imported(out: dict, req: Request) -> list[str]:
    want = {"created": req.expect_created, "updated": req.expect_updated,
            "invalidRows": req.invalid_rows}
    got = {k: out.get(k) for k in want}
    return [] if got == want else [f"import counters {got} != {want}"]


def read_back(engine, ct: str, req: Request, model: TableModel) -> list[str]:
    """Stored rows of a sample of the request's keys (media-matched keys
    first) plus the table's row count, against the model."""
    from pyspark.sql import functions as F

    media_col = model.cols.index(MEDIA_FIELDS[0]) if MEDIA_FIELDS[0] in model.cols else None
    keys = sorted(req.batch, key=lambda k: (media_col is None or req.batch[k][media_col] is None, k))
    sample = keys[:READ_BACK_SAMPLE // 2] + keys[-(READ_BACK_SAMPLE // 2):]
    table = engine.table(ct)
    rows = table.where(F.col("id").isin(sample)).select(*model.cols).collect()
    problems = []
    n = table.count()
    if n != len(model.rows):
        problems.append(f"table has {n} rows, model {len(model.rows)}")
    if len(rows) != len(set(sample)):
        problems.append(f"read back {len(rows)} of {len(set(sample))} sampled rows")
    for r in rows:
        got = tuple(tuple(v) if c == "address" and v is not None else v
                    for c, v in zip(model.cols, r))
        want = model.rows.get(r["id"])
        if got != want:
            diff = [c for c, g, w in zip(model.cols, got, want or ()) if g != w]
            problems.append(f"row {r['id']} differs in {diff or 'all'}")
    return problems


def _display(ids, names) -> str:
    return ", ".join(names[i] for i in ids) if ids else ""


def expected_export(req: Request, model: TableModel):
    """(ordered ids or None, row count) the export must produce."""
    if req.kind == "export_page":
        (col, val), = req.export_filter.items()
        k = model.cols.index(col)
        rows = sorted((r for r in model.rows.values() if r[k] == val), key=lambda r: r[1])
        return [r[0] for r in rows[:EXPORT_PAGE]], min(EXPORT_PAGE, len(rows))
    return None, min(EXPORT_FULL_LIMIT, len(model.rows))


def exported(out_dir: str, req: Request, model: TableModel,
             countries: dict, tags: dict) -> tuple[list[str], int]:
    """Row count, order (pages) and the relation display, media and
    component columns of every exported row; returns (problems, rows)."""
    rows = []
    for part in sorted(glob.glob(os.path.join(out_dir, "part-*.csv"))):
        with open(part, newline="") as f:
            rows.extend(csv.DictReader(f))
    order, count = expected_export(req, model)
    problems = []
    if len(rows) != count:
        problems.append(f"exported {len(rows)} rows, expected {count}")
    ids = [int(r["id"]) for r in rows]
    if order is not None and ids != order:
        problems.append("page order or membership differs from the model")
    cols = model.cols
    for r, i in zip(rows, ids):
        m = model.rows.get(i)
        if m is None:
            problems.append(f"exported unknown id {i}")
            continue
        want = {
            "name": m[1],
            "country.name": countries[m[cols.index("country")]]
            if m[cols.index("country")] is not None else "",
            "tags.name": _display(m[cols.index("tags")], tags),
            "address.city": m[cols.index("address")][1] or "",
        }
        for f in MEDIA_FIELDS:
            if f in cols:
                ids_ = m[cols.index(f)]
                want[f] = ", ".join(map(str, ids_)) if ids_ else ""
        got = {k: r.get(k) for k in want}
        if got != want:
            problems.append(f"export row {i}: {got} != {want}")
        if len(problems) > 5:
            break
    return problems, len(rows)
