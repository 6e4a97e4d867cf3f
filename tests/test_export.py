"""Export verb: populate semantics and paging before populating.

The populate step (relations shown by their display column, media ids
joined, components flattened, metadata dropped) is checked against a
brute-force Python renderer of the same rules. A page cut from the
stored table before populating is checked against populating every
filtered row, then sorting by ``(order_by, id)`` and limiting.
"""

from __future__ import annotations

import copy
import csv
import io
import itertools
from collections import Counter

import pytest
from pyspark.sql import functions as F

from advanced_strapi_import_spark import api
from advanced_strapi_import_spark.api import Engine
from advanced_strapi_import_spark.operators import export as X
from advanced_strapi_import_spark.schema import Registry
from test_api_e2e import _jobs_run

REG = Registry.from_dict({
    "contentTypes": {
        "country": {"attributes": {
            "id": {"type": "integer"}, "name": {"type": "string"},
            "code": {"type": "string"},
        }},
        "tag": {"attributes": {"id": {"type": "integer"}, "label": {"type": "string"}}},
        "item": {"attributes": {
            "id": {"type": "integer"},
            "name": {"type": "string"},
            "status": {"type": "string"},
            "score": {"type": "float"},
            "country": {"type": "relation", "relation": "manyToOne", "target": "country"},
            "tags": {"type": "relation", "relation": "manyToMany", "target": "tag"},
            "langs": {"type": "relation", "relation": "manyToMany", "target": "country"},
            "address": {"type": "component", "component": "address"},
            "files": {"type": "media"},
        }},
        "kit": {"attributes": {
            "id": {"type": "integer"},
            "name": {"type": "string"},
            "parts": {"type": "component", "component": "part", "repeatable": True},
        }},
        "note": {"attributes": {
            "name": {"type": "string"},
            "tags": {"type": "relation", "relation": "manyToMany", "target": "tag"},
        }},
    },
    "components": {
        "address": {"attributes": {"street": {"type": "string"}, "city": {"type": "string"}}},
        "part": {"attributes": {"sku": {"type": "string"}, "qty": {"type": "integer"}}},
    },
})

COUNTRIES = [(1, "India", "IN"), (2, "Chile", "CL"), (3, "Peru", "PE")]
TAGS = [(1, "red"), (2, "green"), (3, "blue"), (4, None)]
DIMS = {"country": {i: n for i, n, _ in COUNTRIES}, "tag": dict(TAGS)}

# id is not the first stored column, so the output column order shows
# where the export puts it
ITEM_SCHEMA = (
    "name string, id long, status string, score double, country long, "
    "tags array<long>, langs array<long>, "
    "address struct<street:string, city:string>, files array<long>, "
    "createdAt string"
)
ITEM_COLS = ["name", "id", "status", "score", "country", "tags", "langs",
             "address", "files", "createdAt"]
ITEMS = [
    # array order, scalar relation, media ids, single component
    ("a", 1, "on", 1.5, 1, [1, 2], [2, 1], ("1 Main", "Pune"), [10, 11], "2020"),
    # null and empty arrays, null struct, null FK
    ("b", 2, "on", None, None, None, [], None, None, None),
    # empty tags, all-null langs, dangling scalar FK, empty media
    ("c", 3, "off", 2.0, 99, [], [None], ("x", None), [], "2021"),
    # all-null tags, every langs FK dangling
    ("d", 4, "on", 0.0, 2, [None, None], [99], None, [12], None),
    # one dangling FK among live ones, a repeated FK
    ("e", 5, "off", 3.0, 3, [3, 99, 1], [2, 2], ("s", "c"), None, None),
    ("f", 6, "on", 4.0, None, [1, 1, 2], [3], None, None, None),
    # a dimension row with a NULL display value
    ("g", 7, "on", 5.0, 1, [4], [1], None, None, None),
    ("h", 8, "off", 6.0, 2, [4, 2], None, ("y", "z"), [13], None),
]


def _display_col(target: str) -> str:
    return X.first_column(REG.get(target))


def _render(ct_name: str, cols: list[str], rows: list[tuple]):
    """Brute-force export of stored ``rows``: (columns, row tuples)."""
    ct = REG.get(ct_name)
    out_cols = list(cols)
    recs = [dict(zip(cols, r)) for r in rows]
    for f, a in ct.attributes.items():
        if a.type != "relation" or f not in out_cols:
            continue
        shown = f"{f}.{_display_col(a.target)}"
        names = DIMS[a.target]
        out_cols.remove(f)
        out_cols.append(shown)
        if a.is_multi_relation and "id" in out_cols:
            out_cols.remove("id")
            out_cols.insert(0, "id")
        for r in recs:
            v = r.pop(f)
            if a.is_multi_relation:
                fks = [k for k in v or [] if k is not None]
                r[shown] = (", ".join(names[k] for k in fks if names.get(k) is not None)
                            if fks else None)
            else:
                r[shown] = names.get(v)
    for f, a in ct.attributes.items():
        if a.type == "media" and f in out_cols:
            for r in recs:
                r[f] = ", ".join(map(str, r[f])) if r[f] else None
    for f, a in ct.attributes.items():
        if a.type != "component" or f not in out_cols:
            continue
        subs = list(REG.components[a.component].attributes)
        out_cols.remove(f)
        if a.repeatable:
            width = max(len(r[f] or []) for r in recs)
            new = [(f"{f}.{i}.{s}", i, k) for i in range(1, width + 1)
                   for k, s in enumerate(subs)]
            for r in recs:
                items = r.pop(f) or []
                for name, i, k in new:
                    r[name] = items[i - 1][k] if i <= len(items) else None
        else:
            new = [(f"{f}.{s}", None, k) for k, s in enumerate(subs)]
            for r in recs:
                v = r.pop(f)
                for name, _, k in new:
                    r[name] = None if v is None else v[k]
        out_cols.extend(name for name, _, _ in new)
    out_cols = [c for c in out_cols if c not in X.METADATA_COLS and not c.startswith("__")]
    return out_cols, [tuple(r[c] for c in out_cols) for r in recs]


def _sorted_rows(rows):
    return sorted(rows, key=repr)


@pytest.fixture()
def engine(spark, tmp_path):
    eng = Engine(spark=spark, registry=REG, storage_root=str(tmp_path / "store"))
    eng.write_table("country", spark.createDataFrame(COUNTRIES, "id long, name string, code string"))
    eng.write_table("tag", spark.createDataFrame(TAGS, "id long, label string"))
    eng.write_table("item", spark.createDataFrame(ITEMS, ITEM_SCHEMA))
    return eng


def _csv_bytes(out) -> bytes:
    return b"".join(p.read_bytes() for p in sorted(out.glob("part-*.csv")))


def test_populate_matches_renderer(engine, tmp_path):
    """Null, empty and all-null FK arrays give NULL; all-dangling FKs
    give ''; array order, dangling and repeated FKs, two multi relations
    beside a scalar one, media, a single component and the column order
    all follow the renderer."""
    out = tmp_path / "out"
    df = engine.export_csv("item", str(out), limit=100)
    want_cols, want_rows = _render("item", ITEM_COLS, ITEMS)
    assert df.columns == want_cols
    assert _csv_bytes(out).decode().splitlines()[0] == ",".join(want_cols)
    assert _sorted_rows(tuple(r) for r in df.collect()) == _sorted_rows(want_rows)


def test_populate_table_without_id(engine, spark, tmp_path):
    rows = [("x", [1, 2]), ("x", [3]), ("y", None), ("z", [99])]
    engine.write_table("note", spark.createDataFrame(rows, "name string, tags array<long>"))
    df = engine.export_csv("note", str(tmp_path / "out"), order_by="name")
    want_cols, want_rows = _render("note", ["name", "tags"], rows)
    assert df.columns == want_cols == ["name", "tags.label"]
    assert _sorted_rows(tuple(r) for r in df.collect()) == _sorted_rows(want_rows)


def test_multi_relation_rows_sharing_id_keep_own_display(spark):
    df = spark.createDataFrame([(7, "x", [1]), (7, "y", [2])], "id long, name string, tags array<long>")
    tags = spark.createDataFrame(TAGS, "id long, label string")
    flat = X.flatten_multi_relation(df, "tags", tags, REG.get("tag"))
    assert flat.columns == ["id", "name", "tags.label"]
    assert sorted(tuple(r) for r in flat.collect()) == [(7, "x", "red"), (7, "y", "green")]


def test_repeatable_component_width_from_exported_rows(engine, spark, tmp_path):
    """The page is as wide as its own longest list, not the table's: the
    reference flattens only the rows it fetched."""
    rows = [(1, "k1", [("s1", 1)]), (2, "k2", None),
            (3, "k3", [("s3", 3), ("t3", 4), ("u3", 5)]), (4, "k4", [])]
    engine.write_table("kit", spark.createDataFrame(
        rows, "id long, name string, parts array<struct<sku:string, qty:long>>"))
    df = engine.export_csv("kit", str(tmp_path / "out"), order_by="id", limit=2)
    want_cols, want_rows = _render("kit", ["id", "name", "parts"], rows[:2])
    assert df.columns == want_cols == ["id", "name", "parts.1.sku", "parts.1.qty"]
    assert [tuple(r) for r in df.collect()] == want_rows


# -- paging before populating ------------------------------------------------
PAGE_FILTER = {"status": "on"}
PAGE_LIMIT = 3
# stored scalars (paged first) and flattened names (populated first);
# name and score tie across rows
ORDERED = ["name", "id", "country.name", "address.city", "score"]
# stored columns the export does not write, so a page sorted by them is
# checked against the stored table: a relation's ids, a metadata field
NOT_WRITTEN = ["country", "createdAt"]


@pytest.fixture()
def page_engine(engine, spark):
    rows = [
        (n, i, "on" if i % 4 else "off", float(i % 3), i % 4 or None,
         [i % 3 + 1, (i * 7) % 4 + 1], [i % 3 + 1], (f"st{i}", f"c{i % 5}"),
         [100 + i] if i % 2 else None, f"2020-{i:02d}")
        for i, n in zip(range(30, 0, -1), itertools.cycle(["m", "k", "m", "p", "a"]))
    ]
    engine.write_table("item", spark.createDataFrame(rows, ITEM_SCHEMA))
    return engine


def _populate_all(engine, tmp_path):
    """Every filtered row, populated (no page cut)."""
    return engine.export_csv("item", str(tmp_path / "all"), filters=PAGE_FILTER, limit=10**6)


def _csv_rows(data: bytes) -> list[tuple]:
    return [tuple(r) for r in csv.reader(io.StringIO(data.decode()))]


@pytest.mark.parametrize("order_by", ORDERED + NOT_WRITTEN + [None])
def test_page_first_matches_populate_all(page_engine, tmp_path, order_by):
    out = tmp_path / "page"
    page_engine.export_csv("item", str(out), filters=PAGE_FILTER, limit=PAGE_LIMIT,
                           order_by=order_by)
    got = _csv_bytes(out)
    everything = _populate_all(page_engine, tmp_path)
    n_filtered = everything.count()
    assert n_filtered > PAGE_LIMIT
    if order_by in ORDERED:
        tie = [] if order_by == "id" else ["id"]
        oracle = tmp_path / "oracle"
        X.write_csv(everything.orderBy(F.col(f"`{order_by}`"), *tie).limit(PAGE_LIMIT),
                    str(oracle))
        assert got == _csv_bytes(oracle)
        return
    header, *page = _csv_rows(got)
    all_header, *all_rows = _csv_rows(_csv_bytes(tmp_path / "all"))
    assert header == all_header and len(page) == PAGE_LIMIT
    if order_by is None:
        assert not Counter(page) - Counter(all_rows)
        return
    # the stored ids in (order_by, id) order, and their populated rows
    stored = page_engine.table("item").filter(F.col("status") == PAGE_FILTER["status"])
    want = [str(r["id"]) for r in
            stored.orderBy(order_by, "id").limit(PAGE_LIMIT).select("id").collect()]
    by_id = {r[header.index("id")]: r for r in all_rows}
    assert page == [by_id[i] for i in want]


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _join_engine(engine, monkeypatch) -> Engine:
    """A fresh engine on ``engine``'s store to which every dimension is
    too large to inline, so it shows relations through the broadcast
    join."""
    monkeypatch.setattr(api, "INLINE_DIM_ROWS", 0)
    return Engine(spark=engine.spark, registry=REG, storage_root=engine.storage_root)


@pytest.mark.parametrize("order_by", ["name", "id", None])
def test_page_first_plan_has_no_hash_exchange(page_engine, tmp_path, monkeypatch, order_by):
    """A page cut before populating shows its relations by one projection
    over the inlined lookups: no join, no generator, no hash exchange,
    and the lookup literal is folded, not parsed per row. A dimension too
    large to inline is broadcast-joined, still with no hash exchange."""
    kw = dict(filters=PAGE_FILTER, limit=PAGE_LIMIT, order_by=order_by)
    df = page_engine.export_csv("item", str(tmp_path / "page"), **kw)
    plan = _executed_plan(df)
    for op in ("Join", "Generate", "Exchange hashpartitioning"):
        assert op not in plan, plan
    qe = df._jdf.queryExecution()
    assert "from_json" in qe.analyzed().toString()
    assert "from_json" not in qe.optimizedPlan().toString()

    joined = _join_engine(page_engine, monkeypatch)
    plan = _executed_plan(joined.export_csv("item", str(tmp_path / "joined"), **kw))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize("order_by", [None, "name", "id", "country.name"])
def test_inline_lookup_matches_join(engine, tmp_path, monkeypatch, order_by):
    """The inlined lookups write the same CSV bytes as the broadcast
    joins, over the fixture's null, empty, all-null and dangling FKs and
    its NULL display value."""
    engine.export_csv("item", str(tmp_path / "inline"), limit=100, order_by=order_by)
    assert all(v[1] is not None for v in engine._displays.values())
    joined = _join_engine(engine, monkeypatch)
    joined.export_csv("item", str(tmp_path / "joined"), limit=100, order_by=order_by)
    assert joined._displays and all(v[1] is None for v in joined._displays.values())
    got, want = _csv_bytes(tmp_path / "inline"), _csv_bytes(tmp_path / "joined")
    if order_by is None:
        # the join path's multi-relation regroup does not keep row order
        head, *rows = got.splitlines()
        want_head, *want_rows = want.splitlines()
        assert head == want_head and sorted(rows) == sorted(want_rows)
    else:
        assert got == want


def test_empty_dimension_matches_join(engine, spark, tmp_path, monkeypatch):
    """An empty dimension inlines a lookup that always misses: every tag
    FK dangles, as on the join path."""
    engine.write_table("tag", spark.createDataFrame([], "id long, label string"))
    df = engine.export_csv("item", str(tmp_path / "inline"), limit=100, order_by="id")
    assert engine._displays[engine._path("tag")][1] is not None
    assert [r["tags.label"] for r in df.collect()] == [
        "", None, None, None, "", "", "", ""]
    joined = _join_engine(engine, monkeypatch)
    joined.export_csv("item", str(tmp_path / "joined"), limit=100, order_by="id")
    assert _csv_bytes(tmp_path / "inline") == _csv_bytes(tmp_path / "joined")


def test_dimension_with_repeated_id_is_joined(engine, spark, tmp_path):
    """A dimension that repeats an id is not inlined: the join shows the
    FK once per matching row, as the export always has."""
    engine.write_table("country", spark.createDataFrame(
        COUNTRIES + [(1, "Bharat", "BH")], "id long, name string, code string"))
    df = engine.export_csv("item", str(tmp_path / "out"), limit=100, order_by="id")
    assert engine._displays[engine._path("country")][1] is None
    assert engine._displays[engine._path("tag")][1] is not None
    got = [(r["id"], r["country.name"], r["langs.name"]) for r in df.collect()]
    assert sorted(got, key=repr) == [
        (1, "Bharat", "Chile, Bharat, India"), (1, "India", "Chile, Bharat, India"),
        (2, None, None), (3, None, None), (4, "Chile", ""),
        (5, "Peru", "Chile, Chile"), (6, None, "Peru"),
        (7, "Bharat", "Bharat, India"), (7, "India", "Bharat, India"),
        (8, "Chile", None),
    ]


def test_new_dimension_version_changes_display(engine, spark, tmp_path):
    engine.export_csv("item", str(tmp_path / "v1"), limit=100, order_by="id")
    engine.write_table("tag", spark.createDataFrame(
        [(1, "rot"), (2, "grün"), (3, "blau")], "id long, label string"))
    df = engine.export_csv("item", str(tmp_path / "v2"), limit=100, order_by="id")
    assert [r["tags.label"] for r in df.collect()] == [
        "rot, grün", None, None, None, "blau, rot", "rot, rot, grün", "", "grün"]


def test_registry_edit_changes_display_column(engine, tmp_path):
    engine.export_csv("item", str(tmp_path / "v1"), limit=100, order_by="id")
    reg = copy.deepcopy(REG)
    country = reg.get("country")
    country.attributes = {k: country.attributes[k] for k in ("id", "code", "name")}
    engine.registry = reg
    df = engine.export_csv("item", str(tmp_path / "v2"), limit=100, order_by="id")
    assert "country.code" in df.columns and "country.name" not in df.columns
    assert [r["country.code"] for r in df.collect()] == [
        "IN", None, None, "CL", "PE", None, "IN", "CL"]
    assert "langs.code" in df.columns


@pytest.mark.parametrize("kw", [dict(limit=100), dict(filters=PAGE_FILTER, order_by="name")],
                         ids=["unsorted", "filtered_page"])
def test_warm_export_runs_one_job(page_engine, spark, tmp_path, kw):
    """Once the lookups are built, an export is its CSV write alone."""
    page_engine.export_csv("item", str(tmp_path / "cold"), **kw)
    assert _jobs_run(spark, lambda: page_engine.export_csv(
        "item", str(tmp_path / "warm"), **kw)) == 1


CONF_MATRIX = {
    "spark.sql.shuffle.partitions": ["1", "3", "8"],
    "spark.sql.adaptive.enabled": ["true", "false"],
    "spark.sql.autoBroadcastJoinThreshold": [None, "-1"],  # None: as set
}


@pytest.mark.parametrize("order_by", ["name", "country.name", None])
def test_page_bytes_independent_of_confs(page_engine, spark, tmp_path, order_by):
    """The ordered page's CSV bytes are the same under every shuffle
    partition count, with AQE on and off and with auto-broadcast off."""
    saved = {k: spark.conf.get(k) for k in CONF_MATRIX}
    pages = {}
    try:
        for combo in itertools.product(*CONF_MATRIX.values()):
            for k, v in zip(CONF_MATRIX, combo):
                spark.conf.set(k, saved[k] if v is None else v)
            out = tmp_path / f"page{len(pages)}"
            page_engine.export_csv("item", str(out), filters=PAGE_FILTER,
                                   limit=PAGE_LIMIT, order_by=order_by)
            pages[combo] = _csv_bytes(out)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert len(set(pages.values())) == 1, pages
    assert len(_csv_rows(next(iter(pages.values())))) == PAGE_LIMIT + 1
