"""Unit tests for the FK cascade resolver (J1-J4), mirroring
tests/services/csv-import.test.js:194-230 and :297-366."""

from __future__ import annotations

import re

import pytest

from advanced_strapi_import_spark.operators import resolve as R
from advanced_strapi_import_spark.operators import validate as V
from advanced_strapi_import_spark.schema import Registry
from fixtures_ct import COUNTRIES, REGISTRY

COUNTRY = REGISTRY.get("country")
COMPANY = REGISTRY.get("company")
USERS = REGISTRY.get("users")


def _countries(spark):
    return spark.createDataFrame(COUNTRIES, "id long, name string, code string")


def _vals(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], f"{R.VALUE_COL} string")


def resolved_map(spark, vals, **kw):
    out = R.resolve_values(_vals(spark, vals), _countries(spark), COUNTRY, REGISTRY, **kw)
    return {r[R.VALUE_COL]: r[R.RESOLVED_COL] for r in out.collect()}


def test_cascade_exact_name_case_insensitive(spark):
    m = resolved_map(spark, ["india", "CHINA", "nowhere"])
    assert m == {"india": 1, "CHINA": 3}


def test_cascade_numeric_id(spark):
    m = resolved_map(spark, ["2", "99"])
    assert m == {"2": 2}


def test_cascade_contains_fallback(spark):
    # no exact match; 'nited Stat' is contained in 'United States'
    m = resolved_map(spark, ["nited Stat"])
    assert m == {"nited Stat": 2}


def test_cascade_search_field(spark):
    m = resolved_map(spark, ["in", "US"], search_field="code")
    # exact $eqi on code: IN -> 1, US -> 2 (not USA id 4 via name)
    assert m == {"in": 1, "US": 2}


def test_precedence_id_beats_name_contains(spark):
    # value '1' is numeric -> id arm (rank before contains arm)
    m = resolved_map(spark, ["1"])
    assert m == {"1": 1}


def test_search_field_contains_beats_lower_exact(spark):
    # Reference strategy order (csv-import.js findRelatedEntity):
    # searchField $eqi, searchField $containsi, id, common-field $eqi.
    # Value '5' misses code-exact, HITS code-contains ('X5Y' contains
    # '5') and also hits the lower-precedence id arm (id=5). The
    # contains hit must win — the old all-exact-arms anti-join would
    # never generate it.
    dim = spark.createDataFrame(
        [(1, "Aland", "X5Y"), (5, "Five", "FV")],
        "id long, name string, code string",
    )
    out = R.resolve_values(
        _vals(spark, ["5"]), dim, COUNTRY, REGISTRY, search_field="code"
    )
    m = {r[R.VALUE_COL]: r[R.RESOLVED_COL] for r in out.collect()}
    assert m == {"5": 1}


def test_scalar_relation_resolution(spark):
    df = spark.createDataFrame(
        [(1, "Acme", "India"), (2, "Belco", "usa"), (3, "Cori", "Atlantis")],
        "__row long, name string, country string",
    )
    out = R.resolve_relation(
        df, "country", COMPANY, _countries(spark), COUNTRY, REGISTRY
    )
    got = {r["name"]: r["country"] for r in out.collect()}
    # miss -> null (reference drops the key: csv-import.js:471)
    assert got == {"Acme": 1, "Belco": 4, "Cori": None}


def test_multi_relation_resolution(spark):
    df = spark.createDataFrame(
        [(1, "A", "India, China"), (2, "B", "India,nowhere"), (3, "C", "zzz")],
        "__row long, name string, tags string",
    )
    out = R.resolve_relation(
        df, "tags", USERS, _countries(spark), COUNTRY, REGISTRY
    )
    got = {r["name"]: r["tags"] for r in out.collect()}
    assert got["A"] == [1, 3]      # input order preserved
    assert got["B"] == [1]         # miss dropped
    assert got["C"] is None        # all missed -> field dropped


def test_dot_notation_precedence(spark):
    df = spark.createDataFrame(
        [(1, "Acme", "ignored", "CN")],
        "__row long, name string, country string, __dot__country__code string",
    )
    out = R.resolve_relation(
        df, "country", COMPANY, _countries(spark), COUNTRY, REGISTRY,
        search_field="code", dot_col="__dot__country__code",
    )
    assert out.collect()[0]["country"] == 3


# ---------------------------------------------------------------------------
# Cascade oracle: resolve_all_relations against a brute-force Python
# cascade (first arm with a hit wins, min id within an arm) over a small
# hand-made dimension.
# ---------------------------------------------------------------------------
_NUMERIC = re.compile(r"^\s*[+-]?(\d+(\.\d*)?)([eE][+-]?\d+)?\s*$")

PLACES = [
    {"id": 1, "name": "Aland", "code": "AX5"},
    {"id": 2, "name": "Borduria", "code": "BOR"},
    {"id": 3, "name": "borduria", "code": "BRD"},
    {"id": 4, "name": "Zembla", "code": "2"},
    {"id": 5, "name": "Five", "code": "FV"},
    {"id": 7, "name": "Syldavia", "code": "SY5"},
    {"id": 8, "name": "Ruritania", "code": "TENLANDX"},
    {"id": 10, "name": "Tenland", "code": "TN"},
]

TRIP_REGISTRY = Registry.from_dict({"contentTypes": {
    "place": {"uid": "api::place.place", "attributes": {
        "id": {"type": "integer"},
        "name": {"type": "string"},
        "code": {"type": "string"},
    }},
    "trip": {"uid": "api::trip.trip", "attributes": {
        "name": {"type": "string"},
        "origin": {"type": "relation", "relation": "manyToOne", "target": "place"},
        "stops": {"type": "relation", "relation": "manyToMany", "target": "place"},
        "dest": {"type": "relation", "relation": "manyToOne", "target": "place"},
    }},
}})


def _cascade(value: str, search_field: str | None = None) -> int | None:
    low = value.lower()
    arms = [("eq", search_field), ("in", search_field)] if search_field else []
    arms += [("id", None), ("eq", "name"), ("in", "name")]
    for kind, fld in arms:
        if kind == "id":
            hits = [r["id"] for r in PLACES
                    if _NUMERIC.match(value) and float(value) == r["id"]]
        elif kind == "eq":
            hits = [r["id"] for r in PLACES if r[fld].lower() == low]
        else:
            hits = [r["id"] for r in PLACES if low in r[fld].lower()]
        if hits:
            return min(hits)
    return None


def _cascade_multi(cell: str | None) -> list[int] | None:
    if cell is None:
        return None
    ids = [_cascade(t.strip(" ")) for t in cell.split(",")]
    return [i for i in ids if i is not None] or None


# values: mixed-case exact with a min-id tie (Borduria 2/3), every numeric
# form of id 2, a contains-only fragment, a contains tie (Aland/Tenland),
# untrimmed scalars, misses; with search field "code": "5" hits
# code-contains (AX5, SY5 -> 1) before the id arm (5), "tenland" hits
# code-contains (8) before the name-exact arm (10), and "2" hits code-exact
# (Zembla, 4) before the id arm
CASCADE_VALUES = [
    "bOrDuRiA", "2", " 2 ", "2.0", "+2", "2e0", "2.", "ldav", "land", "5",
    "tenland", "Aland", " aland ", "nowhere", "", "-0", "1e999", "TN", "fv",
]


@pytest.mark.parametrize("search_field", [None, "code"])
def test_cascade_oracle_values(spark, search_field):
    dim = spark.createDataFrame(PLACES, "id long, name string, code string")
    out = R.resolve_values(
        _vals(spark, CASCADE_VALUES), dim, TRIP_REGISTRY.get("place"),
        TRIP_REGISTRY, search_field=search_field,
    )
    got = {r[R.VALUE_COL]: r[R.RESOLVED_COL] for r in out.collect()}
    want = {v: _cascade(v, search_field) for v in CASCADE_VALUES}
    assert got == {v: i for v, i in want.items() if i is not None}


def test_cascade_oracle_all_relations(spark):
    # origin and stops target the same dimension without a search field;
    # dest coalesces its dest.code dot column over the direct cell and
    # resolves with search field "code"
    rows = [
        (1, "a", "bOrDuRiA", "Aland, aland,,5", "Tenland", "tenland"),
        (2, "b", " 2 ", "2e0,+2, ldav ,nowhere", "Five", None),
        (3, "c", None, None, None, "5"),
        (4, "d", "land", "nowhere", "zzz", "2"),
        (5, "e", "nowhere", "", None, None),
        (6, "f", "2.0", "Syldavia,Syldavia", "2", "fv"),
    ]
    df = spark.createDataFrame(
        rows, "__row long, name string, origin string, stops string, "
              "dest string, `dest.code` string",
    )
    mapping = V.parse_header_mapping(df.columns[1:], TRIP_REGISTRY.get("trip"),
                                     TRIP_REGISTRY)
    dot_col = V.dot_storage_col(mapping["dest.code"])
    df = df.withColumnRenamed("dest.code", dot_col)
    dim = spark.createDataFrame(PLACES, "id long, name string, code string")

    out = R.resolve_all_relations(
        df, TRIP_REGISTRY.get("trip"), TRIP_REGISTRY, {"place": dim}, mapping=mapping,
    )

    # scalar columns stay in place, the multi column moves to the end and
    # the dot column is gone
    assert out.columns == ["__row", "name", "origin", "dest", "stops"]
    got = {r["__row"]: (r["origin"], r["stops"], r["dest"]) for r in out.collect()}
    want = {
        row: (
            None if origin is None else _cascade(origin),
            _cascade_multi(stops),
            None if (dot or dest) is None else _cascade(dot or dest, "code"),
        )
        for row, _, origin, stops, dest, dot in rows
    }
    assert got == want
    # the cases the oracle must cover, pinned
    assert got[1] == (2, [1, 1, 1, 5], 8)
    assert got[2] == (2, [2, 2, 7], 5)
    assert got[3] == (None, None, 1)
    assert got[5][1] == [1]
