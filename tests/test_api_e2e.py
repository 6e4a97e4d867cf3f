"""End-to-end workflow tests mirroring the reference's integration suite
(/root/reference/tests/integration/full-workflow.test.js): upload ->
validate -> import -> relations resolved -> upsert -> export round-trip.
"""

from __future__ import annotations

import csv
import glob
import io
import itertools
import os
import uuid

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from advanced_strapi_import_spark.api import Engine
from advanced_strapi_import_spark.schema import Registry
from fixtures_ct import COUNTRIES, REGISTRY


@pytest.fixture()
def engine(spark, tmp_path):
    eng = Engine(spark=spark, registry=REGISTRY, storage_root=str(tmp_path / "store"))
    countries = spark.createDataFrame(COUNTRIES, "id long, name string, code string")
    eng.write_table("country", countries)
    return eng


def _csv(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


_HEADER = "name,country,established,active\n"


def _no_cached_relation(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_list_content_types(engine):
    names = {t["uid"] for t in engine.list_content_types()}
    assert "api::company.company" in names


def test_preview_and_validate(engine, tmp_path):
    p = _csv(tmp_path, "c.csv",
             "name,country,established,active\n"
             "Acme,India,2000,true\n"
             ",USA,bad,maybe\n")
    pv = engine.preview_csv(p, "company")
    assert pv["headers"] == ["name", "country", "established", "active"]
    assert pv["totalRows"] == 2

    rep = engine.validate_csv(p, "company")
    assert rep["validRows"] == 1 and rep["invalidRows"] == 1
    assert any("Required field" in e for e in rep["errors"])
    assert any("must be a number" in e for e in rep["errors"])


def test_import_resolves_relations(engine, tmp_path):
    # full-workflow.test.js:104-184: imported rows carry resolved FK ids
    p = _csv(tmp_path, "c.csv",
             "name,country,established,active\n"
             "Acme,India,2000,true\n"
             "Belco,usa,1990,no\n"
             "Cori,Atlantis,2010,1\n")
    out = engine.import_csv(p, "company")
    assert out["created"] == 3 and out["invalidRows"] == 0
    rows = {r["name"]: r for r in engine.table("company").collect()}
    assert rows["Acme"]["country"] == 1      # India
    assert rows["Belco"]["country"] == 4     # USA (case-insensitive)
    assert rows["Cori"]["country"] is None   # unresolved -> dropped
    assert rows["Belco"]["active"] is False


def test_import_dot_notation_search_field(engine, tmp_path):
    p = _csv(tmp_path, "c.csv",
             "name,country.code,established,active\n"
             "Acme,CN,2000,true\n")
    engine.import_csv(p, "company")
    rows = {r["name"]: r for r in engine.table("company").collect()}
    assert rows["Acme"]["country"] == 3      # resolved via code=CN


def test_upsert_workflow(engine, tmp_path):
    # full-workflow.test.js:186-245
    p1 = _csv(tmp_path, "a.csv",
              "name,country,established,active\nAcme,India,2000,true\n")
    engine.import_csv(p1, "company")
    # seed has no id column; upsert by name
    p2 = _csv(tmp_path, "b.csv",
              "name,country,established,active\n"
              "Acme,China,2001,false\n"
              "Newco,India,2020,yes\n")
    out = engine.import_csv(p2, "company", upsert=True, upsert_field="name")
    assert out["updated"] == 1 and out["created"] == 1
    rows = {r["name"]: r for r in engine.table("company").collect()}
    assert rows["Acme"]["established"] == 2001 and rows["Acme"]["country"] == 3
    assert rows["Newco"]["established"] == 2020


def test_export_round_trip(engine, spark, tmp_path):
    # full-workflow.test.js:248-288 golden: relation flattened to
    # country.name, metadata dropped
    p = _csv(tmp_path, "c.csv",
             "name,country,established,active\n"
             "Test Company,India,2020,true\n"
             "Another Company,USA,2015,false\n")
    engine.import_csv(p, "company")
    out_dir = str(tmp_path / "export")
    df = engine.export_csv("company", out_dir, order_by="name")
    assert "country.name" in df.columns

    back = spark.read.option("header", True).csv(out_dir)
    got = {r["name"]: r for r in back.collect()}
    assert got["Test Company"]["country.name"] == "India"
    assert got["Test Company"]["established"] == "2020"
    assert got["Another Company"]["country.name"] == "USA"
    assert got["Another Company"]["active"] == "false"

    # single-pass export stats: the observation rides the write job,
    # and must agree with what actually landed in the file
    stats: dict = {}
    engine.export_csv("company", str(tmp_path / "export2"), stats_out=stats)
    assert _no_cached_relation(spark)
    n_file = spark.read.option("header", True).csv(
        str(tmp_path / "export2")
    ).count()
    assert stats == {"n_rows": n_file} and n_file == 2


def test_import_strict_aborts_on_invalid(engine, tmp_path):
    # early-exit validation (controllers/csv-import.js:241-252)
    p = _csv(tmp_path, "c.csv",
             "name,country,established,active\n"
             "Acme,India,bad,true\n")
    out = engine.import_csv(p, "company", strict=True)
    assert out["created"] == 0
    assert any("must be a number" in e for e in out["errors"])
    assert not engine.has_table("company")


@pytest.mark.parametrize("kwargs", [{}, {"upsert": True, "upsert_field": "name"}],
                         ids=["append", "upsert"])
def test_import_strict_abort_leaves_table_unchanged(engine, spark, tmp_path, kwargs):
    # strict mode returns before any write, also into an existing table
    import os

    engine.import_csv(_csv(tmp_path, "a.csv", _HEADER + "Acme,India,2000,true\n"),
                      "company")
    path = engine._path("company")
    files = {f: os.stat(os.path.join(path, f)).st_mtime_ns for f in os.listdir(path)}
    p = _csv(tmp_path, "b.csv", _HEADER + "Acme,China,2001,true\nNewco,India,bad,true\n")
    out = engine.import_csv(p, "company", strict=True, **kwargs)
    assert (out["created"], out["updated"]) == (0, 0)
    assert any("must be a number" in e for e in out["errors"])
    assert {f: os.stat(os.path.join(path, f)).st_mtime_ns
            for f in os.listdir(path)} == files
    assert [(r["name"], r["established"]) for r in engine.table("company").collect()] == [
        ("Acme", 2000)
    ]
    assert _no_cached_relation(spark)


def test_import_strict_abort_unpersists(engine, tmp_path, spark):
    # the early strict-abort return must not leak the persisted
    # scan+validate frame (previously only the happy path unpersisted)
    spark.catalog.clearCache()
    p = _csv(tmp_path, "c.csv",
             "name,country,established,active\n"
             "Acme,India,bad,true\n")
    engine.import_csv(p, "company", strict=True)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_import_batch_size_caps_rows_per_file(engine, tmp_path):
    import os

    rows = "".join(f"Co{i},India,2000,true\n" for i in range(30))
    p = _csv(tmp_path, "many.csv", "name,country,established,active\n" + rows)
    res = engine.import_csv(p, "company", batch_size=10)
    assert res["created"] == 30
    parts = glob.glob(os.path.join(engine.storage_root, "company", "part-*"))
    # reference batchSize analog: no output file exceeds batch_size rows
    assert len(parts) >= 3


def test_file_constraints_extension_and_size(engine, tmp_path):
    # reference File Limits (README.md: max 10MB, CSV only; UI check
    # PluginPage.js:73-82)
    import pytest

    from advanced_strapi_import_spark import api as A

    bad_ext = tmp_path / "data.txt"
    bad_ext.write_text("name\nAcme\n")
    with pytest.raises(ValueError, match="valid CSV file"):
        engine.preview_csv(str(bad_ext), "company")
    with pytest.raises(ValueError, match="valid CSV file"):
        engine.validate_csv(str(bad_ext), "company")
    with pytest.raises(ValueError, match="valid CSV file"):
        engine.import_csv(str(bad_ext), "company")

    big = tmp_path / "big.csv"
    with open(big, "wb") as f:
        f.write(b"name\n")
        f.seek(A.MAX_CSV_BYTES + 1)
        f.write(b"x")
    with pytest.raises(ValueError, match="10MB"):
        engine.validate_csv(str(big), "company")


# (seed file or None, batch file, import kwargs, created, updated,
#  invalidRows, stored (name, established, country) rows afterwards)
IMPORT_CASES = {
    # The reference's sequential update-or-create leaves exactly one
    # record per key, last CSV row winning (csv-import.js:362-428); the
    # merge must not fan out on duplicate batch keys or inflate counters.
    "dup_existing_key": (
        "Acme,India,2000,true\n",
        "Acme,China,2001,false\nAcme,USA,2002,true\nNewco,India,2020,yes\n",
        {"upsert": True, "upsert_field": "name"}, 1, 1, 0,
        [("Acme", 2002, 4), ("Newco", 2020, 1)],
    ),
    # Oldco is not in the batch: kept, neither created nor updated
    "dup_new_key": (
        "Acme,India,2000,true\nOldco,USA,1999,true\n",
        "Newco,India,2019,yes\nAcme,China,2001,false\nNewco,USA,2020,no\n",
        {"upsert": True, "upsert_field": "name"}, 1, 1, 0,
        [("Acme", 2001, 3), ("Newco", 2020, 4), ("Oldco", 1999, 4)],
    ),
    # an invalid duplicate between two valid ones is skipped, not merged
    "dup_around_invalid_row": (
        "Acme,India,2000,true\n",
        "Acme,China,2001,false\nAcme,USA,bad,true\nAcme,USA,2003,true\n",
        {"upsert": True, "upsert_field": "name"}, 0, 1, 1,
        [("Acme", 2003, 4)],
    ),
    # first upsert into a missing table: still one row per key
    "dup_into_new_table": (
        None,
        "Acme,China,2001,false\nAcme,USA,2002,true\nNewco,India,2020,yes\n",
        {"upsert": True, "upsert_field": "name"}, 2, 0, 0,
        [("Acme", 2002, 4), ("Newco", 2020, 1)],
    ),
    # append (no upsert) into an existing table: created == rows added
    "append_existing_table": (
        "Acme,India,2000,true\n",
        "Acme,China,2001,false\nNewco,India,2020,yes\nBad,India,x,true\n",
        {}, 2, 0, 1,
        [("Acme", 2000, 1), ("Acme", 2001, 3), ("Newco", 2020, 1)],
    ),
}


def _run_import_case(engine, spark, tmp_path, case):
    seed, batch, kwargs, created, updated, invalid, stored = IMPORT_CASES[case]
    if seed is not None:
        engine.import_csv(_csv(tmp_path, "seed.csv", _HEADER + seed), "company")
    before = engine.table("company").count() if seed is not None else 0
    p = _csv(tmp_path, "batch.csv", _HEADER + batch)
    assert engine.preview_csv(p, "company")["totalRows"] == batch.count("\n")
    assert _no_cached_relation(spark)
    rep = engine.validate_csv(p, "company")
    assert _no_cached_relation(spark)
    assert rep["invalidRows"] == invalid
    assert rep["validRows"] + invalid == rep["totalRows"] == batch.count("\n")
    out = engine.import_csv(p, "company", **kwargs)
    assert _no_cached_relation(spark)
    assert (out["created"], out["updated"], out["invalidRows"]) == (
        created, updated, invalid
    )
    table = engine.table("company")
    assert not [c for c in table.columns if c.startswith("__")]  # no helper column stored
    rows = table.collect()
    assert len(rows) - before == created
    assert sorted((r["name"], r["established"], r["country"]) for r in rows) == stored


def test_upsert_duplicate_keys_last_write_wins(engine, spark, tmp_path):
    _run_import_case(engine, spark, tmp_path, "dup_existing_key")


@pytest.mark.parametrize("case", [c for c in IMPORT_CASES if c != "dup_existing_key"])
def test_import_counters(engine, spark, tmp_path, case):
    _run_import_case(engine, spark, tmp_path, case)


def test_upsert_into_empty_target_counts_zero_updated(spark, tmp_path):
    from advanced_strapi_import_spark.operators import upsert as U

    target = spark.createDataFrame([], "id long, name string")
    batch = spark.createDataFrame([(1, "a")], "id long, name string")
    res = U.merge(target, batch, "id")
    row = res.counters.collect()[0]
    assert row["created"] == 1 and row["updated"] == 0


def test_merge_into_sql_rendering():
    from advanced_strapi_import_spark.operators.upsert import merge_into_sql

    sql = merge_into_sql("cat.db.t", "src", "id", ["id", "name", "qty"])
    assert sql == (
        "MERGE INTO cat.db.t t USING src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET t.name = s.name, t.qty = s.qty "
        "WHEN NOT MATCHED THEN INSERT (id, name, qty) VALUES (s.id, s.name, s.qty)"
    )
    # key-only schema: no UPDATE clause (nothing to set)
    assert "WHEN MATCHED" not in merge_into_sql("t", "s", "id", ["id"])


def test_merge_catalog_table_requires_row_level_format(spark, tmp_path):
    # Without Delta/Iceberg in the container the session catalog only has
    # v1 tables, which cannot MERGE; the sink must surface the engine
    # error (the caller then falls back to the join+union merge()).
    # With a row-level-capable catalog configured this same call is the
    # atomic path — the statement itself is format-agnostic.
    import pytest
    from pyspark.errors import AnalysisException, UnsupportedOperationException

    from advanced_strapi_import_spark.operators.upsert import merge_catalog_table

    spark.sql("DROP TABLE IF EXISTS __merge_t")
    spark.sql(f"CREATE TABLE __merge_t (id BIGINT, name STRING) USING parquet "
              f"LOCATION '{tmp_path}/mt'")
    try:
        batch = spark.createDataFrame([(1, "a")], "id long, name string")
        with pytest.raises((AnalysisException, UnsupportedOperationException)):
            merge_catalog_table(spark, "__merge_t", batch, "id")
        assert spark.catalog.listTables()  # view cleaned up, table intact
        assert not any(t.name.startswith("__merge_src") for t in spark.catalog.listTables())
    finally:
        spark.sql("DROP TABLE IF EXISTS __merge_t")


def test_compact_table_rewrites_small_files(engine, tmp_path):
    # batched import (batch_size -> maxRecordsPerFile) accretes many
    # small files; compaction rewrites to the size-derived count and
    # preserves content exactly.
    rows = "\n".join(f"c{i},India,20{i%10:02d},true" for i in range(200))
    p = _csv(tmp_path, "many.csv", "name,country,established,active\n" + rows + "\n")
    engine.import_csv(p, "company", batch_size=10)
    import os

    path = engine._path("company")
    files_before = [f for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    assert len(files_before) >= 20
    before = sorted(r["name"] for r in engine.table("company").collect())
    n = engine.compact_table("company")
    files_after = [f for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    assert len(files_after) == n == 1  # tiny table -> one right-sized file
    assert sorted(r["name"] for r in engine.table("company").collect()) == before


def test_table_format_roundtrip_orc_json(spark, tmp_path):
    """ORC and JSONL storage round-trips preserve every row exactly
    (format-generic Engine.table/write_table)."""
    eng = Engine(spark=spark, registry=REGISTRY,
                 storage_root=str(tmp_path / "fmt_store"))
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = sorted(tuple(str(x) for x in r) for r in src.collect())
    for fmt in ("orc", "json"):
        eng.write_table(f"docs_{fmt}", src, fmt=fmt)
        back = eng.table(f"docs_{fmt}", fmt=fmt).select(*src.columns)
        got = sorted(tuple(str(x) for x in r) for r in back.collect())
        assert got == want, fmt
        # overwrite path (atomic swap) works for non-parquet too
        eng.write_table(f"docs_{fmt}", src.limit(10), fmt=fmt)
        assert eng.table(f"docs_{fmt}", fmt=fmt).count() == 10


def test_engine_sql_surface(engine, spark):
    """Engine.sql: stored content types become queryable views."""
    out = engine.sql(
        "SELECT count(*) AS n, count(DISTINCT id) AS ids FROM country"
    ).collect()
    assert out[0].n >= 1 and out[0].ids == out[0].n
    companies = spark.createDataFrame(
        [(1, "Acme", 1), (2, "Globex", 1), (3, "Initech", 2)],
        "id long, name string, country long",
    )
    engine.write_table("company", companies)
    rows = engine.sql(
        """SELECT c.name AS country, count(*) AS n
           FROM company co JOIN country c ON c.id = co.country
           GROUP BY c.name ORDER BY n DESC, country"""
    ).collect()
    assert rows[0].n == 2


def test_engine_sql_named_parameters(engine):
    """Engine.sql(args=...): values bind as typed literals through
    Spark's parameterized SQL — a malicious filter value stays a
    string, it cannot alter the query structure."""
    rows = engine.sql(
        "SELECT id, name FROM country WHERE name = :name",
        args={"name": "Portugal"},
    ).collect()
    assert [r.name for r in rows] in ([], ["Portugal"])
    # an injection-shaped value matches nothing instead of mutating
    # the predicate
    evil = engine.sql(
        "SELECT count(*) AS n FROM country WHERE name = :name",
        args={"name": "x' OR '1'='1"},
    ).collect()
    assert evil[0].n == 0


def test_import_builds_single_component(engine, tmp_path):
    """Dot-notation component columns must materialize as a struct on
    the stored row — not be silently dropped (the docstring's
    'components' pipeline stage)."""
    csv = tmp_path / "offices.csv"
    csv.write_text(
        "id,name,location.street,location.city\n"
        "1,HQ,1 Main St,Pune\n"
        "2,Lab,2 Side Ave,Austin\n"
    )
    out = engine.import_csv(str(csv), "office")
    assert out["created"] == 2
    rows = {r["name"]: r for r in engine.table("office").collect()}
    assert rows["HQ"]["location"]["street"] == "1 Main St"
    assert rows["HQ"]["location"]["city"] == "Pune"
    assert rows["Lab"]["location"]["city"] == "Austin"


def test_export_multi_relation_rows_sharing_order_by_value(engine, tmp_path):
    """Two rows sharing the order_by value must keep their OWN relation
    lists — grouping by a non-unique sort column merged them."""
    users = tmp_path / "u.csv"
    users.write_text(
        "name,email,tags\nsame,a@x.com,India\nsame,b@x.com,USA\n"
    )
    engine.import_csv(str(users), "users")
    out = tmp_path / "exp"
    df = engine.export_csv("users", str(out), order_by="name")
    got = {r["email"]: r["tags.name"] for r in df.collect()}
    assert got["a@x.com"] == "India"
    assert got["b@x.com"] == "USA"


def test_export_rows_sharing_id_keep_own_multi_relation(engine, tmp_path):
    """An append import can store a second row with an existing id; each
    row still exports its own relation list."""
    header = "id,name,members\n"
    engine.import_csv(_csv(tmp_path, "a.csv", header + "7,x,India\n"), "team")
    engine.import_csv(_csv(tmp_path, "b.csv", header + "7,y,USA\n"), "team")
    out = tmp_path / "exp"
    engine.export_csv("team", str(out), order_by="name")
    with open(glob.glob(str(out / "part-*.csv"))[0], newline="") as f:
        got = [(r["id"], r["name"], r["members.name"]) for r in csv.DictReader(f)]
    assert got == [("7", "x", "India"), ("7", "y", "USA")]


def test_validate_absent_column_gets_default(spark):
    """A defaulted field missing from the CSV entirely must still
    materialize its default, same as a present-but-empty cell."""
    from advanced_strapi_import_spark.operators.validate import validate_df

    ct = REGISTRY.get("company")
    df = spark.createDataFrame(
        [("Acme", "2001")], "name string, established string"
    )
    res = validate_df(df, ct, REGISTRY)
    row = res.valid.collect()[0]
    assert row["active"] is True  # schema default, column absent from CSV


def test_validate_mostly_invalid_csv_bounded_driver_collect(engine, tmp_path):
    """VERDICT r10 item 2: a batch that is almost entirely invalid must
    NOT drive an unbounded error collect() to the driver — the report
    ships at most error_cap invalid rows' error strings while keeping
    the exact full counts, and flags the truncation."""
    n = 300_000
    p = tmp_path / "mostly_bad.csv"
    with open(p, "w") as f:
        f.write("name,country,established,active\n")
        f.write("Acme,India,2000,true\n")  # one valid row
        for i in range(n):
            # missing required name AND non-numeric established: 2
            # error strings per row, n rows — ~all of the file invalid
            f.write(",India,bad%d,true\n" % i)

    rep = engine.validate_csv(str(p), "company", error_cap=50)
    assert rep["totalRows"] == n + 1
    assert rep["validRows"] == 1
    assert rep["invalidRows"] == n          # exact count, not capped
    assert rep["errorsTruncated"] is True
    # <= cap rows x errors-per-row, nowhere near the 600k full list
    assert 0 < len(rep["errors"]) <= 50 * 4

    out = engine.import_csv(str(p), "company", strict=True, error_cap=50)
    assert out["created"] == 0 and out["errorsTruncated"] is True
    assert 0 < len(out["errors"]) <= 50 * 4

    # uncapped small-file behavior unchanged: every error present
    small = _csv(tmp_path, "small_bad.csv",
                 "name,country,established,active\n"
                 ",India,bad,true\n,India,bad2,true\n")
    rep2 = engine.validate_csv(small, "company")
    assert rep2["invalidRows"] == 2 and rep2["errorsTruncated"] is False
    assert len(rep2["errors"]) == 4


def test_export_page_ties_break_on_id(engine, spark, tmp_path):
    """A page of rows tied on ``order_by`` holds the lowest ids, in id
    order, and its CSV bytes do not depend on the shuffle partitions."""
    rows = [f"{i},Co{i:02d},{'India' if i % 3 else 'USA'},{2000 + i % 2},true\n"
            for i in range(40, 0, -1)]
    engine.import_csv(
        _csv(tmp_path, "c.csv", "id,name,country,established,active\n" + "".join(rows)),
        "company",
    )
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    pages = {}
    try:
        for n in (1, 8):
            spark.conf.set(key, str(n))
            out = tmp_path / f"page{n}"
            engine.export_csv("company", str(out), order_by="established", limit=5)
            pages[n] = b"".join(p.read_bytes() for p in sorted(out.glob("part-*.csv")))
    finally:
        spark.conf.set(key, old)
    assert pages[1] == pages[8]
    got = [r["id"] for r in csv.DictReader(io.StringIO(pages[1].decode()))]
    assert got == ["2", "4", "6", "8", "10"]


# -- remembered schemas ----------------------------------------------------
def _inferred_schema(spark, engine, ct):
    return spark.read.parquet(engine._path(ct)).schema


def test_table_schema_memo_matches_inferred(engine, spark, tmp_path):
    """The schema a table is read with equals the one Spark infers from
    its files, nullability included, after a write, an upsert import
    and a compaction."""
    assert engine.table("country").schema == _inferred_schema(spark, engine, "country")
    engine.import_csv(_csv(tmp_path, "a.csv", _HEADER + "Acme,India,2000,true\n"),
                      "company")
    assert engine.table("company").schema == _inferred_schema(spark, engine, "company")
    engine.import_csv(
        _csv(tmp_path, "b.csv", _HEADER + "Acme,China,2001,false\nNewco,USA,2020,yes\n"),
        "company", upsert=True, upsert_field="name",
    )
    assert engine.table("company").schema == _inferred_schema(spark, engine, "company")
    engine.compact_table("company")
    assert engine.table("company").schema == _inferred_schema(spark, engine, "company")
    assert sorted(r["name"] for r in engine.table("company").collect()) == ["Acme", "Newco"]


def test_table_sees_rewrite_by_another_engine(engine, spark):
    assert "extra" not in engine.table("country").columns
    other = Engine(spark=spark, registry=REGISTRY, storage_root=engine.storage_root)
    other.write_table("country", other.table("country").withColumn("extra", F.lit(7)))
    df = engine.table("country")
    assert "extra" in df.columns
    assert {r["extra"] for r in df.collect()} == {7}


def test_validate_sees_csv_rewritten_in_place(engine, tmp_path):
    p = _csv(tmp_path, "c.csv", _HEADER + "Acme,India,2000,true\n")
    assert engine.preview_csv(p, "company")["headers"] == _HEADER.strip().split(",")
    assert engine.validate_csv(p, "company")["warnings"] == []
    st = os.stat(p)
    # same inode and size, new header: only the mtime tells them apart
    with open(p, "w") as f:
        f.write("name,country,inaugurated,active\nAcme,India,2000,true\n")
    assert (os.stat(p).st_ino, os.stat(p).st_size) == (st.st_ino, st.st_size)
    rep = engine.validate_csv(p, "company")
    assert rep["warnings"] == [
        'Column "inaugurated" does not match any field and will be ignored'
    ]
    assert rep["validRows"] == 1 and "established" not in rep["preview"][0]


def test_missing_table_raises_analysis_exception(engine):
    for _ in range(2):
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            engine.table("company")


def _jobs_run(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted under a job group of its own."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    group = f"jobs-run-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_reads_run_no_job(engine, spark, tmp_path):
    """Building the read frame of an unchanged table, or the scan frame
    of a CSV already scanned, runs no Spark job; the cold builds do."""
    group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
    cold = Engine(spark=spark, registry=REGISTRY, storage_root=engine.storage_root)
    assert _jobs_run(spark, lambda: cold.table("country")) >= 1
    assert _jobs_run(spark, lambda: cold.table("country")) == 0
    assert _jobs_run(spark, lambda: engine.table("country")) == 0  # filled by its write

    p = _csv(tmp_path, "c.csv", _HEADER + "Acme,India,2000,true\n")
    assert _jobs_run(spark, lambda: engine._scan_csv(p)) >= 1
    assert _jobs_run(spark, lambda: engine._scan_csv(p)) == 0
    assert engine._scan_csv(p).collect() == cold._scan_csv(p).collect()
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") == group


# -- one validation per flow -------------------------------------------------
# A content type with a relation (matched through a dot header) and a
# single component, beside the fixtures' country dimension.
SITE_REGISTRY = Registry.from_dict({
    "contentTypes": {
        "country": {"attributes": {
            "id": {"type": "integer"}, "name": {"type": "string", "required": True},
            "code": {"type": "string", "unique": True},
        }},
        "site": {"attributes": {
            "id": {"type": "integer"},
            "name": {"type": "string", "required": True},
            "country": {"type": "relation", "relation": "manyToOne", "target": "country"},
            "established": {"type": "integer"},
            "location": {"type": "component", "component": "address"},
        }},
    },
    "components": {"address": {"attributes": {
        "street": {"type": "string"}, "city": {"type": "string"},
    }}},
})
SITE_SCHEMA = ("id long, name string, country long, established long, "
               "location struct<street:string, city:string>")
SITE_SEED = [(1, "Acme", 1, 2000, ("1 Main St", "Pune")),
             (2, "Oldco", 4, 1999, None)]
_SITE_HEADER = "name,country.code,established,location.street,location.city\n"
# (batch rows, import kwargs): an upsert whose keys repeat, with an
# invalid row between two valid ones; strict mode over invalid rows with
# a smaller cap than validate's; a file missing a required column
FLOW_CASES = {
    "upsert": (
        _SITE_HEADER
        + "Acme,CN,2001,2 Side Ave,Austin\nNewco,IN,bad,,\nAcme,US,2002,,Lima\n"
        + "Newco,XX,2020,3 Rd,Pune\nOldco,USX,,4 Ln,\n",
        {"upsert": True, "upsert_field": "name"},
    ),
    "strict": (
        _SITE_HEADER + "Acme,CN,x,,\nNewco,IN,2020,,\nBad,IN,y,,\nWorse,,z,,\n",
        {"strict": True, "error_cap": 2},
    ),
    "schema_errors": (
        "country.code,established\nCN,2001\nIN,bad\n",
        {"upsert": True, "upsert_field": "name"},
    ),
}


def _site_engine(spark, root) -> Engine:
    eng = Engine(spark=spark, registry=SITE_REGISTRY, storage_root=str(root))
    eng.write_table("country", spark.createDataFrame(COUNTRIES, "id long, name string, code string"))
    eng.write_table("site", spark.createDataFrame(SITE_SEED, SITE_SCHEMA))
    return eng


def _stored(engine, ct) -> list:
    df = engine.table(ct)
    assert not [c for c in df.columns if c.startswith("__")]
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _site_flow(spark, root, case, *, validate_first, path=None):
    """The case's import, after a preview and a validate of the same file
    or alone; returns the replies and the stored rows."""
    text, kwargs = FLOW_CASES[case]
    engine = _site_engine(spark, root)
    p = path or _csv(root.parent, f"{root.name}.csv", text)
    replies = {}
    if validate_first:
        replies["preview"] = engine.preview_csv(p, "site")
        replies["validate"] = engine.validate_csv(p, "site")
        assert _no_cached_relation(spark)
        assert engine._validated is not None
    replies["import"] = engine.import_csv(p, "site", **kwargs)
    assert _no_cached_relation(spark)
    assert engine._validated is None
    return replies, _stored(engine, "site")


@pytest.mark.parametrize("case", list(FLOW_CASES))
def test_import_after_validate_matches_import_alone(spark, tmp_path, case):
    """Taking the validated batch of the validate call gives the same
    reply and the same stored rows as validating inside the import."""
    hit, hit_rows = _site_flow(spark, tmp_path / "hit", case, validate_first=True)
    miss, miss_rows = _site_flow(spark, tmp_path / "miss", case, validate_first=False)
    assert hit["import"] == miss["import"]
    assert hit_rows == miss_rows
    if case == "upsert":
        assert hit["import"] == {"created": 1, "updated": 2, "invalidRows": 1}
        assert hit["validate"]["invalidRows"] == 1
        rows = {r[1]: r for r in hit_rows}
        assert rows["Acme"] == (1, "Acme", 2, 2002, (None, "Lima"))
        assert rows["Newco"][2:] == (None, 2020, ("3 Rd", "Pune"))
        assert rows["Oldco"] == (2, "Oldco", 4, 1999, ("4 Ln", None))
    elif case == "strict":
        assert hit_rows == sorted(SITE_SEED, key=repr)
        assert hit["import"]["errorsTruncated"] is True
        assert hit["validate"]["errorsTruncated"] is False
        assert hit["import"]["errors"] == hit["validate"]["errors"][:2]
    else:
        assert hit_rows == sorted(SITE_SEED, key=repr)
        assert hit["import"]["errors"][0] == 'Required field "name" is not mapped in the CSV'


def test_import_misses_csv_rewritten_in_place(engine, tmp_path):
    p = _csv(tmp_path, "c.csv", _HEADER + "Acme,India,2000,true\n")
    assert engine.validate_csv(p, "company")["validRows"] == 1
    st = os.stat(p)
    with open(p, "w") as f:  # same inode and size, new mtime
        f.write(_HEADER + "Bcme,China,2001,true\n")
    assert (os.stat(p).st_ino, os.stat(p).st_size) == (st.st_ino, st.st_size)
    assert engine.import_csv(p, "company")["created"] == 1
    assert [(r["name"], r["country"]) for r in engine.table("company").collect()] == [
        ("Bcme", 3)
    ]


def test_import_misses_edited_registry(spark, tmp_path):
    import copy

    engine = Engine(spark=spark, registry=copy.deepcopy(REGISTRY),
                    storage_root=str(tmp_path / "store"))
    p = _csv(tmp_path, "c.csv", _HEADER + "Acme,India,2000,true\nBelco,USA,soon,true\n")
    assert engine.validate_csv(p, "company")["invalidRows"] == 1
    engine.registry.get("company").attributes["established"].type = "string"
    out = engine.import_csv(p, "company")
    assert (out["created"], out["invalidRows"]) == (2, 0)
    assert sorted(r["established"] for r in engine.table("company").collect()) == [
        "2000", "soon"
    ]


def test_second_import_of_validated_file_validates_again(engine, spark, tmp_path):
    p = _csv(tmp_path, "c.csv", _HEADER + "Acme,India,2000,true\nBad,India,x,true\n")
    engine.validate_csv(p, "company")
    first = engine.import_csv(p, "company")
    second = engine.import_csv(p, "company")
    assert first == second == {"created": 1, "updated": 0, "invalidRows": 1}
    assert sorted(r["name"] for r in engine.table("company").collect()) == ["Acme", "Acme"]
    assert _no_cached_relation(spark)


def _sql_plans(spark, fn) -> list[str]:
    """Physical plans of the SQL executions ``fn`` runs."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty(10_000)
    before = store.executionsCount()
    fn()
    bus.waitUntilEmpty(10_000)
    seq = store.executionsList(before, store.executionsCount() - before)
    return [seq.apply(i).physicalPlanDescription() for i in range(seq.size())]


def test_import_after_validate_runs_no_csv_scan(spark, tmp_path):
    """An import of the file just validated runs no CSV scan and at least
    two jobs fewer than one that validates the file itself; no verb
    leaves a cached relation behind, and an import leaves no checkpoint
    blocks."""
    engine = _site_engine(spark, tmp_path / "store")
    text, kwargs = FLOW_CASES["upsert"]
    p = _csv(tmp_path, "c.csv", text)
    persisted = spark.sparkContext._jsc.sc().getPersistentRDDs
    before = persisted().size()
    engine.preview_csv(p, "site")
    assert _no_cached_relation(spark)
    engine.validate_csv(p, "site")
    assert _no_cached_relation(spark)
    plans = []
    hit = _jobs_run(spark, lambda: plans.extend(
        _sql_plans(spark, lambda: engine.import_csv(p, "site", **kwargs))))
    assert _no_cached_relation(spark)
    assert plans and not [pl for pl in plans if "Scan csv" in pl]
    miss_plans = []
    miss = _jobs_run(spark, lambda: miss_plans.extend(
        _sql_plans(spark, lambda: engine.import_csv(p, "site", **kwargs))))
    assert _no_cached_relation(spark)
    assert [pl for pl in miss_plans if "Scan csv" in pl]
    assert hit <= miss - 2, (hit, miss)
    assert persisted().size() <= before


IMPORT_CONF_MATRIX = {
    "spark.sql.shuffle.partitions": ["1", "3", "8"],
    "spark.sql.adaptive.enabled": ["true", "false"],
    "spark.sql.autoBroadcastJoinThreshold": [None, "-1"],  # None: as set
    # 64 bytes splits the flow's CSV into several scan partitions
    "spark.sql.files.maxPartitionBytes": [None, "64"],
}


def test_import_flow_independent_of_confs(spark, tmp_path):
    """The preview -> validate -> import flow gives the same replies and
    the same stored rows under every shuffle partition count, with AQE
    on and off, with auto-broadcast off and with the CSV split into
    several scan partitions, and the same import reply and rows as the
    import alone."""
    text, _ = FLOW_CASES["upsert"]
    p = _csv(tmp_path, "flow.csv", text)
    alone, alone_rows = _site_flow(spark, tmp_path / "alone", "upsert",
                                   validate_first=False, path=p)
    saved = {k: spark.conf.get(k) for k in IMPORT_CONF_MATRIX}
    runs = {}
    try:
        for combo in itertools.product(*IMPORT_CONF_MATRIX.values()):
            for k, v in zip(IMPORT_CONF_MATRIX, combo):
                spark.conf.set(k, saved[k] if v is None else v)
            runs[combo] = _site_flow(spark, tmp_path / f"run{len(runs)}", "upsert",
                                     validate_first=True, path=p)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    first = next(iter(runs.values()))
    for combo, run in runs.items():
        assert run == first, combo
    assert first[0]["import"] == alone["import"]
    assert first[1] == alone_rows


# -- swap-write --------------------------------------------------------------
def test_write_table_interrupted_swap_keeps_previous_version(engine, spark, tmp_path,
                                                             monkeypatch):
    """A write that stops between its two renames leaves the previous
    version whole: it is read back, and the next write succeeds."""
    before = sorted(tuple(r) for r in engine.table("country").collect())
    path = engine._path("country")
    rename = os.rename

    def second_rename_fails(src, dst):
        if src.endswith(".__tmp__"):
            raise OSError("interrupted swap")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", second_rename_fails)
    with pytest.raises(OSError, match="interrupted swap"):
        engine.write_table("country", engine.table("country").limit(1))
    monkeypatch.undo()
    assert not os.path.exists(path) and os.path.isdir(path + ".__old__")
    assert engine.has_table("country")
    assert sorted(tuple(r) for r in engine.table("country").collect()) == before
    cold = Engine(spark=spark, registry=REGISTRY, storage_root=engine.storage_root)
    assert sorted(tuple(r) for r in cold.table("country").collect()) == before

    engine.write_table("country", engine.table("country").filter("id < 3"))
    assert sorted(r["id"] for r in engine.table("country").collect()) == [1, 2]
    assert sorted(os.listdir(engine.storage_root)) == ["country"]
