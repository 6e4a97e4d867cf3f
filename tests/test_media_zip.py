"""Unit tests for the ZIP source (S8/S9), hygiene filter (P9), media
matching (J7) and CSV scan (S1) — mirrors the reference's media tests
and FIXTURES.md §6."""

from __future__ import annotations

import io
import zipfile

from pyspark.sql import functions as F

from advanced_strapi_import_spark.operators import media as M
from advanced_strapi_import_spark.sources import zip_source as Z
from advanced_strapi_import_spark.sources.csv_source import csv_scan, preview


def _make_zip(tmp_path, entries: dict[str, bytes]) -> str:
    p = tmp_path / "media.zip"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in entries.items():
            zf.writestr(name, data)
    p.write_bytes(buf.getvalue())
    return str(p)


def test_zip_entries_and_hygiene(spark, tmp_path):
    path = _make_zip(
        tmp_path,
        {
            "reports/CH001.pdf": b"a",
            "reports/CH001_01.pdf": b"bb",
            "lab_docs/CH002_lab.pdf": b"c",
            "__MACOSX/reports/._CH001.pdf": b"junk",
            ".DS_Store": b"junk",
            "loose_invoice_CH003.pdf": b"d",
        },
    )
    ent = Z.hygiene_filter(Z.zip_entries(spark, path))
    names = {r["name"] for r in ent.collect()}
    assert names == {"CH001.pdf", "CH001_01.pdf", "CH002_lab.pdf", "loose_invoice_CH003.pdf"}


def test_ingest_media_zip_rejects_corrupt_archive(spark, tmp_path):
    """An archive that is not a zip fails the upload; no entry of it is
    routed."""
    import pytest

    from advanced_strapi_import_spark.api import Engine
    from advanced_strapi_import_spark.schema import Registry

    reg = Registry.from_dict({"contentTypes": {"challan": {"attributes": {
        "challan_no": {"type": "string"}, "reports": {"type": "media"},
    }}}, "components": {}})
    eng = Engine(spark=spark, registry=reg, storage_root=str(tmp_path / "store"))
    bad = tmp_path / "media.zip"
    bad.write_bytes(b"PK\x03\x04 not really a zip archive")
    with pytest.raises(Exception, match="BadZipFile"):
        eng.ingest_media_zip(str(bad), "challan", "challan_no")
    assert eng._media == {}


def test_media_files_routing(spark, tmp_path):
    path = _make_zip(
        tmp_path,
        {
            "reports/CH001.pdf": b"a",          # folder route
            "payment_docs/CH002.pdf": b"b",     # folder route
            "loose_invoice_CH003.pdf": b"d",    # keyword route -> payment_docs
        },
    )
    mf = Z.media_files(spark, path)
    got = {(r["field"], r["name"]) for r in mf.collect()}
    assert ("reports", "CH001.pdf") in got
    assert ("payment_docs", "CH002.pdf") in got
    assert ("payment_docs", "loose_invoice_CH003.pdf") in got
    mimes = {r["name"]: r["mime"] for r in mf.collect()}
    assert mimes["CH001.pdf"] == "application/pdf"


def test_match_media_three_patterns(spark):
    rows = spark.createDataFrame(
        [(1, "CH001"), (2, "CH002"), (3, "CH999")], "rid long, challan_no string"
    )
    files = spark.createDataFrame(
        [
            (10, "ch001.pdf"),        # exact
            (11, "CH001_02.pdf"),     # numbered
            (12, "ch001_report.pdf"), # startswith
            (13, "ch0010.pdf"),       # startswith of CH001 too (prefix!)
            (14, "ch002.pdf"),
            (15, "other.pdf"),
        ],
        "id long, name string",
    )
    out = M.match_media(rows, files, "challan_no", row_key="rid")
    got = {r["rid"]: r["media_ids"] for r in out.collect()}
    # sorted by lowercase name: ch001.pdf < ch0010.pdf < ch001_02.pdf < ch001_report.pdf
    assert got[1] == [10, 13, 11, 12]
    assert got[2] == [14]
    assert got[3] is None


def test_match_media_prefix_strategy_equivalent(spark):
    rows = spark.createDataFrame(
        [(1, "CH001"), (2, "CH002"), (3, "CH999")], "rid long, challan_no string"
    )
    files = spark.createDataFrame(
        [(10, "ch001.pdf"), (11, "CH001_02.pdf"), (14, "ch002.pdf")],
        "id long, name string",
    )
    a = M.match_media(rows, files, "challan_no", row_key="rid")
    b = M.match_media(rows, files, "challan_no", row_key="rid", strategy="prefix-explode")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_csv_scan_and_preview(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text('name,code\n"India, Rep",IN\n\nChina,CN\n')
    df = csv_scan(spark, str(p))
    assert df.columns == ["name", "code"]
    rows = {r["name"]: r["code"] for r in df.collect()}
    # quoted comma kept, empty line skipped
    assert rows == {"India, Rep": "IN", "China": "CN"}
    pv = preview(df, 1)
    assert pv["totalRows"] == 2 and len(pv["rows"]) == 1
