"""Parity queries for the sink-side operators: upsert merge (J6/A1),
denormalizing export (J9/F19/F20/A6/L4), and repeatable-component
pivoting (A3/J5)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from advanced_strapi_import_spark.operators import components as CMP
from advanced_strapi_import_spark.operators import export as X
from advanced_strapi_import_spark.operators import upsert as U
from advanced_strapi_import_spark.plans.registry import fan_out, load, query
from advanced_strapi_import_spark.schema import ContentType, Attribute


# ---------------------------------------------------------------------------
# J6: upsert merge — batch wins on key collision, new keys append
# ---------------------------------------------------------------------------
def _merge_inputs(spark: SparkSession, sf_dir: str):
    c = load(spark, sf_dir, "customer")
    target = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.round("c_acctbal", 2).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    batch = c.select(
        (F.col("c_custkey") * 2).alias("id"),
        F.concat(F.lit("B_"), F.col("c_name")).alias("name"),
        F.round(F.col("c_acctbal") + 500, 2).alias("acctbal"),
    )
    return target, batch


_MERGE_SQL = """
WITH t AS (SELECT c_custkey AS id, c_name AS name, round(c_acctbal, 2) AS acctbal,
                  c_mktsegment AS segment FROM customer),
b AS (SELECT c_custkey * 2 AS id, 'B_' || c_name AS name,
             round(c_acctbal + 500, 2) AS acctbal FROM customer),
existing AS (
  SELECT t.id, coalesce(b.name, t.name) AS name,
         coalesce(b.acctbal, t.acctbal) AS acctbal, t.segment,
         b.id IS NOT NULL AS was_updated
  FROM t LEFT JOIN b ON b.id = t.id),
created AS (
  SELECT b.id, b.name, b.acctbal, CAST(NULL AS VARCHAR) AS segment
  FROM b WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.id = b.id))
"""


@query(
    "upsert_merged",
    oracle=_MERGE_SQL + """
SELECT id, name, acctbal, segment FROM existing
UNION ALL SELECT * FROM created
""",
    doc="J6: SQL-MERGE semantics via join+union (Delta MERGE INTO analog).",
)
def upsert_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    target, batch = _merge_inputs(spark, sf_dir)
    return U.merge(target, batch, "id").merged


@query(
    "upsert_counters",
    oracle=_MERGE_SQL + """
SELECT (SELECT count(*) FROM created) AS created,
       (SELECT CAST(sum(CASE WHEN was_updated THEN 1 ELSE 0 END) AS BIGINT)
        FROM existing) AS updated
""",
    doc="A1: created/updated counters from the same lazy merge plan.",
)
def upsert_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    target, batch = _merge_inputs(spark, sf_dir)
    return U.merge(target, batch, "id").counters


# ---------------------------------------------------------------------------
# J9/F19/F20/A6/L4: denormalizing export
# ---------------------------------------------------------------------------
_CUSTOMER_DIM_CT = ContentType(
    uid="api::customer.dim",
    attributes={"id": Attribute(type="integer"), "name": Attribute(type="string")},
)
_PART_DIM_CT = ContentType(
    uid="api::part.dim",
    attributes={"id": Attribute(type="integer"), "name": Attribute(type="string")},
)


@query(
    "export_denormalize",
    oracle="""
WITH pa AS (
  SELECT l_orderkey, string_agg(p_name, ', ' ORDER BY l_linenumber, l_partkey) AS pnames
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY l_orderkey)
SELECT o.o_orderkey AS id, o.o_orderstatus AS status,
       round(o.o_totalprice, 2) AS totalprice,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       c.c_name AS "customer.name",
       coalesce(pa.pnames, '') AS "parts.name"
FROM orders o
LEFT JOIN customer c ON c.c_custkey = o.o_custkey
LEFT JOIN pa ON pa.l_orderkey = o.o_orderkey
ORDER BY o.o_orderkey LIMIT 1000
""",
    doc="J9 populate joins + F19 first-column heuristic + A6 ', ' join + "
        "L4 export cap; relation flatten to dot-notation columns.",
)
def export_denormalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    part_dim = part.select(F.col("p_partkey").alias("id"), F.col("p_name").alias("name"))

    fact = orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("status"),
        F.round("o_totalprice", 2).alias("totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.col("o_custkey").alias("customer"),
    )
    # build the multi-FK array (populate step), ordered by line number
    parts_arr = (
        li.groupBy("l_orderkey")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("l_linenumber", "l_partkey"))),
                lambda s: s["l_partkey"],
            ).alias("parts")
        )
    )
    # post-agg parts_arr is order-count-sized -> broadcast beats the
    # SortMergeJoin Catalyst would pick from stale size stats
    fact = fact.join(
        F.broadcast(parts_arr), fact["id"] == parts_arr["l_orderkey"], "left"
    ).drop("l_orderkey")
    fact = X.flatten_scalar_relation(fact, "customer", cust, _CUSTOMER_DIM_CT)
    fact = X.flatten_multi_relation(fact, "parts", part_dim, _PART_DIM_CT)
    fact = fact.withColumn("parts.name", F.coalesce(F.col("`parts.name`"), F.lit("")))
    return X.drop_metadata(fact).orderBy("id").limit(1000)


# ---------------------------------------------------------------------------
# A3/J5: repeatable-component comma-pivot with ragged lists
# ---------------------------------------------------------------------------
_DO_COMP_CT = ContentType(
    uid="test.do_quantity",
    attributes={
        "do_number": Attribute(type="string"),
        "quantity": Attribute(type="float"),
    },
)


@query(
    "component_pivot",
    oracle="""
WITH src AS (
  SELECT o_orderkey AS k,
         'DO-' || o_orderkey ||
           CASE WHEN o_orderkey % 3 = 0 THEN ',DO-' || (o_orderkey + 1) ELSE '' END AS do_numbers,
         CAST(o_orderkey % 997 AS VARCHAR) || '.25' ||
           CASE WHEN o_orderkey % 2 = 0
                THEN ',' || CAST((o_orderkey * 3) % 997 AS VARCHAR) || '.5' ELSE '' END AS quantities
  FROM orders),
arrs AS (
  SELECT k, string_split(do_numbers, ',') AS a1, string_split(quantities, ',') AS a2
  FROM src),
exploded AS (
  SELECT k, a1, a2,
         unnest(range(1, greatest(len(a1), len(a2)) + 1)) AS idx
  FROM arrs)
SELECT k, idx,
       trim(a1[idx]) AS do_number,
       TRY_CAST(trim(a2[idx]) AS DOUBLE) AS quantity
FROM exploded
""",
    doc="A3 maxRows pivot: parallel comma lists -> array<struct>, ragged "
        "lengths pad null; flattened back for the oracle compare.",
)
def component_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the pivot's per-element split/cast expressions are the cost here,
    # and the single-file orders scan is one split — spread first
    o = fan_out(load(spark, sf_dir, "orders"))
    k = F.col("o_orderkey")
    src = o.select(
        k.alias("k"),
        F.concat(
            F.lit("DO-"), k.cast("string"),
            F.when(k % 3 == 0, F.concat(F.lit(",DO-"), (k + 1).cast("string"))).otherwise(F.lit("")),
        ).alias("do_numbers"),
        F.concat(
            (k % 997).cast("string"), F.lit(".25"),
            F.when(k % 2 == 0, F.concat(F.lit(","), ((k * 3) % 997).cast("string"), F.lit(".5"))).otherwise(F.lit("")),
        ).alias("quantities"),
    )
    built = CMP.build_repeatable_component(
        src, "do_quantity", _DO_COMP_CT,
        {"do_number": "do_numbers", "quantity": "quantities"},
    )
    return built.select(
        "k", F.posexplode("do_quantity").alias("pos0", "item")
    ).select(
        "k",
        (F.col("pos0") + 1).alias("idx"),
        F.col("item.do_number").alias("do_number"),
        F.col("item.quantity").alias("quantity"),
    )


# ---------------------------------------------------------------------------
# Avro OCF round trip under the value-checked gate (round 8)
# ---------------------------------------------------------------------------
@query(
    "orders_avro_roundtrip_agg",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders GROUP BY o_orderpriority
""",
    doc="Avro OCF round trip inside the value-checked gate (round 8 — "
        "until now the avro_py source/sink was pytest-only): orders "
        "(key, priority, integer cents) writes through the "
        "two-phase-commit avro_py sink 8 files wide (round 10: the "
        "single-split scan used to serialize the whole encode in one "
        "Python worker), reads back through the avro_py source FORCED "
        "to split each part file into ~4 byte-range partitions "
        "(target_partition_bytes = total/32, so the sync-marker resync "
        "path runs ~24 times on every gate run, not just in "
        "unit tests), and aggregates. The oracle aggregates the "
        "original parquet directly — any row lost or doubled by the "
        "split ownership rule, any column misaligned by the "
        "planned-order projection, or any encode/decode drift breaks "
        "the count or the exact integer cents sum. Integer cents make "
        "the sum hash-stable; the write is a per-gate temp dir, "
        "removed at exit.",
)
def orders_avro_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import glob as globmod
    import os
    import shutil
    import tempfile

    from advanced_strapi_import_spark.sources.avro_datasource import (
        register_avro_datasource,
    )

    register_avro_datasource(spark)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    d = tempfile.mkdtemp(prefix="avro_rt_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    out = os.path.join(d, "orders")
    # 8-way write: the single-row-group orders scan is ONE split, and
    # without the repartition the whole encode serializes in one
    # Python worker (round-10 decomposition: 3.9 s of a ~6 s query).
    # 8 files x 4 byte-range splits each keeps the sync-marker resync
    # path exercised on every gate run (24 mid-file split starts).
    o.repartition(8).write.format("avro_py").option(
        "path", out
    ).mode("overwrite").save()
    size = sum(
        os.path.getsize(p) for p in globmod.glob(out + "/part-*.avro")
    )
    back = (
        spark.read.format("avro_py")
        .option("path", out + "/part-*.avro")
        .option("target_partition_bytes", str(max(1, size // 32)))
        .load()
    )
    return back.groupBy(
        F.col("o_orderpriority")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


@query(
    "export_csv_roundtrip_agg",
    oracle="""
WITH src AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         'v,"' || o_orderstatus || '",' || CAST(o_orderkey AS VARCHAR)
           AS comment
  FROM orders)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(sum(length(comment)) AS BIGINT) AS comment_chars,
       CAST(sum(length(comment)
                - length(replace(comment, ',', ''))) AS BIGINT) AS commas
FROM src GROUP BY o_orderpriority
""",
    doc="CSV sink round trip under the value-checked gate (round 10, "
        "VERDICT r9 task 8 — S7/S1 were pytest-only): orders plus a "
        "synthesized RFC-4180-hostile comment column (embedded commas "
        "AND double quotes, so the writer MUST quote and escape and "
        "the reader MUST parse both) writes through the S7 CSV sink "
        "and reads back through the S1 all-string header-driven scan; "
        "aggregates re-derive integer cents and byte-exact comment "
        "stats. Any quoting/escape drift splits a column or mangles a "
        "comment and breaks comment_chars/commas; any cast drift "
        "breaks total_cents. Oracle synthesizes the identical comment "
        "from the parquet directly. Reference: RFC-4180 quoting is "
        "controllers/csv-import.js:442-445 semantics.",
)
def export_csv_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from advanced_strapi_import_spark.sources.csv_source import csv_scan

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.concat(
            F.lit('v,"'),
            F.col("o_orderstatus"),
            F.lit('",'),
            F.col("o_orderkey").cast("string"),
        ).alias("comment"),
    )
    d = tempfile.mkdtemp(prefix="csv_rt_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    out = os.path.join(d, "orders_csv")
    X.write_csv(o, out)
    back = csv_scan(spark, out)  # all strings, header-driven (S1)
    return back.groupBy(F.col("o_orderpriority")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("cents").cast("long")).cast("long").alias(
            "total_cents"
        ),
        F.sum(F.length("comment")).cast("long").alias("comment_chars"),
        F.sum(
            F.length("comment")
            - F.length(F.replace(F.col("comment"), F.lit(","), F.lit("")))
        ).cast("long").alias("commas"),
    )


@query(
    "zip_roundtrip_agg",
    oracle="""
WITH sel AS (
  SELECT doc_id, doc_id % 3 AS folder_id, text FROM documents
  WHERE doc_id % 7 = 0)
SELECT CAST(folder_id AS BIGINT) AS folder_id,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       min(md5(text)) AS min_md5,
       max(md5(text)) AS max_md5
FROM sel GROUP BY folder_id
""",
    doc="ZIP source round trip under the value-checked gate (round 10, "
        "VERDICT r9 task 8 — S8/S9 were pytest-only): a 1-in-7 "
        "document sample packs into 8 zip archives (one applyInPandas "
        "group per archive, entries foldered f<doc_id%%3>/doc<id>.txt, "
        "deflate), the archives read back through the S8 zip_entries "
        "scan with content, and per-folder aggregates check entry "
        "COUNT, byte-exact SIZES (central-directory file_size vs "
        "utf-8 octet length) and CONTENT (md5 over the decompressed "
        "bytes vs md5 over the original text). Any entry lost by "
        "routing, any folder misparse, or any decompression drift "
        "breaks a column. Oracle computes the same stats from the "
        "parquet directly. Reference: foldered zip routing is "
        "csv-import.js:1040-1105 semantics.",
)
def zip_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from advanced_strapi_import_spark.sources.zip_source import zip_entries

    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 7 == 0
    ).select(
        "doc_id",
        (F.col("doc_id") % 3).alias("folder_id"),
        (F.col("doc_id") % 8).alias("zip_id"),
        "text",
    )
    d = tempfile.mkdtemp(prefix="zip_rt_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)

    def pack(key, pdf):
        import os as _os
        import uuid as _uuid
        import zipfile as _zf

        import pandas as pd

        zid = int(key[0])
        # staging name must NOT match the later '*.zip' read glob (a
        # tmp stranded by a failed attempt would double-count entries)
        # and must be attempt-unique so concurrent speculative attempts
        # never interleave writes into one file (ADVICE r10).
        tmp = _os.path.join(
            d, f"part{zid}.zip.{_uuid.uuid4().hex}.tmp"
        )
        final = _os.path.join(d, f"part{zid}.zip")
        ordered = pdf.sort_values("doc_id")
        with _zf.ZipFile(tmp, "w", _zf.ZIP_DEFLATED) as z:
            for _, r in ordered.iterrows():
                z.writestr(
                    f"f{int(r['folder_id'])}/doc{int(r['doc_id'])}.txt",
                    str(r["text"]).encode("utf-8"),
                )
        _os.replace(tmp, final)  # idempotent re-run safe
        return pd.DataFrame({"zip_id": [zid], "n": [len(pdf)]})

    written = docs.groupBy("zip_id").applyInPandas(
        pack, "zip_id long, n long"
    )
    # bounded materialization: 8 rows, one per archive
    assert sum(r["n"] for r in written.collect()) > 0
    back = zip_entries(spark, os.path.join(d, "*.zip"),
                       include_content=True)
    return back.groupBy(
        F.substring("folder", 2, 10).cast("long").alias("folder_id")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("size").cast("long").alias("total_bytes"),
        F.min(F.md5("content")).alias("min_md5"),
        F.max(F.md5("content")).alias("max_md5"),
    )


@query(
    "zip_media_routing",
    oracle="""
WITH base AS (
  SELECT doc_id,
         CAST(doc_id % 6 AS BIGINT) AS zip_id,
         CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN 'Reports' WHEN 1 THEN 'lab_docs'
           WHEN 2 THEN 'misc' ELSE 'stuff' END AS folder,
         CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN 'doc' || CAST(doc_id AS VARCHAR) || '.pdf'
           WHEN 1 THEN 'x' || CAST(doc_id AS VARCHAR) || '.png'
           WHEN 2 THEN 'invoice_' || CAST(doc_id AS VARCHAR) || '.pdf'
           ELSE CASE WHEN doc_id % 8 = 3
                     THEN 'lab_report_' || CAST(doc_id AS VARCHAR) || '.txt'
                     ELSE 'notes_' || CAST(doc_id AS VARCHAR) || '.txt' END
         END AS name,
         CAST(octet_length(encode(text)) AS BIGINT) AS size
  FROM documents WHERE doc_id % 5 = 0 AND text IS NOT NULL),
entries AS (
  SELECT *, folder || '/' || name AS entry_path FROM base),
ids AS (
  SELECT *, CAST(row_number() OVER (ORDER BY zip_id, entry_path)
                 AS BIGINT) AS id
  FROM entries),
routed AS (
  SELECT *, CASE WHEN lower(folder) IN
    ('reports','lab_docs','referee_result','payment_docs','challan_docs')
    THEN lower(folder) END AS folder_field
  FROM ids),
assigned AS (
  SELECT folder_field AS field, id, size, name
  FROM routed WHERE folder_field IS NOT NULL
  UNION ALL
  SELECT k.field, r.id, r.size, r.name
  FROM routed r
  JOIN (VALUES
    ('reports', 'report|rpt|analysis|summary|result'),
    ('lab_docs', 'lab|test|analysis|sample'),
    ('referee_result', 'referee|ref|audit|verification|check'),
    ('payment_docs', 'payment|pay|invoice|bill|receipt|financial'),
    ('challan_docs', 'challan|delivery|transport|dispatch|shipping')
  ) k(field, pat) ON regexp_matches(lower(r.name), k.pat)
  WHERE r.folder_field IS NULL)
SELECT field,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(size) AS BIGINT) AS total_bytes,
       CAST(sum(CASE WHEN name LIKE '%.pdf' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pdf,
       string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS id_list
FROM assigned GROUP BY field
""",
    doc="S9/A5 hash gate (VERDICT r10 task 2 — the last §2 source "
        "without one): documents are packed into 6 REAL foldered zip "
        "archives (folders 'Reports'/'lab_docs'/'misc'/'stuff', plus "
        "planted __MACOSX/AppleDouble/.DS_Store junk and a same-zip "
        "duplicate entry), then read back through media_files — "
        "hygiene filter (P9), entry dedup (A4), dense upload ids, "
        "case-insensitive folder routing with keyword-classification "
        "fallback (J8), MIME typing (F15) — and aggregated per media "
        "field with the sorted id list (A5 per-field grouping). Any "
        "routing, hygiene, dedup, id-assignment or MIME drift breaks "
        "a value. The oracle rebuilds the same entries relationally "
        "from the parquet. Reference: extractAndProcessMediaZip "
        "csv-import.js:931-1137 (folder routing :1040-1105, keyword "
        "table :1143-1149).",
)
def zip_media_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile

    from advanced_strapi_import_spark.sources.zip_source import media_files

    docs = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 5 == 0) & F.col("text").isNotNull())
        .select(
            "doc_id",
            (F.col("doc_id") % 6).alias("zip_id"),
            F.element_at(
                F.array(F.lit("Reports"), F.lit("lab_docs"),
                        F.lit("misc"), F.lit("stuff")),
                (F.col("doc_id") % 4).cast("int") + 1,
            ).alias("folder"),
            "text",
        )
        .withColumn(
            "name",
            F.when(F.col("doc_id") % 4 == 0,
                   F.concat(F.lit("doc"), F.col("doc_id"), F.lit(".pdf")))
            .when(F.col("doc_id") % 4 == 1,
                  F.concat(F.lit("x"), F.col("doc_id"), F.lit(".png")))
            .when(F.col("doc_id") % 4 == 2,
                  F.concat(F.lit("invoice_"), F.col("doc_id"),
                           F.lit(".pdf")))
            .when(F.col("doc_id") % 8 == 3,
                  F.concat(F.lit("lab_report_"), F.col("doc_id"),
                           F.lit(".txt")))
            .otherwise(F.concat(F.lit("notes_"), F.col("doc_id"),
                                F.lit(".txt"))),
        )
    )
    d = tempfile.mkdtemp(prefix="zip_route_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)

    def pack(key, pdf):
        import os as _os
        import uuid as _uuid
        import zipfile as _zf

        import pandas as pd

        zid = int(key[0])
        tmp = _os.path.join(d, f"part{zid}.zip.{_uuid.uuid4().hex}.tmp")
        final = _os.path.join(d, f"part{zid}.zip")
        ordered = pdf.sort_values("doc_id")
        with _zf.ZipFile(tmp, "w", _zf.ZIP_DEFLATED) as z:
            for _, r in ordered.iterrows():
                path = f"{r['folder']}/{r['name']}"
                payload = str(r["text"]).encode("utf-8")
                z.writestr(path, payload)
                if int(r["doc_id"]) % 40 == 0:
                    # same-zip duplicate entry: A4's dropDuplicates
                    # must collapse it (identical in every column)
                    z.writestr(path, payload)
            if zid == 0:
                # hygiene-filtered junk (P9): macOS resource forks,
                # AppleDouble siblings, Finder droppings — counted as
                # real media if the filter ever regresses
                z.writestr("__MACOSX/Reports/._junk1.pdf", b"x")
                z.writestr("Reports/._junk2.pdf", b"xx")
                z.writestr("Reports/.DS_Store", b"xxx")
        _os.replace(tmp, final)
        return pd.DataFrame({"zip_id": [zid], "n": [len(pdf)]})

    written = docs.groupBy("zip_id").applyInPandas(
        pack, "zip_id long, n long"
    )
    assert sum(r["n"] for r in written.collect()) > 0  # 6 rows
    routed = media_files(spark, os.path.join(d, "*.zip"))
    return routed.groupBy("field").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("size").cast("long").alias("total_bytes"),
        F.sum((F.col("mime") == "application/pdf").cast("long"))
        .cast("long").alias("n_pdf"),
        F.array_join(F.sort_array(F.collect_list("id")), ",")
        .alias("id_list"),
    )


@query(
    "orders_avro_logical_roundtrip",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) / 100.0
                     AS DECIMAL(14,2))) * 100 AS BIGINT) AS dec_cents,
       strftime(min(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS first_date,
       strftime(max(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS last_date,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS map_cents
FROM orders GROUP BY o_orderpriority
""",
    doc="Round-9 logical-type twin of orders_avro_roundtrip_agg: the "
        "value-checked gate now forces DECIMAL(14,2) (bytes-backed "
        "decimal logical type), DATE (int/date logical type) and a "
        "string-keyed MAP column through the avro_py sink and back "
        "through byte-range-split reads on every run. The decimal "
        "column is built from exact integer cents (cents/100.0 cast "
        "to DECIMAL — the double is within 1e-9 of the true "
        "2-decimal value so the cast rounds identically on both "
        "engines), summed AFTER the Avro round trip and re-expressed "
        "as cents for a hash-stable BIGINT; dates aggregate to "
        "min/max formatted strings; the map column carries the cents "
        "under key 'c' and is summed back out via element_at. Any "
        "drift in the two's-complement unscaled-int encoding, the "
        "epoch-days encoding, or the map block framing breaks a "
        "column. Oracle aggregates the original parquet directly.",
)
def orders_avro_logical_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import atexit
    import glob as globmod
    import os
    import shutil
    import tempfile

    from advanced_strapi_import_spark.sources.avro_datasource import (
        register_avro_datasource,
    )

    register_avro_datasource(spark)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.to_date(F.col("o_orderdate")).alias("odate"),
    ).select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("CAST(cents / 100.0 AS DECIMAL(14,2))").alias("price_dec"),
        "odate",
        F.create_map(F.lit("c"), F.col("cents")).alias("m"),
    )
    d = tempfile.mkdtemp(prefix="avro_lrt_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    out = os.path.join(d, "orders")
    # 8-way write + 4 splits per file: same reasoning as
    # orders_avro_roundtrip_agg (single-split scan would serialize the
    # whole logical-type encode in one Python worker)
    o.repartition(8).write.format("avro_py").option(
        "path", out
    ).mode("overwrite").save()
    size = sum(
        os.path.getsize(p) for p in globmod.glob(out + "/part-*.avro")
    )
    back = (
        spark.read.format("avro_py")
        .option("path", out + "/part-*.avro")
        .option("target_partition_bytes", str(max(1, size // 32)))
        .load()
    )
    return back.groupBy(F.col("o_orderpriority")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("price_dec") * 100).cast("long").alias("dec_cents"),
        F.date_format(F.min("odate"), "yyyy-MM-dd").alias("first_date"),
        F.date_format(F.max("odate"), "yyyy-MM-dd").alias("last_date"),
        F.sum(F.element_at(F.col("m"), "c")).cast("long").alias("map_cents"),
    )
