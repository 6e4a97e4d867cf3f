"""ZIP binary source — SURVEY.md §2.1 S8/S9, §2.2 P9, §2.4 A4.

The reference unzips archives on the web server and uploads each entry
to the media library (extractAndUploadZip /root/reference/server/
services/csv-import.js:808-926; foldered variant
extractAndProcessMediaZip :931-1137). Spark-first shape:

    spark.read.format("binaryFile")  ->  one row per zip archive
      mapInPandas(unzip)             ->  one row per zip ENTRY
      filter(path hygiene)           ->  P9: __MACOSX/._*/dotfiles out
      dropDuplicates(name, path)     ->  A4 upload-dedup cache
      withColumn(mime/field/...)     ->  F15 MIME + S9 folder routing

Each archive is unpacked by exactly one task, so a directory of zips
fans out across the cluster; entry *content* is only materialized when
``include_content=True`` (metadata-only by default keeps the exchange
small)."""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from advanced_strapi_import_spark.operators.media import (
    FIELD_KEYWORDS,
    classify_files,
    mime_type,
)

_ENTRY_SCHEMA = T.StructType(
    [
        T.StructField("zip_path", T.StringType()),
        T.StructField("entry_path", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("folder", T.StringType()),
        T.StructField("size", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def zip_entries(
    spark: SparkSession, path: str, *, include_content: bool = False
) -> DataFrame:
    """S8: one row per non-directory zip entry across all archives in
    ``path`` (glob ok). An unreadable archive fails the job with
    ``zipfile.BadZipFile``: uploads are outside input."""

    def unzip(batches) -> Iterator:
        import io
        import zipfile

        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in
                   ("zip_path", "entry_path", "name", "folder", "size", "content")}
            for zp, content in zip(pdf["path"], pdf["content"]):
                with zipfile.ZipFile(io.BytesIO(content)) as zf:
                    for info in zf.infolist():
                        if info.is_dir():
                            continue
                        parts = info.filename.split("/")
                        out["zip_path"].append(zp)
                        out["entry_path"].append(info.filename)
                        out["name"].append(parts[-1])
                        out["folder"].append(parts[-2] if len(parts) > 1 else "")
                        out["size"].append(info.file_size)
                        out["content"].append(
                            zf.read(info) if include_content else None
                        )
            yield pd.DataFrame(out)

    raw = spark.read.format("binaryFile").load(path)
    return raw.select("path", "content").mapInPandas(unzip, _ENTRY_SCHEMA)


def hygiene_filter(entries: DataFrame) -> DataFrame:
    """P9 (csv-import.js:966-969, 1047-1051): drop __MACOSX trees,
    AppleDouble ._ files, dotfiles and .DS_Store."""
    return entries.filter(
        ~F.col("entry_path").contains("__MACOSX")
        & ~F.col("name").startswith("._")
        & ~F.col("name").startswith(".")
    )


def media_files(
    spark: SparkSession,
    path: str,
    *,
    media_fields: list[str] | None = None,
    include_content: bool = False,
) -> DataFrame:
    """S9: hygiene-filtered, deduped entries routed to media fields.

    Routing (csv-import.js:1040-1105): if the entry's folder name equals
    a media field (case-insensitive), route there; otherwise classify by
    filename keywords (J8). Adds a deterministic ``id`` (dense rank over
    entry path) standing in for the upload-service id."""
    ent = hygiene_filter(zip_entries(spark, path, include_content=include_content))
    ent = ent.dropDuplicates(["name", "entry_path"])  # A4
    ent = ent.withColumn("mime", mime_type(F.col("name")))
    from pyspark.sql.window import Window

    ent = ent.withColumn(
        "id", F.row_number().over(Window.orderBy("zip_path", "entry_path"))
    )

    fields = media_fields or list(FIELD_KEYWORDS)
    folder_routed = ent.withColumn(
        "field",
        F.when(F.lower(F.col("folder")).isin([f.lower() for f in fields]),
               F.lower(F.col("folder"))),
    )
    by_folder = folder_routed.filter(F.col("field").isNotNull())
    unrouted = folder_routed.filter(F.col("field").isNull()).drop("field")
    by_keyword = classify_files(unrouted, name_col="name")
    return by_folder.unionByName(by_keyword)
