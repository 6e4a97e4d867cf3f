"""CSV scan — SURVEY.md §2.1 S1.

parseCsv (/root/reference/server/services/csv-import.js:35-46) streams a
CSV buffer into row objects: first line is the header, every value is a
string, empty lines are skipped, malformed quoting is tolerated
(tests/services/csv-import.test.js:378-386). The Spark equivalent is a
header-driven all-string schema-on-read scan in PERMISSIVE mode — typing
happens later in the validation operator, exactly like the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def csv_scan(
    spark: SparkSession,
    path: str,
    *,
    multi_line: bool = False,
    delimiter: str = ",",
    schema: StructType | None = None,
) -> DataFrame:
    """All-string, header-driven CSV read (the engine's S1).

    ``schema`` is the header schema of an earlier scan of the same file;
    given it, Spark skips the job that reads the header to infer one.
    ``enforceSchema=False`` still checks every file's header against it
    and fails the scan on a mismatch."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return (
        reader.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("inferSchema", False)   # all strings: schema-on-read
        .option("multiLine", multi_line)
        .option("sep", delimiter)
        .option("enforceSchema", False)
        .csv(path)
    )


def preview(df: DataFrame, n: int = 10) -> dict:
    """POST /preview analog (controllers/csv-import.js:89-128): headers +
    first n rows + total count (L2)."""
    return {
        "headers": df.columns,
        "rows": [r.asDict() for r in df.limit(n).collect()],
        "totalRows": df.count(),
    }
