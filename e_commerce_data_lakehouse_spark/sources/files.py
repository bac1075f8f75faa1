"""File sources: schema-bound CSV, lineage, derived partition columns.

Covers SURVEY §2.1 S6 and S20.  Reference behaviors re-expressed
Spark-first:

- S6 CSV with explicit schema (``csv_to_deltalake_table.py:236-268``): the
  reference disables ``inferSchema`` and binds a 22-field StructType — we keep
  schema-on-read explicit (an inference pass is a full extra scan at 100 TB).
- S20 lineage column (``csv_to_deltalake_table.py:271``).
- P8 derived partition columns with a fallback chain
  (``csv_to_deltalake_table.py:333-362``).

JSON and text-envelope reads are one ``spark.read`` call each and need no
wrapper: the ``envelope_parse`` query runs the double ``from_json`` parse
inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    paths: str | list[str],
    schema: StructType,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """S6: schema-bound CSV read (never inferSchema — that's an extra full
    scan of the dataset before the real one)."""
    reader = spark.read.schema(schema).option("header", str(header).lower())
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(paths)


def with_lineage(df: DataFrame) -> DataFrame:
    """S20: tag every row with its source file (audit/debug lineage)."""
    return df.withColumn("source_file", F.input_file_name())


def with_partition_columns(
    df: DataFrame, *ts_cols: str, prefix: str = ""
) -> DataFrame:
    """P8: derive y/m/d partition columns from the first non-null timestamp in
    the fallback chain (processing_date -> processing_timestamp ->
    current_date, ``csv_to_deltalake_table.py:333-362``)."""
    ts = F.coalesce(*[F.col(c) for c in ts_cols], F.current_date())
    return (
        df.withColumn(f"{prefix}year", F.year(ts))
        .withColumn(f"{prefix}month", F.month(ts))
        .withColumn(f"{prefix}day", F.dayofmonth(ts))
    )

