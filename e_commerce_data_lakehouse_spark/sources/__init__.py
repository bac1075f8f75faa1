"""Sources & sinks layer (SURVEY §2.1 S6-S20)."""

from e_commerce_data_lakehouse_spark.sources.files import (
    read_csv,
    with_lineage,
    with_partition_columns,
)
from e_commerce_data_lakehouse_spark.sources.incremental import (
    FileLedger,
    ingest_new_files,
)
from e_commerce_data_lakehouse_spark.sources.sinks import ManagedTable

__all__ = [
    "FileLedger",
    "ManagedTable",
    "ingest_new_files",
    "read_csv",
    "with_lineage",
    "with_partition_columns",
]
