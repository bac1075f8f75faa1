"""Table registry: logical table name -> physical parquet location.

The reference addresses every table by a hard-coded ``s3a://`` path spread
across 33 scripts (e.g. ``csv_to_deltalake_table.py:637``,
``create_global_dw.py:31-52``).  The engine replaces that with one registry so
pipelines compose on names, and the physical root can be swapped
(testdata parquet locally, object storage on a cluster) without touching any
operator code.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

# The driver-generated benchmark tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class TableSpec:
    name: str
    path: str


class Catalog:
    """Name -> TableSpec registry; tables are parquet."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tables: dict[str, TableSpec] = {}

    def register(self, spec: TableSpec) -> None:
        self._tables[spec.name] = spec

    def load(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._tables[name].path)


def testdata_catalog(spark: SparkSession, sf_dir: str) -> Catalog:
    """Catalog over one driver-generated scale-factor directory."""
    cat = Catalog(spark)
    for name in TESTDATA_TABLES:
        cat.register(TableSpec(name=name, path=f"{sf_dir}/{name}.parquet"))
    return cat

