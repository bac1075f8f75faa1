"""Table registry: logical table name -> physical location/format.

The reference addresses every table by a hard-coded ``s3a://`` path spread
across 33 scripts (e.g. ``csv_to_deltalake_table.py:637``,
``create_global_dw.py:31-52``).  The engine replaces that with one registry so
pipelines compose on names, and the physical root can be swapped
(testdata parquet locally, object storage on a cluster) without touching any
operator code.
"""

from __future__ import annotations

from dataclasses import dataclass, field

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
    format: str = "parquet"
    partition_by: tuple[str, ...] = ()
    options: dict[str, str] = field(default_factory=dict)


class Catalog:
    """Name -> TableSpec registry with read/write helpers."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._tables: dict[str, TableSpec] = {}

    def register(self, spec: TableSpec) -> None:
        self._tables[spec.name] = spec

    def spec(self, name: str) -> TableSpec:
        return self._tables[name]

    def __contains__(self, name: str) -> bool:
        return name in self._tables

    def load(self, name: str) -> DataFrame:
        spec = self._tables[name]
        reader = self.spark.read.format(spec.format)
        for k, v in spec.options.items():
            reader = reader.option(k, v)
        return reader.load(spec.path)

    def save(self, df: DataFrame, name: str, mode: str = "overwrite") -> None:
        spec = self._tables[name]
        writer = df.write.format(spec.format).mode(mode)
        if spec.partition_by:
            writer = writer.partitionBy(*spec.partition_by)
        for k, v in spec.options.items():
            writer = writer.option(k, v)
        writer.save(spec.path)

    def create_temp_views(self) -> None:
        """Register every table as a temp view for spark.sql() pipelines
        (the reference's SQL entry point, ``csv_bronze_to_silver.py:29-52``)."""
        for name in self._tables:
            self.load(name).createOrReplaceTempView(name)


def testdata_catalog(spark: SparkSession, sf_dir: str) -> Catalog:
    """Catalog over one driver-generated scale-factor directory."""
    cat = Catalog(spark)
    for name in TESTDATA_TABLES:
        cat.register(TableSpec(name=name, path=f"{sf_dir}/{name}.parquet"))
    return cat

