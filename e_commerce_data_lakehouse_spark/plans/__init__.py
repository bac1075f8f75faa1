"""Pipeline-composition layer (SURVEY §7.1 item 5): medallion stages."""

from e_commerce_data_lakehouse_spark.plans.medallion import (
    StageResult,
    bronze_to_silver,
    gold_daily_rollup,
    ingest_raw_to_bronze,
    silver_to_gold_star,
)

__all__ = [
    "StageResult",
    "bronze_to_silver",
    "gold_daily_rollup",
    "ingest_raw_to_bronze",
    "silver_to_gold_star",
]
