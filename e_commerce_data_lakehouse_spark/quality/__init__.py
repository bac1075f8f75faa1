"""Quality layer (SURVEY §5): assertable data-quality checks."""

from e_commerce_data_lakehouse_spark.quality.checks import (
    CheckResult,
    retention_from_counts,
    uniqueness,
)

__all__ = [
    "CheckResult",
    "retention_from_counts",
    "uniqueness",
]
