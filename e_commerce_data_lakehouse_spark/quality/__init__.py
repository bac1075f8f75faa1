"""Quality layer (SURVEY §5): assertable data-quality checks."""

from e_commerce_data_lakehouse_spark.quality.checks import (
    CheckResult,
    extraction_coverage,
    null_counts,
    retention_from_counts,
    retention_rate,
    run_all,
    sentinel_share,
    uniqueness,
    value_ranges,
)

__all__ = [
    "CheckResult",
    "extraction_coverage",
    "null_counts",
    "retention_from_counts",
    "retention_rate",
    "run_all",
    "sentinel_share",
    "uniqueness",
    "value_ranges",
]
