from .base import (
    VIOLATION_SCHEMA,
    VERDICT_SCHEMA,
    CheckResult,
    partition_row_counts,
    shape_violations,
)
from .core import (
    check_domain,
    check_labels,
    check_required,
    check_schema,
    check_unique,
    duplicate_keys,
    schema_violations_df,
)
from .referential import (
    UnmatchedError,
    ambiguous_keys,
    check_referential,
    unmatched_rows,
)
from .drift import (
    check_quantile_drift,
    quantile_drift,
)
from .stats import (
    column_stats,
    distinct_sketches,
    numeric_quantiles,
    sketch_distinct_estimates,
    union_distinct_sketches,
)

__all__ = [
    "VIOLATION_SCHEMA",
    "VERDICT_SCHEMA",
    "CheckResult",
    "partition_row_counts",
    "shape_violations",
    "check_domain",
    "check_labels",
    "check_required",
    "check_schema",
    "check_unique",
    "duplicate_keys",
    "schema_violations_df",
    "UnmatchedError",
    "ambiguous_keys",
    "check_referential",
    "unmatched_rows",
    "column_stats",
    "distinct_sketches",
    "union_distinct_sketches",
    "numeric_quantiles",
    "sketch_distinct_estimates",
    "quantile_drift",
    "check_quantile_drift",
]
