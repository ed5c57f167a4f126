from .dedup import dedup_latest
from .incremental import incremental_merge
from .quality import (
    expect_empty,
    orphan_rows,
    violations_duplicate_key,
    violations_non_positive,
    violations_null,
)
from .scd2 import scd2_apply, scd2_from_change_log
from .windows import sessionize, top_k_per_group, zscore_anomalies

__all__ = [
    "dedup_latest",
    "incremental_merge",
    "scd2_apply",
    "scd2_from_change_log",
    "expect_empty",
    "orphan_rows",
    "violations_duplicate_key",
    "violations_null",
    "violations_non_positive",
    "top_k_per_group",
    "sessionize",
    "zscore_anomalies",
]
