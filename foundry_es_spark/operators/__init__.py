"""CDC core operators (SURVEY.md §2.2, C1–C8)."""

from foundry_es_spark.operators.cdc import (
    compact_latest_patch,
    reharvest_diff_events,
    suppress_unchanged,
    snapshot_diff_events,
    validate_split,
)

__all__ = [
    "compact_latest_patch",
    "reharvest_diff_events",
    "suppress_unchanged",
    "snapshot_diff_events",
    "validate_split",
]
