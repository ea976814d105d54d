"""Destination-table sinks (SURVEY §2.1 S11-S13)."""

from .append_sink import append_with_schema_evolution, create_if_not_exists, read_sink
from .merge_sink import merge_upsert

__all__ = [
    "append_with_schema_evolution",
    "create_if_not_exists",
    "read_sink",
    "merge_upsert",
]
