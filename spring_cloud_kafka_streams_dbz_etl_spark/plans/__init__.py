"""Plan inspection: assert the physical plan is the one you'd want at scale.

Catalyst gives pushdown/pruning/broadcast for free *if* the query is
declared well — these helpers make that a testable property instead of a
hope. Used by tests/test_plans.py to pin:
- parquet filter pushdown (PushedFilters non-empty)
- column pruning (ReadSchema only carries what's selected)
- broadcast joins where a dimension is joined
"""

from .inspect import (
    explain_str,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
)

__all__ = [
    "explain_str",
    "has_broadcast_join",
    "pushed_filters",
    "read_schema_columns",
]
