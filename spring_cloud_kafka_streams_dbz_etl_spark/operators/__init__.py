"""Composable batch operators (DataFrame -> DataFrame).

Each operator is a pure function over DataFrames so Catalyst sees one fused
logical plan — filters push into scans, projections prune columns, joins get
broadcast/AQE treatment — rather than materialized intermediate steps.
"""

from .relational import (
    enrich_join,
    latest_by_key,
    project_with_defaults,
    rekey,
    top_k,
)

__all__ = [
    "enrich_join",
    "latest_by_key",
    "project_with_defaults",
    "rekey",
    "top_k",
]
