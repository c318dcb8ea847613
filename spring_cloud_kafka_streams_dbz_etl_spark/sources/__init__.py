"""Sources: CDC envelope synthesis/parsing + Kafka source builders."""

from .cdc import EVENTS_ENTITY, ORDERS_ENTITY, EntitySpec, parse_envelopes, synthesize_envelopes

__all__ = [
    "EVENTS_ENTITY",
    "ORDERS_ENTITY",
    "EntitySpec",
    "parse_envelopes",
    "synthesize_envelopes",
]
