from .tables import TABLE_NAMES, load_table, register_views
from .cdc_gen import envelopes_from_events

__all__ = [
    "TABLE_NAMES",
    "load_table",
    "register_views",
    "envelopes_from_events",
]
