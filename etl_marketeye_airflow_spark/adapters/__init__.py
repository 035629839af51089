"""Per-source raw→master-schema projections (P1-P3 in SURVEY.md §2.2).

Each adapter is a pure DataFrame transform: raw source DF in, master-schema
DF out (one product row per raw record, single-offer array).  All logic is
Column expressions from ``functions/`` — the whole projection stays inside
whole-stage codegen.
"""

from .avito import transform_avito
from .jumia import transform_jumia
from .electroplanet import transform_electroplanet
from ..schemas import AVITO_RAW_SCHEMA, ELECTROPLANET_RAW_SCHEMA, JUMIA_RAW_SCHEMA

# One entry per source, in union order (avito, jumia, electroplanet): the
# merge is last-write-wins, so batch and streaming must both follow it.
ADAPTERS = {
    "avito": transform_avito,
    "jumia": transform_jumia,
    "electroplanet": transform_electroplanet,
}
RAW_SCHEMAS = {
    "avito": AVITO_RAW_SCHEMA,
    "jumia": JUMIA_RAW_SCHEMA,
    "electroplanet": ELECTROPLANET_RAW_SCHEMA,
}

__all__ = ["ADAPTERS", "RAW_SCHEMAS", "transform_avito", "transform_electroplanet", "transform_jumia"]
