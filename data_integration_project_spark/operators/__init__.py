from . import (  # noqa: F401
    dedup,
    dwh,
    entity_rules,
    multimodal,
    quality,
    reconcile,
    similarity,
    sinks,
    skew,
    temporal,
)
