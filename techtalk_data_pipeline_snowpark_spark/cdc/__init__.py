from .dedup import dedup_latest, dedup_latest_window
from .engine import CdcEngine, EpochAuditError, EpochResult
from .multitable import MultiTableCdcEngine, TableRoute
from .schema_evolution import SchemaEvolutionError, reconcile

__all__ = [
    "CdcEngine",
    "EpochAuditError",
    "EpochResult",
    "MultiTableCdcEngine",
    "SchemaEvolutionError",
    "TableRoute",
    "dedup_latest",
    "dedup_latest_window",
    "reconcile",
]
