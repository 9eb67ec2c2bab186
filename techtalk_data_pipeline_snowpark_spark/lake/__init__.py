from .changefeed import ChangeBatch, ChangelogCursor, CursorConflict
from .ivm import IncrementalAggView, IncrementalDistinctView, IncrementalHllView
from .ivm_join import IncrementalJoinView
from .merge import delete, merge_into, mor_delete_keys, update
from .store import FakeObjectStore, PosixStore, TableStore
from .table import CommitResult, ConcurrentCommitError, LakeTable, Snapshot, bucket_expr
from .views import ViewCatalog

__all__ = [
    "ChangeBatch",
    "ChangelogCursor",
    "CursorConflict",
    "IncrementalAggView",
    "IncrementalDistinctView",
    "IncrementalHllView",
    "IncrementalJoinView",
    "TableStore",
    "PosixStore",
    "FakeObjectStore",
    "ViewCatalog",
    "CommitResult",
    "ConcurrentCommitError",
    "LakeTable",
    "Snapshot",
    "bucket_expr",
    "delete",
    "merge_into",
    "mor_delete_keys",
    "update",
]
