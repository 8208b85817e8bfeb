"""Lakehouse table-format layer: catalog, multi-version tables,
metadata views, and maintenance procedures (SURVEY.md §2.9-§2.10)."""

from .catalog import CatalogError, Lakehouse
from .catalog_refs import CatalogRefError, CatalogRefs
from .fs import (
    ArbitratedFileIO,
    FileIO,
    FlockMutex,
    HadoopFileIO,
    LocalFileIO,
)
from .log import CommitConflictError, FileInfo, LogEntry, TransactionLog
from .maintenance import (
    MaintenanceError,
    add_files,
    cherrypick_snapshot,
    expire_snapshots,
    merge_branch,
    publish_changes,
    rebase_branch,
    remove_orphan_files,
    rewrite_data_files,
    rewrite_equality_deletes,
    rewrite_manifests,
    rewrite_position_deletes,
    rollback_to_snapshot,
    rollback_to_timestamp,
    set_current_snapshot,
)
from .sql import LakehouseSQL, SqlError
from .transaction import Transaction, TransactionError
from .table import LakehouseTable

__all__ = [
    "ArbitratedFileIO",
    "FlockMutex",
    "CatalogError",
    "CatalogRefError",
    "CatalogRefs",
    "FileIO",
    "HadoopFileIO",
    "LocalFileIO",
    "CommitConflictError",
    "LakehouseSQL",
    "SqlError",
    "FileInfo",
    "Lakehouse",
    "LakehouseTable",
    "LogEntry",
    "MaintenanceError",
    "TransactionLog",
    "add_files",
    "expire_snapshots",
    "remove_orphan_files",
    "rewrite_data_files",
    "rewrite_equality_deletes",
    "rewrite_manifests",
    "rewrite_position_deletes",
    "rollback_to_snapshot",
    "rollback_to_timestamp",
    "set_current_snapshot",
    "cherrypick_snapshot",
    "merge_branch",
    "rebase_branch",
    "publish_changes",
    "Transaction",
    "TransactionError",
]
