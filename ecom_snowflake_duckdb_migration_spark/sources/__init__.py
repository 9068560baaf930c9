"""Sources and sinks: readers (S1-S3), writers/materialization (S4-S7, S9-S10,
S12), and incremental-load operators (S8, S11, A11)."""

from .compaction import (
    compact_cell_store,
    compact_parquet,
    consolidate_batch_store,
    parquet_file_stats,
    read_consolidated_floor,
)
from .readers import (
    flatten_json_columns,
    read_csv,
    read_envelope_json,
    read_envelope_metadata,
    read_jdbc,
)
from .snapshot import CommitConflict, Snapshot, SnapshotTable
from .sync import SyncTarget, sync_to_targets, verify_targets
from .upsert import (
    align_union,
    backfill_id_column,
    dedup_keep_newest,
    incremental_filter,
    relationships_check,
    upsert_delete_insert,
    upsert_parquet,
)
from .writers import (
    create_typed_table,
    create_view,
    describe_catalog,
    overwrite_parquet,
    write_csv_with_metadata,
    write_envelope_json,
    write_jdbc,
    write_table,
)

__all__ = [
    "CommitConflict",
    "SyncTarget",
    "sync_to_targets",
    "verify_targets",
    "Snapshot",
    "SnapshotTable",
    "align_union",
    "backfill_id_column",
    "compact_cell_store",
    "compact_parquet",
    "consolidate_batch_store",
    "read_consolidated_floor",
    "create_typed_table",
    "create_view",
    "dedup_keep_newest",
    "describe_catalog",
    "flatten_json_columns",
    "incremental_filter",
    "overwrite_parquet",
    "parquet_file_stats",
    "read_csv",
    "read_envelope_json",
    "read_envelope_metadata",
    "read_jdbc",
    "relationships_check",
    "upsert_delete_insert",
    "upsert_parquet",
    "write_csv_with_metadata",
    "write_envelope_json",
    "write_jdbc",
    "write_table",
]
