from w_userflow_featurestore_spark.sources.parquet import (
    read_table,
    read_path,
    is_written,
    fan_out,
    write_partitioned,
    overwrite_partitions,
    write_bucketed,
    merge_upsert,
    compact_partitions,
)
from w_userflow_featurestore_spark.sources.lakehouse import (
    LogTable,
    BrokenLineageError,
    ConcurrentCommitError,
    Snapshot,
)
from w_userflow_featurestore_spark.sources.layout import (
    zorder,
    zorder_key,
)

__all__ = ["read_table", "read_path", "is_written", "fan_out", "write_partitioned",
           "overwrite_partitions", "write_bucketed", "merge_upsert",
           "compact_partitions", "LogTable", "BrokenLineageError",
           "ConcurrentCommitError", "Snapshot", "zorder", "zorder_key"]
