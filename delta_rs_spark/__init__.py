"""delta_rs_spark — a PySpark-native Delta-protocol engine.

Layer 1 (protocol, driver-side Python): transaction-log replay, snapshots,
time travel, partition/stats file pruning, optimistic-concurrency commits,
checkpoints, vacuum — the capabilities of delta-rs v0 re-expressed for Spark.

Layer 2 (data plane, Spark): the snapshot's file list becomes one DataFrame;
every relational operator (joins, windows, aggregation, SQL) is Catalyst's.

Plus `operators/`: DataFrame operators for training-data pipelines (dedup,
similarity top-k, text and corpus statistics, sampling), outside the
certified catalog.
"""

from .cdf import cdf_enabled, load_cdf
from .dml import DMLError, delete, merge, update
from .ingest import CopyIntoError, copy_into
from .json_writer import BufferedJsonWriter
from .protocol.log import DeltaLog
from .protocol.snapshot import DeltaTableError, NotATableError, Snapshot
from .session import get_spark
from .sql import sql
from .table import DeltaTable
from .transactions import (
    ConcurrentAppendError,
    ConcurrentDeleteDeleteError,
    ConcurrentDeleteReadError,
    ConcurrentModificationError,
    ConcurrentTransactionError,
    MetadataChangedError,
    ProtocolChangedError,
    TransactionError,
)
from .uniform import convert_iceberg_to_delta
from .writer import (
    SchemaMismatchError,
    TableAlreadyExistsError,
    convert_to_delta,
    write_deltalake,
)

__version__ = "0.1.0"

__all__ = [
    "DeltaTable",
    "DeltaLog",
    "Snapshot",
    "DeltaTableError",
    "NotATableError",
    "SchemaMismatchError",
    "TableAlreadyExistsError",
    "write_deltalake",
    "convert_to_delta",
    "convert_iceberg_to_delta",
    "delete",
    "update",
    "merge",
    "DMLError",
    "load_cdf",
    "cdf_enabled",
    "copy_into",
    "CopyIntoError",
    "get_spark",
    "sql",
    "TransactionError",
    "ConcurrentModificationError",
    "ConcurrentAppendError",
    "ConcurrentDeleteReadError",
    "ConcurrentDeleteDeleteError",
    "ConcurrentTransactionError",
    "MetadataChangedError",
    "ProtocolChangedError",
    "__version__",
]
