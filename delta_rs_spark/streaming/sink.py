"""Exactly-once streaming sink: foreachBatch → transactional Delta append.

The idempotency protocol is the reference's ``txn`` watermark
(``rust/src/delta.rs:863-866,1437-1442`` and writer surface
``rust/src/writer.rs:55-58``): every micro-batch commit carries
``txn {appId, version: epochId}``; on retry/restart a batch whose epochId is
≤ the recorded watermark is skipped, so each batch lands exactly once no
matter how many times Structured Streaming replays it.

Usage::

    sink = ExactlyOnceDeltaSink(table_uri, app_id="my-query")
    (df.writeStream.foreachBatch(sink).option("checkpointLocation", ...).start())
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame


def _commit_identity(table) -> Optional[tuple[int, float]]:
    """Size and mtime of the commit file ``table`` is loaded at; None when
    that file is gone."""
    log = table.log
    try:
        head = log.backend.head_obj(log.commit_path(table.version))
    except FileNotFoundError:
        return None
    return head.size, head.modification_time


class ExactlyOnceDeltaSink:
    def __init__(
        self,
        table_uri: str,
        app_id: str,
        partition_by: Optional[list[str]] = None,
        output_mode: str = "Append",
    ):
        self.table_uri = table_uri
        self.app_id = app_id
        self.partition_by = partition_by
        self.output_mode = output_mode
        # observability for tests/metrics — bounded to the newest entries
        # (a long-running replay-heavy stream must not grow driver memory)
        self.skipped_epochs: list[int] = []
        self.skipped_epoch_count: int = 0
        # cached table handle: loaded once and incrementally advanced
        # (`update()` applies only the commits newer than the loaded
        # snapshot), so the per-batch watermark check costs log I/O ∝ new
        # commits, not checkpoint + tail. A restart builds a fresh sink →
        # fresh replay.
        self._table = None
        self._table_head = None  # _commit_identity of the cached handle

    _SKIP_LOG_CAP = 64

    def _refresh_table(self):
        """Cached handle: full log replay on first use, incremental apply
        of new commits afterwards. Raises NotATableError until the table
        exists (first batch creates it). The handle is trusted only while
        the commit file it was loaded at is still the same file: a table
        deleted (or deleted and recreated) underneath it, or an incremental
        apply that fails, drops the handle and replays the log afresh, so a
        missing table takes the NotATableError path again."""
        from ..table import DeltaTable

        table, self._table = self._table, None
        head = self._table_head
        if table is not None and head is not None and _commit_identity(table) == head:
            try:
                table.update()
            except Exception:
                table = None
        else:
            table = None
        if table is None:
            table = DeltaTable(self.table_uri)
        self._table, self._table_head = table, _commit_identity(table)
        return table

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from ..protocol.actions import TxnAction
        from ..protocol.snapshot import NotATableError
        from ..writer import write_deltalake

        try:
            table = self._refresh_table()
            last = table.get_app_transaction_version(self.app_id)
            if last is not None and epoch_id <= last:
                self.skipped_epoch_count += 1
                self.skipped_epochs.append(epoch_id)
                del self.skipped_epochs[: -self._SKIP_LOG_CAP]
                return
        except NotATableError:
            pass  # first batch creates the table

        mode = "overwrite" if self.output_mode.lower() == "complete" else "append"
        write_deltalake(
            batch_df.sparkSession if hasattr(batch_df, "sparkSession") else batch_df.sql_ctx.sparkSession,
            batch_df,
            self.table_uri,
            mode=mode,
            partition_by=self.partition_by,
            extra_actions=[TxnAction(app_id=self.app_id, version=epoch_id)],
            operation="STREAMING UPDATE",
            operation_parameters_extra={
                "outputMode": self.output_mode,
                "queryId": self.app_id,
                "epochId": str(epoch_id),
            },
        )


class UpsertDeltaSink:
    """Exactly-once streaming UPSERT sink: foreachBatch → MERGE.

    The streaming half of a CDC pipeline: each micro-batch merges into the
    target on ``condition`` (update matched, insert new), and the ``txn``
    watermark rides IN the merge commit, so a replayed batch is skipped —
    the same idempotency protocol as the append sink, now with update
    semantics. The first batch creates the table.

    Usage::

        sink = UpsertDeltaSink(uri, condition="t.id = s.id", app_id="q1")
        df.writeStream.foreachBatch(sink).option("checkpointLocation", ...).start()
    """

    def __init__(
        self,
        table_uri: str,
        condition: str,
        app_id: str,
        when_matched_update: Optional[dict] = None,
        partition_by: Optional[list[str]] = None,
        dedupe_keys: Optional[list[str]] = None,
        order_col: Optional[str] = None,
    ):
        self.table_uri = table_uri
        self.condition = condition
        self.app_id = app_id
        self.when_matched_update = when_matched_update
        self.partition_by = partition_by
        # CDC micro-batches routinely carry several changes for ONE key; a
        # multi-row key would either trip MERGE's multi-match guard (query
        # fails permanently — the batch replays identically) or land
        # duplicate rows via the insert path. dedupe_keys collapses the
        # batch to its latest row per key first — ordered by order_col (a
        # CDC sequence/timestamp) when given, else by the greatest struct
        # of the remaining columns (arbitrary but deterministic, so batch
        # replays pick the same survivor).
        self.dedupe_keys = dedupe_keys
        self.order_col = order_col
        # bounded like ExactlyOnceDeltaSink's (lag telemetry, not a log)
        self.skipped_epochs: list[int] = []
        self.skipped_epoch_count: int = 0
        # cached handle, same per-batch log-I/O rationale as the append sink
        self._table = None
        self._table_head = None

    _SKIP_LOG_CAP = 64

    _refresh_table = ExactlyOnceDeltaSink._refresh_table

    def _collapse(self, batch_df: DataFrame) -> DataFrame:
        if not self.dedupe_keys:
            return batch_df
        from pyspark.sql import functions as F

        others = [c for c in batch_df.columns if c not in self.dedupe_keys]
        order = (
            F.col(self.order_col)
            if self.order_col
            else F.struct(*[F.col(c) for c in others])
        )
        picked = batch_df.groupBy(*self.dedupe_keys).agg(
            F.max_by(F.struct(*[F.col(c) for c in others]), order).alias("_r")
        )
        return picked.select(
            *self.dedupe_keys, *[F.col(f"_r.{c}").alias(c) for c in others]
        ).select(*batch_df.columns)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        from ..dml import merge
        from ..protocol.actions import TxnAction
        from ..protocol.snapshot import NotATableError
        from ..writer import write_deltalake

        spark = (
            batch_df.sparkSession
            if hasattr(batch_df, "sparkSession")
            else batch_df.sql_ctx.sparkSession
        )
        batch_df = self._collapse(batch_df)
        txn = TxnAction(app_id=self.app_id, version=epoch_id)
        try:
            table = self._refresh_table()
        except NotATableError:
            write_deltalake(
                spark,
                batch_df,
                self.table_uri,
                partition_by=self.partition_by,
                extra_actions=[txn],
                operation="STREAMING UPDATE",
                operation_parameters_extra={
                    "outputMode": "Update",
                    "queryId": self.app_id,
                    "epochId": str(epoch_id),
                },
            )
            return
        last = table.get_app_transaction_version(self.app_id)
        if last is not None and epoch_id <= last:
            self.skipped_epoch_count += 1
            self.skipped_epochs.append(epoch_id)
            del self.skipped_epochs[: -self._SKIP_LOG_CAP]
            return
        merge(
            spark,
            table,
            batch_df,
            self.condition,
            when_matched_update=self.when_matched_update,
            extra_actions=[txn],
        )
