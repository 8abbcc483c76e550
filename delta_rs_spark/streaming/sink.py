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
        configuration: Optional[dict] = None,
    ):
        self.table_uri = table_uri
        self.app_id = app_id
        self.partition_by = partition_by
        self.output_mode = output_mode
        # applied when the FIRST batch creates the table (e.g. CDF on, so
        # downstream incremental consumers can fold the stream's commits)
        self.configuration = configuration
        # observability for tests/metrics — bounded to the newest entries
        # (a long-running replay-heavy stream must not grow driver memory)
        self.skipped_epochs: list[int] = []
        self.skipped_epoch_count: int = 0
        # cached table handle (round 12, guide §6): the watermark check and
        # the index-refresh half each re-replayed the log from scratch every
        # micro-batch; the handle is now loaded once and incrementally
        # advanced (`update()` applies only the commits newer than the
        # loaded snapshot), so per-batch log I/O is ∝ new commits, not
        # checkpoint + tail. A restart builds a fresh sink → fresh replay.
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
            configuration=self.configuration,
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


class IndexMaintainingSink(ExactlyOnceDeltaSink):
    """Streaming ANN ingestion: exactly-once append of embedding batches
    to the corpus table, then an incremental PQ-index refresh in the SAME
    foreachBatch call — the thin wrapper that keeps a persisted
    `operators.similarity` index current as its corpus streams in.

    Composition of two independently-idempotent halves, so every
    restart/replay interleaving converges:

    - the corpus append carries the epoch ``txn`` watermark (inherited) —
      a replayed micro-batch is skipped;
    - `update_pq_index` carries its OWN watermark on the INDEX table,
      keyed by corpus version, and its refresh window is a per-id net
      fold — re-running a half-applied window is a no-op or an idempotent
      re-apply. A crash between append and refresh just widens the next
      call's CDF window (work stays ∝ what changed).

    The corpus table is created with CDF enabled (the refresh reads the
    change feed); pass ``n_list="auto"`` to give the index the sqrt-rule
    IVF tier at creation, and ``compact_threshold_files`` to bound the
    small-file count MERGE refreshes accumulate. ``last_refresh`` exposes
    the latest refresh metrics for monitoring (pair with
    `pq_index_drift` on the rebuild schedule).

    ``refresh_every_n`` decouples index freshness from batch latency: at
    high-rate streams a synchronous MERGE refresh per micro-batch would
    dominate the batch time, so with cadence N only epochs where
    ``epoch_id % N == 0`` pay the refresh — the decision is keyed on the
    deterministic epoch id, so replays agree with the original run. The
    skipped epochs are SAFE, not lost: the index watermark rides corpus
    versions, so the next refreshing epoch folds the whole accumulated
    CDF window (work stays ∝ what changed, it just arrives in fewer,
    larger MERGEs). Skipped epoch ids are recorded in
    ``skipped_refreshes`` for monitoring index lag — BOUNDED to the most
    recent ``_SKIP_LOG_CAP`` ids (a long-running stream with a large
    cadence would otherwise grow driver memory without limit);
    ``skipped_refresh_count`` keeps the lifetime total. After the final
    batch of a finite stream the index can lag behind the corpus until
    another on-cadence epoch arrives — call ``flush(spark)`` at stream
    shutdown to run the deferred refresh immediately (idempotent: the
    refresh window is watermark-driven, so flushing an already-current
    index is a no-op).

    Usage::

        sink = IndexMaintainingSink(corpus_uri, index_uri, app_id="ann")
        df.writeStream.foreachBatch(sink).option("checkpointLocation", ...).start()
    """

    def __init__(
        self,
        table_uri: str,
        index_uri: str,
        app_id: str,
        books: Optional[list] = None,
        n_list=None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        compact_threshold_files: Optional[int] = None,
        m: int = 16,
        k_codes: int = 16,
        refresh_every_n: int = 1,
        # None = update_pq_index's default rule: residual IVFADC when the
        # index trains its own books under an IVF tier, raw with explicit
        # (raw-domain) books or no tier
        residual: Optional[bool] = None,
    ):
        if refresh_every_n < 1:
            raise ValueError("refresh_every_n must be >= 1")
        super().__init__(
            table_uri,
            app_id,
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        self.index_uri = index_uri
        self.books = books
        self.n_list = n_list
        self.id_col = id_col
        self.vec_col = vec_col
        self.compact_threshold_files = compact_threshold_files
        self.m = m
        self.k_codes = k_codes
        self.refresh_every_n = refresh_every_n
        self.residual = residual
        self.last_refresh: Optional[dict] = None
        self.skipped_refreshes: list[int] = []
        self.skipped_refresh_count: int = 0

    # skipped_refreshes keeps only the newest this many epoch ids — lag
    # telemetry, not an audit log (the lifetime total is the counter)
    _SKIP_LOG_CAP = 64

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        super().__call__(batch_df, epoch_id)
        if self.refresh_every_n > 1 and epoch_id % self.refresh_every_n:
            # off-cadence epoch: append landed, refresh deferred — the next
            # on-cadence epoch's CDF window folds this one (watermark-safe)
            self.skipped_refresh_count += 1
            self.skipped_refreshes.append(epoch_id)
            del self.skipped_refreshes[: -self._SKIP_LOG_CAP]
            return
        spark = (
            batch_df.sparkSession
            if hasattr(batch_df, "sparkSession")
            else batch_df.sql_ctx.sparkSession
        )
        self.flush(spark)

    def flush(self, spark) -> dict:
        """Run the incremental index refresh NOW over whatever CDF window
        the corpus-version watermark leaves open. Called by every
        on-cadence epoch; call it yourself at stream shutdown so a finite
        stream ending on an off-cadence epoch doesn't leave the index
        lagging. Idempotent — a current index refreshes an empty window."""
        from ..operators.similarity import update_pq_index

        self.last_refresh = update_pq_index(
            spark,
            self._refresh_table(),
            self.index_uri,
            books=self.books,
            id_col=self.id_col,
            vec_col=self.vec_col,
            app_id=f"{self.app_id}-index",
            m=self.m,
            k_codes=self.k_codes,
            n_list=self.n_list,
            compact_threshold_files=self.compact_threshold_files,
            residual=self.residual,
        )
        return self.last_refresh


class SemanticIndexMaintainingSink(ExactlyOnceDeltaSink):
    """Streaming SEMANTIC-DEDUP ingestion: exactly-once append of embedding
    batches to the corpus table, then an incremental semantic-index
    refresh (`operators.dedup.update_semantic_index`) in the same
    foreachBatch call — the dedup twin of `IndexMaintainingSink`, with the
    identical idempotency composition:

    - the corpus append carries the epoch ``txn`` watermark (inherited) —
      a replayed micro-batch is skipped;
    - the refresh carries its OWN watermark on the index's pairs table,
      keyed by corpus version, and folds the CDF window per id — replays
      converge, crashes between append and refresh just widen the next
      window.

    Creation-time index knobs (``threshold`` / ``n_list`` / ``n_probe`` /
    ``collapse_exact`` / ``collapse_buckets`` / ``max_list_candidates``)
    apply when the FIRST refresh bootstraps the index; after that the
    stored invariants win, exactly as in the batch API. ``collapse_exact``
    matters doubly here: an ingestion stream is where boilerplate
    duplicate clusters actually arrive, and the collapsed index pays one
    keeper per distinct vector instead of a growing Θ(c²) pair set.
    ``refresh_every_n`` and ``flush()`` behave as in
    `IndexMaintainingSink` (cadence keyed on the deterministic epoch id;
    call flush at stream end so the index doesn't lag an off-cadence
    final batch)."""

    def __init__(
        self,
        table_uri: str,
        index_uri: str,
        app_id: str,
        threshold: float = 0.4,
        n_list=None,
        n_probe: Optional[int] = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        max_list_candidates: Optional[int] = None,
        collapse_exact: bool = False,
        collapse_buckets=16,
        refresh_every_n: int = 1,
        compact_threshold_files: Optional[int] = None,
    ):
        if refresh_every_n < 1:
            raise ValueError("refresh_every_n must be >= 1")
        super().__init__(
            table_uri,
            app_id,
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        self.index_uri = index_uri
        self.threshold = threshold
        self.n_list = n_list
        self.n_probe = n_probe
        self.id_col = id_col
        self.vec_col = vec_col
        self.max_list_candidates = max_list_candidates
        self.collapse_exact = collapse_exact
        self.collapse_buckets = collapse_buckets
        self.refresh_every_n = refresh_every_n
        self.compact_threshold_files = compact_threshold_files
        self.last_refresh: Optional[dict] = None
        self.skipped_refreshes: list[int] = []
        self.skipped_refresh_count: int = 0

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        super().__call__(batch_df, epoch_id)
        if self.refresh_every_n > 1 and epoch_id % self.refresh_every_n:
            self.skipped_refresh_count += 1
            self.skipped_refreshes.append(epoch_id)
            del self.skipped_refreshes[: -self._SKIP_LOG_CAP]
            return
        spark = (
            batch_df.sparkSession
            if hasattr(batch_df, "sparkSession")
            else batch_df.sql_ctx.sparkSession
        )
        self.flush(spark)

    def flush(self, spark) -> dict:
        """Run the incremental semantic-index refresh NOW over the open
        CDF window (idempotent; see IndexMaintainingSink.flush)."""
        from ..operators.dedup import update_semantic_index

        self.last_refresh = update_semantic_index(
            spark,
            self._refresh_table(),
            self.index_uri,
            threshold=self.threshold,
            n_list=self.n_list,
            n_probe=self.n_probe,
            id_col=self.id_col,
            vec_col=self.vec_col,
            app_id=f"{self.app_id}-semindex",
            max_list_candidates=self.max_list_candidates,
            collapse_exact=self.collapse_exact,
            collapse_buckets=self.collapse_buckets,
            compact_threshold_files=self.compact_threshold_files,
        )
        return self.last_refresh
