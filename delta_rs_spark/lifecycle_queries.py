"""Table-lifecycle certified queries: change-data-feed and OPTIMIZE/Z-order.

Unlike the read-only catalog queries, these seed a real Delta table (under a
deterministic /tmp workdir keyed by sf_dir), run a DML / maintenance
sequence, and return the queryable result — so the driver's DuckDB oracle
certifies the *lifecycle* surface end to end:

- ``cdf_changes_window``: merge-on-read DELETE (deletion-vector commit) +
  merge-on-read UPDATE over a CDF-enabled table, then ``load_cdf`` over the
  DML window. The oracle reconstructs the exact expected change rows
  (delete / update_preimage / update_postimage) from the source parquet —
  this pins the DV-commit CDF synthesis path (no phantom deletes, correct
  pre/post images) against an independent engine.
- ``q_zorder_pruned_scan``: write small files, OPTIMIZE with a 2-column
  Z-order, then answer a 2-dimensional range predicate. The oracle is the
  same predicate over the source parquet — certifying that the rewrite
  preserved every row. The pruning benefit itself is asserted in
  ``tests/test_stats_skipping.py`` (file-skip counts) — correctness here,
  performance there.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import SUM_DEC, _sum_dec, query
from .sources.tables import load_table

_WORK_ROOT = "/tmp/delta_rs_spark_certq"


def _assert_ids_below(df: DataFrame, id_col: str, bound: int) -> None:
    """The lifecycle oracles offset synthetic ids by +bound multiples; a
    source table whose ids already reach the offset range would collide
    with them and hash-mismatch in a way that reads as an engine bug.
    Fail loudly instead (1-row driver agg — seeding-time only)."""
    top = df.agg(F.max(id_col).alias("m")).collect()[0].m
    if top is not None and top >= bound:
        raise AssertionError(
            f"lifecycle query assumes {id_col} < {bound}; source max is {top}"
        )


def _workdir(name: str, sf_dir: str) -> str:
    """Deterministic per-(query, sf) scratch table path, recreated on every
    call so repeated runs (driver, pytest, bench) start from version 0."""
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(_WORK_ROOT, f"{name}-{key}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


class StreamDrainTimeout(RuntimeError):
    """A bounded-drain streaming attempt did not finish within its window.

    Raised by the certified stream queries' drain loops instead of a bare
    ``RuntimeError`` so the retry harness can tell box slowness (retryable:
    every attempt rebuilds sink + checkpoint from scratch, so no partial
    aggregate can leak into a later attempt) from a genuine wrong answer
    (assertion errors — never retried)."""



def _drain_or_timeout(q, label: str, secs: int = 300) -> None:
    """``awaitTermination`` with the retryable-timeout contract: a drain
    that does not finish within its window stops the orphan query and
    raises :class:`StreamDrainTimeout` (retried once by
    :func:`_stream_attempts`). One definition so the five availableNow
    stream queries cannot drift in timeout/stop/retry semantics."""
    if not q.awaitTermination(secs):
        # timed out: the sink holds a PARTIAL result — certifying it would
        # blame the engine for a slow box. Stop the orphan and fail.
        q.stop()
        raise StreamDrainTimeout(f"{label} did not drain within {secs}s")


def _stream_attempts(label: str, attempt_fn, attempts: int = 2) -> DataFrame:
    """Run ``attempt_fn(i) -> DataFrame`` with ONE bounded retry on streaming
    failure.

    The certification session runs on a driver-owned ``local[N]`` where
    ``spark.task.maxFailures`` defaults to 1 — a single transient
    Python-worker death (fork blip, momentary memory pressure) kills the
    whole streaming query even though a real cluster would retry the task
    4x. The streaming certified queries are deterministic and rebuild their
    sink + checkpoint per attempt, so one in-query retry restores parity
    with production task-retry semantics without masking real failures:
    only ``StreamingQueryException`` (task death) and
    :class:`StreamDrainTimeout` (box slowness — the drain window is sized
    for a loaded box, not a saturated one) retry; an engine bug fails both
    attempts identically, and assertion errors propagate immediately."""
    from pyspark.errors import StreamingQueryException

    last: Exception | None = None
    for i in range(attempts):
        try:
            return attempt_fn(i)
        except (StreamingQueryException, StreamDrainTimeout) as exc:
            last = exc
    raise RuntimeError(
        f"{label}: streaming query failed on all {attempts} attempts"
    ) from last


@query(
    "cdf_changes_window",
    """
    WITH base AS (
      SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    ),
    del AS (
      SELECT doc_id, source, n_chars,
             'delete' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
      FROM base WHERE doc_id % 7 = 0
    ),
    pre AS (
      SELECT doc_id, source, n_chars,
             'update_preimage' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
      FROM base WHERE doc_id % 7 <> 0 AND source = 'src1'
    ),
    post AS (
      SELECT doc_id, source, CAST(-1 AS BIGINT) AS n_chars,
             'update_postimage' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
      FROM base WHERE doc_id % 7 <> 0 AND source = 'src1'
    )
    SELECT * FROM del
    UNION ALL SELECT * FROM pre
    UNION ALL SELECT * FROM post
    ORDER BY _commit_version, _change_type, doc_id
    """,
)
def q_cdf_changes_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed documents → MoR DELETE (v1, DV commit) → MoR UPDATE (v2) →
    load_cdf(v1..v2). Change rows are synthesized from the deletion-vector
    commits (no change files for the delete) — the oracle proves the
    synthesis emits exactly the newly-dead positions and correct
    pre/post-image pairs, nothing phantom."""
    from . import DeltaTable
    from .writer import write_deltalake

    uri = _workdir("cdf", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").cast("long").alias("n_chars")
    )
    write_deltalake(
        spark,
        docs.repartition(4),
        uri,
        configuration={
            "delta.enableChangeDataFeed": "true",
            "delta.enableDeletionVectors": "true",
        },
    )
    t = DeltaTable(uri)
    t.delete(spark, "doc_id % 7 = 0")  # v1: merge-on-read, DV commit
    t = DeltaTable(uri)
    t.update_where(spark, "source = 'src1'", {"n_chars": "-1"})  # v2: MoR update
    t = DeltaTable(uri)
    return t.load_cdf(spark, starting_version=1).orderBy(
        "_commit_version", "_change_type", "doc_id"
    )


@query(
    "clone_lifecycle",
    """
    WITH live AS (
      SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
      WHERE doc_id % 7 <> 0
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM live
    GROUP BY source
    ORDER BY source
    """,
)
def q_clone_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clone surface certified end-to-end: seed documents in TWO commits
    (DVs on) → merge-on-read DELETE (DV commit) → DEEP CLONE → REORG
    APPLY (PURGE) on the clone (materializes the cloned DVs) → aggregate
    the CLONE. The oracle reconstructs the survivors from the source
    parquet, so a clone that loses a file, resurrects a DV-deleted row, or
    a purge that drops/duplicates rows all hash-mismatch."""
    from . import DeltaTable
    from .writer import write_deltalake

    uri = _workdir("clonesrc", sf_dir)
    clone_uri = _workdir("clonedst", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").cast("long").alias("n_chars")
    )
    write_deltalake(
        spark,
        docs.filter(F.col("doc_id") % 2 == 0).repartition(2),
        uri,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    write_deltalake(
        spark,
        docs.filter(F.col("doc_id") % 2 == 1).repartition(2),
        uri,
        mode="append",
    )
    t = DeltaTable(uri)
    t.delete(spark, "doc_id % 7 = 0")  # MoR: DV commit
    t = DeltaTable(uri)
    clone = t.deep_clone(clone_uri)
    clone.reorg_purge(spark)  # materialize the cloned DVs physically
    clone = DeltaTable(clone_uri)
    return (
        clone.to_df(spark)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
        .orderBy("source")
    )


@query(
    "q_zorder_pruned_scan",
    f"""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           {SUM_DEC('l_quantity', 'sum_qty', 2)},
           {SUM_DEC('l_extendedprice', 'sum_price', 2)}
    FROM lineitem
    WHERE l_orderkey BETWEEN 1000 AND 20000
      AND l_partkey BETWEEN 100 AND 1000
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write lineitem as many small files, OPTIMIZE with a Z-order on
    (l_orderkey, l_partkey), then answer a 2-D range predicate through the
    stats-pruned snapshot scan. The oracle (same predicate over the source
    parquet) certifies the rewrite lost/duplicated nothing; the file-skip
    benefit of the Z-layout is asserted separately in
    tests/test_stats_skipping.py."""
    from . import DeltaTable
    from .writer import write_deltalake

    uri = _workdir("zorder", sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    write_deltalake(spark, li, uri, max_records_per_file=8_000)
    t = DeltaTable(uri)
    t.optimize(
        spark,
        zorder_by=["l_orderkey", "l_partkey"],
        target_file_size=2 * 1024 * 1024,
    )
    t = DeltaTable(uri)
    df = t.to_df(spark).filter(
        F.col("l_orderkey").between(1000, 20000)
        & F.col("l_partkey").between(100, 1000)
    )
    return (
        df.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _sum_dec(F.col("l_quantity"), "sum_qty", 2),
            _sum_dec(F.col("l_extendedprice"), "sum_price", 2),
        )
        .orderBy("l_returnflag")
    )


@query(
    "features_lifecycle",
    """
    WITH base AS (
      SELECT doc_id, source, 'standard' AS tier FROM documents
      WHERE doc_id % 4 <> 0
    ),
    extra AS (
      SELECT doc_id + 100000 AS doc_id, source, 'gold' AS tier
      FROM documents WHERE doc_id % 10 = 0
    ),
    extra2 AS (
      SELECT doc_id + 200000 AS doc_id, source, 'standard' AS tier
      FROM documents WHERE doc_id % 20 = 10
    )
    SELECT doc_id, source, tier FROM base
    UNION ALL SELECT doc_id, source, tier FROM extra
    UNION ALL SELECT doc_id, source, tier FROM extra2
    ORDER BY doc_id
    """,
)
def q_features_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3-continuation features certified end to end: CREATE with a
    column DEFAULT, appends that omit the default column, a DELETE, an
    explicit-value replaceWhere, the V2-checkpoint upgrade + checkpoint,
    then MORE commits folded by a LOG COMPACTION — and the final read must
    equal the oracle's reconstruction from the source parquet. The fresh
    DeltaTable() load at the end starts from the v2 manifest/sidecars and
    folds the post-checkpoint tail through the compaction file, so BOTH
    new replay paths sit in the read the driver hashes."""
    from . import DeltaTable
    from .writer import write_deltalake

    uri = _workdir("features", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    _assert_ids_below(docs, "doc_id", 100_000)

    # v0: create with DEFAULT tier='standard' (column materialized per row)
    write_deltalake(
        spark, docs, uri, column_defaults={"tier": "'standard'"}
    )
    # v1: append omitting `tier` — the default fills it
    write_deltalake(
        spark,
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "source"
        ),
        uri,
        mode="append",
    )
    # v2: delete a slice (copy-on-write remove+add commit)
    t = DeltaTable(uri)
    t.delete(spark, "doc_id % 4 = 0 AND doc_id < 100000")
    # v3: explicit value wins over the default
    write_deltalake(
        spark,
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            "source",
            F.lit("gold").alias("tier"),
        ),
        uri,
        mode="overwrite",
        replace_where="doc_id >= 100000 AND doc_id < 200000",
    )
    # v4: upgrade to v2 checkpoints, then checkpoint the current state —
    # the reload below must start from the manifest + sidecars
    t = DeltaTable(uri)
    t.enable_v2_checkpoints()
    t.create_checkpoint()
    # v5 + v6: post-checkpoint tail (default-filled append, then a delete),
    # folded into ONE compaction file the reload replays instead of the
    # individual commits
    write_deltalake(
        spark,
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 200000).alias("doc_id"), "source"
        ),
        uri,
        mode="append",
    )
    t = DeltaTable(uri)
    t.delete(spark, "doc_id >= 200000 AND doc_id % 20 = 0")
    t.compact_log(5, 6)

    t2 = DeltaTable(uri)
    return t2.to_df(spark).orderBy("doc_id")


@query(
    "stream_events_hourly",
    f"""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n_events,
           {SUM_DEC('value', 'sum_value')}
    FROM events
    GROUP BY 1, 2
    ORDER BY hour, event_type
    """,
)
def q_stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming certified end-to-end: seed a Delta table from
    the events parquet in TWO append commits, tail it with the
    ``delta_stream`` source (offsets = table versions), run a complete-mode
    hourly aggregation into a memory sink, and return the final result —
    which must equal the batch SQL aggregate over the same rows. This gives
    the streaming source + sink surface a hard driver row (the micro-batch
    boundary cannot change the aggregate)."""
    import uuid as _uuid

    from .streaming.source import DeltaStreamDataSource
    from .writer import write_deltalake

    uri = _workdir("stream", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    write_deltalake(spark, ev.filter(F.col("event_id") % 2 == 0), uri)
    write_deltalake(
        spark, ev.filter(F.col("event_id") % 2 == 1), uri, mode="append"
    )

    spark.dataSource.register(DeltaStreamDataSource)

    def _attempt(i: int) -> DataFrame:
        sink = f"stream_events_hourly_{_uuid.uuid4().hex[:8]}"
        q = (
            spark.readStream.format("delta_stream")
            .option("path", uri)
            .option("startingVersion", "0")
            .load()
            .groupBy(
                F.date_trunc("hour", F.col("ts")).alias("hour"),
                F.col("event_type"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                _sum_dec(F.col("value"), "sum_value"),
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", os.path.join(uri, f"_ckpt{i}"))
            .trigger(availableNow=True)
            .start()
        )
        _drain_or_timeout(q, "stream_events_hourly")
        return spark.table(sink).orderBy("hour", "event_type")

    return _stream_attempts("stream_events_hourly", _attempt)


@query(
    "stream_user_totals",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator certified end-to-end: seed a Delta
    table from the events parquet in TWO append commits, tail it with the
    ``delta_stream`` source, and maintain per-user cumulative (count, sum)
    in keyed state via ``applyInPandasWithState`` (update mode). Values are
    quantized to integer cents BEFORE the stream so the keyed state
    accumulates in exact LONG arithmetic — the final per-key emission is
    then batch-boundary-invariant and must equal the batch GROUP BY, which
    is exactly what the oracle computes. The memory sink keeps every
    per-batch emission; the final state per key is selected with
    max_by(total, n_events) (n_events is strictly cumulative)."""
    import uuid as _uuid

    from .streaming.source import DeltaStreamDataSource
    from .streaming.stateful import running_totals
    from .writer import write_deltalake

    uri = _workdir("stream_totals", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    write_deltalake(spark, ev.filter(F.col("event_id") % 2 == 0), uri)
    write_deltalake(
        spark, ev.filter(F.col("event_id") % 2 == 1), uri, mode="append"
    )

    spark.dataSource.register(DeltaStreamDataSource)

    def _attempt(i: int) -> DataFrame:
        sink = f"stream_user_totals_{_uuid.uuid4().hex[:8]}"
        stream = (
            spark.readStream.format("delta_stream")
            .option("path", uri)
            .option("startingVersion", "0")
            .load()
            .select(
                "user_id",
                F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
            )
        )
        q = (
            running_totals(stream, key_col="user_id", value_col="cents")
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(uri, f"_ckpt{i}"))
            .trigger(availableNow=True)
            .start()
        )
        _drain_or_timeout(q, "stream_user_totals")
        return (
            spark.table(sink)
            .groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.expr("max_by(total_value, n_events)").alias("total_cents"),
            )
            .orderBy("user_id")
        )

    return _stream_attempts("stream_user_totals", _attempt)


@query(
    "widening_uniform_lifecycle",
    """
    WITH base AS (
      SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_tok
      FROM documents
    ),
    physical AS (
      SELECT doc_id, source, n_tok FROM base
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, source,
             n_tok + 5000000000 AS n_tok
      FROM base WHERE doc_id % 5 = 0
    ),
    live AS (
      SELECT * FROM physical WHERE doc_id % 9 <> 3
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
           CAST(MAX(n_tok) AS BIGINT) AS max_tok,
           CAST((SELECT COUNT(*) FROM physical) AS BIGINT) AS iceberg_rows,
           CAST((SELECT COUNT(*) FROM physical WHERE doc_id % 9 = 3)
                AS BIGINT) AS iceberg_deleted_rows
    FROM live
    GROUP BY source
    ORDER BY source
    """,
)
def q_widening_uniform_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type widening + UniForm + merge-on-read certified end to end: create
    with an INT token-count column (deletion vectors on), ALTER COLUMN TYPE
    to BIGINT (metadata-only), append values beyond int32 range — the final
    scan reads narrow-typed AND wide-typed parquet through one widened
    schema — then a MoR DELETE (DV commit, no rewrite), then enable UniForm
    and fold BOTH Iceberg censuses into the hashed result: physical rows
    from the data manifests and deleted rows from the position-delete
    manifests (each decoded via the independent manifest read-back path,
    not the Delta log). The oracle reconstructs everything from the source
    parquet, so a wrong upcast, a lost row, a resurrected deleted row, or a
    diverging Iceberg manifest all hash-mismatch."""
    from . import DeltaTable
    from .uniform import read_delete_files
    from .writer import write_deltalake

    uri = _workdir("widen_uniform", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").cast("int").alias("n_tok")
    )
    _assert_ids_below(docs, "doc_id", 1_000_000)
    write_deltalake(
        spark, docs, uri, configuration={"delta.enableDeletionVectors": "true"}
    )

    t = DeltaTable(uri)
    t.widen_column_type("n_tok", "bigint")  # metadata-only, typeChanges recorded
    write_deltalake(
        spark,
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            "source",
            (F.col("n_tok").cast("long") + 5_000_000_000).alias("n_tok"),
        ),
        uri,
        mode="append",
    )
    t = DeltaTable(uri)
    t.delete(spark, "doc_id % 9 = 3")  # merge-on-read: DV commit
    t = DeltaTable(uri)
    # UniForm keeping the table's deletion vectors: the initial conversion
    # mirrors them as Iceberg position-delete files
    t.set_properties(
        {"delta.universalFormat.enabledFormats": "iceberg", "delta.enableDeletionVectors": "true"}
    )
    iceberg_rows = sum(f["record_count"] for f in t.iceberg_files())
    iceberg_deleted = sum(d["record_count"] for d in read_delete_files(uri))

    return (
        t.to_df(spark)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tok"),
            F.max("n_tok").alias("max_tok"),
        )
        .withColumn("iceberg_rows", F.lit(iceberg_rows).cast("long"))
        .withColumn("iceberg_deleted_rows", F.lit(iceberg_deleted).cast("long"))
        .orderBy("source")
    )


@query(
    "stream_hourly_watermark",
    f"""
    WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n_events,
           {SUM_DEC('value', 'sum_value')}
    FROM events, wm
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= w
    GROUP BY 1, 2
    ORDER BY hour, event_type
    """,
)
def q_stream_hourly_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked event-time windowing certified end-to-end: seed a Delta
    table from the events parquet in TWO time-split append commits, tail it
    with ``delta_stream``, and run an APPEND-mode hourly aggregation under
    ``withWatermark(ts, 2 hours)`` into a memory sink. Append mode emits a
    window only after the watermark passes its end, so the certified result
    is exactly the finalized prefix — every window whose end ≤ max(ts) − 2h
    — while the trailing open windows are withheld (the late-data contract
    complete mode cannot express). The time-split seed keeps the result
    micro-batch-invariant: the second commit's rows all sit above the
    watermark any earlier batch could have set, so nothing is dropped
    whether the source delivers one batch or several.

    Finalization needs a no-data micro-batch AFTER the data batches (the
    watermark advances between batches), so the stream runs on a short
    processing-time trigger and the driver polls query progress until the
    watermark reaches max(ts) − 2h (ms-truncated — progress reports ms),
    then drains and stops. A timeout raises rather than certifying a
    partial result."""
    import datetime as _dt
    import time as _time
    import uuid as _uuid

    from .streaming.source import DeltaStreamDataSource
    from .writer import write_deltalake

    uri = _workdir("stream_wm", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    cut = "2024-01-15 00:00:00"
    write_deltalake(spark, ev.filter(F.col("ts") < cut), uri)
    write_deltalake(spark, ev.filter(F.col("ts") >= cut), uri, mode="append")

    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    # progress reports the watermark at ms precision — truncate the target
    # the same way so the poll can actually reach it
    target_wm = (max_ts - _dt.timedelta(hours=2)).replace(
        microsecond=(max_ts.microsecond // 1000) * 1000
    )

    spark.dataSource.register(DeltaStreamDataSource)

    def _attempt(i: int) -> DataFrame:
        sink = f"stream_wm_{_uuid.uuid4().hex[:8]}"
        q = (
            spark.readStream.format("delta_stream")
            .option("path", uri)
            .option("startingVersion", "0")
            .load()
            .withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                _sum_dec(F.col("value"), "sum_value"),
            )
            .select(
                F.col("win.start").alias("hour"),
                "event_type",
                "n_events",
                "sum_value",
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(uri, f"_ckpt{i}"))
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        try:
            q.processAllAvailable()
            deadline = _time.time() + 240
            reached = False
            while _time.time() < deadline:
                p = q.lastProgress or {}
                wm = p.get("eventTime", {}).get("watermark")
                if wm:
                    got = _dt.datetime.fromisoformat(
                        wm.replace("Z", "+00:00")
                    ).replace(tzinfo=None)
                    if got >= target_wm:
                        reached = True
                        break
                _time.sleep(0.5)
            if not reached:
                raise StreamDrainTimeout(
                    "stream_hourly_watermark: watermark did not reach "
                    f"{target_wm} within 240s"
                )
            q.processAllAvailable()  # drain the finalization batch's emission
        finally:
            q.stop()
        return spark.table(sink).orderBy("hour", "event_type")

    return _stream_attempts("stream_hourly_watermark", _attempt)


@query(
    "stream_delta_sink_pipeline",
    """
    SELECT event_id, user_id, ts, event_type,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events
    WHERE event_type IN ('click', 'view')
    ORDER BY event_id
    """,
)
def q_stream_delta_sink_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-to-Delta streaming pipeline certified end-to-end: seed a source
    Delta table from the events parquet in TWO append commits, tail it with
    ``delta_stream``, apply a narrow transform (filter + projection +
    derived column), and land every micro-batch in a TARGET Delta table
    through the exactly-once ``foreachBatch`` sink (txn-action watermarks
    make epoch replays no-ops). The certified result reads the TARGET table
    back through the normal snapshot path, so the driver row covers source
    offsets -> transform -> sink commit protocol -> log replay in one
    query. Append-only batches of disjoint rows make the final table
    content invariant to micro-batch boundaries."""
    import uuid as _uuid

    from .streaming.sink import ExactlyOnceDeltaSink
    from .streaming.source import DeltaStreamDataSource
    from .table import DeltaTable
    from .writer import write_deltalake

    src = _workdir("stream_sink_src", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    write_deltalake(spark, ev.filter(F.col("event_id") % 2 == 0), src)
    write_deltalake(
        spark, ev.filter(F.col("event_id") % 2 == 1), src, mode="append"
    )

    spark.dataSource.register(DeltaStreamDataSource)

    def _attempt(i: int) -> DataFrame:
        # the TARGET table is recreated per attempt (fresh checkpoint ⇒
        # batch ids restart at 0, so a surviving target + same txn app
        # would wrongly no-op the replayed epochs)
        dst = _workdir("stream_sink_dst", sf_dir)
        sink = ExactlyOnceDeltaSink(dst, app_id=f"certq_{_uuid.uuid4().hex[:8]}")
        q = (
            spark.readStream.format("delta_stream")
            .option("path", src)
            .option("startingVersion", "0")
            .load()
            .filter(F.col("event_type").isin("click", "view"))
            .select(
                "event_id",
                "user_id",
                "ts",
                "event_type",
                F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
            )
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(src, f"_ckpt{i}"))
            .trigger(availableNow=True)
            .start()
        )
        _drain_or_timeout(q, "stream_delta_sink_pipeline")
        return DeltaTable(dst).to_df(spark).orderBy("event_id")

    return _stream_attempts("stream_delta_sink_pipeline", _attempt)


@query(
    "stream_dedup_events",
    """
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    ORDER BY event_id
    """,
)
def q_stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication certified end-to-end: the source Delta
    table is seeded with every event PLUS a second commit that re-appends a
    third of them verbatim (the at-least-once-ingestion duplicate shape);
    ``dropDuplicates(event_id)`` holds seen keys in streaming state and
    emits only each key's first arrival, so the sink must equal the
    original distinct event set exactly. Duplicate rows are byte-identical
    to their originals, which makes the emitted set invariant to which
    micro-batch a duplicate lands in. State is bounded by the distinct-key
    count here; production streams bound it with
    ``dropDuplicatesWithinWatermark`` (same plan shape, state evicted past
    the watermark)."""
    import uuid as _uuid

    from .streaming.source import DeltaStreamDataSource
    from .writer import write_deltalake

    uri = _workdir("stream_dedup", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    write_deltalake(spark, ev, uri)
    write_deltalake(
        spark, ev.filter(F.col("event_id") % 3 == 0), uri, mode="append"
    )

    spark.dataSource.register(DeltaStreamDataSource)

    def _attempt(i: int) -> DataFrame:
        sink = f"stream_dedup_{_uuid.uuid4().hex[:8]}"
        q = (
            spark.readStream.format("delta_stream")
            .option("path", uri)
            .option("startingVersion", "0")
            .load()
            .dropDuplicates(["event_id"])
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(uri, f"_ckpt{i}"))
            .trigger(availableNow=True)
            .start()
        )
        _drain_or_timeout(q, "stream_dedup_events")
        return spark.table(sink).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).orderBy("event_id")

    return _stream_attempts("stream_dedup_events", _attempt)


@query(
    "stream_stream_join",
    """
    SELECT a.user_id AS user_id,
           a.event_id AS error_id, a.ts AS error_ts,
           b.event_id AS click_id, b.ts AS click_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'error' AND b.event_type = 'click'
     AND b.ts BETWEEN a.ts AND a.ts + INTERVAL 2 HOUR
    ORDER BY error_id, click_id
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join certified end-to-end: TWO delta_stream
    readers tail the same 2-commit Delta seed (one filtered to errors, one
    to clicks) and join on user with an event-time range — every click
    within 2 h after an error by the same user. Inner joins emit on match
    (no watermark gate), and with no watermark declared neither side's
    state is evicted, so the emitted set is the complete join result
    regardless of how the micro-batches interleave — which is exactly what
    the batch SQL oracle computes. (Production bounds the state with
    watermarks on both sides; that trades completeness for eviction and is
    exercised in stream_hourly_watermark.)"""
    import uuid as _uuid

    from .streaming.source import DeltaStreamDataSource
    from .writer import write_deltalake

    uri = _workdir("stream_ssj", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    write_deltalake(spark, ev.filter(F.col("event_id") % 2 == 0), uri)
    write_deltalake(
        spark, ev.filter(F.col("event_id") % 2 == 1), uri, mode="append"
    )

    spark.dataSource.register(DeltaStreamDataSource)

    def _side(kind: str, prefix: str):
        return (
            spark.readStream.format("delta_stream")
            .option("path", uri)
            .option("startingVersion", "0")
            .load()
            .filter(F.col("event_type") == kind)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
        )

    errors, clicks = _side("error", "err"), _side("click", "clk")
    joined = errors.join(
        clicks,
        (F.col("err_user") == F.col("clk_user"))
        & (F.col("clk_ts") >= F.col("err_ts"))
        & (F.col("clk_ts") <= F.col("err_ts") + F.expr("INTERVAL 2 HOURS")),
    ).select(
        F.col("err_user").alias("user_id"),
        F.col("err_id").alias("error_id"),
        F.col("err_ts").alias("error_ts"),
        F.col("clk_id").alias("click_id"),
        F.col("clk_ts").alias("click_ts"),
    )

    def _attempt(i: int) -> DataFrame:
        sink = f"stream_ssj_{_uuid.uuid4().hex[:8]}"
        q = (
            joined.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(uri, f"_ckpt{i}"))
            .trigger(availableNow=True)
            .start()
        )
        _drain_or_timeout(q, "stream_stream_join")
        return spark.table(sink).orderBy("error_id", "click_id")

    return _stream_attempts("stream_stream_join", _attempt)


@query(
    "concurrent_lifecycle",
    """
    WITH base AS (
      SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    ),
    final AS (
      SELECT doc_id, source, n_chars FROM base WHERE source <> 'src1'
      UNION ALL
      SELECT doc_id, source, CAST(-1 AS BIGINT) AS n_chars
      FROM base WHERE source = 'src1'
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, 'src_concurrent' AS source, n_chars
      FROM base WHERE doc_id % 10 = 0
    )
    SELECT doc_id, source, n_chars, CAST(2 AS BIGINT) AS final_version
    FROM final
    ORDER BY doc_id
    """,
)
def q_concurrent_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The optimistic-concurrency surface certified end to end: two racing
    transactions — a predicate-scoped REWRITE (``replaceWhere source =
    'src1'``, which reads data and removes files) and a blind APPEND of
    rows OUTSIDE that predicate — start from the same snapshot behind a
    barrier and both must commit. Whichever order the race resolves, the
    serializable outcome is identical (the appended rows don't match the
    rewrite predicate), so the oracle encodes it exactly: non-src1 rows
    intact, src1 rows replaced, appended rows present, and final_version=2
    proving BOTH commits landed (no lost update, no spurious extra
    commit). The losing transaction goes through the conflict checker
    (``transactions.py``: WriteSerializable exempts the winner blind
    append from the rewriter's read-conflict; appends never conflict) and
    the version-contention retry loop — the biggest beyond-reference
    correctness surface, previously pytest-only, now under the driver's
    eye."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from . import DeltaTable
    from .writer import write_deltalake

    uri = _workdir("concurrent", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").cast("long").alias("n_chars")
    )
    _assert_ids_below(docs, "doc_id", 1_000_000)
    write_deltalake(spark, docs, uri)

    replacement = docs.filter(F.col("source") == "src1").withColumn(
        "n_chars", F.lit(-1).cast("long")
    )
    appended = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.lit("src_concurrent").alias("source"),
        "n_chars",
    )

    barrier = threading.Barrier(2)

    def do_replace():
        # bounded wait: if the sibling thread dies before reaching the
        # barrier, BrokenBarrierError fails the query loudly instead of
        # hanging the certification session forever
        barrier.wait(timeout=120)
        write_deltalake(
            spark,
            replacement,
            uri,
            mode="overwrite",
            replace_where="source = 'src1'",
        )

    def do_append():
        barrier.wait(timeout=120)
        write_deltalake(spark, appended, uri, mode="append")

    with ThreadPoolExecutor(max_workers=2) as ex:
        futs = [ex.submit(do_replace), ex.submit(do_append)]
        for f in futs:
            f.result()  # surface either transaction's failure loudly

    t = DeltaTable(uri)
    return (
        t.to_df(spark)
        .withColumn("final_version", F.lit(t.version).cast("long"))
        .orderBy("doc_id")
    )
