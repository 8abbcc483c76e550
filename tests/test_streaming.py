"""Streaming surface tests: log-tail source, change feed, exactly-once sink.

Mirrors the reference's streaming semantics: incremental log tailing
(``rust/src/delta.rs:612-638``), dataChange skip (``rust/src/action.rs:165-170``),
and the ``txn`` idempotency watermark (``rust/src/delta.rs:863-866``).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from delta_rs_spark.streaming.sink import ExactlyOnceDeltaSink
from delta_rs_spark.streaming.source import DeltaChangeFeed, DeltaStreamDataSource
from delta_rs_spark.table import DeltaTable
from delta_rs_spark.writer import write_deltalake


def _mk_table(spark, path, start=0, n=5):
    df = spark.range(start, start + n).select(
        F.col("id"), (F.col("id") % 3).alias("bucket")
    )
    return write_deltalake(spark, df, path, mode="append")


def test_change_feed_polls_new_versions(spark, tmp_path):
    uri = str(tmp_path / "tbl")
    _mk_table(spark, uri, 0, 5)
    feed = DeltaChangeFeed(spark, uri, starting_version=0)
    batches = feed.poll()
    assert [v for v, _ in batches] == [0]
    assert batches[0][1].count() == 5

    _mk_table(spark, uri, 5, 3)
    batches = feed.poll()
    assert [v for v, _ in batches] == [1]
    got = sorted(r.id for r in batches[0][1].collect())
    assert got == [5, 6, 7]
    # no new commits → empty poll
    assert feed.poll() == []


def test_exactly_once_sink_skips_replayed_epochs(spark, tmp_path):
    uri = str(tmp_path / "sink_tbl")
    sink = ExactlyOnceDeltaSink(uri, app_id="q-test")
    df1 = spark.range(0, 4)
    df2 = spark.range(4, 10)

    sink(df1, 0)
    sink(df2, 1)
    # Structured Streaming replays the last epoch after restart → must be a no-op
    sink(df2, 1)
    sink(df1, 0)

    t = DeltaTable(uri)
    assert sink.skipped_epochs == [1, 0]
    assert t.get_app_transaction_version("q-test") == 1
    assert t.to_df(spark).count() == 10
    # provenance recorded as STREAMING UPDATE with epoch info
    hist = t.history()
    ops = [h.get("operation") for h in hist]
    assert ops.count("STREAMING UPDATE") == 2


def test_sink_recovers_when_table_is_recreated(spark, tmp_path):
    """A table deleted and recreated under the sink's cached handle is
    loaded afresh: the new table's commits are not folded onto the old
    table's state, so the old watermark does not skip the new table's
    batches."""
    import shutil

    uri = str(tmp_path / "recreated")
    sink = ExactlyOnceDeltaSink(uri, app_id="q-re")
    for epoch in range(3):
        sink(spark.range(epoch, epoch + 1), epoch)
    stale = sink._table
    assert (stale.version, stale.get_app_transaction_version("q-re")) == (1, 1)

    shutil.rmtree(uri)
    for start in range(100, 112, 3):  # a new table, versions 0..3
        write_deltalake(spark, spark.range(start, start + 3), uri, mode="append")
    sink(spark.range(7, 9), 1)  # epoch 1 never reached the new table
    assert sink.skipped_epochs == []
    assert sink._table is not stale
    t = DeltaTable(uri)
    assert t.version == 4
    assert t.get_app_transaction_version("q-re") == 1
    assert sorted(r.id for r in t.to_df(spark).collect()) == [7, 8, *range(100, 112)]
    sink(spark.range(7, 9), 1)  # the replay is skipped against the new table
    assert sink.skipped_epochs == [1]

    shutil.rmtree(uri)  # deleted outright: the batch creates the table
    sink(spark.range(20, 22), 2)
    t = DeltaTable(uri)
    assert t.version == 0
    assert t.get_app_transaction_version("q-re") == 2
    assert sorted(r.id for r in t.to_df(spark).collect()) == [20, 21]


def test_sink_distinct_app_ids_are_independent(spark, tmp_path):
    uri = str(tmp_path / "multi_app")
    a = ExactlyOnceDeltaSink(uri, app_id="app-a")
    b = ExactlyOnceDeltaSink(uri, app_id="app-b")
    a(spark.range(0, 3), 0)
    b(spark.range(3, 6), 0)  # same epoch, different appId → not skipped
    t = DeltaTable(uri)
    assert t.get_app_transaction_version("app-a") == 0
    assert t.get_app_transaction_version("app-b") == 0
    assert t.to_df(spark).count() == 6


def test_sink_empty_first_batch_creates_table(spark, tmp_path):
    """A streaming query's first micro-batch can be empty (a trigger that
    fires before data arrives). It creates the table with no rows and
    records its epoch; the next epoch appends and its replay is skipped."""
    uri = str(tmp_path / "empty_first")
    sink = ExactlyOnceDeltaSink(uri, app_id="q-empty")
    sink(spark.createDataFrame([], "id long"), 0)
    t = DeltaTable(uri)
    assert t.version == 0
    assert t.to_df(spark).count() == 0
    assert t.get_app_transaction_version("q-empty") == 0

    sink(spark.range(0, 5), 1)
    assert sink.skipped_epochs == []
    sink(spark.range(0, 5), 1)
    assert sink.skipped_epochs == [1]
    t = DeltaTable(uri)
    assert t.version == 1
    assert t.get_app_transaction_version("q-empty") == 1
    assert sorted(r.id for r in t.to_df(spark).collect()) == list(range(5))


def test_stream_source_microbatches(spark, tmp_path):
    """End-to-end Structured Streaming: delta_stream source → memory sink."""
    uri = str(tmp_path / "src_tbl")
    _mk_table(spark, uri, 0, 6)
    _mk_table(spark, uri, 6, 4)

    spark.dataSource.register(DeltaStreamDataSource)
    q = (
        spark.readStream.format("delta_stream")
        .option("path", uri)
        .option("startingVersion", "0")
        .load()
        .writeStream.format("memory")
        .queryName("delta_stream_sink")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from delta_stream_sink").collect()
    assert sorted(r.id for r in rows) == list(range(10))
    # partition-style column came through with the right values
    assert all(r.bucket == r.id % 3 for r in rows)


def test_stream_source_rejects_removes_without_ignore_changes(spark, tmp_path):
    uri = str(tmp_path / "rm_tbl")
    _mk_table(spark, uri, 0, 5)
    write_deltalake(spark, spark.range(100, 103).select(
        F.col("id"), (F.col("id") % 3).alias("bucket")), uri, mode="overwrite")

    from delta_rs_spark.streaming.source import DeltaStreamReader

    reader = DeltaStreamReader(None, {"path": uri, "startingversion": "0"})
    with pytest.raises(RuntimeError, match="ignoreChanges"):
        reader.partitions({"version": -1}, {"version": 1})

    # with ignoreChanges the overwrite's adds are streamed
    reader2 = DeltaStreamReader(
        None, {"path": uri, "startingversion": "0", "ignorechanges": "true"}
    )
    parts = reader2.partitions({"version": -1}, {"version": 1})
    assert len(parts) >= 2


def test_stream_source_skip_change_commits_and_ignore_deletes(spark, tmp_path):
    """skipChangeCommits drops rewrite commits entirely (adds included);
    ignoreDeletes tolerates delete-ONLY commits but not rewrites."""
    from delta_rs_spark import DeltaTable
    from delta_rs_spark.streaming.source import DeltaStreamReader

    uri = str(tmp_path / "scc_tbl")
    write_deltalake(                                   # v0: 5 rows, copy-on-write
        spark,
        spark.range(0, 5).select(F.col("id"), (F.col("id") % 3).alias("bucket")),
        uri,
        configuration={"delta.enableDeletionVectors": "false"},
    )
    t = DeltaTable(uri)
    t.delete(spark, "id = 1")                          # v1: rewrite (remove+add)
    write_deltalake(
        spark,
        spark.range(100, 102).select(F.col("id"), (F.col("id") % 3).alias("bucket")),
        uri,
        mode="append",
    )                                                  # v2: plain append
    t.update()
    # v3: delete-ONLY commit (tombstones, no adds) — the shape a partition
    # drop or retention purge produces
    from delta_rs_spark.protocol.actions import RemoveAction

    txn = t.begin()
    victim = t.add_actions()[0]
    txn.add_action(
        RemoveAction(path=victim.path, deletion_timestamp=0, data_change=True)
    )
    txn.commit(operation="DELETE")
    t.update()

    # skipChangeCommits: v1 and v3 skipped wholly, v0 + v2 adds flow
    r = DeltaStreamReader(
        None, {"path": uri, "startingversion": "0", "skipchangecommits": "true"}
    )
    parts = r.partitions({"version": -1}, {"version": 3})
    assert parts  # v0 create + v2 append files only
    n_v0 = len(DeltaTable.for_version(uri, 0).files())
    n_v2_adds = len(parts) - n_v0
    assert n_v2_adds >= 1

    # ignoreDeletes alone: the v1 REWRITE still errors...
    r2 = DeltaStreamReader(
        None, {"path": uri, "startingversion": "0", "ignoredeletes": "true"}
    )
    with pytest.raises(RuntimeError, match="skipChangeCommits"):
        r2.partitions({"version": -1}, {"version": 3})
    # ...but a range containing only the delete-only commit passes
    parts2 = r2.partitions({"version": 2}, {"version": 3})
    assert parts2 == []


def test_stream_windowed_agg_with_watermark(spark, tmp_path):
    """Watermarked tumbling-window aggregation over the delta_stream source —
    the SURVEY §1.4 'Spark equivalent' claim, end to end: event-time windows
    computed incrementally across two source commits."""
    uri = str(tmp_path / "evt_tbl")
    for lo, hi in ((0, 6), (6, 12)):
        df = spark.range(lo, hi).select(
            F.timestamp_micros(
                # base aligned to a 5-minute boundary so window contents are
                # exactly ids 0-4 / 5-9 / 10-11
                (F.lit(1_700_000_400_000_000) + F.col("id") * 60_000_000).cast("long")
            ).alias("ts"),
            (F.col("id") % 2).alias("k"),
            F.col("id").cast("double").alias("v"),
        )
        write_deltalake(spark, df, uri, mode="append")

    spark.dataSource.register(DeltaStreamDataSource)
    q = (
        spark.readStream.format("delta_stream")
        .option("path", uri)
        .option("startingVersion", "0")
        .load()
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), F.col("k"))
        .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName("delta_stream_windows")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from delta_stream_windows").collect()
    # 12 events, 1/minute → 3 windows of 5 minutes (0-4, 5-9, 10-11) × 2 keys
    got = {(r.window.start.minute, r.k): (r.sv, r.n) for r in rows}
    assert len(got) == 6
    # window [0,5) key 0 holds ids 0,2,4; key 1 holds 1,3
    assert got[(min(m for m, _ in got), 0)][0] == 0.0 + 2.0 + 4.0
    assert sum(n for _, n in got.values()) == 12


def test_stateful_running_totals_across_microbatches(spark, tmp_path):
    """applyInPandasWithState keyed state must survive micro-batch
    boundaries: totals after the second commit include the first."""
    from delta_rs_spark.streaming.stateful import running_totals

    uri = str(tmp_path / "state_tbl")

    def commit(lo, hi):
        df = spark.range(lo, hi).select(
            (F.col("id") % 2).alias("user_id"),
            F.col("id").cast("double").alias("value"),
        )
        write_deltalake(spark, df, uri, mode="append")

    commit(0, 6)  # user 0: ids 0,2,4 ; user 1: ids 1,3,5
    spark.dataSource.register(DeltaStreamDataSource)
    stream = (
        spark.readStream.format("delta_stream")
        .option("path", uri)
        .option("startingVersion", "0")
        .load()
        .select("user_id", "value")
    )
    q = (
        running_totals(stream)
        .writeStream.format("memory")
        .queryName("running_totals_sink")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.sql("select * from running_totals_sink").collect()
        }
        assert first[0] == (3, 0.0 + 2.0 + 4.0)
        assert first[1] == (3, 1.0 + 3.0 + 5.0)

        commit(6, 10)  # user 0: 6,8 ; user 1: 7,9
        q.processAllAvailable()
        rows = spark.sql("select * from running_totals_sink").collect()
        latest = {}
        for r in rows:  # update mode appends; the max n_events per key is latest
            if r.user_id not in latest or r.n_events > latest[r.user_id][0]:
                latest[r.user_id] = (r.n_events, r.total_value)
        assert latest[0] == (5, 0.0 + 2.0 + 4.0 + 6.0 + 8.0)
        assert latest[1] == (5, 1.0 + 3.0 + 5.0 + 7.0 + 9.0)
    finally:
        q.stop()


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: duplicate keys arriving across commits (and
    therefore across micro-batches) are emitted once. Spark keeps one state
    entry per key inside the watermark instead of shuffling the corpus."""
    uri = str(tmp_path / "dup_tbl")
    # commit 0: ids 0..4; commit 1: ids 3..7 — overlap {3, 4}
    _mk_table(spark, uri, 0, 5)
    _mk_table(spark, uri, 3, 5)

    spark.dataSource.register(DeltaStreamDataSource)
    q = (
        spark.readStream.format("delta_stream")
        .option("path", uri)
        .option("startingVersion", "0")
        .load()
        .withColumn("event_time", F.current_timestamp())
        .withWatermark("event_time", "10 minutes")
        .dropDuplicatesWithinWatermark(["id"])
        .writeStream.format("memory")
        .queryName("dedup_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select id from dedup_sink").collect()
    ids = sorted(r.id for r in rows)
    assert ids == list(range(8)), ids  # each id exactly once


def test_stream_change_feed(spark, tmp_path):
    """readChangeFeed=true streams row-level changes: inserts from appends,
    cdc change files from DML commits."""
    from delta_rs_spark import DeltaTable

    uri = str(tmp_path / "cdf_tbl")
    df = spark.range(0, 8).select(F.col("id"), (F.col("id") % 3).alias("bucket"))
    write_deltalake(
        spark, df, uri, configuration={"delta.enableChangeDataFeed": "true"}
    )
    t = DeltaTable(uri)
    t.delete(spark, "id >= 6")

    spark.dataSource.register(DeltaStreamDataSource)
    q = (
        spark.readStream.format("delta_stream")
        .option("path", uri)
        .option("startingVersion", "0")
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("memory")
        .queryName("cdf_stream_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt_cdf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from cdf_stream_sink").collect()
    inserts = [r for r in rows if r._change_type == "insert"]
    deletes = [r for r in rows if r._change_type == "delete"]
    assert sorted(r.id for r in inserts) == list(range(8))
    assert all(r._commit_version == 0 for r in inserts)
    assert sorted(r.id for r in deletes) == [6, 7]
    assert all(r._commit_version == 1 for r in deletes)


def test_stream_change_feed_dv_no_phantom_deletes(spark, tmp_path):
    """DV commits with no change files still stream a correct feed: a DV
    swap emits only the commit's newly-dead positions, and a tombstone-only
    remove of a DV'd file must NOT re-emit rows deleted in earlier versions."""
    from delta_rs_spark import DeltaTable

    uri = str(tmp_path / "dv_cdf_tbl")
    df = spark.range(0, 8).select(F.col("id"), (F.col("id") % 3).alias("bucket"))
    write_deltalake(
        spark, df, uri, configuration={"delta.enableDeletionVectors": "true"}
    )
    t = DeltaTable(uri)
    r1 = t.delete(spark, "id = 1")  # v?: DV swap on one file
    t2 = DeltaTable(uri)
    r2 = t2.delete(spark, "id <> 1")  # kills every remaining row

    spark.dataSource.register(DeltaStreamDataSource)
    q = (
        spark.readStream.format("delta_stream")
        .option("path", uri)
        .option("startingVersion", "0")
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("memory")
        .queryName("dv_cdf_stream_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt_dv_cdf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from dv_cdf_stream_sink").collect()
    deletes = [r for r in rows if r._change_type == "delete"]
    d1 = [r for r in deletes if r._commit_version == r1["version"]]
    d2 = [r for r in deletes if r._commit_version == r2["version"]]
    assert [r.id for r in d1] == [1]
    assert sorted(r.id for r in d2) == [0, 2, 3, 4, 5, 6, 7]


def test_upsert_sink_exactly_once(spark, tmp_path):
    """Streaming upsert: merge per micro-batch, txn watermark in the merge
    commit, replayed epochs skipped."""
    from delta_rs_spark import DeltaTable
    from delta_rs_spark.streaming.sink import UpsertDeltaSink

    uri = str(tmp_path / "up")
    sink = UpsertDeltaSink(uri, "t.id = s.id", app_id="upq")

    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    sink(b0, 0)   # creates the table
    b1 = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    sink(b1, 1)   # updates id=2, inserts id=3

    t = DeltaTable(uri)
    rows = {r.id: r.v for r in t.to_df(spark).collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}
    assert t.get_app_transaction_version("upq") == 1

    # replay of epoch 1 (streaming restart) is a no-op
    sink(b1, 1)
    assert sink.skipped_epochs == [1]
    assert DeltaTable(uri).version == t.version
    # next epoch proceeds
    sink(spark.createDataFrame([(3, "C")], "id long, v string"), 2)
    assert {r.id: r.v for r in DeltaTable(uri).to_df(spark).collect()}[3] == "C"


def test_stream_rate_limit_bounds_each_trigger(spark, tmp_path):
    """maxFilesPerTrigger: the offset walk must advance version-by-version,
    never exceeding the file budget once at least one version is planned."""
    uri = str(tmp_path / "rl_tbl")
    for lo in range(0, 8, 2):  # 4 commits, 1+ file each
        _mk_table(spark, uri, lo, 2)

    from delta_rs_spark.streaming.source import DeltaStreamReader

    reader = DeltaStreamReader(
        None, {"path": uri, "startingversion": "0", "maxfilespertrigger": "1"}
    )
    assert reader.initialOffset() == {"version": -1}
    offsets = []
    while True:
        end = reader.latestOffset()["version"]
        if offsets and end == offsets[-1]:
            break
        offsets.append(end)
    # one version per trigger (each commit has >= 1 file, budget is 1)
    assert offsets == [0, 1, 2, 3]

    # unbounded reader jumps straight to the head
    fast = DeltaStreamReader(None, {"path": uri, "startingversion": "0"})
    fast.initialOffset()
    assert fast.latestOffset() == {"version": 3}


def test_stream_rate_limit_bytes_bounds_each_trigger(spark, tmp_path):
    """maxBytesPerTrigger: the walk stops before the byte budget overflows,
    but a single over-budget commit still ships whole (at-least-one-version
    admission, like the Delta source's at-least-one-file rule)."""
    uri = str(tmp_path / "rlb_tbl")
    for lo in range(0, 8, 2):  # 4 commits
        _mk_table(spark, uri, lo, 2)

    from delta_rs_spark import DeltaTable
    from delta_rs_spark.streaming.source import DeltaStreamReader

    # budget = one commit's bytes: exactly one version per trigger
    per_commit = sum(
        a.size for a in DeltaTable(uri).add_actions()
    ) // 4
    reader = DeltaStreamReader(
        None,
        {"path": uri, "startingversion": "0", "maxbytespertrigger": str(per_commit)},
    )
    reader.initialOffset()
    offsets = []
    while True:
        end = reader.latestOffset()["version"]
        if offsets and end == offsets[-1]:
            break
        offsets.append(end)
    assert offsets == [0, 1, 2, 3]

    # a tiny budget (1 byte) still admits one version per trigger
    tiny = DeltaStreamReader(
        None, {"path": uri, "startingversion": "0", "maxbytespertrigger": "1"}
    )
    tiny.initialOffset()
    assert tiny.latestOffset() == {"version": 0}


def test_stream_rate_limit_end_to_end(spark, tmp_path):
    """Throttled stream drains completely under processAllAvailable and
    delivers every row exactly once."""
    uri = str(tmp_path / "rl_e2e")
    for lo in range(0, 12, 3):
        _mk_table(spark, uri, lo, 3)

    spark.dataSource.register(DeltaStreamDataSource)
    q = (
        spark.readStream.format("delta_stream")
        .option("path", uri)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2")
        .load()
        .writeStream.format("memory")
        .queryName("rl_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt_rl"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from rl_sink").collect()
        assert sorted(r.id for r in rows) == list(range(12))
        # rate limit actually split the backlog: more than one batch ran
        assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2
    finally:
        q.stop()


def test_stream_rate_limit_restart_resumes_from_checkpoint(spark, tmp_path):
    """After a checkpoint restart initialOffset is never called;
    partitions() re-warms the position (clamped forward on both ends) so
    throttling resumes and rows are never replayed."""
    uri = str(tmp_path / "rl_restart")
    for lo in range(0, 6, 2):
        _mk_table(spark, uri, lo, 2)

    from delta_rs_spark.streaming.source import DeltaStreamReader

    reader = DeltaStreamReader(
        None, {"path": uri, "startingversion": "0", "maxfilespertrigger": "1"}
    )
    # simulate restart: Spark replays the last planned batch via partitions()
    # without calling initialOffset
    reader.partitions({"version": 0}, {"version": 1})
    assert reader._planned == 1
    # next trigger advances bounded from the recovered position
    assert reader.latestOffset() == {"version": 2}


def test_stream_starting_timestamp(spark, tmp_path):
    """startingTimestamp is at-or-after (Delta-source contract): a commit
    stamped exactly ts is included; ts before table creation starts from the
    earliest version; ts past the last commit waits for future commits."""
    import datetime as dt

    from delta_rs_spark import DeltaTable

    uri = str(tmp_path / "st_tbl")
    _mk_table(spark, uri, 0, 3)  # v0: ids 0..2
    _mk_table(spark, uri, 10, 3)  # v1: ids 10..12

    t = DeltaTable(uri)
    ms0 = t.log.commit_timestamp_ms(0)
    ms1 = t.log.commit_timestamp_ms(1)

    def _iso(ms):
        return dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc).isoformat()

    from delta_rs_spark.streaming.source import DeltaStreamReader

    # exactly v0's commit time → v0 itself is included
    reader = DeltaStreamReader(None, {"path": uri, "startingtimestamp": _iso(ms0)})
    assert reader.starting_version == 0
    assert reader.initialOffset() == {"version": -1}
    assert reader.latestOffset() == {"version": 1}

    # before table creation → earliest version, no error
    early = DeltaStreamReader(
        None, {"path": uri, "startingtimestamp": _iso(ms0 - 60_000)}
    )
    assert early.starting_version == 0

    # strictly after v0 (and v1 if same-ms) → first version stamped >= ts
    t_mid = DeltaStreamReader(
        None, {"path": uri, "startingtimestamp": _iso(ms0 + 1)}
    )
    assert t_mid.starting_version == (1 if ms1 > ms0 else 2)

    # past the last commit → stream waits for future versions
    late = DeltaStreamReader(
        None, {"path": uri, "startingtimestamp": _iso(ms1 + 60_000)}
    )
    assert late.starting_version == 2


def test_stream_starting_version_latest(spark, tmp_path):
    """startingVersion=latest skips the backfill: only commits after stream
    start flow."""
    from delta_rs_spark.streaming.source import DeltaStreamReader

    uri = str(tmp_path / "latest_tbl")
    _mk_table(spark, uri, 0, 5)                      # v0: 5 rows of backfill
    write_deltalake(spark, spark.range(100, 103).select(
        F.col("id"), (F.col("id") % 3).alias("bucket")), uri, mode="append")  # v1

    r = DeltaStreamReader(None, {"path": uri, "startingversion": "latest"})
    assert r.initialOffset() == {"version": 1}       # = current latest
    # nothing to read yet: the next batch starts past v1
    assert r.partitions({"version": 1}, {"version": 1}) == []
    # a post-start commit flows
    write_deltalake(spark, spark.range(200, 202).select(
        F.col("id"), (F.col("id") % 3).alias("bucket")), uri, mode="append")  # v2
    parts = r.partitions({"version": 1}, {"version": 2})
    assert parts  # only v2's files


def test_stateful_running_totals_string_key(spark, tmp_path):
    """The output schema follows the input key type — a string key must
    work (it used to be hardcoded LONG), and a non-numeric value column
    must fail at build time, not mid-batch."""
    from delta_rs_spark.streaming.stateful import running_totals

    uri = str(tmp_path / "state_tbl_str")
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("a", 3.0)], "k string, value double"
    )
    write_deltalake(spark, df, uri)
    spark.dataSource.register(DeltaStreamDataSource)
    stream = (
        spark.readStream.format("delta_stream")
        .option("path", uri)
        .option("startingVersion", "0")
        .load()
        .select("k", "value")
    )
    q = (
        running_totals(stream, key_col="k")
        .writeStream.format("memory")
        .queryName("running_totals_str_sink")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state_str"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.k: (r.n_events, r.total_value)
            for r in spark.sql("select * from running_totals_str_sink").collect()
        }
        assert got == {"a": (2, 4.0), "b": (1, 2.0)}
    finally:
        q.stop()

    with pytest.raises(TypeError, match="must be numeric"):
        running_totals(stream.selectExpr("k", "k as value"), key_col="k")


def test_stream_raises_on_cleaned_commit_in_range(tmp_path, spark):
    """A commit missing inside the batch range (log cleanup outpaced the
    stream) must fail the batch, not silently skip versions."""
    from delta_rs_spark.streaming.source import DeltaStreamReader

    uri = str(tmp_path / "t")
    write_deltalake(spark, spark.range(0, 5).selectExpr("id"), uri)
    write_deltalake(spark, spark.range(5, 10).selectExpr("id"), uri, mode="append")
    t = DeltaTable(uri)
    t.log.backend.delete_obj(t.log.commit_path(1))
    reader = DeltaStreamReader(None, {"path": uri, "startingversion": "0"})
    with pytest.raises(RuntimeError, match="log cleanup"):
        reader.partitions({"version": 0}, {"version": 2})


def test_latest_offset_never_rewinds_past_starting_version(tmp_path, spark):
    """startingVersion ahead of the table must hold position: a later
    catch-up batch must not replay the excluded versions."""
    from delta_rs_spark.streaming.source import DeltaStreamReader

    uri = str(tmp_path / "t")
    write_deltalake(spark, spark.range(0, 5).selectExpr("id"), uri)
    reader = DeltaStreamReader(None, {"path": uri, "startingversion": "100"})
    assert reader.initialOffset() == {"version": 99}
    off = reader.latestOffset()
    assert off["version"] >= 99  # never below the requested start


def test_stateful_running_totals_integral_exact(spark, tmp_path):
    """Integral value columns accumulate in exact LONG state — the property
    the certified stream_user_totals query relies on."""
    from delta_rs_spark.streaming.stateful import running_totals

    uri = str(tmp_path / "int_state_tbl")
    big = 1 << 54  # beyond double's exact-integer range
    df = spark.createDataFrame(
        [(0, big), (0, 1), (1, 7)], "user_id long, cents long"
    )
    write_deltalake(spark, df, uri)
    spark.dataSource.register(DeltaStreamDataSource)
    stream = (
        spark.readStream.format("delta_stream")
        .option("path", uri)
        .option("startingVersion", "0")
        .load()
        .select("user_id", "cents")
    )
    out = running_totals(stream, value_col="cents")
    assert dict(out.dtypes)["total_value"] == "bigint"
    q = (
        out.writeStream.format("memory")
        .queryName("int_state_sink")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_int"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
        rows = {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.sql("select * from int_state_sink").collect()
        }
        # a double-typed state would round big+1 back to big
        assert rows[0] == (2, big + 1)
        assert rows[1] == (1, 7)
    finally:
        q.stop()


def test_stream_skips_optimize_and_reorg_commits(spark, tmp_path):
    """A log-tailing stream across OPTIMIZE and REORG PURGE commits
    (dataChange=false) must deliver every appended row exactly once —
    the swaps are invisible, and the rewritten (post-purge) files are
    never re-emitted."""
    uri = str(tmp_path / "opt_stream")
    write_deltalake(
        spark,
        spark.range(40).coalesce(2).selectExpr("id"),
        uri,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    t = DeltaTable(uri)
    t.optimize(spark, target_file_size=1 << 20)  # v1: dataChange=false swap
    write_deltalake(
        spark, spark.range(40, 70).coalesce(1).selectExpr("id"), uri, mode="append"
    )
    # a MoR delete IS a data change (v3) — the stream must refuse it unless
    # told to ignore; with skipChangeCommits the delete version is dropped
    # but the appends still flow
    t = DeltaTable(uri)
    t.delete(spark, "id < 5")
    t = DeltaTable(uri)
    t.reorg_purge(spark)  # v4: dataChange=false, materializes the delete

    spark.dataSource.register(DeltaStreamDataSource)
    q = (
        spark.readStream.format("delta_stream")
        .option("path", uri)
        .option("startingVersion", "0")
        .option("skipChangeCommits", "true")
        .load()
        .writeStream.format("memory")
        .queryName("opt_stream_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_opt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
        got = sorted(
            r.id for r in spark.sql("select id from opt_stream_sink").collect()
        )
        # every append exactly once; neither swap re-emitted anything
        assert got == list(range(70))
    finally:
        q.stop()


def test_stream_source_read_yields_arrow_batches(spark, tmp_path):
    """The executor read path must be Arrow-native: read() yields
    pyarrow.RecordBatch objects (never per-row tuples), the DV mask is
    applied vectorized, and partition/NULL/CDF columns are constant Arrow
    arrays. Drives the reader directly (no Structured Streaming engine)."""
    import pyarrow as pa

    from delta_rs_spark.streaming.source import DeltaStreamReader

    uri = str(tmp_path / "arrow_tbl")
    df = spark.range(0, 10).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("part")
    )
    write_deltalake(spark, df, uri, partition_by=["part"])

    reader = DeltaStreamReader(schema=None, options={"path": uri})
    reader.initialOffset()
    parts = reader.partitions({"version": -1}, {"version": 0})
    assert parts, "expected at least one input partition"
    got_ids = []
    for p in parts:
        out = list(reader.read(p))
        assert out and all(isinstance(b, pa.RecordBatch) for b in out), (
            "read() must yield pyarrow.RecordBatch, got "
            + str({type(b) for b in out})
        )
        tbl = pa.Table.from_batches(out)
        assert tbl.schema.names == ["id", "part"]
        # partition column reconstituted as a constant string array
        assert tbl.column("part").type == pa.string()
        got_ids.extend(tbl.column("id").to_pylist())
    assert sorted(got_ids) == list(range(10))


def test_stream_source_read_arrow_dv_mask(spark, tmp_path):
    """DV drop/select modes on the Arrow path: deleted positions vanish in
    drop mode and are exactly the payload in select mode."""
    import pyarrow as pa

    from delta_rs_spark.streaming.source import DeltaStreamReader

    uri = str(tmp_path / "arrow_dv")
    write_deltalake(spark, spark.range(0, 8).coalesce(1).select("id"), uri)
    reader = DeltaStreamReader(schema=None, options={"path": uri})
    reader.initialOffset()
    (part,) = reader.partitions({"version": -1}, {"version": 0})
    base = pa.Table.from_batches(list(reader.read(part)))
    order = base.column("id").to_pylist()  # file row order
    dead = [1, 3]  # positions within the file

    part.dv_positions, part.dv_mode = dead, "drop"
    live = pa.Table.from_batches(list(reader.read(part))).column("id").to_pylist()
    assert live == [v for i, v in enumerate(order) if i not in dead]

    part.dv_positions, part.dv_mode = dead, "select"
    part.change_type, part.commit_version = "delete", 1
    sel = pa.Table.from_batches(list(reader.read(part)))
    assert sel.column("id").to_pylist() == [order[i] for i in dead]
    assert sel.column("_change_type").to_pylist() == ["delete", "delete"]
    assert sel.column("_commit_version").to_pylist() == [1, 1]


def test_stream_source_out_of_range_dv_positions_raise(spark, tmp_path):
    """A DV marking positions beyond the file's row count is corrupt or
    mispaired; silently dropping those positions would under-emit delete
    rows in CDF mode — read() must fail loudly instead."""
    import pytest as _pytest

    from delta_rs_spark.streaming.source import DeltaStreamReader

    uri = str(tmp_path / "arrow_dv_oob")
    write_deltalake(spark, spark.range(0, 8).coalesce(1).select("id"), uri)
    reader = DeltaStreamReader(schema=None, options={"path": uri})
    reader.initialOffset()
    (part,) = reader.partitions({"version": -1}, {"version": 0})
    part.dv_positions, part.dv_mode = [1, 99], "drop"
    with _pytest.raises(ValueError, match="corrupt or mispaired"):
        list(reader.read(part))


def test_stream_source_executor_side_dv_decode(spark, tmp_path):
    """Spec DV descriptors ship UNDECODED in the partition and decode on
    the executor inside read() — planning stays O(1) per file regardless
    of how many DV'd files a batch touches. Legacy/CDF paths still ship
    positions."""
    import pyarrow as pa
    from collections import Counter

    from delta_rs_spark.streaming.source import DeltaStreamReader

    uri = str(tmp_path / "dv_exec")
    write_deltalake(
        spark,
        spark.range(0, 10).coalesce(1).select("id"),
        uri,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    DeltaTable(uri).delete(spark, "id % 3 = 0")  # v1: merge-on-read DV swap

    reader = DeltaStreamReader(
        schema=None, options={"path": uri, "ignorechanges": "true"}
    )
    reader.initialOffset()
    parts = reader.partitions({"version": -1}, {"version": 1})
    dv_parts = [p for p in parts if p.dv_descriptor is not None]
    assert dv_parts, "expected the v1 re-emitted add to carry a DV descriptor"
    assert all(p.dv_positions is None for p in dv_parts)

    got: list[int] = []
    for p in parts:
        got.extend(
            pa.Table.from_batches(list(reader.read(p))).column("id").to_pylist()
        )
    # v0 full add (all 10) + v1 re-emitted DV'd add (7 live rows only)
    c = Counter(got)
    assert all(c[i] == 2 for i in range(10) if i % 3 != 0)
    assert all(c[i] == 1 for i in range(0, 10, 3))


def test_stream_attempts_retries_task_death_and_timeout_only():
    """The bounded retry harness restores production task-retry parity on a
    maxFailures=1 local session: StreamingQueryException (task death) and
    StreamDrainTimeout (box slowness) each get ONE retry — every attempt
    rebuilds sink + checkpoint, so a retry cannot certify a partial
    aggregate — while assertion errors (wrong answers) never retry."""
    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    from delta_rs_spark.lifecycle_queries import (
        StreamDrainTimeout,
        _stream_attempts,
    )

    calls = []

    def flaky_timeout(i):
        calls.append(i)
        if i == 0:
            raise StreamDrainTimeout("did not drain")
        return "ok"

    assert _stream_attempts("t", flaky_timeout) == "ok"
    assert calls == [0, 1]

    def always_timeout(i):
        raise StreamDrainTimeout("did not drain")

    with _pytest.raises(RuntimeError, match="failed on all 2 attempts"):
        _stream_attempts("t", always_timeout)

    def flaky_task_death(i):
        if i == 0:
            raise StreamingQueryException("worker died")
        return "ok"

    assert _stream_attempts("t", flaky_task_death) == "ok"

    def wrong_answer(i):
        raise AssertionError("bad rows")

    with _pytest.raises(AssertionError):
        _stream_attempts("t", wrong_answer)


def test_sink_cached_handle_sees_external_commits(spark, tmp_path):
    """Round 12: the sinks cache their DeltaTable handle across batches and
    advance it incrementally (per-batch log I/O ∝ new commits). The cached
    snapshot must still observe commits made OUTSIDE the sink between
    batches for the watermark check, and replay skipping must be
    unaffected."""
    from delta_rs_spark import write_deltalake

    uri = str(tmp_path / "cached_handle_tbl")
    sink = ExactlyOnceDeltaSink(uri, app_id="q-cache")
    sink(spark.range(0, 4), 0)
    # first batch CREATES the table (the pre-write load raised
    # NotATableError), so caching starts at the second batch
    assert sink._table is None

    # an external writer (compaction job, another stream) commits between
    # micro-batches; the sink's next batch must see it
    write_deltalake(spark, spark.range(100, 104), uri, mode="append")
    sink(spark.range(4, 8), 1)
    assert sink._table is not None  # handle cached from here on
    # replayed epoch still skipped through the cached handle
    sink(spark.range(4, 8), 1)
    assert sink.skipped_epochs == [1]

    t = DeltaTable(uri)
    assert t.get_app_transaction_version("q-cache") == 1
    assert t.to_df(spark).count() == 12
    # the cached handle converged to the same version a fresh load sees
    sink._table.update()
    assert sink._table.version == t.version
