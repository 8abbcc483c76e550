"""Transaction protocol tests, incl. the reference's concurrency scenario
(rust/tests/concurrent_writes_test.rs: N workers x M commits -> gapless
unique versions)."""

import json
import os
from concurrent.futures import ThreadPoolExecutor

import pytest

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.protocol.actions import AddAction, TxnAction
from delta_rs_spark.protocol.log import DeltaLog, FileAlreadyExistsError


@pytest.fixture()
def small_table(spark, tmp_path, sf_dir):
    df = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    uri = str(tmp_path / "t")
    write_deltalake(spark, df, uri)
    return uri


def test_sequential_commits(small_table):
    t = DeltaTable(small_table)
    txn = t.begin()
    txn.add_action(AddAction(path="fake-1.parquet", size=1))
    assert txn.commit(operation="WRITE") == 1
    txn2 = t.begin()
    txn2.add_action(AddAction(path="fake-2.parquet", size=1))
    assert txn2.commit(operation="WRITE") == 2
    assert "fake-1.parquet" in t.files()


def test_commit_version_conflict_low_level(small_table):
    log = DeltaLog(small_table)
    tmp1 = log.write_tmp_commit([TxnAction(app_id="a", version=1)], "t1")
    tmp2 = log.write_tmp_commit([TxnAction(app_id="b", version=1)], "t2")
    log.try_commit(tmp1, 1)
    with pytest.raises(FileAlreadyExistsError):
        log.try_commit(tmp2, 1)


def test_append_only_table(spark, small_table, sf_dir):
    """delta.appendOnly=true rejects data-changing removes everywhere but
    keeps appends and dataChange=false compaction working."""
    from delta_rs_spark import write_deltalake as w
    from delta_rs_spark.transactions import AppendOnlyError

    t = DeltaTable(small_table)
    t.set_properties({"delta.appendOnly": "true"})
    df = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))

    w(spark, df.limit(1), small_table, mode="append")  # appends fine
    with pytest.raises(AppendOnlyError):
        t.delete(spark, "r_regionkey = 0")
    with pytest.raises(AppendOnlyError):
        w(spark, df, small_table, mode="overwrite")
    with pytest.raises(AppendOnlyError):
        t.update()
        t.restore(0)
    # OPTIMIZE removes are dataChange=false: allowed
    t.update()
    res = t.optimize(spark)
    assert res["numFilesRemoved"] >= 0
    # unset re-enables DML
    t.unset_properties(["delta.appendOnly"])
    t.update()
    t.delete(spark, "r_regionkey = 0")


def test_unknown_feature_gates(spark, small_table, tmp_path):
    """Unknown readerFeatures refuse the READ; unknown writerFeatures allow
    reads but refuse commits — the table-features contract."""
    from delta_rs_spark.protocol.actions import ProtocolAction
    from delta_rs_spark.protocol.snapshot import UnsupportedFeatureError
    from delta_rs_spark.transactions import TransactionError

    t = DeltaTable(small_table)
    txn = t.begin()
    txn.add_action(
        ProtocolAction(1, 7, writer_features=["futureWriterMagic"])
    )
    txn.commit(operation="UPGRADE")

    t2 = DeltaTable(small_table)          # unknown WRITER feature: read ok
    assert t2.to_df.__self__ is t2
    with pytest.raises(TransactionError, match="futureWriterMagic"):
        txn2 = t2.begin()
        txn2.add_action(TxnAction(app_id="x", version=1))
        txn2.commit(operation="WRITE")

    # unknown READER feature: open fails fast
    log = DeltaLog(small_table)
    tmp = log.write_tmp_commit(
        [
            ProtocolAction(
                3,
                7,
                reader_features=["futureReaderMagic"],
                writer_features=["futureWriterMagic"],
            )
        ],
        "up",
    )
    log.try_commit(tmp, t2.update() + 1)
    with pytest.raises(UnsupportedFeatureError, match="futureReaderMagic"):
        DeltaTable(small_table)


def test_txn_app_versions(small_table):
    t = DeltaTable(small_table)
    txn = t.begin()
    txn.add_action(TxnAction(app_id="stream-1", version=5))
    txn.commit(operation="STREAMING UPDATE")
    t.update()
    assert t.get_app_transaction_version("stream-1") == 5
    assert t.get_app_transaction_version("nope") is None


def test_concurrent_writers_gapless(small_table):
    """5 workers x 3 commits each -> versions 1..15, unique and gapless."""
    workers, commits = 5, 3

    def work(w: int) -> list[int]:
        table = DeltaTable(small_table)
        got = []
        for i in range(commits):
            txn = table.begin()
            txn.add_action(AddAction(path=f"w{w}-c{i}.parquet", size=1))
            got.append(txn.commit(operation="WRITE"))
        return got

    with ThreadPoolExecutor(max_workers=workers) as ex:
        all_versions = [v for vs in ex.map(work, range(workers)) for v in vs]

    assert sorted(all_versions) == list(range(1, workers * commits + 1))
    t = DeltaTable(small_table)
    assert t.version == workers * commits
    for w in range(workers):
        for i in range(commits):
            assert f"w{w}-c{i}.parquet" in t.files()


def _process_worker(args):
    """Module-level so it pickles for multiprocessing spawn."""
    table_uri, w, commits = args
    from delta_rs_spark import DeltaTable
    from delta_rs_spark.protocol.actions import AddAction

    table = DeltaTable(table_uri)
    got = []
    for i in range(commits):
        txn = table.begin()
        txn.add_action(AddAction(path=f"p{w}-c{i}.parquet", size=1))
        got.append(txn.commit(operation="WRITE"))
    return got


def test_concurrent_writers_across_processes(small_table):
    """E9 at full strength: 5 separate OS processes x 3 commits — the atomic
    create-if-absent must hold across process boundaries, not just threads
    (reference runs separate workers, concurrent_writes_test.rs:27-75)."""
    import multiprocessing as mp

    workers, commits = 5, 3
    ctx = mp.get_context("spawn")
    with ctx.Pool(workers) as pool:
        results = pool.map(
            _process_worker, [(small_table, w, commits) for w in range(workers)]
        )
    versions = sorted(v for vs in results for v in vs)
    assert versions == list(range(1, workers * commits + 1))
    t = DeltaTable(small_table)
    assert t.version == workers * commits
    for w in range(workers):
        for i in range(commits):
            assert f"p{w}-c{i}.parquet" in t.files()


def test_memory_backend_log_protocol():
    """The commit protocol runs unchanged over the in-memory object-store
    model (atomic conditional put) — the contract a real object-store
    backend must meet (reference rust/src/storage/mod.rs:416-423)."""
    import threading
    import uuid

    from delta_rs_spark import DeltaTable
    from delta_rs_spark.protocol.actions import (
        AddAction,
        MetaDataAction,
        ProtocolAction,
    )
    from delta_rs_spark.protocol.log import DeltaLog

    uri = f"memory://t/{uuid.uuid4().hex}"
    log = DeltaLog(uri)
    meta = MetaDataAction(
        id="m1",
        schema_string='{"type":"struct","fields":[{"name":"id","type":"long","nullable":true,"metadata":{}}]}',
        partition_columns=[],
    )
    tmp = log.write_tmp_commit(
        [ProtocolAction(1, 2), meta, AddAction(path="f0.parquet", size=1)], "t0"
    )
    log.try_commit(tmp, 0)

    t = DeltaTable(uri)
    assert t.version == 0
    assert t.files() == ["f0.parquet"]

    # 4 threads x 3 commits: gapless versions via conditional-put retries
    def worker(wid):
        table = DeltaTable(uri)
        for i in range(3):
            txn = table.begin()
            txn.add_action(AddAction(path=f"w{wid}-{i}.parquet", size=1))
            txn.commit(operation="WRITE")

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    final = DeltaTable(uri)
    assert final.version == 12  # 1 create + 12 worker commits, gapless
    assert len(final.files()) == 13
    # time travel works over the memory log too
    assert len(DeltaTable.for_version(uri, 0).files()) == 1


def test_concurrent_dml_same_file_raises(spark, tmp_path):
    """Two writers DML the same file from the same base version: the loser
    must raise ConcurrentModificationError instead of silently clobbering
    the winner's swap (v0 blind retry is kept only for pure appends)."""
    import pytest

    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.transactions import ConcurrentModificationError

    uri = str(tmp_path / "c")
    df = spark.range(0, 100).selectExpr("id", "id % 4 AS g")
    write_deltalake(spark, df.coalesce(1), uri)  # ONE file: any DML touches it

    t1 = DeltaTable(uri)
    t2 = DeltaTable(uri)  # same base version, independent handle
    t1.delete(spark, "g = 0")
    with pytest.raises(ConcurrentModificationError):
        t2.delete(spark, "g = 1")
    # winner's state intact, loser applied nothing
    t3 = DeltaTable(uri)
    assert t3.to_df(spark).filter("g = 0").count() == 0
    assert t3.to_df(spark).filter("g = 1").count() == 25


def test_concurrent_dml_disjoint_files_retries_fine(spark, tmp_path):
    """DML on DISJOINT files from the same base retries cleanly (no false
    conflicts): partitioned table, each delete touches its own partition."""
    from delta_rs_spark import DeltaTable, write_deltalake

    uri = str(tmp_path / "d")
    df = spark.range(0, 100).selectExpr("id", "id % 2 AS p")
    write_deltalake(spark, df, uri, partition_by=["p"])

    t1 = DeltaTable(uri)
    t2 = DeltaTable(uri)
    t1.delete(spark, "p = 0 AND id < 10")
    res = t2.delete(spark, "p = 1 AND id < 10")  # different partition's files
    assert res["numDeletedRows"] == 5
    t3 = DeltaTable(uri)
    assert t3.to_df(spark).count() == 100 - 5 - 5


def test_concurrent_appends_still_blind_retry(spark, tmp_path):
    """Pure appends keep the reference's v0 blind retry: both commits land."""
    from delta_rs_spark import DeltaTable, write_deltalake

    uri = str(tmp_path / "a")
    df = spark.range(0, 10).selectExpr("id")
    write_deltalake(spark, df, uri)
    t1 = DeltaTable(uri)
    t2 = DeltaTable(uri)
    write_deltalake(spark, df, uri, mode="append")
    write_deltalake(spark, df, uri, mode="append")
    assert DeltaTable(uri).to_df(spark).count() == 30


def test_in_commit_timestamps(spark, tmp_path):
    """delta.enableInCommitTimestamps=true: every commit carries a
    monotonically increasing commitInfo.inCommitTimestamp, the protocol
    advertises the spec's writer feature, and time travel resolves from the
    writer clock, not file mtime — the reliable clock on object stores
    where mtime is upload/copy time."""
    import json
    import os

    from delta_rs_spark import DeltaTable
    from delta_rs_spark.writer import write_deltalake

    uri = str(tmp_path / "ict")
    write_deltalake(
        spark,
        spark.range(0, 10).selectExpr("id"),
        uri,
        configuration={"delta.enableInCommitTimestamps": "true"},
    )
    write_deltalake(spark, spark.range(10, 20).selectExpr("id"), uri, mode="append")
    write_deltalake(spark, spark.range(20, 30).selectExpr("id"), uri, mode="append")

    t = DeltaTable(uri)
    assert t.snapshot.min_writer_version() == 7
    assert "inCommitTimestamp" in (t.snapshot.state.writer_features or [])

    # every commit's FIRST action is commitInfo with a strictly increasing ict
    icts = []
    for v in range(3):
        with open(os.path.join(uri, "_delta_log", f"{v:020d}.json")) as fh:
            first = json.loads(fh.readline())
        assert "commitInfo" in first
        icts.append(first["commitInfo"]["inCommitTimestamp"])
    assert icts[0] < icts[1] < icts[2]

    # timestamp resolution uses the writer clock: corrupt every file mtime
    # to the epoch — ICT-based time travel must be unaffected
    for fname in os.listdir(os.path.join(uri, "_delta_log")):
        os.utime(os.path.join(uri, "_delta_log", fname), (1, 1))
    t2 = DeltaTable(uri)
    assert t2.version_at_timestamp(
        __import__("datetime").datetime.fromtimestamp(
            icts[1] / 1000, tz=__import__("datetime").timezone.utc
        )
    ) == 1
    assert t2.first_version_at_or_after(
        __import__("datetime").datetime.fromtimestamp(
            icts[2] / 1000, tz=__import__("datetime").timezone.utc
        )
    ) == 2


def test_ict_enabled_mid_table_bumps_protocol(spark, tmp_path):
    """Enabling ICT on an existing v(1,2) table: the next commit carries the
    protocol bump + feature, and pre-feature versions fall back to mtime."""
    from delta_rs_spark import DeltaTable
    from delta_rs_spark.writer import write_deltalake

    uri = str(tmp_path / "mid")
    write_deltalake(
        spark, spark.range(0, 5).selectExpr("id"), uri, configuration={"delta.enableDeletionVectors": "false"}
    )
    t = DeltaTable(uri)
    assert t.protocol_versions() == (1, 2)

    # flip the property via metadata (ALTER TABLE-style commit)
    from delta_rs_spark.protocol.actions import MetaDataAction

    old = t.metadata()
    cfg = dict(old.configuration)
    cfg["delta.enableInCommitTimestamps"] = "true"
    txn = t.begin()
    txn.add_action(
        MetaDataAction(
            id=old.id,
            schema_string=old.schema_string,
            partition_columns=old.partition_columns,
            configuration=cfg,
            created_time=old.created_time,
        )
    )
    txn.commit(operation="SET TBLPROPERTIES")
    t2 = DeltaTable(uri)
    write_deltalake(spark, spark.range(5, 8).selectExpr("id"), uri, mode="append")

    t3 = DeltaTable(uri)
    assert t3.snapshot.min_writer_version() == 7
    assert "inCommitTimestamp" in (t3.snapshot.state.writer_features or [])
    # the mixed clock still orders: v0 (mtime) <= v1 <= v2 (ict)
    ts = [t3.log.commit_timestamp_ms(v) for v in range(3)]
    assert ts[0] <= ts[1] <= ts[2]


def test_ict_enablement_boundary_bookkeeping(spark, tmp_path):
    """Enabling in-commit timestamps mid-life records the enablement
    version/timestamp in the same commit, stamps THAT commit with the writer
    clock, and timestamp resolution never straddles the two clock domains."""
    import datetime as dt
    import json

    from delta_rs_spark.table import DeltaTable
    from delta_rs_spark.transactions import (
        ICT_ENABLEMENT_TS_KEY,
        ICT_ENABLEMENT_VERSION_KEY,
    )
    from delta_rs_spark.writer import write_deltalake

    df = spark.createDataFrame([(1, "a")], "id long, val string").coalesce(1)
    write_deltalake(spark, df, str(tmp_path))                      # v0 (mtime clock)
    write_deltalake(spark, df, str(tmp_path), mode="append")       # v1 (mtime clock)
    t = DeltaTable.for_path(str(tmp_path))
    t.set_properties({"delta.enableInCommitTimestamps": "true"})   # v2 (boundary)
    t = DeltaTable.for_path(str(tmp_path))

    cfg = t.metadata().configuration
    assert cfg[ICT_ENABLEMENT_VERSION_KEY] == "2"
    et = int(cfg[ICT_ENABLEMENT_TS_KEY])
    assert t.protocol_versions()[1] == 7
    assert "inCommitTimestamp" in (t.snapshot.state.writer_features or [])

    # the enabling commit itself carries the writer clock, equal to the
    # recorded enablement timestamp
    first = json.loads(
        (tmp_path / "_delta_log" / "00000000000000000002.json").read_text().splitlines()[0]
    )
    assert first["commitInfo"]["inCommitTimestamp"] == et

    # ICT-domain resolution: just past the enablement instant → v2
    just_after = dt.datetime.fromtimestamp((et + 1) / 1000, dt.timezone.utc)
    assert t.version_at_timestamp(just_after) == 2
    # mtime-domain resolution: before the first commit → epoch start streams
    # from version 0
    assert t.first_version_at_or_after(dt.datetime.fromtimestamp(0, dt.timezone.utc)) == 0
    # a target inside the mtime domain never resolves to an ICT version:
    # the latest pre-enablement version is the ceiling
    v1_mtime = t.log.commit_timestamp_ms(1)
    pre = dt.datetime.fromtimestamp(v1_mtime / 1000, dt.timezone.utc)
    assert t.version_at_timestamp(pre) <= 1


def test_enable_cdf_and_ict_same_commit(spark, small_table):
    """Both protocol floors must land when CDF and ICT are enabled in ONE
    SET TBLPROPERTIES commit (one protocol action, merged features)."""
    t = DeltaTable(small_table)
    t.set_properties(
        {
            "delta.enableChangeDataFeed": "true",
            "delta.enableInCommitTimestamps": "true",
        }
    )
    t.update()
    state = t.snapshot.state
    assert state.min_writer_version == 7
    assert "inCommitTimestamp" in (state.writer_features or [])
    assert "changeDataFeed" in (state.writer_features or [])
    # exactly one protocol action in the enabling commit
    actions = t.log.read_commit(t.version)
    from delta_rs_spark.protocol.actions import ProtocolAction

    assert sum(isinstance(a, ProtocolAction) for a in actions) == 1
