"""Log compaction: {start}.{end}.compacted.json replaces per-commit reads.

Public Delta log-compaction layout — the reconciled actions of a commit
range in one NDJSON file. Snapshot loads whose replay tail starts exactly at
the range's start fold the compaction instead of the individual commits;
per-version time travel inside the range still reads commits directly.
"""

import os

import pytest

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.maintenance import cleanup_expired_logs, write_log_compaction
from delta_rs_spark.protocol.log import DeltaLog


@pytest.fixture()
def multi_commit_table(spark, tmp_path, sf_dir):
    """Versions 0..6: creation + 5 appends + a delete (mixed action shapes)."""
    df = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    uri = str(tmp_path / "t")
    # copy-on-write, so the delete commits a remove + add
    write_deltalake(spark, df, uri, configuration={"delta.enableDeletionVectors": "false"})
    for _ in range(5):
        write_deltalake(spark, df.limit(2), uri, mode="append")
    t = DeltaTable(uri)
    t.delete(spark, "r_regionkey = 0")  # version 6: remove + add
    return uri


def _reads_of_commits(monkeypatch, log_cls):
    """Patch try_read_commit to record which versions get read."""
    seen: list[int] = []
    orig = log_cls.try_read_commit

    def spy(self, version):
        seen.append(version)
        return orig(self, version)

    monkeypatch.setattr(log_cls, "try_read_commit", spy)
    return seen


def test_compaction_equivalent_state_and_fewer_reads(
    multi_commit_table, monkeypatch
):
    t0 = DeltaTable(multi_commit_table)
    files_before = sorted(t0.file_uris())
    version_before = t0.version

    write_log_compaction(t0, 1, 5)

    seen = _reads_of_commits(monkeypatch, DeltaLog)
    t1 = DeltaTable(multi_commit_table)
    assert t1.version == version_before
    assert sorted(t1.file_uris()) == files_before
    # commits 2..5 were folded via the compaction; 0, 1? no — the tail
    # starts at 0, so 0 is read, then the compaction [1,5] covers 1-5
    assert 0 in seen
    assert all(v not in seen for v in (1, 2, 3, 4, 5))
    assert 6 in seen


def test_time_travel_inside_range_ignores_compaction(
    multi_commit_table, monkeypatch
):
    t0 = DeltaTable(multi_commit_table)
    write_log_compaction(t0, 1, 5)
    seen = _reads_of_commits(monkeypatch, DeltaLog)
    t3 = DeltaTable.for_version(multi_commit_table, 3)
    # the [1,5] compaction overshoots version 3: per-commit replay
    assert [v for v in (1, 2, 3) if v in seen] == [1, 2, 3]
    assert t3.version == 3
    # state equals an uncompacted per-commit replay of the same version
    assert len(t3.files()) == 1 + 3  # create + 3 appends


def test_reconciliation_net_file_state(multi_commit_table):
    """An add removed later in the range collapses to its tombstone."""
    t = DeltaTable(multi_commit_table)
    # range covering the delete: version 6 removed one file added earlier
    write_log_compaction(t, 1, 6)
    log = DeltaLog(multi_commit_table)
    actions = log.try_read_compaction(1, 6)
    assert actions is not None
    from delta_rs_spark.protocol.actions import AddAction, RemoveAction

    add_paths = {a.path for a in actions if isinstance(a, AddAction)}
    rm_paths = {a.path for a in actions if isinstance(a, RemoveAction)}
    assert rm_paths, "expected the delete's tombstone to be retained"
    assert not (add_paths & rm_paths)
    # folding the compaction on top of version 0 gives the final state
    t_full = DeltaTable(multi_commit_table)
    assert {os.path.basename(p) for p in t_full.file_uris()} == {
        os.path.basename(p) for p in add_paths
    } | {
        os.path.basename(p)
        for p in DeltaTable.for_version(multi_commit_table, 0).file_uris()
        if os.path.basename(p) not in {os.path.basename(r) for r in rm_paths}
    }


def test_invalid_ranges_raise(multi_commit_table):
    t = DeltaTable(multi_commit_table)
    with pytest.raises(ValueError):
        write_log_compaction(t, 3, 3)
    with pytest.raises(ValueError):
        write_log_compaction(t, 5, 99)
    with pytest.raises(ValueError):
        write_log_compaction(t, -1, 2)


def test_auto_compaction_property(spark, tmp_path, sf_dir):
    """delta.enableLogCompaction=true writes a compaction at the
    mid-checkpoint-interval commit covering the tail since the checkpoint."""
    df = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    uri = str(tmp_path / "auto")
    write_deltalake(
        spark, df, uri, configuration={"delta.enableLogCompaction": "true"}
    )
    for _ in range(5):
        write_deltalake(spark, df.limit(1), uri, mode="append")
    log = DeltaLog(uri)
    assert (1, 5) in log.list_compactions()


def test_cleanup_reaps_compactions_below_checkpoint(multi_commit_table):
    t = DeltaTable(multi_commit_table)
    write_log_compaction(t, 1, 5)
    t.create_checkpoint()
    deleted = cleanup_expired_logs(t, retention_ms=0)
    assert any(name.endswith(".compacted.json") for name in deleted)
    # and the table still loads fine from the checkpoint
    t2 = DeltaTable(multi_commit_table)
    assert t2.version == t.version


def test_auto_compaction_best_effort_when_range_missing(spark, tmp_path, sf_dir):
    """An auto-compaction window spanning commits already reaped by
    expired-log cleanup must not fail the triggering commit."""
    df = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    uri = str(tmp_path / "cleaned")
    write_deltalake(
        spark, df, uri, configuration={"delta.enableLogCompaction": "true"}
    )
    for _ in range(4):  # versions 1..4
        write_deltalake(spark, df.limit(1), uri, mode="append")
    t = DeltaTable(uri)
    t.create_checkpoint()
    cleanup_expired_logs(t, retention_ms=0)  # commits 0..3 reaped
    log = DeltaLog(uri)
    assert log.try_read_commit(1) is None

    # version 5 = the mid-interval commit: hook range [1, 5] has missing
    # head commits; the write must succeed and simply skip the compaction
    write_deltalake(spark, df.limit(1), uri, mode="append")
    t2 = DeltaTable(uri)
    assert t2.version == 5
    assert (1, 5) not in log.list_compactions()
