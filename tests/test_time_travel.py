"""Timestamp time travel and the log listing behind every load.

``DeltaLog.version_at_timestamp`` resolves a timestamp from one listing of
``_delta_log`` and checks ICT (in-commit timestamps) only through the latest
commit's head; ``Snapshot.load`` chooses its checkpoint from the same
listing. These tests check the resolver against a brute-force scan of every
commit's timestamp, count the storage calls of a time travel, and check that
a torn or stale ``_last_checkpoint`` never overrides the log.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid
from collections import Counter

import pyarrow.parquet as pq
import pytest

from delta_rs_spark.protocol.actions import (
    AddAction,
    CommitInfoAction,
    MetaDataAction,
    ProtocolAction,
)
from delta_rs_spark import DeltaTableError
from delta_rs_spark.protocol.log import DeltaLog
from delta_rs_spark.protocol.storage import LocalFileBackend
from delta_rs_spark.table import DeltaTable
from delta_rs_spark.transactions import ICT_ENABLEMENT_TS_KEY, ICT_ENABLEMENT_VERSION_KEY

_SCHEMA = json.dumps(
    {"type": "struct", "fields": [{"name": "id", "type": "long", "nullable": True, "metadata": {}}]}
)
UTC = dt.timezone.utc


def _create(root: str, ict: bool = False, interval: int | None = None) -> DeltaTable:
    """A table with one metadata-only commit; with ``ict``, in-commit
    timestamps are on from creation."""
    os.makedirs(root)
    log = DeltaLog(root)
    cfg = {"delta.checkpointInterval": str(interval)} if interval else {}
    actions: list = []
    if ict:
        cfg["delta.enableInCommitTimestamps"] = "true"
        now = int(dt.datetime.now(UTC).timestamp() * 1000)
        actions += [
            CommitInfoAction({"operation": "CREATE TABLE", "inCommitTimestamp": now}),
            ProtocolAction(1, 7, writer_features=["inCommitTimestamp"]),
        ]
    else:
        actions.append(ProtocolAction(1, 2))
    actions.append(
        MetaDataAction(
            id=str(uuid.uuid4()), schema_string=_SCHEMA, partition_columns=[], configuration=cfg
        )
    )
    log.try_commit(log.write_tmp_commit(actions, "v0"), 0)
    return DeltaTable(root)


def _append(table: DeltaTable, n: int = 1) -> None:
    for _ in range(n):
        txn = table.begin()
        txn.add_action(
            AddAction(
                path=f"part-{uuid.uuid4().hex}.parquet",
                size=100,
                partition_values={},
                modification_time=0,
                stats=json.dumps({"numRecords": 10}),
            )
        )
        txn.commit(operation="WRITE")


def _set_mtime(log: DeltaLog, version: int, seconds: int) -> None:
    os.utime(log.commit_path(version), (seconds, seconds))


def _answer(table: DeltaTable) -> tuple:
    return table.version, sorted(table.files()), table.count_rows()


# ---- brute force ---------------------------------------------------------------


def _mtime_ms(log: DeltaLog, v: int) -> int:
    return int(os.stat(log.commit_path(v)).st_mtime * 1000)


def _ict_ms(log: DeltaLog, v: int) -> int | None:
    with open(log.commit_path(v)) as f:
        info = json.loads(f.readline()).get("commitInfo") or {}
    return info.get("inCommitTimestamp")


def _brute(root: str, target_ms: int, at_or_after: bool) -> int:
    """Scan every commit: mtimes when the latest commit has no ICT; else
    each commit's ICT (mtime without one), inside the clock domain of the
    enablement recorded in the latest metadata."""
    log = DeltaLog(root)
    versions = list(log.list_commit_versions())
    if _ict_ms(log, versions[-1]) is None:
        domain, time_of = versions, lambda v: _mtime_ms(log, v)
    else:
        cfg = DeltaTable(root).metadata().configuration
        domain = versions
        if ICT_ENABLEMENT_VERSION_KEY in cfg:
            ev, et = int(cfg[ICT_ENABLEMENT_VERSION_KEY]), int(cfg[ICT_ENABLEMENT_TS_KEY])
            split = [v for v in versions if (v >= ev) == (target_ms >= et)]
            domain = split or versions

        def time_of(v):
            ict = _ict_ms(log, v)
            return ict if ict is not None else _mtime_ms(log, v)

    if at_or_after:
        hits = [v for v in domain if time_of(v) >= target_ms]
        if hits:
            return hits[0]
        later = [v for v in versions if v > domain[-1]]
        return later[0] if later else versions[-1] + 1
    hits = [v for v in domain if time_of(v) <= target_ms]
    if not hits:
        raise DeltaTableError("before the first commit")
    return hits[-1]


def _probes(times: list[int]) -> list[int]:
    """Before the first commit, at every commit, one ms either side, between
    each two commits, and after the last."""
    out = {min(times) - 60_000, max(times) + 60_000}
    ts = sorted(times)
    for a, b in zip(ts, ts[1:] + [ts[-1] + 2]):
        out |= {a - 1, a, a + 1, (a + b) // 2}
    return sorted(out)


def _check_against_brute(root: str) -> int:
    log = DeltaLog(root)
    times = [_mtime_ms(log, v) for v in log.list_commit_versions()]
    times += [t for v in log.list_commit_versions() if (t := _ict_ms(log, v)) is not None]
    checked = 0
    for target in _probes(times):
        when = dt.datetime(1970, 1, 1, tzinfo=UTC) + dt.timedelta(milliseconds=target)
        for at_or_after in (False, True):
            try:
                want = _brute(root, target, at_or_after)
            except DeltaTableError:
                with pytest.raises(DeltaTableError):
                    log.version_at_timestamp(when, at_or_after=at_or_after)
            else:
                assert log.version_at_timestamp(when, at_or_after=at_or_after) == want, (
                    target,
                    at_or_after,
                )
            checked += 1
    return checked


def test_resolver_matches_brute_force_on_mtimes(tmp_path):
    root = str(tmp_path / "t")
    t = _create(root)
    _append(t, 7)
    log = DeltaLog(root)
    base = 1_700_000_000
    for v in range(8):
        _set_mtime(log, v, base + 10 * v)
    assert _check_against_brute(root) > 60

    # the public entry points: an ISO string with Z and a naive datetime
    # (read as UTC), both exactly at v3's commit and between v3 and v4
    at3 = dt.datetime.fromtimestamp(base + 30, UTC)
    iso = at3.strftime("%Y-%m-%dT%H:%M:%SZ")
    assert DeltaTable.for_timestamp(root, iso).version == 3
    assert DeltaTable.for_timestamp(root, at3.replace(tzinfo=None)).version == 3
    assert DeltaTable.for_timestamp(root, at3 + dt.timedelta(seconds=5)).version == 3
    assert t.first_version_at_or_after(iso) == 3
    assert t.first_version_at_or_after(at3.replace(tzinfo=None) + dt.timedelta(seconds=5)) == 4
    with pytest.raises(DeltaTableError):
        DeltaTable.for_timestamp(root, "2000-01-01T00:00:00Z")
    assert t.first_version_at_or_after("2000-01-01T00:00:00Z") == 0
    assert t.first_version_at_or_after("2100-01-01T00:00:00Z") == 8


def test_resolver_matches_brute_force_with_ict_from_creation(tmp_path):
    root = str(tmp_path / "t")
    t = _create(root, ict=True)
    _append(t, 6)
    log = DeltaLog(root)
    assert all(_ict_ms(log, v) is not None for v in range(7))
    # file mtimes run backwards: only the writer clock can order the log
    for v in range(7):
        _set_mtime(log, v, 1_700_000_000 - v)
    assert _check_against_brute(root) > 40
    ict3 = _ict_ms(log, 3)
    at3 = dt.datetime(1970, 1, 1, tzinfo=UTC) + dt.timedelta(milliseconds=ict3)
    assert DeltaTable.for_timestamp(root, at3).version == 3


def test_resolver_matches_brute_force_with_ict_enabled_mid_life(tmp_path):
    root = str(tmp_path / "t")
    t = _create(root)
    _append(t, 3)  # v1..v3 on the file clock
    t.update()
    t.set_properties({"delta.enableInCommitTimestamps": "true"})  # v4
    t = DeltaTable(root)
    _append(t, 3)  # v5..v7 on the writer clock
    log = DeltaLog(root)
    cfg = DeltaTable(root).metadata().configuration
    assert cfg[ICT_ENABLEMENT_VERSION_KEY] == "4"
    et = int(cfg[ICT_ENABLEMENT_TS_KEY])
    # mtime domain well before the enablement; writer-clock commits' files
    # carry mtimes that would place them first
    for v in range(4):
        _set_mtime(log, v, et // 1000 - 1000 + 10 * v)
    for v in range(4, 8):
        _set_mtime(log, v, 1)
    assert _check_against_brute(root) > 40


def test_latest_commit_without_ict_uses_mtimes_throughout(tmp_path):
    """The one deliberate difference from per-commit clocks: the latest
    commit has no in-commit timestamp, so ICT is off and every commit's time
    is its file's mtime, even where an older commit carries an ICT."""
    root = str(tmp_path / "t")
    t = _create(root, ict=True)
    _append(t, 2)  # v0..v2 carry ICTs (now)
    log = DeltaLog(root)
    add = AddAction(path="late.parquet", size=1, partition_values={}, modification_time=0)
    log.try_commit(log.write_tmp_commit([CommitInfoAction({"operation": "WRITE"}), add], "v3"), 3)
    assert _ict_ms(log, 2) is not None and _ict_ms(log, 3) is None
    base = 978_307_200  # 2001-01-01: far below every ICT
    for v in range(4):
        _set_mtime(log, v, base + 10 * v)
    _check_against_brute(root)
    at1 = dt.datetime.fromtimestamp(base + 15, UTC)
    assert log.version_at_timestamp(at1) == 1  # per-commit ICTs would find none
    assert log.version_at_timestamp(at1, at_or_after=True) == 2


# ---- what a time travel reads ------------------------------------------------------


@pytest.fixture()
def storage_calls(monkeypatch):
    """Successful storage calls and bytes read, by method."""
    counts: Counter = Counter()
    for name in ("list_objs", "get_obj", "get_obj_head", "head_obj"):
        orig = getattr(LocalFileBackend, name)

        def counted(self, *args, _orig=orig, _name=name, **kwargs):
            out = _orig(self, *args, **kwargs)
            counts[_name] += 1
            if isinstance(out, bytes):
                counts["bytes"] += len(out)
            return out

        monkeypatch.setattr(LocalFileBackend, name, counted)
    return counts


def test_time_travel_lists_once_and_reads_only_its_version(tmp_path, storage_calls):
    # 121 commits, a checkpoint every 50 (the hint points at 100), commit v
    # written at second base + v
    root = str(tmp_path / "t")
    _append(_create(root, interval=50), 120)
    log = DeltaLog(root)
    base = 1_700_000_000
    for v in range(121):
        _set_mtime(log, v, base + v)
    assert log.read_last_checkpoint().version == 100
    storage_calls.clear()
    DeltaTable.for_version(root, 75)
    by_version = dict(storage_calls)
    storage_calls.clear()
    t = DeltaTable.for_timestamp(root, dt.datetime.fromtimestamp(base + 75.5, UTC))
    by_timestamp = dict(storage_calls)
    assert t.version == 75
    # checkpoint 50 + commits 51..75, from one listing, below the hint; the
    # one head_obj is the handle's check that _delta_log exists
    assert by_version == {
        "list_objs": 1,
        "get_obj": 26,
        "head_obj": 1,
        "bytes": by_version["bytes"],
    }
    # the same reads plus the latest commit's head (is ICT on?), and no
    # per-commit request in the search
    latest_head = os.path.getsize(log.commit_path(120))
    assert by_timestamp == {
        **by_version,
        "get_obj_head": 1,
        "bytes": by_version["bytes"] + latest_head,
    }


def test_refresh_reads_each_new_commit_once(tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    writer = _create(root)
    reader = DeltaTable(root)
    _append(writer)
    reads: list[int] = []
    orig = DeltaLog.read_commit

    def recording(self, version):
        reads.append(version)
        return orig(self, version)

    monkeypatch.setattr(DeltaLog, "read_commit", recording)
    assert reader.update() == 1
    assert reads.count(1) == 1  # and one miss on version 2 ends the fold
    assert reads == [1, 2]


# ---- _last_checkpoint is a hint ----------------------------------------------------


@pytest.fixture()
def hinted(tmp_path):
    """13 commits, checkpoints at 5 and 10 (the hint points at 10), and the
    answers of an open and two time travels with every file intact."""
    root = str(tmp_path / "t")
    t = _create(root, interval=5)
    _append(t, 12)
    return root, _answers(root)


def _answers(root: str) -> dict:
    return {v: _answer(DeltaTable(root, v)) for v in (None, 7, 11)}


def test_torn_last_checkpoint_is_ignored(hinted):
    root, want = hinted
    log = DeltaLog(root)
    with open(log.last_checkpoint_path(), "w") as f:
        f.write('{"version":1')
    assert log.read_last_checkpoint() is None
    assert log.is_delta_table()
    assert _answers(root) == want


@pytest.mark.parametrize("damage", ["checkpoint", "part", "sidecar"])
def test_missing_hinted_checkpoint_falls_back_to_the_log(hinted, damage):
    root, want = hinted
    log = DeltaLog(root)
    cp = log.read_last_checkpoint()
    single = log.checkpoint_paths(cp)[0]
    if damage == "checkpoint":
        os.remove(single)
    elif damage == "part":
        # two-part checkpoint with its second part lost
        rows = pq.read_table(single)
        half = rows.num_rows // 2
        for part, piece in ((1, rows.slice(0, half)), (2, rows.slice(half))):
            name = f"{cp.version:020d}.checkpoint.{part:010d}.{2:010d}.parquet"
            pq.write_table(piece, os.path.join(log.log_dir, name))
        os.remove(single)
        log.put_last_checkpoint(type(cp)(version=cp.version, parts=2))
        os.remove(log.checkpoint_paths(log.read_last_checkpoint())[1])
    else:
        # a newer V2 checkpoint (manifest + sidecars) whose sidecars are lost
        t = DeltaTable(root)
        t.enable_v2_checkpoints()
        t.update()
        assert t.create_checkpoint().uuid is not None
        want = _answers(root)
        sidecars = os.path.join(log.log_dir, "_sidecars")
        for name in os.listdir(sidecars):
            os.remove(os.path.join(sidecars, name))
    assert _answers(root) == want



# ---- callers that resolve a timestamp ------------------------------------------------


@pytest.fixture()
def snapshot_loads(monkeypatch):
    """The version of every ``Snapshot.load`` call (None for latest)."""
    from delta_rs_spark.protocol.snapshot import Snapshot

    loads: list = []
    load = Snapshot.load.__func__

    def recording(cls, log, version=None, listing=None):
        loads.append(version)
        return load(cls, log, version, listing)

    monkeypatch.setattr(Snapshot, "load", classmethod(recording))
    return loads


def test_stream_starting_timestamp_resolves_without_a_snapshot(tmp_path, snapshot_loads):
    from delta_rs_spark.streaming.source import DeltaStreamReader

    root = str(tmp_path / "t")
    _append(_create(root), 2)
    log = DeltaLog(root)
    base = 1_700_000_000
    for v in range(3):
        _set_mtime(log, v, base + 10 * v)
    snapshot_loads.clear()
    at1 = dt.datetime.fromtimestamp(base + 10, UTC).isoformat()
    reader = DeltaStreamReader(None, {"path": root, "startingtimestamp": at1})
    assert reader.starting_version == 1
    # only the reader's own handle on the latest version: resolving the
    # timestamp loaded no snapshot
    assert snapshot_loads == [None]


def test_sql_timestamp_as_of_loads_only_its_version(spark, tmp_path, snapshot_loads):
    from delta_rs_spark.sql import sql
    from delta_rs_spark.writer import write_deltalake

    root = str(tmp_path / "t")
    for lo in (0, 10, 20):
        write_deltalake(spark, spark.range(lo, lo + 10), root, mode="append")
    log = DeltaLog(root)
    base = 1_700_000_000
    for v in range(3):
        _set_mtime(log, v, base + 10 * v)
    snapshot_loads.clear()
    at1 = dt.datetime.fromtimestamp(base + 15, UTC).strftime("%Y-%m-%d %H:%M:%S")
    query = f"SELECT count(*) AS n FROM delta.`{root}` TIMESTAMP AS OF '{at1}'"
    assert sql(spark, query).collect()[0]["n"] == 20
    assert snapshot_loads == [1]


@pytest.fixture()
def failed_gets(monkeypatch):
    """Paths of the GETs that found no object."""
    failed: list[str] = []
    orig = LocalFileBackend.get_obj

    def counted(self, path):
        try:
            return orig(self, path)
        except FileNotFoundError:
            failed.append(path)
            raise

    monkeypatch.setattr(LocalFileBackend, "get_obj", counted)
    return failed


def test_open_makes_no_get_past_its_listing(tmp_path, failed_gets):
    """A latest open folds the commits its listing saw and probes for no
    later one: no GET of an open fails, with or without a checkpoint or a
    compaction file. A refresh still probes for the next commit, which is
    how it finds new ones."""
    root = str(tmp_path / "t")
    t = _create(root, interval=50)
    _append(t, 9)
    failed_gets.clear()
    assert DeltaTable.for_path(root).version == 9  # commits only
    _append(t, 51)  # checkpoint at 50, tail 51..60
    DeltaTable.for_path(root).compact_log(51, 55)
    failed_gets.clear()
    opened = DeltaTable.for_path(root)
    assert opened.version == 60 and len(opened.files()) == 60
    assert DeltaTable.for_version(root, 58).version == 58
    assert DeltaTable.for_path(root).version == 60
    assert failed_gets == []

    opened.update()
    assert [p.rsplit("/", 1)[-1] for p in failed_gets] == [f"{61:020d}.json"]
