"""Columnar snapshot state against a dict fold.

The Arrow state (checkpoint base + commit-tail overlay, ``protocol/state.py``)
must read exactly like the obvious model — a ``dict`` per path, folded action
by action — for any mix of adds, re-adds, removes, re-adds after removes, DV
adds, txn, metaData and protocol actions, with a checkpoint at any point.
"""

from __future__ import annotations

import json
import tempfile
import uuid

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from delta_rs_spark.maintenance import _version_checksum_payload
from delta_rs_spark.protocol.actions import (
    AddAction,
    MetaDataAction,
    ProtocolAction,
    RemoveAction,
    TxnAction,
)
from delta_rs_spark.protocol.log import DeltaLog
from delta_rs_spark.protocol.stats import file_may_match
from delta_rs_spark.table import DeltaTable

_SCHEMA = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": n, "type": t, "nullable": True, "metadata": {}}
            for n, t in (("id", "long"), ("day", "string"))
        ],
    }
)
_PATHS = [f"day=d{i % 3}/f{i}.parquet" for i in range(8)]


def _meta(n: int) -> MetaDataAction:
    return MetaDataAction(
        id="t", schema_string=_SCHEMA, partition_columns=["day"], configuration={"n": str(n)}
    )


def _add(path: str, lo: int, n: int, dv: int, with_stats: bool) -> AddAction:
    stats = {"numRecords": n, "minValues": {"id": lo}, "maxValues": {"id": lo + 9},
             "nullCount": {"id": 0}}
    return AddAction(
        path=path,
        size=100 + lo,
        partition_values={"day": path[4:6]},
        modification_time=lo,
        stats=json.dumps(stats) if with_stats else None,
        deletion_vector=(
            {"storageType": "u", "pathOrInlineDv": "ab", "offset": 1, "sizeInBytes": 10,
             "cardinality": dv}
            if dv else None
        ),
    )


@st.composite
def _action(draw):
    kind = draw(st.sampled_from(["add", "add", "add", "remove", "dv", "txn", "meta", "protocol"]))
    path = draw(st.sampled_from(_PATHS))
    lo = draw(st.integers(0, 50))
    if kind == "add":
        return [_add(path, lo, draw(st.integers(1, 20)), 0, draw(st.booleans()))]
    if kind == "dv":  # a DV swap: the file is removed and re-added with a DV
        return [RemoveAction(path=path, deletion_timestamp=lo),
                _add(path, lo, 20, draw(st.integers(1, 5)), True)]
    if kind == "remove":
        return [RemoveAction(path=path, deletion_timestamp=lo, size=lo,
                             partition_values={"day": path[4:6]})]
    if kind == "txn":
        return [TxnAction(app_id=draw(st.sampled_from("ab")), version=lo)]
    if kind == "meta":
        return [_meta(lo)]
    if draw(st.booleans()):
        return [ProtocolAction(3, 7, ["deletionVectors"], ["deletionVectors"])]
    return [ProtocolAction(1, 2)]


_commits = st.lists(
    st.lists(_action(), min_size=1, max_size=5).map(lambda c: [a for x in c for a in x]),
    min_size=1,
    max_size=10,
)


class DictFold:
    """The model: one dict per path, folded action by action."""

    def __init__(self):
        self.files: dict[str, AddAction] = {}
        self.tombstones: dict[str, RemoveAction] = {}
        self.txn: dict[str, int] = {}
        self.meta = None
        self.protocol = None

    def apply(self, a) -> None:
        if isinstance(a, AddAction):
            self.tombstones.pop(a.path, None)
            self.files[a.path] = a
        elif isinstance(a, RemoveAction):
            self.files.pop(a.path, None)
            self.tombstones[a.path] = a
        elif isinstance(a, TxnAction):
            self.txn[a.app_id] = a.version
        elif isinstance(a, MetaDataAction):
            self.meta = a
        elif isinstance(a, ProtocolAction):
            self.protocol = a

    def count_rows(self):
        n = [a.logical_records for a in self.files.values()]
        return None if any(x is None for x in n) else sum(n)

    def pruned(self, col: str, op: str, lit: int) -> list[str]:
        """Files kept by a min/max predicate, evaluated on parsed JSON."""
        out = []
        for a in self.files.values():
            s = json.loads(a.stats) if a.stats else {}
            lo, hi = s.get("minValues", {}).get(col), s.get("maxValues", {}).get(col)
            if lo is None or hi is None:
                out.append(a.path)
            elif {"<": lo < lit, ">": hi > lit, "=": lo <= lit <= hi}[op]:
                out.append(a.path)
        return out


def _assert_same(t: DeltaTable, model: DictFold) -> None:
    state = t.snapshot.state
    assert t.files() == list(model.files)
    assert [a.to_json_dict() for a in t.add_actions()] == [
        a.to_json_dict() for a in model.files.values()
    ]
    assert list(state.tombstones) == list(model.tombstones)
    assert [r.to_json_dict() for r in t.get_tombstones()] == [
        r.to_json_dict() for r in model.tombstones.values()
    ]
    assert t.count_rows() == model.count_rows()
    for op, lit in (("<", 10), (">", 40), ("=", 25)):
        assert t.files(skip_predicates=[("id", op, lit)]) == model.pruned("id", op, lit)
    assert t.files(partition_filters=[("day", "=", "d1")]) == [
        p for p, a in model.files.items() if a.partition_values["day"] == "d1"
    ]
    assert state.app_transaction_version == model.txn
    payload = _version_checksum_payload(t)
    adds = list(model.files.values())
    assert payload["numFiles"] == len(adds)
    assert payload["tableSizeBytes"] == sum(a.size for a in adds)
    assert payload["numDeletionVectorsOpt"] == sum(1 for a in adds if a.deletion_vector)
    assert payload["numDeletedRecordsOpt"] == sum(a.dv_cardinality for a in adds)
    assert payload["setTransactions"] == [
        {"appId": k, "version": v} for k, v in sorted(model.txn.items())
    ]
    assert payload["metadata"] == model.meta.to_json_dict()


@settings(max_examples=100, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_commits, st.integers(0, 10))
def test_arrow_state_matches_dict_fold(commits, checkpoint_at):
    with tempfile.TemporaryDirectory() as root:
        log = DeltaLog(root)
        model = DictFold()
        version_0 = [ProtocolAction(1, 2), _meta(0)]
        cp = min(checkpoint_at, len(commits))
        refreshed = None
        for v, actions in enumerate([version_0] + commits):
            log.try_commit(log.write_tmp_commit(actions, uuid.uuid4().hex), v)
            for a in actions:
                model.apply(a)
            if v == cp:
                DeltaTable(root, version=v).create_checkpoint()
                # a handle on the checkpoint that later folds the tail in
                refreshed = DeltaTable(root)
        refreshed.update()
        _assert_same(refreshed, model)
        _assert_same(DeltaTable(root), model)
        # the state written as a checkpoint reads back the same
        DeltaTable(root).create_checkpoint()
        _assert_same(DeltaTable(root), model)


def test_cold_open_builds_no_add_actions(tmp_path, monkeypatch):
    """Opening a checkpointed 9k-file log and reading its version, file
    list and row count works on columns: no AddAction is constructed."""
    uri = str(tmp_path / "log")
    log = DeltaLog(uri)
    log.try_commit(log.write_tmp_commit([ProtocolAction(1, 2), _meta(0)], "v0"), 0)
    for v in range(1, 10):
        adds = [_add(f"day=d{i % 3}/f{v}-{i}.parquet", i % 40, 10, 0, True) for i in range(1000)]
        log.try_commit(log.write_tmp_commit(adds, uuid.uuid4().hex), v)
    DeltaTable(uri).create_checkpoint()

    built = []
    init = AddAction.__init__

    def counting(self, *args, **kwargs):
        built.append(1)
        init(self, *args, **kwargs)

    monkeypatch.setattr(AddAction, "__init__", counting)
    t = DeltaTable(uri)
    assert (t.version, len(t.files()), t.count_rows()) == (9, 9000, 90000)
    assert len(built) == 0


@pytest.mark.parametrize("as_string", [False, True])
def test_decimal_stats_stay_exact(tmp_path, as_string):
    """decimal(38,0) stats above 2**53, as JSON numbers (what Spark writes)
    or strings (what this writer writes), prune and fold exactly like each
    file's own parsed JSON, and the rest of the stats still parse as
    columns."""
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": n, "type": t, "nullable": True, "metadata": {}}
                for n, t in (("d", "decimal(38,0)"), ("id", "long"))
            ],
        }
    )
    big = 2**53 + 1

    def add(path: str, d: int) -> AddAction:
        value = str(d) if as_string else d
        stats = {"numRecords": 1, "minValues": {"d": value, "id": 0},
                 "maxValues": {"d": value, "id": 9}, "nullCount": {"d": 0, "id": 0}}
        return AddAction(path=path, size=1, stats=json.dumps(stats))

    uri = str(tmp_path / "dec")
    log = DeltaLog(uri)
    meta = MetaDataAction(id="t", schema_string=schema, partition_columns=[], configuration={})
    adds = [add("hit.parquet", big), add("below.parquet", big - 2), add("above.parquet", big + 2)]
    log.try_commit(log.write_tmp_commit([ProtocolAction(1, 2), meta, *adds], "v0"), 0)
    for _ in range(2):
        t = DeltaTable(uri)
        for op, lit in (("=", big), ("<", big), (">", big), ("<=", big - 1)):
            kept = t.files(skip_predicates=[("d", op, lit)])
            assert kept == [a.path for a in adds if file_may_match(a, [("d", op, lit)])]
        assert t.files(skip_predicates=[("d", "=", big)]) == ["hit.parquet"]
        assert t.files(skip_predicates=[("id", ">", 9)]) == []
        lo, hi = t.column_min_max("d")
        assert (int(lo), int(hi)) == (big - 2, big + 2)
        assert isinstance(t.snapshot.state.live_files().stats()._parsed, pa.Table)
        t.create_checkpoint()  # the second pass opens from it
