"""perfbench's tracer still binds to the engine.

``perfbench/tracing.py`` wraps engine functions by name. A renamed or deleted
function would otherwise surface only as a crash of a traced benchmark run;
here it fails the test suite.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import json
import os
import uuid
from pathlib import Path

import pyarrow as pa

import delta_rs_spark as drs
from delta_rs_spark.protocol.actions import AddAction, MetaDataAction, ProtocolAction
from delta_rs_spark.protocol.log import DeltaLog
from delta_rs_spark.protocol.snapshot import Snapshot
from delta_rs_spark.protocol.state import TableState
from delta_rs_spark.protocol.storage import LocalFileBackend
from delta_rs_spark.table import DeltaTable

TRACING = Path(__file__).resolve().parents[1] / "perfbench" / "tracing.py"


def _tracing():
    spec = importlib.util.spec_from_file_location("perfbench_tracing", TRACING)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_tracer_installs_traces_a_time_travel_and_uninstalls(spark, tmp_path):
    root = str(tmp_path / "t")
    os.makedirs(root)
    log = DeltaLog(root)
    schema = json.dumps({"type": "struct", "fields": []})
    meta = MetaDataAction(id=str(uuid.uuid4()), schema_string=schema, partition_columns=[])
    log.try_commit(log.write_tmp_commit([ProtocolAction(1, 2), meta], "v0"), 0)
    txn = DeltaTable(root).begin()
    txn.add_action(AddAction(path="a.parquet", size=1, partition_values={}, modification_time=0))
    txn.commit(operation="WRITE")
    for v in range(2):
        os.utime(log.commit_path(v), (1_700_000_000 + v, 1_700_000_000 + v))

    classes = (DeltaLog, Snapshot, TableState, LocalFileBackend, DeltaTable)
    before = [dict(vars(c)) for c in classes]
    tracer = _tracing().Tracer()
    tracer.install(spark)
    try:
        tracer.op = 0
        when = dt.datetime.fromtimestamp(1_700_000_000, dt.timezone.utc)
        assert DeltaTable.for_timestamp(root, when).version == 0
        tracer.op = None
    finally:
        tracer.uninstall()
    assert [dict(vars(c)) for c in classes] == before

    names = [span[1] for span in tracer.spans]
    # the one listing happens under a name the tracer maps to list_ms
    assert names.count("protocol.log.list_commit_versions") == 1
    assert tracer.counts["protocol.storage.list_calls"] == 1
    assert names.count("protocol.snapshot.load") == 1
    metrics = tracer.layer_metrics({0}, 1, 1.0)
    assert metrics["protocol.log.list_ms"][0] > 0
    assert metrics["protocol.log.read_commit_ms"][0] > 0


def test_tracer_counts_one_file_for_a_small_pyarrow_append(spark, tmp_path):
    """The per-layer count behind the one-file-per-small-write rule, under
    the names the tracer binds: a 1,000-row pyarrow append publishes one
    data file."""
    root = str(tmp_path / "t")
    drs.write_deltalake(spark, pa.table({"id": pa.array([0], pa.int64())}), root)
    rows = pa.table({"id": pa.array(range(1, 1001), pa.int64())})
    tracer = _tracing().Tracer()
    tracer.install(spark)
    try:
        tracer.op = 0
        drs.write_deltalake(spark, rows, root, mode="append")
        tracer.op = None
    finally:
        tracer.uninstall()
    assert tracer.counts["writer.files_written"] == 1
    assert [s[1] for s in tracer.spans].count("writer.write_deltalake") == 1


def test_tracer_counts_checkpoint_bytes_and_cold_open_gets(spark, tmp_path):
    """The per-layer counts behind the checkpoint layout: a traced
    ``create_checkpoint`` puts exactly the checkpoint parquet and
    ``_last_checkpoint``, and a traced cold open GETs exactly the
    checkpoint and the commits after it."""
    root = str(tmp_path / "t")
    rows = pa.table({"id": pa.array(range(20), pa.int64()), "p": [str(i % 4) for i in range(20)]})
    drs.write_deltalake(spark, rows, root, partition_by=["p"])
    drs.write_deltalake(spark, rows, root, mode="append")
    table = DeltaTable(root)
    tracer = _tracing().Tracer()
    tracer.install(spark)
    try:
        tracer.op = 0
        cp = table.create_checkpoint()
        tracer.op = None
    finally:
        tracer.uninstall()
    log = table.log
    (cp_path,) = log.checkpoint_paths(cp)
    cp_size = os.path.getsize(cp_path)
    assert tracer.counts["maintenance.checkpoints"] == 1
    assert tracer.counts["maintenance.checkpoint_bytes"] == cp_size + os.path.getsize(
        log.last_checkpoint_path()
    )

    for _ in range(2):
        drs.write_deltalake(spark, rows, root, mode="append")
    tail = [os.path.getsize(log.commit_path(v)) for v in (cp.version + 1, cp.version + 2)]
    tracer = _tracing().Tracer()
    tracer.install(spark)
    try:
        tracer.op = 0
        assert DeltaTable(root).version == cp.version + 2
        tracer.op = None
    finally:
        tracer.uninstall()
    assert tracer.counts["protocol.storage.get_calls"] == 3
    assert tracer.counts["protocol.storage.get_bytes"] == cp_size + sum(tail)
