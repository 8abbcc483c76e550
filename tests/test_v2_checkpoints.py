"""V2 checkpoints (public `v2Checkpoint` feature): manifest + sidecars.

The manifest ({v}.checkpoint.{uuid}.parquet) stays KB-sized regardless of
file count — singleton actions, one checkpointMetadata row, and sidecar rows
pointing at _delta_log/_sidecars/{uuid}.parquet files holding add/remove.
"""

import io
import os

import pyarrow.parquet as pq
import pytest

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.maintenance import cleanup_expired_logs, create_checkpoint
from delta_rs_spark.protocol.log import DeltaLog


@pytest.fixture()
def v2_table(spark, tmp_path, sf_dir):
    df = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    uri = str(tmp_path / "t")
    # a legacy (1, 2) table: enabling v2 checkpoints makes the lists mandatory
    write_deltalake(spark, df, uri, configuration={"delta.enableDeletionVectors": "false"})
    for _ in range(3):
        write_deltalake(spark, df.limit(2), uri, mode="append")
    t = DeltaTable(uri)
    t.enable_v2_checkpoints()
    return uri


def test_enable_bumps_protocol_with_exhaustive_lists(v2_table):
    t = DeltaTable(v2_table)
    assert t.protocol_versions() == (3, 7)
    state = t.snapshot.state
    assert "v2Checkpoint" in state.reader_features
    assert "v2Checkpoint" in state.writer_features
    # legacy writer-2 features enumerated when the list became mandatory
    assert {"appendOnly", "invariants"} <= set(state.writer_features)
    assert t.metadata().configuration["delta.checkpointPolicy"] == "v2"


def test_v2_checkpoint_roundtrip_and_layout(v2_table):
    t = DeltaTable(v2_table)
    files_before = sorted(t.file_uris())
    cp = create_checkpoint(t)
    assert cp.uuid is not None
    log = DeltaLog(v2_table)

    # manifest carries no file actions — only sidecar pointers
    manifest = pq.read_table(
        io.BytesIO(log.backend.get_obj(log.checkpoint_paths(cp)[0]))
    )
    assert "sidecar" in manifest.column_names
    assert "add" not in manifest.column_names
    cpm = [d for d in manifest.column("checkpointMetadata").to_pylist() if d]
    assert cpm and cpm[0]["version"] == cp.version
    sidecars = [d for d in manifest.column("sidecar").to_pylist() if d]
    assert sidecars
    for sc in sidecars:
        assert log.backend.exists(log.sidecar_path(sc["path"]))

    # a fresh load replays from the v2 checkpoint (delete the commits' JSON
    # would be cleanup's job; instead verify state equality straight)
    t2 = DeltaTable(v2_table)
    assert t2.version == t.version
    assert sorted(t2.file_uris()) == files_before


def test_multiple_sidecar_chunks(v2_table):
    t = DeltaTable(v2_table)
    cp = create_checkpoint(t, part_rows=2)  # force several sidecar files
    log = DeltaLog(v2_table)
    manifest = pq.read_table(
        io.BytesIO(log.backend.get_obj(log.checkpoint_paths(cp)[0]))
    )
    sidecars = [d for d in manifest.column("sidecar").to_pylist() if d]
    assert len(sidecars) >= 2
    t2 = DeltaTable(v2_table)
    assert len(t2.files()) == len(t.files())


def test_auto_checkpoint_uses_v2_policy(spark, tmp_path, sf_dir):
    df = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    uri = str(tmp_path / "auto")
    write_deltalake(spark, df, uri)
    DeltaTable(uri).enable_v2_checkpoints()
    # versions 2..10: the checkpoint-interval commit (10) auto-checkpoints
    for _ in range(9):
        write_deltalake(spark, df.limit(1), uri, mode="append")
    log = DeltaLog(uri)
    cp = log.read_last_checkpoint()
    assert cp is not None and cp.version == 10 and cp.uuid is not None
    t = DeltaTable(uri)
    assert t.version == 10


def test_policy_requires_feature(spark, tmp_path, sf_dir):
    df = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    uri = str(tmp_path / "plain")
    write_deltalake(spark, df, uri)
    with pytest.raises(ValueError, match="v2Checkpoint"):
        create_checkpoint(DeltaTable(uri), policy="v2")


def test_cleanup_reaps_stale_manifests_and_orphan_sidecars(v2_table):
    t = DeltaTable(v2_table)
    cp1 = create_checkpoint(t)
    log = DeltaLog(v2_table)
    cp1_manifest = log.checkpoint_paths(cp1)[0]

    # another commit, then a newer checkpoint supersedes cp1
    from delta_rs_spark.protocol.actions import TxnAction

    txn = t.begin()
    txn.add_action(TxnAction(app_id="x", version=1))
    txn.commit(operation="WRITE")
    t.update()
    cp2 = create_checkpoint(t)
    assert cp2.version > cp1.version

    deleted = cleanup_expired_logs(t, retention_ms=0)
    names = set(deleted)
    assert os.path.basename(cp1_manifest) in names
    assert any(n.startswith("_sidecars/") for n in names)
    # the live checkpoint's sidecars survive and the table still loads
    t3 = DeltaTable(v2_table)
    assert t3.version == t.version
    assert len(t3.files()) == len(t.files())


def test_v2_checkpoint_feature_matrix(spark, tmp_path):
    """Partitioned + column-mapped + DV'd table checkpointed as V2: the
    reload reads identical content through the manifest + sidecars, and
    time travel across the DV commit still works."""
    from pyspark.sql import functions as F

    from delta_rs_spark import write_deltalake

    uri = str(tmp_path / "matrix")
    df = spark.range(0, 30).select(
        F.col("id"),
        (F.col("id") % 3).alias("bucket"),
        (F.col("id") * 2.0).alias("v"),
    )
    write_deltalake(
        spark,
        df,
        uri,
        partition_by=["bucket"],
        configuration={
            "delta.columnMapping.mode": "name",
            "delta.enableDeletionVectors": "true",
        },
    )
    t = DeltaTable(uri)
    t.delete(spark, "id % 5 = 0")  # merge-on-read: DV descriptors on adds
    assert any(a.deletion_vector for a in t.add_actions())

    t.enable_v2_checkpoints()
    cp = create_checkpoint(t)
    assert cp.uuid is not None

    t2 = DeltaTable(uri)
    expect = sorted(i for i in range(30) if i % 5 != 0)
    got = sorted(r["id"] for r in t2.to_df(spark).collect())
    assert got == expect
    # DV descriptors round-tripped through the sidecars
    assert any(a.deletion_vector for a in t2.add_actions())
    # partition pruning still keyed on the PHYSICAL partition dirs
    one_bucket = t2.to_df(spark, partition_filters=[("bucket", "=", "1")])
    assert sorted(r["id"] for r in one_bucket.collect()) == [
        i for i in expect if i % 3 == 1
    ]
    # time travel to before the delete reads every row
    t0 = DeltaTable.for_version(uri, 0)
    assert t0.to_df(spark).count() == 30


def test_checkpoint_policy_property_routes_through_enable(spark, tmp_path, sf_dir):
    df = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    uri = str(tmp_path / "routed")
    write_deltalake(spark, df, uri)
    t = DeltaTable(uri)
    with pytest.raises(ValueError, match="enable_v2_checkpoints"):
        t.set_properties({"delta.checkpointPolicy": "v2"})


def test_sidecar_gc_aborts_on_unreadable_manifest(spark, tmp_path, monkeypatch):
    """If a surviving v2 manifest cannot be read during log cleanup, its
    sidecar references are unknown — NO sidecar may be reaped (deleting one
    would corrupt the active checkpoint)."""
    import time as _time

    from delta_rs_spark.maintenance import cleanup_expired_logs

    uri = str(tmp_path / "t")
    write_deltalake(spark, spark.range(0, 50).selectExpr("id"), uri)
    t = DeltaTable(uri)
    t.enable_v2_checkpoints()
    t.create_checkpoint()
    log = t.log

    sidecars_before = [
        m.path for m in log.backend.list_objs(log.backend.join(log.log_dir, "_sidecars"))
    ]
    assert sidecars_before

    real_get = type(log.backend).get_obj

    def failing_get(self, path):
        if ".checkpoint." in path and path.endswith(".parquet"):
            raise OSError("transient backend failure")
        return real_get(self, path)

    monkeypatch.setattr(type(log.backend), "get_obj", failing_get)
    # retention 0 would otherwise allow every sidecar to be considered
    deleted = cleanup_expired_logs(t, retention_ms=0)
    sidecars_after = [
        m.path for m in log.backend.list_objs(log.backend.join(log.log_dir, "_sidecars"))
    ]
    assert set(sidecars_after) == set(sidecars_before)
    assert not any("_sidecars/" in d for d in deleted)
