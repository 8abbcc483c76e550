"""Merge-on-read DML via deletion vectors.

The reference (delta-rs v0) predates the public Delta deletionVector
feature; this engine adds it Spark-first, and tables created by
``write_deltalake`` have it on (``delta.enableDeletionVectors=true``, reader
3 / writer 7 with the ``deletionVectors`` feature from version 0) unless
the caller sets the property to ``false``. DELETE, UPDATE and MERGE find
the matching rows' (file, row_index) positions through the scan's
``_metadata`` columns (no UDF) and re-commit the same data files with
SPEC-format descriptors — RoaringBitmap DVs per the public Delta protocol
(``protocol/dv.py``: every DV in the commit's framed .bin file, storageType
"u"; inline "i" and absolute "p" descriptors read), so the table and its
``deletionVectors`` feature token are foreign-readable. Readers drop the
positions inside the scan with a bitmap test on ``_metadata.row_index``
(an anti join for bitmaps past
``DV_BITMAP_MAX_BYTES``); OPTIMIZE materializes; stats fold subtracts
cardinality; the pre-round-3 parquet-dir format still decodes (legacy
fixture test below).
"""

import dataclasses
import json
import os
import struct
import time

import pytest
from pyspark.sql import functions as F

from delta_rs_spark import DeltaTable
from delta_rs_spark.protocol import dv
from delta_rs_spark.protocol.actions import RemoveAction
from delta_rs_spark.protocol.storage import LocalFileBackend
from delta_rs_spark.transactions import DeltaTransaction
from delta_rs_spark.writer import write_deltalake


def _make_table(spark, path, enable_dv=True, enable_cdf=False, nfiles=4, rows=400):
    cfg = {"delta.enableDeletionVectors": "true" if enable_dv else "false"}
    if enable_cdf:
        cfg["delta.enableChangeDataFeed"] = "true"
    df = spark.range(0, rows).selectExpr(
        "id", "id % 10 as k", "concat('v', id) as v"
    )
    write_deltalake(spark, df.repartition(nfiles), path, configuration=cfg)
    return DeltaTable.for_path(path)


def test_dv_delete_keeps_files_and_hides_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    files_before = sorted(t.files())

    res = t.delete(spark, "k = 3")
    assert res["numDeletedRows"] == 40
    assert res["numAddedFiles"] == 0  # no data rewrite — that's the point
    assert res["numDeletionVectorsAdded"] >= 1

    t2 = DeltaTable.for_path(path)
    assert sorted(t2.files()) == files_before
    assert all(a.deletion_vector for a in t2.add_actions() if a.dv_cardinality)
    out = t2.to_df(spark)
    assert out.count() == 360
    assert out.filter("k = 3").count() == 0
    # metadata-only count subtracts cardinality, no scan
    assert t2.count_rows() == 360
    # min/max fast path refuses (deleted rows may have held the extremum)
    assert t2.column_min_max("id") is None


def _enable_dv_like_older_builds(t):
    """Turn the property on with a bare metaData commit — how builds that
    bumped the protocol lazily, in the first DV commit, left a table."""
    import dataclasses

    meta = t.metadata()
    txn = t.begin()
    txn.add_action(
        dataclasses.replace(
            meta,
            configuration={**meta.configuration, "delta.enableDeletionVectors": "true"},
        )
    )
    txn.commit(operation="SET TBLPROPERTIES")
    t.update()


def test_dv_protocol_bump_and_time_travel(spark, tmp_path):
    """A legacy (1, 2) table whose property was flipped without a protocol
    change gets the reader 3 / writer 7 bump in its first DV commit."""
    path = str(tmp_path / "t")
    t = _make_table(spark, path, enable_dv=False)
    assert t.protocol_versions() == (1, 2)
    _enable_dv_like_older_builds(t)
    res = t.delete(spark, "k = 0")
    t2 = DeltaTable.for_path(path)
    assert t2.protocol_versions() == (3, 7)
    # the spec's own feature token: descriptors are the public RoaringBitmap
    # format now (protocol/dv.py), so a conformant foreign DV reader can
    # actually read the table — advertising the real feature is correct
    state = t2.snapshot.state
    assert state.reader_features == ["deletionVectors"]
    # writer 7's list is exhaustive: the legacy writer-2 features the table
    # was created with (appendOnly/invariants) are enumerated alongside
    assert "deletionVectors" in state.writer_features
    assert {"appendOnly", "invariants"} <= set(state.writer_features)
    for a in t2.add_actions():
        if a.deletion_vector:
            assert a.deletion_vector["storageType"] in ("u", "i", "p")
    # the pre-delete version still reads every row under its own state
    t_old = DeltaTable.for_version(path, res["version"] - 1)
    assert t_old.to_df(spark).count() == 400


def test_dv_second_delete_merges_descriptors(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    t.delete(spark, "k = 3")
    t2 = DeltaTable.for_path(path)
    t2.delete(spark, "k = 5")
    t3 = DeltaTable.for_path(path)
    assert t3.to_df(spark).count() == 320
    assert t3.count_rows() == 320
    # merged descriptor: one DV'd add per file, ONE bitmap holding the union
    # of both deletes (no artifact chaining — repeated deletes stay O(1)
    # descriptors per file), cardinality summed
    from delta_rs_spark.protocol.dv import add_positions

    dv_adds = [a for a in t3.add_actions() if a.deletion_vector]
    assert sum(a.dv_cardinality for a in dv_adds) == 80
    for a in dv_adds:
        positions = add_positions(t3.log, a)
        assert len(positions) == a.dv_cardinality
        assert positions == sorted(set(positions))


def test_dv_full_file_delete_emits_plain_tombstone(spark, tmp_path):
    path = str(tmp_path / "t")
    # partition by k so one partition == one file; deleting k=2 empties it
    df = spark.range(0, 100).selectExpr("id", "id % 5 as k")
    write_deltalake(
        spark,
        df,
        path,
        partition_by=["k"],
        configuration={"delta.enableDeletionVectors": "true"},
    )
    t = DeltaTable.for_path(path)
    # `k = 2` is partition-exact: the NEW fast path tombstones the whole
    # partition with no scan (and, a fortiori, no DV)
    res = t.delete(spark, "k = 2")
    assert res["numRemovedFiles"] >= 1
    assert res["numAddedFiles"] == 0
    t2 = DeltaTable.for_path(path)
    assert t2.to_df(spark).count() == 80
    assert not any(a.deletion_vector for a in t2.add_actions())

    # the SAME rows addressed by a non-partition expression go down the
    # merge-on-read path; a file whose every row dies must get a plain
    # tombstone, never a 100%-dead deletion vector
    res2 = t2.delete(spark, "id % 5 = 3")
    assert res2["numDeletionVectorsAdded"] == 0
    t3 = DeltaTable.for_path(path)
    assert t3.to_df(spark).count() == 60
    assert not any(a.deletion_vector for a in t3.add_actions())


def test_dv_partitioned_table_positions(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(0, 300).selectExpr("id", "id % 3 as p", "id * 2 as val")
    write_deltalake(
        spark,
        df,
        path,
        partition_by=["p"],
        configuration={"delta.enableDeletionVectors": "true"},
    )
    t = DeltaTable.for_path(path)
    # predicate on a non-partition column inside one partition
    res = t.delete(spark, "p = 1 AND val < 100")
    t2 = DeltaTable.for_path(path)
    got = {r.id for r in t2.to_df(spark).collect()}
    expected = {i for i in range(300) if not (i % 3 == 1 and i * 2 < 100)}
    assert got == expected
    assert res["numDeletedRows"] == 300 - len(expected)


def test_dv_update_merge_on_read(spark, tmp_path):
    """UPDATE on a DV-enabled table: matched rows move to small new files,
    old positions get DV'd — unmatched rows are never rewritten."""
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    files_before = set(t.file_uris())
    res = t.update_where(spark, "k = 4", {"v": "'updated'"})
    assert res["numUpdatedRows"] == 40
    assert res["numDeletionVectorsAdded"] >= 1
    t2 = DeltaTable.for_path(path)
    # original files all still present (DV'd, not rewritten) + new small adds
    assert files_before <= set(t2.file_uris())
    out = t2.to_df(spark)
    assert out.count() == 400  # row count invariant under UPDATE
    assert out.filter("v = 'updated'").count() == 40
    assert out.filter("k = 4 AND v != 'updated'").count() == 0
    # updated rows are not double-visible
    assert out.select("id").distinct().count() == 400


def test_dv_update_after_delete_honors_positions(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    t.delete(spark, "k = 3")
    t2 = DeltaTable.for_path(path)
    t2.update_where(spark, "k = 4", {"v": "'updated'"})
    t3 = DeltaTable.for_path(path)
    out = t3.to_df(spark)
    assert out.count() == 360  # update did not resurrect deleted rows
    assert out.filter("v = 'updated'").count() == 40
    assert out.filter("k = 3").count() == 0


def test_dv_update_cdf_pre_and_postimage(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _make_table(spark, path, enable_cdf=True)
    res = t.update_where(spark, "id = 17", {"v": "'new17'"})
    t2 = DeltaTable.for_path(path)
    rows = t2.load_cdf(
        spark, starting_version=res["version"], ending_version=res["version"]
    ).collect()
    kinds = sorted(r["_change_type"] for r in rows)
    assert kinds == ["update_postimage", "update_preimage"]
    post = next(r for r in rows if r["_change_type"] == "update_postimage")
    assert post.v == "new17"


def test_dv_optimize_materializes(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    t.delete(spark, "k IN (3, 5)" if False else "k = 3")
    t2 = DeltaTable.for_path(path)
    t2.optimize(spark)
    t3 = DeltaTable.for_path(path)
    assert not any(a.deletion_vector for a in t3.add_actions())
    assert t3.to_df(spark).count() == 360
    # once materialized the metadata min/max fast path works again
    assert t3.column_min_max("k") is not None


def test_dv_checkpoint_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    t.delete(spark, "k = 7")
    t2 = DeltaTable.for_path(path)
    t2.create_checkpoint()
    t3 = DeltaTable.for_path(path)  # loads from checkpoint + empty tail
    dv_adds = [a for a in t3.add_actions() if a.deletion_vector]
    assert sum(a.dv_cardinality for a in dv_adds) == 40
    assert t3.to_df(spark).count() == 360


def _inline_descriptor(positions: list[int]) -> dict:
    """A storageType "i" descriptor as older builds of this engine and
    other writers commit it: Z85 of the DV magic and bitmap, zero-padded to
    a multiple of 4 bytes. The engine itself writes only "u"."""
    data = struct.pack("<I", dv.DV_MAGIC) + dv.serialize_roaring64(positions)
    return {
        "storageType": "i",
        "pathOrInlineDv": dv.z85_encode(data + b"\0" * (-len(data) % 4)),
        "sizeInBytes": len(data),
        "cardinality": len(set(positions)),
    }


def _commit_inline_dv(t, add, positions: list[int]) -> dict:
    """Swap ``add`` for itself with an inline DV of ``positions``, by hand;
    returns the descriptor."""
    descriptor = _inline_descriptor(positions)
    now = int(time.time() * 1000)
    txn = DeltaTransaction(t)
    txn.add_actions([
        RemoveAction(
            path=add.path, deletion_timestamp=now, data_change=True,
            extended_file_metadata=True, partition_values=add.partition_values,
            size=add.size,
        ),
        dataclasses.replace(add, deletion_vector=descriptor, modification_time=now),
    ])
    txn.commit("DELETE")
    return descriptor


def _logged_descriptors(path: str) -> list[tuple[str, dict]]:
    """(action kind, deletionVector) of every add and remove in the log."""
    out = []
    log_dir = os.path.join(path, "_delta_log")
    for name in sorted(os.listdir(log_dir)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                for kind, action in json.loads(line).items():
                    if kind in ("add", "remove") and action.get("deletionVector"):
                        out.append((kind, action["deletionVector"]))
    return out


def test_dv_checkpoint_mixed_descriptor_shapes(spark, tmp_path):
    """Inline ("i") and filed ("u") descriptors in ONE checkpoint: pyarrow
    unifies them into a superset struct with None-filled gaps (offset only
    exists for "u"), and the decode must strip those back out — offset=None
    on an inline descriptor used to poison DV reads after a checkpoint. The
    engine writes only "u", so the inline one is committed by hand."""
    path = str(tmp_path / "t")
    t = _make_table(spark, path, rows=40000)  # 10k rows x 4 files
    t.delete(spark, "k = 1")  # 1k positions/file -> filed "u" descriptors
    write_deltalake(
        spark,
        spark.range(100000, 100100).selectExpr("id", "id % 10 as k", "concat('v', id) as v").coalesce(1),
        path,
        mode="append",
    )
    t2 = DeltaTable.for_path(path)
    (new_add,) = [a for a in t2.add_actions() if not a.deletion_vector]
    # the even ids of the appended file: 50 positions inline
    _commit_inline_dv(t2, new_add, list(range(0, 100, 2)))
    t3 = DeltaTable.for_path(path)
    kinds = {
        a.deletion_vector["storageType"]
        for a in t3.add_actions()
        if a.deletion_vector
    }
    assert kinds == {"u", "i"}
    expected = 40000 + 100 - 4000 - 50
    assert t3.to_df(spark).count() == expected

    t3.create_checkpoint()
    t4 = DeltaTable.for_path(path)  # checkpoint + empty tail
    for a in t4.add_actions():
        if a.deletion_vector:
            assert all(v is not None for v in a.deletion_vector.values())
    assert t4.count_rows() == expected
    assert t4.to_df(spark).count() == expected
    assert t4.to_df(spark).filter("k = 1 and id < 100000").count() == 0


def test_dv_pyarrow_read_paths(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    t.delete(spark, "k = 9")
    t2 = DeltaTable.for_path(path)
    # driver-only (Spark-free) read honors positions
    pt = t2.to_pyarrow_table()
    assert pt.num_rows == 360
    assert len(t2.to_pandas()) == 360
    # a raw Dataset cannot express position deletes → explicit refusal
    with pytest.raises(ValueError, match="deletion vectors"):
        t2.to_pyarrow_dataset()


def test_dv_vacuum_keeps_position_files(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    t.delete(spark, "k = 1")
    t2 = DeltaTable.for_path(path)
    listed = t2.vacuum(retention_hours=168, dry_run=True)
    assert not any("_deletion_vectors" in p for p in listed)


def test_dv_vacuum_reaps_orphaned_position_files(spark, tmp_path):
    """DV .bin files age on a REMOVAL-time clock, not file mtime: after
    OPTIMIZE materializes the deletes, the tombstones carry the DV
    descriptor, so the file stays protected while they are unexpired
    (pre-OPTIMIZE versions are still time-travel-readable and need it) —
    even if its mtime is ancient. Once the tombstones expire, the file is
    reaped immediately."""
    import json
    import os
    import time

    path = str(tmp_path / "t")
    # the delete's DVs share one deletion_vector_<uuid>.bin (storageType "u")
    t = _make_table(spark, path, rows=40000)
    t.delete(spark, "k = 1")
    t2 = DeltaTable.for_path(path)
    assert any(
        a.deletion_vector and a.deletion_vector["storageType"] == "u"
        for a in t2.add_actions()
    )
    dv_bins = [
        f for f in os.listdir(path) if f.startswith("deletion_vector_")
    ]
    assert dv_bins
    t2.optimize(spark)
    t3 = DeltaTable.for_path(path)
    assert not any(a.deletion_vector for a in t3.add_actions())

    # unexpired tombstones protect the file even with aged mtimes — the
    # pre-fix behavior (reap on creation mtime) broke time travel
    old = time.time() - 200 * 3600
    for f in dv_bins:
        os.utime(os.path.join(path, f), (old, old))
    assert not any("deletion_vector_" in p for p in t3.vacuum(dry_run=True))

    # expire every tombstone by rewriting its deletionTimestamp in the log
    old_ms = int(old * 1000)
    log_dir = os.path.join(path, "_delta_log")
    for fname in os.listdir(log_dir):
        if not fname.endswith(".json"):
            continue
        fp = os.path.join(log_dir, fname)
        lines = []
        with open(fp) as fh:
            for line in fh:
                if not line.strip():
                    continue
                obj = json.loads(line)
                if "remove" in obj:
                    obj["remove"]["deletionTimestamp"] = old_ms
                lines.append(json.dumps(obj, separators=(",", ":")))
        with open(fp, "w") as fh:
            fh.write("\n".join(lines))

    t4 = DeltaTable.for_path(path)
    listed = t4.vacuum(retention_hours=168, dry_run=True)
    assert any("deletion_vector_" in p for p in listed)
    t4.vacuum(retention_hours=168, dry_run=False)
    assert not [f for f in os.listdir(path) if f.startswith("deletion_vector_")]


def test_legacy_parquet_dir_descriptor_still_reads(spark, tmp_path):
    """Tables written by pre-round-3 builds carry
    ``{storageType:'d', paths:[...position-parquet dirs]}`` descriptors;
    the reader must keep honoring them (and a follow-up delete merges them
    into a spec bitmap). Fixture built by hand — current code never writes
    the legacy format anymore."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "legacy")
    t = _make_table(spark, path, nfiles=1, rows=100)
    add = t.add_actions()[0]

    # hand-write the legacy positions dir: rows 0,1,2 of the file are dead
    dv_dir = os.path.join(path, "_deletion_vectors", "fixture")
    os.makedirs(dv_dir)
    pq.write_table(
        pa.table({"path": [add.path] * 3, "row_index": [0, 1, 2]}),
        os.path.join(dv_dir, "part-0.parquet"),
    )
    # and the swap commit, exactly as round-2 builds emitted it
    commit = [
        {"remove": {"path": add.path, "deletionTimestamp": 1, "dataChange": True}},
        {
            "add": {
                "path": add.path,
                "size": add.size,
                "partitionValues": {},
                "modificationTime": 1,
                "dataChange": True,
                "stats": add.stats,
                "deletionVector": {
                    "storageType": "d",
                    "paths": ["_deletion_vectors/fixture"],
                    "cardinality": 3,
                    "sizeInBytes": 200,
                },
            }
        },
    ]
    with open(os.path.join(path, "_delta_log", f"{1:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(o) for o in commit) + "\n")

    t2 = DeltaTable.for_path(path)
    assert t2.count_rows() == 97
    out = t2.to_df(spark)
    assert out.count() == 97
    assert sorted(r.id for r in out.orderBy("id").limit(3).collect()) == [3, 4, 5]
    # pyarrow path honors legacy descriptors too
    assert t2.to_pyarrow_table().num_rows == 97

    # a NEW delete on the legacy table merges old dir positions + new hits
    # into one spec-format bitmap
    t2.delete(spark, "id >= 95")
    t3 = DeltaTable.for_path(path)
    dv_add = next(a for a in t3.add_actions() if a.deletion_vector)
    assert dv_add.deletion_vector["storageType"] in ("u", "i")
    assert dv_add.dv_cardinality == 8  # 3 legacy + 5 new
    assert t3.to_df(spark).count() == 92


def test_dv_cdf_records_row_level_deletes(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _make_table(spark, path, enable_cdf=True)
    res = t.delete(spark, "k = 6")
    t2 = DeltaTable.for_path(path)
    cdf = t2.load_cdf(spark, starting_version=res["version"], ending_version=res["version"])
    rows = cdf.collect()
    assert len(rows) == 40
    assert all(r["_change_type"] == "delete" for r in rows)
    assert all(r.k == 6 for r in rows)


def test_dv_load_cdf_without_change_files_synthesizes(spark, tmp_path):
    """A DV commit with no change files still yields a correct feed: the
    newly-recorded positions ARE the deleted rows (no rewrite to read)."""
    path = str(tmp_path / "t")
    t = _make_table(spark, path, enable_cdf=False)
    res = t.delete(spark, "k = 6")
    t2 = DeltaTable.for_path(path)
    rows = t2.load_cdf(
        spark, starting_version=res["version"], ending_version=res["version"]
    ).collect()
    assert len(rows) == 40
    assert all(r["_change_type"] == "delete" for r in rows)
    assert all(r.k == 6 for r in rows)
    assert all(r["_commit_version"] == res["version"] for r in rows)


def test_dv_load_cdf_no_phantom_deletes(spark, tmp_path):
    """MoR delete of k=1 (v1, DV), then MoR delete of every remaining row of
    the same files (v2, tombstone-only commit): the v2 feed must NOT re-emit
    the k=1 rows deleted in v1."""
    path = str(tmp_path / "t")
    t = _make_table(spark, path, enable_cdf=False)
    r1 = t.delete(spark, "k = 1")
    t2 = DeltaTable.for_path(path)
    r2 = t2.delete(spark, "k <> 1")  # kills every remaining row
    t3 = DeltaTable.for_path(path)
    v2 = t3.load_cdf(
        spark, starting_version=r2["version"], ending_version=r2["version"]
    ).collect()
    assert all(r["_change_type"] == "delete" for r in v2)
    assert not any(r.k == 1 for r in v2), "phantom delete of already-deleted rows"
    assert len(v2) == 400 - r1["numDeletedRows"]
    # and the union of both feeds covers the table exactly once
    v1 = t3.load_cdf(
        spark, starting_version=r1["version"], ending_version=r1["version"]
    ).collect()
    assert len(v1) + len(v2) == 400


def test_dv_disabled_table_stays_copy_on_write(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _make_table(spark, path, enable_dv=False)
    res = t.delete(spark, "k = 3")
    assert res["numAddedFiles"] > 0  # rewrite happened
    t2 = DeltaTable.for_path(path)
    assert not any(a.deletion_vector for a in t2.add_actions())
    assert t2.to_df(spark).count() == 360


def test_dv_stream_partitions_filter_positions(spark, tmp_path):
    """A DV re-add streamed under ignoreChanges emits only live rows — the
    executor-side reader drops the file's deleted positions."""
    path = str(tmp_path / "t")
    t = _make_table(spark, path, nfiles=2, rows=100)
    t.delete(spark, "k = 4")

    from delta_rs_spark.streaming.source import DeltaStreamReader

    reader = DeltaStreamReader(None, {"path": path, "startingversion": "0"})
    with pytest.raises(RuntimeError, match="ignoreChanges"):
        reader.partitions({"version": 0}, {"version": 1})

    reader2 = DeltaStreamReader(
        None, {"path": path, "startingversion": "0", "ignorechanges": "true"}
    )
    parts = reader2.partitions({"version": 0}, {"version": 1})
    # spec DVs ship as descriptors and decode executor-side in read()
    assert parts and all(
        p.dv_descriptor is not None or p.dv_positions for p in parts
    )
    import pyarrow as pa

    tbl = pa.Table.from_batches([b for p in parts for b in reader2.read(p)])
    assert tbl.num_rows == 90
    assert 4 not in set(tbl.column("k").to_pylist())


def test_dv_read_plan_filters_positions_in_scan(spark, tmp_path):
    """Deleted positions are dropped inside the scan: a filter on
    ``_metadata.row_index`` in the scan's own stage — no join, no shuffle
    and no BroadcastNestedLoopJoin, so a 100 TB scan never moves the table
    to apply kilobytes of positions."""
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    t.delete(spark, "k = 2")
    t2 = DeltaTable.for_path(path)
    df = t2.to_df(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "row_index" in plan
    assert df.count() == 360
    assert df.filter("k = 2").count() == 0


def test_dv_many_files_fall_back_to_broadcast_anti_join(spark, tmp_path, monkeypatch):
    """Up to ``DV_IN_SCAN_MAX_FILES`` scanned files, files with and without
    a DV share one filtered scan (no union, no join); past it the DV'd
    files anti-join their positions and the plain ones get their own
    scan. Both sides return the same rows."""
    from delta_rs_spark.protocol.snapshot import Snapshot

    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    t.delete(spark, "k = 2")
    write_deltalake(
        spark, spark.range(400, 450).selectExpr("id", "id % 10 as k", "concat('v', id) as v"),
        path, mode="append",
    )
    t2 = DeltaTable.for_path(path)
    adds = t2.add_actions()
    assert any(a.deletion_vector for a in adds) and not all(a.deletion_vector for a in adds)
    want = [i for i in range(400) if i % 10 != 2] + list(range(400, 450))

    def plan_and_ids():
        df = t2.to_df(spark)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan, sorted(r.id for r in df.collect())

    monkeypatch.setattr(Snapshot, "DV_IN_SCAN_MAX_FILES", len(adds))
    plan, ids = plan_and_ids()
    assert "Join" not in plan and "Union" not in plan and "row_index" in plan
    assert ids == want
    monkeypatch.setattr(Snapshot, "DV_IN_SCAN_MAX_FILES", len(adds) - 1)
    plan, ids = plan_and_ids()
    assert "BroadcastNestedLoopJoin" not in plan and "Broadcast" in plan
    assert "Union" in plan and ids == want


def test_dv_large_bitmap_falls_back_to_broadcast_anti_join(spark, tmp_path, monkeypatch):
    """Past ``DV_BITMAP_MAX_BYTES`` of bitmap the positions are anti-joined
    instead, and that join broadcasts the (small) positions side. At
    exactly the bitmap's size the filter still runs in the scan."""
    from delta_rs_spark.protocol.dv import add_positions
    from delta_rs_spark.protocol.snapshot import Snapshot

    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    t.delete(spark, "k = 2")
    t2 = DeltaTable.for_path(path)
    dv_adds = [a for a in t2.add_actions() if a.deletion_vector]
    bitmap_bytes = sum(8 * ((max(add_positions(t2.log, a)) >> 6) + 1) for a in dv_adds)

    def plan():
        return t2.to_df(spark)._jdf.queryExecution().executedPlan().toString()

    monkeypatch.setattr(Snapshot, "DV_BITMAP_MAX_BYTES", bitmap_bytes)
    assert "Join" not in plan()
    monkeypatch.setattr(Snapshot, "DV_BITMAP_MAX_BYTES", bitmap_bytes - 1)
    assert "BroadcastNestedLoopJoin" not in plan()
    assert "Broadcast" in plan()  # BroadcastHashJoin / BroadcastExchange
    assert t2.to_df(spark).count() == 360
    assert t2.to_df(spark).filter("k = 2").count() == 0
    assert sorted(r.id for r in t2.to_df(spark).collect()) == [
        i for i in range(400) if i % 10 != 2
    ]


def test_new_tables_get_deletion_vectors_from_version_0(spark, tmp_path):
    """Tables created with no DV property get it on, at reader 3 / writer 7
    with ``deletionVectors`` in both feature lists; their first DV commit
    then carries no protocol action. UniForm tables and an explicit
    ``false`` opt out."""
    import json
    import os

    path = str(tmp_path / "t")
    df = spark.range(0, 40).selectExpr("id", "id % 10 as k")
    write_deltalake(spark, df.repartition(2), path)
    t = DeltaTable.for_path(path)
    assert t.metadata().configuration["delta.enableDeletionVectors"] == "true"
    assert t.protocol_versions() == (3, 7)
    state = t.snapshot.state
    assert "deletionVectors" in state.reader_features
    assert "deletionVectors" in state.writer_features
    res = t.delete(spark, "k = 1")
    assert res["numDeletionVectorsAdded"] >= 1
    log = os.path.join(path, "_delta_log", f"{res['version']:020d}.json")
    with open(log) as fh:
        assert not any("protocol" in json.loads(line) for line in fh)

    off = str(tmp_path / "off")
    write_deltalake(spark, df, off, configuration={"delta.enableDeletionVectors": "false"})
    assert DeltaTable.for_path(off).protocol_versions() == (1, 2)
    uni = str(tmp_path / "uni")
    write_deltalake(
        spark, df, uni,
        configuration={"delta.universalFormat.enabledFormats": "iceberg"},
    )
    cfg = DeltaTable.for_path(uni).metadata().configuration
    assert "delta.enableDeletionVectors" not in cfg


def test_set_properties_enabling_dvs_bumps_protocol_in_same_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _make_table(spark, path, enable_dv=False)
    v = t.set_properties({"delta.enableDeletionVectors": "true"})
    t2 = DeltaTable.for_version(path, v)
    assert t2.protocol_versions() == (3, 7)
    assert "deletionVectors" in t2.snapshot.state.reader_features
    res = t2.delete(spark, "k = 1")
    assert res["numDeletionVectorsAdded"] >= 1
    assert DeltaTable.for_path(path).protocol_versions() == (3, 7)


def test_enable_uniform_turns_deletion_vectors_off(spark, tmp_path):
    """IcebergCompat: UniForm commits the DV property off, and refuses a
    table with live DVs until ``reorg_purge`` materializes them."""
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    t.delete(spark, "k = 1")
    t = DeltaTable.for_path(path)
    with pytest.raises(ValueError, match="reorg_purge"):
        t.enable_uniform()
    t.reorg_purge(spark)
    t = DeltaTable.for_path(path)
    t.enable_uniform()
    t = DeltaTable.for_path(path)
    assert t.metadata().configuration["delta.enableDeletionVectors"] == "false"
    res = t.delete(spark, "k = 2")
    assert res["numAddedFiles"] > 0  # copy-on-write again
    assert not any(a.deletion_vector for a in DeltaTable.for_path(path).add_actions())


def test_sql_uniform_property_follows_the_same_rule(spark, tmp_path):
    """The SQL route to UniForm (ALTER TABLE SET TBLPROPERTIES) goes
    through ``set_properties`` and so follows the same IcebergCompat rule;
    setting both properties keeps the deletion vectors."""
    from delta_rs_spark.sql import sql as dsql

    def alter(path, props):
        kv = ", ".join(f"'{k}'='{v}'" for k, v in props.items())
        dsql(spark, f"ALTER TABLE delta.`{path}` SET TBLPROPERTIES ({kv})")

    uniform = {"delta.universalFormat.enabledFormats": "iceberg"}
    path = str(tmp_path / "t")
    _make_table(spark, path).delete(spark, "k = 1")
    with pytest.raises(ValueError, match="reorg_purge"):
        alter(path, uniform)
    DeltaTable.for_path(path).reorg_purge(spark)
    alter(path, uniform)
    cfg = DeltaTable.for_path(path).metadata().configuration
    assert cfg["delta.enableDeletionVectors"] == "false"
    assert cfg["delta.universalFormat.enabledFormats"] == "iceberg"

    kept = str(tmp_path / "kept")
    _make_table(spark, kept).delete(spark, "k = 1")
    alter(kept, {**uniform, "delta.enableDeletionVectors": "true"})
    t = DeltaTable.for_path(kept)
    assert t.metadata().configuration["delta.enableDeletionVectors"] == "true"
    assert t.delete(spark, "k = 2")["numDeletionVectorsAdded"] >= 1


def test_dv_merge_does_not_resurrect_deleted_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    t.delete(spark, "id = 7")  # k=7 row, single-row DV delete
    t2 = DeltaTable.for_path(path)
    src = spark.createDataFrame([(7, 99, "upserted")], "id LONG, k LONG, v STRING")
    t2.merge(spark, src, "t.id = s.id")
    t3 = DeltaTable.for_path(path)
    rows = t3.to_df(spark).filter("id = 7").collect()
    # the deleted row is NOT matched (it's logically gone) → source row inserts
    assert len(rows) == 1
    assert rows[0].v == "upserted"
    assert t3.to_df(spark).count() == 400


def test_dv_merge_upsert_merge_on_read(spark, tmp_path):
    """MERGE on a DV-enabled table: matched rows are DV'd out of their files
    and re-written (updated) into small new files, inserts appended — the
    original data files are never rewritten."""
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    files_before = set(t.file_uris())
    src = spark.createDataFrame(
        [(10, 0, "m10"), (20, 0, "m20"), (9999, 1, "new")],
        "id LONG, k LONG, v STRING",
    )
    res = t.merge(spark, src, "t.id = s.id")
    assert res["numTargetRowsUpdated"] == 2
    assert res["numTargetRowsInserted"] == 1
    assert res["numDeletionVectorsAdded"] >= 1
    t2 = DeltaTable.for_path(path)
    assert files_before <= set(t2.file_uris())  # originals intact, DV'd
    out = t2.to_df(spark)
    assert out.count() == 401
    assert out.filter("id = 10").first().v == "m10"
    assert out.filter("id = 9999").first().v == "new"
    assert out.select("id").distinct().count() == 401  # no double-visibility


def test_dv_merge_matched_delete(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    src = spark.createDataFrame([(i,) for i in range(0, 50)], "id LONG")
    res = t.merge(
        spark, src, "t.id = s.id",
        when_matched_delete=True, when_not_matched_insert=False,
    )
    assert res["numTargetRowsDeleted"] == 50
    assert res["numAddedFiles"] == 0  # pure delete — no new files at all
    t2 = DeltaTable.for_path(path)
    out = t2.to_df(spark)
    assert out.count() == 350
    assert out.filter("id < 50").count() == 0


def test_dv_merge_full_sync_mirror(spark, tmp_path):
    """when_not_matched_by_source_delete under DVs: source-unmatched rows
    are DV'd (not rewritten) and the table mirrors the source exactly."""
    path = str(tmp_path / "t")
    t = _make_table(spark, path, rows=100)
    src = spark.range(0, 60).selectExpr("id", "id % 10 as k", "concat('s', id) as v")
    res = t.merge(
        spark, src, "t.id = s.id", when_not_matched_by_source_delete=True
    )
    assert res["numTargetRowsDeleted"] == 40
    assert res["numTargetRowsUpdated"] == 60
    t2 = DeltaTable.for_path(path)
    got = {(r.id, r.v) for r in t2.to_df(spark).collect()}
    assert got == {(i, f"s{i}") for i in range(60)}


def test_dv_merge_cdf_changes(spark, tmp_path):
    path = str(tmp_path / "t")
    t = _make_table(spark, path, enable_cdf=True, rows=50)
    src = spark.createDataFrame(
        [(5, 0, "m5"), (777, 0, "new")], "id LONG, k LONG, v STRING"
    )
    res = t.merge(spark, src, "t.id = s.id")
    t2 = DeltaTable.for_path(path)
    rows = t2.load_cdf(
        spark, starting_version=res["version"], ending_version=res["version"]
    ).collect()
    kinds = sorted(r["_change_type"] for r in rows)
    assert kinds == ["insert", "update_postimage", "update_preimage"]


def test_dv_update_cdf_synthesizes_delete_plus_insert(spark, tmp_path):
    """A MoR UPDATE without change files synthesizes as delete(old rows) +
    insert(new rows): the swap add's new DV positions are the preimages,
    the commit's fresh data file carries the postimages."""
    path = str(tmp_path / "t")
    t = _make_table(spark, path, enable_cdf=False)
    res = t.update_where(spark, "k = 2", {"v": "'upd'"})
    t2 = DeltaTable.for_path(path)
    rows = t2.load_cdf(
        spark, starting_version=res["version"], ending_version=res["version"]
    ).collect()
    deletes = [r for r in rows if r["_change_type"] == "delete"]
    inserts = [r for r in rows if r["_change_type"] == "insert"]
    assert len(deletes) == res["numUpdatedRows"]
    assert len(inserts) == res["numUpdatedRows"]
    assert all(r.k == 2 for r in deletes + inserts)
    # postimages carry the updated value; preimages the original
    assert all(r.v == "upd" for r in inserts)
    assert all(r.v != "upd" for r in deletes)


def test_dml_over_inline_dv_files_the_union(spark, tmp_path):
    """A delete over a file whose DV is inline (older builds, other
    writers) writes the union of old and new positions as a "u" descriptor
    in the commit's .bin, and its remove restates the inline descriptor
    exactly."""
    path = str(tmp_path / "t")
    t = _make_table(spark, path, nfiles=1, rows=100)
    inline = _commit_inline_dv(t, t.add_actions()[0], [0, 1, 2])
    t2 = DeltaTable.for_path(path)
    assert t2.count_rows() == t2.to_df(spark).count() == 97
    assert t2.to_pyarrow_table().num_rows == 97

    t2.delete(spark, "id >= 95")
    logged = _logged_descriptors(path)
    assert logged[-2:] == [("remove", inline), logged[-1]]
    kind, new = logged[-1]
    assert kind == "add" and new["storageType"] == "u" and new["cardinality"] == 8
    t3 = DeltaTable.for_path(path)
    assert t3.to_df(spark).count() == 92
    assert sorted(r.id for r in t3.to_df(spark).collect()) == list(range(3, 95))


def test_engine_dml_writes_no_inline_dv(spark, tmp_path):
    """Every DV a delete, update or merge writes, down to a single row, is
    filed in the commit's .bin ("u"): no add or remove in the log carries
    an inline bitmap, and each commit writes one .bin."""
    path = str(tmp_path / "t")
    t = _make_table(spark, path)
    t.delete(spark, "id = 7")
    DeltaTable.for_path(path).update_where(spark, "id = 8", {"v": "'u8'"})
    src = spark.createDataFrame([(9, 0, "m9"), (999, 0, "new")], "id LONG, k LONG, v STRING")
    DeltaTable.for_path(path).merge(spark, src, "t.id = s.id")
    DeltaTable.for_path(path).delete(spark, "k = 3")
    logged = _logged_descriptors(path)
    assert {k for k, _ in logged} == {"add", "remove"}
    assert {d["storageType"] for _, d in logged} == {"u"}
    assert len({d["pathOrInlineDv"] for _, d in logged}) == 4
    assert len([f for f in os.listdir(path) if f.startswith("deletion_vector_")]) == 4
    out = DeltaTable.for_path(path).to_df(spark)
    assert out.count() == 400 - 1 + 1 - 40  # id 7, merge insert 999, k = 3
    assert out.filter("id = 8").first().v == "u8"


def test_dv_decodes_read_each_dv_file_once(spark, tmp_path, monkeypatch):
    """A delete over 9 files files their 9 DVs in one .bin; a scan (in-scan
    filter and anti join), a pyarrow read, the change feed and a second
    delete each GET that file once, not once per DV."""
    from delta_rs_spark.protocol.snapshot import Snapshot

    path = str(tmp_path / "t")
    t = _make_table(spark, path, nfiles=9, rows=900)
    assert len(t.files()) == 9
    res = t.delete(spark, "k = 1")
    assert res["numDeletionVectorsAdded"] == 9
    (dv_file,) = [f for f in os.listdir(path) if f.startswith("deletion_vector_")]

    gets: list[str] = []
    orig = LocalFileBackend.get_obj

    def counted(self, p):
        gets.append(p.rsplit("/", 1)[-1])
        return orig(self, p)

    monkeypatch.setattr(LocalFileBackend, "get_obj", counted)

    def dv_gets(fn):
        gets.clear()
        fn()
        return gets.count(dv_file)

    assert dv_gets(lambda: DeltaTable.for_path(path).to_df(spark).count()) == 1
    monkeypatch.setattr(Snapshot, "DV_IN_SCAN_MAX_FILES", 0)  # anti join
    assert dv_gets(lambda: DeltaTable.for_path(path).to_df(spark).count()) == 1
    assert dv_gets(lambda: DeltaTable.for_path(path).to_pyarrow_table()) == 1
    assert dv_gets(
        lambda: DeltaTable.for_path(path).load_cdf(spark, starting_version=res["version"]).count()
    ) == 1
    assert dv_gets(lambda: DeltaTable.for_path(path).delete(spark, "k = 2")) == 1
    assert DeltaTable.for_path(path).to_df(spark).count() == 720
