"""Row tracking (public Delta feature): stable row ids allocated from a
domainMetadata high-water mark, preserved across OPTIMIZE and copy-on-write
DELETE/UPDATE via materialized columns, and across merge-on-read deletes via
preserved baseRowId on the re-added file.

The reference (delta-rs v0) predates the feature — implemented from the
public Delta protocol spec (protocol/row_tracking.py).
"""

import pytest

from delta_rs_spark.protocol import row_tracking as rt
from delta_rs_spark.table import DeltaTable
from delta_rs_spark.writer import write_deltalake

CFG = {"delta.enableRowTracking": "true"}


def _ids(spark, t):
    return {
        r.id: (r._row_id, r._row_commit_version)
        for r in t.to_df(spark, with_row_ids=True).collect()
    }


def _mk(spark, path, n=10, configuration=CFG):
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(n)], "id long, val string"
    ).coalesce(1)
    return write_deltalake(spark, df, path, configuration=configuration)


def test_fresh_ids_and_protocol(spark, tmp_path):
    # deletion vectors off: row tracking alone needs only (1, 7)
    t = _mk(spark, str(tmp_path), configuration={**CFG, "delta.enableDeletionVectors": "false"})
    assert t.protocol_versions() == (1, 7)
    assert set(rt.FEATURES) <= set(t.snapshot.state.writer_features)
    ids = _ids(spark, t)
    assert sorted(rid for rid, _ in ids.values()) == list(range(10))
    assert all(cv == 0 for _, cv in ids.values())
    assert rt.high_water_mark(t.snapshot.state) == 9
    # materialized-column names fixed at creation
    mat_id, mat_cv = rt.materialized_names(t.metadata().configuration)
    assert mat_id and mat_cv


def test_append_continues_from_high_water_mark(spark, tmp_path):
    t = _mk(spark, str(tmp_path))
    write_deltalake(
        spark,
        spark.createDataFrame([(100, "x"), (101, "y")], "id long, val string").coalesce(1),
        str(tmp_path),
        mode="append",
    )
    t = DeltaTable.for_path(str(tmp_path))
    ids = _ids(spark, t)
    assert ids[100] == (10, 1) and ids[101] == (11, 1)
    assert rt.high_water_mark(t.snapshot.state) == 11
    # ids are unique across the table
    rids = [rid for rid, _ in ids.values()]
    assert len(set(rids)) == len(rids)


def test_cow_delete_and_update_preserve_ids(spark, tmp_path):
    t = _mk(spark, str(tmp_path))
    before = _ids(spark, t)
    t.delete(spark, "id = 3")
    t = DeltaTable.for_path(str(tmp_path))
    t.update_where(spark, "id = 5", {"val": "'updated'"})
    t = DeltaTable.for_path(str(tmp_path))
    after = _ids(spark, t)
    assert 3 not in after and len(after) == 9
    assert all(after[k][0] == before[k][0] for k in after)
    # commit version also preserved (identity metadata, not current version)
    assert all(after[k][1] == before[k][1] for k in after)


def test_optimize_preserves_ids(spark, tmp_path):
    t = _mk(spark, str(tmp_path))
    for i in range(2):
        write_deltalake(
            spark,
            spark.createDataFrame(
                [(50 + 10 * i + j, "x") for j in range(3)], "id long, val string"
            ).coalesce(1),
            str(tmp_path),
            mode="append",
        )
    t = DeltaTable.for_path(str(tmp_path))
    before = _ids(spark, t)
    assert len(t.add_actions()) == 3
    t.optimize(spark, dry_run=False)
    t = DeltaTable.for_path(str(tmp_path))
    assert len(t.add_actions()) == 1
    assert _ids(spark, t) == before


def test_merge_on_read_delete_preserves_ids(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, val string"
    ).coalesce(1)
    t = write_deltalake(
        spark, df, str(tmp_path),
        configuration={**CFG, "delta.enableDeletionVectors": "true"},
    )
    before = _ids(spark, t)
    res = t.delete(spark, "id % 10 = 0")
    assert res["numDeletionVectorsAdded"] == 1
    t = DeltaTable.for_path(str(tmp_path))
    after = _ids(spark, t)
    assert len(after) == 90
    assert all(after[k] == before[k] for k in after)
    # the DV re-add preserved the original baseRowId (no reallocation)
    assert rt.high_water_mark(t.snapshot.state) == 99


def test_checkpoint_roundtrips_domain_and_ids(spark, tmp_path):
    t = _mk(spark, str(tmp_path))
    t.delete(spark, "id = 2")
    t = DeltaTable.for_path(str(tmp_path))
    before = _ids(spark, t)
    hwm = rt.high_water_mark(t.snapshot.state)
    t.create_checkpoint()
    # force checkpoint-only load: the reload must recover hwm + baseRowIds
    t2 = DeltaTable.for_path(str(tmp_path))
    assert rt.high_water_mark(t2.snapshot.state) == hwm
    assert _ids(spark, t2) == before


def test_enable_row_tracking_backfills_existing_rows(spark, tmp_path):
    # deletion vectors off: the upgrade starts from the legacy (1, 2)
    t = _mk(spark, str(tmp_path), configuration={"delta.enableDeletionVectors": "false"})
    assert t.protocol_versions() == (1, 2)
    t.enable_row_tracking()
    t = DeltaTable.for_path(str(tmp_path))
    assert t.protocol_versions() == (1, 7)
    ids = _ids(spark, t)
    assert sorted(rid for rid, _ in ids.values()) == list(range(10))
    # idempotent
    v = t.enable_row_tracking()
    assert v == t.version


def test_set_properties_rejects_raw_flag(spark, tmp_path):
    t = _mk(spark, str(tmp_path), configuration=None)
    with pytest.raises(ValueError, match="enable_row_tracking"):
        t.set_properties({rt.ENABLE_KEY: "true"})


def test_row_tracking_with_column_mapping(spark, tmp_path):
    t = _mk(
        spark, str(tmp_path),
        # deletion vectors off: reader 2, no reader-visible feature
        configuration={**CFG, "delta.columnMapping.mode": "name", "delta.enableDeletionVectors": "false"},
    )
    assert t.protocol_versions() == (2, 7)
    wf = set(t.snapshot.state.writer_features)
    assert {"rowTracking", "domainMetadata", "columnMapping"} <= wf
    before = _ids(spark, t)
    assert sorted(rid for rid, _ in before.values()) == list(range(10))
    t.rename_column("val", "v2")
    t = DeltaTable.for_path(str(tmp_path))
    t.delete(spark, "id = 1")
    t = DeltaTable.for_path(str(tmp_path))
    after = _ids(spark, t)
    assert all(after[k] == before[k] for k in after) and len(after) == 9


def test_partitioned_row_tracking(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"v{i}", "a" if i % 2 else "b") for i in range(10)],
        "id long, val string, part string",
    ).coalesce(1)
    t = write_deltalake(spark, df, str(tmp_path), partition_by=["part"], configuration=CFG)
    ids = _ids(spark, t)
    rids = sorted(rid for rid, _ in ids.values())
    assert rids == list(range(10))
    before = _ids(spark, t)
    t.optimize(spark, dry_run=False)
    t = DeltaTable.for_path(str(tmp_path))
    # single-file-per-partition tables may skip compaction; delete then check
    t.delete(spark, "id = 4")
    t = DeltaTable.for_path(str(tmp_path))
    after = _ids(spark, t)
    assert all(after[k] == before[k] for k in after) and len(after) == 9


def test_retry_restamps_ids_after_concurrent_commit(spark, tmp_path):
    """The version race: writer B allocates ids from a stale water mark,
    loses the commit race to writer A, and must re-stamp from A's mark on
    retry — otherwise two files would share row ids."""
    from delta_rs_spark.protocol.log import DeltaLog

    t = _mk(spark, str(tmp_path), n=4)

    real_try_commit = DeltaLog.try_commit
    state = {"interleaved": False}

    def racing_try_commit(self, tmp, version):
        # fire once, on writer B's first attempt: writer A takes the version
        if not state["interleaved"]:
            state["interleaved"] = True
            write_deltalake(
                spark,
                spark.createDataFrame(
                    [(200 + i, "a") for i in range(3)], "id long, val string"
                ).coalesce(1),
                str(tmp_path),
                mode="append",
            )
        return real_try_commit(self, tmp, version)

    DeltaLog.try_commit = racing_try_commit
    try:
        write_deltalake(
            spark,
            spark.createDataFrame([(300, "b"), (301, "b")], "id long, val string").coalesce(1),
            str(tmp_path),
            mode="append",
        )
    finally:
        DeltaLog.try_commit = real_try_commit

    t = DeltaTable.for_path(str(tmp_path))
    ids = _ids(spark, t)
    rids = sorted(rid for rid, _ in ids.values())
    # 4 + 3 + 2 rows, ids dense and NON-OVERLAPPING despite the race
    assert rids == list(range(9)), rids
    assert rt.high_water_mark(t.snapshot.state) == 8
    # the loser's rows carry the version it actually committed at
    assert ids[300][1] == t.version


def test_merge_preserves_target_ids(spark, tmp_path):
    t = _mk(spark, str(tmp_path), n=6)
    before = _ids(spark, t)
    source = spark.createDataFrame(
        [(2, "merged"), (4, "merged"), (100, "new")], "id long, val string"
    )
    from delta_rs_spark.dml import merge

    merge(
        spark,
        t,
        source,
        "t.id = s.id",
        when_matched_update={"val": "s.val"},
        when_not_matched_insert=True,
    )
    t = DeltaTable.for_path(str(tmp_path))
    after = _ids(spark, t)
    # matched-updated and untouched rows keep their ids
    assert all(after[k][0] == before[k][0] for k in before)
    # the inserted row gets a fresh id beyond the old water mark
    assert after[100][0] > max(rid for rid, _ in before.values())
    rids = [rid for rid, _ in after.values()]
    assert len(set(rids)) == len(rids)
    assert t.to_df(spark).filter("val = 'merged'").count() == 2


def test_replace_where_preserves_survivor_ids(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"v{i}", "a" if i < 5 else "b") for i in range(10)],
        "id long, val string, grp string",
    ).coalesce(1)
    t = write_deltalake(spark, df, str(tmp_path), configuration=CFG)
    before = _ids(spark, t)
    write_deltalake(
        spark,
        spark.createDataFrame([(50, "x", "b")], "id long, val string, grp string"),
        str(tmp_path),
        mode="overwrite",
        replace_where="grp = 'b'",
    )
    t = DeltaTable.for_path(str(tmp_path))
    after = _ids(spark, t)
    # the untouched group keeps its ids
    assert all(after[k][0] == before[k][0] for k in range(5))
    assert after[50][0] > max(rid for rid, _ in before.values())
