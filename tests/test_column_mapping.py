"""Column mapping (delta.columnMapping.mode=name/id): physical-name data
files, metadata-only RENAME/DROP COLUMN, upgrade of existing tables, and
interop of every table service (DML, CDF, OPTIMIZE, checkpoints, time
travel) with mapped tables.

Public Delta protocol feature; the reference (delta-rs v0) predates it —
parity-plus surface implemented from the spec (protocol/column_mapping.py).
"""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from delta_rs_spark.protocol import column_mapping as cm
from delta_rs_spark.table import DeltaTable
from delta_rs_spark.writer import SchemaMismatchError, write_deltalake

CFG = {"delta.columnMapping.mode": "name"}


def _mk(spark, path, configuration=CFG, partition_by=None, rows=None):
    df = spark.createDataFrame(
        rows or [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")],
        "id long, val string, part string",
    ).coalesce(1)
    return write_deltalake(
        spark, df, path, partition_by=partition_by, configuration=configuration
    )


def test_create_mapped_table_reads_logical(spark, tmp_path):
    # deletion vectors off: column mapping alone needs only (2, 5)
    t = _mk(spark, str(tmp_path), configuration={**CFG, "delta.enableDeletionVectors": "false"})
    assert t.protocol_versions() == (2, 5)
    got = sorted((r.id, r.val, r.part) for r in t.to_df(spark).collect())
    assert got == [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")]
    # schema carries ids + physical names; maxColumnId tracked
    schema = t.schema()
    ids = [f.metadata[cm.ID_META] for f in schema.fields]
    assert sorted(ids) == [1, 2, 3]
    assert all(f.metadata[cm.PHYS_META].startswith("col-") for f in schema.fields)
    assert t.metadata().configuration[cm.MAX_ID_KEY] == "3"


def test_data_files_use_physical_names(spark, tmp_path):
    t = _mk(spark, str(tmp_path))
    f = glob.glob(str(tmp_path / "*.parquet"))[0]
    names = pq.read_schema(f).names
    assert all(n.startswith("col-") for n in names)
    # per-file stats are keyed physically in the log, logically via stats()
    raw = t.add_actions()[0].get_stats()
    assert all(k.startswith("col-") for k in raw["minValues"])
    logical = t.get_stats()[0]
    assert set(logical["minValues"]) == {"id", "val", "part"}


def test_partitioned_mapped_table(spark, tmp_path):
    t = _mk(spark, str(tmp_path), partition_by=["part"])
    # hive dirs + partitionValues keys are physical
    phys_part = cm.top_level_physical(t.schema())["part"]
    assert glob.glob(str(tmp_path / f"{phys_part}=x" / "*.parquet"))
    assert set(t.add_actions()[0].partition_values) == {phys_part}
    # logical partition filters still prune
    assert t.to_df(spark, partition_filters=[("part", "=", "x")]).count() == 2
    assert len(t.files([("part", "=", "y")])) == 1


def test_rename_column_is_metadata_only(spark, tmp_path):
    t = _mk(spark, str(tmp_path))
    files_before = sorted(a.path for a in t.add_actions())
    t.rename_column("val", "value")
    t = DeltaTable.for_path(str(tmp_path))
    assert sorted(a.path for a in t.add_actions()) == files_before  # no rewrite
    assert t.schema().names == ["id", "value", "part"]
    got = sorted((r.id, r.value) for r in t.to_df(spark).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # append under the new name lands in the same physical column
    write_deltalake(
        spark,
        spark.createDataFrame([(4, "d", "z")], "id long, value string, part string"),
        str(tmp_path),
        mode="append",
    )
    t = DeltaTable.for_path(str(tmp_path))
    assert t.to_df(spark).filter(F.col("value") == "d").count() == 1


def test_drop_and_re_add_column(spark, tmp_path):
    t = _mk(spark, str(tmp_path))
    t.drop_column("val")
    t = DeltaTable.for_path(str(tmp_path))
    assert t.schema().names == ["id", "part"]
    assert t.to_df(spark).columns == ["id", "part"]
    # re-adding the same logical name creates a FRESH physical column —
    # old values must not resurrect
    t.add_columns([("val", "string")])
    t = DeltaTable.for_path(str(tmp_path))
    assert t.to_df(spark).filter(F.col("val").isNull()).count() == 3
    assert int(t.metadata().configuration[cm.MAX_ID_KEY]) == 4


def test_rename_requires_mapping(spark, tmp_path):
    t = _mk(spark, str(tmp_path), configuration=None)
    with pytest.raises(SchemaMismatchError, match="requires column mapping"):
        t.rename_column("val", "value")
    with pytest.raises(SchemaMismatchError, match="requires column mapping"):
        t.drop_column("val")


def test_upgrade_existing_table(spark, tmp_path):
    # deletion vectors off: the upgrade starts from the legacy (1, 2)
    t = _mk(spark, str(tmp_path), configuration={"delta.enableDeletionVectors": "false"})
    t.set_column_mapping_mode("name")
    t = DeltaTable.for_path(str(tmp_path))
    assert t.protocol_versions() == (2, 5)
    # upgrade rule: physical name == logical name at upgrade time, so the
    # already-written files keep resolving
    assert cm.top_level_physical(t.schema()) == {
        "id": "id", "val": "val", "part": "part"
    }
    assert t.to_df(spark).count() == 3
    # rename + append after upgrade: new file writes under OLD physical name
    t.rename_column("val", "v2")
    write_deltalake(
        spark,
        spark.createDataFrame([(4, "d", "z")], "id long, v2 string, part string"),
        str(tmp_path),
        mode="append",
    )
    t = DeltaTable.for_path(str(tmp_path))
    got = sorted((r.id, r.v2) for r in t.to_df(spark).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_set_properties_rejects_raw_mode_flag(spark, tmp_path):
    t = _mk(spark, str(tmp_path), configuration=None)
    with pytest.raises(ValueError, match="set_column_mapping_mode"):
        t.set_properties({cm.MODE_KEY: "name"})


def test_nested_struct_mapping_and_rename(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, ("x", 5)), (2, ("y", 6))], "id long, s struct<a:string,b:long>"
    )
    t = write_deltalake(spark, df, str(tmp_path), configuration=CFG)
    got = sorted((r.id, r.s.a, r.s.b) for r in t.to_df(spark).collect())
    assert got == [(1, "x", 5), (2, "y", 6)]
    # nested fields carry their own ids/physical names
    s_field = next(f for f in t.schema().fields if f.name == "s")
    inner = s_field.dataType.fields
    assert all(f.metadata[cm.PHYS_META].startswith("col-") for f in inner)
    t.rename_column("s.a", "alpha")
    t = DeltaTable.for_path(str(tmp_path))
    assert sorted((r.id, r.s.alpha) for r in t.to_df(spark).collect()) == [
        (1, "x"), (2, "y"),
    ]


def test_dml_and_cdf_on_mapped_table(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(8)], "id long, val string"
    ).coalesce(1)
    t = write_deltalake(
        spark, df, str(tmp_path),
        configuration={**CFG, "delta.enableChangeDataFeed": "true"},
    )
    t.delete(spark, "id = 3")
    t = DeltaTable.for_path(str(tmp_path))
    t.update_where(spark, "id = 1", {"val": "'updated'"})
    t = DeltaTable.for_path(str(tmp_path))
    assert t.to_df(spark).count() == 7
    assert t.to_df(spark).filter("val = 'updated'").count() == 1
    from delta_rs_spark.cdf import load_cdf

    changes = sorted(
        (r.id, r.val, r._change_type, r._commit_version)
        for r in load_cdf(spark, t, 1).collect()
    )
    assert changes == [
        (1, "updated", "update_postimage", 2),
        (1, "v1", "update_preimage", 2),
        (3, "v3", "delete", 1),
    ]


def test_merge_on_read_delete_on_mapped_table(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, val string"
    ).coalesce(1)
    t = write_deltalake(
        spark, df, str(tmp_path),
        configuration={**CFG, "delta.enableDeletionVectors": "true"},
    )
    res = t.delete(spark, "id % 10 = 0")  # partial file → DV path
    assert res["numDeletionVectorsAdded"] == 1
    t = DeltaTable.for_path(str(tmp_path))
    assert t.to_df(spark).count() == 90
    assert t.count_rows() == 90  # metadata-only count through DV cardinality
    # optimize materializes the deletes; reads stay logical throughout
    t.optimize(spark, dry_run=False)
    t = DeltaTable.for_path(str(tmp_path))
    assert not any(a.deletion_vector for a in t.add_actions())
    assert t.to_df(spark).count() == 90


def test_optimize_compaction_on_mapped_partitioned_table(spark, tmp_path):
    for i in range(3):
        write_deltalake(
            spark,
            spark.createDataFrame(
                [(i * 10 + j, f"v{j}", "p1" if j % 2 else "p2") for j in range(4)],
                "id long, val string, part string",
            ),
            str(tmp_path),
            mode="append" if i else "error",
            partition_by=["part"],
            configuration=CFG,
        )
    t = DeltaTable.for_path(str(tmp_path))
    n_before = len(t.add_actions())
    m = t.optimize(spark, dry_run=False)
    assert m["numFilesRemoved"] == n_before
    t = DeltaTable.for_path(str(tmp_path))
    assert t.to_df(spark).count() == 12
    # compacted files still live under physical partition dirs
    phys_part = cm.top_level_physical(t.schema())["part"]
    assert all(a.path.startswith(f"{phys_part}=") for a in t.add_actions())


def test_checkpoint_and_time_travel_on_mapped_table(spark, tmp_path):
    t = _mk(spark, str(tmp_path), partition_by=["part"])
    t.rename_column("val", "v2")
    t = DeltaTable.for_path(str(tmp_path))
    t.create_checkpoint()
    t2 = DeltaTable.for_path(str(tmp_path))
    assert t2.version == t.version
    assert sorted((r.id, r.v2) for r in t2.to_df(spark).collect()) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    # time travel to v0 shows the original logical names
    t0 = DeltaTable.for_version(str(tmp_path), 0)
    assert t0.schema().names == ["id", "val", "part"]
    assert t0.to_df(spark).count() == 3


def test_stats_skipping_with_physical_keys(spark, tmp_path):
    # two files with disjoint id ranges; skip predicate on the LOGICAL name
    write_deltalake(
        spark,
        spark.createDataFrame([(i, "a") for i in range(10)], "id long, v string").coalesce(1),
        str(tmp_path),
        configuration=CFG,
    )
    write_deltalake(
        spark,
        spark.createDataFrame([(i, "b") for i in range(100, 110)], "id long, v string").coalesce(1),
        str(tmp_path),
        mode="append",
    )
    t = DeltaTable.for_path(str(tmp_path))
    assert len(t.add_actions()) == 2
    pruned = t.snapshot.files(skip_predicates=[("id", ">=", 100)])
    assert len(pruned) == 1
    assert t.column_min_max("id") == (0, 109)


def test_schema_merge_append_assigns_new_ids(spark, tmp_path):
    _mk(spark, str(tmp_path))
    write_deltalake(
        spark,
        spark.createDataFrame(
            [(9, "z", "q", 1.5)], "id long, val string, part string, score double"
        ),
        str(tmp_path),
        mode="append",
        schema_mode="merge",
    )
    t = DeltaTable.for_path(str(tmp_path))
    f = next(f for f in t.schema().fields if f.name == "score")
    assert f.metadata[cm.ID_META] == 4
    assert f.metadata[cm.PHYS_META].startswith("col-")
    assert int(t.metadata().configuration[cm.MAX_ID_KEY]) == 4
    assert t.to_df(spark).filter(F.col("score").isNotNull()).count() == 1


def test_pyarrow_paths_guarded(spark, tmp_path):
    t = _mk(spark, str(tmp_path))
    with pytest.raises(ValueError, match="column-mapped"):
        t.to_pyarrow_dataset()
    with pytest.raises(ValueError, match="column-mapped"):
        t.to_pyarrow_table()


def test_dv_bump_preserves_column_mapping_features(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, val string"
    ).coalesce(1)
    t = write_deltalake(
        spark, df, str(tmp_path),
        configuration={**CFG, "delta.enableDeletionVectors": "true"},
    )
    t.delete(spark, "id % 7 = 0")
    t = DeltaTable.for_path(str(tmp_path))
    assert t.protocol_versions() == (3, 7)
    state = t.snapshot.state
    assert "deletionVectors" in (state.reader_features or [])
    # the mapped table's read path still resolves after the feature bump
    assert t.to_df(spark).count() == 85


def test_rename_collision_and_dangling_references_refused(spark, tmp_path):
    from delta_rs_spark.protocol.column_mapping import ColumnMappingError
    from delta_rs_spark.writer import SchemaMismatchError

    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        spark.range(0, 5).selectExpr("id", "id AS x", "id AS y"),
        uri,
        configuration={"delta.columnMapping.mode": "name"},
    )
    t = DeltaTable(uri)
    with pytest.raises(ColumnMappingError, match="sibling"):
        t.rename_column("x", "y")

    t.add_constraint(spark, "xpos", "x >= 0")
    t = DeltaTable(uri)
    with pytest.raises(SchemaMismatchError, match="referenced by"):
        t.rename_column("x", "z")
    with pytest.raises(SchemaMismatchError, match="referenced by"):
        t.drop_column("x")
    # unreferenced columns still rename/drop fine
    t.rename_column("y", "w")
    assert "w" in DeltaTable(uri).schema().names
