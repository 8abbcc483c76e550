"""Files and Spark jobs per write. A write whose row count the engine knows
(pyarrow or pandas input, a copy-on-write rewrite) runs one write task per
``ROWS_PER_FILE`` rows, so a small write adds one file; and in-memory input
reaches Spark with its Arrow types."""

import datetime as dt
import decimal

import pyarrow as pa
import pytest

from delta_rs_spark import DeltaTable, writer
from delta_rs_spark.writer import write_deltalake


def _rows(lo: int, n: int) -> pa.Table:
    return pa.table({"id": pa.array(range(lo, lo + n), pa.int64()),
                     "v": [f"v{i}" for i in range(lo, lo + n)]})


@pytest.mark.parametrize("as_pandas", [False, True])
def test_small_in_memory_append_adds_one_file_in_one_job(
    spark, tmp_path, count_jobs, as_pandas
):
    """A 1,000-row append is one file and one Spark job, not one file per
    default-parallelism slice (4 on 4 cores)."""
    path = str(tmp_path / "t")
    write_deltalake(spark, _rows(0, 10), path)
    rows = _rows(10, 1000)
    _, jobs = count_jobs(
        lambda: write_deltalake(
            spark, rows.to_pandas() if as_pandas else rows, path, mode="append"
        )
    )
    t = DeltaTable(path)
    assert [a.num_records for a in t.add_actions()].count(1000) == 1
    assert len(t.add_actions()) == 2
    assert jobs == 1
    assert t.to_df(spark).count() == 1010


def test_append_runs_one_task_per_rows_per_file(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(writer, "ROWS_PER_FILE", 100)
    path = str(tmp_path / "t")
    t = write_deltalake(spark, _rows(0, 250), path)
    assert len(t.add_actions()) == 3
    assert sum(a.num_records for a in t.add_actions()) == 250


def test_partitioned_append_adds_one_file_per_partition_value(spark, tmp_path):
    path = str(tmp_path / "t")
    rows = _rows(0, 1000).append_column("p", pa.array([i % 3 for i in range(1000)]))
    t = write_deltalake(spark, rows, path, partition_by=["p"])
    assert sorted(a.partition_values["p"] for a in t.add_actions()) == ["0", "1", "2"]


def test_copy_on_write_delete_of_four_files_adds_one_file(spark, tmp_path):
    path = str(tmp_path / "t")
    write_deltalake(
        spark,
        spark.range(0, 400).repartitionByRange(4, "id").selectExpr("id", "id % 7 AS k"),
        path,
        configuration={"delta.enableDeletionVectors": "false"},
    )
    assert len(DeltaTable(path).add_actions()) == 4
    res = DeltaTable(path).delete(spark, "k = 0")
    assert (res["numRemovedFiles"], res["numAddedFiles"]) == (4, 1)
    assert res["numCopiedRows"] == 400 - 58
    t = DeltaTable(path)
    assert [a.num_records for a in t.add_actions()] == [342]
    assert t.to_df(spark).filter("k = 0").count() == 0


def test_in_memory_input_keeps_arrow_types(spark, tmp_path):
    """A pandas round trip turned nullable ints into double and narrowed a
    decimal(5,2) holding 1.23 and 4.56 to decimal(3,2), so a later 123.45
    no longer fit."""
    utc = dt.timezone.utc
    rows = pa.table({
        "i": pa.array([1, None], pa.int64()),
        "i32": pa.array([None, 2], pa.int32()),
        "dec": pa.array([decimal.Decimal("1.23"), decimal.Decimal("4.56")],
                        pa.decimal128(5, 2)),
        "d": pa.array([dt.date(2024, 1, 31), None], pa.date32()),
        "ts_utc": pa.array([dt.datetime(2024, 1, 31, 12, tzinfo=utc), None],
                           pa.timestamp("us", tz="UTC")),
        "ts": pa.array([dt.datetime(2024, 1, 31, 12), dt.datetime(2024, 2, 1)],
                       pa.timestamp("us")),
        "s": pa.array(["a", None], pa.string()),
    })
    path = str(tmp_path / "t")
    t = write_deltalake(spark, rows, path)
    assert t.schema().simpleString() == (
        "struct<i:bigint,i32:int,dec:decimal(5,2),d:date,ts_utc:timestamp,"
        "ts:timestamp,s:string>"
    )
    got = sorted(t.to_df(spark).collect(), key=lambda r: r.dec)
    assert [tuple(r) for r in got] == [
        (1, None, decimal.Decimal("1.23"), dt.date(2024, 1, 31),
         dt.datetime(2024, 1, 31, 12), dt.datetime(2024, 1, 31, 12), "a"),
        (None, 2, decimal.Decimal("4.56"), None, None, dt.datetime(2024, 2, 1), None),
    ]
    more = rows.slice(0, 1).set_column(
        2, "dec", pa.array([decimal.Decimal("123.45")], pa.decimal128(5, 2))
    )
    write_deltalake(spark, more, path, mode="append")
    assert sorted(r.dec for r in DeltaTable(path).to_df(spark).collect()) == [
        decimal.Decimal("1.23"), decimal.Decimal("4.56"), decimal.Decimal("123.45"),
    ]
