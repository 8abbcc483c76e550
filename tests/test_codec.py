"""Every parquet file the engine writes takes ``writer.PARQUET_CODEC`` and
says so in its name: data files of every write path, DML rewrites, OPTIMIZE
and auto-compaction output, and change files. Each file's footer names its
own codec, so a table whose older files are snappy reads back whole."""

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from delta_rs_spark import DeltaTable, writer
from delta_rs_spark.protocol.actions import CdcAction
from delta_rs_spark.writer import write_deltalake

COW = {"delta.enableDeletionVectors": "false"}


def _codecs(path: str) -> set[str]:
    md = pq.ParquetFile(path).metadata
    return {
        md.row_group(r).column(c).compression
        for r in range(md.num_row_groups)
        for c in range(md.num_columns)
    }


def _paths(t: DeltaTable) -> set[str]:
    return {a.path for a in t.add_actions()}


def _assert_zstd(uri: str, rels) -> None:
    rels = list(rels)
    assert rels
    for rel in rels:
        assert rel.endswith(".zstd.parquet"), rel
        assert _codecs(os.path.join(uri, rel)) == {"ZSTD"}, rel


def _rows(lo: int, n: int) -> pa.Table:
    return pa.table(
        {
            "id": pa.array(range(lo, lo + n), pa.int64()),
            "p": [i % 3 for i in range(lo, lo + n)],
            "v": [f"v{i}" for i in range(lo, lo + n)],
        }
    )


@pytest.mark.parametrize("source", ["spark", "pyarrow", "partitioned"])
def test_write_deltalake_writes_zstd(spark, tmp_path, source):
    uri = str(tmp_path / "t")
    rows = _rows(0, 300)
    if source == "spark":
        t = write_deltalake(spark, spark.createDataFrame(rows).repartition(2), uri)
    else:
        t = write_deltalake(
            spark, rows, uri, partition_by=["p"] if source == "partitioned" else None
        )
    _assert_zstd(uri, _paths(t))
    assert len(_paths(t)) == (3 if source == "partitioned" else 2 if source == "spark" else 1)


def test_copy_on_write_dml_writes_zstd(spark, tmp_path):
    uri = str(tmp_path / "t")
    write_deltalake(spark, _rows(0, 300), uri, configuration=COW)
    t = DeltaTable(uri)

    before = _paths(t)
    t.delete(spark, "id < 10")
    _assert_zstd(uri, _paths(t) - before)

    before = _paths(t)
    t.update_where(spark, "id < 20", {"v": "'upd'"})
    _assert_zstd(uri, _paths(t) - before)

    before = _paths(t)
    source = spark.createDataFrame(_rows(290, 20)).selectExpr("id", "p", "'m' AS v")
    res = t.merge(spark, source, "t.id = s.id")
    assert res["numTargetRowsInserted"] == 10
    _assert_zstd(uri, _paths(t) - before)
    assert all(a.deletion_vector is None for a in t.add_actions())
    assert t.to_df(spark).count() == 300 - 10 + 10


def test_deletion_vector_merge_writes_new_rows_as_zstd(spark, tmp_path):
    uri = str(tmp_path / "t")
    write_deltalake(spark, _rows(0, 300), uri)
    t = DeltaTable(uri)
    before = _paths(t)
    source = spark.createDataFrame(_rows(290, 20)).selectExpr("id", "p", "'m' AS v")
    t.merge(spark, source, "t.id = s.id")
    assert any(a.deletion_vector for a in t.add_actions())
    _assert_zstd(uri, _paths(t) - before)


def test_change_files_are_zstd(spark, tmp_path):
    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        _rows(0, 300),
        uri,
        configuration={**COW, "delta.enableChangeDataFeed": "true"},
    )
    t = DeltaTable(uri)
    t.update_where(spark, "id < 20", {"v": "'upd'"})
    cdc = [a.path for a in t.log.try_read_commit(t.version) if isinstance(a, CdcAction)]
    assert all(p.startswith("_change_data/cdc-") for p in cdc)
    _assert_zstd(uri, cdc)
    assert t.load_cdf(spark, starting_version=1).count() == 40


@pytest.mark.parametrize("zorder_by", [None, ["id", "v"]])
def test_optimize_writes_zstd(spark, tmp_path, zorder_by):
    uri = str(tmp_path / "t")
    write_deltalake(spark, spark.createDataFrame(_rows(0, 300)).repartition(6), uri)
    t = DeltaTable(uri)
    before = _paths(t)
    t.optimize(spark, zorder_by=zorder_by)
    assert len(_paths(t) - before) >= 1
    _assert_zstd(uri, _paths(t) - before)
    assert t.to_df(spark).count() == 300


def test_auto_compaction_writes_zstd(spark, tmp_path):
    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        _rows(0, 10),
        uri,
        configuration={
            "delta.autoOptimize.autoCompact": "true",
            "delta.autoOptimize.minNumFiles": "4",
        },
    )
    for i in range(1, 4):
        write_deltalake(spark, _rows(i * 10, 10), uri, mode="append")
    t = DeltaTable(uri)
    assert "OPTIMIZE" in [e.get("operation") for e in t.history()]
    assert len(t.add_actions()) == 1
    _assert_zstd(uri, _paths(t))


def test_snappy_and_zstd_files_read_back_together(spark, tmp_path, monkeypatch):
    """A table whose first files were written snappy (with the matching
    ``.snappy.parquet`` name) and whose later ones are zstd reads whole."""
    uri = str(tmp_path / "t")
    with monkeypatch.context() as m:
        m.setattr(writer, "PARQUET_CODEC", "snappy")
        m.setattr(writer, "PARQUET_SUFFIX", ".snappy.parquet")
        write_deltalake(spark, _rows(0, 100), uri, partition_by=["p"])
    t = DeltaTable(uri)
    v0 = _paths(t)
    assert all(p.endswith(".snappy.parquet") for p in v0)
    assert all(_codecs(os.path.join(uri, p)) == {"SNAPPY"} for p in v0)

    write_deltalake(spark, _rows(100, 50), uri, mode="append", partition_by=["p"])
    t = DeltaTable(uri)
    _assert_zstd(uri, _paths(t) - v0)

    expected = sorted(_rows(0, 150).to_pylist(), key=lambda r: r["id"])
    got_spark = sorted(
        (r.asDict() for r in t.to_df(spark).collect()), key=lambda r: r["id"]
    )
    got_arrow = sorted(t.to_pyarrow_table().to_pylist(), key=lambda r: r["id"])
    assert got_spark == expected
    assert [{**r, "p": int(r["p"])} for r in got_arrow] == expected


def _orders(n: int) -> pa.Table:
    """perfbench's ``orders_rows`` shape: order key, customer key, status,
    total price (cents) and order date."""
    r = np.random.default_rng(1)
    day = r.integers(0, 2405, n)
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": r.integers(1, 15_001, n, dtype=np.int64),
            "o_orderstatus": r.choice(np.array(["F", "O", "P"]), n),
            "o_totalprice": r.integers(100_000, 50_000_000, n, dtype=np.int64),
            "o_orderdate": pa.array(
                np.datetime64(dt.date(1992, 1, 1), "D") + day.astype("timedelta64[D]"),
                pa.date32(),
            ),
        }
    )


def test_small_append_data_file_is_smaller_than_snappy(spark, tmp_path):
    """A 1,000-row orders append writes a data file of at most 0.7x the
    bytes of the same rows written by Spark as snappy parquet."""
    rows = _orders(1000)
    uri = str(tmp_path / "t")
    write_deltalake(spark, rows, uri)
    (add,) = DeltaTable(uri).add_actions()

    snappy_dir = str(tmp_path / "snappy")
    spark.createDataFrame(rows).coalesce(1).write.option("compression", "snappy").parquet(
        snappy_dir
    )
    (snappy,) = [f for f in os.listdir(snappy_dir) if f.endswith(".parquet")]
    snappy_size = os.path.getsize(os.path.join(snappy_dir, snappy))
    assert _codecs(os.path.join(snappy_dir, snappy)) == {"SNAPPY"}
    assert add.size <= 0.7 * snappy_size, (add.size, snappy_size)
