"""Every parquet file the engine writes takes ``writer.PARQUET_CODEC`` and
says so in its name, and every file Spark writes for it has
``writer.PARQUET_WRITER_VERSION`` (v2) data pages: data files of every
write path, DML rewrites, OPTIMIZE and auto-compaction output, and change
files. Each file's footer names its own codec and each page header its
version, so a table whose older files are snappy or v1 reads back whole."""

import datetime as dt
import os

import duckdb
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


def _encodings(path: str) -> dict[str, set[str]]:
    """column → every encoding its chunks list."""
    md = pq.ParquetFile(path).metadata
    out: dict[str, set[str]] = {}
    for r in range(md.num_row_groups):
        for c in range(md.num_columns):
            col = md.row_group(r).column(c)
            out.setdefault(col.path_in_schema, set()).update(col.encodings)
    return out


def _paths(t: DeltaTable) -> set[str]:
    return {a.path for a in t.add_actions()}


def _assert_format(uri: str, rels, id_encoding: str = "DELTA_BINARY_PACKED") -> None:
    """Each file is zstd and named so, and has v2 pages: its int64 ``id``
    lists ``id_encoding`` (DELTA_BINARY_PACKED where every key is unique,
    where v1 writes PLAIN), and no chunk lists PLAIN_DICTIONARY, the
    dictionary encoding only the v1 writer names."""
    rels = list(rels)
    assert rels
    for rel in rels:
        path = os.path.join(uri, rel)
        assert rel.endswith(".zstd.parquet"), rel
        assert _codecs(path) == {"ZSTD"}, rel
        enc = _encodings(path)
        assert id_encoding in enc["id"], (rel, enc)
        assert not any("PLAIN_DICTIONARY" in e for e in enc.values()), (rel, enc)


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
    _assert_format(uri, _paths(t))
    assert len(_paths(t)) == (3 if source == "partitioned" else 2 if source == "spark" else 1)


def test_copy_on_write_dml_writes_zstd(spark, tmp_path):
    uri = str(tmp_path / "t")
    write_deltalake(spark, _rows(0, 300), uri, configuration=COW)
    t = DeltaTable(uri)

    before = _paths(t)
    t.delete(spark, "id < 10")
    _assert_format(uri, _paths(t) - before)

    before = _paths(t)
    t.update_where(spark, "id < 20", {"v": "'upd'"})
    _assert_format(uri, _paths(t) - before)

    before = _paths(t)
    source = spark.createDataFrame(_rows(290, 20)).selectExpr("id", "p", "'m' AS v")
    res = t.merge(spark, source, "t.id = s.id")
    assert res["numTargetRowsInserted"] == 10
    _assert_format(uri, _paths(t) - before)
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
    _assert_format(uri, _paths(t) - before)


def test_change_files_are_zstd(spark, tmp_path):
    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        _rows(0, 300),
        uri,
        configuration={**COW, "delta.enableChangeDataFeed": "true"},
    )
    t = DeltaTable(uri)

    def change_files() -> list[str]:
        cdc = [a.path for a in t.log.try_read_commit(t.version) if isinstance(a, CdcAction)]
        assert all(p.startswith("_change_data/cdc-") for p in cdc)
        return cdc

    t.update_where(spark, "id < 20", {"v": "'upd'"})
    # each id is there twice (pre- and post-image): v2 keeps the dictionary
    _assert_format(uri, change_files(), id_encoding="RLE_DICTIONARY")
    t.delete(spark, "id >= 290")
    _assert_format(uri, change_files())
    assert t.load_cdf(spark, starting_version=1).count() == 40 + 10


@pytest.mark.parametrize("zorder_by", [None, ["id", "v"]])
def test_optimize_writes_zstd(spark, tmp_path, zorder_by):
    uri = str(tmp_path / "t")
    write_deltalake(spark, spark.createDataFrame(_rows(0, 300)).repartition(6), uri)
    t = DeltaTable(uri)
    before = _paths(t)
    t.optimize(spark, zorder_by=zorder_by)
    assert len(_paths(t) - before) >= 1
    _assert_format(uri, _paths(t) - before)
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
    _assert_format(uri, _paths(t))


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
    _assert_format(uri, _paths(t) - v0)

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


def test_small_append_data_file_is_smaller_than_v1_pages(spark, tmp_path):
    """A 1,000-row orders append with sequential keys writes a data file of
    at most 0.85x the bytes of the same rows written by Spark as zstd with
    v1 pages: the keys, prices and dates are delta-encoded, not PLAIN."""
    rows = _orders(1000)
    uri = str(tmp_path / "t")
    write_deltalake(spark, rows, uri)
    (add,) = DeltaTable(uri).add_actions()

    v1_dir = str(tmp_path / "v1")
    (
        spark.createDataFrame(rows)
        .coalesce(1)
        .write.option("compression", "zstd")
        .option("parquet.writer.version", "v1")
        .parquet(v1_dir)
    )
    (v1,) = [os.path.join(v1_dir, f) for f in os.listdir(v1_dir) if f.endswith(".parquet")]
    assert _encodings(v1)["o_orderkey"] & {"DELTA_BINARY_PACKED"} == set()
    assert "DELTA_BINARY_PACKED" in _encodings(os.path.join(uri, add.path))["o_orderkey"]
    assert add.size <= 0.85 * os.path.getsize(v1), (add.size, os.path.getsize(v1))


def _typed_rows(lo: int, n: int) -> pa.Table:
    """Sorted keys, dates, doubles, unique strings and a nullable int: the
    column kinds v2 pages delta-encode or keep in a dictionary."""
    ids = np.arange(lo, lo + n, dtype=np.int64)
    return pa.table(
        {
            "id": ids,
            "d": pa.array(
                np.datetime64(dt.date(2020, 1, 1), "D") + (ids % 900).astype("timedelta64[D]"),
                pa.date32(),
            ),
            "x": ids * 1.25,
            "s": [f"name-{i:06d}" for i in ids],
            "k": pa.array([None if i % 7 == 0 else int(i % 4) for i in ids], pa.int64()),
        }
    )


def _by_id(rows) -> list[dict]:
    return sorted(rows, key=lambda r: r["id"])


def test_v1_and_v2_page_files_read_back_together(spark, tmp_path, monkeypatch):
    """A table whose v0 files have v1 pages (the writer's options before v2)
    and whose later files have v2 pages returns the same rows through the
    vectorized and the row-based Spark reader, pyarrow and DuckDB; a
    deletion vector on a v2 file applies in the scan and in the anti-join
    fallback alike."""
    from delta_rs_spark.protocol.snapshot import Snapshot

    uri = str(tmp_path / "t")
    with monkeypatch.context() as m:
        m.setattr(writer, "PARQUET_WRITER_VERSION", "v1")
        write_deltalake(spark, _typed_rows(0, 300), uri)
    v0 = _paths(DeltaTable(uri))
    assert all("PLAIN_DICTIONARY" in _encodings(os.path.join(uri, p))["k"] for p in v0)
    write_deltalake(spark, _typed_rows(300, 200), uri, mode="append")
    write_deltalake(
        spark, spark.createDataFrame(_typed_rows(500, 100)).repartition(2), uri, mode="append"
    )
    t = DeltaTable(uri)
    _assert_format(uri, _paths(t) - v0)

    def read_all(t: DeltaTable, want: list[dict]) -> None:
        key = "spark.sql.parquet.enableVectorizedReader"
        before = spark.conf.get(key)
        try:
            for vectorized in ("true", "false"):
                spark.conf.set(key, vectorized)
                got = [r.asDict() for r in t.to_df(spark).collect()]
                assert _by_id(got) == want, vectorized
        finally:
            spark.conf.set(key, before)
        assert _by_id(t.to_pyarrow_table().to_pylist()) == want

    want = _by_id(_typed_rows(0, 600).to_pylist())
    read_all(t, want)
    files = [os.path.join(uri, p) for p in t.files()]
    got_duck = duckdb.sql(f"SELECT * FROM read_parquet({files!r})").arrow().to_pylist()
    assert _by_id(got_duck) == want

    t.delete(spark, "id >= 300 AND id < 500 AND id % 3 = 0")
    t = DeltaTable(uri)
    (dv_add,) = [a for a in t.add_actions() if a.deletion_vector]
    assert dv_add.path not in v0
    want = [r for r in want if not (300 <= r["id"] < 500 and r["id"] % 3 == 0)]
    read_all(t, want)
    monkeypatch.setattr(Snapshot, "DV_IN_SCAN_MAX_FILES", 0)
    plan = t.to_df(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan
    read_all(t, want)
