"""Spark jobs per DML statement on a fixed table, deletion vectors on and
off. A job count is a deterministic measure of how many passes a statement
makes over its data: the merge-on-read paths evaluate their join once, and
a scan of a table with deletion vectors starts no job a plain scan does
not."""

import pytest

from delta_rs_spark import DeltaTable
from delta_rs_spark.writer import write_deltalake


def _table(spark, path, dv: bool) -> DeltaTable:
    # 4,000 rows in 4 files, clustered by id; nullable columns, so no NOT
    # NULL check runs beside the writes
    df = (
        spark.range(0, 4000)
        .selectExpr("nullif(id, -1) AS id")
        .selectExpr("id", "id % 97 AS k", "concat('v', id) AS v")
    )
    write_deltalake(
        spark,
        df.repartitionByRange(4, "id").sortWithinPartitions("id"),
        path,
        configuration={"delta.enableDeletionVectors": "true" if dv else "false"},
    )
    return DeltaTable(path)


def _merge(spark, path):
    # 200 source rows: 100 update existing ids, 100 insert new ones
    src = spark.range(3900, 4100).selectExpr("id", "id % 97 AS k", "concat('w', id) AS v")
    return DeltaTable(path).merge(spark, src, "t.id = s.id")


def _delete(spark, path, lo=1000):
    return DeltaTable(path).delete(spark, f"id >= {lo} AND id < {lo + 30}")


@pytest.mark.parametrize("dv, merge_jobs, delete_jobs", [(True, 5, 3), (False, 10, 3)])
def test_dml_job_counts(spark, tmp_path, count_jobs, dv, merge_jobs, delete_jobs):
    """DV merge ≤ 5 jobs and DV delete ≤ 3 (17–21 and 5 on this table while
    the merge-on-read paths re-evaluated their join); the copy-on-write
    paths stay at their 10 and 3."""
    path = str(tmp_path / "t")
    _table(spark, path, dv)
    # the second round runs against files with DVs, and its source rows
    # all match: the first round inserted the new ids
    for i, expect in enumerate([(100, 100), (200, 0)]):
        res, n = count_jobs(lambda: _merge(spark, path))
        assert (res["numTargetRowsUpdated"], res["numTargetRowsInserted"]) == expect
        assert n <= merge_jobs if dv else n == merge_jobs
        res, n = count_jobs(lambda: _delete(spark, path, 1000 * (i + 1)))
        assert res["numDeletedRows"] == 30
        assert n <= delete_jobs if dv else n == delete_jobs
        assert DeltaTable(path).to_df(spark).count() == 4100 - 30 * (i + 1)
    assert bool(DeltaTable(path).snapshot.files().dv_count()) == dv


def test_scan_with_dvs_starts_no_extra_job(spark, tmp_path, count_jobs):
    counts = {}
    for dv in (True, False):
        path = str(tmp_path / f"t{dv}")
        _table(spark, path, dv)
        _delete(spark, path)
        t = DeltaTable(path)
        assert bool(t.snapshot.files().dv_count()) == dv
        rows, counts[dv] = count_jobs(lambda: t.to_df(spark).count())
        assert rows == 3970
    assert counts[True] == counts[False]
