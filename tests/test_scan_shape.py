"""One scan shape: every read is one parquet scan over the log's file list.

A Hive-laid-out partitioned read is one ``basePath`` scan; any other
partitioned read (shallow-clone paths, timestamp partition columns) is the
same single scan of the data columns with each file's logged
``partitionValues`` attached. Building the DataFrame lists the named files
on the driver, so it starts no Spark job.
"""

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.protocol.schema import partition_value_to_typed
from delta_rs_spark.protocol.snapshot import Snapshot


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _bucketed(spark, uri, n_rows=200, n_parts=100):
    df = spark.range(n_rows).select(
        F.col("id"), (F.col("id") % n_parts).alias("bucket"), (F.col("id") * 2.0).alias("v")
    )
    write_deltalake(spark, df, uri, partition_by=["bucket"])
    return DeltaTable(uri)


def test_building_a_partitioned_scan_starts_no_job(spark, tmp_path, count_jobs):
    t = _bucketed(spark, str(tmp_path / "t"))
    assert len({a.partition_values["bucket"] for a in t.add_actions()}) == 100
    df, jobs = count_jobs(lambda: t.to_df(spark))
    assert jobs == 0
    assert df.count() == 200


def test_building_an_unpartitioned_scan_starts_no_job(spark, tmp_path, count_jobs):
    uri = str(tmp_path / "t")
    write_deltalake(spark, spark.range(400).repartition(40), uri)
    t = DeltaTable(uri)
    assert len(t.snapshot.file_paths()) == 40
    df, jobs = count_jobs(lambda: t.to_df(spark))
    assert jobs == 0
    assert df.count() == 400


def test_full_and_pruned_scans_are_one_parquet_scan(spark, tmp_path):
    t = _bucketed(spark, str(tmp_path / "t"))
    full = t.to_df(spark)
    pruned = t.to_df(spark, partition_filters=[("bucket", "in", ["1", "2", "3"])])
    assert _plan(full).count("Scan parquet") == 1
    assert _plan(pruned).count("Scan parquet") == 1
    assert sorted(r.id for r in pruned.collect()) == [1, 2, 3, 101, 102, 103]

    where = full.where(F.col("bucket") == 7)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", _plan(where))
    assert m and "bucket" in m.group(1), _plan(where)
    assert sorted(r.id for r in where.collect()) == [7, 107]


def test_concurrent_scan_builds_restore_the_listing_threshold(spark, tmp_path):
    """Scans built from several threads at once (OPTIMIZE rewrites
    partitions in a pool) each raise Spark's listing threshold past their
    own path count for the build; all of them leave it as they found it."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(key)
    t = _bucketed(spark, str(tmp_path / "t"))
    buckets = [20 + 10 * i for i in range(8)]  # 40..180 files per read

    def build(n):
        return t.to_df(spark, partition_filters=[("bucket", "in", [str(b) for b in range(n)])])

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            futures = [ex.submit(build, n) for n in buckets]
            dfs = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert spark.conf.get(key) == before
    assert [df.count() for df in dfs] == [2 * n for n in buckets]


@pytest.mark.parametrize("ts_type", [T.TimestampType(), T.TimestampNTZType()], ids=str)
@pytest.mark.parametrize("map_max_files", [1000, 0], ids=["map", "broadcast"])
def test_timestamp_partition_values_do_not_depend_on_scan_shape(
    spark, tmp_path, monkeypatch, map_max_files, ts_type
):
    """A timestamp partition value reads as its logged string typed by
    ``partition_value_to_typed``, whatever the session time zone and
    however many partitions the read covers — through the literal map and
    through the broadcast lookup alike, and from a shallow clone."""
    monkeypatch.setattr(Snapshot, "FILE_MAP_MAX_FILES", map_max_files)
    uri = str(tmp_path / "t")
    start = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    df = spark.range(70).select(
        F.col("id"), F.timestamp_seconds(F.col("id") * 3600 + start).cast(ts_type).alias("ts")
    )
    ntz = {"delta.feature.timestampNtz": "supported"} if ts_type == T.TimestampNTZType() else {}
    write_deltalake(spark, df, uri, partition_by=["ts"], configuration=ntz)
    t = DeltaTable(uri)
    assert t.schema()["ts"].dataType == ts_type
    logged = sorted(a.partition_values["ts"] for a in t.add_actions())
    assert len(logged) == 70
    want = [partition_value_to_typed(v, ts_type) for v in logged]
    assert want[5] == dt.datetime(2024, 1, 1, 5)
    clone = t.shallow_clone(str(tmp_path / "clone"))

    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        full = {r.id: r.ts for r in DeltaTable(uri).to_df(spark).collect()}
        pruned = DeltaTable(uri).to_df(spark, partition_filters=[("ts", "=", logged[5])])
        pruned = [(r.id, r.ts) for r in pruned.collect()]
        cloned = {r.id: r.ts for r in clone.to_df(spark).collect()}
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    arrow = DeltaTable(uri).to_pyarrow_table().to_pydict()
    arrow = dict(zip(arrow["id"], arrow["ts"]))

    assert [full[i] for i in range(70)] == want
    assert pruned == [(5, want[5])]
    assert [cloned[i] for i in range(70)] == want
    assert [arrow[i] for i in range(70)] == want
