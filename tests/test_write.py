import json
import os

import pytest
from pyspark.sql import functions as F

from delta_rs_spark import (
    DeltaTable,
    SchemaMismatchError,
    TableAlreadyExistsError,
    write_deltalake,
)


@pytest.fixture()
def lineitem(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))


def test_create_and_read_back(spark, tmp_path, lineitem):
    uri = str(tmp_path / "t")
    # deletion vectors off: the table keeps the legacy (1, 2) protocol
    t = write_deltalake(spark, lineitem, uri, configuration={"delta.enableDeletionVectors": "false"})
    assert t.version == 0
    assert t.protocol_versions() == (1, 2)
    n = lineitem.count()
    assert t.count_rows() == n  # stats-only count
    assert t.to_df(spark).count() == n
    # history carries the WRITE commitInfo
    assert t.history()[0]["operation"] == "WRITE"


def test_append_and_overwrite(spark, tmp_path, lineitem):
    uri = str(tmp_path / "t")
    write_deltalake(spark, lineitem, uri)
    t = write_deltalake(spark, lineitem.limit(50), uri, mode="append")
    assert t.version == 1
    assert t.to_df(spark).count() == lineitem.count() + 50

    t = write_deltalake(spark, lineitem.limit(7), uri, mode="overwrite")
    assert t.version == 2
    assert t.to_df(spark).count() == 7
    assert len(t.snapshot.state.tombstones) >= 1
    # time travel still sees the old data
    t_old = DeltaTable.for_version(uri, 1)
    assert t_old.to_df(spark).count() == lineitem.count() + 50


def test_save_modes(spark, tmp_path, lineitem):
    uri = str(tmp_path / "t")
    write_deltalake(spark, lineitem.limit(5), uri)
    with pytest.raises(TableAlreadyExistsError):
        write_deltalake(spark, lineitem.limit(5), uri, mode="error")
    t = write_deltalake(spark, lineitem.limit(99), uri, mode="ignore")
    assert t.version == 0  # no-op
    assert t.to_df(spark).count() == 5


def test_schema_mismatch(spark, tmp_path, lineitem):
    uri = str(tmp_path / "t")
    write_deltalake(spark, lineitem.select("l_orderkey", "l_quantity"), uri)
    with pytest.raises(SchemaMismatchError):
        write_deltalake(
            spark,
            lineitem.select("l_orderkey", F.col("l_quantity").cast("string")),
            uri,
            mode="append",
        )


def test_partitioned_write_prune_and_stats(spark, tmp_path, lineitem):
    uri = str(tmp_path / "t")
    t = write_deltalake(
        spark,
        lineitem.select("l_orderkey", "l_quantity", "l_returnflag"),
        uri,
        partition_by=["l_returnflag"],
    )
    flags = {a.partition_values["l_returnflag"] for a in t.add_actions()}
    assert flags == {"A", "N", "R"}
    pruned = t.files(partition_filters=[("l_returnflag", "=", "A")])
    assert 0 < len(pruned) < len(t.files())
    assert all("l_returnflag=A" in f for f in pruned)

    df = t.to_df(spark, partition_filters=[("l_returnflag", "=", "A")])
    expected = lineitem.filter("l_returnflag = 'A'").count()
    assert df.count() == expected

    # per-file footer stats present and usable for skipping
    stats = [a.get_stats() for a in t.add_actions()]
    assert all(s and s["numRecords"] > 0 for s in stats)
    assert all("l_quantity" in s["minValues"] for s in stats)


def test_stats_skipping_on_written_table(spark, tmp_path, lineitem):
    uri = str(tmp_path / "t")
    t = write_deltalake(spark, lineitem, uri, max_records_per_file=1000)
    assert len(t.files()) > 1
    # a predicate outside the global range skips every file
    lo, hi = t.column_min_max("l_orderkey")
    assert t.files(skip_predicates=[("l_orderkey", ">", hi)]) == []
    assert len(t.files(skip_predicates=[("l_orderkey", ">=", lo)])) == len(t.files())


def test_footer_stats_read_on_driver(spark, tmp_path, monkeypatch):
    """A 20-file write takes its stats from each file's parquet footer, read
    on the driver: the stats equal the published files' footers, and no
    Spark job runs while they are collected."""
    from delta_rs_spark import writer

    jobs_during_stats = []
    real = writer._collect_footer_stats
    tracker = spark.sparkContext.statusTracker()

    def watched(*args, **kwargs):
        before = set(tracker.getJobIdsForGroup())
        out = real(*args, **kwargs)
        jobs_during_stats.append(set(tracker.getJobIdsForGroup()) - before)
        return out

    monkeypatch.setattr(writer, "_collect_footer_stats", watched)
    uri = str(tmp_path / "t")
    df = spark.range(0, 2000).selectExpr("id", "id % 7 AS v", "CAST(id AS STRING) AS s")
    write_deltalake(spark, df.repartition(20), uri)
    t = DeltaTable(uri)
    adds = t.add_actions()
    assert len(adds) == 20
    assert jobs_during_stats == [set()]
    for a in adds:
        assert json.loads(a.stats) == json.loads(
            writer._footer_stats_json(os.path.join(uri, a.path))
        )
    assert t.count_rows() == 2000


def test_timestamp_round_trip(spark, tmp_path, sf_dir):
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    uri = str(tmp_path / "t")
    t = write_deltalake(spark, orders, uri)
    back = t.to_df(spark)
    a = orders.agg(F.min("o_orderdate"), F.max("o_orderdate")).collect()[0]
    b = back.agg(F.min("o_orderdate"), F.max("o_orderdate")).collect()[0]
    assert [str(x) for x in a] == [str(x) for x in b]
    # stats carry ISO strings for the timestamp column
    s = t.add_actions()[0].get_stats()
    assert "o_orderdate" in s["minValues"]


def test_null_partition_values(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id long, part string"
    )
    uri = str(tmp_path / "t")
    t = write_deltalake(spark, df, uri, partition_by=["part"])
    pv = {a.partition_values["part"] for a in t.add_actions()}
    assert None in pv
    back = t.to_df(spark)
    assert back.filter(F.col("part").isNull()).count() == 1
    assert back.count() == 3


def test_partitioned_read_matches_logged_files(spark, tmp_path):
    """A 100-partition read is one scan whose rows are exactly each logged
    file's rows, read with pyarrow, plus that file's ``partitionValues``."""
    import pyarrow.parquet as pq

    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 100).alias("bucket"), (F.col("id") * 2.0).alias("v")
    )
    uri = str(tmp_path / "many_parts")
    write_deltalake(spark, df, uri, partition_by=["bucket"])

    t = DeltaTable(uri)
    adds = t.add_actions()
    assert len({a.partition_values["bucket"] for a in adds}) == 100

    want = []
    for a in adds:
        part = pq.read_table(os.path.join(uri, a.path)).to_pydict()
        bucket = int(a.partition_values["bucket"])
        want += [(i, bucket, v) for i, v in zip(part["id"], part["v"])]

    full = t.to_df(spark)
    assert dict(full.dtypes)["bucket"] == "bigint"
    assert full._jdf.queryExecution().executedPlan().toString().count("Scan parquet") == 1
    assert sorted(map(tuple, full.select("id", "bucket", "v").collect())) == sorted(want)

    one = t.to_df(spark, partition_filters=[("bucket", "=", "7")])
    assert sorted(map(tuple, one.select("id", "bucket", "v").collect())) == sorted(
        r for r in want if r[1] == 7
    )


def test_log_json_conforms_to_delta_vocabulary(spark, tmp_path, lineitem):
    """Interop guard: our commit files must use the exact Delta action JSON
    vocabulary (camelCase keys, stats as a JSON *string*, partitionValues as
    map<string,string>) so reference implementations can read our tables."""
    import json

    uri = str(tmp_path / "conform")
    # deletion vectors off: a legacy protocol action carries no feature lists
    write_deltalake(
        spark, lineitem.limit(100), uri, partition_by=["l_returnflag"],
        configuration={"delta.enableDeletionVectors": "false"},
    )

    actions = []
    with open(os.path.join(uri, "_delta_log", "00000000000000000000.json")) as f:
        for line in f:
            actions.append(json.loads(line))

    kinds = [next(iter(a)) for a in actions]
    assert kinds.count("commitInfo") == 1
    assert kinds.count("protocol") == 1
    assert kinds.count("metaData") == 1
    assert kinds.count("add") >= 1

    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert set(proto) == {"minReaderVersion", "minWriterVersion"}

    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert {"id", "format", "schemaString", "partitionColumns", "configuration"} <= set(meta)
    assert meta["format"] == {"provider": "parquet", "options": {}}
    schema = json.loads(meta["schemaString"])
    assert schema["type"] == "struct"
    assert all(set(f) == {"name", "type", "nullable", "metadata"} for f in schema["fields"])

    for a in actions:
        if "add" not in a:
            continue
        add = a["add"]
        assert {"path", "size", "partitionValues", "modificationTime", "dataChange"} <= set(add)
        assert isinstance(add["partitionValues"], dict)
        assert all(v is None or isinstance(v, str) for v in add["partitionValues"].values())
        assert isinstance(add["stats"], str)  # JSON string, not an object
        st = json.loads(add["stats"])
        assert {"numRecords", "minValues", "maxValues", "nullCount"} <= set(st)
        assert not add["path"].startswith("/")  # relative to the table root


def test_check_constraints_enforced(spark, tmp_path, lineitem):
    """CHECK constraints (delta.constraints.<name> table properties) reject
    violating writes — on create, append, and DML rewrites."""
    from delta_rs_spark.writer import ConstraintViolationError

    uri = str(tmp_path / "c")
    cfg = {"delta.constraints.qty_positive": "l_quantity > 0"}

    # create-time violation
    bad = lineitem.limit(5).withColumn("l_quantity", F.lit(-1).cast("double"))
    with pytest.raises(ConstraintViolationError, match="qty_positive"):
        write_deltalake(spark, bad, str(tmp_path / "bad"), configuration=cfg)

    # clean create, then violating append rejected (property read from table)
    write_deltalake(spark, lineitem.limit(50), uri, configuration=cfg)
    with pytest.raises(ConstraintViolationError, match="qty_positive"):
        write_deltalake(spark, bad, uri, mode="append")
    t = DeltaTable(uri)
    assert t.version == 0  # nothing committed

    # UPDATE that would violate is rejected; table unchanged
    with pytest.raises(ConstraintViolationError, match="qty_positive"):
        t.update_where(spark, "l_quantity > 0", {"l_quantity": "-l_quantity"})
    assert DeltaTable(uri).version == 0

    # compliant update passes
    t.update_where(spark, "l_quantity > 0", {"l_quantity": "l_quantity + 1"})
    assert DeltaTable(uri).version == 1


def test_check_constraint_null_predicate_rows_violate(spark, tmp_path):
    """SQL CHECK semantics would accept NULL, but Delta treats non-TRUE as a
    violation for data quality; we follow Delta (reject NULL predicate)."""
    from delta_rs_spark.writer import ConstraintViolationError

    df = spark.createDataFrame([(1, 10), (2, None)], "id int, v int")
    with pytest.raises(ConstraintViolationError):
        write_deltalake(
            spark, df, str(tmp_path / "n"),
            configuration={"delta.constraints.v_set": "v > 0"},
        )


def test_replace_where_partial_overwrite(spark, tmp_path, sf_dir):
    import os

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    uri = str(tmp_path / "rw")
    write_deltalake(spark, docs, uri, partition_by=["source"], max_records_per_file=200)
    total = docs.count()
    n_src3 = docs.filter("source = 'src3'").count()

    replacement = (
        docs.filter("source = 'src3'").limit(4).withColumn("lang", F.lit("zz"))
    )
    t = write_deltalake(
        spark, replacement, uri, mode="overwrite", replace_where="source = 'src3'"
    )
    out = t.to_df(spark)
    assert out.count() == total - n_src3 + 4
    assert out.filter("source = 'src3'").count() == 4
    assert out.filter("source = 'src3'").filter("lang != 'zz'").count() == 0
    # other partitions untouched
    assert out.filter("source = 'src1'").count() == docs.filter("source = 'src1'").count()
    # single commit, predicate recorded
    h = t.history()[0]
    assert h["operationParameters"]["predicate"] == "source = 'src3'"

    # rows outside the predicate are rejected up front
    with pytest.raises(ValueError, match="do not satisfy"):
        write_deltalake(
            spark, docs.limit(3), uri, mode="overwrite", replace_where="source = 'nope'"
        )
    # and replace_where demands overwrite mode
    with pytest.raises(ValueError, match="requires mode"):
        write_deltalake(spark, docs.limit(1), uri, replace_where="source = 'src1'")
    # dynamic partition overwrite + replace_where is contradictory (two
    # competing overwrite scopes) — must raise, not silently pick one
    with pytest.raises(ValueError, match="cannot be combined"):
        write_deltalake(
            spark,
            docs.limit(1),
            uri,
            mode="overwrite",
            replace_where="source = 'src1'",
            partition_overwrite_mode="dynamic",
        )


def test_add_and_drop_constraint(spark, tmp_path, lineitem):
    from delta_rs_spark.writer import ConstraintViolationError

    uri = str(tmp_path / "ac")
    write_deltalake(spark, lineitem.limit(100), uri)
    t = DeltaTable(uri)

    # adding a constraint the existing data violates is rejected
    with pytest.raises(ConstraintViolationError):
        t.add_constraint(spark, "impossible", "l_quantity < 0")
    assert t.version == 0

    v = t.add_constraint(spark, "qty_pos", "l_quantity > 0")
    assert v == 1
    assert t.history()[0]["operation"] == "ADD CONSTRAINT"
    # enforced on subsequent writes, property visible on a fresh handle
    t2 = DeltaTable(uri)
    assert "delta.constraints.qty_pos" in t2.metadata().configuration
    bad = lineitem.limit(3).withColumn("l_quantity", F.lit(-5).cast("double"))
    with pytest.raises(ConstraintViolationError):
        write_deltalake(spark, bad, uri, mode="append")

    # duplicate add rejected; drop then the same write passes
    with pytest.raises(ConstraintViolationError):
        t2.add_constraint(spark, "qty_pos", "l_quantity > 0")
    t2.drop_constraint("qty_pos")
    write_deltalake(spark, bad, uri, mode="append")
    assert DeltaTable(uri).to_df(spark).count() == 103
    with pytest.raises(ConstraintViolationError):
        t2.drop_constraint("qty_pos")  # already gone


def test_replace_where_carries_extra_actions(spark, tmp_path, sf_dir):
    """replaceWhere must commit extra_actions (txn watermarks) atomically —
    exactly-once streaming sinks depend on it."""
    import os as _os

    from delta_rs_spark.protocol.actions import TxnAction

    docs = spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
    uri = str(tmp_path / "rwtxn")
    write_deltalake(spark, docs, uri)
    replacement = docs.filter("source = 'src3'").limit(2)
    t = write_deltalake(
        spark, replacement, uri, mode="overwrite",
        replace_where="source = 'src3'",
        extra_actions=[TxnAction(app_id="rw-app", version=7)],
    )
    assert t.get_app_transaction_version("rw-app") == 7


def test_schema_merge_adds_column(spark, tmp_path):
    uri = str(tmp_path / "t")
    base = spark.range(5).select(
        F.col("id"), F.concat(F.lit("d"), F.col("id")).alias("doc")
    )
    write_deltalake(spark, base, uri)

    evolved = spark.range(5, 8).select(
        F.col("id"),
        F.concat(F.lit("d"), F.col("id")).alias("doc"),
        (F.col("id") * 2).alias("score"),
    )
    # strict default still rejects
    with pytest.raises(SchemaMismatchError):
        write_deltalake(spark, evolved, uri, mode="append")

    t = write_deltalake(spark, evolved, uri, mode="append", schema_mode="merge")
    assert t.version == 1
    assert [f.name for f in t.schema().fields] == ["id", "doc", "score"]

    # re-open fresh: schema comes from the log, old rows read score as NULL
    t2 = DeltaTable.for_path(uri)
    df = t2.to_df(spark)
    assert df.count() == 8
    assert df.filter(F.col("score").isNull()).count() == 5
    assert df.filter(F.col("score") == 14).count() == 1
    # pyarrow (Spark-free) read path agrees
    pa_tbl = t2.to_pyarrow_table()
    assert pa_tbl.num_rows == 8
    assert pa_tbl.column("score").null_count == 5


def test_schema_merge_fills_missing_columns_with_nulls(spark, tmp_path):
    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        # tag must be NULLABLE: merge-filling a non-nullable column with
        # NULLs is a NOT NULL invariant violation (and now raises)
        spark.range(3).select("id", F.expr("IF(id >= 0, 'x', NULL)").alias("tag")),
        uri,
    )
    # incoming drops 'tag': merge fills typed NULLs, schema unchanged, no
    # metaData action in the commit
    t = write_deltalake(
        spark, spark.range(3, 5).select("id"), uri, mode="append", schema_mode="merge"
    )
    assert [f.name for f in t.schema().fields] == ["id", "tag"]
    df = t.to_df(spark)
    assert df.filter(F.col("tag").isNull()).count() == 2


def test_schema_merge_rejects_type_change(spark, tmp_path):
    uri = str(tmp_path / "t")
    write_deltalake(spark, spark.range(3).select("id"), uri)
    retyped = spark.range(3).select(F.col("id").cast("string"))
    with pytest.raises(SchemaMismatchError, match="cannot change existing column types"):
        write_deltalake(spark, retyped, uri, mode="append", schema_mode="merge")


def test_schema_overwrite_replaces_schema(spark, tmp_path):
    uri = str(tmp_path / "t")
    write_deltalake(spark, spark.range(3).select("id", F.lit(1).alias("a")), uri)

    with pytest.raises(ValueError):
        write_deltalake(
            spark, spark.range(2), uri, mode="append", schema_mode="overwrite"
        )

    new = spark.range(4).select(F.col("id").cast("string").alias("key"))
    t = write_deltalake(spark, new, uri, mode="overwrite", schema_mode="overwrite")
    assert [f.name for f in t.schema().fields] == ["key"]
    assert t.to_df(spark).count() == 4
    # time travel still reads the old schema at the old version
    t0 = DeltaTable.for_version(uri, 0)
    assert [f.name for f in t0.schema().fields] == ["id", "a"]
    assert t0.to_df(spark).count() == 3


def test_schema_merge_partitioned_table(spark, tmp_path):
    uri = str(tmp_path / "t")
    base = spark.range(6).select(
        "id", (F.col("id") % 2).cast("string").alias("part")
    )
    write_deltalake(spark, base, uri, partition_by=["part"])
    evolved = spark.range(6, 9).select(
        "id",
        (F.col("id") % 2).cast("string").alias("part"),
        F.lit(1.5).alias("w"),
    )
    t = write_deltalake(spark, evolved, uri, mode="append", schema_mode="merge")
    df = t.to_df(spark, partition_filters=[("part", "=", "0")])
    assert df.count() == 3 + 2  # ids 0,2,4 + 6,8
    assert df.filter(F.col("w").isNull()).count() == 3


def test_convert_to_delta_flat_dir(spark, tmp_path, lineitem):
    from delta_rs_spark import convert_to_delta

    pdir = str(tmp_path / "plain")
    lineitem.limit(500).write.parquet(pdir)

    t = convert_to_delta(spark, pdir)
    assert t.version == 0
    assert t.history()[0]["operation"] == "CONVERT"
    # zero data movement: the table reads the original files in place
    assert t.to_df(spark).count() == 500
    # footer stats power the metadata-only fast path
    assert t.count_rows() == 500
    # already-a-table guard
    with pytest.raises(TableAlreadyExistsError):
        convert_to_delta(spark, pdir)
    # converted table is fully writable
    write_deltalake(spark, lineitem.limit(10), pdir, mode="append")
    assert DeltaTable(pdir).to_df(spark).count() == 510


def test_convert_to_delta_partitioned_dir(spark, tmp_path, lineitem):
    from delta_rs_spark import convert_to_delta

    pdir = str(tmp_path / "parts")
    lineitem.limit(300).withColumn("rf", F.col("l_returnflag")).drop(
        "l_returnflag"
    ).write.partitionBy("rf").parquet(pdir)

    t = convert_to_delta(spark, pdir)
    assert t.metadata().partition_columns == ["rf"]
    df = t.to_df(spark)
    assert df.count() == 300
    # partition pruning works off the parsed partitionValues
    one = t.to_df(spark, partition_filters=[("rf", "=", "R")])
    assert one.count() == df.filter("rf = 'R'").count() > 0


def test_convert_to_delta_sql(spark, tmp_path, lineitem):
    from delta_rs_spark import sql

    pdir = str(tmp_path / "viasql")
    lineitem.limit(40).write.parquet(pdir)
    res = sql(spark, f"CONVERT TO DELTA parquet.`{pdir}`").collect()[0]
    assert int(res["numConvertedFiles"]) >= 1
    assert DeltaTable(pdir).to_df(spark).count() == 40


def test_data_skipping_num_indexed_cols(spark, tmp_path):
    """delta.dataSkippingNumIndexedCols bounds per-file stats to the leading
    table-schema columns (public Delta property; default 32 = all columns
    here): min/max/nullCount only for the first N, numRecords always."""
    import json

    from delta_rs_spark import DeltaTable, write_deltalake

    df = spark.range(0, 100).selectExpr(
        "id AS a", "id * 2 AS b", "id * 3 AS c", "CAST(id AS STRING) AS d"
    )
    uri = str(tmp_path / "ix")
    write_deltalake(
        spark, df, uri, configuration={"delta.dataSkippingNumIndexedCols": "2"}
    )
    t = DeltaTable(uri)
    for a in t.add_actions():
        st = json.loads(a.stats)
        assert st["numRecords"] > 0
        assert set(st["minValues"]) <= {"a", "b"}
        assert set(st["maxValues"]) <= {"a", "b"}
        assert set(st["nullCount"]) <= {"a", "b"}
        assert "a" in st["minValues"]  # indexed columns DO get stats

    # appends to the existing table honor the stored property too
    write_deltalake(spark, df, uri, mode="append")
    t2 = DeltaTable(uri)
    assert all(
        set(json.loads(a.stats)["minValues"]) <= {"a", "b"} for a in t2.add_actions()
    )
    # and stats pruning on an indexed column still works
    pruned = t2.snapshot.files(skip_predicates=[("a", ">", 1_000_000)])
    assert pruned == []


def test_optimize_write_bounds_files_per_partition(spark, tmp_path):
    """delta.autoOptimize.optimizeWrite: one pre-write shuffle on the
    partition columns -> one file per partition value instead of one per
    (task, partition value)."""
    from delta_rs_spark import DeltaTable, write_deltalake

    df = (
        spark.range(0, 4000)
        .repartition(16)  # 16 input tasks, each seeing every bucket value
        .selectExpr("id", "id % 4 AS bucket")
    )
    plain_uri = str(tmp_path / "plain")
    write_deltalake(spark, df, plain_uri, partition_by=["bucket"])
    opt_uri = str(tmp_path / "opt")
    write_deltalake(
        spark,
        df,
        opt_uri,
        partition_by=["bucket"],
        configuration={"delta.autoOptimize.optimizeWrite": "true"},
    )
    n_plain = len(DeltaTable(plain_uri).add_actions())
    n_opt = len(DeltaTable(opt_uri).add_actions())
    assert n_opt == 4  # one file per partition value
    assert n_plain > n_opt  # the un-optimized layout fragments
    # identical content either way
    assert (
        DeltaTable(opt_uri).to_df(spark).orderBy("id").collect()
        == DeltaTable(plain_uri).to_df(spark).orderBy("id").collect()
    )


def test_dynamic_partition_overwrite(spark, tmp_path):
    """partition_overwrite_mode='dynamic': only the partitions the incoming
    frame touches are replaced — the idempotent-backfill contract."""
    import pytest

    from delta_rs_spark import DeltaTable, write_deltalake

    uri = str(tmp_path / "dyn")
    base = spark.range(0, 30).selectExpr("id", "id % 3 AS day")
    write_deltalake(spark, base, uri, partition_by=["day"])

    # re-run "day 1" with different content
    redo = spark.range(100, 105).selectExpr("id", "CAST(1 AS BIGINT) AS day")
    write_deltalake(
        spark, redo, uri, mode="overwrite", partition_overwrite_mode="dynamic"
    )
    t = DeltaTable(uri)
    out = t.to_df(spark)
    assert out.filter("day = 1").count() == 5  # replaced
    assert sorted(r.id for r in out.filter("day = 1").collect()) == list(range(100, 105))
    assert out.filter("day = 0").count() == 10  # untouched
    assert out.filter("day = 2").count() == 10  # untouched

    # static overwrite still replaces everything
    write_deltalake(spark, redo, uri, mode="overwrite")
    assert DeltaTable(uri).to_df(spark).count() == 5

    with pytest.raises(ValueError, match="dynamic"):
        write_deltalake(
            spark, redo, uri, mode="append", partition_overwrite_mode="dynamic"
        )


def test_write_accepts_pandas_and_arrow(spark, tmp_path):
    """Migration parity with the reference writer surface: pandas DataFrame
    and pyarrow Table inputs are lifted into Spark."""
    import pandas as pd
    import pyarrow as pa
    import pytest

    from delta_rs_spark import DeltaTable, write_deltalake

    uri = str(tmp_path / "pdw")
    pdf = pd.DataFrame({"id": [1, 2, 3], "v": ["a", "b", "c"]})
    write_deltalake(spark, pdf, uri)
    write_deltalake(spark, pa.table({"id": [4], "v": ["d"]}), uri, mode="append")
    t = DeltaTable(uri)
    assert sorted(r.id for r in t.to_df(spark).collect()) == [1, 2, 3, 4]
    with pytest.raises(TypeError, match="Spark DataFrame"):
        write_deltalake(spark, [1, 2, 3], uri)


def test_get_add_actions_pyarrow(spark, tmp_path):
    from delta_rs_spark import DeltaTable, write_deltalake

    uri = str(tmp_path / "gaa")
    df = spark.range(0, 40).selectExpr("id", "id % 2 AS p")
    write_deltalake(spark, df, uri, partition_by=["p"])
    t = DeltaTable(uri)
    tbl = t.get_add_actions()
    assert tbl.num_rows == len(t.add_actions())
    assert set(tbl.column_names) >= {"path", "size_bytes", "num_records"}
    assert sum(tbl.column("num_records").to_pylist()) == 40

    flat = t.get_add_actions(flatten=True)
    assert "partition.p" in flat.column_names
    assert set(flat.column("partition.p").to_pylist()) == {"0", "1"}
    assert "min.id" in flat.column_names and "max.id" in flat.column_names
    assert min(flat.column("min.id").to_pylist()) == 0
    assert max(flat.column("max.id").to_pylist()) == 39


def test_not_null_invariant_enforced(spark, tmp_path):
    """A column declared non-nullable in the TABLE schema rejects null
    writes (Delta column-invariant semantics) — on append and on DML
    update — while nullable columns keep accepting nulls."""
    from delta_rs_spark import DeltaTable
    from delta_rs_spark.writer import ConstraintViolationError

    uri = str(tmp_path / "nn")
    # id non-nullable (spark.range), v nullable (IF can yield NULL)
    df = spark.range(0, 10).selectExpr(
        "id", "IF(id >= 0, CAST(id AS STRING), NULL) AS v"
    )
    write_deltalake(spark, df, uri)
    t = DeltaTable(uri)
    assert not [f for f in t.schema().fields if f.name == "id"][0].nullable

    bad = spark.sql("SELECT CAST(NULL AS BIGINT) AS id, 'x' AS v")
    with pytest.raises(ConstraintViolationError, match="NOT NULL column 'id'"):
        write_deltalake(spark, bad, uri, mode="append")

    # nullable column still accepts nulls
    ok = spark.sql("SELECT CAST(99 AS BIGINT) AS id, CAST(NULL AS STRING) AS v")
    write_deltalake(spark, ok, uri, mode="append")
    t2 = DeltaTable(uri)
    assert t2.to_df(spark).count() == 11

    # UPDATE assigning NULL into the non-nullable column is rejected too
    with pytest.raises(ConstraintViolationError, match="NOT NULL column 'id'"):
        t2.update_where(spark, "id = 99", {"id": "CAST(NULL AS BIGINT)"})


def test_timestamp_ntz_feature(spark, tmp_path):
    """timestampNtz opt-in keeps TIMESTAMP_NTZ columns; default casts them."""
    import datetime as dt

    from pyspark.sql import types as T

    from delta_rs_spark import DeltaTable, write_deltalake

    rows = [(1, dt.datetime(2024, 5, 1, 12, 30)), (2, dt.datetime(2024, 5, 2, 8, 0))]
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)

    # default: cast to TIMESTAMP (v0 behavior)
    uri_cast = str(tmp_path / "cast")
    write_deltalake(spark, df, uri_cast)
    t = DeltaTable(uri_cast)
    assert isinstance(t.schema()["ts"].dataType, T.TimestampType)

    # opt-in: timestamp_ntz survives, protocol advertises the feature
    uri_ntz = str(tmp_path / "ntz")
    write_deltalake(
        spark, df, uri_ntz,
        configuration={"delta.feature.timestampNtz": "supported"},
    )
    t2 = DeltaTable(uri_ntz)
    assert isinstance(t2.schema()["ts"].dataType, T.TimestampNTZType)
    assert t2.protocol_versions() == (3, 7)
    state = t2.snapshot.state
    assert "timestampNtz" in (state.reader_features or [])
    assert "timestampNtz" in (state.writer_features or [])
    # round trip values, append path included
    write_deltalake(spark, df, uri_ntz, mode="append")
    t2.update()
    got = sorted(
        (r["id"], r["ts"]) for r in t2.to_df(spark).collect()
    )
    assert got == sorted(rows + rows)
    # pyarrow driver path reads the same values
    pdf = t2.to_pandas()
    pa_rows = sorted(
        (int(i), ts.to_pydatetime()) for i, ts in zip(pdf["id"], pdf["ts"])
    )
    assert pa_rows == got



def test_in_memory_naive_timestamps_append_to_ntz_table(spark, tmp_path):
    """pyarrow and pandas naive timestamps append to a timestampNtz table
    as timestamp_ntz, keeping their wall clock; created with the opt-in,
    the table stores them as timestamp_ntz, without it as timestamp."""
    import datetime as dt

    import pandas as pd
    import pyarrow as pa

    def rows(ids, stamps):
        return pa.table(
            {"id": pa.array(ids, pa.int64()), "ts": pa.array(stamps, pa.timestamp("us"))}
        )

    first = [dt.datetime(2024, 5, 1, 12, 30), dt.datetime(2024, 5, 2, 8, 0)]
    uri = str(tmp_path / "ntz")
    t = write_deltalake(
        spark, rows([1, 2], first), uri, configuration={"delta.feature.timestampNtz": "supported"}
    )
    assert t.schema()["ts"].dataType.typeName() == "timestamp_ntz"
    write_deltalake(spark, rows([3], [dt.datetime(2024, 6, 1, 23, 59, 1)]), uri, mode="append")
    pdf = pd.DataFrame({"id": [4], "ts": [pd.Timestamp("2024-07-01 01:02:03.000004")]})
    write_deltalake(spark, pdf, uri, mode="append")
    t = DeltaTable(uri)
    assert t.schema()["ts"].dataType.typeName() == "timestamp_ntz"
    assert sorted((r["id"], r["ts"]) for r in t.to_df(spark).collect()) == [
        (1, first[0]),
        (2, first[1]),
        (3, dt.datetime(2024, 6, 1, 23, 59, 1)),
        (4, dt.datetime(2024, 7, 1, 1, 2, 3, 4)),
    ]

    # a column an NTZ table stores as `timestamp` keeps taking naive input
    mixed = str(tmp_path / "mixed")
    at = pa.array([dt.datetime(2024, 5, 1)], pa.timestamp("us", tz="UTC"))
    write_deltalake(
        spark,
        rows([1], first[:1]).append_column("at", at),
        mixed,
        configuration={"delta.feature.timestampNtz": "supported"},
    )
    naive_at = at.cast(pa.timestamp("us"))
    write_deltalake(spark, rows([2], first[1:]).append_column("at", naive_at), mixed, mode="append")
    t = DeltaTable(mixed)
    types = [t.schema()[c].dataType.typeName() for c in ("ts", "at")]
    assert types == ["timestamp_ntz", "timestamp"]
    assert t.count_rows() == 2

    plain = str(tmp_path / "plain")
    write_deltalake(spark, rows([1], first[:1]), plain)
    write_deltalake(spark, rows([2], first[1:]), plain, mode="append")
    t = DeltaTable(plain)
    assert t.schema()["ts"].dataType.typeName() == "timestamp"
    # a naive value lands as that wall clock in the UTC session
    got = sorted(r[0] for r in t.to_df(spark).selectExpr("CAST(ts AS STRING)").collect())
    assert got == ["2024-05-01 12:30:00", "2024-05-02 08:00:00"]


def test_schema_mismatch_names_the_differing_types(spark, tmp_path):
    import pyarrow as pa

    uri = str(tmp_path / "t")
    write_deltalake(spark, pa.table({"id": pa.array([1], pa.int64()), "s": ["a"]}), uri)
    with pytest.raises(SchemaMismatchError) as err:
        write_deltalake(
            spark,
            pa.table({"id": pa.array([2], pa.int32()), "s": ["b"], "x": [1.5]}),
            uri,
            mode="append",
        )
    msg = str(err.value)
    assert "id: write int, table bigint" in msg
    assert "x: write double, table (missing)" in msg
    assert "s:" not in msg

def test_checkpoint_interval_property(spark, tmp_path, sf_dir):
    """delta.checkpointInterval overrides the every-10-commits default."""
    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.protocol.log import DeltaLog

    df = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    uri = str(tmp_path / "ckpt3")
    write_deltalake(
        spark, df, uri, configuration={"delta.checkpointInterval": "3"}
    )
    for _ in range(3):  # versions 1..3
        write_deltalake(spark, df.limit(1), uri, mode="append")
    cp = DeltaLog(uri).read_last_checkpoint()
    assert cp is not None and cp.version == 3


def test_legacy_column_invariants_enforced(spark, tmp_path, sf_dir):
    """Old-style delta.invariants field metadata rejects violating writes."""
    import json as _json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from delta_rs_spark import write_deltalake
    from delta_rs_spark.writer import ConstraintViolationError

    df = spark.range(5).select(F.col("id"))
    inv = _json.dumps({"expression": {"expression": "id < 100"}})
    schema = T.StructType(
        [T.StructField("id", T.LongType(), True, {"delta.invariants": inv})]
    )
    uri = str(tmp_path / "inv")
    write_deltalake(spark, spark.createDataFrame(df.collect(), schema), uri)

    ok = spark.createDataFrame([(7,)], schema)
    write_deltalake(spark, ok, uri, mode="append")
    bad = spark.createDataFrame([(500,)], schema)
    with pytest.raises(ConstraintViolationError, match="invariant"):
        write_deltalake(spark, bad, uri, mode="append")


def test_check_constraints_raise_writer_version_floor(spark, tmp_path):
    """CREATE with a CHECK constraint must advertise minWriterVersion >= 3
    (spec: older writers are otherwise allowed to append violating rows)."""
    from delta_rs_spark.writer import convert_to_delta

    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        spark.range(1, 10).selectExpr("id"),
        uri,
        configuration={"delta.constraints.positive": "id > 0"},
    )
    st = DeltaTable(uri).snapshot.state
    assert st.min_writer_version >= 3

    # CONVERT TO DELTA with the same configuration gets the same floor
    pdir = str(tmp_path / "plain")
    spark.range(1, 10).selectExpr("id").write.parquet(pdir)
    t2 = convert_to_delta(
        spark, pdir, configuration={"delta.constraints.positive": "id > 0"}
    )
    assert t2.snapshot.state.min_writer_version >= 3


def test_widening_type_change_version_tracks_commit_under_race(spark, tmp_path):
    """typeChanges.tableVersion must name the commit that actually landed,
    even when a concurrent commit moved the widening's version."""
    from delta_rs_spark.protocol import widening as tw

    uri = str(tmp_path / "t")
    write_deltalake(spark, spark.range(0, 10).selectExpr("CAST(id AS INT) AS id"), uri)
    stale = DeltaTable(uri)  # sees version 0; plans the widen at version 1
    # a concurrent writer takes version 1
    write_deltalake(
        spark, spark.range(10, 20).selectExpr("CAST(id AS INT) AS id"), uri,
        mode="append",
    )
    v = stale.widen_column_type("id", "bigint")  # retry lands at version 2
    assert v == 2
    changes = tw.type_changes(DeltaTable(uri).schema())
    assert changes["id"][0]["tableVersion"] == 2


def test_footer_stats_for_int_backed_decimals(spark, tmp_path):
    """Spark writes decimal(p<=18) as INT32/INT64-backed parquet decimals,
    whose stats pyarrow cannot logical-cast (ArrowNotImplementedError) —
    the collector must decode the raw unscaled values instead of dropping
    the whole write (regression: COPY INTO FILEFORMAT=AVRO with decimal
    logical types surfaced this)."""
    import datetime as dt
    from decimal import Decimal

    from delta_rs_spark import DeltaTable, write_deltalake

    uri = str(tmp_path / "dec_stats")
    df = spark.createDataFrame(
        [
            (1, Decimal("12.34"), dt.datetime(2024, 1, 1, 12)),
            (2, Decimal("-5.00"), dt.datetime(2024, 2, 1, 12)),
        ],
        "id bigint, amt decimal(10,2), ts timestamp",
    )
    write_deltalake(spark, df, uri)
    stats = [a.stats for a in DeltaTable(uri).snapshot.files() if a.stats]
    assert stats
    import json as _json

    merged_min = [
        _json.loads(s)["minValues"].get("amt")
        for s in stats
        if _json.loads(s)["minValues"].get("amt") is not None
    ]
    assert merged_min and min(Decimal(m) for m in merged_min) == Decimal("-5.00")


def test_append_time_configuration_conflict_warns(spark, tmp_path):
    """VERDICT r9 missing #4: table configuration is creation-time; a write
    to an existing table keeps the stored config. A caller passing a
    CONFLICTING configuration on append used to get silence — now a
    UserWarning names the divergent keys. Re-passing the stored values
    (a caller that re-sends its creation config on every append) stays
    silent."""
    import warnings

    from delta_rs_spark import write_deltalake

    uri = str(tmp_path / "cfg_conflict")
    df = spark.createDataFrame([(1, "a")], "id bigint, s string")
    write_deltalake(
        spark, df, uri, configuration={"delta.enableChangeDataFeed": "true"}
    )

    with pytest.warns(UserWarning, match="delta.appendOnly"):
        write_deltalake(
            spark,
            df,
            uri,
            mode="append",
            configuration={"delta.appendOnly": "false"},
        )

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning fails the test
        # stored values re-passed: silent
        write_deltalake(
            spark,
            df,
            uri,
            mode="append",
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        # semantically-equal non-string values (ADVICE r10): a caller
        # passing True against stored "true" must not warn on every append
        write_deltalake(
            spark,
            df,
            uri,
            mode="append",
            configuration={"delta.enableChangeDataFeed": True},
        )
        # no configuration at all: silent
        write_deltalake(spark, df, uri, mode="append")
    # a genuinely divergent boolean still warns
    with pytest.warns(UserWarning, match="delta.enableChangeDataFeed"):
        write_deltalake(
            spark,
            df,
            uri,
            mode="append",
            configuration={"delta.enableChangeDataFeed": False},
        )
