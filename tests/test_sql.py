"""SQL command surface: delta.`path` statements routed to the engine."""

from __future__ import annotations

import os

import pytest

from delta_rs_spark import DeltaTable, sql, write_deltalake
from delta_rs_spark.sql import SqlError


@pytest.fixture()
def docs_uri(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    uri = str(tmp_path / "t")
    write_deltalake(spark, docs, uri, max_records_per_file=200)
    return uri


def test_select_and_time_travel(spark, docs_uri):
    n0 = sql(spark, f"SELECT count(*) AS n FROM delta.`{docs_uri}`").collect()[0]["n"]
    assert n0 == 500
    sql(spark, f"DELETE FROM delta.`{docs_uri}` WHERE n_chars < 300")
    n1 = sql(spark, f"SELECT count(*) AS n FROM delta.`{docs_uri}`").collect()[0]["n"]
    assert n1 < n0
    # time travel back to v0 inside SQL
    nv0 = sql(
        spark,
        f"SELECT count(*) AS n FROM delta.`{docs_uri}` VERSION AS OF 0",
    ).collect()[0]["n"]
    assert nv0 == n0
    # join a snapshot against itself at two versions
    joined = sql(
        spark,
        f"""SELECT count(*) AS gone FROM delta.`{docs_uri}` VERSION AS OF 0 a
            LEFT ANTI JOIN delta.`{docs_uri}` b ON a.doc_id = b.doc_id""",
    ).collect()[0]["gone"]
    assert joined == n0 - n1


def test_update_describe_restore(spark, docs_uri):
    sql(spark, f"UPDATE delta.`{docs_uri}` SET lang = 'xx', n_chars = n_chars + 1 WHERE source = 'src3'")
    t = DeltaTable(docs_uri)
    assert t.to_df(spark).filter("source = 'src3'").filter("lang != 'xx'").count() == 0

    hist = sql(spark, f"DESCRIBE HISTORY delta.`{docs_uri}`").collect()
    assert hist[0]["operation"] == "UPDATE"
    detail = sql(spark, f"DESCRIBE DETAIL delta.`{docs_uri}`").collect()[0]
    assert detail["format"] == "delta"

    res = sql(spark, f"RESTORE delta.`{docs_uri}` TO VERSION AS OF 0").collect()[0]
    assert int(res["numRestoredFiles"]) >= 0
    assert DeltaTable(docs_uri).to_df(spark).filter("lang = 'xx'").count() == 0


def test_vacuum_and_optimize_statements(spark, docs_uri):
    listed = sql(spark, f"VACUUM delta.`{docs_uri}` DRY RUN").collect()
    assert listed == []  # nothing unreferenced yet
    with pytest.raises(Exception):
        sql(spark, f"VACUUM delta.`{docs_uri}` RETAIN 1 HOURS DRY RUN").collect()
    res = sql(spark, f"OPTIMIZE delta.`{docs_uri}`").collect()[0]
    assert int(res["numFilesRemoved"]) >= 0


def test_unsupported_statement(spark):
    with pytest.raises(SqlError):
        sql(spark, "GRANT SELECT ON delta.`/x` TO someone")


def test_truncate_table(spark, docs_uri):
    res = sql(spark, f"TRUNCATE TABLE delta.`{docs_uri}`").collect()[0]
    assert int(res["numDeletedRows"]) == 500
    assert DeltaTable(docs_uri).to_df(spark).count() == 0


def test_merge_statement(spark, docs_uri, tmp_path, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    src_uri = str(tmp_path / "src")
    from pyspark.sql import functions as F

    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    source = docs.limit(10).withColumn("text", F.lit("M")).unionByName(
        docs.limit(4).withColumn("doc_id", (F.col("doc_id") + max_id + 1).cast("long"))
    )
    write_deltalake(spark, source, src_uri)

    res = sql(
        spark,
        f"""MERGE INTO delta.`{docs_uri}` AS tgt
            USING delta.`{src_uri}` AS src
            ON tgt.doc_id = src.doc_id
            WHEN MATCHED THEN UPDATE SET tgt.text = src.text
            WHEN NOT MATCHED THEN INSERT *""",
    ).collect()[0]
    assert int(res["numTargetRowsUpdated"]) == 10
    assert int(res["numTargetRowsInserted"]) == 4
    t = DeltaTable(docs_uri)
    assert t.to_df(spark).filter("text = 'M'").count() == 10  # the updated rows
    assert t.to_df(spark).count() == 504                      # 500 + 4 inserted

    # subquery source + matched delete
    res2 = sql(
        spark,
        f"""MERGE INTO delta.`{docs_uri}` t
            USING (SELECT doc_id FROM delta.`{src_uri}` WHERE text = 'M' LIMIT 6) s
            ON t.doc_id = s.doc_id
            WHEN MATCHED THEN DELETE""",
    ).collect()[0]
    assert int(res2["numTargetRowsDeleted"]) == 6


def test_insert_and_create_table_as(spark, docs_uri, tmp_path):
    new_uri = str(tmp_path / "ctas")
    res = sql(
        spark,
        f"""CREATE TABLE delta.`{new_uri}` PARTITIONED BY (source) AS
            SELECT * FROM delta.`{docs_uri}` WHERE n_chars >= 400""",
    ).collect()[0]
    t = DeltaTable(new_uri)
    assert t.metadata().partition_columns == ["source"]
    n0 = t.to_df(spark).count()
    assert n0 > 0

    sql(
        spark,
        f"INSERT INTO delta.`{new_uri}` SELECT * FROM delta.`{docs_uri}` WHERE n_chars < 100",
    )
    t.update()
    assert t.to_df(spark).count() > n0

    sql(
        spark,
        f"INSERT OVERWRITE delta.`{new_uri}` SELECT * FROM delta.`{docs_uri}` LIMIT 7",
    )
    assert DeltaTable(new_uri).to_df(spark).count() == 7


def test_merge_statement_alias_collision(spark, tmp_path, sf_dir):
    """Source aliased 't' and target aliased something else must not
    corrupt the rewritten condition."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    tgt_uri, src_uri = str(tmp_path / "tg"), str(tmp_path / "sr")
    write_deltalake(spark, docs.limit(30), tgt_uri)
    from pyspark.sql import functions as F

    write_deltalake(spark, docs.limit(5).withColumn("text", F.lit("Z")), src_uri)
    res = sql(
        spark,
        f"""MERGE INTO delta.`{tgt_uri}` AS a USING delta.`{src_uri}` AS t
            ON a.doc_id = t.doc_id
            WHEN MATCHED THEN UPDATE SET a.text = t.text""",
    ).collect()[0]
    assert int(res["numTargetRowsUpdated"]) == 5
    assert DeltaTable(tgt_uri).to_df(spark).filter("text = 'Z'").count() == 5


def test_alter_table_add_columns_and_tblproperties(spark, tmp_path):
    uri = str(tmp_path / "t")
    write_deltalake(spark, spark.range(4).select("id"), uri)

    res = sql(
        spark, f"ALTER TABLE delta.`{uri}` ADD COLUMNS (score DOUBLE, m MAP<STRING,INT>)"
    ).collect()[0]
    assert int(res["version"]) == 1
    t = DeltaTable(uri)
    assert [f.name for f in t.schema().fields] == ["id", "score", "m"]
    # metadata-only: same files, new columns read as NULL
    df = t.to_df(spark)
    assert df.count() == 4
    assert df.filter("score IS NULL").count() == 4

    sql(spark, f"ALTER TABLE delta.`{uri}` SET TBLPROPERTIES ('owner'='ml', 'tier'='gold')")
    props = {
        r["key"]: r["value"]
        for r in sql(spark, f"SHOW TBLPROPERTIES delta.`{uri}`").collect()
    }
    # new tables carry the deletion-vector default in their configuration
    dv = {"delta.enableDeletionVectors": "true"}
    assert props == {"owner": "ml", "tier": "gold", **dv}

    sql(spark, f"ALTER TABLE delta.`{uri}` UNSET TBLPROPERTIES ('owner')")
    props = {
        r["key"]: r["value"]
        for r in sql(spark, f"SHOW TBLPROPERTIES delta.`{uri}`").collect()
    }
    assert props == {"tier": "gold", **dv}


def test_alter_table_constraint_roundtrip(spark, tmp_path):
    uri = str(tmp_path / "t")
    write_deltalake(spark, spark.range(1, 5).select("id"), uri)
    sql(spark, f"ALTER TABLE delta.`{uri}` ADD CONSTRAINT positive CHECK (id > 0)")
    props = {
        r["key"]: r["value"]
        for r in sql(spark, f"SHOW TBLPROPERTIES delta.`{uri}`").collect()
    }
    assert props["delta.constraints.positive"] == "id > 0"

    import pytest as _pytest

    from delta_rs_spark.writer import ConstraintViolationError

    with _pytest.raises(ConstraintViolationError):
        write_deltalake(
            spark, spark.range(-3, 0).select("id"), uri, mode="append"
        )

    sql(spark, f"ALTER TABLE delta.`{uri}` DROP CONSTRAINT positive")
    write_deltalake(spark, spark.range(-3, 0).select("id"), uri, mode="append")
    assert DeltaTable(uri).to_df(spark).count() == 7


def test_sql_optimize_where_scopes_partitions(spark, tmp_path):
    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.sql import sql

    uri = str(tmp_path / "ow")
    for lo in range(0, 20, 10):
        df = spark.range(lo, lo + 10).selectExpr("id", "id % 2 AS p")
        write_deltalake(spark, df, uri, mode="append", partition_by=["p"])
    res = sql(spark, f"OPTIMIZE delta.`{uri}` WHERE p = '1'").collect()[0]
    assert res.partitionsOptimized == "1"  # command output is stringly, like Spark's
    t = DeltaTable(uri)
    assert len(t.snapshot.files(partition_filters=[("p", "=", "1")])) == 1
    assert len(t.snapshot.files(partition_filters=[("p", "=", "0")])) > 1


def test_alter_table_rename_and_drop_column_sql(spark, tmp_path):
    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string"),
        uri,
        configuration={"delta.columnMapping.mode": "name"},
    )
    res = sql(spark, f"ALTER TABLE delta.`{uri}` RENAME COLUMN val TO v2").collect()[0]
    assert int(res["version"]) == 1
    t = DeltaTable(uri)
    assert t.schema().names == ["id", "v2"]
    assert sorted((r.id, r.v2) for r in t.to_df(spark).collect()) == [(1, "a"), (2, "b")]

    sql(spark, f"ALTER TABLE delta.`{uri}` DROP COLUMN v2")
    t = DeltaTable(uri)
    assert t.schema().names == ["id"]

    # without column mapping the statement fails loudly
    uri2 = str(tmp_path / "plain")
    write_deltalake(spark, spark.range(2), uri2)
    import pytest as _pytest

    from delta_rs_spark.writer import SchemaMismatchError

    with _pytest.raises(SchemaMismatchError, match="requires column mapping"):
        sql(spark, f"ALTER TABLE delta.`{uri2}` RENAME COLUMN id TO id2")


def test_create_table_column_ddl(spark, tmp_path):
    """CREATE TABLE with column definitions: IDENTITY, DEFAULT, NOT NULL,
    generated columns, TBLPROPERTIES — an empty declared table that the
    write path then populates under all the declared contracts."""
    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.protocol import defaults as dfl
    from delta_rs_spark.protocol import identity as idc

    uri = str(tmp_path / "ddl")
    res = sql(
        spark,
        f"""CREATE TABLE delta.`{uri}` (
            id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 2),
            name STRING NOT NULL,
            tier STRING DEFAULT 'bronze',
            v DOUBLE,
            v2 DOUBLE GENERATED ALWAYS AS (v * 2)
        ) TBLPROPERTIES ('delta.appendOnly'='false', 'owner'='ml')""",
    ).collect()[0]
    assert int(res["version"]) == 0

    t = DeltaTable(uri)
    assert t.to_df(spark).count() == 0
    assert [f.name for f in t.schema().fields] == ["name", "tier", "v", "v2", "id"]
    spec = idc.specs(t.schema())["id"]
    assert (spec.start, spec.step, spec.allow_explicit_insert) == (100, 2, False)
    assert dfl.defaults(t.schema()) == {"tier": "'bronze'"}
    assert not t.schema()["name"].nullable
    assert t.metadata().configuration["owner"] == "ml"

    # populate through the declared contracts: identity assigned, default
    # filled, generated computed
    rows = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "name string, v double")
    write_deltalake(spark, rows, uri, mode="append")
    t.update()
    got = {r["name"]: r for r in t.to_df(spark).collect()}
    assert got["a"]["tier"] == "bronze" and got["a"]["v2"] == 2.0
    ids = {r["id"] for r in got.values()}
    assert len(ids) == 2 and all(i >= 100 and i % 2 == 0 for i in ids)


def test_create_table_ddl_default_then_not_null(spark, tmp_path):
    """NOT NULL after DEFAULT must not leak into the default expression."""
    from delta_rs_spark import DeltaTable
    from delta_rs_spark.protocol import defaults as dfl

    uri = str(tmp_path / "ddl2")
    sql(
        spark,
        f"CREATE TABLE delta.`{uri}` (a BIGINT, b STRING DEFAULT 'x' NOT NULL)",
    )
    t = DeltaTable(uri)
    assert dfl.defaults(t.schema()) == {"b": "'x'"}
    assert not t.schema()["b"].nullable


def test_create_or_replace_table(spark, docs_uri, tmp_path):
    new_uri = str(tmp_path / "cor")
    sql(
        spark,
        f"CREATE TABLE delta.`{new_uri}` AS SELECT doc_id, source FROM delta.`{docs_uri}`",
    )
    v0_count = DeltaTable(new_uri).to_df(spark).count()
    assert v0_count == 500

    # replace: new data AND a different schema, one commit
    sql(
        spark,
        f"""CREATE OR REPLACE TABLE delta.`{new_uri}` AS
            SELECT doc_id, n_chars FROM delta.`{docs_uri}` WHERE n_chars >= 400""",
    )
    t = DeltaTable(new_uri)
    assert t.version == 1
    assert [f.name for f in t.schema().fields] == ["doc_id", "n_chars"]
    assert 0 < t.to_df(spark).count() < v0_count
    # time travel to the pre-replace table still works
    t0 = DeltaTable.for_version(new_uri, 0)
    assert t0.to_df(spark).count() == v0_count
    assert [f.name for f in t0.schema().fields] == ["doc_id", "source"]

    # OR REPLACE on a nonexistent table just creates
    fresh = str(tmp_path / "fresh")
    sql(spark, f"CREATE OR REPLACE TABLE delta.`{fresh}` AS SELECT 1 AS x")
    assert DeltaTable(fresh).to_df(spark).count() == 1


def test_show_create_table_roundtrip(spark, tmp_path):
    """SHOW CREATE TABLE emits DDL the column-definition parser re-accepts
    with identical declarations."""
    from delta_rs_spark.protocol import defaults as dfl
    from delta_rs_spark.protocol import identity as idc

    uri = str(tmp_path / "show")
    sql(
        spark,
        f"""CREATE TABLE delta.`{uri}` (
            id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 5 INCREMENT BY 5),
            name STRING NOT NULL,
            tier STRING DEFAULT 'bronze'
        ) TBLPROPERTIES ('owner'='ml')""",
    )
    stmt = sql(spark, f"SHOW CREATE TABLE delta.`{uri}`").collect()[0][
        "createtab_stmt"
    ]
    assert "GENERATED ALWAYS AS IDENTITY (START WITH 5 INCREMENT BY 5)" in stmt
    assert "DEFAULT 'bronze'" in stmt
    assert "NOT NULL" in stmt

    # re-execute the emitted DDL against a fresh path: declarations survive
    uri2 = str(tmp_path / "show2")
    sql(spark, stmt.replace(uri, uri2))
    from delta_rs_spark import DeltaTable

    t2 = DeltaTable(uri2)
    spec = idc.specs(t2.schema())["id"]
    assert (spec.start, spec.step) == (5, 5)
    assert dfl.defaults(t2.schema()) == {"tier": "'bronze'"}
    assert not t2.schema()["name"].nullable
    assert t2.metadata().configuration["owner"] == "ml"


def test_table_changes_by_path_tvf(spark, tmp_path):
    """The CDF table-valued function exposes the change feed as a relation
    composable with the rest of the query (filters, joins, aggregates)."""
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    uri = str(tmp_path / "cdf_t")
    write_deltalake(
        spark, df, uri, configuration={"delta.enableChangeDataFeed": "true"}
    )
    t = DeltaTable(uri)
    t.delete(spark, "id >= 7")                              # v1: 3 deletes
    sql(spark, f"UPDATE delta.`{uri}` SET v = 99 WHERE id = 0")  # v2: pre+post
    out = sql(
        spark,
        f"SELECT _change_type, count(*) AS n "
        f"FROM table_changes_by_path('{uri}', 1) "
        f"GROUP BY _change_type ORDER BY _change_type",
    ).collect()
    got = {r._change_type: r.n for r in out}
    assert got["delete"] == 3
    assert got["update_preimage"] == 1 and got["update_postimage"] == 1
    # bounded range: only the delete commit
    n_del = sql(
        spark,
        f"SELECT count(*) AS n FROM table_changes_by_path('{uri}', 1, 1)",
    ).collect()[0]["n"]
    assert n_del == 3


def test_table_changes_by_path_timestamp_bounds(spark, tmp_path):
    """The TVF also accepts quoted timestamps as bounds, like Delta's own
    table_changes; a far-future start yields zero rows, a mixed
    (version, timestamp) pair brackets the whole window."""
    df = spark.range(6).selectExpr("id")
    uri = str(tmp_path / "cdf_ts")
    write_deltalake(
        spark, df, uri, configuration={"delta.enableChangeDataFeed": "true"}
    )
    DeltaTable(uri).delete(spark, "id >= 4")
    n = sql(
        spark,
        f"SELECT count(*) AS n FROM table_changes_by_path('{uri}', 1, '2099-01-01 00:00:00')",
    ).collect()[0]["n"]
    assert n == 2


def test_sql_merge_with_schema_evolution(spark, tmp_path):
    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.sql import sql as dsql

    uri = str(tmp_path / "mse")
    write_deltalake(spark, spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"), uri)
    src_uri = str(tmp_path / "mse_src")
    write_deltalake(
        spark,
        spark.createDataFrame([(2, "B", 9.5), (3, "c", 1.0)], "id int, v string, score double"),
        src_uri,
    )
    dsql(
        spark,
        f"MERGE WITH SCHEMA EVOLUTION INTO delta.`{uri}` t "
        f"USING delta.`{src_uri}` s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET t.v = s.v, t.score = s.score "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    t = DeltaTable(uri)
    rows = sorted((r.id, r.v, r.score) for r in t.to_df(spark).collect())
    assert rows == [(1, "a", None), (2, "B", 9.5), (3, "c", 1.0)]


def test_merge_refuses_unsupported_when_clause(spark, tmp_path):
    """A WHEN clause outside the supported forms must raise, never be
    silently dropped (a skipped clause would execute a PARTIAL merge)."""
    t_uri = str(tmp_path / "mt")
    s_uri = str(tmp_path / "ms")
    write_deltalake(spark, spark.range(0, 10).selectExpr("id", "id AS v"), t_uri)
    write_deltalake(
        spark, spark.range(5, 15).selectExpr("id", "id + 100 AS v"), s_uri
    )
    with pytest.raises(SqlError, match="supported forms"):
        sql(
            spark,
            f"MERGE INTO delta.`{t_uri}` t USING delta.`{s_uri}` s "
            "ON t.id = s.id "
            "WHEN MATCHED AND s.v > 108 THEN DELETE "
            "WHEN NOT MATCHED THEN INSERT *",
        )
    # and the table is untouched
    assert DeltaTable(t_uri).to_df(spark).count() == 10


def test_create_or_replace_changes_partitioning(spark, tmp_path):
    uri = str(tmp_path / "t")
    sql(
        spark,
        f"CREATE TABLE delta.`{uri}` AS SELECT id, id % 3 AS d FROM range(30)",
    )
    assert DeltaTable(uri).metadata().partition_columns == []
    sql(
        spark,
        f"CREATE OR REPLACE TABLE delta.`{uri}` PARTITIONED BY (d) "
        "AS SELECT id, id % 3 AS d FROM range(30)",
    )
    t = DeltaTable(uri)
    assert t.metadata().partition_columns == ["d"]
    assert t.to_df(spark).count() == 30
