"""Copy-on-write DML: DELETE / UPDATE / MERGE.

The reference sketches update semantics as a commit of add+remove pairs
(``rust/tests/write_exploration.rs:433-444``); these tests certify the full
commands on top of that primitive: atomic swaps, untouched files preserved,
predicate-driven file pruning, time travel across DML versions, and Delta-style
history/metrics.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from delta_rs_spark import DeltaTable, DMLError, write_deltalake
from delta_rs_spark.dml import _skip_tuples_from_predicate


@pytest.fixture()
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


@pytest.fixture()
def doc_table(spark, tmp_path, docs):
    """Partitioned table with several files per partition."""
    uri = str(tmp_path / "docs")
    write_deltalake(
        spark, docs, uri, partition_by=["source"], max_records_per_file=200
    )
    return DeltaTable(uri)


@pytest.fixture()
def cow_doc_table(spark, tmp_path, docs):
    """``doc_table`` with deletion vectors off: DML rewrites files."""
    uri = str(tmp_path / "docs")
    write_deltalake(
        spark, docs, uri, partition_by=["source"], max_records_per_file=200,
        configuration={"delta.enableDeletionVectors": "false"},
    )
    return DeltaTable(uri)


def test_delete_basic(spark, cow_doc_table, docs):
    doc_table = cow_doc_table
    total = docs.count()
    to_delete = docs.filter("n_chars < 200").count()
    assert 0 < to_delete < total

    res = doc_table.delete(spark, "n_chars < 200")
    assert res["numDeletedRows"] == to_delete
    assert res["numRemovedFiles"] >= 1

    df = doc_table.to_df(spark)
    assert df.count() == total - to_delete
    assert df.filter("n_chars < 200").count() == 0
    # history records the DELETE with its predicate
    h = doc_table.history()[0]
    assert h["operation"] == "DELETE"
    assert h["operationParameters"]["predicate"] == "n_chars < 200"
    # time travel still sees the pre-delete rows
    v0 = DeltaTable.for_version(doc_table.table_uri, 0)
    assert v0.to_df(spark).count() == total


def test_delete_untouched_files_preserved(spark, doc_table):
    """Files with no matching rows keep their identity (no rewrite)."""
    before = set(doc_table.file_uris())
    sources = [r["source"] for r in
               doc_table.to_df(spark).select("source").distinct().collect()]
    target_src = sorted(sources)[0]
    res = doc_table.delete(spark, f"source = '{target_src}'")
    assert res["numRemovedFiles"] >= 1
    after = set(doc_table.file_uris())
    untouched_before = {p for p in before if f"source={target_src}" not in p}
    # every non-matching file survives byte-identical (same path, no rewrite)
    assert untouched_before <= after


def test_delete_partition_pruning_reads_only_candidates(spark, doc_table):
    """A partition-equality predicate must prune candidates to one partition."""
    from delta_rs_spark.dml import _candidate_adds

    cands = _candidate_adds(doc_table, "source = 'src3'")
    assert cands, "expected candidate files"
    assert all(a.partition_values.get("source") == "src3" for a in cands)
    all_files = doc_table.snapshot.files()
    assert len(cands) < len(all_files)


def test_delete_stats_pruning(spark, tmp_path, docs):
    """A range predicate outside a file's min/max skips that file."""
    uri = str(tmp_path / "d2")
    # write ordered by n_chars so files have disjoint ranges
    write_deltalake(
        spark,
        docs.orderBy("n_chars"),
        uri,
        max_records_per_file=300,
    )
    t = DeltaTable(uri)
    from delta_rs_spark.dml import _candidate_adds

    lo = docs.agg(F.min("n_chars")).collect()[0][0]
    cands = _candidate_adds(t, f"n_chars <= {lo}")
    assert len(cands) < len(t.snapshot.files())


def test_delete_no_match_is_noop(spark, doc_table):
    v = doc_table.version
    res = doc_table.delete(spark, "n_chars < -1")
    assert res["numRemovedFiles"] == 0 and res["numDeletedRows"] == 0
    assert doc_table.version == v  # no commit written


def test_delete_null_predicate_rows_survive(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id int, v int"
    )
    uri = str(tmp_path / "n")
    write_deltalake(spark, df, uri)
    t = DeltaTable(uri)
    t.delete(spark, "v > 15")
    left = sorted(r["id"] for r in t.to_df(spark).collect())
    assert left == [1, 2]  # NULL-predicate row kept, SQL DELETE semantics


def test_update_basic(spark, doc_table, docs):
    n_web = docs.filter("source = 'src3'").count()
    res = doc_table.update_where(
        spark, "source = 'src3'", {"lang": "'xx'", "n_chars": "n_chars + 1"}
    )
    assert res["numUpdatedRows"] == n_web
    df = doc_table.to_df(spark)
    assert df.filter("source = 'src3'").filter("lang != 'xx'").count() == 0
    assert df.count() == docs.count()
    # RHS saw pre-update values
    expected = docs.filter("source = 'src3'").agg(
        F.sum(F.col("n_chars") + 1).alias("s")
    ).collect()[0]["s"]
    got = df.filter("source = 'src3'").agg(F.sum("n_chars").alias("s")).collect()[0]["s"]
    assert got == expected
    assert doc_table.history()[0]["operation"] == "UPDATE"
    # schema unchanged
    assert doc_table.schema() == DeltaTable.for_version(doc_table.table_uri, 0).schema()


def test_update_unknown_column_errors(spark, doc_table):
    with pytest.raises(DMLError):
        doc_table.update_where(spark, "n_chars > 0", {"nope": "1"})


def test_merge_upsert(spark, tmp_path, docs):
    uri = str(tmp_path / "m")
    write_deltalake(spark, docs, uri, max_records_per_file=500)
    t = DeltaTable(uri)
    total = docs.count()

    # source: 50 existing docs with mutated text + 25 brand-new ids
    existing = docs.limit(50).withColumn("text", F.lit("UPDATED"))
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    new = (
        docs.limit(25)
        .withColumn("doc_id", (F.col("doc_id") + F.lit(max_id + 1)).cast("long"))
        .withColumn("text", F.lit("INSERTED"))
    )
    source = existing.unionByName(new)

    res = t.merge(spark, source, "t.doc_id = s.doc_id")
    assert res["numTargetRowsUpdated"] == 50
    assert res["numTargetRowsInserted"] == 25

    df = t.to_df(spark)
    assert df.count() == total + 25
    assert df.filter("text = 'UPDATED'").count() == 50
    assert df.filter("text = 'INSERTED'").count() == 25
    assert t.history()[0]["operation"] == "MERGE"
    # time travel: pre-merge version intact
    assert DeltaTable.for_version(uri, 0).to_df(spark).count() == total


def test_merge_matched_delete(spark, tmp_path, docs):
    uri = str(tmp_path / "md")
    write_deltalake(spark, docs, uri)
    t = DeltaTable(uri)
    victims = docs.limit(30).select("doc_id")
    res = t.merge(
        spark,
        victims,
        "t.doc_id = s.doc_id",
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    assert res["numTargetRowsDeleted"] == 30
    assert t.to_df(spark).count() == docs.count() - 30


def test_merge_partial_update_assignments(spark, tmp_path, docs):
    uri = str(tmp_path / "mp")
    write_deltalake(spark, docs, uri)
    t = DeltaTable(uri)
    src = docs.limit(10).select("doc_id", F.lit(-7).cast("long").alias("delta_chars"))
    res = t.merge(
        spark,
        src,
        "t.doc_id = s.doc_id",
        when_matched_update={"n_chars": "t.n_chars + s.delta_chars"},
        when_not_matched_insert=False,
    )
    assert res["numTargetRowsUpdated"] == 10
    orig = {r["doc_id"]: r["n_chars"] for r in docs.limit(10).collect()}
    got = {
        r["doc_id"]: r["n_chars"]
        for r in t.to_df(spark).filter(
            F.col("doc_id").isin(list(orig))
        ).collect()
    }
    assert got == {k: v - 7 for k, v in orig.items()}


def test_merge_duplicate_source_match_errors(spark, tmp_path, docs):
    uri = str(tmp_path / "dup")
    write_deltalake(spark, docs.limit(20), uri)
    t = DeltaTable(uri)
    one = docs.limit(1)
    dup_src = one.unionByName(one)  # two source rows for the same doc_id
    with pytest.raises(DMLError):
        t.merge(spark, dup_src, "t.doc_id = s.doc_id", when_not_matched_insert=False)


def test_merge_insert_only(spark, tmp_path, docs):
    uri = str(tmp_path / "mi")
    write_deltalake(spark, docs.limit(40), uri)
    t = DeltaTable(uri)
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    new = docs.limit(5).withColumn(
        "doc_id", (F.col("doc_id") + F.lit(max_id + 1)).cast("long")
    )
    res = t.merge(spark, new, "t.doc_id = s.doc_id")
    assert res["numTargetRowsInserted"] == 5
    assert res["numTargetRowsUpdated"] == 0
    assert t.to_df(spark).count() == 45


def test_skip_tuple_parser():
    assert _skip_tuples_from_predicate("a = 5 AND b <= 'x'") == [
        ("a", "=", 5),
        ("b", "<=", "x"),
    ]
    assert _skip_tuples_from_predicate("a == 5") == [("a", "=", 5)]
    assert _skip_tuples_from_predicate("a <> 5") == [("a", "!=", 5)]
    # disjunctions / functions produce no hints (conservative)
    assert _skip_tuples_from_predicate("a = 5 OR b = 2") == []
    assert _skip_tuples_from_predicate("length(a) = 5") == []
    # unparseable conjunct skipped, parseable kept
    assert _skip_tuples_from_predicate("a = 5 AND b LIKE 'z%'") == [("a", "=", 5)]
    assert _skip_tuples_from_predicate("a = -1.5") == [("a", "=", -1.5)]
    assert _skip_tuples_from_predicate("s = 'it''s'") == [("s", "=", "it's")]


def test_merge_full_sync_mirror(spark, tmp_path, docs):
    """when_not_matched_by_source_delete + defaults == make target mirror
    the source exactly (the full-sync pattern)."""
    uri = str(tmp_path / "sync")
    write_deltalake(spark, docs.limit(60), uri)
    t = DeltaTable(uri)

    # source: 20 kept rows (10 with mutated text) + 5 brand-new ids
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    kept = docs.limit(20)
    mutated = kept.limit(10).withColumn("text", F.lit("SYNCED"))
    source = mutated.unionByName(kept.exceptAll(kept.limit(10))).unionByName(
        docs.limit(5).withColumn(
            "doc_id", (F.col("doc_id") + F.lit(max_id + 1)).cast("long")
        )
    )
    res = t.merge(
        spark, source, "t.doc_id = s.doc_id",
        when_not_matched_by_source_delete=True,
    )
    assert res["numTargetRowsDeleted"] == 40        # 60 - 20 matched
    assert res["numTargetRowsUpdated"] == 20
    assert res["numTargetRowsInserted"] == 5
    out = t.to_df(spark)
    assert out.count() == 25
    # target now equals source exactly
    assert out.exceptAll(source.select(*out.columns)).count() == 0
    assert source.select(*out.columns).exceptAll(out).count() == 0


def test_concurrent_partition_disjoint_deletes(spark, doc_table, docs):
    """Four threads deleting disjoint partitions concurrently: the blind
    optimistic-retry loop serializes the commits (gapless versions) and
    every deletion lands — partition-disjoint DML is retry-safe even
    without conflict detection."""
    import threading

    sources = sorted(
        r["source"] for r in docs.select("source").distinct().collect()
    )[:4]
    errors = []

    def run(src):
        try:
            # each thread gets its own handle (stale snapshots exercise the
            # retry loop's refresh)
            t = DeltaTable(doc_table.table_uri)
            t.delete(spark, f"source = '{src}'")
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=run, args=(s,)) for s in sources]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors

    final = DeltaTable(doc_table.table_uri)
    assert final.version == 4  # 4 DML commits, gapless
    out = final.to_df(spark)
    assert out.filter(F.col("source").isin(sources)).count() == 0
    expected = docs.filter(~F.col("source").isin(sources)).count()
    assert out.count() == expected


def test_detail_summary(doc_table, docs):
    d = doc_table.detail()
    assert d["format"] == "delta"
    assert d["partitionColumns"] == ["source"]
    assert d["numFiles"] == len(doc_table.files())
    assert d["numRecords"] == docs.count()
    assert d["sizeInBytes"] > 0
    assert d["version"] == 0


def test_skip_tuple_parser_multiline_or(spark, tmp_path):
    """OR separated by newline must disable pruning hints entirely —
    a wrong hint would silently skip files containing matching rows."""
    assert _skip_tuples_from_predicate("a = 5 AND b = 2\nOR c = 3") == []
    assert _skip_tuples_from_predicate("a = 5\tOR b = 1") == []
    assert _skip_tuples_from_predicate("NOT\na = 5") == []
    # ...and end-to-end: the delete still removes the OR'd rows
    df = spark.createDataFrame([(1, 5, 0), (2, 0, 3), (3, 0, 0)], "id int, a int, c int")
    uri = str(tmp_path / "or")
    write_deltalake(spark, df.repartition(3, "id"), uri)
    t = DeltaTable(uri)
    t.delete(spark, "a = 5\nOR c = 3")
    assert sorted(r.id for r in t.to_df(spark).collect()) == [3]


def test_delete_all_metadata_only(spark, tmp_path, sf_dir):
    """DELETE without a predicate tombstones every file with zero data I/O;
    time travel and CDF synthesis still see the rows."""
    import os as _os

    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.sql import sql

    docs = spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
    uri = str(tmp_path / "t")
    write_deltalake(spark, docs, uri, max_records_per_file=200)
    t = DeltaTable(uri)
    n_files = len(t.files())

    res = sql(spark, f"DELETE FROM delta.`{uri}`").collect()[0]
    assert int(res["numRemovedFiles"]) == n_files
    assert int(res["numDeletedRows"]) == 500

    t2 = DeltaTable(uri)
    assert t2.files() == []
    assert t2.to_df(spark).count() == 0
    # time travel still reads everything
    assert DeltaTable.for_version(uri, 0).to_df(spark).count() == 500
    # CDF synthesis reconstructs the deletes from the tombstones
    cdf = t2.load_cdf(spark, starting_version=1)
    assert cdf.filter("_change_type = 'delete'").count() == 500


def test_partition_delete_fast_path(spark, tmp_path):
    """DELETE WHERE <partition = literal> tombstones whole partitions with
    NO rewrite (zero adds in the commit) and no scan of the data."""
    from pyspark.sql import functions as F

    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.protocol.actions import AddAction, RemoveAction

    df = spark.range(60).select(
        F.col("id"), (F.col("id") % 3).alias("bucket"),
        (F.col("id") % 2 == 0).alias("flag"),
    )
    uri = str(tmp_path / "t")
    write_deltalake(spark, df, uri, partition_by=["bucket"])
    t = DeltaTable(uri)

    res = t.delete(spark, "bucket = 1")
    assert res["numAddedFiles"] == 0
    assert res["numDeletedRows"] == 20
    actions = t.log.read_commit(t.version)
    assert not any(isinstance(a, AddAction) for a in actions)
    assert any(isinstance(a, RemoveAction) for a in actions)
    assert t.to_df(spark).filter("bucket = 1").count() == 0
    assert t.to_df(spark).count() == 40

    # multi-conjunct on partition columns still fast-paths
    uri2 = str(tmp_path / "t2")
    write_deltalake(spark, df, uri2, partition_by=["bucket", "flag"])
    t2 = DeltaTable(uri2)
    res2 = t2.delete(spark, "bucket = 0 AND flag = 'true'")
    assert res2["numAddedFiles"] == 0
    assert t2.to_df(spark).filter("bucket = 0 AND flag").count() == 0

    # a non-partition conjunct falls back to the row-level path
    res3 = t2.delete(spark, "bucket = 2 AND id < 10")
    assert t2.to_df(spark).filter("bucket = 2 AND id < 10").count() == 0
    assert t2.to_df(spark).filter("bucket = 2").count() > 0


def test_partition_delete_fast_path_cdf(spark, tmp_path):
    """The fast path keeps CDF correct: deletes synthesize from removes."""
    from pyspark.sql import functions as F

    from delta_rs_spark import DeltaTable, write_deltalake

    df = spark.range(30).select(F.col("id"), (F.col("id") % 3).alias("bucket"))
    uri = str(tmp_path / "t")
    write_deltalake(
        spark, df, uri,
        partition_by=["bucket"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    t = DeltaTable(uri)
    t.delete(spark, "bucket = 2")
    cdf = t.load_cdf(spark, starting_version=1)
    dels = cdf.filter("_change_type = 'delete'")
    assert dels.count() == 10
    assert dels.filter("bucket != 2").count() == 0


def test_merge_schema_evolution_adds_source_columns(spark, tmp_path, docs):
    """withSchemaEvolution semantics: source-only columns append to the
    table as nullable fields in the same commit; pre-merge rows read NULL,
    updates may assign them, inserts carry them."""
    uri = str(tmp_path / "m")
    write_deltalake(spark, docs.select("doc_id", "source"), uri)
    t = DeltaTable(uri)
    total = docs.count()
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]

    src = (
        docs.limit(20)
        .select("doc_id", "source")
        .withColumn("score", F.lit(0.5))
        .unionByName(
            docs.limit(5)
            .select(
                (F.col("doc_id") + max_id + 1).alias("doc_id"), F.col("source")
            )
            .withColumn("score", F.lit(0.9))
        )
    )
    # without the flag: unknown column refused
    with pytest.raises(DMLError):
        t.merge(
            spark, src, "t.doc_id = s.doc_id",
            when_matched_update={"score": "s.score"},
        )
    res = t.merge(
        spark, src, "t.doc_id = s.doc_id",
        when_matched_update={"score": "s.score"},
        schema_evolution=True,
    )
    assert res["numTargetRowsUpdated"] == 20
    assert res["numTargetRowsInserted"] == 5
    t.update()
    assert "score" in t.schema().names
    assert t.schema()["score"].nullable
    df = t.to_df(spark)
    assert df.count() == total + 5
    assert df.filter("score = 0.5").count() == 20
    assert df.filter("score = 0.9").count() == 5
    # untouched rows read NULL for the evolved column
    assert df.filter("score IS NULL").count() == total - 20
    # time travel below the merge still shows the narrow schema
    assert "score" not in DeltaTable.for_version(uri, t.version - 1).schema().names


def test_merge_schema_evolution_insert_only_fills_nullable(spark, tmp_path, docs):
    uri = str(tmp_path / "m")
    write_deltalake(spark, docs.select("doc_id", "source", "lang"), uri)
    t = DeltaTable(uri)
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    # source omits the nullable 'lang' column AND brings a new 'rank' column
    src = (
        docs.limit(3)
        .select((F.col("doc_id") + max_id + 1).alias("doc_id"), "source")
        .withColumn("rank", F.lit(7))
    )
    res = t.merge(
        spark, src, "t.doc_id = s.doc_id",
        when_not_matched_insert=True,
        schema_evolution=True,
    )
    assert res["numTargetRowsInserted"] == 3
    t.update()
    rows = t.to_df(spark).filter("rank = 7").collect()
    assert len(rows) == 3
    assert all(r["lang"] is None for r in rows)


def test_merge_schema_evolution_column_mapped(spark, tmp_path, docs):
    """Evolved columns on a COLUMN-MAPPED table must stage under their new
    physical names — the regression here read every merged value back NULL."""
    uri = str(tmp_path / "m")
    write_deltalake(spark, docs.select("doc_id", "source").limit(50), uri)
    t = DeltaTable(uri)
    t.set_column_mapping_mode("name")
    src = (
        docs.select("doc_id", "source")
        .limit(10)
        .withColumn("score", F.lit(0.75))
    )
    res = t.merge(
        spark, src, "t.doc_id = s.doc_id",
        when_matched_update={"score": "s.score"},
        when_not_matched_insert=False,
        schema_evolution=True,
    )
    assert res["numTargetRowsUpdated"] == 10
    t.update()
    from delta_rs_spark.protocol import column_mapping as cm

    # the evolved field got a fresh physical name + id
    f = t.schema()["score"]
    assert f.metadata.get("delta.columnMapping.physicalName", "").startswith("col-")
    # and the merged values actually read back (NOT NULL)
    df = t.to_df(spark)
    assert df.filter("score = 0.75").count() == 10
    assert df.filter("score IS NULL").count() == 40


# ---------------------------------------------------------------------------
# Review-pass regressions: pruning spellings, MoR caps, row identity
# ---------------------------------------------------------------------------


def test_delete_on_float_partition_value_is_not_mispruned(spark, tmp_path):
    """str(0.0001) != the Hive dir spelling Spark writes ('1.0E-4'): the
    predicate must still delete the rows (no unprovable partition filter)."""
    uri = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 0.0001), (2, 0.5), (3, 0.0001)], "id long, p double"
    )
    write_deltalake(spark, df, uri, partition_by=["p"])
    t = DeltaTable(uri)
    res = t.delete(spark, "p = 0.0001")
    assert res["numDeletedRows"] == 2
    assert DeltaTable(uri).to_df(spark).count() == 1


def test_delete_numeric_literal_on_string_partition(spark, tmp_path):
    """String partition '05' with predicate p = 5: SQL casts make it match —
    pruning must not compare '5' against '05' and miss it."""
    uri = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "05"), (2, "7")], "id long, p string")
    write_deltalake(spark, df, uri, partition_by=["p"])
    res = DeltaTable(uri).delete(spark, "p = 5")
    assert res["numDeletedRows"] == 1
    rows = DeltaTable(uri).to_df(spark).collect()
    assert [r.p for r in rows] == ["7"]


def test_merge_mor_falls_back_to_cow_over_position_cap(spark, tmp_path, monkeypatch):
    """A full-sync MERGE whose kill-position count exceeds DV_MAX_POSITIONS
    must take the rewrite path (bounded driver memory) and stay correct."""
    import delta_rs_spark.dml as dml_mod

    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        spark.range(0, 200).selectExpr("id", "id AS v"),
        uri,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    monkeypatch.setattr(dml_mod, "DV_MAX_POSITIONS", 10)
    src = spark.range(0, 20).selectExpr("id", "id + 1000 AS v")
    t = DeltaTable(uri)
    res = t.merge(
        spark,
        src,
        "t.id = s.id",
        when_not_matched_by_source_delete=True,  # kills 180 rows > cap
    )
    t2 = DeltaTable(uri)
    assert t2.to_df(spark).count() == 20
    assert t2.to_df(spark).agg({"v": "min"}).collect()[0][0] == 1000
    assert res["numTargetRowsDeleted"] == 180
    # no DV descriptors: the rewrite path ran
    assert not any(a.deletion_vector for a in t2.snapshot.files())


def test_mor_delete_over_total_cap_ships_no_positions(spark, tmp_path, monkeypatch):
    """The position cap bounds the table-wide total before anything reaches
    the driver: a DELETE whose every file stays under DV_MAX_POSITIONS but
    whose total exceeds it collects no positions and rewrites instead."""
    import delta_rs_spark.dml as dml_mod

    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        spark.range(0, 400).selectExpr("id", "id % 10 AS k").repartitionByRange(4, "id"),
        uri,
    )
    assert len(DeltaTable(uri).add_actions()) == 4
    # 4 files × 50 matching rows: each under the cap, the 200 total over it
    monkeypatch.setattr(dml_mod, "DV_MAX_POSITIONS", 120)
    collected = []
    frame_cls = type(spark.range(1))
    real_collect = frame_cls.collect

    def spy(self):
        rows = real_collect(self)
        collected.extend(r for r in rows if "files" in r.asDict())
        return rows

    monkeypatch.setattr(frame_cls, "collect", spy)
    res = DeltaTable(uri).delete(spark, "k < 5")
    assert collected and all(r["files"] is None for r in collected)
    assert res["numDeletedRows"] == 200
    t2 = DeltaTable(uri)
    assert not any(a.deletion_vector for a in t2.snapshot.files())
    assert sorted(r.id for r in t2.to_df(spark).collect()) == [
        i for i in range(400) if i % 10 >= 5
    ]


def test_mor_update_preserves_row_ids(spark, tmp_path):
    """Merge-on-read UPDATE must keep each updated row's _row_id (values
    change, identity does not) — same contract as copy-on-write."""
    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        spark.range(0, 50).selectExpr("id", "id AS v"),
        uri,
        configuration={
            "delta.enableRowTracking": "true",
            "delta.enableDeletionVectors": "true",
        },
    )
    t = DeltaTable(uri)
    before = {
        r.id: r._row_id
        for r in t.to_df(spark, with_row_ids=True).collect()
    }
    res = t.update_where(spark, "id % 10 = 3", {"v": "v + 1000"})
    assert res.get("numDeletionVectorsAdded") or res.get("numUpdatedRows")
    t2 = DeltaTable(uri)
    after = {
        r.id: (r._row_id, r.v)
        for r in t2.to_df(spark, with_row_ids=True).collect()
    }
    for i in range(50):
        assert after[i][0] == before[i], f"row {i} changed identity"
        assert after[i][1] == (i + 1000 if i % 10 == 3 else i)


def test_mor_merge_recomputes_generated_on_insert(spark, tmp_path):
    """MoR MERGE inserts must recompute generated columns (source-provided
    values are unvalidated), matching the copy-on-write path."""
    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        spark.range(0, 10).selectExpr("id", "id AS x"),
        uri,
        generated_columns={"g": "x + 1"},
        configuration={"delta.enableDeletionVectors": "true"},
    )
    src = spark.createDataFrame([(100, 5, 999)], "id long, x long, g long")
    t = DeltaTable(uri)
    t.merge(spark, src, "t.id = s.id", when_matched_delete=True)
    got = {r.id: r.g for r in DeltaTable(uri).to_df(spark).collect()}
    assert got[100] == 6  # recomputed, not the source's 999
