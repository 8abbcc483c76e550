"""Change Data Feed: row-level changes between versions.

The reference reserves ``_change_data`` in its vacuum hidden-path predicate
(``rust/src/delta.rs:904-916``) without a writer; here the public Delta CDF
semantics are implemented end-to-end: cdc actions + change files on DML when
``delta.enableChangeDataFeed=true``, synthesized insert/delete from file
actions otherwise.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.cdf import CDF_PROPERTY
from delta_rs_spark.protocol.actions import CdcAction


@pytest.fixture()
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


@pytest.fixture()
def cdf_table(spark, tmp_path, docs):
    uri = str(tmp_path / "t")
    write_deltalake(
        spark, docs, uri, configuration={CDF_PROPERTY: "true"}, max_records_per_file=200
    )
    return DeltaTable(uri)


def test_append_synthesizes_inserts(spark, cdf_table, docs):
    cdf = cdf_table.load_cdf(spark)
    assert cdf.count() == docs.count()
    assert cdf.select("_change_type").distinct().collect()[0][0] == "insert"
    assert cdf.select("_commit_version").distinct().collect()[0][0] == 0
    # CDF columns ride alongside the full table schema
    assert set(cdf.columns) == set(docs.columns) | {"_change_type", "_commit_version"}


def test_delete_writes_change_files(spark, cdf_table, docs):
    n_del = docs.filter("n_chars < 200").count()
    cdf_table.delete(spark, "n_chars < 200")
    # cdc actions committed, files under _change_data/
    actions = cdf_table.log.try_read_commit(1)
    cdc = [a for a in actions if isinstance(a, CdcAction)]
    assert cdc and all(a.path.startswith("_change_data/") for a in cdc)
    changes = cdf_table.load_cdf(spark, starting_version=1)
    assert changes.count() == n_del
    assert changes.filter("_change_type = 'delete'").count() == n_del
    # the deleted rows are exactly the predicate matches
    assert changes.filter("n_chars >= 200").count() == 0


def test_update_pre_and_post_images(spark, cdf_table, docs):
    n = docs.filter("source = 'src3'").count()
    cdf_table.update_where(spark, "source = 'src3'", {"n_chars": "n_chars + 1000"})
    ch = cdf_table.load_cdf(spark, starting_version=1)
    pre = ch.filter("_change_type = 'update_preimage'")
    post = ch.filter("_change_type = 'update_postimage'")
    assert pre.count() == n and post.count() == n
    # post-image n_chars is exactly pre-image + 1000, row-for-row by doc_id
    joined = pre.alias("a").join(post.alias("b"), "doc_id").select(
        (F.col("b.n_chars") - F.col("a.n_chars")).alias("d")
    )
    assert joined.filter("d != 1000").count() == 0


def test_merge_change_mix(spark, cdf_table, docs):
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    existing = docs.limit(20).withColumn("text", F.lit("U"))
    new = docs.limit(7).withColumn(
        "doc_id", (F.col("doc_id") + F.lit(max_id + 1)).cast("long")
    )
    cdf_table.merge(spark, existing.unionByName(new), "t.doc_id = s.doc_id")
    ch = cdf_table.load_cdf(spark, starting_version=1)
    by_type = {r["_change_type"]: r["n"] for r in
               ch.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_type == {"update_preimage": 20, "update_postimage": 20, "insert": 7}


def test_cdf_disabled_dml_synthesis_not_rowlevel(spark, tmp_path, docs):
    """Without the property, DML commits carry no cdc files; load_cdf falls
    back to file-level synthesis (rewritten files show copied rows too)."""
    uri = str(tmp_path / "plain")
    write_deltalake(spark, docs, uri, max_records_per_file=200)
    t = DeltaTable(uri)
    t.delete(spark, "n_chars < 200")
    actions = t.log.try_read_commit(1)
    assert not [a for a in actions if isinstance(a, CdcAction)]
    ch = t.load_cdf(spark, starting_version=1)
    # file-level: every removed file's rows appear as delete, surviving
    # rewritten rows appear as insert — coarser than row-level CDF
    assert ch.filter("_change_type = 'delete'").count() >= docs.filter("n_chars < 200").count()


def test_version_range_and_overwrite(spark, tmp_path, docs):
    uri = str(tmp_path / "ow")
    write_deltalake(spark, docs.limit(50), uri)
    write_deltalake(spark, docs.limit(10), uri, mode="overwrite")
    t = DeltaTable(uri)
    v1 = t.load_cdf(spark, starting_version=1, ending_version=1)
    by_type = {r["_change_type"]: r["n"] for r in
               v1.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_type == {"insert": 10, "delete": 50}
    only_v0 = t.load_cdf(spark, starting_version=0, ending_version=0)
    assert only_v0.count() == 50
    with pytest.raises(ValueError):
        t.load_cdf(spark, starting_version=5, ending_version=1)


def test_vacuum_keeps_change_files_until_retention(spark, cdf_table):
    cdf_table.delete(spark, "n_chars < 200")
    listed = cdf_table.vacuum(retention_hours=168, dry_run=True)
    # fresh change files are within retention: not deletable yet
    assert not [p for p in listed if "_change_data" in p]


def test_incremental_dedup_index(spark, tmp_path, docs):
    """CDF + txn watermark = exactly-once incremental dedup maintenance."""
    from delta_rs_spark.operators.dedup import update_dedup_index

    corpus_uri = str(tmp_path / "corpus")
    index_uri = str(tmp_path / "index")

    batch1 = docs.limit(100)
    write_deltalake(
        spark, batch1, corpus_uri, configuration={CDF_PROPERTY: "true"}
    )
    corpus = DeltaTable(corpus_uri)

    m1 = update_dedup_index(spark, corpus, index_uri)
    uniq1 = batch1.select("text").distinct().count()
    assert m1["rows_seen"] == 100
    assert m1["new_keys"] == uniq1
    assert m1["duplicate_rows"] == 100 - uniq1

    # batch 2: 30 fresh docs + 10 exact copies of batch-1 texts under new ids
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    fresh = docs.orderBy("doc_id").limit(130).subtract(batch1)
    copies = batch1.limit(10).withColumn(
        "doc_id", (F.col("doc_id") + F.lit(max_id + 1)).cast("long")
    )
    write_deltalake(spark, fresh.unionByName(copies), corpus_uri, mode="append")
    corpus.update()

    m2 = update_dedup_index(spark, corpus, index_uri)
    assert m2["processed_versions"] == 1          # only the new commit
    assert m2["rows_seen"] == 40
    assert m2["duplicate_rows"] >= 10             # the copies hit the index

    # idempotent: nothing new -> watermark short-circuits, no commit
    idx_version = DeltaTable(index_uri).version
    m3 = update_dedup_index(spark, corpus, index_uri)
    assert m3["processed_versions"] == 0 and m3["rows_seen"] == 0
    assert DeltaTable(index_uri).version == idx_version

    # the index holds exactly the distinct corpus texts
    n_distinct = corpus.to_df(spark).select("text").distinct().count()
    assert DeltaTable(index_uri).to_df(spark).count() == n_distinct


def test_replace_where_writes_change_files(spark, tmp_path, docs):
    uri = str(tmp_path / "rwcdf")
    write_deltalake(spark, docs, uri, configuration={CDF_PROPERTY: "true"})
    n_src3 = docs.filter("source = 'src3'").count()
    replacement = docs.filter("source = 'src3'").limit(3)
    t = write_deltalake(
        spark, replacement, uri, mode="overwrite", replace_where="source = 'src3'"
    )
    ch = t.load_cdf(spark, starting_version=1)
    by_type = {r["_change_type"]: r["n"] for r in
               ch.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_type == {"delete": n_src3, "insert": 3}


def test_load_cdf_same_file_in_multiple_versions(spark, tmp_path, docs):
    """RESTORE re-adds files removed earlier: the same path appears in
    several commits of the range; load_cdf must not build duplicate map
    keys (one-scan fast path falls back to per-version branches)."""
    uri = str(tmp_path / "rr")
    write_deltalake(spark, docs.limit(50), uri)          # v0: file F
    t = DeltaTable(uri)
    t.delete(spark, "n_chars >= 0")                      # v1: removes F
    t.restore(0)                                         # v2: re-adds F
    ch = t.load_cdf(spark, starting_version=0, ending_version=2)
    per_v = {r["_commit_version"]: r["n"] for r in
             ch.groupBy("_commit_version").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_v == {0: 50, 1: 50, 2: 50}  # insert@0, delete@1, insert@2


def test_load_cdf_out_of_range_versions_error(spark, cdf_table):
    with pytest.raises(ValueError, match="beyond"):
        cdf_table.load_cdf(spark, starting_version=0, ending_version=99)
    with pytest.raises(ValueError):
        cdf_table.load_cdf(spark, starting_version=7)  # latest is 0


def test_timestamp_bounds_for_cdf_and_restore(spark, tmp_path, sf_dir):
    """Timestamps resolve to the last version committed <= ts for both
    load_cdf bounds and RESTORE (same binary search as load_with_datetime)."""
    import datetime as dt
    import os

    from delta_rs_spark import DeltaTable, write_deltalake

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(20)
    uri = str(tmp_path / "ts")
    write_deltalake(spark, docs, uri)  # v0
    t = DeltaTable(uri)
    t.delete(spark, "doc_id % 2 = 0")  # v1
    t = DeltaTable(uri)

    after_v1 = dt.datetime.fromtimestamp(
        t.log.commit_timestamp_ms(1) / 1000 + 1, tz=dt.timezone.utc
    )
    assert t.version_at_timestamp(after_v1) == 1

    cdf = t.load_cdf(spark, ending_timestamp=after_v1)
    assert {r["_commit_version"] for r in cdf.collect()} == {0, 1}

    res = t.restore(after_v1)  # ts of v1 -> restore to v1 (no-op content-wise)
    t2 = DeltaTable(uri)
    assert res["version"] == 2
    assert t2.to_df(spark).count() == t.to_df(spark).count()


def test_incremental_rollup_tracks_full_recompute(spark, tmp_path):
    """Incrementally-maintained rollup == full recompute after appends,
    deletes, and updates; re-running without new versions is a no-op; a
    group whose rows all vanish is removed from the rollup."""
    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.operators.incremental import incremental_rollup

    src_uri = str(tmp_path / "src")
    tgt_uri = str(tmp_path / "rollup")
    df = spark.range(0, 100).selectExpr("id", "id % 5 AS g", "CAST(id AS DOUBLE) AS x")
    write_deltalake(spark, df, src_uri)  # v0
    src = DeltaTable(src_uri)

    def recompute():
        return sorted(
            map(
                tuple,
                src.to_df(spark)
                .groupBy("g")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.coalesce(F.sum("x"), F.lit(0)).cast("double").alias("sum_x"),
                )
                .collect(),
            )
        )

    def rollup():
        return sorted(map(tuple, DeltaTable(tgt_uri).to_df(spark).collect()))

    m0 = incremental_rollup(spark, src, tgt_uri, ["g"], ["x"])
    assert m0["bootstrapped"]
    assert rollup() == recompute()

    # appends (new groups too), a delete, and an update
    write_deltalake(
        spark,
        spark.range(100, 140).selectExpr("id", "id % 7 AS g", "CAST(id AS DOUBLE) AS x"),
        src_uri,
        mode="append",
    )
    src = DeltaTable(src_uri)
    src.delete(spark, "g = 2 AND id < 100")
    src = DeltaTable(src_uri)
    src.update_where(spark, "id = 8", {"x": "999.0"})  # g=3: untouched by the delete
    src = DeltaTable(src_uri)

    m1 = incremental_rollup(spark, src, tgt_uri, ["g"], ["x"])
    assert not m1["bootstrapped"]
    assert m1["processed_versions"] == 3
    assert rollup() == recompute()

    # no new versions -> watermark no-op
    m2 = incremental_rollup(spark, src, tgt_uri, ["g"], ["x"])
    assert m2["processed_versions"] == 0

    # a group vanishing entirely drops out of the rollup
    src.delete(spark, "g = 6")
    src = DeltaTable(src_uri)
    m3 = incremental_rollup(spark, src, tgt_uri, ["g"], ["x"])
    assert m3["groups_removed"] == 1
    assert rollup() == recompute()
    assert not any(r[0] == 6 for r in rollup())


def test_load_cdf_across_schema_evolution(spark, tmp_path):
    """A change range spanning a schema-merge commit reads uniformly under
    the LATEST schema: pre-evolution inserts carry NULL for added columns."""
    from delta_rs_spark import DeltaTable, write_deltalake

    uri = str(tmp_path / "se")
    write_deltalake(spark, spark.range(0, 5).selectExpr("id"), uri)  # v0
    df2 = spark.range(5, 8).selectExpr("id", "CAST(id*2 AS LONG) AS extra")
    write_deltalake(spark, df2, uri, mode="append", schema_mode="merge")  # v1
    t = DeltaTable(uri)
    rows = t.load_cdf(spark, starting_version=0, ending_version=1).collect()
    v0 = [r for r in rows if r["_commit_version"] == 0]
    v1 = [r for r in rows if r["_commit_version"] == 1]
    assert len(v0) == 5 and all(r.extra is None for r in v0)
    assert len(v1) == 3 and all(r.extra == r.id * 2 for r in v1)
    assert all(r["_change_type"] == "insert" for r in rows)


def test_cdf_enable_bumps_protocol(spark, tmp_path, sf_dir):
    """Enabling the change data feed carries the legacy writer-4 floor
    (or the changeDataFeed feature on list-mandatory tables)."""
    import os as _os

    from delta_rs_spark import DeltaTable, write_deltalake

    df = spark.read.parquet(_os.path.join(sf_dir, "region.parquet"))

    # create WITH the property: floor set at version 0
    uri1 = str(tmp_path / "born")
    write_deltalake(
        spark, df, uri1, configuration={"delta.enableChangeDataFeed": "true"}
    )
    assert DeltaTable(uri1).protocol_versions()[1] >= 4

    # enable later via SET TBLPROPERTIES: the enabling commit bumps
    uri2 = str(tmp_path / "later")
    # deletion vectors off, so the table starts at the legacy (1, 2)
    write_deltalake(spark, df, uri2, configuration={"delta.enableDeletionVectors": "false"})
    t = DeltaTable(uri2)
    assert t.protocol_versions()[1] == 2
    t.set_properties({"delta.enableChangeDataFeed": "true"})
    t.update()
    assert t.protocol_versions()[1] >= 4

    # on a feature-list table the token lands in writerFeatures
    uri3 = str(tmp_path / "listed")
    write_deltalake(
        spark, df, uri3,
        configuration={"delta.enableInCommitTimestamps": "true"},
    )
    t3 = DeltaTable(uri3)
    t3.set_properties({"delta.enableChangeDataFeed": "true"})
    t3.update()
    assert "changeDataFeed" in (t3.snapshot.state.writer_features or [])


def test_load_cdf_raises_on_cleaned_up_versions(spark, tmp_path):
    """A commit removed by log cleanup inside the requested range must
    raise, not silently truncate the change feed."""
    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        spark.range(0, 10).selectExpr("id"),
        uri,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    write_deltalake(spark, spark.range(10, 20).selectExpr("id"), uri, mode="append")
    t = DeltaTable(uri)
    # simulate cleanup: drop commit 0
    t.log.backend.delete_obj(t.log.commit_path(0))
    with pytest.raises(ValueError, match="no longer available"):
        t.load_cdf(spark, starting_version=0).collect()
    # a retained starting version still works
    assert t.load_cdf(spark, starting_version=1).count() == 10


def test_load_cdf_starting_timestamp_is_at_or_after(spark, tmp_path):
    """startingTimestamp must exclude changes committed strictly before it
    (resolve to the FIRST version at-or-after, not the last one before)."""
    import datetime as dt

    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        spark.range(0, 5).selectExpr("id"),
        uri,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    write_deltalake(spark, spark.range(5, 9).selectExpr("id"), uri, mode="append")
    t = DeltaTable(uri)
    ts0 = t.log.commit_timestamp_ms(0)
    ts1 = t.log.commit_timestamp_ms(1)
    assert ts1 > ts0  # in-commit/mtime clocks are monotonic
    mid = dt.datetime.fromtimestamp((ts0 + ts1) / 2000 + 0.0005)
    changes = t.load_cdf(spark, starting_timestamp=mid)
    versions = {r._commit_version for r in changes.collect()}
    assert versions == {1}  # v0 (committed before the timestamp) excluded


def test_dedup_index_auto_compaction(spark, docs, tmp_path):
    """compact_threshold_files on the exact-dedup index: append-per-refresh
    accumulates small files; over the threshold the refresh OPTIMIZEs in
    the same call and the index content is invariant."""
    from delta_rs_spark.operators.dedup import update_dedup_index

    corpus_uri = str(tmp_path / "corpus_c")
    index_uri = str(tmp_path / "index_c")
    write_deltalake(
        spark,
        docs.limit(20).repartition(3),
        corpus_uri,
        configuration={CDF_PROPERTY: "true"},
    )
    corpus = DeltaTable(corpus_uri)
    update_dedup_index(spark, corpus, index_uri)
    compacted_any = False
    for b in range(4):
        write_deltalake(
            spark,
            docs.orderBy("doc_id").limit(20 + (b + 1) * 10).subtract(
                corpus.to_df(spark)
            ).repartition(3),
            corpus_uri,
            mode="append",
        )
        corpus.update()
        res = update_dedup_index(
            spark, corpus, index_uri, compact_threshold_files=4
        )
        compacted_any = compacted_any or res["compacted"]
    assert compacted_any
    assert len(DeltaTable(index_uri).files()) <= 4
    n_distinct = corpus.to_df(spark).select("text").distinct().count()
    assert DeltaTable(index_uri).to_df(spark).count() == n_distinct


@pytest.mark.parametrize("seed", [13, 31])
def test_cdf_windows_fold_to_live_table_under_fuzz(spark, tmp_path, seed):
    """Random appends, deletion-vector deletes and updates on a CDF table;
    at random points a window of one or several versions closes. Folding
    each window's ``load_cdf`` rows into a per-id model (inserts and
    postimages add a row, deletes and preimages take one away) must give
    the live table after every window. Within a window, each deleted row
    appears exactly once and each updated row has exactly one preimage and
    one postimage, in the version that changed it."""
    import random
    from collections import Counter

    rng = random.Random(seed)
    uri = str(tmp_path / f"fold{seed}")

    def rows(ids):
        return spark.createDataFrame(
            [(i, str(i % 3), i * 10) for i in ids], "id long, g string, m long"
        )

    model = {i: (str(i % 3), i * 10) for i in range(60)}
    write_deltalake(
        spark,
        rows(range(60)),
        uri,
        configuration={CDF_PROPERTY: "true", "delta.enableDeletionVectors": "true"},
    )
    # version -> (change kind, ids the commit changed)
    expected = {0: ("insert", set(model))}
    folded: Counter = Counter()
    next_id, folded_to, history = 60, -1, ["seed(60)"]

    def close_window():
        nonlocal folded_to
        t = DeltaTable(uri)
        window = t.load_cdf(
            spark, starting_version=folded_to + 1, ending_version=t.version
        ).collect()
        assert {r._commit_version for r in window} == set(
            range(folded_to + 1, t.version + 1)
        ), history
        by_version: dict = {}
        for r in window:
            by_version.setdefault(r._commit_version, []).append(r)
            sign = 1 if r._change_type in ("insert", "update_postimage") else -1
            folded[(r.id, r.g, r.m)] += sign
        for v, changes in by_version.items():
            kind, ids = expected[v]
            types = Counter(r._change_type for r in changes)
            if kind == "update":
                assert types == {
                    "update_preimage": len(ids),
                    "update_postimage": len(ids),
                }, history
                pre = {r.id: r.m for r in changes if r._change_type == "update_preimage"}
                post = {r.id: r.m for r in changes if r._change_type == "update_postimage"}
                assert set(pre) == set(post) == ids, history
                assert all(post[i] == pre[i] + 1000 for i in ids), history
            else:
                assert types == {kind: len(ids)}, history
                assert {r.id for r in changes} == ids, history
        assert all(n in (0, 1) for n in folded.values()), history
        live = sorted(k for k, n in folded.items() if n == 1)
        table_rows = sorted((r.id, r.g, r.m) for r in t.to_df(spark).collect())
        assert live == table_rows, history
        assert live == sorted((i, g, m) for i, (g, m) in model.items()), history
        folded_to = t.version
        history.append(f"window->v{folded_to}")

    for _ in range(10):
        op = rng.choice(["append", "delete", "update"])
        if op == "append":
            ids = set(range(next_id, next_id + rng.randrange(5, 20)))
            write_deltalake(spark, rows(sorted(ids)), uri, mode="append")
            model.update({i: (str(i % 3), i * 10) for i in ids})
            next_id += len(ids)
            kind = "insert"
        else:
            k, r = rng.choice([(7, 3), (5, 1), (4, 0), (6, 5)])
            ids = {i for i in model if i % k == r}
            if not ids:
                continue
            t = DeltaTable(uri)
            if op == "delete":
                t.delete(spark, f"id % {k} = {r}")
                for i in ids:
                    del model[i]
                kind = "delete"
            else:
                t.update_where(spark, f"id % {k} = {r}", {"m": "m + 1000"})
                for i in ids:
                    model[i] = (model[i][0], model[i][1] + 1000)
                kind = "update"
        version = DeltaTable(uri).version
        expected[version] = (kind, ids)
        history.append(f"{op}({len(ids)})@v{version}")
        if rng.random() < 0.4:
            close_window()
    if folded_to < DeltaTable(uri).version:
        close_window()
