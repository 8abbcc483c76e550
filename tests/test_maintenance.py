import os
import time

import pytest

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.maintenance import VacuumError, is_hidden_path
from delta_rs_spark.protocol.log import DeltaLog
from delta_rs_spark.protocol.snapshot import Snapshot


@pytest.fixture()
def table_uri(spark, tmp_path, sf_dir):
    df = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    uri = str(tmp_path / "t")
    write_deltalake(spark, df, uri)
    return uri


def test_checkpoint_write_and_reload(spark, table_uri, sf_dir):
    df = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    for _ in range(3):
        write_deltalake(spark, df.limit(3), table_uri, mode="append")
    t = DeltaTable(table_uri)
    cp = t.create_checkpoint()
    assert cp.version == t.version

    log = DeltaLog(table_uri)
    assert log.read_last_checkpoint().version == t.version
    assert os.path.exists(log.checkpoint_paths(cp)[0])

    # snapshot restored via checkpoint == snapshot from pure JSON replay
    snap_cp = Snapshot.load(log)
    assert set(snap_cp.file_paths()) == set(t.files())
    assert snap_cp.metadata.id == t.metadata().id
    assert snap_cp.schema() == t.schema()

    # appends after the checkpoint apply on top of it
    write_deltalake(spark, df.limit(2), table_uri, mode="append")
    t2 = DeltaTable(table_uri)
    assert t2.to_df(spark).count() == t.to_df(spark).count() + 2


def test_auto_checkpoint_every_10_commits(spark, table_uri, sf_dir):
    df = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    for _ in range(10):
        write_deltalake(spark, df.limit(1), table_uri, mode="append")
    log = DeltaLog(table_uri)
    cp = log.read_last_checkpoint()
    assert cp is not None and cp.version == 10


def test_checkpoint_partitioned_table(spark, tmp_path, sf_dir):
    df = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    uri = str(tmp_path / "p")
    t = write_deltalake(spark, df, uri, partition_by=["n_regionkey"])
    t.create_checkpoint()
    snap = Snapshot.load(DeltaLog(uri))
    assert set(snap.file_paths()) == set(t.files())
    pv = list(snap.state.files.values())[0].partition_values
    assert "n_regionkey" in pv
    assert snap.to_df(spark).count() == df.count()


def test_vacuum_guard_and_dry_run(spark, table_uri, sf_dir):
    df = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    write_deltalake(spark, df.limit(2), table_uri, mode="overwrite")
    t = DeltaTable(table_uri)
    with pytest.raises(VacuumError):
        t.vacuum(retention_hours=1)
    # fresh tombstones are within retention: nothing to delete
    assert t.vacuum(retention_hours=168, dry_run=True) == []


def test_vacuum_deletes_expired(spark, table_uri, sf_dir, monkeypatch):
    df = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    write_deltalake(spark, df.limit(2), table_uri, mode="overwrite")
    t = DeltaTable(table_uri)
    # age the tombstones artificially
    for r in t.snapshot.state.tombstones.values():
        r.deletion_timestamp = int((time.time() - 200 * 3600) * 1000)
    candidates = t.vacuum(retention_hours=168, dry_run=True)
    assert len(candidates) >= 1
    removed = t.vacuum(retention_hours=168, dry_run=False)
    assert removed == candidates
    for rel in removed:
        assert not os.path.exists(os.path.join(t.log.table_root, rel))
    # table still reads fine
    assert t.to_df(spark).count() == 2


def test_vacuum_lite_matches_full_for_tracked_files(spark, table_uri, sf_dir):
    """LITE derives candidates from the log: for files the log tracks it
    lists exactly what a full vacuum would, with zero table listing."""
    df = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    write_deltalake(spark, df.limit(2), table_uri, mode="overwrite")
    t = DeltaTable(table_uri)
    for r in t.snapshot.state.tombstones.values():
        r.deletion_timestamp = int((time.time() - 200 * 3600) * 1000)
    full = t.vacuum(retention_hours=168, dry_run=True)
    lite = t.vacuum(retention_hours=168, dry_run=True, lite=True)
    assert lite == full and len(lite) >= 1
    removed = t.vacuum(retention_hours=168, dry_run=False, lite=True)
    assert removed == lite
    for rel in removed:
        assert not os.path.exists(os.path.join(t.log.table_root, rel))
    assert t.to_df(spark).count() == 2


def test_vacuum_lite_skips_untracked_orphans(spark, table_uri):
    """An orphan file the log never saw survives LITE (documented trade)
    but falls to a full vacuum once aged."""
    t = DeltaTable(table_uri)
    orphan = os.path.join(t.log.table_root, "orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"junk")
    old = time.time() - 200 * 3600
    os.utime(orphan, (old, old))
    assert t.vacuum(retention_hours=168, dry_run=True, lite=True) == []
    assert "orphan.parquet" in t.vacuum(retention_hours=168, dry_run=True)


def test_vacuum_lite_sql_and_active_protection(spark, table_uri, sf_dir):
    """SQL VACUUM ... LITE routes through; a tombstoned-then-re-added path
    stays protected by the active check."""
    from delta_rs_spark.sql import sql

    df = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    write_deltalake(spark, df.repartition(3), table_uri, mode="overwrite")
    write_deltalake(spark, df.limit(2), table_uri, mode="overwrite")
    t = DeltaTable(table_uri)
    # re-add one tombstoned path (restore-style log surgery)
    victim = next(iter(t.snapshot.state.tombstones))
    for r in t.snapshot.state.tombstones.values():
        r.deletion_timestamp = int((time.time() - 200 * 3600) * 1000)
    from delta_rs_spark.protocol.actions import AddAction

    t.snapshot.state.files[victim] = AddAction(path=victim, size=1)
    lite = t.vacuum(retention_hours=168, dry_run=True, lite=True)
    assert victim not in lite
    assert len(lite) >= 1  # the other tombstones still listed
    # SQL routing: fresh table handle reads un-aged tombstones → empty list,
    # but the LITE clause parses and routes end-to-end
    out = sql(
        spark,
        f"VACUUM delta.`{table_uri}` LITE RETAIN 168 HOURS DRY RUN",
    )
    assert out.columns == ["path"] and out.collect() == []


def test_version_checksum_written_and_validates(spark, table_uri, sf_dir):
    """Every post-commit version gets a ``.crc`` (public Delta
    VersionChecksum); the replayed state validates against it, and a
    corrupted checksum is detected with the diverging fields named."""
    import json

    from delta_rs_spark.maintenance import ChecksumMismatchError

    df = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    write_deltalake(spark, df.limit(3), table_uri, mode="append")
    t = DeltaTable(table_uri)
    crc_path = os.path.join(table_uri, "_delta_log", f"{t.version:020d}.crc")
    assert os.path.exists(crc_path)
    assert t.validate_checksum() is True
    stored = json.loads(open(crc_path).read())
    assert stored["numFiles"] == len(t.files())
    assert stored["tableSizeBytes"] == sum(a.size for a in t.add_actions())
    assert stored["protocol"]["minReaderVersion"] >= 1
    # corrupt it → named divergence
    stored["numFiles"] += 7
    with open(crc_path, "w") as f:
        f.write(json.dumps(stored))
    with pytest.raises(ChecksumMismatchError, match="numFiles"):
        t.validate_checksum()
    # a version with no checksum (v0 pre-dates the hook) → False, no raise
    assert DeltaTable(table_uri, version=0).validate_checksum(0) is False


def test_version_checksum_tracks_dml_and_cleanup(spark, table_uri, sf_dir):
    """DML commits update the checksum aggregates; expired-log cleanup
    reaps aged .crc files together with their commits."""
    from delta_rs_spark.maintenance import cleanup_expired_logs

    t = DeltaTable(table_uri)
    t.delete(spark, "n_regionkey = 0")
    t.update()
    assert t.validate_checksum() is True

    df = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    for _ in range(3):
        write_deltalake(spark, df.limit(1), table_uri, mode="append")
    t.update()
    t.create_checkpoint()
    log_dir = os.path.join(table_uri, "_delta_log")
    old = time.time() - 40 * 86400
    for name in os.listdir(log_dir):
        os.utime(os.path.join(log_dir, name), (old, old))
    deleted = cleanup_expired_logs(t)
    assert any(n.endswith(".crc") for n in deleted)
    assert any(n.endswith(".json") for n in deleted)


def test_hidden_path_predicate():
    assert is_hidden_path("_delta_log/00000000000000000000.json")
    assert is_hidden_path(".tmp-commit-abc/part-0.parquet")
    assert is_hidden_path("_staging/x.parquet")
    assert not is_hidden_path("part-00000-x.snappy.parquet")
    assert not is_hidden_path("year=2020/part-0.parquet")
    assert not is_hidden_path("_delta_index/idx.bin")
    assert not is_hidden_path("_change_data/cdc-0.parquet")


def test_multipart_checkpoint_read(spark, table_uri, sf_dir):
    """Snapshot restore from a multi-part checkpoint (reference name scheme
    {v:020}.checkpoint.{part:010}.{parts:010}.parquet, delta.rs:412-436)."""
    import json

    import pyarrow.parquet as pq

    df = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    for _ in range(3):
        write_deltalake(spark, df.limit(3), table_uri, mode="append")
    t = DeltaTable(table_uri)
    expected_files = sorted(t.files())
    cp = t.create_checkpoint()

    # split the single-part checkpoint into two parts and repoint the log
    log = DeltaLog(table_uri)
    single = log.checkpoint_paths(cp)[0]
    tbl = pq.read_table(single)
    half = tbl.num_rows // 2
    base = os.path.dirname(single)
    pq.write_table(tbl.slice(0, half),
                   os.path.join(base, f"{cp.version:020d}.checkpoint.{1:010d}.{2:010d}.parquet"))
    pq.write_table(tbl.slice(half),
                   os.path.join(base, f"{cp.version:020d}.checkpoint.{2:010d}.{2:010d}.parquet"))
    os.remove(single)
    with open(os.path.join(base, "_last_checkpoint"), "w") as f:
        json.dump({"version": cp.version, "size": tbl.num_rows, "parts": 2}, f)
    # drop replayable commits so the reload MUST come from the checkpoint
    for v in range(cp.version):
        p = log.commit_path(v)
        if os.path.exists(p):
            os.remove(p)

    t2 = DeltaTable(table_uri)
    assert t2.version == cp.version
    assert sorted(t2.files()) == expected_files
    assert t2.to_df(spark).count() == t.to_df(spark).count()


# ---------------------------------------------------------------------------
# Optimize (bin-packing compaction)
# ---------------------------------------------------------------------------

def test_optimize_compacts_small_files(spark, tmp_path):
    from pyspark.sql import functions as F

    from delta_rs_spark.table import DeltaTable
    from delta_rs_spark.writer import write_deltalake

    uri = str(tmp_path / "opt_tbl")
    # 4 commits × small files → plenty to bin-pack
    for lo in range(0, 40, 10):
        df = spark.range(lo, lo + 10).select(F.col("id"), (F.col("id") % 2).alias("k"))
        write_deltalake(spark, df, uri, mode="append")
    t = DeltaTable(uri)
    n_before = len(t.files())
    v_before = t.version
    rows_before = sorted(r.id for r in t.to_df(spark).collect())

    dry = t.optimize(spark, target_file_size=1 << 30, dry_run=True)
    assert dry["numFilesRemoved"] == n_before and dry["numFilesAdded"] == 0
    assert t.version == v_before  # dry run commits nothing

    metrics = t.optimize(spark, target_file_size=1 << 30)
    assert t.version == v_before + 1
    assert metrics["numFilesAdded"] == 1
    assert metrics["numFilesRemoved"] == n_before
    assert len(t.files()) == 1
    # data identical after the swap
    assert sorted(r.id for r in t.to_df(spark).collect()) == rows_before
    # provenance + dataChange=false recorded in the log
    hist = t.history(limit=1)[0]
    assert hist["operation"] == "OPTIMIZE"
    # compacted originals are tombstones now → vacuum would reap them
    stale = t.vacuum(retention_hours=168, dry_run=True)
    assert len(stale) == 0  # too young under the 168h floor
    # idempotent: nothing left to compact
    again = t.optimize(spark, target_file_size=1 << 30, dry_run=True)
    assert again["numFilesRemoved"] == 0


def test_optimize_partitioned_preserves_layout(spark, tmp_path):
    from pyspark.sql import functions as F

    from delta_rs_spark.table import DeltaTable
    from delta_rs_spark.writer import write_deltalake

    uri = str(tmp_path / "opt_part")
    for lo in (0, 10, 20):
        df = spark.range(lo, lo + 10).select(F.col("id"), (F.col("id") % 2).alias("k"))
        write_deltalake(spark, df, uri, mode="append", partition_by=["k"])
    t = DeltaTable(uri)
    rows_before = sorted((r.id, r.k) for r in t.to_df(spark).collect())

    metrics = t.optimize(spark, target_file_size=1 << 30)
    assert metrics["partitionsOptimized"] == 2
    t2 = DeltaTable(uri)  # fresh open: re-reads the log from scratch
    assert len(t2.files()) == 2
    for a in t2.add_actions():
        assert set(a.partition_values) == {"k"}
        assert a.path.startswith(f"k={a.partition_values['k']}")
    assert sorted((r.id, r.k) for r in t2.to_df(spark).collect()) == rows_before
    # partition pruning still works on the compacted table
    pruned = t2.files_by_partitions([("k", "=", "1")])
    assert len(pruned) == 1


def test_optimize_commit_is_skipped_by_stream(spark, tmp_path):
    """dataChange=false round trip: a tailing reader sees no rows from the
    OPTIMIZE commit and raises no ignoreChanges error (action.rs:165-170)."""
    from pyspark.sql import functions as F

    from delta_rs_spark.streaming.source import DeltaStreamReader
    from delta_rs_spark.table import DeltaTable
    from delta_rs_spark.writer import write_deltalake

    uri = str(tmp_path / "opt_stream")
    for lo in (0, 5):
        df = spark.range(lo, lo + 5).select(F.col("id")).coalesce(1)
        write_deltalake(spark, df, uri, mode="append")
    t = DeltaTable(uri)
    t.optimize(spark, target_file_size=1 << 30)
    opt_version = t.version

    reader = DeltaStreamReader(None, {"path": uri, "startingversion": "0"})
    # the optimize version alone: no partitions, no error, despite removes
    parts = reader.partitions({"version": opt_version - 1}, {"version": opt_version})
    assert parts == []
    # full range still yields exactly the data commits' files
    parts_all = reader.partitions({"version": -1}, {"version": opt_version})
    assert len(parts_all) == 2


def test_optimize_sort_by_makes_stats_selective(spark, tmp_path):
    """Clustered compaction: after optimize(sort_by=["id"]) the per-file
    min/max ranges are disjoint, so a point skip-predicate prunes to ONE
    file — the data-layout half of stats-based file skipping."""
    import json

    from pyspark.sql import functions as F

    from delta_rs_spark.table import DeltaTable
    from delta_rs_spark.writer import write_deltalake

    uri = str(tmp_path / "opt_sorted")
    # every commit interleaves the full id range → every file spans ~all ids
    for off in range(4):
        df = (
            spark.range(0, 100)
            .select((F.col("id") * 4 + off).alias("id"))
            .coalesce(1)
        )
        write_deltalake(spark, df, uri, mode="append")
    t = DeltaTable(uri)
    before = t.files(skip_predicates=[("id", "=", 37)])
    assert len(before) == 4  # unclustered: every file may contain 37

    total = sum(a.size for a in t.add_actions())
    t.optimize(spark, target_file_size=total // 3, sort_by=["id"])
    t2 = DeltaTable(uri)
    files = t2.add_actions()
    assert len(files) >= 3
    # ranges are disjoint (range partitioner) → point lookup hits one file
    ranges = sorted(
        (json.loads(a.stats)["minValues"]["id"], json.loads(a.stats)["maxValues"]["id"])
        for a in files
    )
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2
    after = t2.files(skip_predicates=[("id", "=", 37)])
    assert len(after) == 1
    # and the data survived intact
    assert t2.to_df(spark).count() == 400


def test_optimize_zorder_prunes_both_dimensions(spark, tmp_path):
    """Bit-interleaved Z-order: after optimize(zorder_by=["x","y"]) a point
    predicate on EITHER column prunes files — the multi-dimensional layout a
    single-column sort cannot give."""
    from pyspark.sql import functions as F

    from delta_rs_spark.table import DeltaTable
    from delta_rs_spark.writer import write_deltalake

    uri = str(tmp_path / "opt_z")
    # x and y independent over [0, 256): row-id interleaving makes every
    # pre-optimize file span both full ranges
    for off in range(4):
        df = (
            spark.range(0, 1024)
            .select(
                ((F.col("id") * 4 + off) % 256).alias("x"),
                (((F.col("id") * 4 + off) * 37 + 11) % 256).alias("y"),
            )
            .coalesce(1)
        )
        write_deltalake(spark, df, uri, mode="append")
    t = DeltaTable(uri)
    assert len(t.files(skip_predicates=[("x", "=", 100)])) == 4
    assert len(t.files(skip_predicates=[("y", "=", 100)])) == 4

    total = sum(a.size for a in t.add_actions())
    t.optimize(spark, target_file_size=total // 14, zorder_by=["x", "y"])
    t2 = DeltaTable(uri)
    n_files = len(t2.files())
    assert n_files >= 8
    nx = len(t2.files(skip_predicates=[("x", "=", 100)]))
    ny = len(t2.files(skip_predicates=[("y", "=", 100)]))
    # a point predicate on either dimension must prune most files
    assert nx <= n_files // 2, (nx, n_files)
    assert ny <= n_files // 2, (ny, n_files)
    # data intact
    assert t2.to_df(spark).count() == 4096
    with pytest.raises(ValueError):
        t2.optimize(spark, sort_by=["x"], zorder_by=["y"])


def test_restore_rolls_back_overwrite(spark, tmp_path, sf_dir):
    import os

    from delta_rs_spark import DeltaTable, write_deltalake

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    uri = str(tmp_path / "r")
    write_deltalake(spark, docs.limit(80), uri)               # v0
    write_deltalake(spark, docs.limit(9), uri, mode="overwrite")  # v1
    t = DeltaTable(uri)
    res = t.restore(0)
    assert res["version"] == 2
    assert res["numRestoredFiles"] >= 1
    # state equals v0 exactly, committed forward (no history rewrite)
    assert t.to_df(spark).count() == 80
    assert sorted(t.files()) == sorted(DeltaTable.for_version(uri, 0).files())
    assert t.history()[0]["operation"] == "RESTORE"
    # the overwritten state is still reachable
    assert DeltaTable.for_version(uri, 1).to_df(spark).count() == 9


def test_restore_after_delete_is_exact_undo(spark, tmp_path, sf_dir):
    import os

    from delta_rs_spark import DeltaTable, write_deltalake

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    uri = str(tmp_path / "rd")
    write_deltalake(spark, docs, uri, max_records_per_file=200)
    t = DeltaTable(uri)
    t.delete(spark, "n_chars < 300")
    assert t.to_df(spark).count() < docs.count()
    t.restore(0)
    assert t.to_df(spark).count() == docs.count()


def test_shallow_clone_zero_copy_and_independent(spark, tmp_path, sf_dir):
    import os

    from delta_rs_spark import DeltaTable, write_deltalake

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    src_uri = str(tmp_path / "src")
    clone_uri = str(tmp_path / "clone")
    write_deltalake(spark, docs, src_uri, max_records_per_file=200)
    src = DeltaTable(src_uri)

    clone = src.shallow_clone(clone_uri)
    # no data files under the clone root — only the log
    data_files = [
        f for _, _, fs in os.walk(clone_uri) for f in fs if f.endswith(".parquet")
    ]
    assert data_files == []
    assert clone.to_df(spark).count() == docs.count()
    assert clone.history()[0]["operation"] == "CLONE"
    # stats survived the clone: metadata-only count works
    assert clone.count_rows() == docs.count()

    # writes to the clone never touch the source
    clone.delete(spark, "n_chars < 300")
    assert DeltaTable(src_uri).to_df(spark).count() == docs.count()
    # vacuum on the clone must not list the source's (absolute-path) files
    listed = clone.vacuum(retention_hours=168, dry_run=True)
    assert all(src_uri not in p for p in listed)


def test_shallow_clone_at_version(spark, tmp_path, sf_dir):
    import os

    from delta_rs_spark import DeltaTable, write_deltalake

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    src_uri = str(tmp_path / "s2")
    write_deltalake(spark, docs.limit(40), src_uri)
    write_deltalake(spark, docs.limit(25), src_uri, mode="append")
    src = DeltaTable(src_uri)
    clone = src.shallow_clone(str(tmp_path / "c2"), version=0)
    assert clone.to_df(spark).count() == 40


def test_shallow_clone_of_many_partitions_reads_like_its_source(spark, tmp_path):
    """A shallow clone's adds are absolute paths under the source's root,
    so a read of the clone must not take them for Hive files under its own
    root — at any partition count."""
    import pyarrow as pa

    from delta_rs_spark import DeltaTable, write_deltalake

    rows = pa.table({"id": list(range(700)), "p": [i % 70 for i in range(700)]})
    src_uri = str(tmp_path / "src")
    write_deltalake(spark, rows, src_uri, partition_by=["p"])
    src = DeltaTable(src_uri)
    want = sorted(map(tuple, src.to_df(spark).select("id", "p").collect()))
    assert len(want) == 700

    clone = src.shallow_clone(str(tmp_path / "clone"))
    full = clone.to_df(spark).select("id", "p")
    assert sorted(map(tuple, full.collect())) == want
    one = clone.to_df(spark, partition_filters=[("p", "=", "7")]).select("id", "p")
    assert sorted(map(tuple, one.collect())) == [r for r in want if r[1] == 7]


def test_vacuum_reaps_aged_change_files(spark, tmp_path, sf_dir):
    """Change files age out of retention like data files (the reference's
    hidden-path predicate deliberately does NOT protect _change_data,
    rust/src/delta.rs:904-916)."""
    import os
    import time as _time

    from delta_rs_spark import DeltaTable, write_deltalake

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    uri = str(tmp_path / "vc")
    write_deltalake(
        spark, docs, uri,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    t = DeltaTable(uri)
    t.delete(spark, "n_chars < 300")
    cdc_dir = os.path.join(uri, "_change_data")
    cdc_files = os.listdir(cdc_dir)
    assert cdc_files
    # age the change files past the 168h floor
    old = _time.time() - 169 * 3600
    for f in cdc_files:
        os.utime(os.path.join(cdc_dir, f), (old, old))
    listed = t.vacuum(retention_hours=168, dry_run=True)
    assert any("_change_data" in p for p in listed)
    t.vacuum(retention_hours=168, dry_run=False)
    assert not os.path.exists(cdc_dir) or not os.listdir(cdc_dir)
    # the table itself is untouched
    assert DeltaTable(uri).to_df(spark).count() == t.to_df(spark).count()


def test_vacuum_reaps_aged_losing_writer_temp_commits(spark, tmp_path, sf_dir):
    """A conditional-PUT loser (or crashed writer) leaves
    `_delta_log/_commit_<token>.json.tmp`; vacuum reaps it once aged —
    the repair role the reference's DynamoDB lock plays inline
    (rust/src/storage/s3/mod.rs:495-546) — while a FRESH temp commit
    (an in-flight writer) is kept, and table state is unaffected."""
    import os
    import time as _time

    from delta_rs_spark import DeltaTable, write_deltalake

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    uri = str(tmp_path / "tc")
    write_deltalake(spark, docs, uri)
    t = DeltaTable(uri)
    version = t.version
    n_rows = t.to_df(spark).count()

    log_dir = os.path.join(uri, "_delta_log")
    aged = os.path.join(log_dir, "_commit_deadbeef.json.tmp")
    fresh = os.path.join(log_dir, "_commit_cafebabe.json.tmp")
    for p in (aged, fresh):
        with open(p, "w") as fh:
            fh.write('{"commitInfo":{}}\n')
    old = _time.time() - 169 * 3600
    os.utime(aged, (old, old))

    listed = t.vacuum(retention_hours=168, dry_run=True)
    assert "_delta_log/_commit_deadbeef.json.tmp" in listed
    assert "_delta_log/_commit_cafebabe.json.tmp" not in listed
    t.vacuum(retention_hours=168, dry_run=False)
    assert not os.path.exists(aged)
    assert os.path.exists(fresh)  # in-flight commit untouched
    t2 = DeltaTable(uri)
    assert t2.version == version
    assert t2.to_df(spark).count() == n_rows


def test_multi_part_checkpoint_write_and_reload(spark, tmp_path, sf_dir):
    """Writing past the per-part row limit produces the reference's
    multi-part layout ({v}.checkpoint.{part}.{parts}.parquet +
    _last_checkpoint with parts), and a fresh snapshot restored from it
    equals the live state."""
    import os

    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.maintenance import create_checkpoint

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).limit(50)
    uri = str(tmp_path / "mp")
    write_deltalake(spark, docs, uri, configuration={"delta.enableDeletionVectors": "false"})
    t = DeltaTable(uri)
    t.delete(spark, "doc_id % 7 = 0")
    t = DeltaTable(uri)

    cp = create_checkpoint(t, part_rows=3)  # force several parts
    assert cp.parts and cp.parts > 1
    log_dir = os.path.join(uri, "_delta_log")
    part_files = [f for f in os.listdir(log_dir) if ".checkpoint." in f]
    assert len(part_files) == cp.parts
    assert all(f.endswith(f".{cp.parts:010d}.parquet") for f in part_files)

    # wipe the JSON commits the checkpoint covers: the reload below can only
    # succeed through the multi-part checkpoint itself
    for f in os.listdir(log_dir):
        if f.endswith(".json") and not f.startswith("_"):
            os.remove(os.path.join(log_dir, f))
    t2 = DeltaTable(uri)
    assert t2.version == t.version
    assert sorted(a.path for a in t2.add_actions()) == sorted(
        a.path for a in t.add_actions()
    )
    assert t2.to_df(spark).count() == t.to_df(spark).count()
    assert t2.metadata().to_json_dict() == t.metadata().to_json_dict()


def test_zorder_string_column_clusters_files(spark, tmp_path):
    """Z-order over (numeric, STRING): string columns quantize via sampled
    rank boundaries, so post-OPTIMIZE files cover narrow string ranges and
    stats-pruning on the string column prunes to a file subset."""
    from delta_rs_spark import DeltaTable, write_deltalake

    df = spark.range(0, 2000).selectExpr(
        "id", "concat('cat-', lpad(CAST(id % 50 AS STRING), 3, '0')) AS category"
    ).repartition(8)
    uri = str(tmp_path / "zs")
    write_deltalake(spark, df, uri)
    t = DeltaTable(uri)
    t.optimize(spark, target_file_size=2 * 1024, zorder_by=["id", "category"])
    t2 = DeltaTable(uri)
    files = t2.add_actions()
    assert len(files) > 1
    # content preserved
    assert t2.to_df(spark).count() == 2000
    # clustering delivered: a point predicate on the STRING column prunes
    pruned = t2.snapshot.files(skip_predicates=[("category", "=", "cat-007")])
    assert 0 < len(pruned) < len(files)


def test_optimize_partition_filters_scope_compaction(spark, tmp_path):
    """OPTIMIZE with partition_filters compacts ONLY matching partitions."""
    from pyspark.sql import functions as F

    uri = str(tmp_path / "opf")
    for lo in range(0, 40, 10):
        df = spark.range(lo, lo + 10).select(F.col("id"), (F.col("id") % 2).alias("p"))
        write_deltalake(spark, df, uri, mode="append", partition_by=["p"])
    t = DeltaTable(uri)
    files_p1_before = {
        a.path for a in t.snapshot.files(partition_filters=[("p", "=", "1")])
    }
    assert len(files_p1_before) > 1

    m = t.optimize(spark, target_file_size=1 << 30, partition_filters=[("p", "=", "0")])
    assert m["partitionsOptimized"] == 1
    t2 = DeltaTable(uri)
    # p=0 compacted to one file; p=1 untouched
    assert len(t2.snapshot.files(partition_filters=[("p", "=", "0")])) == 1
    assert {a.path for a in t2.snapshot.files(partition_filters=[("p", "=", "1")])} == files_p1_before
    assert t2.to_df(spark).count() == 40


def test_cleanup_expired_logs(spark, tmp_path):
    """Commits+checkpoints below the newest checkpoint AND past log
    retention are deleted; the table still loads (from the checkpoint) and
    fresh log files stay."""
    import os
    import time as _time

    from delta_rs_spark.maintenance import cleanup_expired_logs, parse_interval_ms

    assert parse_interval_ms("interval 7 days") == 7 * 86_400_000
    assert parse_interval_ms("INTERVAL 1 HOUR") == 3_600_000

    uri = str(tmp_path / "lr")
    df = spark.range(0, 10).selectExpr("id")
    write_deltalake(spark, df, uri)
    for _ in range(4):
        write_deltalake(spark, df, uri, mode="append")
    t = DeltaTable(uri)
    t.create_checkpoint()
    rows = t.to_df(spark).count()

    log_dir = os.path.join(uri, "_delta_log")
    # nothing expires while young
    assert cleanup_expired_logs(t) == []
    # age every pre-checkpoint commit json
    old = _time.time() - 31 * 86_400
    for f in os.listdir(log_dir):
        if f.endswith(".json") and not f.startswith("_"):
            os.utime(os.path.join(log_dir, f), (old, old))
    deleted = cleanup_expired_logs(t)
    assert sorted(deleted) == [f"{v:020d}.json" for v in range(4)]  # v4 = cp version stays
    t2 = DeltaTable(uri)
    assert t2.version == 4
    assert t2.to_df(spark).count() == rows


def test_clustered_table_optimize_reclusters(spark, tmp_path):
    """cluster_by declares the layout in the delta.clustering domain (public
    feature); a bare OPTIMIZE re-clusters on those columns."""
    import json

    from delta_rs_spark.protocol import clustering_meta as cl
    from delta_rs_spark.table import DeltaTable
    from delta_rs_spark.writer import write_deltalake

    import random
    rng = random.Random(7)
    rows = [(rng.randrange(1000), rng.randrange(1000), i) for i in range(4000)]
    df = spark.createDataFrame(rows, "x long, y long, payload long").repartition(4)
    t = write_deltalake(spark, df, str(tmp_path), cluster_by=["x", "y"])

    assert cl.clustering_columns(t.snapshot.state) == ["x", "y"]
    assert "clustering" in (t.snapshot.state.writer_features or [])
    raw = t.snapshot.state.domain_metadata[cl.DOMAIN]
    assert json.loads(raw)["clusteringColumns"] == [["x"], ["y"]]

    # bare OPTIMIZE picks the clustering columns as the Z-order key
    m = t.optimize(spark, target_file_size=16 * 1024, dry_run=False)
    assert m["numFilesAdded"] >= 2
    t = DeltaTable.for_path(str(tmp_path))
    # clustered files: a 2-D range predicate should prune some files via stats
    pruned = t.snapshot.files(skip_predicates=[("x", "<", 100), ("y", "<", 100)])
    assert len(pruned) < len(t.add_actions())
    assert t.to_df(spark).count() == 4000

    # declarations are create-time only, and exclusive with partitioning
    import pytest as _pytest

    with _pytest.raises(ValueError, match="CREATE-time"):
        write_deltalake(spark, df, str(tmp_path), mode="append", cluster_by=["x"])
    with _pytest.raises(ValueError, match="mutually exclusive"):
        write_deltalake(
            spark, df, str(tmp_path / "other"), partition_by=["x"], cluster_by=["y"]
        )


def test_zstd_checkpoint_reads_back(spark, tmp_path):
    """Checkpoints are zstd parquet; pyarrow, Spark and a reload read them."""
    import pyarrow.parquet as pq

    uri = str(tmp_path / "t")
    df = spark.range(0, 40).selectExpr("id", "CAST(id % 4 AS STRING) AS p")
    write_deltalake(spark, df.repartition(2), uri, partition_by=["p"])
    write_deltalake(spark, df.limit(5), uri, mode="overwrite", partition_by=["p"])
    t = DeltaTable(uri)
    cp = t.create_checkpoint()
    path = DeltaLog(uri).checkpoint_paths(cp)[0]

    meta = pq.ParquetFile(path).metadata
    rg = meta.row_group(0)
    assert {rg.column(i).compression for i in range(rg.num_columns)} == {"ZSTD"}
    table = pq.read_table(path)
    assert table["add"].drop_null().to_pylist()
    spark_rows = spark.read.parquet(path)
    assert spark_rows.where("add IS NOT NULL").count() == len(t.files())
    assert spark_rows.where("remove IS NOT NULL").count() == len(t.get_tombstones())
    assert sorted(r["path"] for r in spark_rows.where("add IS NOT NULL").select("add.path").collect()) == sorted(t.files())
    reloaded = DeltaTable(uri)
    assert reloaded.files() == t.files()
    assert reloaded.to_df(spark).count() == 5


def test_checkpoint_stats_as_struct_roundtrip(spark, tmp_path, sf_dir):
    """writeStatsAsStruct writes stats_parsed; with writeStatsAsJson=false
    the JSON column is dropped and reloads reconstruct stats from the
    struct (metadata-only count still works post-checkpoint)."""
    import io

    import pyarrow.parquet as pq

    from delta_rs_spark import DeltaTable, write_deltalake
    from delta_rs_spark.protocol.log import DeltaLog

    df = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        df,
        uri,
        configuration={
            "delta.checkpoint.writeStatsAsStruct": "true",
            "delta.checkpoint.writeStatsAsJson": "false",
        },
    )
    t = DeltaTable(uri)
    n = t.count_rows()
    cp = t.create_checkpoint()
    log = DeltaLog(uri)
    table = pq.read_table(io.BytesIO(log.backend.get_obj(log.checkpoint_paths(cp)[0])))
    add_type = dict(zip(table.column_names, table.schema.types))["add"]
    field_names = [add_type.field(i).name for i in range(add_type.num_fields)]
    assert "stats_parsed" in field_names
    assert "stats" not in field_names

    # fresh load from the checkpoint reconstructs stats from the struct
    t2 = DeltaTable(uri)
    assert t2.count_rows() == n
    assert all(a.get_stats() is not None for a in t2.add_actions())


def test_drop_writer_feature_lifecycle(spark, tmp_path):
    """DROP FEATURE: refused while a dependency exists, succeeds once the
    dependency is removed, and the protocol list no longer names it."""
    from delta_rs_spark.maintenance import FeatureDropError

    uri = str(tmp_path / "t")
    df = spark.range(5).selectExpr("id")
    write_deltalake(spark, df, uri, column_defaults={"id": "42"})
    t = DeltaTable(uri)
    assert "allowColumnDefaults" in (t.snapshot.state.writer_features or [])
    with pytest.raises(FeatureDropError, match="DEFAULT"):
        t.drop_feature("allowColumnDefaults")
    t.drop_column_default("id")
    t.update()
    v = t.drop_feature("allowColumnDefaults")
    t.update()
    assert "allowColumnDefaults" not in (t.snapshot.state.writer_features or [])
    # absent feature → clean error; table still writable
    with pytest.raises(FeatureDropError, match="not enabled"):
        t.drop_feature("allowColumnDefaults")
    write_deltalake(spark, df, uri, mode="append")
    assert DeltaTable(uri).to_df(spark).count() == 10
    assert v >= 1


def test_drop_reader_feature_requires_truncate_history(spark, tmp_path):
    """Reader-visible features refuse a plain drop; TRUNCATE HISTORY
    checkpoints the head and gives up time travel below the drop."""
    from delta_rs_spark.maintenance import FeatureDropError

    uri = str(tmp_path / "t")
    df = spark.range(5).selectExpr("id")
    write_deltalake(
        spark, df, uri,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    write_deltalake(spark, df, uri, mode="append")
    t = DeltaTable(uri)
    # force the protocol to advertise the feature without any DV trace
    # (tables created with deletion vectors advertise it from version 0)
    txn = t.begin()
    from delta_rs_spark.protocol.actions import upgraded_protocol

    bump = upgraded_protocol(
        t.snapshot.state, 3, 7,
        reader_features=["deletionVectors"],
        writer_features=["deletionVectors"],
    )
    if bump is not None:
        txn.add_action(bump)
    txn.commit(operation="UPGRADE")
    t.update()
    with pytest.raises(FeatureDropError, match="enableDeletionVectors"):
        t.drop_feature("deletionVectors", truncate_history=True)
    t.unset_properties(["delta.enableDeletionVectors"])
    t.update()
    with pytest.raises(FeatureDropError, match="TRUNCATE"):
        t.drop_feature("deletionVectors")
    v = t.drop_feature("deletionVectors", truncate_history=True)
    t.update()
    assert "deletionVectors" not in (t.snapshot.state.reader_features or [])
    assert t.to_df(spark).count() == 10
    # history below the drop is truncated: version-0 commit json is gone
    assert not os.path.exists(
        os.path.join(uri, "_delta_log", f"{0:020d}.json")
    )
    # SQL surface routes too (idempotent error shape)
    from delta_rs_spark.sql import sql

    from delta_rs_spark.maintenance import FeatureDropError as FDE

    with pytest.raises(FDE, match="not enabled"):
        sql(spark, f"ALTER TABLE delta.`{uri}` DROP FEATURE deletionVectors TRUNCATE HISTORY")
    assert v >= 3


def test_auto_compact_repairs_small_file_partitions(spark, tmp_path):
    """delta.autoOptimize.autoCompact: once a partition accumulates
    minNumFiles small files, the post-commit hook compacts it in a
    follow-up dataChange=false commit — readers of the log tail skip it,
    row data is unchanged, and only the noisy partition is rewritten."""
    uri = str(tmp_path / "t")
    df0 = spark.range(40).selectExpr("id", "cast(id % 2 as string) as p")
    write_deltalake(
        spark, df0, uri, partition_by=["p"],
        configuration={
            "delta.autoOptimize.autoCompact": "true",
            "delta.autoOptimize.minNumFiles": "4",
        },
    )
    # four small single-partition appends land in p=0 only
    for i in range(4):
        add = spark.range(i * 5, i * 5 + 5).selectExpr(
            "id", "cast(0 as string) as p"
        )
        write_deltalake(spark, add, uri, mode="append", partition_by=["p"])
    t = DeltaTable(uri)
    per_part: dict = {}
    for a in t.add_actions():
        per_part.setdefault(a.partition_values.get("p"), []).append(a)
    # the noisy partition collapsed to ~1 file; the quiet one kept its layout
    assert len(per_part["0"]) <= 2
    assert t.to_df(spark).count() == 40 + 20
    ops = [e.get("operation") for e in t.history()]
    assert "OPTIMIZE" in ops


def test_auto_compact_off_by_default(spark, tmp_path):
    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        spark.range(10).selectExpr("id", "cast(0 as string) as p"),
        uri,
        partition_by=["p"],
    )
    for i in range(4):
        write_deltalake(
            spark,
            spark.range(5).selectExpr("id", "cast(0 as string) as p"),
            uri,
            mode="append",
            partition_by=["p"],
        )
    t = DeltaTable(uri)
    assert "OPTIMIZE" not in [e.get("operation") for e in t.history()]


def test_incomplete_multipart_checkpoint_is_skipped(spark, tmp_path):
    """A crashed writer that uploaded only part 1 of N must not poison
    time travel: the finder falls back to the next complete checkpoint
    (or plain commit replay)."""
    from delta_rs_spark.maintenance import create_checkpoint

    uri = str(tmp_path / "t")
    write_deltalake(spark, spark.range(0, 10).selectExpr("id"), uri)
    for lo in (10, 20, 30):
        write_deltalake(
            spark, spark.range(lo, lo + 10).selectExpr("id"), uri, mode="append"
        )
    t = DeltaTable(uri)
    create_checkpoint(t)  # complete checkpoint at v3

    # orphan: part 1 of 3 of a "newer" checkpoint that never completed
    log = t.log
    orphan = log.backend.join(
        log.log_dir, "00000000000000000003.checkpoint.0000000001.0000000003.parquet"
    )
    # same bytes as a real part so a reader that DID pick it wouldn't
    # fail on parse — the finder must skip it on incompleteness alone
    complete = log.backend.join(log.log_dir, "00000000000000000003.checkpoint.parquet")
    log.backend.put_obj(orphan, log.backend.get_obj(complete))

    cp = log.find_latest_checkpoint_for_version(3)
    assert cp is not None and cp.parts is None  # the complete single part
    assert DeltaTable.for_version(uri, 3).to_df(spark).count() == 40


def test_identity_allow_explicit_insert_string_false():
    """Schema metadata round-tripped through a foreign writer stores
    booleans as strings; "false" must not read as allowed."""
    import pyspark.sql.types as T

    from delta_rs_spark.protocol import identity as idc

    schema = T.StructType(
        [
            T.StructField(
                "id",
                T.LongType(),
                metadata={
                    "delta.identity.start": 1,
                    "delta.identity.step": 1,
                    "delta.identity.allowExplicitInsert": "false",
                },
            )
        ]
    )
    assert idc.specs(schema)["id"].allow_explicit_insert is False
    schema2 = T.StructType(
        [
            T.StructField(
                "id",
                T.LongType(),
                metadata={
                    "delta.identity.start": 1,
                    "delta.identity.step": 1,
                    "delta.identity.allowExplicitInsert": "true",
                },
            )
        ]
    )
    assert idc.specs(schema2)["id"].allow_explicit_insert is True


def test_get_obj_head_is_bounded():
    import os
    import tempfile

    from delta_rs_spark.protocol.storage import LocalFileBackend, MemoryBackend

    mem = MemoryBackend("headr")
    mem.put_obj("memory://h/x", b"A" * 100)
    assert mem.get_obj_head("memory://h/x", 10) == b"A" * 10
    loc = LocalFileBackend()
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "f")
        with open(p, "wb") as fh:
            fh.write(b"B" * 100)
        assert loc.get_obj_head(p, 7) == b"B" * 7


def test_shallow_clone_carries_dvs_and_protocol(spark, tmp_path):
    """Clone of a merge-on-read table must keep deleted rows deleted (DV
    descriptors travel, rewritten to absolute paths) and must carry the
    source's protocol/features, not a hardcoded (1,2)."""
    src = str(tmp_path / "src")
    write_deltalake(
        spark,
        spark.range(0, 100).selectExpr("id", "id % 10 AS k"),
        src,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    t = DeltaTable(src)
    t.delete(spark, "k = 3")  # MoR: DV commit, files unrewritten
    clone = t.shallow_clone(str(tmp_path / "clone"))
    assert clone.to_df(spark).count() == 90
    assert clone.to_df(spark).filter("k = 3").count() == 0
    st = clone.snapshot.state
    assert "deletionVectors" in (st.writer_features or [])
    assert st.min_reader_version == 3


def test_drop_clustering_ignores_unrelated_domains(spark, tmp_path):
    """An unrelated domainMetadata entry (e.g. COPY INTO's registry) must
    not block DROP FEATURE clustering."""
    from delta_rs_spark.protocol.actions import DomainMetadataAction
    from delta_rs_spark.transactions import DeltaTransaction

    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        spark.range(0, 20).selectExpr("id", "id % 3 AS k"),
        uri,
        cluster_by=["k"],
    )
    t = DeltaTable(uri)
    txn = DeltaTransaction(t)
    txn.add_action(
        DomainMetadataAction(domain="delta.copyInto", configuration="{}")
    )
    txn.commit(operation="COPY INTO")
    t = DeltaTable(uri)
    with pytest.raises(Exception, match="clustering domain"):
        t.drop_feature("clustering")  # the CLUSTERING domain does block
    t.sql_noop = None  # placeholder to keep flake-style linters quiet
    # remove the clustering domain, keep the unrelated one -> drop succeeds
    from delta_rs_spark.protocol import clustering_meta as cl

    txn2 = DeltaTransaction(DeltaTable(uri))
    txn2.add_action(
        DomainMetadataAction(domain=cl.DOMAIN, configuration="{}", removed=True)
    )
    txn2.commit(operation="ALTER")
    t2 = DeltaTable(uri)
    assert "delta.copyInto" in t2.snapshot.state.domain_metadata
    t2.drop_feature("clustering")
    assert "clustering" not in (
        DeltaTable(uri).snapshot.state.writer_features or []
    )


def test_auto_compact_on_clustered_table_is_small_file_bounded(spark, tmp_path):
    """autoCompact on a clustered table must stay a small-file repair: a
    healthy big-file table with clustering declared triggers NO rewrite."""
    from delta_rs_spark.maintenance import optimize

    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        spark.range(0, 1000).selectExpr("id", "id % 5 AS k"),
        uri,
        cluster_by=["k"],
    )
    t = DeltaTable(uri)
    nfiles = len(t.files())
    # compact_only (the autoCompact hook): clustering must NOT make every
    # file a candidate — nothing is below target here except tiny files,
    # and with only one file per slot there is nothing to merge
    res = optimize(t, spark, compact_only=True, dry_run=True)
    assert res["numFilesRemoved"] <= nfiles  # well-defined
    res2 = optimize(t, spark, compact_only=True)
    t2 = DeltaTable(uri)
    assert res2["numFilesRemoved"] == res["numFilesRemoved"]
    # bare OPTIMIZE still re-clusters (the maintenance loop)
    res3 = optimize(DeltaTable(uri), spark)
    assert res3["numFilesRemoved"] >= 1


def test_zorder_on_dv_and_mapped_tables(spark, tmp_path):
    """OPTIMIZE ZORDER must work when stats are conservative (DV'd files)
    and when stats are keyed physically (column mapping)."""
    from delta_rs_spark.maintenance import optimize

    uri = str(tmp_path / "dvz")
    write_deltalake(
        spark,
        spark.range(0, 400).selectExpr("id", "id % 7 AS k").repartition(4),
        uri,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    t = DeltaTable(uri)
    t.delete(spark, "k = 2")  # DV commit -> table_min_max returns None
    res = optimize(DeltaTable(uri), spark, zorder_by=["id", "k"])
    assert res["numFilesRemoved"] >= 1
    t2 = DeltaTable(uri)
    n_deleted = sum(1 for i in range(400) if i % 7 == 2)
    assert t2.to_df(spark).count() == 400 - n_deleted
    assert t2.to_df(spark).filter("k = 2").count() == 0

    uri2 = str(tmp_path / "cmz")
    write_deltalake(
        spark,
        spark.range(0, 200).selectExpr("id", "id % 3 AS k").repartition(4),
        uri2,
        configuration={"delta.columnMapping.mode": "name"},
    )
    res2 = optimize(DeltaTable(uri2), spark, zorder_by=["id"])
    assert res2["numFilesRemoved"] >= 1
    assert DeltaTable(uri2).to_df(spark).count() == 200


# ---------------------------------------------------------------------------
# REORG TABLE ... APPLY (PURGE)
# ---------------------------------------------------------------------------


def test_reorg_purge_rewrites_only_dv_files(spark, tmp_path):
    """PURGE materializes merge-on-read deletes but never touches healthy
    files — a targeted repair, not a compaction."""
    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        spark.range(100).coalesce(1).selectExpr("id"),
        uri,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    # a second, healthy small file that PURGE must leave alone
    write_deltalake(
        spark, spark.range(100, 110).coalesce(1).selectExpr("id"), uri, mode="append"
    )
    t = DeltaTable(uri)
    t.delete(spark, "id % 10 = 0 AND id < 100")  # DV on file 1 only
    t.update()
    dv_files = [a.path for a in t.add_actions() if a.deletion_vector]
    healthy = {a.path for a in t.add_actions() if not a.deletion_vector}
    assert len(dv_files) == 1 and healthy

    res = t.reorg_purge(spark)
    assert res["numFilesRemoved"] == 1 and res["numFilesAdded"] >= 1
    t.update()
    after = t.add_actions()
    # no DVs remain; the healthy file survived untouched
    assert not any(a.deletion_vector for a in after)
    assert healthy <= {a.path for a in after}
    got = sorted(r.id for r in t.to_df(spark).collect())
    assert got == [i for i in range(110) if not (i % 10 == 0 and i < 100)]
    # dataChange=false REORG commit: log-tailing readers skip it
    import json as _json

    last = t.version
    with open(os.path.join(uri, "_delta_log", f"{last:020d}.json")) as fh:
        lines = [_json.loads(l) for l in fh]
    ci = next(l["commitInfo"] for l in lines if "commitInfo" in l)
    assert ci["operation"] == "REORG"
    assert ci["operationParameters"]["applyPurge"] == "true"
    assert all(
        a["add"]["dataChange"] is False for a in lines if "add" in a
    )
    # idempotent: nothing left to purge
    assert t.reorg_purge(spark)["numFilesRemoved"] == 0


def test_reorg_purge_rewrites_narrow_files_enabling_feature_drop(spark, tmp_path):
    """After ALTER COLUMN TYPE widening, PURGE rewrites the narrow-typed
    files — the documented prerequisite for DROP FEATURE typeWidening."""
    from delta_rs_spark.protocol.widening import physical_narrow_files

    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        spark.range(10).coalesce(1).selectExpr("cast(id as int) as v"),
        uri,
        configuration={"delta.enableTypeWidening": "true"},
    )
    t = DeltaTable(uri)
    t.widen_column_type("v", "bigint")
    t.update()
    assert physical_narrow_files(t)  # int32 parquet under a bigint schema

    res = t.reorg_purge(spark)
    assert res["numFilesRemoved"] == 1
    t.update()
    assert physical_narrow_files(t) == []
    assert sorted(r.v for r in t.to_df(spark).collect()) == list(range(10))
    t.unset_properties(["delta.enableTypeWidening"])
    t.update()
    t.drop_feature("typeWidening", truncate_history=True)  # narrow files gone
    t.update()
    assert "typeWidening" not in (t.snapshot.state.writer_features or [])


def test_reorg_purge_sql_with_partition_scope(spark, tmp_path):
    """SQL surface: REORG TABLE ... WHERE p = v APPLY (PURGE) purges only
    the scoped partition's DV files."""
    from delta_rs_spark.sql import sql

    uri = str(tmp_path / "t")
    df = spark.range(40).coalesce(1).selectExpr("id", "cast(id % 2 as string) as p")
    write_deltalake(
        spark, df, uri, partition_by=["p"],
        configuration={"delta.enableDeletionVectors": "true"},
    )
    t = DeltaTable(uri)
    t.delete(spark, "id IN (2, 3)")  # DVs in both partitions
    t.update()
    assert sum(1 for a in t.add_actions() if a.deletion_vector) == 2

    row = sql(spark, f"REORG TABLE delta.`{uri}` WHERE p = '0' APPLY (PURGE)").collect()[0]
    assert row.numFilesRemoved == '1'
    t.update()
    still = [a for a in t.add_actions() if a.deletion_vector]
    assert len(still) == 1 and still[0].partition_values["p"] == "1"
    assert t.to_df(spark).count() == 38


# ---------------------------------------------------------------------------
# Deep clone
# ---------------------------------------------------------------------------


def test_deep_clone_independent_copy_with_dvs(spark, tmp_path, sf_dir):
    """DEEP CLONE copies data + DV files under the target root with
    relative paths — fully self-contained: deleting the SOURCE's storage
    leaves the clone readable, merge-on-read deletes included."""
    import shutil as _sh

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    src_uri = str(tmp_path / "src")
    write_deltalake(
        spark, docs, src_uri, max_records_per_file=200,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    src = DeltaTable(src_uri)
    src.delete(spark, "doc_id % 10 = 0")  # MoR: DV commit
    src.update()
    assert any(a.deletion_vector for a in src.add_actions())
    expect = sorted(
        r.doc_id for r in src.to_df(spark).collect()
    )

    clone_uri = str(tmp_path / "deep")
    clone = src.deep_clone(clone_uri)
    # every add is RELATIVE and physically present under the clone root
    for a in clone.add_actions():
        assert "://" not in a.path and not a.path.startswith("/")
        assert os.path.exists(os.path.join(clone_uri, a.path))
    h = clone.history()[0]
    assert h["operation"] == "CLONE"
    assert h["operationParameters"]["isShallow"] == "false"

    # destroy the source entirely — the deep clone must not notice
    _sh.rmtree(src_uri)
    clone2 = DeltaTable(clone_uri)
    got = sorted(r.doc_id for r in clone2.to_df(spark).collect())
    assert got == expect  # DV-deleted rows stay deleted


def test_deep_clone_rehomes_shallow_clone_absolute_paths(spark, tmp_path):
    """Deep-cloning a SHALLOW clone (absolute add paths) re-homes every
    file under the target with Hive partition dirs preserved."""
    uri = str(tmp_path / "base")
    df = spark.range(20).coalesce(1).selectExpr("id", "cast(id % 2 as string) as p")
    write_deltalake(spark, df, uri, partition_by=["p"])
    shallow = DeltaTable(uri).shallow_clone(str(tmp_path / "sh"))
    deep = shallow.deep_clone(str(tmp_path / "dp"))
    for a in deep.add_actions():
        assert not a.path.startswith("/")
        assert a.path.startswith(f"p={a.partition_values['p']}/")
    assert deep.to_df(spark).count() == 20
    # partition pruning still works off the clone's partitionValues
    assert deep.to_df(spark, partition_filters=[("p", "=", "1")]).count() == 10


def test_clones_carry_domain_metadata(spark, tmp_path):
    """Row-tracking high-water mark (delta.rowTracking domain) must travel
    with BOTH clone flavors — losing it would re-issue duplicate row ids."""
    uri = str(tmp_path / "rt")
    write_deltalake(
        spark,
        spark.range(10).selectExpr("id"),
        uri,
        configuration={"delta.enableRowTracking": "true"},
    )
    src = DeltaTable(uri)
    assert "delta.rowTracking" in src.snapshot.state.domain_metadata
    sh = src.shallow_clone(str(tmp_path / "sh"))
    dp = src.deep_clone(str(tmp_path / "dp"))
    for clone in (sh, dp):
        assert (
            clone.snapshot.state.domain_metadata.get("delta.rowTracking")
            == src.snapshot.state.domain_metadata["delta.rowTracking"]
        )


def test_deep_clone_sql_and_version(spark, tmp_path):
    from delta_rs_spark.sql import sql

    uri = str(tmp_path / "s")
    write_deltalake(spark, spark.range(30).selectExpr("id"), uri)
    write_deltalake(spark, spark.range(30, 50).selectExpr("id"), uri, mode="append")
    dst = str(tmp_path / "d")
    row = sql(
        spark, f"CREATE TABLE delta.`{dst}` DEEP CLONE delta.`{uri}` VERSION AS OF 0"
    ).collect()[0]
    assert int(row.version) == 0
    t = DeltaTable(dst)
    assert t.to_df(spark).count() == 30  # version-0 snapshot only
    sh_dst = str(tmp_path / "d2")
    sql(spark, f"CREATE TABLE delta.`{sh_dst}` SHALLOW CLONE delta.`{uri}`")
    assert DeltaTable(sh_dst).to_df(spark).count() == 50


def test_deep_clone_reencodes_p_dvs_vacuum_safe(spark, tmp_path):
    """Deep-cloning a shallow clone whose DVs are absolute 'p' descriptors
    re-encodes them as relative 'u' under the clone root — vacuum's DV
    protection understands 'u', so the clone's own vacuum never reaps its
    deletion vectors."""
    import shutil as _sh

    base = str(tmp_path / "base")
    write_deltalake(
        spark,
        spark.range(60000).coalesce(1).selectExpr("id"),
        base,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    t = DeltaTable(base)
    t.delete(spark, "id % 6 = 0")  # 10k positions in a .bin: 'u'
    t.update()
    assert any(
        (a.deletion_vector or {}).get("storageType") == "u"
        for a in t.add_actions()
    )
    sh = t.shallow_clone(str(tmp_path / "sh"))  # DV becomes absolute 'p'
    assert any(
        (a.deletion_vector or {}).get("storageType") == "p"
        for a in sh.add_actions()
    )
    deep_uri = str(tmp_path / "deep")
    dp = sh.deep_clone(deep_uri)
    dvs = [a.deletion_vector for a in dp.add_actions() if a.deletion_vector]
    assert dvs and all(d["storageType"] in ("u", "i") for d in dvs)
    expect = [i for i in range(60000) if i % 6 != 0]
    # the deep clone survives losing BOTH ancestors
    _sh.rmtree(base), _sh.rmtree(str(tmp_path / "sh"))
    dp2 = DeltaTable(deep_uri)
    assert sorted(r.id for r in dp2.to_df(spark).collect()) == expect
    # vacuum never lists the clone's DV file as reapable
    listed = dp2.vacuum(retention_hours=168, dry_run=True)
    assert not any("deletion_vector" in p for p in listed)


def test_reorg_purge_stages_dv_feature_drop(spark, tmp_path):
    """DROP FEATURE deletionVectors refuses in stages: with live DVs the
    error points at REORG APPLY (PURGE); after the purge only the
    retention-guarded tombstones remain in the way (the spec's 24h wait) —
    the purge moved the drop from 'needs a rewrite' to 'needs retention'."""
    from delta_rs_spark.maintenance import FeatureDropError

    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        spark.range(100).coalesce(1).selectExpr("id"),
        uri,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    t = DeltaTable(uri)
    t.delete(spark, "id % 4 = 0")
    t.update()
    t.unset_properties(["delta.enableDeletionVectors"])
    t.update()
    with pytest.raises(FeatureDropError, match="REORG"):
        t.drop_feature("deletionVectors", truncate_history=True)
    t.reorg_purge(spark)
    t.update()
    with pytest.raises(FeatureDropError, match="tombstones"):
        t.drop_feature("deletionVectors", truncate_history=True)
    assert t.to_df(spark).count() == 75


def test_restore_undoes_and_redoes_mor_deletes(spark, tmp_path):
    """RESTORE across merge-on-read DML: the file path never changes, only
    its deletion vector does — the restore must re-add the TARGET's add
    action (old DV state), both backwards (resurrect) and forwards
    (re-delete). Found by the DML fuzz harness."""
    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        spark.range(50).coalesce(1).selectExpr("id"),
        uri,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    t = DeltaTable(uri)
    t.delete(spark, "id % 5 = 0")  # v1: MoR, same path + DV
    t.update()
    assert t.to_df(spark).count() == 40

    r = t.restore(0)  # resurrect: same path, DV must drop
    assert r["numRestoredFiles"] == 1
    t.update()
    assert t.to_df(spark).count() == 50
    assert not any(a.deletion_vector for a in t.add_actions())

    t.restore(1)  # forward: DV must come back
    t.update()
    assert t.to_df(spark).count() == 40
    assert any(a.deletion_vector for a in t.add_actions())


def test_generate_symlink_manifest(spark, tmp_path):
    """GENERATE symlink_format_manifest: per-partition Hive manifests list
    absolute data-file URIs; regeneration rewrites and removes stale
    partition manifests; DV'd tables refuse."""
    import os as _os

    from delta_rs_spark import DeltaTable, write_deltalake

    uri = str(tmp_path / "gen")
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(10)], "id long, p string"
    ).coalesce(1)  # one file per partition: the later DV delete must be partial
    write_deltalake(spark, df, uri, partition_by=["p"])
    t = DeltaTable(uri)
    res = t.generate()
    assert res["numManifestsWritten"] == 2 and res["numManifestsRemoved"] == 0

    base = _os.path.join(uri, "_symlink_format_manifest")
    for part in ("p=a", "p=b"):
        mpath = _os.path.join(base, part, "manifest")
        lines = open(mpath).read().strip().split("\n")
        assert lines == sorted(lines) and lines
        for ln in lines:
            assert ln.startswith(uri) and f"/{part}/" in ln and _os.path.exists(ln)
    listed = set(
        open(_os.path.join(base, "p=a", "manifest")).read().split()
        + open(_os.path.join(base, "p=b", "manifest")).read().split()
    )
    assert listed == set(t.file_uris())

    # drop partition b entirely -> its manifest must be removed
    t.delete(spark, "p = 'b'")
    res2 = DeltaTable(uri).generate()
    assert res2["numManifestsWritten"] == 1 and res2["numManifestsRemoved"] == 1
    assert not _os.path.exists(_os.path.join(base, "p=b", "manifest"))

    # DV'd live files refuse (whole-file listing would resurrect deletes)
    from delta_rs_spark import sql as _sql

    _sql(
        spark,
        f"ALTER TABLE delta.`{uri}` SET TBLPROPERTIES "
        "('delta.enableDeletionVectors'='true')",
    )
    t2 = DeltaTable(uri)
    t2.delete(spark, "id = 0")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="deletion vectors"):
        DeltaTable(uri).generate()


def test_generate_symlink_manifest_unpartitioned_and_sql(spark, tmp_path):
    import os as _os

    from delta_rs_spark import DeltaTable, sql, write_deltalake

    uri = str(tmp_path / "gen_flat")
    write_deltalake(spark, spark.range(5).selectExpr("id"), uri)
    out = sql(
        spark, f"GENERATE symlink_format_manifest FOR TABLE delta.`{uri}`"
    ).collect()[0]
    assert out.numManifestsWritten == "1"  # _one_row stringifies metrics
    mpath = _os.path.join(uri, "_symlink_format_manifest", "manifest")
    assert set(open(mpath).read().split()) == set(DeltaTable(uri).file_uris())


# ---- checkpoint layout --------------------------------------------------------


@pytest.fixture(scope="module")
def lean_table(spark, tmp_path_factory):
    """A table of 350 files (7 partition values × 50 write tasks) whose
    delete left deletion vectors on most of them, checkpointed at its
    latest version."""
    uri = str(tmp_path_factory.mktemp("lean") / "t")
    df = spark.range(0, 30000).selectExpr("id", "id % 7 AS p", "id * 2 AS v")
    write_deltalake(spark, df.repartition(50), uri, partition_by=["p"])
    DeltaTable(uri).delete(spark, "id % 97 = 0")
    DeltaTable(uri).create_checkpoint()
    return uri


def _checkpoint_path(uri: str) -> str:
    log = DeltaLog(uri)
    return log.checkpoint_paths(log.read_last_checkpoint())[0]


def _column_chunks(path: str) -> dict:
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    return {
        rg.column(i).path_in_schema: rg.column(i)
        for rg in (md.row_group(r) for r in range(md.num_row_groups))
        for i in range(rg.num_columns)
    }


def _inferred(v):
    """A singleton action value as earlier builds passed it to ``pa.array``:
    no null fields and no empty dicts, string maps as dicts."""
    if isinstance(v, dict):
        v = {k: _inferred(x) for k, x in v.items() if x is not None}
        return {k: x for k, x in v.items() if x != {}}
    return v


def _write_old_layout(path: str) -> None:
    """Rewrite a checkpoint the way earlier builds wrote it: add/remove
    fields null on every row left out only at the action level (the DV
    struct keeps its all-null fields), a typed ``partitionValues_parsed``,
    singleton actions typed by inference from dicts (a string map is a
    struct of its keys, an empty list is ``list<null>``, versions are
    int64), and pyarrow's data-file defaults — a dictionary on every
    column, min/max statistics and a stored Arrow schema."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from delta_rs_spark.protocol.state import ADD_SCHEMA, REMOVE_SCHEMA, _conform

    t = pq.read_table(path)
    cols = {}
    for name, col in zip(t.column_names, t.columns):
        arr = col.combine_chunks()
        if name in ("add", "remove"):
            schema = ADD_SCHEMA if name == "add" else REMOVE_SCHEMA
            full = _conform(arr, pa.struct(list(schema)))
            fields = [
                (f, c)
                for f, c in zip(schema, full.flatten())
                if f.name == "path" or c.null_count < len(c)
            ]
            if name == "add":
                pv = pc.map_lookup(full.field("partitionValues"), "p", "first")
                parsed = pa.StructArray.from_arrays([pc.cast(pv, pa.int64())], names=["p"])
                fields.append((pa.field("partitionValues_parsed", parsed.type), parsed))
            arr = pa.StructArray.from_arrays(
                [c for _, c in fields], fields=[f for f, _ in fields], mask=arr.is_null()
            )
        elif name in ("metaData", "protocol"):
            rows = arr.to_pylist()
            for d in rows:
                if d is not None and name == "metaData":
                    d["configuration"] = dict(d.get("configuration") or [])
                    d["format"]["options"] = dict(d["format"].get("options") or [])
            arr = pa.array([None if d is None else _inferred(d) for d in rows])
        cols[name] = arr
    pq.write_table(pa.table(cols), path, compression="zstd")


def _assert_spec_singleton_types(path: str, partitioned: bool) -> None:
    """metaData and protocol columns carry the Delta protocol's checkpoint
    types: string maps as ``map<string,string>`` (an empty one, like these
    tables' ``format.options``, is left out), ``partitionColumns`` as
    ``list<string>`` (also when empty), versions as int32."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    meta, proto = schema.field("metaData").type, schema.field("protocol").type
    m = meta.field("configuration").type
    assert pa.types.is_map(m) and m.key_type == m.item_type == pa.string()
    assert meta.field("format").type.get_field_index("options") == -1
    assert meta.field("partitionColumns").type.value_type == pa.string()
    assert proto.field("minReaderVersion").type == proto.field("minWriterVersion").type == pa.int32()
    cols = pq.read_table(path, columns=["metaData"]).column("metaData").combine_chunks()
    (parts,) = [d["partitionColumns"] for d in cols.to_pylist() if d is not None]
    assert parts == (["p"] if partitioned else [])


def test_checkpoint_layout_is_lean(spark, lean_table, tmp_path):
    """Checkpoint parquet carries no statistics, no stored Arrow schema, a
    dictionary only on columns whose values repeat (the delete's DVs share
    one file, so ``pathOrInlineDv`` repeats), no all-null nested field, and
    ``partitionValues_parsed`` only under writeStatsAsStruct."""
    import shutil

    import pyarrow.parquet as pq

    path = _checkpoint_path(lean_table)
    assert b"ARROW:schema" not in (pq.ParquetFile(path).metadata.metadata or {})
    chunks = _column_chunks(path)
    assert not [p for p, c in chunks.items() if c.is_stats_set]
    assert not chunks["add.path"].has_dictionary_page
    assert not chunks["add.stats"].has_dictionary_page
    assert chunks["add.deletionVector.pathOrInlineDv"].has_dictionary_page
    assert not chunks["add.deletionVector.offset"].has_dictionary_page
    assert chunks["add.partitionValues.key_value.key"].has_dictionary_page
    assert chunks["add.partitionValues.key_value.value"].has_dictionary_page
    assert chunks["add.deletionVector.storageType"].has_dictionary_page
    assert not [p for p in chunks if p.startswith("add.deletionVector.paths")]
    assert not [p for p in chunks if "partitionValues_parsed" in p]

    # at most 80% of the same checkpoint in the earlier layout
    old_path = str(tmp_path / "old.checkpoint.parquet")
    shutil.copy(path, old_path)
    _write_old_layout(old_path)
    assert os.path.getsize(path) <= 0.8 * os.path.getsize(old_path)

    uri = str(tmp_path / "struct")
    shutil.copytree(lean_table, uri)
    t = DeltaTable(uri)
    t.set_properties({"delta.checkpoint.writeStatsAsStruct": "true"})
    DeltaTable(uri).create_checkpoint()
    chunks = _column_chunks(_checkpoint_path(uri))
    assert "add.partitionValues_parsed.p" in chunks
    assert [p for p in chunks if p.startswith("add.stats_parsed.")]


def test_old_and_new_checkpoints_load_alike(spark, lean_table, tmp_path):
    """A checkpoint in the earlier layout and one in the current layout of
    the same table load to the same files, partition values, stats, DV
    descriptors and row count; Spark reads the current layout too."""
    import io
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from delta_rs_spark.maintenance import _parquet_bytes, _rows_to_struct_columns
    from delta_rs_spark.protocol.snapshot import read_checkpoint_actions

    old_uri = str(tmp_path / "old")
    shutil.copytree(lean_table, old_uri)
    _write_old_layout(_checkpoint_path(old_uri))
    old_chunks = _column_chunks(_checkpoint_path(old_uri))
    assert "add.partitionValues_parsed.p" in old_chunks
    assert "add.deletionVector.maxRowIndex" in old_chunks
    assert old_chunks["add.path"].has_dictionary_page and old_chunks["add.path"].is_stats_set
    assert b"ARROW:schema" in pq.ParquetFile(_checkpoint_path(old_uri)).metadata.metadata
    old_meta = pq.read_schema(_checkpoint_path(old_uri)).field("metaData").type
    assert pa.types.is_struct(old_meta.field("configuration").type)
    _assert_spec_singleton_types(_checkpoint_path(lean_table), partitioned=True)

    new, old = DeltaTable(lean_table), DeltaTable(old_uri)
    assert new.metadata() == old.metadata()
    assert new.metadata().configuration == {"delta.enableDeletionVectors": "true"}

    def protocol(t):
        s = t.snapshot.state
        return s.min_reader_version, s.min_writer_version, s.reader_features, s.writer_features

    assert protocol(new) == protocol(old)
    assert protocol(new)[:3] == (3, 7, ["deletionVectors"])
    # both loads decode their checkpoint, which holds every live file
    for t in (new, old):
        cp = t.log.read_last_checkpoint()
        assert cp.version == t.version
        assert read_checkpoint_actions(t.log, cp).adds.num_rows == 350

    def view(t):
        adds = t.add_actions()
        return (
            [a.path for a in adds],
            [a.partition_values for a in adds],
            [a.stats for a in adds],
            [a.deletion_vector for a in adds],
        )

    assert view(new) == view(old)
    assert sum(dv is not None for dv in view(new)[3]) > 100
    assert new.count_rows() == old.count_rows() == 30000 - len(range(0, 30000, 97))

    rows = (
        spark.read.parquet(_checkpoint_path(lean_table))
        .where("add IS NOT NULL")
        .select("add.path", "add.deletionVector")
        .collect()
    )

    def descriptor(dv):
        return None if dv is None else {k: v for k, v in dv.asDict().items() if v is not None}

    assert {r.path: descriptor(r.deletionVector) for r in rows} == {
        a.path: a.deletion_vector for a in new.add_actions()
    }

    # format options, when a table has any, are a string map too
    meta = {"id": "m", "format": {"provider": "parquet", "options": {"k": "v"}}}
    blob = _parquet_bytes(pa.table(_rows_to_struct_columns([{"metaData": meta}])))
    options = pq.read_schema(io.BytesIO(blob)).field("metaData").type.field("format").type
    assert options.field("options").type.item_type == pa.string()
    assert pa.types.is_map(options.field("options").type)

    # an unpartitioned table: the earlier layout's partitionColumns is
    # list<null>, the current one list<string>; both load alike
    plain = str(tmp_path / "plain")
    write_deltalake(spark, spark.range(3), plain)
    DeltaTable(plain).create_checkpoint()
    _assert_spec_singleton_types(_checkpoint_path(plain), partitioned=False)
    plain_old = str(tmp_path / "plain_old")
    shutil.copytree(plain, plain_old)
    _write_old_layout(_checkpoint_path(plain_old))
    old_meta = pq.read_schema(_checkpoint_path(plain_old)).field("metaData").type
    assert pa.types.is_null(old_meta.field("partitionColumns").type.value_type)
    assert DeltaTable(plain).metadata() == DeltaTable(plain_old).metadata()
    assert DeltaTable(plain_old).metadata().partition_columns == []


def test_python_valued_properties_checkpoint_as_strings(spark, tmp_path):
    """Table properties passed as Python values are stored as protocol
    strings, in the commit and in the checkpoint's string map, so the
    automatic checkpoint after a commit takes them. A log from an older
    build whose metaData holds a bare ``true`` checkpoints too."""
    import json
    import shutil
    import warnings

    import pyarrow.parquet as pq

    uri = str(tmp_path / "t")
    cfg = {"delta.checkpointInterval": 2, "delta.enableChangeDataFeed": True}
    with warnings.catch_warnings():
        # a sink re-passing its creation config matches the stored strings
        warnings.simplefilter("error")
        for i in range(5):
            write_deltalake(spark, spark.range(i, i + 1), uri, configuration=cfg)
    want = {
        "delta.checkpointInterval": "2",
        "delta.enableChangeDataFeed": "true",
        "delta.enableDeletionVectors": "true",
    }
    log = DeltaLog(uri)
    with open(os.path.join(log.log_dir, f"{0:020d}.json")) as f:
        commit_meta = [json.loads(line) for line in f if '"metaData"' in line]
    assert commit_meta[0]["metaData"]["configuration"] == want
    assert log.read_last_checkpoint().version == 4
    t = DeltaTable(uri)
    assert t.version == 4 and t.metadata().configuration == want
    assert t.to_df(spark).count() == 5
    rows = pq.read_table(_checkpoint_path(uri), columns=["metaData"]).column(0).to_pylist()
    assert [dict(r["configuration"]) for r in rows if r] == [want]

    # an older build wrote the caller's True into the commit as-is
    old = str(tmp_path / "old")
    shutil.copytree(uri, old)
    old_log = DeltaLog(old)
    for name in os.listdir(old_log.log_dir):
        if "checkpoint" in name:
            os.remove(os.path.join(old_log.log_dir, name))
    v0 = os.path.join(old_log.log_dir, f"{0:020d}.json")
    with open(v0) as f:
        text = f.read()
    with open(v0, "w") as f:
        f.write(
            text.replace('"delta.enableChangeDataFeed":"true"', '"delta.enableChangeDataFeed":true')
        )
    assert DeltaTable(old).metadata().configuration["delta.enableChangeDataFeed"] is True
    DeltaTable(old).create_checkpoint()
    assert DeltaTable(old).metadata().configuration == want
