"""Data-plane tests: the full table lifecycle on non-local backends.

``protocol/dataio.py`` resolves, per table, whether Spark reaches data files
natively (local FS / jar-backed schemes) or through a StorageBackend-fed
local mirror. These tests run the WHOLE lifecycle — write, merge-on-read
DELETE/UPDATE (deletion vectors), CDF, OPTIMIZE materialization, time
travel — over ``memory://`` and over a mocked ``abfss://`` transport,
asserting the same swap-commit semantics as the local backend. This is the
object-store merge-on-read surface the reference leaves unimplemented
(its Azure backend is read-only, ``rust/src/storage/azure.rs:199-209``).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delta_rs_spark import DeltaTable
from delta_rs_spark.protocol.storage import register_backend_factory
from delta_rs_spark.writer import write_deltalake


def _seed(spark, uri, rows=400, nfiles=4, dv=True, cdf=False):
    cfg = {}
    if dv:
        cfg["delta.enableDeletionVectors"] = "true"
    if cdf:
        cfg["delta.enableChangeDataFeed"] = "true"
    df = spark.range(0, rows).selectExpr("id", "id % 10 as k", "concat('v', id) as v")
    write_deltalake(spark, df.repartition(nfiles), uri, configuration=cfg or None)
    return DeltaTable(uri)


def test_memory_backend_full_write_read_roundtrip(spark):
    uri = "memory://dataio/rt"
    t = _seed(spark, uri, dv=False)
    assert t.to_df(spark).count() == 400
    assert t.count_rows() == 400  # stats survived the mirrored write
    got = sorted(r.id for r in t.to_df(spark).filter("k = 7").collect())
    assert got == list(range(7, 400, 10))


def test_memory_backend_mor_delete_swap_semantics(spark):
    """MoR delete on memory://: same swap-commit shape as the local backend
    — zero rewritten files, DV descriptors on the same adds, correct
    read-back, metadata-only count fold."""
    uri = "memory://dataio/mor"
    t = _seed(spark, uri)
    files_before = sorted(t.files())

    res = t.delete(spark, "k = 3")
    assert res["numDeletedRows"] == 40
    assert res["numAddedFiles"] == 0
    assert res["numDeletionVectorsAdded"] == 4

    t2 = DeltaTable(uri)
    assert sorted(t2.files()) == files_before  # no data rewrite
    assert t2.to_df(spark).count() == 360
    assert t2.to_df(spark).filter("k = 3").count() == 0
    assert t2.count_rows() == 360
    assert t2.protocol_versions() == (3, 7)


def test_memory_backend_mor_update_and_cdf(spark):
    uri = "memory://dataio/cdf"
    t = _seed(spark, uri, cdf=True)
    t.delete(spark, "k = 3")  # v1: DV commit
    t2 = DeltaTable(uri)
    t2.update_where(spark, "k = 5", {"v": "'updated'"})  # v2: MoR update
    t3 = DeltaTable(uri)
    assert t3.to_df(spark).filter("v = 'updated'").count() == 40

    ch = t3.load_cdf(spark, starting_version=1)
    by_type = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_type == {
        "delete": 40,
        "update_preimage": 40,
        "update_postimage": 40,
    }


def test_memory_backend_optimize_materializes_dvs(spark):
    uri = "memory://dataio/opt"
    t = _seed(spark, uri)
    t.delete(spark, "k = 3")
    t2 = DeltaTable(uri)
    t2.optimize(spark)
    t3 = DeltaTable(uri)
    assert not any(a.deletion_vector for a in t3.add_actions())
    assert t3.to_df(spark).count() == 360
    assert t3.to_df(spark).filter("k = 3").count() == 0
    # time travel across the whole sequence still works from the log
    assert DeltaTable.for_version(uri, 0).to_df(spark).count() == 400
    assert DeltaTable.for_version(uri, 1).to_df(spark).count() == 360


def test_memory_backend_pyarrow_path_with_dvs(spark):
    uri = "memory://dataio/pa"
    t = _seed(spark, uri)
    t.delete(spark, "id < 10")
    t2 = DeltaTable(uri)
    tbl = t2.to_pyarrow_table()
    assert tbl.num_rows == 390
    assert min(tbl.column("id").to_pylist()) == 10


def test_memory_backend_vacuum_reaps_via_listing(spark):
    """Vacuum must enumerate data files through the StorageBackend on
    object-store tables (os.walk over a memory:// root silently yields
    nothing — the pre-fix behavior left every tombstoned file forever)."""
    import json

    uri = "memory://dataio/vac"
    t = _seed(spark, uri, rows=100, nfiles=2, dv=False)
    from delta_rs_spark.writer import write_deltalake

    write_deltalake(
        spark,
        spark.range(0, 10).selectExpr("id", "id % 10 as k", "'x' as v"),
        uri,
        mode="overwrite",
    )
    t2 = DeltaTable(uri)
    backend, log = t2.log.backend, t2.log

    # age the v1 tombstones by patching deletionTimestamp in the log object
    old_ms = 1_000_000
    raw = backend.get_obj(log.commit_path(1)).decode()
    lines = []
    for line in raw.splitlines():
        obj = json.loads(line)
        if "remove" in obj:
            obj["remove"]["deletionTimestamp"] = old_ms
        lines.append(json.dumps(obj, separators=(",", ":")))
    backend.put_obj(log.commit_path(1), "\n".join(lines).encode())

    t3 = DeltaTable(uri)
    listed = t3.vacuum(retention_hours=168, dry_run=True)
    assert len(listed) == 2  # both v0 data files are expired tombstones
    n_parquet_before = sum(
        1 for m in backend.list_objs(uri) if m.path.endswith(".parquet")
    )
    t3.vacuum(retention_hours=168, dry_run=False)
    n_parquet_after = sum(
        1 for m in backend.list_objs(uri) if m.path.endswith(".parquet")
    )
    assert n_parquet_after == n_parquet_before - 2
    assert t3.to_df(spark).count() == 10  # live snapshot untouched


def test_mocked_abfss_mor_delete(spark):
    """The identical MoR sequence over the in-memory Azure Blob REST fake:
    every data byte flows through the AdlsBackend wire contract."""
    from tests.test_adls_backend import FakeAzureTransport

    from delta_rs_spark.protocol.storage import AdlsBackend

    fake = FakeAzureTransport()
    register_backend_factory("abfss", lambda uri: AdlsBackend(client=fake))
    try:
        uri = "abfss://fs@sa.dfs.core.windows.net/tables/mor"
        t = _seed(spark, uri, rows=200, nfiles=2)
        assert t.to_df(spark).count() == 200

        res = t.delete(spark, "k = 4")
        assert res["numDeletedRows"] == 20
        assert res["numAddedFiles"] == 0
        assert res["numDeletionVectorsAdded"] == 2

        t2 = DeltaTable(uri)
        assert t2.to_df(spark).count() == 180
        assert t2.to_df(spark).filter("k = 4").count() == 0
        # data files live in the fake blob store; DV descriptors are spec
        # format, every DV in the commit's deletion_vector_*.bin blob
        assert sum(1 for k in fake.blobs if k.endswith(".parquet")) >= 2
        dv_descs = [
            a.deletion_vector for a in t2.add_actions() if a.deletion_vector
        ]
        assert dv_descs and all(d["storageType"] == "u" for d in dv_descs)
        assert any("deletion_vector_" in k for k in fake.blobs)
    finally:
        from delta_rs_spark.protocol.storage import _BACKEND_FACTORIES

        _BACKEND_FACTORIES.pop("abfss", None)


# ---------------------------------------------------------------------------
# Native-remote plane: scheme aliasing + server-side promotion (unit level —
# Spark cannot mount these schemes in this container, so the DataPlane
# contract is pinned directly; a jar-equipped cluster exercises it live)
# ---------------------------------------------------------------------------

from types import SimpleNamespace

from delta_rs_spark.protocol.dataio import NATIVE_SCHEMES_ENV, DataPlane
from delta_rs_spark.protocol.storage import MemoryBackend


def _fake_log(root, backend):
    return SimpleNamespace(table_root=root, backend=backend)


def test_native_scheme_alias_matches_family(monkeypatch):
    """env=s3a (the jar spelling) must make an s3://-normalized root native,
    and every Spark-facing URI must carry the jar spelling."""
    monkeypatch.setenv(NATIVE_SCHEMES_ENV, "s3a")
    dp = DataPlane(_fake_log("s3://bucket/t", MemoryBackend("alias")))
    assert dp.native and dp.remote
    assert dp.scan_root == "s3a://bucket/t"
    assert dp.readable_uri("part-0.parquet") == "s3a://bucket/t/part-0.parquet"
    # round trip at the Spark boundary
    assert dp.canonical_uri("s3a://bucket/t/x") == "s3://bucket/t/x"
    assert dp.spark_uri("s3://bucket/t/x") == "s3a://bucket/t/x"
    # absolute (shallow-clone) paths translate too
    assert dp.readable_uri("s3://other/t/f.parquet") == "s3a://other/t/f.parquet"


def test_native_scheme_canonical_spelling_also_matches(monkeypatch):
    monkeypatch.setenv(NATIVE_SCHEMES_ENV, "gs,abfss")
    dp = DataPlane(_fake_log("gs://bucket/t", MemoryBackend("alias2")))
    assert dp.native and dp.scan_root == "gs://bucket/t"


def test_unmatched_scheme_stays_mirrored(monkeypatch):
    monkeypatch.setenv(NATIVE_SCHEMES_ENV, "s3a")
    dp = DataPlane(_fake_log("gs://bucket/t", MemoryBackend("alias3")))
    assert not dp.native
    assert dp.scan_root != "gs://bucket/t"


def test_native_remote_staging_promotion_is_server_side(monkeypatch):
    """The native-remote write path: stage under the table, list staged
    files via the backend, promote via server-side copy + delete, clean the
    markers — no local filesystem involvement, no payload re-upload."""
    monkeypatch.setenv(NATIVE_SCHEMES_ENV, "memory")
    backend = MemoryBackend("nativestage")
    dp = DataPlane(_fake_log("memory://tbl", backend))
    assert dp.native and dp.remote

    staging = dp.stage_dir("commit")
    assert staging.startswith("memory://tbl/.tmp-commit-")
    backend.put_obj(f"{staging}/part-00000.parquet", b"PAYLOAD")
    backend.put_obj(f"{staging}/_SUCCESS", b"")
    backend.put_obj(f"{staging}/.part-00000.parquet.crc", b"x")

    staged = dp.staged_files(staging)
    assert staged == [f"{staging}/part-00000.parquet"]

    orig_put = MemoryBackend.put_obj
    uploads = []

    def counting_put(self, path, data):
        uploads.append(path)
        return orig_put(self, path, data)

    monkeypatch.setattr(MemoryBackend, "put_obj", counting_put)
    size, mtime_ms = dp.publish_file(staged[0], "part-final.parquet")
    assert size == len(b"PAYLOAD") and mtime_ms > 0
    assert backend.get_obj("memory://tbl/part-final.parquet") == b"PAYLOAD"
    assert not backend.exists(staged[0])
    assert uploads == []  # promotion was copy_obj, not a driver re-upload

    dp.cleanup_stage(staging)
    assert list(backend.list_objs(staging)) == []


def test_mirrored_plane_localizes_absolute_uris(spark):
    """A shallow clone of a memory:// table records ABSOLUTE source uris;
    the clone's mirrored plane must fetch them through the backend instead
    of treating them as log-relative (which would 404)."""
    src_uri = "memory://dataio/clone-src"
    t = _seed(spark, src_uri, rows=100, nfiles=2, dv=False)
    clone = t.shallow_clone("memory://dataio/clone-dst")
    assert clone.to_df(spark).count() == 100
    got = sorted(r.id for r in clone.to_df(spark).filter("k = 7").collect())
    assert got == list(range(7, 100, 10))


def test_copy_obj_contracts():
    """copy_obj: same bytes at dst, src untouched, missing src raises."""
    import os
    import tempfile

    from delta_rs_spark.protocol.storage import LocalFileBackend

    mem = MemoryBackend("copyc")
    mem.put_obj("memory://c/a", b"abc")
    mem.copy_obj("memory://c/a", "memory://c/b")
    assert mem.get_obj("memory://c/b") == b"abc"
    assert mem.get_obj("memory://c/a") == b"abc"
    with pytest.raises(FileNotFoundError):
        mem.copy_obj("memory://c/missing", "memory://c/x")

    loc = LocalFileBackend()
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "a")
        with open(src, "wb") as fh:
            fh.write(b"xyz")
        dst = os.path.join(d, "sub", "b")
        loc.copy_obj(src, dst)
        assert loc.get_obj(dst) == b"xyz"
        assert os.path.exists(src)


def test_deep_clone_memory_backend_and_cross_scheme(spark, tmp_path):
    """DEEP CLONE over the object-store model: same-scheme clones move
    bytes via copy_obj (server-side on a real store); a cross-scheme clone
    (memory:// -> local) falls back to get+put and is equally readable."""
    import os

    src_uri = "memory://dataio/deep-src"
    t = _seed(spark, src_uri, rows=100, nfiles=2, dv=True)
    t.delete(spark, "id % 10 = 3")  # MoR delete: DV file must also copy
    t.update()
    expect = sorted(r.id for r in t.to_df(spark).collect())

    # same scheme: memory -> memory
    c1 = t.deep_clone("memory://dataio/deep-dst")
    assert sorted(r.id for r in c1.to_df(spark).collect()) == expect
    for a in c1.add_actions():
        assert "://" not in a.path  # relative, self-contained

    # cross scheme: memory -> local filesystem
    local = str(tmp_path / "deep-local")
    c2 = t.deep_clone(local)
    assert sorted(r.id for r in c2.to_df(spark).collect()) == expect
    # physically present under the local root
    for a in c2.add_actions():
        assert os.path.exists(os.path.join(local, a.path))
