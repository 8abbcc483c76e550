"""UniForm (Iceberg metadata generation) + the pure-Python Avro layer.

The Avro container files are cross-validated against the Apache Avro JAVA
reference implementation that ships on Spark's classpath
(``org.apache.avro.file.DataFileReader`` via the py4j gateway) — an
independent decoder that rejects any deviation from the container or binary
encoding spec. The Iceberg tree is validated structurally against the public
table-spec v2 and by reconstructing the live file list through the foreign-
reader path (version-hint → metadata.json → manifest list → manifests) and
comparing it with the Delta snapshot.
"""

import io
import json
import os
import struct

import pytest
from pyspark.sql import functions as F

from delta_rs_spark import DeltaTable, write_deltalake
from delta_rs_spark.uniform import avro, iceberg as ub


# ---- avro layer ------------------------------------------------------------

SCHEMA = {
    "type": "record",
    "name": "thing",
    "fields": [
        {"name": "s", "type": "string"},
        {"name": "n", "type": ["null", "long"], "default": None},
        {"name": "b", "type": "bytes"},
        {"name": "xs", "type": {"type": "array", "items": "int"}},
        {"name": "kv", "type": {"type": "map", "values": "long"}},
        {"name": "ok", "type": "boolean"},
        {"name": "r", "type": "double"},
    ],
}
RECORDS = [
    {"s": "héllo", "n": -(2**40), "b": b"\x00\xff", "xs": [1, -2, 3],
     "kv": {"a": 1, "b": -1}, "ok": True, "r": 2.5},
    {"s": "", "n": None, "b": b"", "xs": [], "kv": {}, "ok": False, "r": -0.0},
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_python_round_trip(codec):
    data = avro.write_container(SCHEMA, RECORDS, metadata={"x": "y"}, codec=codec)
    schema, meta, records = avro.read_container(data)
    assert schema == SCHEMA
    assert meta["x"] == b"y"
    assert records == RECORDS


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_java_reference_reader(spark, tmp_path, codec):
    """The Apache Avro Java implementation must accept our files byte-level."""
    p = str(tmp_path / f"t_{codec}.avro")
    with open(p, "wb") as f:
        f.write(avro.write_container(SCHEMA, RECORDS, codec=codec))
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(p), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    out = []
    while reader.hasNext():
        out.append(json.loads(str(reader.next())))
    reader.close()
    assert len(out) == 2
    assert out[0]["s"] == "héllo"
    assert out[0]["n"] == -(2**40)
    assert out[0]["kv"] == {"a": 1, "b": -1}
    assert out[1]["n"] is None and out[1]["ok"] is False


def test_avro_zigzag_longs():
    buf = io.BytesIO()
    for v in (0, -1, 1, 63, -64, 2**62, -(2**62)):
        buf.seek(0), buf.truncate()
        avro.write_long(buf, v)
        buf.seek(0)
        assert avro.read_long(buf) == v


# ---- iceberg schema / bounds ----------------------------------------------

def test_iceberg_schema_and_name_mapping(spark):
    df_schema = spark.createDataFrame(
        [], "id bigint, name string, score double, tags array<string>, "
            "meta struct<a:int,b:string>, d date, ts timestamp"
    ).schema
    sj, last_id = iceberg_ids = ub.iceberg_schema(df_schema)
    names = [f["name"] for f in sj["fields"]]
    assert names == ["id", "name", "score", "tags", "meta", "d", "ts"]
    by_name = {f["name"]: f for f in sj["fields"]}
    assert by_name["id"]["type"] == "long"
    assert by_name["ts"]["type"] == "timestamptz"
    assert by_name["tags"]["type"]["type"] == "list"
    assert by_name["meta"]["type"]["type"] == "struct"
    ids = set()

    def _collect(fields):
        for f in fields:
            ids.add(f["id"])
            t = f["type"]
            if isinstance(t, dict) and t.get("type") == "struct":
                _collect(t["fields"])

    _collect(sj["fields"])
    assert len(ids) == len(ids | {last_id}) and max(ids) <= last_id
    nm = ub.name_mapping(sj)
    assert nm[0] == {"field-id": by_name["id"]["id"], "names": ["id"]}
    struct_entry = next(e for e in nm if e["names"] == ["meta"])
    assert {f["names"][0] for f in struct_entry["fields"]} == {"a", "b"}


def test_bound_bytes_encodings():
    import pyspark.sql.types as T

    assert ub.bound_bytes(7, T.IntegerType()) == struct.pack("<i", 7)
    assert ub.bound_bytes(-(2**40), T.LongType()) == struct.pack("<q", -(2**40))
    assert ub.bound_bytes(1.5, T.DoubleType()) == struct.pack("<d", 1.5)
    assert ub.bound_bytes("ab", T.StringType()) == b"ab"
    assert ub.bound_bytes("2021-03-05", T.DateType()) == struct.pack("<i", 18691)
    ts = ub.bound_bytes("2021-01-01T00:00:00.000Z", T.TimestampType())
    assert struct.unpack("<q", ts)[0] == 1609459200 * 1_000_000
    assert ub.bound_bytes("12.34", T.DecimalType(6, 2)) == (1234).to_bytes(2, "big")
    assert ub.bound_bytes(None, T.IntegerType()) is None


# ---- end-to-end conversion -------------------------------------------------

@pytest.fixture()
def events(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "region.parquet"))


def _metadata_files(uri):
    d = os.path.join(uri, "metadata")
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


def test_enable_and_initial_conversion(spark, tmp_path, events):
    uri = str(tmp_path / "t")
    write_deltalake(spark, events, uri)
    t = DeltaTable(uri)
    t.enable_uniform()
    files = _metadata_files(uri)
    assert "version-hint.text" in files
    assert any(f.endswith(".metadata.json") for f in files)
    assert any(f.startswith("snap-") for f in files)

    md = json.loads(
        open(os.path.join(uri, "metadata", "v1.metadata.json"), "rb").read()
    )
    assert md["format-version"] == 2
    assert md["location"] == uri
    assert md["properties"]["delta-version"] == str(t.version)
    assert json.loads(md["properties"]["schema.name-mapping.default"])
    assert md["current-snapshot-id"] == t.version
    [snap] = md["snapshots"]
    assert snap["summary"]["operation"] == "append"

    # foreign-reader path sees exactly the Delta live set
    ice = {f["path"] for f in t.iceberg_files()}
    delta = {os.path.join(uri, p) for p in t.files()}
    assert ice == delta
    total = sum(f["record_count"] for f in t.iceberg_files())
    assert total == t.to_df(spark).count()


def test_incremental_append_reuses_manifests(spark, tmp_path, events):
    uri = str(tmp_path / "t")
    write_deltalake(spark, events.limit(3).coalesce(1), uri)
    t = DeltaTable(uri)
    t.enable_uniform()
    v1_manifests = {
        m["manifest_path"]
        for m in ub._read_manifest_list(
            ub._Tree(t),
            json.loads(open(os.path.join(uri, "metadata", "v1.metadata.json")).read())[
                "snapshots"
            ][-1]["manifest-list"],
        )
    }
    write_deltalake(spark, events.limit(2).coalesce(1), uri, mode="append")
    t.update()
    md = json.loads(
        open(
            os.path.join(
                uri,
                "metadata",
                f"v{int(open(os.path.join(uri, 'metadata', 'version-hint.text')).read())}.metadata.json",
            )
        ).read()
    )
    assert md["properties"]["delta-version"] == str(t.version)
    snaps = md["snapshots"]
    assert len(snaps) == 2
    assert snaps[-1]["parent-snapshot-id"] == snaps[0]["snapshot-id"]
    cur = ub._read_manifest_list(ub._Tree(t), snaps[-1]["manifest-list"])
    # append: the old manifest is reused untouched, one new manifest added
    assert v1_manifests < {m["manifest_path"] for m in cur}
    assert len(cur) == 2
    assert sum(f["record_count"] for f in t.iceberg_files()) == 5


def test_delete_rewrites_only_affected_manifest(spark, tmp_path, events):
    uri = str(tmp_path / "t")
    write_deltalake(spark, events.limit(3).coalesce(1), uri)
    t = DeltaTable(uri)
    t.enable_uniform()
    write_deltalake(spark, events.limit(2).coalesce(1), uri, mode="append")
    # delete rows from the SECOND file only -> first manifest untouched
    t.update()
    second_batch_key = events.limit(2).collect()[0][0]
    t.delete(spark, f"r_regionkey = {second_batch_key}")
    t.update()
    ice = {f["path"] for f in t.iceberg_files()}
    delta = {os.path.join(uri, p) for p in t.files()}
    assert ice == delta
    assert sum(f["record_count"] for f in t.iceberg_files()) == t.to_df(spark).count()
    hint = int(open(os.path.join(uri, "metadata", "version-hint.text")).read())
    md = json.loads(
        open(os.path.join(uri, "metadata", f"v{hint}.metadata.json")).read()
    )
    assert md["snapshots"][-1]["summary"]["operation"] in ("delete", "overwrite")


def test_partitioned_table_partition_tuples(spark, tmp_path, events):
    uri = str(tmp_path / "t")
    df = events.withColumn("bucket", F.col("r_regionkey") % 2)
    write_deltalake(spark, df, uri, partition_by=["bucket"])
    t = DeltaTable(uri)
    t.enable_uniform()
    md = json.loads(
        open(os.path.join(uri, "metadata", "v1.metadata.json")).read()
    )
    [spec] = md["partition-specs"]
    assert spec["fields"][0]["transform"] == "identity"
    assert spec["fields"][0]["name"] == "bucket"
    assert spec["fields"][0]["field-id"] == 1000
    buckets = {f["partition"]["bucket"] for f in t.iceberg_files()}
    assert buckets == {0, 1}
    # manifest-list partition field summaries (readers prune manifests on a
    # partition predicate without opening them)
    tree = ub._Tree(t)
    [mf] = ub._read_manifest_list(tree, md["snapshots"][-1]["manifest-list"])
    [summary] = mf["partitions"]
    assert summary["contains_null"] is False
    import pyspark.sql.types as T

    fmt = "<q" if isinstance(t.schema()["bucket"].dataType, T.LongType) else "<i"
    assert struct.unpack(fmt, summary["lower_bound"])[0] == 0
    assert struct.unpack(fmt, summary["upper_bound"])[0] == 1


def test_manifests_readable_by_java_avro(spark, tmp_path, events):
    """Manifest + manifest-list files decode under the Java reference impl."""
    uri = str(tmp_path / "t")
    write_deltalake(spark, events.coalesce(1), uri)
    t = DeltaTable(uri)
    t.enable_uniform()
    mdir = os.path.join(uri, "metadata")
    avro_files = [f for f in os.listdir(mdir) if f.endswith(".avro")]
    assert avro_files
    jvm = spark._jvm
    for name in avro_files:
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(os.path.join(mdir, name)),
            jvm.org.apache.avro.generic.GenericDatumReader(),
        )
        recs = []
        while reader.hasNext():
            recs.append(json.loads(str(reader.next())))
        reader.close()
        assert recs
        if name.startswith("snap-"):
            assert recs[0]["manifest_path"].endswith(".avro")
        else:
            e = recs[0]
            assert e["status"] == 1
            assert e["data_file"]["file_format"] == "PARQUET"
            assert e["data_file"]["record_count"] == 5


def test_stats_bounds_round_trip(spark, tmp_path, events):
    uri = str(tmp_path / "t")
    write_deltalake(spark, events.coalesce(1), uri)
    t = DeltaTable(uri)
    t.enable_uniform()
    tree = ub._Tree(t)
    mdir = os.path.join(uri, "metadata")
    manifest = next(
        f for f in os.listdir(mdir)
        if f.endswith(".avro") and not f.startswith("snap-")
    )
    _, _, [entry] = avro.read_container(open(os.path.join(mdir, manifest), "rb").read())
    sj, _ = ub.iceberg_schema(t.schema())
    key_id = next(f["id"] for f in sj["fields"] if f["name"] == "r_regionkey")
    lower = {e["key"]: e["value"] for e in entry["data_file"]["lower_bounds"]}
    upper = {e["key"]: e["value"] for e in entry["data_file"]["upper_bounds"]}
    lo, hi = t.column_min_max("r_regionkey")
    import pyspark.sql.types as T

    fmt = "<q" if isinstance(t.schema()["r_regionkey"].dataType, T.LongType) else "<i"
    assert struct.unpack(fmt, lower[key_id])[0] == lo
    assert struct.unpack(fmt, upper[key_id])[0] == hi


def test_vacuum_expires_iceberg_snapshots(spark, tmp_path, events):
    """Once vacuum reaps data files, the Iceberg snapshots referencing them
    expire: metadata keeps only the current snapshot, orphaned manifest
    lists/manifests are deleted, the current read-back is unaffected."""
    import time

    uri = str(tmp_path / "t")
    write_deltalake(spark, events, uri)
    t = DeltaTable(uri)
    t.enable_uniform()
    write_deltalake(spark, events, uri, mode="overwrite")
    t.update()
    for dirpath, _dirs, files in os.walk(uri):
        for f in files:
            os.utime(os.path.join(dirpath, f), (1, 1))
    for r in t.snapshot.state.tombstones.values():
        r.deletion_timestamp = int((time.time() - 200 * 3600) * 1000)
    avro_before = [
        f for f in os.listdir(os.path.join(uri, "metadata")) if f.endswith(".avro")
    ]
    t.vacuum(retention_hours=168, dry_run=False)
    hint = int(open(os.path.join(uri, "metadata", "version-hint.text")).read())
    md = json.loads(
        open(os.path.join(uri, "metadata", f"v{hint}.metadata.json")).read()
    )
    assert len(md["snapshots"]) == 1
    assert md["snapshots"][0]["snapshot-id"] == md["current-snapshot-id"]
    avro_after = [
        f for f in os.listdir(os.path.join(uri, "metadata")) if f.endswith(".avro")
    ]
    assert len(avro_after) < len(avro_before)
    assert sum(f["record_count"] for f in t.iceberg_files()) == 5


def test_vacuum_expires_only_snapshots_referencing_reaped_files(
    spark, tmp_path, events
):
    """Expiration is targeted: a snapshot whose files are all still live
    keeps its history even when vacuum reaps files other snapshots used."""
    import time

    uri = str(tmp_path / "t")
    lo = events.filter("r_regionkey < 2").coalesce(1)  # fileA
    hi = events.filter("r_regionkey >= 2").coalesce(1)  # fileB
    write_deltalake(spark, lo, uri)
    t = DeltaTable(uri)
    t.enable_uniform()
    write_deltalake(spark, hi, uri, mode="append")
    t.update()
    # rewrite ONLY fileB: the predicate misses every fileA row, so the
    # stats-pruned rewrite set is just fileB
    t.delete(spark, "r_regionkey = 3")
    t.update()
    for dirpath, _dirs, files in os.walk(uri):
        for f in files:
            os.utime(os.path.join(dirpath, f), (1, 1))
    for r in t.snapshot.state.tombstones.values():
        r.deletion_timestamp = int((time.time() - 200 * 3600) * 1000)
    removed = t.vacuum(retention_hours=168, dry_run=False)
    assert removed
    hint = int(open(os.path.join(uri, "metadata", "version-hint.text")).read())
    md = json.loads(
        open(os.path.join(uri, "metadata", f"v{hint}.metadata.json")).read()
    )
    ids = [s["snapshot-id"] for s in md["snapshots"]]
    # snapshot 1 (fileA only — still live) SURVIVES; the middle snapshot
    # (fileA+fileB) referenced reaped fileB and expired; current survives
    assert ids[0] == 1 and len(ids) == 2
    assert sum(f["record_count"] for f in t.iceberg_files()) == t.to_df(spark).count()


def test_sql_property_set_activates_uniform(spark, tmp_path, events):
    """Setting the public property through plain SQL starts conversion via
    the post-commit hook — no bespoke API needed."""
    from delta_rs_spark.sql import sql as dsql

    uri = str(tmp_path / "t")
    write_deltalake(spark, events, uri)
    dsql(
        spark,
        f"ALTER TABLE delta.`{uri}` SET TBLPROPERTIES"
        "('delta.universalFormat.enabledFormats'='iceberg')",
    )
    t = DeltaTable(uri)
    assert sum(f["record_count"] for f in t.iceberg_files()) == 5


def test_vacuum_protects_iceberg_metadata(spark, tmp_path, events):
    """Full vacuum must not reap the (log-unreferenced) Iceberg tree."""
    uri = str(tmp_path / "t")
    write_deltalake(spark, events, uri)
    t = DeltaTable(uri)
    t.enable_uniform()
    write_deltalake(spark, events, uri, mode="overwrite")  # tombstones v1 files
    t.update()
    # age everything (file mtimes AND tombstone clocks) past retention
    import time

    for dirpath, _dirs, files in os.walk(uri):
        for f in files:
            os.utime(os.path.join(dirpath, f), (1, 1))
    for r in t.snapshot.state.tombstones.values():
        r.deletion_timestamp = int((time.time() - 200 * 3600) * 1000)
    candidates = t.vacuum(retention_hours=168, dry_run=True)
    assert candidates, "overwritten data files should be reapable"
    assert not any(c.startswith("metadata/") for c in candidates)
    t.vacuum(retention_hours=168, dry_run=False)
    assert sum(f["record_count"] for f in t.iceberg_files()) == 5


def test_column_mapped_table_uses_physical_aliases(spark, tmp_path, events):
    """On a column-mapped table, stats/partitionValues are keyed physically
    and the parquet files store physical names: bounds must still resolve,
    and the name mapping must alias the physical names to the field ids."""
    uri = str(tmp_path / "t")
    df = events.withColumn("bucket", F.col("r_regionkey") % 2)
    write_deltalake(spark, df, uri, partition_by=["bucket"])
    t = DeltaTable(uri)
    t.set_column_mapping_mode("name")
    t.rename_column("r_name", "region_name")  # physical name stays r_name
    t.enable_uniform()
    # partition tuples resolved through the physical key
    assert {f["partition"]["bucket"] for f in t.iceberg_files()} == {0, 1}
    hint = int(open(os.path.join(uri, "metadata", "version-hint.text")).read())
    md = json.loads(
        open(os.path.join(uri, "metadata", f"v{hint}.metadata.json")).read()
    )
    nm = json.loads(md["properties"]["schema.name-mapping.default"])
    renamed = next(e for e in nm if "region_name" in e["names"])
    assert "r_name" in renamed["names"]  # physical alias present
    # bounds present despite physical stats keys
    mdir = os.path.join(uri, "metadata")
    manifest = sorted(
        f for f in os.listdir(mdir)
        if f.endswith(".avro") and not f.startswith("snap-")
    )[-1]
    _, _, entries = avro.read_container(
        open(os.path.join(mdir, manifest), "rb").read()
    )
    assert any(e["data_file"]["lower_bounds"] for e in entries)


def test_streaming_sink_keeps_iceberg_in_sync(spark, tmp_path, events):
    """foreachBatch sink commits flow through the same transaction path,
    so the post-commit hook mirrors every micro-batch into Iceberg."""
    from delta_rs_spark.streaming.sink import ExactlyOnceDeltaSink

    uri = str(tmp_path / "t")
    write_deltalake(spark, events.limit(2), uri)
    DeltaTable(uri).enable_uniform()
    sink = ExactlyOnceDeltaSink(uri, app_id="uniform-sync-test")
    sink(events.limit(3), epoch_id=0)  # micro-batch append
    t = DeltaTable(uri)
    assert sum(f["record_count"] for f in t.iceberg_files()) == 5
    md_hint = int(open(os.path.join(uri, "metadata", "version-hint.text")).read())
    md = json.loads(
        open(os.path.join(uri, "metadata", f"v{md_hint}.metadata.json")).read()
    )
    assert md["properties"]["delta-version"] == str(t.version)


def test_concurrent_metadata_version_collision_bumps(spark, tmp_path, events):
    """If a racing conversion grabbed v{N}.metadata.json first, the next
    write lands on the next free number instead of overwriting."""
    uri = str(tmp_path / "t")
    write_deltalake(spark, events, uri)
    t = DeltaTable(uri)
    t.enable_uniform()
    # simulate a racer occupying v2 before our next sync
    blocker = os.path.join(uri, "metadata", "v2.metadata.json")
    with open(blocker, "w") as f:
        f.write("{}")
    write_deltalake(spark, events.limit(1), uri, mode="append")
    t.update()
    hint = int(open(os.path.join(uri, "metadata", "version-hint.text")).read())
    assert hint == 3  # bumped past the blocker
    assert open(blocker).read() == "{}"  # the racer's file untouched
    assert sum(f["record_count"] for f in t.iceberg_files()) == 6


def test_optimize_and_restore_stay_in_sync(spark, tmp_path, events):
    """Maintenance rewrites (OPTIMIZE) and history rollbacks (RESTORE) are
    ordinary add/remove commits to the conversion walk: the Iceberg live
    set tracks the Delta snapshot through both."""
    uri = str(tmp_path / "t")
    write_deltalake(spark, events.limit(2).coalesce(1), uri)
    t = DeltaTable(uri)
    t.enable_uniform()
    write_deltalake(spark, events.limit(3).coalesce(1), uri, mode="append")
    t.update()
    v_before_opt = t.version
    t.optimize(spark)  # compaction: remove small files, add one
    t.update()

    def _sync_check():
        ice = sorted(f["path"] for f in t.iceberg_files())
        delta = sorted(t.file_uris())
        assert ice == delta
        assert sum(f["record_count"] for f in t.iceberg_files()) == t.to_df(
            spark
        ).count()

    _sync_check()
    t.restore(v_before_opt)  # roll back to the pre-optimize layout
    t.update()
    _sync_check()
    assert t.to_df(spark).count() == 5


def test_schema_evolution_appends_new_schema_id(spark, tmp_path, events):
    """A Delta schema change appends a NEW Iceberg schema (next id) instead
    of rewriting schema 0 — old snapshots keep referencing the schema they
    were written with, new snapshots reference the new one."""
    uri = str(tmp_path / "t")
    write_deltalake(spark, events.select("r_regionkey", "r_name"), uri)
    t = DeltaTable(uri)
    t.enable_uniform()
    t.add_columns([("score", "double")])
    write_deltalake(
        spark,
        events.select("r_regionkey", "r_name").withColumn("score", F.lit(1.5)),
        uri,
        mode="append",
    )
    t.update()
    hint = int(open(os.path.join(uri, "metadata", "version-hint.text")).read())
    md = json.loads(
        open(os.path.join(uri, "metadata", f"v{hint}.metadata.json")).read()
    )
    assert [s["schema-id"] for s in md["schemas"]] == [0, 1]
    assert md["current-schema-id"] == 1
    names = {s["schema-id"]: [f["name"] for f in s["fields"]] for s in md["schemas"]}
    assert "score" not in names[0] and "score" in names[1]
    first, last = md["snapshots"][0], md["snapshots"][-1]
    assert first["schema-id"] == 0 and last["schema-id"] == 1
    assert sum(f["record_count"] for f in t.iceberg_files()) == 10


def test_uniform_over_memory_backend(spark, tmp_path, events):
    """The whole tree flows through the StorageBackend abstraction — a
    memory:// table (object-store contract) converts, syncs and reads back
    via the same APIs, no local-FS assumptions."""
    import uuid as _u

    from delta_rs_spark.protocol.storage import parse_table_uri
    from delta_rs_spark.uniform import read_file_list

    uri = f"memory://uniform/{_u.uuid4().hex}"
    write_deltalake(spark, events, uri)
    t = DeltaTable(uri)
    t.enable_uniform()
    write_deltalake(spark, events.limit(2), uri, mode="append")
    t.update()
    files = read_file_list(uri)
    assert sum(f["record_count"] for f in files) == 7
    # the metadata objects really live in the memory backend
    root, backend = parse_table_uri(uri)
    hint = backend.get_obj(backend.join(root, "metadata", "version-hint.text"))
    assert int(hint.decode()) >= 1
    assert sorted(f["path"] for f in files) == sorted(t.file_uris())


def test_mapped_table_field_ids_stable_across_rename_and_drop(spark, tmp_path):
    """On a column-mapped table the Iceberg field ids come from the
    never-reused delta.columnMapping.id, so a rename keeps the id and a
    drop does NOT shift later columns onto a dropped column's id (a
    positional scheme would silently re-point readers at the wrong data)."""
    uri = str(tmp_path / "t")
    write_deltalake(
        spark, spark.createDataFrame([(1, "x", 2.5)], "a int, b string, c double"), uri
    )
    t = DeltaTable(uri)
    t.set_column_mapping_mode("name")
    t.enable_uniform()
    sj0, _ = ub.iceberg_schema(t.schema())
    ids0 = {f["name"]: f["id"] for f in sj0["fields"]}

    t.rename_column("b", "b2")
    t.drop_column("b2")
    t.update()
    sj1, _ = ub.iceberg_schema(t.schema())
    ids1 = {f["name"]: f["id"] for f in sj1["fields"]}
    assert ids1["a"] == ids0["a"]
    assert ids1["c"] == ids0["c"]  # positional scheme would give c the old b id
    assert ids0["b"] not in ids1.values()  # dropped id never reused


def test_widening_uniform_lifecycle_matches_duckdb(spark, sf_dir):
    """The certified lifecycle query (widen -> append-beyond-int32 ->
    UniForm -> aggregate + Iceberg row fold) against its DuckDB oracle —
    the same comparison the driver runs."""
    from delta_rs_spark.catalog import QUERIES
    from tests.oracle_compare import compare_query, duckdb_con

    qd = QUERIES["widening_uniform_lifecycle"]
    res = compare_query(
        "widening_uniform_lifecycle",
        qd.spark(spark, sf_dir),
        duckdb_con(sf_dir),
        qd.oracle,
    )
    assert res.ok, res.detail


def test_post_enable_writes_carry_parquet_field_ids(spark, tmp_path, events):
    """Files written after UniForm enablement embed PARQUET:field_id
    matching the Iceberg schema ids (id-resolvable without name mapping);
    DML rewrites carry them too."""
    import pyarrow.parquet as pq

    uri = str(tmp_path / "t")
    write_deltalake(spark, events, uri)
    t = DeltaTable(uri)
    t.enable_uniform()
    write_deltalake(spark, events.limit(2), uri, mode="append")
    t.update()
    t.delete(spark, "r_regionkey = 1")  # copy-on-write rewrite
    t.update()
    sj, _ = ub.iceberg_schema(t.schema())
    expect = {f["name"]: str(f["id"]).encode() for f in sj["fields"]}
    newest = max(
        (a for a in t.add_actions()),
        key=lambda a: a.modification_time or 0,
    )
    s = pq.read_schema(os.path.join(uri, newest.path))
    for name in s.names:
        md = dict(s.field(name).metadata or {})
        assert md.get(b"PARQUET:field_id") == expect[name], name


# UniForm that keeps the table's deletion vectors, mirrored as Iceberg
# position deletes: both properties in one call (IcebergCompat otherwise
# turns DVs off)
_UNIFORM_KEEPING_DVS = {
    "delta.universalFormat.enabledFormats": "iceberg",
    "delta.enableDeletionVectors": "true",
}


def _dv_table(spark, tmp_path, events):
    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        events.coalesce(1),
        uri,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    return uri, DeltaTable(uri)


def test_dv_delete_emits_iceberg_position_deletes(spark, tmp_path, events):
    """A merge-on-read DELETE (deletion-vector commit) mirrors into an
    Iceberg v2 position-delete file: content=1 manifest, reserved field-ids
    in the parquet, referenced-path bounds, and logical row counts agree."""
    import pyarrow.parquet as pq
    from delta_rs_spark.uniform import read_delete_files

    uri, t = _dv_table(spark, tmp_path, events)
    t.set_properties(_UNIFORM_KEEPING_DVS)
    t.delete(spark, "r_regionkey IN (1, 3)")  # MoR: DV commit, no rewrite
    t.update()
    assert any(a.deletion_vector for a in t.add_actions())  # really MoR

    dels = read_delete_files(uri)
    assert len(dels) == 1
    [d] = dels
    assert d["record_count"] == 2
    assert d["target"].endswith(".parquet")
    # the delete parquet itself: reserved field ids + sorted positions
    s = pq.read_schema(d["path"])
    assert dict(s.field("file_path").metadata)[b"PARQUET:field_id"] == b"2147483546"
    assert dict(s.field("pos").metadata)[b"PARQUET:field_id"] == b"2147483545"
    md = pq.ParquetFile(d["path"]).metadata
    assert {md.row_group(0).column(i).compression for i in range(2)} == {"ZSTD"}
    tab = pq.read_table(d["path"])
    poss = tab.column("pos").to_pylist()
    assert poss == sorted(poss) and len(poss) == 2
    assert set(tab.column("file_path").to_pylist()) == {d["target"]}
    # logical census through the Iceberg tree == Delta's answer
    data_rows = sum(f["record_count"] for f in t.iceberg_files())
    assert data_rows - d["record_count"] == t.to_df(spark).count() == 3


def test_dv_swap_purges_stale_position_deletes(spark, tmp_path, events):
    """A second MoR delete swaps the file's DV: the old delete entry must
    vanish and the new one carry the union of positions."""
    from delta_rs_spark.uniform import read_delete_files

    uri, t = _dv_table(spark, tmp_path, events)
    t.set_properties(_UNIFORM_KEEPING_DVS)
    t.delete(spark, "r_regionkey = 1")
    t = DeltaTable(uri)
    t.delete(spark, "r_regionkey = 3")
    t.update()
    dels = read_delete_files(uri)
    assert len(dels) == 1  # stale entry for the old DV is gone
    assert dels[0]["record_count"] == 2  # merged bitmap: both deletes
    data_rows = sum(f["record_count"] for f in t.iceberg_files())
    assert data_rows - 2 == t.to_df(spark).count() == 3


def test_convert_iceberg_with_deletes_to_delta(spark, tmp_path, events):
    """Iceberg position deletes convert back into Delta deletion vectors:
    the round trip preserves LOGICAL rows (deleted rows stay deleted)."""
    import shutil

    from delta_rs_spark.uniform import convert_iceberg_to_delta

    uri, t = _dv_table(spark, tmp_path, events)
    t.set_properties(_UNIFORM_KEEPING_DVS)
    t.delete(spark, "r_regionkey IN (0, 2)")
    t.update()
    expected = sorted(r["r_regionkey"] for r in t.to_df(spark).collect())
    shutil.rmtree(os.path.join(uri, "_delta_log"))

    t2 = convert_iceberg_to_delta(spark, uri)
    dvs = [a.deletion_vector for a in t2.add_actions() if a.deletion_vector]
    # one-row position deletes too go to the conversion's one .bin
    assert dvs and {d["storageType"] for d in dvs} == {"u"}
    assert len({d["pathOrInlineDv"] for d in dvs}) == 1
    assert "deletionVectors" in (t2.snapshot.state.reader_features or [])
    got = sorted(r["r_regionkey"] for r in t2.to_df(spark).collect())
    assert got == expected


def test_field_ids_all_levels_or_nothing(spark, tmp_path):
    """Stamping is all-or-nothing: nested struct fields get ids too (a
    partially-id'd file would make Iceberg readers NULL the id-less
    fields), and schemas containing arrays/maps skip stamping entirely and
    stay on the name-mapping path."""
    import glob

    import pyarrow.parquet as pq

    # struct schema: every level stamped
    uri = str(tmp_path / "s")
    df = spark.createDataFrame([(1, (2, "x"))], "a int, s struct<b:int,c:string>")
    write_deltalake(spark, df, uri)
    t = DeltaTable(uri)
    t.enable_uniform()
    write_deltalake(spark, df, uri, mode="append")
    t.update()
    newest = max(t.add_actions(), key=lambda a: a.modification_time or 0)
    pf = pq.ParquetFile(os.path.join(uri, newest.path))
    text = str(pf.schema)
    # a, s, s.b, s.c all id'd (root group prints field_id=-1 — ignore it)
    for fid in ("field_id=1 ", "field_id=2 ", "field_id=3 ", "field_id=4 "):
        assert fid in text, text

    # array schema: no stamping at all (element ids are inexpressible)
    uri2 = str(tmp_path / "arr")
    df2 = spark.createDataFrame([(1, ["x"])], "a int, xs array<string>")
    write_deltalake(spark, df2, uri2)
    t2 = DeltaTable(uri2)
    t2.enable_uniform()
    write_deltalake(spark, df2, uri2, mode="append")
    t2.update()
    newest2 = max(t2.add_actions(), key=lambda a: a.modification_time or 0)
    import re

    text2 = str(pq.ParquetFile(os.path.join(uri2, newest2.path)).schema)
    assert not re.search(r"field_id=[0-9]", text2), text2  # only -1 (absent)


def test_field_ids_stamped_against_evolved_schema(spark, tmp_path):
    """A mergeSchema-evolving append stamps the POST-commit schema: the new
    column must carry an id too (an id-less column in an id'd file reads
    as absent to Iceberg)."""
    import pyarrow.parquet as pq

    uri = str(tmp_path / "t")
    write_deltalake(spark, spark.createDataFrame([(1,)], "a int"), uri)
    t = DeltaTable(uri)
    t.enable_uniform()
    write_deltalake(
        spark,
        spark.createDataFrame([(2, 0.5)], "a int, score double"),
        uri,
        mode="append",
        schema_mode="merge",
    )
    t.update()
    newest = max(t.add_actions(), key=lambda a: a.modification_time or 0)
    s = pq.read_schema(os.path.join(uri, newest.path))
    assert b"PARQUET:field_id" in (s.field("a").metadata or {})
    assert b"PARQUET:field_id" in (s.field("score").metadata or {})


def test_convert_iceberg_to_delta_round_trip(spark, tmp_path, events):
    """Delta -> UniForm Iceberg -> (drop the Delta log) -> CONVERT TO DELTA:
    rows, partition values, and per-file stats survive the round trip with
    zero data movement — everything reconstructed from the Iceberg tree."""
    import shutil

    from delta_rs_spark.uniform import convert_iceberg_to_delta

    uri = str(tmp_path / "t")
    df = events.withColumn("bucket", F.col("r_regionkey") % 2)
    write_deltalake(spark, df, uri, partition_by=["bucket"])
    t = DeltaTable(uri)
    t.enable_uniform()
    expected = sorted(
        (r["r_regionkey"], r["bucket"]) for r in t.to_df(spark).collect()
    )
    shutil.rmtree(os.path.join(uri, "_delta_log"))

    t2 = convert_iceberg_to_delta(spark, uri)
    assert t2.version == 0
    assert t2.metadata().partition_columns == ["bucket"]
    got = sorted((r["r_regionkey"], r["bucket"]) for r in t2.to_df(spark).collect())
    assert got == expected
    # stats survived: metadata-only count + min/max, and file skipping works
    assert t2.count_rows() == len(expected)
    lo, hi = t2.column_min_max("r_regionkey")
    assert (lo, hi) == (min(x for x, _ in expected), max(x for x, _ in expected))
    assert t2.history()[0]["operationParameters"]["sourceFormat"] == "iceberg"
    # partition pruning through the reconstructed partitionValues
    assert (
        t2.to_df(spark, partition_filters=[("bucket", "=", "0")]).count()
        == sum(1 for _, b in expected if b == 0)
    )


def test_convert_iceberg_via_sql(spark, tmp_path, events):
    import shutil

    from delta_rs_spark.sql import sql as dsql

    uri = str(tmp_path / "t")
    write_deltalake(spark, events, uri)
    DeltaTable(uri).enable_uniform()
    shutil.rmtree(os.path.join(uri, "_delta_log"))
    res = dsql(spark, f"CONVERT TO DELTA iceberg.`{uri}`").collect()[0]
    assert res["sourceFormat"] == "iceberg"
    assert DeltaTable(uri).to_df(spark).count() == 5


def test_adoption_flow_convert_then_reenable_uniform(spark, tmp_path, events):
    """The full adoption journey: Iceberg-only table -> CONVERT TO DELTA ->
    enable UniForm again. The old tree has no delta-version watermark, so
    the first conversion rebuilds (fresh metadata version past the existing
    files), and later commits sync incrementally."""
    import shutil

    from delta_rs_spark.uniform import convert_iceberg_to_delta

    uri = str(tmp_path / "t")
    write_deltalake(spark, events, uri)
    DeltaTable(uri).enable_uniform()
    shutil.rmtree(os.path.join(uri, "_delta_log"))  # now a foreign Iceberg table

    t = convert_iceberg_to_delta(spark, uri)
    t.enable_uniform()  # rebuild over the foreign tree
    hint1 = int(open(os.path.join(uri, "metadata", "version-hint.text")).read())
    md = json.loads(
        open(os.path.join(uri, "metadata", f"v{hint1}.metadata.json")).read()
    )
    assert md["properties"]["delta-version"] == str(t.version)
    write_deltalake(spark, events.limit(1), uri, mode="append")
    t.update()
    hint2 = int(open(os.path.join(uri, "metadata", "version-hint.text")).read())
    assert hint2 > hint1  # incremental sync advanced the tree
    assert sum(f["record_count"] for f in t.iceberg_files()) == 6


def test_convert_iceberg_refuses_existing_delta(spark, tmp_path, events):
    from delta_rs_spark.uniform import convert_iceberg_to_delta
    from delta_rs_spark.writer import TableAlreadyExistsError

    uri = str(tmp_path / "t")
    write_deltalake(spark, events, uri)
    DeltaTable(uri).enable_uniform()
    with pytest.raises(TableAlreadyExistsError):
        convert_iceberg_to_delta(spark, uri)


def test_uniform_survives_conversion_gap(spark, tmp_path, events):
    """Deleting version-hint (simulated partial/corrupt tree) -> next commit
    rebuilds a fresh full conversion rather than failing the Delta write."""
    uri = str(tmp_path / "t")
    write_deltalake(spark, events.limit(3), uri)
    t = DeltaTable(uri)
    t.enable_uniform()
    os.remove(os.path.join(uri, "metadata", "version-hint.text"))
    write_deltalake(spark, events.limit(1), uri, mode="append")
    t.update()
    assert sum(f["record_count"] for f in t.iceberg_files()) == 4


def test_reorg_purge_syncs_iceberg_deletes_away(spark, tmp_path, events):
    """REORG APPLY (PURGE) materializes the DVs; the Iceberg mirror must
    drop BOTH the purged data files and their position-delete entries —
    a stale delete manifest would make foreign readers subtract rows from
    a file that no longer exists."""
    from delta_rs_spark.uniform import read_delete_files

    uri, t = _dv_table(spark, tmp_path, events)
    t.set_properties(_UNIFORM_KEEPING_DVS)
    t.delete(spark, "r_regionkey IN (1, 3)")  # MoR: DV commit
    t = DeltaTable(uri)
    assert len(read_delete_files(uri)) == 1

    t.reorg_purge(spark)
    t.update()
    assert not any(a.deletion_vector for a in t.add_actions())
    # position deletes gone from the Iceberg tree; census matches exactly
    assert read_delete_files(uri) == []
    data_rows = sum(f["record_count"] for f in t.iceberg_files())
    assert data_rows == t.to_df(spark).count() == 3


def test_deep_clone_of_uniform_table_regenerates_tree(spark, tmp_path):
    """A deep clone carries delta.universalFormat config but not the
    metadata/ tree (Iceberg paths are absolute — copying would point at the
    source). The clone's next commit must regenerate a complete tree whose
    census matches."""
    src = str(tmp_path / "src")
    write_deltalake(spark, spark.range(10).coalesce(1).selectExpr("id"), src)
    t = DeltaTable(src)
    t.enable_uniform()
    t.update()
    dst = str(tmp_path / "dst")
    clone = t.deep_clone(dst)
    assert (
        clone.metadata().configuration["delta.universalFormat.enabledFormats"]
        == "iceberg"
    )
    write_deltalake(
        spark, spark.range(10, 15).coalesce(1).selectExpr("id"), dst, mode="append"
    )
    clone = DeltaTable(dst)
    assert sum(f["record_count"] for f in clone.iceberg_files()) == 15
    assert clone.to_df(spark).count() == 15
