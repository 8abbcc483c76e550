"""GcsBackend contract tests via an in-memory GCS JSON-API fake (no network).

The reference engine has no GCS backend at all (its README tracks it as
open issue #56), so this surface is parity-plus: same read contract as the
other object stores (head/get/list with 404→NotFound), same lock-free
atomic commit via GCS's native ``ifGenerationMatch=0`` conditional upload
(HTTP 412 on conflict). The fake transport pins the JSON-API wire contract
(object-as-one-path-segment encoding, alt=media, pageToken pagination,
precondition status mapping); a golden-table test replays one of the
reference's own fixture logs through ``gs://`` end to end, and a lifecycle
test runs write → merge-on-read DELETE → read-back over the mirrored data
plane.
"""

from __future__ import annotations

import json
import os

import pytest

from delta_rs_spark.protocol.storage import (
    FileAlreadyExistsError,
    GcsBackend,
    parse_table_uri,
    register_backend_factory,
)

URI = "gs://bkt/tables/t1"


class FakeGcsTransport:
    """In-memory bucket speaking the subset of the GCS JSON API the backend
    uses. Records every request for wire-contract assertions."""

    def __init__(self):
        self.objects: dict[str, bytes] = {}  # "bucket/key" -> data
        self.requests: list[tuple[str, str]] = []
        self.page_size = 2  # tiny pages to force pageToken pagination

    def request(self, method, url, headers, body):
        self.requests.append((method, url))
        from urllib.parse import parse_qs, unquote, urlparse

        parsed = urlparse(url)
        assert parsed.netloc == "storage.googleapis.com", url
        assert " " not in parsed.path, f"unencoded space in URL path: {url}"
        qs = parse_qs(parsed.query)

        if parsed.path.startswith("/upload/storage/v1/b/"):
            bucket = parsed.path.split("/")[5]
            key = unquote(qs["name"][0])
            full = f"{bucket}/{key}"
            if qs.get("ifGenerationMatch") == ["0"] and full in self.objects:
                return 412, {}, b'{"error": {"code": 412}}'
            self.objects[full] = body or b""
            return 200, {}, json.dumps({"name": key, "size": str(len(body or b""))}).encode()

        if "/rewriteTo/b/" in parsed.path:
            # /storage/v1/b/<sb>/o/<sk>/rewriteTo/b/<db>/o/<dk> — server-side
            p = parsed.path.split("/")
            src = f"{p[4]}/{unquote(p[6])}"
            dst = f"{p[9]}/{unquote(p[11])}"
            assert method == "POST"
            if src not in self.objects:
                return 404, {}, b""
            self.objects[dst] = self.objects[src]
            return 200, {}, json.dumps(
                {"done": True, "resource": {"name": unquote(p[11])}}
            ).encode()

        parts = parsed.path.split("/")  # /storage/v1/b/<bucket>/o[/<object>]
        bucket = parts[4]
        if len(parts) == 6 and parts[5] == "o":  # list
            prefix = unquote(qs.get("prefix", [""])[0])
            token = unquote(qs.get("pageToken", [""])[0])
            names = sorted(
                k.split("/", 1)[1]
                for k in self.objects
                if k.startswith(f"{bucket}/") and k.split("/", 1)[1].startswith(prefix)
            )
            if token:
                names = [n for n in names if n > token]
            page, rest = names[: self.page_size], names[self.page_size :]
            out = {
                "items": [
                    {
                        "name": n,
                        "size": str(len(self.objects[f"{bucket}/{n}"])),
                        "updated": "2023-11-14T22:13:20Z",
                    }
                    for n in page
                ]
            }
            if rest:
                out["nextPageToken"] = page[-1]
            return 200, {}, json.dumps(out).encode()

        key = unquote(parts[6])  # single path segment, fully encoded
        assert "/" not in parts[6], f"object not single-segment-encoded: {url}"
        full = f"{bucket}/{key}"
        if method == "GET" and qs.get("alt") == ["media"]:
            if full not in self.objects:
                return 404, {}, b""
            return 200, {}, self.objects[full]
        if method == "GET":  # metadata
            if full not in self.objects:
                return 404, {}, b""
            return 200, {}, json.dumps(
                {
                    "name": key,
                    "size": str(len(self.objects[full])),
                    "updated": "2023-11-14T22:13:20Z",
                }
            ).encode()
        if method == "DELETE":
            if full not in self.objects:
                return 404, {}, b""
            del self.objects[full]
            return 204, {}, b""
        raise AssertionError(f"unexpected request {method} {url}")


@pytest.fixture()
def gcs():
    fake = FakeGcsTransport()
    return GcsBackend(client=fake), fake


def test_split_and_head_get_404(gcs):
    backend, fake = gcs
    assert backend._split("gs://bkt/foo/bar") == ("bkt", "foo/bar")
    with pytest.raises(ValueError):
        backend._split("s3://bucket/key")
    fake.objects["bkt/tables/t1/_delta_log/00000000000000000000.json"] = b"{}\n"
    meta = backend.head_obj(f"{URI}/_delta_log/00000000000000000000.json")
    assert meta.size == 3
    assert meta.modification_time == 1700000000.0
    assert backend.get_obj(f"{URI}/_delta_log/00000000000000000000.json") == b"{}\n"
    with pytest.raises(FileNotFoundError):
        backend.head_obj(f"{URI}/_delta_log/missing.json")
    with pytest.raises(FileNotFoundError):
        backend.get_obj(f"{URI}/_delta_log/missing.json")


def test_list_paginates_with_page_tokens(gcs):
    backend, fake = gcs
    for i in range(5):
        fake.objects[f"bkt/tables/t1/_delta_log/{i:020d}.json"] = b"x"
    names = [m.path.rsplit("/", 1)[-1] for m in backend.list_objs(f"{URI}/_delta_log")]
    assert names == [f"{i:020d}.json" for i in range(5)]
    list_calls = [u for m, u in fake.requests if "prefix=" in u]
    assert len(list_calls) == 3  # 2+2+1 under page_size=2
    assert "pageToken=" in list_calls[1]


def test_generation_zero_is_the_commit_point(gcs):
    backend, fake = gcs
    src = f"{URI}/_delta_log/_commit_abc.json.tmp"
    dst = f"{URI}/_delta_log/00000000000000000001.json"
    fake.objects["bkt/tables/t1/_delta_log/_commit_abc.json.tmp"] = b"commit"
    backend.rename_obj_noreplace(src, dst)
    assert fake.objects["bkt/tables/t1/_delta_log/00000000000000000001.json"] == b"commit"
    assert "bkt/tables/t1/_delta_log/_commit_abc.json.tmp" not in fake.objects
    put = next(u for m, u in fake.requests if m == "POST" and "1.json" in u)
    assert "ifGenerationMatch=0" in put  # the atomicity guarantee


def test_conflict_keeps_src_and_winner(gcs):
    backend, fake = gcs
    src = f"{URI}/_delta_log/_commit_def.json.tmp"
    dst = f"{URI}/_delta_log/00000000000000000001.json"
    fake.objects["bkt/tables/t1/_delta_log/_commit_def.json.tmp"] = b"mine"
    fake.objects["bkt/tables/t1/_delta_log/00000000000000000001.json"] = b"winner"
    with pytest.raises(FileAlreadyExistsError):
        backend.rename_obj_noreplace(src, dst)
    assert fake.objects["bkt/tables/t1/_delta_log/_commit_def.json.tmp"] == b"mine"
    assert fake.objects["bkt/tables/t1/_delta_log/00000000000000000001.json"] == b"winner"


def test_special_char_keys_roundtrip(gcs):
    backend, fake = gcs
    key = f"{URI}/city=New York/part-00000 (1).parquet"
    backend.put_obj(key, b"data")
    assert fake.objects["bkt/tables/t1/city=New York/part-00000 (1).parquet"] == b"data"
    assert backend.get_obj(key) == b"data"
    assert backend.head_obj(key).size == 4
    backend.put_obj(f"{URI}/city=New York/a 1", b"x")
    backend.put_obj(f"{URI}/city=New York/a 2", b"y")
    assert len(list(backend.list_objs(f"{URI}/city=New York"))) == 3
    backend.delete_obj(key)
    assert not backend.exists(key)


def test_parse_table_uri_gs_scheme(monkeypatch):
    monkeypatch.setenv("GCS_OAUTH_TOKEN", "tok")
    root, backend = parse_table_uri("gs://bkt/tables/t1/")
    assert root == "gs://bkt/tables/t1"
    assert isinstance(backend, GcsBackend)


GOLDEN = "/root/reference/rust/tests/data/simple_table"


def test_golden_log_replay_through_gs(gcs):
    """The reference's own simple_table log served over the mocked GCS
    backend: version, active file set, and protocol must match the local
    golden read."""
    backend, fake = gcs
    for dirpath, _dirs, files in os.walk(os.path.join(GOLDEN, "_delta_log")):
        for fname in files:
            full = os.path.join(dirpath, fname)
            rel = os.path.relpath(full, GOLDEN).replace(os.sep, "/")
            with open(full, "rb") as fh:
                fake.objects[f"bkt/tables/t1/{rel}"] = fh.read()

    register_backend_factory("gs", lambda uri: GcsBackend(client=fake))
    try:
        from delta_rs_spark.table import DeltaTable

        t = DeltaTable(URI)
        local = DeltaTable(GOLDEN)
        assert t.version == local.version
        assert sorted(t.files()) == sorted(local.files())
        assert t.protocol_versions() == local.protocol_versions()
    finally:
        from delta_rs_spark.protocol.storage import _BACKEND_FACTORIES

        _BACKEND_FACTORIES.pop("gs", None)


def test_mocked_gs_mor_delete_lifecycle(spark):
    """Full lifecycle over gs://: write, merge-on-read DELETE, read-back —
    every data byte through the GCS wire contract + mirrored data plane."""
    from delta_rs_spark import DeltaTable
    from delta_rs_spark.writer import write_deltalake

    fake = FakeGcsTransport()
    register_backend_factory("gs", lambda uri: GcsBackend(client=fake))
    try:
        uri = "gs://bkt/tables/mor"
        df = spark.range(0, 200).selectExpr("id", "id % 10 as k")
        write_deltalake(
            spark,
            df.repartition(2),
            uri,
            configuration={"delta.enableDeletionVectors": "true"},
        )
        t = DeltaTable(uri)
        res = t.delete(spark, "k = 4")
        assert res["numDeletedRows"] == 20
        assert res["numAddedFiles"] == 0
        t2 = DeltaTable(uri)
        assert t2.to_df(spark).count() == 180
        assert t2.to_df(spark).filter("k = 4").count() == 0
        # spec descriptors: every DV in the commit's shared
        # deletion_vector_<uuid>.bin object in the fake bucket
        dv_descs = [
            a.deletion_vector for a in t2.add_actions() if a.deletion_vector
        ]
        assert dv_descs and all(d["storageType"] == "u" for d in dv_descs)
        assert any("deletion_vector_" in k for k in fake.objects)
    finally:
        from delta_rs_spark.protocol.storage import _BACKEND_FACTORIES

        _BACKEND_FACTORIES.pop("gs", None)


def test_copy_obj_is_server_side_rewrite():
    fake = FakeGcsTransport()
    b = GcsBackend(client=fake)
    b.put_obj("gs://bkt/t/.tmp/part-0.parquet", b"PAYLOAD")
    fake.requests.clear()
    b.copy_obj("gs://bkt/t/.tmp/part-0.parquet", "gs://bkt/t/part-final.parquet")
    # exactly one rewrite call, no media upload/download round trips
    assert [m for m, _ in fake.requests] == ["POST"]
    assert "/rewriteTo/b/" in fake.requests[0][1]
    assert b.get_obj("gs://bkt/t/part-final.parquet") == b"PAYLOAD"
    with pytest.raises(FileNotFoundError):
        b.copy_obj("gs://bkt/t/missing", "gs://bkt/t/x")
