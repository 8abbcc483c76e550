"""Spec deletion-vector format: Z85, portable RoaringBitmap, file framing.

Pins the public Delta DV representation (protocol/dv.py) with round-trip
and format-shape tests, including the public Z85 test vector, so a
conformant foreign reader would decode exactly what this engine writes.
"""

from __future__ import annotations

import struct
import uuid

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from delta_rs_spark.protocol import dv


def test_z85_public_test_vector():
    # the Z85 spec's own test case: bytes 86 4F D2 6F B5 59 F7 5B -> "HelloWorld"
    data = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert dv.z85_encode(data) == "HelloWorld"
    assert dv.z85_decode("HelloWorld") == data


@given(st.binary(min_size=0, max_size=64).map(lambda b: b + b"\x00" * ((-len(b)) % 4)))
def test_z85_roundtrip(data):
    assert dv.z85_decode(dv.z85_encode(data)) == data


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40),
        min_size=0,
        max_size=500,
    )
)
@settings(max_examples=50, deadline=None)
def test_roaring64_roundtrip(positions):
    blob = dv.serialize_roaring64(positions)
    assert dv.deserialize_roaring64(blob) == sorted(set(positions))


def test_roaring_bitset_container_roundtrip():
    # > 4096 values in one 16-bit container forces the 8KB bitset encoding
    positions = list(range(0, 10000, 2))
    blob = dv.serialize_roaring64(positions)
    assert dv.deserialize_roaring64(blob) == positions
    (cookie,) = struct.unpack_from("<I", blob, 12)  # after count+high key
    assert cookie == 12346  # no-run cookie


def test_roaring_run_container_decodes():
    """Foreign writers may emit run containers (cookie 12347): build one by
    hand and confirm the reader expands it."""
    # one container, run flag set, runs [5..9] and [100..102]
    body = struct.pack("<I", (12347 & 0xFFFF) | (0 << 16))  # 1 container
    body += bytes([0x01])  # run flag bitset
    body += struct.pack("<HH", 0, 8 - 1)  # key 0, cardinality 8
    body += struct.pack("<H", 2)  # 2 runs
    body += struct.pack("<HH", 5, 4)  # 5 + 4 more = 5..9
    body += struct.pack("<HH", 100, 2)  # 100..102
    blob = struct.pack("<Q", 1) + struct.pack("<I", 0) + body
    assert dv.deserialize_roaring64(blob) == [5, 6, 7, 8, 9, 100, 101, 102]


def test_multi_bucket_64bit_positions():
    positions = [3, 2**32 + 1, 2**33 + 7, 5]
    assert dv.deserialize_roaring64(dv.serialize_roaring64(positions)) == sorted(positions)


def test_file_framing_and_read_back():
    sets = [[1, 2, 3], list(range(5000)), [9]]
    body, blobs = dv.frame_dv_file(sets)
    assert body[0] == dv.DV_FORMAT_VERSION
    for positions, blob in zip(sets, blobs):
        got = dv.read_dv_at(body, blob.offset, len(blob.data))
        assert got == sorted(set(positions))
        assert blob.cardinality == len(set(positions))


def test_frame_checksum_detects_corruption():
    body, blobs = dv.frame_dv_file([[1, 2, 3]])
    corrupted = bytearray(body)
    corrupted[10] ^= 0xFF
    with pytest.raises(ValueError, match="checksum|magic|dataSize"):
        dv.read_dv_at(bytes(corrupted), blobs[0].offset, len(blobs[0].data))


def test_uuid_path_derivation_roundtrip():
    encoded, rel = dv.make_descriptor_uuid()
    assert len(encoded) == 20
    assert dv.dv_file_rel_path(encoded) == rel
    # a prefixed pathOrInlineDv keeps the prefix as a directory
    u = uuid.uuid4()
    enc = dv.z85_encode(u.bytes)
    assert dv.dv_file_rel_path(f"ab/{enc}") == f"ab/deletion_vector_{u}.bin"


def test_build_descriptors_files_small_and_large():
    """A 3-position DV and a 20k-position DV share the commit's one .bin,
    each at its own offset; no descriptor carries its bitmap."""
    per_file = {
        "part-a.parquet": [1, 5, 7],
        "part-b.parquet": list(range(0, 60000, 3)),
    }
    descriptors, file_out = dv.build_descriptors(per_file)
    a, b = descriptors["part-a.parquet"], descriptors["part-b.parquet"]
    assert a["storageType"] == b["storageType"] == "u"
    assert a["pathOrInlineDv"] == b["pathOrInlineDv"]
    assert len(a["pathOrInlineDv"]) == 20
    assert a["offset"] == 1 and b["offset"] > a["offset"]
    assert (a["cardinality"], b["cardinality"]) == (3, 20000)
    assert file_out is not None
    rel_name, body = file_out
    assert rel_name == dv.dv_file_rel_path(b["pathOrInlineDv"])

    store = {rel_name: body}
    assert dv.decode_descriptor(a, store.__getitem__) == [1, 5, 7]
    assert dv.decode_descriptor(b, store.__getitem__) == list(range(0, 60000, 3))


def test_build_descriptors_writes_a_file_only_for_dvs():
    assert dv.build_descriptors({}) == ({}, None)
    descriptors, file_out = dv.build_descriptors({"p": [2, 4]})
    assert file_out is not None
    assert descriptors["p"]["storageType"] == "u"
    assert dv.decode_descriptor(descriptors["p"], {file_out[0]: file_out[1]}.__getitem__) == [2, 4]


def test_legacy_descriptor_detection():
    assert dv.is_legacy({"storageType": "d", "paths": ["x"]})
    assert not dv.is_legacy({"storageType": "u"})
    assert dv.is_spec({"storageType": "u"})
    assert dv.is_spec({"storageType": "i"})
    assert not dv.is_spec({"storageType": "d"})


def test_roaring_array_bitset_boundary_at_4096():
    """Roaring spec: cardinality <= 4096 is an ARRAY container. A bitset at
    exactly 4096 would be misdecoded (by us AND external readers)."""
    from delta_rs_spark.protocol.dv import (
        deserialize_roaring64,
        serialize_roaring64,
    )

    # every other value: one run per value, so never a run container
    for card in (4095, 4096, 4097):
        pos = list(range(0, 2 * card, 2))
        assert deserialize_roaring64(serialize_roaring64(pos)) == pos
    # exact-4096 serializes as an array: 2 bytes per value, not an 8KB bitset
    data = serialize_roaring64(list(range(0, 8192, 2)))
    assert len(data) < 8500
    assert len(serialize_roaring64(list(range(0, 8194, 2)))) > 8192


def test_roaring_offset_header_points_at_container_data():
    """External readers seek via the offset header; each offset must point
    at the container's actual byte position."""
    import struct

    from delta_rs_spark.protocol.dv import serialize_roaring64

    # two containers in one high-32 bucket: 100-value array + 50-value
    # array (every other value, so no run container is smaller)
    pos = list(range(0, 200, 2)) + [65536 + 2 * i for i in range(50)]
    r32 = serialize_roaring64(pos)[12:]  # skip bucket count + high key
    cookie, k = struct.unpack_from("<II", r32, 0)
    assert (cookie, k) == (12346, 2)
    offsets = [struct.unpack_from("<I", r32, 8 + 4 * k + 4 * i)[0] for i in range(k)]
    data_start = 8 + 8 * k
    assert offsets == [data_start, data_start + 200]  # 100 uint16 = 200 bytes
    # and the bytes AT the first offset are the first container's values
    vals = struct.unpack_from("<5H", r32, offsets[0])
    assert list(vals) == [0, 2, 4, 6, 8]


def test_roaring_run_layout_header_and_offsets():
    """With a run container the header is the run cookie carrying the
    container count, a run-flag bitset, the descriptive header, and an
    offset header only at 4 or more containers; each offset points at its
    container's data."""
    from delta_rs_spark.protocol.dv import deserialize_roaring64, serialize_roaring64

    # runs in containers 0, 1 and 2; container 3 is a 5-value array
    pos = (
        list(range(100))
        + list(range(65536, 65586))
        + [131072 + i for i in (0, 1, 2, 3, 10, 11)]
        + [196608 + 2 * i for i in range(5)]
    )
    r32 = serialize_roaring64(pos)[12:]
    assert deserialize_roaring64(serialize_roaring64(pos)) == pos
    (cookie,) = struct.unpack_from("<I", r32, 0)
    assert cookie & 0xFFFF == 12347 and (cookie >> 16) + 1 == 4
    assert r32[4] == 0b0111  # run flags: containers 0-2
    headers = [struct.unpack_from("<HH", r32, 5 + 4 * i) for i in range(4)]
    assert headers == [(0, 99), (1, 49), (2, 5), (3, 4)]
    offsets = [struct.unpack_from("<I", r32, 21 + 4 * i)[0] for i in range(4)]
    # run data: a count, then (start, length - 1) per run
    assert offsets[0] == 37 and struct.unpack_from("<HHH", r32, 37) == (1, 0, 99)
    assert struct.unpack_from("<HHH", r32, offsets[1]) == (1, 0, 49)
    assert struct.unpack_from("<HHHHH", r32, offsets[2]) == (2, 0, 3, 10, 1)
    assert struct.unpack_from("<5H", r32, offsets[3]) == (0, 2, 4, 6, 8)
    assert offsets[3] + 10 == len(r32)

    # fewer than 4 containers: no offset header, data right after the headers
    r32 = serialize_roaring64(list(range(100)) + list(range(65536, 65586)))[12:]
    assert struct.unpack_from("<I", r32, 0)[0] == 12347 | (1 << 16)
    assert struct.unpack_from("<HHH", r32, 4 + 1 + 8) == (1, 0, 99)
    assert len(r32) == 4 + 1 + 8 + 2 * 6


def test_contiguous_delete_is_one_run():
    """300 contiguous deleted rows are one 4-byte run: the bitmap is 27 B
    (31 B with the DV magic) where the array layout of 300 values takes
    628 B."""
    assert len(dv.serialize_roaring64(range(300))) <= 32
    assert len(dv.serialize_roaring64(range(0, 600, 2))) == 628


def _java_roaring_read(jvm, r32: bytes) -> tuple[list[int], bytes]:
    """``org.roaringbitmap.RoaringBitmap`` (Spark's bundled jar) reading
    32-bit roaring bytes: its values, and its own serialization of them
    after ``runOptimize``. Values cross py4j as one little-endian byte[]."""
    import numpy as np

    nio = jvm.java.nio
    rb = jvm.org.roaringbitmap.RoaringBitmap()
    rb.deserialize(nio.ByteBuffer.wrap(r32))
    buf = nio.ByteBuffer.allocate(4 * rb.getCardinality())
    buf.order(nio.ByteOrder.LITTLE_ENDIAN)
    buf.asIntBuffer().put(rb.toArray())
    values = np.frombuffer(bytes(buf.array()), "<u4").tolist()
    rb.runOptimize()
    out = nio.ByteBuffer.allocate(rb.serializedSizeInBytes())
    rb.serialize(out)
    return values, bytes(out.array())


def test_roaring_bytes_read_by_spark_roaringbitmap(spark):
    """Spark's RoaringBitmap reads every bitmap the engine writes: array,
    bitset and run containers, 1 to 7 containers (the run layout has an
    offset header from 4), each exactly, and re-serializes it byte for
    byte the same after its own ``runOptimize``, so each container is in
    the layout the reference library would choose."""
    import random

    rng = random.Random(7)
    cases = [
        list(range(300)),  # one run
        list(range(0, 600, 2)),  # array
        list(range(0, 20000, 3)),  # bitset
        [1, 2, 3, 70000, 70002, 140000, 200000, 200001],  # 4 containers, some runs
        [5, 65536 * 5 + 7, 65536 * 9 + 11, 65536 * 12 + 1],  # 4 arrays, no run
    ]
    while len(cases) < 60:
        pos: set[int] = set()
        for _ in range(rng.randint(0, 4)):
            start = rng.randrange(0, 65536 * 7)
            pos.update(range(start, start + rng.randint(1, 9000)))
        pos.update(rng.sample(range(65536 * 7), rng.randint(0, 6000)))
        pos.update(rng.sample(range(2**31), rng.randint(0, 3)))
        if pos:
            cases.append(sorted(pos))
    seen = {"run": 0, "array": 0, "bitset": 0, "4+": 0}
    for pos in cases:
        r64 = dv.serialize_roaring64(pos)
        assert struct.unpack_from("<QI", r64, 0) == (1, 0)  # one 32-bit bucket
        r32 = r64[12:]
        values, java_bytes = _java_roaring_read(spark._jvm, r32)
        assert values == pos
        assert java_bytes == r32
        lows = {}
        for p in pos:
            lows.setdefault(p >> 16, []).append(p)
        seen["4+"] += len(lows) >= 4
        seen["run"] += struct.unpack_from("<I", r32, 0)[0] & 0xFFFF == 12347
        seen["array"] += any(len(v) <= 4096 and v[-1] - v[0] + 1 > len(v) for v in lows.values())
        seen["bitset"] += any(len(v) > 4096 for v in lows.values())
    assert min(seen.values()) >= 3, seen
