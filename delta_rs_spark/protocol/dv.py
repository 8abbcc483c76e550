"""Spec-conformant Delta deletion vectors (RoaringBitmap format).

Implements the PUBLIC Delta protocol's deletion-vector representation so
tables written by this engine are readable by any conformant Delta reader:

- descriptor on add/remove: ``{storageType: "u"|"i"|"p", pathOrInlineDv,
  offset?, sizeInBytes, cardinality}``;
- on-disk DV file: ``<version byte = 1>`` then one or more DVs, each
  framed as ``<dataSize: 4B big-endian> <data> <CRC-32(data): 4B
  big-endian>`` where ``data = <magic 1681511377: 4B little-endian>
  <portable 64-bit RoaringBitmap>``; a descriptor's ``offset`` points at
  its frame's dataSize field, ``sizeInBytes`` is the dataSize value;
- ``storageType "u"``: pathOrInlineDv = ``<prefix><z85(uuid)>``; the file
  lives at ``<tableRoot>/<prefix>/deletion_vector_<uuid>.bin``;
- ``storageType "i"``: pathOrInlineDv = z85 of the frameless ``data``
  (magic + bitmap), no file;
- ``storageType "p"``: absolute file path.

The engine writes "u" only: every DV of a commit goes, as binary, to the
commit's one .bin file, so the log holds a ~100 B descriptor per add and
remove instead of restating the bitmap as Z85 text in the add, in the
remove that retires it and in every checkpoint between. It reads all
three: "i" comes from older builds of this engine and from other writers,
"p" from shallow clones. Descriptors decoded together share one
``file_reader``, which GETs each .bin once.

Bitmap serialization is the published RoaringFormatSpec: the 64-bit
"portable" layout (8-byte LE bucket count, then per bucket a 4-byte LE
high key + a standard 32-bit roaring bitmap). Each 16-bit container is
written as a run, array or bitset container, whichever is smallest (a
contiguous 300-row delete is one 4-byte run, not 600 bytes of array);
the bitmap takes the run cookie (12347) when any container is a run and
the no-run cookie (12346) otherwise. The reader takes both.

The legacy descriptor this engine wrote before round 3
(``{storageType: "d", paths: [...position-parquet dirs]}``) remains
readable — see ``is_legacy`` — but is never written anymore.

Everything here is driver-or-executor Python over bounded data:
deletion vectors are kilobytes-to-megabytes by design (sparse deletes);
bulk deletes take the copy-on-write path instead (see ``dml.py``).
"""

from __future__ import annotations

import struct
import uuid as _uuid
import zlib
from dataclasses import dataclass
from typing import Any, Callable, Iterable, Optional

import numpy as np

# the table property that turns merge-on-read DML on; tables created by
# ``write_deltalake`` get it set to "true" unless the caller says otherwise
ENABLE_KEY = "delta.enableDeletionVectors"
FEATURE_NAME = "deletionVectors"


def enabled(configuration: Optional[dict]) -> bool:
    """Does a table configuration turn deletion vectors on?"""
    return str((configuration or {}).get(ENABLE_KEY, "")).lower() == "true"


DV_MAGIC = 1681511377
DV_FORMAT_VERSION = 1

_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE_RUN = 12347
_ARRAY_TO_BITSET_THRESHOLD = 4096
# a bitmap with run containers has an offset header from this many on
_NO_OFFSET_THRESHOLD = 4

# ---------------------------------------------------------------------------
# Z85 (the base85 variant the Delta spec mandates for pathOrInlineDv)
# ---------------------------------------------------------------------------

_Z85_ALPHABET = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_DECODE = {c: i for i, c in enumerate(_Z85_ALPHABET)}


def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise ValueError("z85 input must be a multiple of 4 bytes")
    out = []
    for i in range(0, len(data), 4):
        value = int.from_bytes(data[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            value, rem = divmod(value, 85)
            chunk.append(_Z85_ALPHABET[rem])
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError("z85 input must be a multiple of 5 chars")
    out = bytearray()
    for i in range(0, len(text), 5):
        value = 0
        for c in text[i : i + 5]:
            value = value * 85 + _Z85_DECODE[c]
        out += value.to_bytes(4, "big")
    return bytes(out)


# ---------------------------------------------------------------------------
# RoaringBitmap (portable 64-bit) serialization
# ---------------------------------------------------------------------------

def serialize_roaring64(positions: Iterable[int]) -> bytes:
    """Row positions (any order, repeats allowed) → portable 64-bit roaring
    bytes, each container in its smallest layout (see
    ``_serialize_roaring32``)."""
    p = np.unique(np.fromiter(positions, dtype=np.int64))
    if p.size and p[0] < 0:
        raise ValueError(f"negative row position {int(p[0])}")
    highs, starts = np.unique(p >> 32, return_index=True)
    out = bytearray(struct.pack("<Q", len(highs)))
    for high, lo, hi in zip(highs.tolist(), starts.tolist(), [*starts[1:].tolist(), p.size]):
        out += struct.pack("<I", high)
        out += _serialize_roaring32((p[lo:hi] & 0xFFFFFFFF).astype(np.uint32))
    return bytes(out)


def _serialize_roaring32(values: np.ndarray) -> bytes:
    """Sorted unique uint32 values → one standard 32-bit roaring bitmap.

    Each 16-bit container takes a run layout (``<n_runs> (<start>
    <length-1>)*``, 2 + 4 per run bytes) where that is smaller than its
    array (2 per value, up to 4096 values) or 8 KB bitset, as Roaring's
    ``runOptimize`` does. With any run container the header is the run
    cookie carrying the container count, then a run-flag bitset, and the
    offset header only at 4 or more containers; without, the no-run cookie
    and count, and offsets always (RoaringFormatSpec)."""
    keys, starts = np.unique(values >> 16, return_index=True)
    ends = [*starts[1:].tolist(), values.size]
    headers, blobs, runs = bytearray(), [], bytearray((len(keys) + 7) // 8)
    for i, (key, lo, hi) in enumerate(zip(keys.tolist(), starts.tolist(), ends)):
        lows = (values[lo:hi] & 0xFFFF).astype("<u2")
        card = hi - lo
        headers += struct.pack("<HH", key, card - 1)
        breaks = np.flatnonzero(np.diff(lows) != 1) + 1
        run_starts = lows[np.r_[0, breaks]]
        run_ends = lows[np.r_[breaks - 1, card - 1]]
        # roaring spec boundary: cardinality <= 4096 is an ARRAY container
        # (a bitset at exactly 4096 would be misdecoded as an array)
        plain = 2 * card if card <= _ARRAY_TO_BITSET_THRESHOLD else 8192
        if 2 + 4 * run_starts.size < plain:
            runs[i // 8] |= 1 << (i % 8)
            pairs = np.column_stack([run_starts, run_ends - run_starts]).astype("<u2")
            blobs.append(struct.pack("<H", run_starts.size) + pairs.tobytes())
        elif card <= _ARRAY_TO_BITSET_THRESHOLD:
            blobs.append(lows.tobytes())
        else:
            bits = np.zeros(1 << 16, dtype=bool)
            bits[lows] = True
            blobs.append(np.packbits(bits, bitorder="little").tobytes())

    n = len(keys)
    if any(runs):
        out = bytearray(struct.pack("<I", _SERIAL_COOKIE_RUN | (n - 1) << 16)) + runs + headers
        with_offsets = n >= _NO_OFFSET_THRESHOLD
    else:
        out = bytearray(struct.pack("<II", _SERIAL_COOKIE_NO_RUN, n)) + headers
        with_offsets = True
    if with_offsets:
        # each container's byte position from the start of this bitmap
        pos = len(out) + 4 * n
        for blob in blobs:
            out += struct.pack("<I", pos)
            pos += len(blob)
    for blob in blobs:
        out += blob
    return bytes(out)


def deserialize_roaring64(data: bytes) -> list[int]:
    """Portable 64-bit roaring bytes → sorted positions. Understands array,
    bitset, and run containers (both cookies), so DVs from other engines
    decode too."""
    (n_buckets,) = struct.unpack_from("<Q", data, 0)
    pos = 8
    out: list[int] = []
    for _ in range(n_buckets):
        (high,) = struct.unpack_from("<I", data, pos)
        pos += 4
        values, consumed = _deserialize_roaring32(data[pos:])
        base = high << 32
        out.extend(base | v for v in values)
        pos += consumed
    return out


def _deserialize_roaring32(data: bytes) -> tuple[list[int], int]:
    (cookie32,) = struct.unpack_from("<I", data, 0)
    cookie = cookie32 & 0xFFFF
    if cookie == _SERIAL_COOKIE_RUN:
        n_containers = (cookie32 >> 16) + 1
        pos = 4
        n_run_bytes = (n_containers + 7) // 8
        run_flags = data[pos : pos + n_run_bytes]
        pos += n_run_bytes
        has_offsets = n_containers >= _NO_OFFSET_THRESHOLD
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (n_containers,) = struct.unpack_from("<I", data, 4)
        pos = 8
        run_flags = b"\x00" * ((n_containers + 7) // 8)
        has_offsets = True
    else:
        raise ValueError(f"unknown roaring cookie {cookie}")

    headers = []
    for i in range(n_containers):
        key, card_m1 = struct.unpack_from("<HH", data, pos)
        pos += 4
        headers.append((key, card_m1 + 1))
    if has_offsets:
        pos += 4 * n_containers  # reader walks sequentially; offsets unused

    values: list[int] = []
    for i, (key, card) in enumerate(headers):
        base = key << 16
        is_run = bool(run_flags[i // 8] & (1 << (i % 8)))
        if is_run:
            (n_runs,) = struct.unpack_from("<H", data, pos)
            pos += 2
            for _ in range(n_runs):
                start, length = struct.unpack_from("<HH", data, pos)
                pos += 4
                values.extend(base | v for v in range(start, start + length + 1))
        elif card <= _ARRAY_TO_BITSET_THRESHOLD:
            vals = struct.unpack_from(f"<{card}H", data, pos)
            pos += 2 * card
            values.extend(base | v for v in vals)
        else:
            chunk = data[pos : pos + 8192]
            pos += 8192
            for byte_i, byte in enumerate(chunk):
                while byte:
                    bit = byte & -byte
                    values.append(base | (byte_i << 3) | bit.bit_length() - 1)
                    byte &= byte - 1
    return values, pos


# ---------------------------------------------------------------------------
# DV file framing + descriptors
# ---------------------------------------------------------------------------

@dataclass
class DvBlob:
    """One serialized DV and where it sits in its (future) file."""

    data: bytes  # magic + roaring64
    offset: int  # position of the frame's dataSize field in the file
    cardinality: int


def frame_dv_file(position_sets: list[list[int]]) -> tuple[bytes, list[DvBlob]]:
    """Pack several DVs into one .bin file body (shared per commit, like
    the reference implementations): returns (file bytes, per-DV blobs with
    offsets)."""
    body = bytearray([DV_FORMAT_VERSION])
    blobs: list[DvBlob] = []
    for positions in position_sets:
        data = struct.pack("<I", DV_MAGIC) + serialize_roaring64(positions)
        offset = len(body)
        body += struct.pack(">I", len(data))
        body += data
        body += struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
        blobs.append(DvBlob(data=data, offset=offset, cardinality=len(set(positions))))
    return bytes(body), blobs


def read_dv_at(file_bytes: bytes, offset: int, size_in_bytes: int) -> list[int]:
    """Decode one DV from file bytes at its descriptor's offset."""
    (data_size,) = struct.unpack_from(">I", file_bytes, offset)
    if data_size != size_in_bytes:
        raise ValueError(
            f"DV frame dataSize {data_size} != descriptor sizeInBytes {size_in_bytes}"
        )
    data = file_bytes[offset + 4 : offset + 4 + data_size]
    (crc,) = struct.unpack_from(">I", file_bytes, offset + 4 + data_size)
    if crc != (zlib.crc32(data) & 0xFFFFFFFF):
        raise ValueError("DV checksum mismatch")
    (magic,) = struct.unpack_from("<I", data, 0)
    if magic != DV_MAGIC:
        raise ValueError(f"bad DV magic {magic}")
    return deserialize_roaring64(data[4:])


def make_descriptor_uuid() -> tuple[str, str]:
    """(z85-encoded uuid for pathOrInlineDv, relative file path)."""
    u = _uuid.uuid4()
    return z85_encode(u.bytes), f"deletion_vector_{u}.bin"


def dv_file_rel_path(path_or_inline: str) -> str:
    """storageType "u" pathOrInlineDv → log-relative file path. The LAST 20
    chars are the z85 uuid; anything before is a directory prefix."""
    prefix, encoded = path_or_inline[:-20], path_or_inline[-20:]
    u = _uuid.UUID(bytes=z85_decode(encoded))
    name = f"deletion_vector_{u}.bin"
    return f"{prefix.rstrip('/')}/{name}" if prefix else name


def is_legacy(descriptor: dict[str, Any]) -> bool:
    """True for this engine's pre-round-3 parquet-dir descriptor."""
    return descriptor.get("storageType") == "d"


def is_spec(descriptor: dict[str, Any]) -> bool:
    return descriptor.get("storageType") in ("u", "i", "p")


def decode_descriptor(descriptor: dict[str, Any], get_file_bytes) -> list[int]:
    """Spec descriptor → sorted positions. ``get_file_bytes(rel_or_abs_path)
    -> bytes`` supplies file contents (storage-backend injected)."""
    st = descriptor["storageType"]
    if st == "i":
        data = z85_decode(descriptor["pathOrInlineDv"])
        (magic,) = struct.unpack_from("<I", data, 0)
        if magic != DV_MAGIC:
            raise ValueError(f"bad inline DV magic {magic}")
        return deserialize_roaring64(data[4:])
    if st == "u":
        path = dv_file_rel_path(descriptor["pathOrInlineDv"])
    elif st == "p":
        path = descriptor["pathOrInlineDv"]
    else:
        raise ValueError(f"not a spec DV descriptor: {descriptor!r}")
    file_bytes = get_file_bytes(path)
    # a single-DV file may omit offset: the DV starts right after the
    # version byte (None-valued keys from checkpoint decode behave the same)
    offset = descriptor.get("offset")
    return read_dv_at(
        file_bytes, int(offset) if offset is not None else 1, int(descriptor["sizeInBytes"])
    )


def build_descriptors(
    per_file_positions: dict[str, list[int]],
) -> tuple[dict[str, dict[str, Any]], Optional[tuple[str, bytes]]]:
    """Per-(add path) position lists → per-path spec descriptors, plus the
    one .bin file to publish (None when there is no DV to write).

    Every DV goes to the commit's one uuid-named file (storageType "u")
    at its own offset: the log carries only the descriptor, and the bitmap
    is written once, as binary, not restated as Z85 text in the add, the
    remove that retires it and every checkpoint in between.
    """
    if not per_file_positions:
        return {}, None
    file_body, blobs = frame_dv_file(list(per_file_positions.values()))
    encoded_uuid, rel_name = make_descriptor_uuid()
    descriptors = {
        path: {
            "storageType": "u",
            "pathOrInlineDv": encoded_uuid,
            "offset": blob.offset,
            "sizeInBytes": len(blob.data),
            "cardinality": blob.cardinality,
        }
        for path, blob in zip(per_file_positions, blobs)
    }
    return descriptors, (rel_name, file_body)


# ---------------------------------------------------------------------------
# log-aware helpers (shared by scan, DML, CDF, vacuum)
# ---------------------------------------------------------------------------

def referenced_rel_paths(descriptor: dict[str, Any]) -> tuple[list[str], list[str]]:
    """(dir prefixes, exact file paths) of storage this descriptor pins —
    legacy descriptors reference whole position-parquet dirs, spec "u"
    descriptors one .bin file, inline descriptors nothing."""
    if is_legacy(descriptor):
        return list(descriptor.get("paths") or []), []
    if descriptor.get("storageType") == "u":
        return [], [dv_file_rel_path(descriptor["pathOrInlineDv"])]
    return [], []


def file_reader(log) -> Callable[[str], bytes]:
    """``get_file_bytes`` for ``decode_descriptor`` over a table's storage
    that GETs each DV file once: a commit files all its DVs in one .bin,
    so decoding a set of descriptors through one reader costs one GET per
    distinct file, not one per descriptor."""
    files: dict[str, bytes] = {}

    def get_bytes(rel_or_abs: str) -> bytes:
        if rel_or_abs in files:
            return files[rel_or_abs]
        if "://" in rel_or_abs:
            # absolute URI (a shallow clone's source DV, possibly a
            # different scheme than this table): resolve its own backend
            from .storage import parse_table_uri

            normalized, backend = parse_table_uri(rel_or_abs)
            data = backend.get_obj(normalized)
        elif rel_or_abs.startswith("/"):
            with open(rel_or_abs, "rb") as fh:
                data = fh.read()
        else:
            data = log.backend.get_obj(log.backend.join(log.table_root, rel_or_abs))
        files[rel_or_abs] = data
        return data

    return get_bytes


def descriptor_positions(
    log, descriptor: dict[str, Any], add_path: str, read: Optional[Callable[[str], bytes]] = None
) -> list[int]:
    """Sorted deleted row positions for one add, either format. ``read``
    is a ``file_reader`` shared by the descriptors decoded together.

    Bounded driver-side work by design: a DV holds the sparse-delete
    positions of ONE file (kilobytes to low megabytes — the same in-memory
    materialization every Delta reader performs per file)."""
    if is_legacy(descriptor):
        import pyarrow.dataset as ds

        out: set[int] = set()
        basename = add_path.rsplit("/", 1)[-1]
        for d in descriptor.get("paths") or []:
            local = log.data_plane.readable_dir(d)
            tbl = ds.dataset(local, format="parquet").to_table(columns=["path", "row_index"])
            for p, ri in zip(
                tbl.column("path").to_pylist(), tbl.column("row_index").to_pylist()
            ):
                if p == add_path or p.rsplit("/", 1)[-1] == basename:
                    out.add(ri)
        return sorted(out)
    return decode_descriptor(descriptor, read or file_reader(log))


def descriptor_positions_for_root(
    table_root: str, descriptor: dict[str, Any]
) -> list[int]:
    """Executor-side decode of a SPEC descriptor ('u'/'i'/'p'): sorted
    deleted positions, self-contained — rebuilds the storage backend from
    the table root string instead of needing the driver's Log object.

    This is the scale path for streaming scans over DV'd tables: a batch
    that plans 10k DV'd files ships 10k small descriptor dicts and decodes
    each bitmap ON THE EXECUTOR that reads the file, instead of decoding
    10k bitmaps serially on the driver at planning time and shipping the
    (much larger) position lists. Legacy parquet-dir descriptors ('d')
    still decode at planning time — they need the log's data plane."""
    if not is_spec(descriptor):
        raise ValueError(
            f"executor-side decode supports spec descriptors only, got "
            f"storageType={descriptor.get('storageType')!r}"
        )
    from .log import DeltaLog

    return decode_descriptor(descriptor, file_reader(DeltaLog(table_root)))


def add_positions(log, add, read: Optional[Callable[[str], bytes]] = None) -> list[int]:
    """Memoized ``descriptor_positions`` for an AddAction (stats-style
    per-instance cache: pruning/scan/CDF may ask repeatedly)."""
    cached = add.__dict__.get("_dv_positions_cache")
    if cached is not None:
        return cached
    positions = descriptor_positions(log, add.deletion_vector, add.path, read)
    add.__dict__["_dv_positions_cache"] = positions
    return positions


def adds_positions(log, adds) -> list[list[int]]:
    """``add_positions`` of each add (none for an add without a DV),
    reading each DV file once."""
    read = file_reader(log)
    return [add_positions(log, a, read) if a.deletion_vector else [] for a in adds]


def positions_df(spark, log, dv_adds, key_fn=None):
    """Spark DataFrame ``(_dv_path, _dv_pos)`` of every deleted position of
    ``dv_adds`` — the positions side of the scan's anti join. Decodes
    driver-side (bounded, see ``descriptor_positions``) and ships one
    Arrow-backed literal frame; the join strategy (broadcast vs shuffle) is
    the caller's call based on descriptor sizeInBytes. ``key_fn(add)``
    overrides the join key (default ``add.path``) — the scan passes the
    value its lineage column actually evaluates to, which differs from the
    log path for absolute-path (shallow-clone) adds."""
    import pandas as pd

    paths: list[str] = []
    pos: list[int] = []
    for a, p in zip(dv_adds, adds_positions(log, dv_adds)):
        key = key_fn(a) if key_fn is not None else a.path
        paths.extend([key] * len(p))
        pos.extend(p)
    pdf = pd.DataFrame({"_dv_path": pd.array(paths, dtype="string"), "_dv_pos": pd.array(pos, dtype="int64")})
    return spark.createDataFrame(pdf, schema="_dv_path STRING, _dv_pos BIGINT")


def bitmap_words(positions: list[int]) -> list[int]:
    """Deleted positions → a plain bitmap as signed 64-bit words: bit
    ``p & 63`` of word ``p >> 6`` is set for each position, up to the last
    one (the in-scan DV filter's literal, ``Snapshot._dv_keep_predicate``)."""
    if not positions:
        return []
    p = np.asarray(positions, dtype=np.uint64)
    words = np.zeros(int(p.max() >> np.uint64(6)) + 1, dtype=np.uint64)
    np.bitwise_or.at(
        words, (p >> np.uint64(6)).astype(np.intp), np.uint64(1) << (p & np.uint64(63))
    )
    return words.view(np.int64).tolist()
