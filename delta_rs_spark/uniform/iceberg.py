"""Iceberg table-metadata generation (UniForm) over the Delta log.

With ``delta.universalFormat.enabledFormats=iceberg`` set, every Delta commit
is mirrored into an Apache Iceberg (table-spec v2) metadata tree under
``<table>/metadata/``:

- ``v{N}.metadata.json`` + ``version-hint.text`` (Hadoop-catalog discovery),
- one manifest list (``snap-*.avro``) per snapshot,
- Avro manifest files holding the data-file entries.

The data files themselves are never copied — both logs point at the same
parquet. Conversion is INCREMENTAL and scale-correct: an append writes one
new manifest holding just that commit's added files and re-links the prior
manifests untouched (O(new files)); a delete/rewrite re-writes only the
manifests that contain removed paths (O(affected manifests)). Nothing ever
walks the full file listing except the first conversion, mirroring how the
Delta log itself behaves at 100 TB.

Because this engine's parquet writer does not stamp Iceberg field-ids into
the files, the metadata carries the spec's ``schema.name-mapping.default``
property mapping column names to field ids — the standard mechanism by
which Iceberg readers consume files written without ids (e.g. migrated
Hive/Spark tables). Snapshot ids equal Delta versions, so the two logs'
histories line up one-to-one; the last synced Delta version is recorded in
the metadata properties under ``delta-version``.

The Avro layer is cross-validated against the Apache Avro Java reference
reader on Spark's classpath (`tests/test_uniform.py`); the manifest/list
schemas carry the spec's field-ids so id-based readers resolve them.

Real UniForm registers metadata pointers in a catalog for atomic swaps;
with a filesystem layout the ``version-hint.text`` write is the pointer.
Conversion runs post-commit under the Delta writer's own concurrency
control, so hints advance monotonically with committed versions.
"""

from __future__ import annotations

import datetime as _dt
import json
import struct
import uuid as _uuid
from typing import Any, Optional

from pyspark.sql import types as T

from . import avro as _avro

ENABLE_KEY = "delta.universalFormat.enabledFormats"
DELTA_VERSION_PROP = "delta-version"
NAME_MAPPING_PROP = "schema.name-mapping.default"


def enabled(configuration: Optional[dict]) -> bool:
    """Does a table configuration turn the Iceberg UniForm mirror on?"""
    return "iceberg" in str((configuration or {}).get(ENABLE_KEY, "")).lower()


class IcebergConversionError(Exception):
    """UniForm conversion failed (unsupported type, missing state, …)."""


# ---- Spark -> Iceberg schema ----------------------------------------------

_PRIMITIVES: dict[type, str] = {
    T.BooleanType: "boolean",
    T.ByteType: "int",
    T.ShortType: "int",
    T.IntegerType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.DateType: "date",
    T.TimestampType: "timestamptz",
    T.TimestampNTZType: "timestamp",
    T.StringType: "string",
    T.BinaryType: "binary",
}


class _IdGen:
    def __init__(self, start: int = 0):
        self.last = start

    def next(self) -> int:
        self.last += 1
        return self.last


def _iceberg_type(dt: T.DataType, ids: _IdGen) -> Any:
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    for cls, name in _PRIMITIVES.items():
        if isinstance(dt, cls):
            return name
    if isinstance(dt, T.StructType):
        return {
            "type": "struct",
            "fields": [_iceberg_field(f, ids) for f in dt.fields],
        }
    if isinstance(dt, T.ArrayType):
        eid = ids.next()
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type(dt.elementType, ids),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        kid, vid = ids.next(), ids.next()
        return {
            "type": "map",
            "key-id": kid,
            "key": _iceberg_type(dt.keyType, ids),
            "value-id": vid,
            "value": _iceberg_type(dt.valueType, ids),
            "value-required": not dt.valueContainsNull,
        }
    raise IcebergConversionError(
        f"type {dt.simpleString()} has no Iceberg equivalent"
    )


def _iceberg_field(f: T.StructField, ids: _IdGen) -> dict:
    # column-mapped tables carry a table-unique, never-reused id per field
    # (delta.columnMapping.id) — reuse it so Iceberg field ids stay STABLE
    # across renames/drops (a positional id would silently re-point at a
    # different column after a drop). Un-mapped tables (no drops/renames
    # possible) use the positional walk.
    from ..protocol.column_mapping import ID_META

    mapped = (f.metadata or {}).get(ID_META)
    fid = int(mapped) if mapped is not None else ids.next()
    if mapped is not None:
        ids.last = max(ids.last, fid)
    return {
        "id": fid,
        "name": f.name,
        "required": not f.nullable,
        "type": _iceberg_type(f.dataType, ids),
    }


def iceberg_schema(schema: T.StructType, schema_id: int = 0) -> tuple[dict, int]:
    """Iceberg schema JSON for a Spark schema. Field ids come from the
    column-mapping ids when present (stable across rename/drop), else a
    pre-order walk (stable for an unchanged schema). Returns
    (schema dict, last-column-id)."""
    from ..protocol.column_mapping import max_field_id

    # start generated ids (nested list/map element ids, unmapped fields)
    # ABOVE every mapped id — anywhere in the tree, incl. struct fields
    # inside arrays/maps — so the two ranges can never collide
    ids = _IdGen(start=max_field_id(schema))
    fields = [_iceberg_field(f, ids) for f in schema.fields]
    return (
        {"type": "struct", "schema-id": schema_id, "fields": fields},
        ids.last,
    )


def name_mapping(
    schema_json: dict, aliases: Optional[dict[str, str]] = None
) -> list[dict]:
    """The ``schema.name-mapping.default`` tree: names -> field-ids, used by
    readers for parquet files that carry no embedded field ids. ``aliases``
    adds alternate (physical) names per top-level logical name — the files
    of a column-mapped table store physical column names. Containers emit
    the spec's ``element``/``key``/``value`` sub-mappings so nested leaves
    inside arrays/maps resolve too (without them an id-less file's list
    elements would read as pruned)."""
    aliases = aliases or {}

    def _sub_fields(t: Any) -> Optional[list[dict]]:
        if not isinstance(t, dict):
            return None
        kind = t.get("type")
        if kind == "struct":
            return [_entry(f, False) for f in t["fields"]]
        if kind == "list":
            elem: dict[str, Any] = {
                "field-id": t["element-id"],
                "names": ["element"],
            }
            sub = _sub_fields(t["element"])
            if sub:
                elem["fields"] = sub
            return [elem]
        if kind == "map":
            key: dict[str, Any] = {"field-id": t["key-id"], "names": ["key"]}
            val: dict[str, Any] = {"field-id": t["value-id"], "names": ["value"]}
            ksub, vsub = _sub_fields(t["key"]), _sub_fields(t["value"])
            if ksub:
                key["fields"] = ksub
            if vsub:
                val["fields"] = vsub
            return [key, val]
        return None

    def _entry(field: dict, top: bool) -> dict:
        names = [field["name"]]
        alias = aliases.get(field["name"]) if top else None
        if alias and alias not in names:
            names.append(alias)
        out: dict[str, Any] = {"field-id": field["id"], "names": names}
        sub = _sub_fields(field["type"])
        if sub:
            out["fields"] = sub
        return out

    return [_entry(f, True) for f in schema_json["fields"]]


# ---- single-value binary serialization (spec appendix D) -------------------

_EPOCH = _dt.date(1970, 1, 1)


def bound_bytes(value: Any, dt: T.DataType) -> Optional[bytes]:
    """Iceberg single-value binary form of a Delta JSON stats value; None
    when the type/value has no defined encoding (bound omitted — legal)."""
    try:
        if value is None:
            return None
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
            return struct.pack("<i", int(value))
        if isinstance(dt, T.LongType):
            return struct.pack("<q", int(value))
        if isinstance(dt, T.FloatType):
            return struct.pack("<f", float(value))
        if isinstance(dt, T.DoubleType):
            return struct.pack("<d", float(value))
        if isinstance(dt, T.BooleanType):
            return b"\x01" if value else b"\x00"
        if isinstance(dt, T.StringType):
            return str(value).encode("utf-8")
        if isinstance(dt, T.DateType):
            d = _dt.date.fromisoformat(str(value)[:10])
            return struct.pack("<i", (d - _EPOCH).days)
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            s = str(value).rstrip("Z").replace("T", " ")
            ts = _dt.datetime.fromisoformat(s)
            micros = int(ts.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000)
            return struct.pack("<q", micros)
        if isinstance(dt, T.DecimalType):
            from decimal import Decimal

            unscaled = int(Decimal(str(value)).scaleb(dt.scale))
            n = max(1, (unscaled.bit_length() + 8) // 8)
            return unscaled.to_bytes(n, "big", signed=True)
    except (ValueError, OverflowError, ArithmeticError):
        return None
    return None


# ---- Avro schemas for manifests and manifest lists (spec field ids) --------

def _opt(t: Any) -> list:
    return ["null", t]


def _bounds_map(name: str, kid: int, vid: int) -> dict:
    """Iceberg encodes stats maps as arrays of key/value records so the
    entries can carry field-ids (plain Avro maps cannot)."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": kid},
                {"name": "value", "type": "bytes", "field-id": vid},
            ],
        },
    }


def _counts_map(name: str, kid: int, vid: int) -> dict:
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": kid},
                {"name": "value", "type": "long", "field-id": vid},
            ],
        },
    }


def partition_avro_schema(
    partition_columns: list[str], schema: T.StructType
) -> dict:
    """The r102 partition record: one optional field per partition column,
    identity-transformed, field-ids from 1000 up (spec convention)."""
    fields = []
    for i, col in enumerate(partition_columns):
        dt = schema[col].dataType
        fields.append(
            {
                "name": col,
                "type": _opt(_partition_avro_type(dt)),
                "default": None,
                "field-id": 1000 + i,
            }
        )
    return {"type": "record", "name": "r102", "fields": fields}


def _partition_avro_type(dt: T.DataType) -> Any:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return "int"
    if isinstance(dt, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    return "string"  # strings + decimals-as-strings keep the raw value


def manifest_entry_schema(partition_schema: dict) -> dict:
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": partition_schema, "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {
                "name": "value_counts",
                "type": _opt(_counts_map("k119_v120", 119, 120)),
                "default": None,
                "field-id": 109,
            },
            {
                "name": "null_value_counts",
                "type": _opt(_counts_map("k121_v122", 121, 122)),
                "default": None,
                "field-id": 110,
            },
            {
                "name": "lower_bounds",
                "type": _opt(_bounds_map("k126_v127", 126, 127)),
                "default": None,
                "field-id": 125,
            },
            {
                "name": "upper_bounds",
                "type": _opt(_bounds_map("k129_v130", 129, 130)),
                "default": None,
                "field-id": 128,
            },
        ],
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": _opt("long"), "default": None, "field-id": 1},
            {
                "name": "sequence_number",
                "type": _opt("long"),
                "default": None,
                "field-id": 3,
            },
            {
                "name": "file_sequence_number",
                "type": _opt("long"),
                "default": None,
                "field-id": 4,
            },
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_data_files_count", "type": "int", "field-id": 504},
        {"name": "existing_data_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_data_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        # per-partition-field summaries: readers prune whole manifests on a
        # partition predicate WITHOUT opening them — at 100 TB this is the
        # difference between touching one manifest and all of them
        {
            "name": "partitions",
            "type": [
                "null",
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "r508",
                        "fields": [
                            {
                                "name": "contains_null",
                                "type": "boolean",
                                "field-id": 509,
                            },
                            {
                                "name": "contains_nan",
                                "type": ["null", "boolean"],
                                "default": None,
                                "field-id": 518,
                            },
                            {
                                "name": "lower_bound",
                                "type": ["null", "bytes"],
                                "default": None,
                                "field-id": 510,
                            },
                            {
                                "name": "upper_bound",
                                "type": ["null", "bytes"],
                                "default": None,
                                "field-id": 511,
                            },
                        ],
                    },
                },
            ],
            "default": None,
            "field-id": 507,
        },
    ],
}


def _partition_bound_bytes(value: Any, dt: T.DataType) -> Optional[bytes]:
    """Single-value binary form of an ALREADY-CONVERTED partition value
    (dates are day ints, timestamps micro longs — see _partition_value)."""
    if value is None:
        return None
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.DateType)):
        return struct.pack("<i", int(value))
    if isinstance(dt, (T.LongType, T.TimestampType, T.TimestampNTZType)):
        return struct.pack("<q", int(value))
    if isinstance(dt, T.FloatType):
        return struct.pack("<f", float(value))
    if isinstance(dt, T.DoubleType):
        return struct.pack("<d", float(value))
    if isinstance(dt, T.BooleanType):
        return b"\x01" if value else b"\x00"
    if isinstance(value, str):
        return value.encode("utf-8")
    return None


def partition_summaries(
    entries: list[dict], partition_columns: list[str], schema: T.StructType
) -> Optional[list[dict]]:
    """field_summary per partition-spec field over a manifest's entries."""
    if not partition_columns:
        return None
    out = []
    for c in partition_columns:
        dt = schema[c].dataType
        values = [e["data_file"]["partition"].get(c) for e in entries]
        non_null = [v for v in values if v is not None]
        out.append(
            {
                "contains_null": len(non_null) < len(values),
                "contains_nan": None,
                "lower_bound": (
                    _partition_bound_bytes(min(non_null), dt) if non_null else None
                ),
                "upper_bound": (
                    _partition_bound_bytes(max(non_null), dt) if non_null else None
                ),
            }
        )
    return out

# statuses in manifest entries
ADDED, EXISTING, DELETED = 1, 0, 2

# reserved field ids of the position-delete file columns (Iceberg spec)
DELETE_FILE_PATH_FID = 2147483546
DELETE_POS_FID = 2147483545


def _write_position_delete_file(
    tree: _Tree, data_path_abs: str, positions: list[int]
) -> tuple[str, int, int]:
    """Iceberg v2 position-delete parquet: (file_path, pos) rows sorted by
    position, columns carrying the spec's reserved field ids. Stored under
    metadata/deletes/ (vacuum-protected with the rest of the tree).
    Returns (path, row_count, size_bytes)."""
    import io as _io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..writer import PARQUET_CODEC

    positions = sorted(positions)
    schema = pa.schema(
        [
            pa.field(
                "file_path",
                pa.string(),
                nullable=False,
                metadata={b"PARQUET:field_id": str(DELETE_FILE_PATH_FID).encode()},
            ),
            pa.field(
                "pos",
                pa.int64(),
                nullable=False,
                metadata={b"PARQUET:field_id": str(DELETE_POS_FID).encode()},
            ),
        ]
    )
    t = pa.table(
        {"file_path": [data_path_abs] * len(positions), "pos": positions},
        schema=schema,
    )
    buf = _io.BytesIO()
    pq.write_table(t, buf, compression=PARQUET_CODEC)
    data = buf.getvalue()
    path = tree.put(f"deletes/{_uuid.uuid4()}-deletes.parquet", data)
    return path, len(positions), len(data)


def _position_delete_entry(
    tree: _Tree, add, positions: list[int],
    schema: T.StructType, partition_columns: list[str],
    snapshot_id: int, phys: Optional[dict[str, str]] = None,
) -> dict:
    """Manifest entry (content=1) for the DV of one data file. The
    referenced data path rides the file_path column's lower/upper bounds,
    so readers prune delete files per data file and the conversion can drop
    stale delete entries when the data file is removed or its DV swapped."""
    phys = phys or {}
    data_abs = (
        add.path
        if "://" in add.path or add.path.startswith("/")
        else tree.backend.join(tree.root, add.path)
    )
    dpath, n, size = _write_position_delete_file(tree, data_abs, positions)
    partition = {
        c: _partition_value(
            (add.partition_values or {}).get(phys.get(c, c)),
            schema[c].dataType,
        )
        for c in partition_columns
    }
    path_bytes = data_abs.encode("utf-8")
    return {
        "status": ADDED,
        "snapshot_id": snapshot_id,
        "sequence_number": None,
        "file_sequence_number": None,
        "data_file": {
            "content": 1,  # position deletes
            "file_path": dpath,
            "file_format": "PARQUET",
            "partition": partition,
            "record_count": n,
            "file_size_in_bytes": size,
            "value_counts": None,
            "null_value_counts": None,
            "lower_bounds": [{"key": DELETE_FILE_PATH_FID, "value": path_bytes}],
            "upper_bounds": [{"key": DELETE_FILE_PATH_FID, "value": path_bytes}],
        },
    }


def _delete_entries_for_adds(
    tree: _Tree, table, adds, schema: T.StructType,
    partition_columns: list[str], snapshot_id: int,
    phys: Optional[dict[str, str]] = None,
) -> list[dict]:
    """Position-delete entries for every DV-carrying add (bounded by DV
    cardinality — the same rows a Delta reader anti-joins)."""
    from ..protocol.dv import add_positions, file_reader

    log = table.snapshot.log
    read = file_reader(log)
    out = []
    for a in adds:
        if getattr(a, "deletion_vector", None):
            positions = add_positions(log, a, read)
            if positions:
                out.append(
                    _position_delete_entry(
                        tree, a, positions, schema, partition_columns,
                        snapshot_id, phys,
                    )
                )
    return out


def _delete_entry_target(entry: dict) -> Optional[str]:
    """The data-file path a position-delete entry references (from the
    file_path column bound)."""
    for kv in entry["data_file"].get("lower_bounds") or []:
        if kv["key"] == DELETE_FILE_PATH_FID:
            return bytes(kv["value"]).decode("utf-8")
    return None


# ---- conversion state ------------------------------------------------------

class _Tree:
    """Backend-addressed metadata directory of one table."""

    def __init__(self, table):
        self.log = table.snapshot.log
        self.backend = self.log.backend
        self.root = self.log.table_root
        self.dir = self.backend.join(self.root, "metadata")

    def path(self, name: str) -> str:
        return self.backend.join(self.dir, name)

    def put(self, name: str, data: bytes) -> str:
        p = self.path(name)
        if "/" in name:
            self.backend.makedirs(p.rsplit("/", 1)[0])
        else:
            self.backend.makedirs(self.dir)
        self.backend.put_obj(p, data)
        return p

    def get(self, name_or_path: str) -> bytes:
        p = (
            name_or_path
            if name_or_path.startswith(self.dir)
            else self.path(name_or_path)
        )
        return self.backend.get_obj(p)

    def current_metadata(self) -> Optional[dict]:
        try:
            hint = int(self.get("version-hint.text").decode().strip())
        except Exception:
            return None
        return json.loads(self.get(f"v{hint}.metadata.json"))

    def put_metadata(self, version: int, data: bytes) -> tuple[str, int]:
        """Write ``v{N}.metadata.json`` via the backend's atomic
        create-if-absent (the same primitive Delta commits use). On a
        collision — a concurrent writer's hook converted first — bump to
        the next free number: conversions are cumulative walks from the
        recorded delta-version, so the later writer re-syncs anything the
        loser's file carried. Returns (path, version actually used)."""
        import uuid as _u

        from ..protocol.storage import FileAlreadyExistsError

        self.backend.makedirs(self.dir)
        while True:
            tmp = self.path(f"_tmp_{_u.uuid4().hex}.metadata.json")
            self.backend.put_obj(tmp, data)
            dst = self.path(f"v{version}.metadata.json")
            try:
                self.backend.rename_obj_noreplace(tmp, dst)
                return dst, version
            except FileAlreadyExistsError:
                try:
                    self.backend.delete_obj(tmp)
                except Exception:
                    pass
                version += 1


def _partition_value(raw: Optional[str], dt: T.DataType) -> Any:
    """Delta partitionValues string -> Avro-encodable Iceberg value."""
    if raw is None:
        return None
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(raw)
    if isinstance(dt, T.DateType):
        return (_dt.date.fromisoformat(raw) - _EPOCH).days
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        s = raw.rstrip("Z").replace("T", " ")
        ts = _dt.datetime.fromisoformat(s)
        return int(ts.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000)
    if isinstance(dt, T.FloatType) or isinstance(dt, T.DoubleType):
        return float(raw)
    if isinstance(dt, T.BooleanType):
        return raw.lower() == "true"
    return raw


def _entry_for_add(
    add, schema: T.StructType, partition_columns: list[str],
    field_ids: dict[str, int], snapshot_id: int, tree: _Tree,
    phys: Optional[dict[str, str]] = None,
) -> dict:
    stats = add.get_stats() or {}
    if stats.get("numRecords") is None:
        # Iceberg engines answer COUNT(*) from manifest record_count —
        # writing 0 for a stats-less add (foreign writer) would be an
        # authoritative wrong answer. One footer read per such file,
        # one-time (the count is persisted in the manifest).
        import pyarrow.parquet as _pqc

        try:
            uri = tree.log.data_plane.local_uri(add.path)
            stats = {**stats, "numRecords": _pqc.ParquetFile(uri).metadata.num_rows}
        except FileNotFoundError:
            # a lagging sync can reach a commit whose file was later
            # removed AND vacuumed — the entry exists only in historical
            # snapshots and is dropped again within this same sync; a
            # placeholder count there beats wedging the sync forever
            import warnings

            warnings.warn(
                f"UniForm: file {add.path} has no numRecords stat and no "
                "longer exists; writing record_count=0 into its historical "
                "manifest entry",
                stacklevel=2,
            )
            stats = {**stats, "numRecords": 0}
        except Exception as e:
            raise IcebergConversionError(
                f"file {add.path} has no numRecords stat and its footer "
                f"is unreadable ({e}); cannot write a truthful manifest"
            ) from e
    mins = stats.get("minValues") or {}
    maxs = stats.get("maxValues") or {}
    nulls = stats.get("nullCount") or {}
    lower, upper, null_counts, value_counts = [], [], [], []
    n = stats.get("numRecords")
    phys = phys or {}
    for f in schema.fields:
        fid = field_ids.get(f.name)
        if fid is None:
            continue
        # column-mapped tables key stats (and partitionValues) physically
        key = phys.get(f.name, f.name)
        lo = bound_bytes(mins.get(key), f.dataType)
        hi = bound_bytes(maxs.get(key), f.dataType)
        if lo is not None:
            lower.append({"key": fid, "value": lo})
        if hi is not None:
            upper.append({"key": fid, "value": hi})
        nc = nulls.get(key)
        if isinstance(nc, int):
            null_counts.append({"key": fid, "value": nc})
            if n is not None:
                value_counts.append({"key": fid, "value": n})
    partition = {
        c: _partition_value(
            (add.partition_values or {}).get(phys.get(c, c)),
            schema[c].dataType,
        )
        for c in partition_columns
    }
    return {
        "status": ADDED,
        "snapshot_id": snapshot_id,
        "sequence_number": None,  # inherited from the manifest (spec v2)
        "file_sequence_number": None,
        "data_file": {
            "content": 0,
            "file_path": tree.backend.join(tree.root, add.path)
            if "://" not in add.path and not add.path.startswith("/")
            else add.path,
            "file_format": "PARQUET",
            "partition": partition,
            "record_count": int(stats.get("numRecords") or 0),
            "file_size_in_bytes": int(add.size or 0),
            "value_counts": value_counts or None,
            "null_value_counts": null_counts or None,
            "lower_bounds": lower or None,
            "upper_bounds": upper or None,
        },
    }


def _top_level_field_ids(schema_json: dict) -> dict[str, int]:
    return {f["name"]: f["id"] for f in schema_json["fields"]}


def _write_manifest(
    tree: _Tree, entries: list[dict], entry_schema: dict,
    schema_json: dict, spec_fields: list[dict],
    content: str = "data",
) -> tuple[str, int]:
    name = f"{_uuid.uuid4()}-m0.avro"
    meta = {
        "schema": json.dumps(schema_json),
        "partition-spec": json.dumps(spec_fields),
        "partition-spec-id": "0",
        "format-version": "2",
        "content": content,
    }
    data = _avro.write_container(entry_schema, entries, metadata=meta)
    path = tree.put(name, data)
    return path, len(data)


def _spec_fields(partition_columns: list[str], field_ids: dict[str, int]) -> list[dict]:
    return [
        {
            "name": c,
            "transform": "identity",
            "source-id": field_ids.get(c, -1),
            "field-id": 1000 + i,
        }
        for i, c in enumerate(partition_columns)
    ]


def _manifest_list_entry(
    path: str, length: int, seq: int, min_seq: int, snapshot_id: int,
    added: int, existing: int, deleted: int,
    added_rows: int, existing_rows: int, deleted_rows: int,
    partitions: Optional[list[dict]] = None,
    content: int = 0,
) -> dict:
    return {
        "manifest_path": path,
        "manifest_length": length,
        "partition_spec_id": 0,
        "content": content,
        "sequence_number": seq,
        "min_sequence_number": min_seq,
        "added_snapshot_id": snapshot_id,
        "added_data_files_count": added,
        "existing_data_files_count": existing,
        "deleted_data_files_count": deleted,
        "added_rows_count": added_rows,
        "existing_rows_count": existing_rows,
        "deleted_rows_count": deleted_rows,
        "partitions": partitions,
    }


def convert_snapshot(table) -> str:
    """Bring the Iceberg metadata tree up to the table's current Delta
    version; returns the new ``v{N}.metadata.json`` path. Incremental after
    the first call (one Iceberg snapshot per Delta commit)."""
    tree = _Tree(table)
    schema = table.schema()
    meta = table.metadata()
    partition_columns = list(meta.partition_columns or [])
    schema_json, last_col_id = iceberg_schema(schema)
    field_ids = _top_level_field_ids(schema_json)
    # column-mapped tables: stats/partitionValues in the log (and column
    # names inside the parquet files) are PHYSICAL — translate lookups, and
    # alias the physical names into the name mapping so id-less readers
    # resolve the files' actual columns
    from ..protocol import column_mapping as _cm

    phys = (
        _cm.top_level_physical(schema)
        if _cm.is_mapped(meta.configuration)
        else {}
    )
    part_avro = partition_avro_schema(partition_columns, schema)
    entry_schema = manifest_entry_schema(part_avro)
    spec = _spec_fields(partition_columns, field_ids)

    current = tree.current_metadata()
    if current is not None and DELTA_VERSION_PROP not in (
        current.get("properties") or {}
    ):
        # a foreign Iceberg tree (e.g. a table adopted via CONVERT TO
        # DELTA): no sync watermark to walk from — rebuild from the Delta
        # snapshot; put_metadata lands past the existing version files
        current = None
    target = table.version
    now_ms = int(table.snapshot.log.commit_timestamp_ms(target))

    # schema history: an unchanged schema keeps its id; a changed one gets
    # the next id and appends to the list (old snapshots keep referencing
    # the schema they were written with)
    prev_schemas = list((current or {}).get("schemas", []))
    prev_id = (current or {}).get("current-schema-id", 0)

    def _no_id(s: dict) -> dict:
        return {k: v for k, v in s.items() if k != "schema-id"}

    prev_schema = next(
        (s for s in prev_schemas if s["schema-id"] == prev_id), None
    )
    if prev_schema is not None and _no_id(prev_schema) == _no_id(schema_json):
        cur_schema_id = prev_id
        schema_json = prev_schema
        schemas_list = prev_schemas
    elif prev_schemas:
        cur_schema_id = max(s["schema-id"] for s in prev_schemas) + 1
        schema_json = {**schema_json, "schema-id": cur_schema_id}
        schemas_list = prev_schemas + [schema_json]
    else:
        cur_schema_id = 0
        schemas_list = [schema_json]

    if current is None:
        # first conversion: one manifest with every live file (+ one delete
        # manifest holding the position deletes of any DV'd files)
        snapshot_id = target
        seq = 1
        adds0 = table.add_actions()
        entries = [
            _entry_for_add(
                a, schema, partition_columns, field_ids, snapshot_id, tree, phys
            )
            for a in adds0
        ]
        mpath, mlen = _write_manifest(tree, entries, entry_schema, schema_json, spec)
        rows = sum(e["data_file"]["record_count"] for e in entries)
        manifests = [
            _manifest_list_entry(
                mpath, mlen, seq, seq, snapshot_id,
                len(entries), 0, 0, rows, 0, 0,
                partitions=partition_summaries(entries, partition_columns, schema),
            )
        ]
        dv_entries = _delete_entries_for_adds(
            tree, table, adds0, schema, partition_columns, snapshot_id, phys
        )
        if dv_entries:
            dpath, dlen = _write_manifest(
                tree, dv_entries, entry_schema, schema_json, spec,
                content="deletes",
            )
            manifests.append(
                _manifest_list_entry(
                    dpath, dlen, seq, seq, snapshot_id,
                    len(dv_entries), 0, 0,
                    sum(e["data_file"]["record_count"] for e in dv_entries),
                    0, 0, content=1,
                )
            )
        snapshots: list[dict] = []
        snapshot_log: list[dict] = []
        metadata_log: list[dict] = []
        version_counter = 1
        table_uuid = str(_uuid.uuid4())
        last_seq = seq
        new_snaps = [
            _snapshot_record(
                snapshot_id, None, seq, now_ms, "append",
                _write_manifest_list(tree, snapshot_id, manifests), target,
                schema_id=cur_schema_id,
            )
        ]
    else:
        last_synced = int(current["properties"][DELTA_VERSION_PROP])
        if last_synced >= target:
            return tree.path(f"v{_read_hint(tree)}.metadata.json")
        table_uuid = current["table-uuid"]
        version_counter = _read_hint(tree) + 1
        last_seq = int(current["last-sequence-number"])
        snapshots = list(current.get("snapshots", []))
        snapshot_log = list(current.get("snapshot-log", []))
        metadata_log = list(current.get("metadata-log", []))
        # the metadata-log lists PREVIOUS metadata files (spec): the file we
        # just loaded becomes history for the one we are about to write
        metadata_log.append(
            {
                "timestamp-ms": current["last-updated-ms"],
                "metadata-file": tree.path(f"v{version_counter - 1}.metadata.json"),
            }
        )
        prev_snap = next(
            s for s in snapshots
            if s["snapshot-id"] == current["current-snapshot-id"]
        )
        manifests = _read_manifest_list(tree, prev_snap["manifest-list"])
        new_snaps = []
        parent = prev_snap["snapshot-id"]
        for v in range(last_synced + 1, target + 1):
            from ..protocol.actions import AddAction, RemoveAction

            actions = table.snapshot.log.read_commit(v)
            adds = [a for a in actions if isinstance(a, AddAction)]
            removes = {r.path for r in actions if isinstance(r, RemoveAction)}
            if not adds and not removes:
                continue  # metadata-only commit: no new Iceberg snapshot
            snapshot_id = v
            last_seq += 1
            ts_ms = int(table.snapshot.log.commit_timestamp_ms(v))
            # drop removed paths: rewrite only the affected manifests
            if removes:
                removed_abs = {
                    p if "://" in p or p.startswith("/")
                    else tree.backend.join(tree.root, p)
                    for p in removes
                }
                manifests = _rewrite_for_removes(
                    tree, manifests, removed_abs, entry_schema,
                    schema_json, spec, snapshot_id, last_seq,
                    schema=schema, partition_columns=partition_columns,
                )
            if adds:
                entries = [
                    _entry_for_add(
                        a, schema, partition_columns, field_ids, snapshot_id,
                        tree, phys,
                    )
                    for a in adds
                ]
                mpath, mlen = _write_manifest(
                    tree, entries, entry_schema, schema_json, spec
                )
                rows = sum(e["data_file"]["record_count"] for e in entries)
                manifests = manifests + [
                    _manifest_list_entry(
                        mpath, mlen, last_seq, last_seq, snapshot_id,
                        len(entries), 0, 0, rows, 0, 0,
                        partitions=partition_summaries(
                            entries, partition_columns, schema
                        ),
                    )
                ]
                dv_entries = _delete_entries_for_adds(
                    tree, table, adds, schema, partition_columns,
                    snapshot_id, phys,
                )
                if dv_entries:
                    dpath, dlen = _write_manifest(
                        tree, dv_entries, entry_schema, schema_json, spec,
                        content="deletes",
                    )
                    manifests = manifests + [
                        _manifest_list_entry(
                            dpath, dlen, last_seq, last_seq, snapshot_id,
                            len(dv_entries), 0, 0,
                            sum(
                                e["data_file"]["record_count"]
                                for e in dv_entries
                            ),
                            0, 0, content=1,
                        )
                    ]
            op = (
                "append" if adds and not removes
                else "delete" if removes and not adds
                else "overwrite"
            )
            ml_path = _write_manifest_list(tree, snapshot_id, manifests)
            new_snaps.append(
                _snapshot_record(
                    snapshot_id, parent, last_seq, ts_ms, op, ml_path, v,
                    schema_id=cur_schema_id,
                )
            )
            parent = snapshot_id
        if not new_snaps:
            # only metadata-only commits: still advance delta-version
            new_snaps = []

    snapshots.extend(new_snaps)
    for s in new_snaps:
        snapshot_log.append(
            {"timestamp-ms": s["timestamp-ms"], "snapshot-id": s["snapshot-id"]}
        )
    current_snapshot_id = (
        snapshots[-1]["snapshot-id"] if snapshots else -1
    )

    metadata = {
        "format-version": 2,
        "table-uuid": table_uuid,
        "location": tree.root,
        "last-sequence-number": last_seq,
        "last-updated-ms": now_ms,
        "last-column-id": last_col_id,
        "current-schema-id": cur_schema_id,
        "schemas": schemas_list,
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": spec}],
        "last-partition-id": 999 + len(partition_columns),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {
            DELTA_VERSION_PROP: str(target),
            NAME_MAPPING_PROP: json.dumps(
                name_mapping(schema_json, aliases=phys)
            ),
        },
        "current-snapshot-id": current_snapshot_id,
        "snapshots": snapshots,
        "snapshot-log": snapshot_log[-100:],
        "metadata-log": metadata_log[-100:],
    }
    mpath, used = tree.put_metadata(
        version_counter, json.dumps(metadata, indent=2).encode()
    )
    tree.put("version-hint.text", str(used).encode())
    return mpath


def _read_hint(tree: _Tree) -> int:
    return int(tree.get("version-hint.text").decode().strip())


def _snapshot_record(
    snapshot_id: int, parent: Optional[int], seq: int, ts_ms: int,
    op: str, manifest_list: str, delta_version: int,
    schema_id: int = 0,
) -> dict:
    rec = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": ts_ms,
        "manifest-list": manifest_list,
        "summary": {"operation": op, "delta-version": str(delta_version)},
        "schema-id": schema_id,
    }
    if parent is not None:
        rec["parent-snapshot-id"] = parent
    return rec


def _write_manifest_list(tree: _Tree, snapshot_id: int, manifests: list[dict]) -> str:
    name = f"snap-{snapshot_id}-1-{_uuid.uuid4()}.avro"
    meta = {"format-version": "2", "snapshot-id": str(snapshot_id)}
    return tree.put(
        name, _avro.write_container(MANIFEST_LIST_SCHEMA, manifests, metadata=meta)
    )


def _read_manifest_list(tree: _Tree, path: str) -> list[dict]:
    _, _, records = _avro.read_container(tree.get(path))
    return records


def _rewrite_for_removes(
    tree: _Tree, manifests: list[dict], removed_abs: set[str],
    entry_schema: dict, schema_json: dict, spec_fields: list[dict],
    snapshot_id: int, seq: int,
    schema: Optional[T.StructType] = None,
    partition_columns: Optional[list[str]] = None,
) -> list[dict]:
    """Drop removed paths, touching only the manifests that contain them.
    In data manifests the match is on the entry's own file path; in delete
    manifests (content=1 entries) it is on the REFERENCED data path — a
    removed or DV-swapped data file takes its stale position deletes with
    it."""

    def _matches(e: dict) -> bool:
        if e["data_file"].get("content") == 1:
            return _delete_entry_target(e) in removed_abs
        return e["data_file"]["file_path"] in removed_abs

    out = []
    for m in manifests:
        _, _, entries = _avro.read_container(tree.get(m["manifest_path"]))
        hit = [e for e in entries if _matches(e)]
        if not hit:
            out.append(m)
            continue
        keep = [e for e in entries if not _matches(e)]
        if not keep:
            continue  # whole manifest gone
        for e in keep:
            # carried-forward entries must materialize their data sequence
            # number (inheritance only applies within the adding snapshot)
            e["status"] = EXISTING
            if e["sequence_number"] is None:
                e["sequence_number"] = m["sequence_number"]
        m_content = int(m.get("content") or 0)
        mpath, mlen = _write_manifest(
            tree, keep, entry_schema, schema_json, spec_fields,
            content="deletes" if m_content == 1 else "data",
        )
        rows = sum(e["data_file"]["record_count"] for e in keep)
        out.append(
            _manifest_list_entry(
                mpath, mlen, seq,
                min(e["sequence_number"] for e in keep),
                snapshot_id, 0, len(keep), len(hit), 0, rows,
                sum(e["data_file"]["record_count"] for e in hit),
                partitions=(
                    partition_summaries(keep, partition_columns, schema)
                    if schema is not None and partition_columns
                    else None
                ),
                content=m_content,
            )
        )
    return out


# ---- independent read-back path (used by tests and the CLI) ---------------

def read_file_list(table_root: str, backend=None) -> list[dict]:
    """Walk the Iceberg metadata tree the way a foreign reader would:
    version-hint -> metadata.json -> current snapshot's manifest list ->
    manifests -> live data files. Returns [{path, record_count,
    partition}]."""
    from ..protocol.storage import parse_table_uri

    if backend is None:
        table_root, backend = parse_table_uri(table_root)
    mdir = backend.join(table_root, "metadata")
    hint = int(backend.get_obj(backend.join(mdir, "version-hint.text")).decode())
    metadata = json.loads(
        backend.get_obj(backend.join(mdir, f"v{hint}.metadata.json"))
    )
    snap = next(
        s
        for s in metadata["snapshots"]
        if s["snapshot-id"] == metadata["current-snapshot-id"]
    )
    _, _, manifests = _avro.read_container(backend.get_obj(snap["manifest-list"]))
    files = []
    for m in manifests:
        if int(m.get("content") or 0) != 0:
            continue  # delete manifests are surfaced by read_delete_files
        _, _, entries = _avro.read_container(backend.get_obj(m["manifest_path"]))
        for e in entries:
            if e["status"] == DELETED or e["data_file"].get("content") == 1:
                continue
            files.append(
                {
                    "path": e["data_file"]["file_path"],
                    "record_count": e["data_file"]["record_count"],
                    "partition": e["data_file"]["partition"],
                }
            )
    return files


def read_delete_files(table_root: str, backend=None) -> list[dict]:
    """The current snapshot's position-delete files, the way a foreign
    reader resolves them: [{path, record_count, target}] where ``target``
    is the referenced data file (from the file_path column bounds)."""
    from ..protocol.storage import parse_table_uri

    if backend is None:
        table_root, backend = parse_table_uri(table_root)
    mdir = backend.join(table_root, "metadata")
    hint = int(backend.get_obj(backend.join(mdir, "version-hint.text")).decode())
    metadata = json.loads(
        backend.get_obj(backend.join(mdir, f"v{hint}.metadata.json"))
    )
    snap = next(
        s
        for s in metadata["snapshots"]
        if s["snapshot-id"] == metadata["current-snapshot-id"]
    )
    _, _, manifests = _avro.read_container(backend.get_obj(snap["manifest-list"]))
    out = []
    for m in manifests:
        if int(m.get("content") or 0) != 1:
            continue
        _, _, entries = _avro.read_container(backend.get_obj(m["manifest_path"]))
        for e in entries:
            if e["status"] == DELETED:
                continue
            out.append(
                {
                    "path": e["data_file"]["file_path"],
                    "record_count": e["data_file"]["record_count"],
                    "target": _delete_entry_target(e),
                }
            )
    return out


def expire_snapshots_referencing(table, removed_rel_paths) -> list[str]:
    """Expire exactly the Iceberg snapshots made unreadable by a vacuum —
    those whose manifests reference a reaped data file. Snapshots whose
    files are all still live keep their history (time travel / incremental
    Iceberg consumers stay intact). Bounded by metadata size: each distinct
    manifest is read once (they are shared across snapshots)."""
    tree = _Tree(table)
    current = tree.current_metadata()
    if current is None or not removed_rel_paths:
        return []
    removed_abs = {
        p if "://" in p or p.startswith("/") else tree.backend.join(tree.root, p)
        for p in removed_rel_paths
    }
    snaps = list(current.get("snapshots", []))
    manifest_paths: dict[str, Optional[set]] = {}

    def _paths_of(mpath: str) -> Optional[set]:
        if mpath not in manifest_paths:
            try:
                _, _, es = _avro.read_container(tree.get(mpath))
                manifest_paths[mpath] = {
                    e["data_file"]["file_path"]
                    for e in es
                    if e["data_file"].get("content") != 1
                }
            except Exception:
                manifest_paths[mpath] = None  # unreadable → unusable snapshot
        return manifest_paths[mpath]

    def _broken(s: dict) -> bool:
        try:
            manifests = _read_manifest_list(tree, s["manifest-list"])
        except Exception:
            return True
        for m in manifests:
            paths = _paths_of(m["manifest_path"])
            if paths is None or paths & removed_abs:
                return True
        return False

    # the current snapshot only references live files (vacuum never reaps
    # those), so it survives by construction — identified by id, not list
    # position (a foreign tool may reorder the snapshots array)
    cur_id = current.get("current-snapshot-id")
    expired = [s for s in snaps if s["snapshot-id"] != cur_id and _broken(s)]
    if not expired:
        return []
    keep = [s for s in snaps if s not in expired]
    return _drop_snapshots(tree, current, keep, expired)


def expire_snapshots(table, keep_last: int = 1) -> list[str]:
    """Expire all but the last ``keep_last`` Iceberg snapshots and delete
    the manifest lists / manifests only they reference (Iceberg's
    expire_snapshots maintenance). Bounded by metadata size — one read per
    manifest list, no data I/O. Returns the deleted metadata object
    paths."""
    tree = _Tree(table)
    current = tree.current_metadata()
    if current is None:
        return []
    snaps = list(current.get("snapshots", []))
    if keep_last < 1 or len(snaps) <= keep_last:
        return []
    keep, expired = snaps[-keep_last:], snaps[:-keep_last]
    return _drop_snapshots(tree, current, keep, expired)


def _drop_snapshots(
    tree: _Tree, current: dict, keep: list[dict], expired: list[dict]
) -> list[str]:
    referenced: set[str] = set()
    kept_delete_files: set[str] = set()
    for s in keep:
        for m in _read_manifest_list(tree, s["manifest-list"]):
            referenced.add(m["manifest_path"])
            if int(m.get("content") or 0) == 1:
                try:
                    _, _, es = _avro.read_container(tree.get(m["manifest_path"]))
                    kept_delete_files.update(e["data_file"]["file_path"] for e in es)
                except Exception:
                    pass
    deleted: list[str] = []
    for s in expired:
        try:
            manifests = _read_manifest_list(tree, s["manifest-list"])
        except Exception:
            manifests = []
        for m in manifests:
            p = m["manifest_path"]
            if p not in referenced:
                if int(m.get("content") or 0) == 1:
                    # reap position-delete parquets only this manifest used
                    try:
                        _, _, es = _avro.read_container(tree.get(p))
                        for e in es:
                            dp = e["data_file"]["file_path"]
                            if dp not in kept_delete_files:
                                try:
                                    tree.backend.delete_obj(dp)
                                    deleted.append(dp)
                                except Exception:
                                    pass
                    except Exception:
                        pass
                try:
                    tree.backend.delete_obj(p)
                    deleted.append(p)
                except Exception:
                    pass
        try:
            tree.backend.delete_obj(s["manifest-list"])
            deleted.append(s["manifest-list"])
        except Exception:
            pass
    kept_ids = {s["snapshot-id"] for s in keep}
    hint = _read_hint(tree)
    metadata = dict(current)
    metadata["snapshots"] = keep
    metadata["snapshot-log"] = [
        e for e in current.get("snapshot-log", []) if e["snapshot-id"] in kept_ids
    ]
    _mpath, used = tree.put_metadata(
        hint + 1, json.dumps(metadata, indent=2).encode()
    )
    tree.put("version-hint.text", str(used).encode())
    return deleted


# ---- Iceberg -> Delta conversion (the inverse interop path) ----------------

_ICE_PRIMS = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
}


def _spark_type_from_iceberg(t: Any) -> T.DataType:
    if isinstance(t, str):
        if t in _ICE_PRIMS:
            return _ICE_PRIMS[t]
        m = t.replace(" ", "")
        if m.startswith("decimal(") and m.endswith(")"):
            p, s = m[len("decimal("):-1].split(",")
            return T.DecimalType(int(p), int(s))
        raise IcebergConversionError(f"unsupported Iceberg type: {t!r}")
    kind = t.get("type")
    if kind == "struct":
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    _spark_type_from_iceberg(f["type"]),
                    nullable=not f.get("required", False),
                )
                for f in t["fields"]
            ]
        )
    if kind == "list":
        return T.ArrayType(
            _spark_type_from_iceberg(t["element"]),
            containsNull=not t.get("element-required", False),
        )
    if kind == "map":
        return T.MapType(
            _spark_type_from_iceberg(t["key"]),
            _spark_type_from_iceberg(t["value"]),
            valueContainsNull=not t.get("value-required", False),
        )
    raise IcebergConversionError(f"unsupported Iceberg type: {t!r}")


def _bound_value(b: Optional[bytes], dt: T.DataType) -> Any:
    """Inverse of bound_bytes, emitting Delta stats-JSON shapes (dates and
    timestamps as ISO strings, numbers as numbers)."""
    if b is None:
        return None
    b = bytes(b)
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return struct.unpack("<i", b)[0]
    if isinstance(dt, T.LongType):
        return struct.unpack("<q", b)[0]
    if isinstance(dt, T.FloatType):
        return struct.unpack("<f", b)[0]
    if isinstance(dt, T.DoubleType):
        return struct.unpack("<d", b)[0]
    if isinstance(dt, T.BooleanType):
        return b == b"\x01"
    if isinstance(dt, T.StringType):
        return b.decode("utf-8", errors="replace")
    if isinstance(dt, T.DateType):
        return (_EPOCH + _dt.timedelta(days=struct.unpack("<i", b)[0])).isoformat()
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        micros = struct.unpack("<q", b)[0]
        return (
            _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=micros)
        ).isoformat(sep=" ")
    if isinstance(dt, T.DecimalType):
        from decimal import Decimal

        unscaled = int.from_bytes(b, "big", signed=True)
        return float(Decimal(unscaled).scaleb(-dt.scale))
    return None


def _partition_string(value: Any, dt: T.DataType) -> Optional[str]:
    """Iceberg manifest partition value -> Delta partitionValues string."""
    if value is None:
        return None
    if isinstance(dt, T.DateType):
        return (_EPOCH + _dt.timedelta(days=int(value))).isoformat()
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return (
            _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=int(value))
        ).isoformat(sep=" ")
    if isinstance(dt, T.BooleanType):
        return "true" if value else "false"
    return str(value)


def convert_iceberg_to_delta(
    spark,
    table_root: str,
    name: Optional[str] = None,
    description: Optional[str] = None,
    configuration: Optional[dict[str, str]] = None,
):
    """``CONVERT TO DELTA iceberg.`/dir``` — build a Delta log over an
    existing Apache Iceberg table IN PLACE, zero data movement (the inverse
    of UniForm). Schema, partition spec (identity transforms), per-file
    record counts, and min/max/null-count stats all come from the Iceberg
    metadata tree — no parquet footer is opened, so the conversion cost is
    proportional to metadata, not data (a 100 TB table converts in seconds).
    The Iceberg tree is left untouched; enable UniForm afterwards to keep
    mirroring new commits back into it."""
    import time as _time

    from ..protocol.actions import (
        AddAction,
        CommitInfoAction,
        MetaDataAction,
        ProtocolAction,
    )
    from ..protocol.log import DeltaLog
    from ..protocol.schema import spark_to_schema_string
    from ..protocol.storage import parse_table_uri
    from ..table import DeltaTable
    from ..writer import TableAlreadyExistsError, _stats_json

    root, backend = parse_table_uri(table_root)
    log = DeltaLog(table_root)
    if log.latest_version() is not None:
        raise TableAlreadyExistsError(f"{table_root} is already a Delta table")

    mdir = backend.join(root, "metadata")
    try:
        hint = int(backend.get_obj(backend.join(mdir, "version-hint.text")).decode())
    except Exception as e:
        raise IcebergConversionError(
            f"{table_root} has no Iceberg metadata tree (version-hint.text)"
        ) from e
    md = json.loads(backend.get_obj(backend.join(mdir, f"v{hint}.metadata.json")))
    if md.get("format-version") not in (1, 2):
        raise IcebergConversionError(
            f"unsupported Iceberg format-version: {md.get('format-version')}"
        )
    # v1 metadata carries singular 'schema'/'partition-spec'; v2 the lists
    if "schemas" in md:
        schema_json = next(
            s for s in md["schemas"] if s["schema-id"] == md["current-schema-id"]
        )
    else:
        schema_json = md["schema"]
    schema = _spark_type_from_iceberg(
        {"type": "struct", "fields": schema_json["fields"]}
    )
    if "partition-specs" in md:
        spec = next(
            p
            for p in md["partition-specs"]
            if p["spec-id"] == md.get("default-spec-id", 0)
        )
    else:
        spec = {"spec-id": 0, "fields": md.get("partition-spec", [])}
    for f in spec["fields"]:
        if f["transform"] != "identity":
            raise IcebergConversionError(
                f"partition transform {f['transform']!r} on {f['name']!r} has "
                "no Delta equivalent (only identity partitioning converts)"
            )
    partition_by = [f["name"] for f in spec["fields"]]
    fields_by_id = {f["id"]: f for f in schema_json["fields"]}

    snap = next(
        s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"]
    )
    if "manifest-list" in snap:
        _, _, manifests = _avro.read_container(
            backend.get_obj(snap["manifest-list"])
        )
    elif "manifests" in snap:
        # original v1 form: the snapshot embeds manifest paths directly
        manifests = [
            {"manifest_path": p, "content": 0} for p in snap["manifests"]
        ]
    else:
        raise IcebergConversionError(
            "snapshot carries neither 'manifest-list' nor 'manifests'"
        )
    now_ms = int(_time.time() * 1000)

    # position-delete files -> Delta deletion vectors (the MoR state crosses
    # formats both ways); equality deletes have no Delta equivalent
    delete_positions: dict[str, list[int]] = {}
    for m in manifests:
        if int(m.get("content") or 0) != 1:
            continue
        _, _, dentries = _avro.read_container(backend.get_obj(m["manifest_path"]))
        for e in dentries:
            if e["status"] == DELETED:
                continue
            if e["data_file"].get("content") == 2:
                raise IcebergConversionError(
                    "equality-delete files have no Delta equivalent; "
                    "rewrite the Iceberg table to position deletes first"
                )
            import io as _io2

            import pyarrow.parquet as _pq2

            dtab = _pq2.read_table(
                _io2.BytesIO(backend.get_obj(e["data_file"]["file_path"]))
            )
            for fp, pos in zip(
                dtab.column("file_path").to_pylist(),
                dtab.column("pos").to_pylist(),
            ):
                delete_positions.setdefault(fp, []).append(pos)

    adds = []
    for m in manifests:
        if int(m.get("content") or 0) != 0:
            continue
        _, _, entries = _avro.read_container(backend.get_obj(m["manifest_path"]))
        for e in entries:
            if e["status"] == DELETED or e["data_file"].get("content") == 1:
                continue
            dfile = e["data_file"]
            fpath = dfile["file_path"]
            rel = fpath
            prefix = root.rstrip("/") + "/"
            if fpath.startswith(prefix):
                rel = fpath[len(prefix):]
            lower = {kv["key"]: kv["value"] for kv in (dfile.get("lower_bounds") or [])}
            upper = {kv["key"]: kv["value"] for kv in (dfile.get("upper_bounds") or [])}
            nullc = {
                kv["key"]: kv["value"]
                for kv in (dfile.get("null_value_counts") or [])
            }
            mins, maxs, nulls = {}, {}, {}
            for fid, fld in fields_by_id.items():
                dt = _spark_type_from_iceberg(fld["type"])
                lo = _bound_value(lower.get(fid), dt)
                hi = _bound_value(upper.get(fid), dt)
                if lo is not None:
                    mins[fld["name"]] = lo
                if hi is not None:
                    maxs[fld["name"]] = hi
                if fid in nullc:
                    nulls[fld["name"]] = nullc[fid]
            pvals = {
                c: _partition_string(
                    (dfile.get("partition") or {}).get(c), schema[c].dataType
                )
                for c in partition_by
            }
            adds.append(
                AddAction(
                    path=rel,
                    size=int(dfile.get("file_size_in_bytes") or 0),
                    partition_values=pvals,
                    modification_time=now_ms,
                    data_change=True,
                    stats=_stats_json(dfile["record_count"], mins, maxs, nulls),
                )
            )
    if not adds:
        raise IcebergConversionError("the Iceberg snapshot references no data files")

    has_dvs = False
    if delete_positions:
        import dataclasses as _dcv

        from ..protocol.dv import build_descriptors

        by_add_path: dict[str, list[int]] = {}
        prefix = root.rstrip("/") + "/"
        for fp, positions in delete_positions.items():
            rel = fp[len(prefix):] if fp.startswith(prefix) else fp
            by_add_path[rel] = sorted(set(positions))
        descriptors, shared = build_descriptors(by_add_path)
        if shared is not None:
            rel_name, body = shared
            backend.put_obj(backend.join(root, rel_name), body)
        for i, a in enumerate(adds):
            d = descriptors.get(a.path)
            if d is not None:
                has_dvs = True
                adds[i] = _dcv.replace(a, deletion_vector=d)

    import uuid as _u2

    meta = MetaDataAction(
        id=str(_u2.uuid4()),
        schema_string=spark_to_schema_string(schema),
        partition_columns=partition_by,
        name=name,
        description=description,
        created_time=now_ms,
        configuration=configuration or {},
    )
    info = CommitInfoAction(
        info={
            "timestamp": now_ms,
            "operation": "CONVERT",
            "operationParameters": {
                "partitionBy": partition_by,
                "sourceFormat": "iceberg",
                "icebergSnapshotId": snap["snapshot-id"],
            },
            "operationMetrics": {
                "numConvertedFiles": str(len(adds)),
                "numOutputRows": str(sum(a.num_records or 0 for a in adds)),
            },
        }
    )
    features = []
    if any(isinstance(f.dataType, T.TimestampNTZType) for f in schema.fields):
        features.append("timestampNtz")
    if has_dvs:
        features.append("deletionVectors")
    proto = (
        ProtocolAction(
            3, 7, reader_features=sorted(features), writer_features=sorted(features)
        )
        if features
        else ProtocolAction(1, 2)
    )
    tmp = log.write_tmp_commit([info, proto, meta, *adds], _u2.uuid4().hex)
    log.try_commit(tmp, 0)
    return DeltaTable(table_root)


def attach_parquet_field_ids(df, table_schema: T.StructType):
    """Stamp ``parquet.field.id`` metadata (the Iceberg schema's ids) onto
    the outgoing DataFrame at EVERY nesting level — Spark's parquet writer
    turns these into real ``PARQUET:field_id`` footer entries, so files
    written after UniForm enablement are id-resolvable by Iceberg readers
    without the name mapping.

    All-or-nothing by spec: a file carrying ANY field ids gets no
    name-mapping fallback from Iceberg readers, so partial stamping would
    NULL out the unstamped fields for them. Arrays/maps need element/key/
    value ids Spark field metadata cannot express, and a frame whose
    columns don't exactly match the schema can't be stamped consistently —
    in both cases the frame passes through untouched and those files stay
    on the name-mapping path (correct, just less direct)."""

    def _has_container(dt: T.DataType) -> bool:
        if isinstance(dt, (T.ArrayType, T.MapType)):
            return True
        if isinstance(dt, T.StructType):
            return any(_has_container(f.dataType) for f in dt.fields)
        return False

    if set(df.columns) != set(table_schema.names) or _has_container(table_schema):
        return df

    from pyspark.sql import functions as F

    sj, _ = iceberg_schema(table_schema)

    # alias(metadata=...) is the only metadata channel that survives a
    # write planned over a SCAN (DataFrame.to()'s schema metadata does
    # not); nested struct fields rebuild through F.struct with aliased
    # children, null structs preserved via the when() guard
    def _expr(col, f: T.StructField, jf: dict):
        if isinstance(f.dataType, T.StructType):
            rebuilt = F.struct(
                *[
                    _expr(col.getField(sub.name), sub, jsub)
                    for sub, jsub in zip(
                        f.dataType.fields, jf["type"]["fields"]
                    )
                ]
            )
            inner = F.when(col.isNull(), F.lit(None)).otherwise(rebuilt)
        else:
            inner = col
        return inner.alias(f.name, metadata={"parquet.field.id": jf["id"]})

    return df.select(
        *[
            _expr(F.col(f.name), f, jf)
            for f, jf in zip(table_schema.fields, sj["fields"])
        ]
    )
