"""Snapshot state fold over log actions.

Replay semantics match the reference's ``process_action``
(``rust/src/delta.rs:1418-1449``): add appends; remove drops the path from the
active set and records a tombstone; metaData wholly replaces; txn upserts the
per-app watermark; protocol replaces versions; commitInfo accumulates.

File actions are held as Arrow columns, not as one Python object per file:

- **Checkpoint base.** A checkpoint's add and remove rows stay as pyarrow
  decoded them, projected onto :data:`ADD_SCHEMA` / :data:`REMOVE_SCHEMA`.
  The base is immutable and shared by every snapshot folded from it, so an
  incremental refresh copies only the tail.
- **Commit tail.** Commits after the checkpoint fold into an overlay: path →
  last action, in fold order, plus the set of paths the tail took out of the
  map. Reading the state reconciles the overlay with the base by path; the
  last action per path wins, and the order is the order a ``dict`` keyed by
  path would have (a re-add keeps its slot, a re-add after a remove moves to
  the end).

Aggregates (paths, sizes, row counts, stats, the ``.crc`` payload,
checkpoints) read the columns; ``AddAction``/``RemoveAction`` objects are
built only for callers that iterate actions, once per row.
"""

from __future__ import annotations

import json
from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field, replace
from typing import Any, Iterable, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .actions import (
    Action,
    AddAction,
    CdcAction,
    CommitInfoAction,
    DomainMetadataAction,
    MetaDataAction,
    ProtocolAction,
    RemoveAction,
    TxnAction,
)
from .stats import FileStats, stats_schema

_STR_MAP = pa.map_(pa.string(), pa.string())
DV_TYPE = pa.struct(
    [
        ("storageType", pa.string()),
        ("pathOrInlineDv", pa.string()),
        ("offset", pa.int64()),
        ("sizeInBytes", pa.int64()),
        ("cardinality", pa.int64()),
        ("maxRowIndex", pa.int64()),
        # legacy descriptor (storageType "d"): position-parquet dirs
        ("paths", pa.list_(pa.string())),
    ]
)
ADD_SCHEMA = pa.schema(
    [
        ("path", pa.string()),
        ("partitionValues", _STR_MAP),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
        ("stats", pa.string()),
        ("tags", _STR_MAP),
        ("deletionVector", DV_TYPE),
        ("baseRowId", pa.int64()),
        ("defaultRowCommitVersion", pa.int64()),
    ]
)
REMOVE_SCHEMA = pa.schema(
    [
        ("path", pa.string()),
        ("deletionTimestamp", pa.int64()),
        ("dataChange", pa.bool_()),
        ("extendedFileMetadata", pa.bool_()),
        ("partitionValues", _STR_MAP),
        ("size", pa.int64()),
        ("tags", _STR_MAP),
        ("deletionVector", DV_TYPE),
        ("baseRowId", pa.int64()),
        ("defaultRowCommitVersion", pa.int64()),
    ]
)
_SCHEMAS = {AddAction: ADD_SCHEMA, RemoveAction: REMOVE_SCHEMA}


# ---- checkpoint columns → the canonical schemas ------------------------------

def _conform(arr: pa.Array, typ: pa.DataType) -> pa.Array:
    """``arr`` as ``typ``. Structs match by field name (absent fields read
    null); a struct where ``typ`` is a map — ``partitionValues``/``tags`` of
    a writer that inferred the column from dicts — becomes a map."""
    if arr.type == typ:
        return arr
    if pa.types.is_struct(typ) and pa.types.is_struct(arr.type):
        names = {f.name for f in arr.type}
        children = [
            _conform(arr.field(f.name), f.type) if f.name in names else pa.nulls(len(arr), f.type)
            for f in typ
        ]
        return pa.StructArray.from_arrays(children, fields=list(typ), mask=arr.is_null())
    if pa.types.is_map(typ) and pa.types.is_struct(arr.type):
        return _struct_to_map(arr, typ)
    return arr.cast(typ)


def _struct_to_map(arr: pa.StructArray, typ: pa.MapType) -> pa.Array:
    valid = arr.is_valid()
    dense = arr.filter(valid)
    n, k = len(dense), dense.type.num_fields
    items = pa.concat_arrays(
        [dense.field(i).cast(typ.item_type) for i in range(k)] or [pa.array([], typ.item_type)]
    )
    # field-major children → row-major entries
    items = items.take(pa.array(np.arange(n * k).reshape(k, n).T.ravel()))
    keys = pa.array([f.name for f in dense.type] * n, typ.key_type)
    out = pa.MapArray.from_arrays(
        pa.array(np.arange(n + 1, dtype=np.int32) * k), keys, items, type=typ
    )
    if n == len(arr):
        return out
    at = np.cumsum(valid.to_numpy(zero_copy_only=False)) - 1
    return out.take(pa.array(at, mask=arr.is_null().to_numpy(zero_copy_only=False)))


def file_action_table(column, schema: pa.Schema) -> pa.Table:
    """One checkpoint column (``add`` or ``remove``) → its rows that carry a
    path, projected onto ``schema``. Stats written only as ``stats_parsed``
    (``writeStatsAsJson=false``) are turned back into JSON strings."""
    arr = column.combine_chunks() if isinstance(column, pa.ChunkedArray) else column
    arr = arr.filter(pc.is_valid(pc.struct_field(arr, "path")))
    table = pa.Table.from_arrays(_conform(arr, pa.struct(list(schema))).flatten(), schema=schema)
    has_parsed = arr.type.get_field_index("stats_parsed") >= 0
    if "stats" in schema.names and has_parsed and table["stats"].null_count:
        parsed = arr.field("stats_parsed").to_pylist()
        stats = [
            s if s is not None or p is None else json.dumps(p, default=str, separators=(",", ":"))
            for s, p in zip(table["stats"].to_pylist(), parsed)
        ]
        table = table.set_column(
            schema.get_field_index("stats"), "stats", pa.array(stats, pa.string())
        )
    return table


def _actions_table(actions: Sequence[Action], schema: pa.Schema) -> pa.Table:
    return pa.Table.from_pylist([a.to_json_dict() for a in actions], schema=schema)


def _build(cls, table: pa.Table) -> list[Action]:
    """Canonical rows → action objects (the inverse of :func:`_actions_table`)."""
    cols = [table.column(name).to_pylist() for name in table.column_names]
    if cls is AddAction:
        return [
            AddAction(
                path=p,
                size=size or 0,
                partition_values=dict(pv) if pv else {},
                modification_time=mt or 0,
                data_change=True if dc is None else dc,
                stats=st,
                tags=None if tags is None else dict(tags),
                deletion_vector=_dv(dv),
                base_row_id=brid,
                default_row_commit_version=drcv,
            )
            for p, pv, size, mt, dc, st, tags, dv, brid, drcv in zip(*cols)
        ]
    return [
        RemoveAction(
            path=p,
            deletion_timestamp=ts,
            data_change=True if dc is None else dc,
            extended_file_metadata=efm,
            partition_values=None if pv is None else dict(pv),
            size=size,
            tags=None if tags is None else dict(tags),
            deletion_vector=_dv(dv),
            base_row_id=brid,
            default_row_commit_version=drcv,
        )
        for p, ts, dc, efm, pv, size, tags, dv, brid, drcv in zip(*cols)
    ]


def _dv(d: Optional[dict]) -> Optional[dict]:
    # the descriptor struct is a superset of every storage type's fields;
    # absent keys must stay absent (offset=None would break decoding)
    return None if d is None else {k: v for k, v in d.items() if v is not None}


@dataclass
class CheckpointActions:
    """A checkpoint as the fold consumes it: the singleton actions
    (protocol, metaData, txn, domainMetadata) as objects, the add and
    remove rows as Arrow tables in the canonical schemas."""

    actions: list[Action]
    adds: pa.Table
    removes: pa.Table

    def __len__(self) -> int:
        return len(self.actions) + self.adds.num_rows + self.removes.num_rows


# ---- the reconciled file set ---------------------------------------------------

class _Base:
    """Immutable checkpoint rows of one kind. Actions built from a row are
    kept, so every reader of the base sees the same object."""

    def __init__(self, cls, table: pa.Table):
        self.cls = cls
        self.table = table
        self._built: dict[int, Action] = {}
        self._index: Optional[dict[str, int]] = None

    def actions(self, rows: list[int]) -> list[Action]:
        missing = [r for r in dict.fromkeys(rows) if r not in self._built]
        if missing:
            self._built.update(zip(missing, _build(self.cls, self.table.take(missing))))
        return [self._built[r] for r in rows]

    def row(self, path: str) -> Optional[int]:
        if self._index is None:
            self._index = {p: i for i, p in enumerate(self.table.column("path").to_pylist())}
        return self._index.get(path)


class _View:
    """The live rows of a :class:`FileActions` in fold order. ``origin[i]``
    is a base row (≥ 0) or ``-1 - k`` for ``extra[k]``, an overlay action."""

    def __init__(self, cls, base: Optional[_Base], origin: np.ndarray, extra: list[Action]):
        self.cls = cls
        self.base = base
        self.origin = origin
        self.extra = extra
        self._table: Optional[pa.Table] = None
        self._stats: Optional[tuple[Optional[pa.Schema], FileStats]] = None

    @classmethod
    def fold(cls, fa: "FileActions") -> "_View":
        base, overlay = fa._base, fa._overlay
        rows = np.arange(base.table.num_rows if base else 0)
        if base is not None and fa._popped:
            hidden = pc.is_in(base.table["path"], value_set=pa.array(list(fa._popped), pa.string()))
            rows = np.flatnonzero(~np.asarray(hidden))
        origin = rows.astype(np.int64)
        extra = list(overlay.values())
        tail = np.arange(len(extra))
        if extra and base is not None:
            at = np.asarray(
                pc.index_in(pa.array(list(overlay), pa.string()), value_set=base.table["path"])
                .fill_null(-1)
            )
            pos = np.minimum(np.searchsorted(rows, at), max(len(rows) - 1, 0))
            # an overlay path whose base row is still visible takes its slot
            in_place = (at >= 0) & (rows[pos] == at) if len(rows) else np.zeros(len(at), bool)
            origin[pos[in_place]] = -1 - np.flatnonzero(in_place)
            tail = np.flatnonzero(~in_place)
        return cls(fa._cls, base, np.concatenate([origin, -1 - tail]), extra)

    def table(self) -> pa.Table:
        if self._table is None:
            n_base = self.base.table.num_rows if self.base else 0
            if not self.extra and len(self.origin) == n_base:
                self._table = self.base.table if self.base else _SCHEMAS[self.cls].empty_table()
            else:
                parts = [self.base.table] if self.base else []
                parts.append(_actions_table(self.extra, _SCHEMAS[self.cls]))
                at = np.where(self.origin >= 0, self.origin, n_base - 1 - self.origin)
                self._table = pa.concat_tables(parts).take(at).combine_chunks()
        return self._table

    def stats(self, schema: Optional[pa.Schema]) -> FileStats:
        if self._stats is None or self._stats[0] != schema:
            self._stats = (schema, FileStats.parse(self.table()["stats"], schema))
        return self._stats[1]

    def actions(self, positions: np.ndarray) -> list[Action]:
        origin = self.origin[positions]
        rows = origin[origin >= 0].tolist()
        built = iter(self.base.actions(rows) if rows else ())
        return [next(built) if o >= 0 else self.extra[-1 - o] for o in origin.tolist()]


class FileActions(Mapping):
    """path → action over a snapshot's live adds (or its tombstones): the
    shared checkpoint base reconciled with the commit tail's overlay."""

    def __init__(self, cls, base: Optional[pa.Table] = None):
        self._cls = cls
        self._base = _Base(cls, base) if base is not None and base.num_rows else None
        self._overlay: dict[str, Action] = {}
        # paths the tail took out of the map: their base rows stay hidden
        self._popped: set[str] = set()
        self._view: Optional[_View] = None

    # ---- fold ----------------------------------------------------------------
    def put(self, action: Action) -> None:
        self._overlay[action.path] = action
        self._view = None

    def pop(self, path: str) -> None:
        self._overlay.pop(path, None)
        if self._base is not None:
            self._popped.add(path)
        self._view = None

    def __setitem__(self, path: str, action: Action) -> None:
        if path != action.path:
            raise KeyError(f"{path!r} is not the action's path {action.path!r}")
        self.put(action)

    def copy(self) -> "FileActions":
        out = FileActions(self._cls)
        out._base = self._base
        out._overlay = dict(self._overlay)
        out._popped = set(self._popped)
        return out

    # ---- reads -----------------------------------------------------------------
    def _resolved(self) -> _View:
        if self._view is None:
            self._view = _View.fold(self)
        return self._view

    def select(self, stats_schema: Optional[pa.Schema] = None) -> "Files":
        view = self._resolved()
        return Files(view, np.arange(len(view.origin)), stats_schema)

    def __len__(self) -> int:
        return len(self._resolved().origin)

    def __iter__(self):
        return iter(self.select().paths())

    def __contains__(self, path) -> bool:
        if path in self._overlay:
            return True
        return (
            self._base is not None
            and path not in self._popped
            and self._base.row(path) is not None
        )

    def __getitem__(self, path: str) -> Action:
        if path in self._overlay:
            return self._overlay[path]
        if path in self:
            return self._base.actions([self._base.row(path)])[0]
        raise KeyError(path)

    def values(self) -> list[Action]:
        return list(self.select())

    def items(self) -> list[tuple[str, Action]]:
        files = self.select()
        return list(zip(files.paths(), files))


class Files(Sequence):
    """An ordered selection of live file actions. Rows stay columns:
    ``paths()``, ``stats()`` and the sums read the Arrow table, and an action
    object is built only when an element is read."""

    def __init__(self, view: _View, positions: np.ndarray, stats_schema: Optional[pa.Schema]):
        self._view = view
        self._positions = positions
        self._stats_schema = stats_schema

    @classmethod
    def of(cls, adds: Iterable[AddAction]) -> "Files":
        """A plain list of actions as a selection (stats parsed per file)."""
        adds = list(adds)
        view = _View(AddAction, None, -1 - np.arange(len(adds)), adds)
        return cls(view, np.arange(len(adds)), None)

    def __len__(self) -> int:
        return len(self._positions)

    def __getitem__(self, i):
        if isinstance(i, slice):
            return self._view.actions(self._positions[i])
        return self._view.actions(self._positions[[i]])[0]

    def __iter__(self):
        return iter(self._view.actions(self._positions))

    def __eq__(self, other) -> bool:
        # compares as the list of actions it stands for
        if isinstance(other, (list, Files)):
            return list(self) == list(other)
        return NotImplemented

    __hash__ = None  # type: ignore[assignment]

    def where(self, mask: Sequence[bool]) -> "Files":
        return Files(
            self._view, self._positions[np.asarray(mask, dtype=bool)], self._stats_schema
        )

    def table(self) -> pa.Table:
        table = self._view.table()
        if len(self._positions) == table.num_rows:
            return table  # positions are always ascending: the whole view
        return table.take(self._positions)

    def paths(self) -> list[str]:
        return self.table()["path"].to_pylist()

    def stats(self) -> FileStats:
        stats = self._view.stats(self._stats_schema)
        if len(self._positions) == len(stats):
            return stats
        return stats.take(self._positions)

    def partition_values(self) -> list[dict[str, Optional[str]]]:
        return [dict(pv) if pv else {} for pv in self.table()["partitionValues"].to_pylist()]

    # The sums read the base's columns and the overlay's objects directly:
    # a commit's .crc needs them, and building the whole table per commit
    # would cost O(files) Arrow conversions on a log with no checkpoint yet.
    def _split(self) -> tuple[np.ndarray, list[Action]]:
        """The selected base rows and the selected overlay actions."""
        view = self._view
        origin = view.origin[self._positions]
        if len(origin) == len(view.origin):
            return origin[origin >= 0], view.extra  # whole view: all overlay is live
        return origin[origin >= 0], [view.extra[-1 - o] for o in origin[origin < 0].tolist()]

    def _base_sum(self, rows: np.ndarray, values) -> int:
        """Σ over the selected base ``rows`` of ``values(base table)``."""
        if not len(rows):
            return 0
        v = values(self._view.base.table)
        return pc.sum(v.take(rows) if len(rows) < len(v) else v).as_py() or 0

    def size_bytes(self) -> int:
        rows, extra = self._split()
        return self._base_sum(rows, lambda t: t["size"]) + sum(a.size or 0 for a in extra)

    def dv_count(self) -> int:
        rows, extra = self._split()
        base = self._base_sum(rows, lambda t: t["deletionVector"].is_valid())
        return base + sum(1 for a in extra if a.deletion_vector)

    def dv_cardinality(self) -> int:
        rows, extra = self._split()
        base = self._base_sum(rows, lambda t: pc.struct_field(t["deletionVector"], "cardinality"))
        return base + sum(
            a.deletion_vector.get("cardinality") or 0 for a in extra if a.deletion_vector
        )


# ---- the state ---------------------------------------------------------------------

@dataclass
class TableState:
    """Materialized snapshot state (cf. ``DeltaTableState``, ``rust/src/delta.rs:324-335``)."""

    # path → AddAction / RemoveAction, in fold order
    files: FileActions = field(default_factory=lambda: FileActions(AddAction))
    tombstones: FileActions = field(default_factory=lambda: FileActions(RemoveAction))
    commit_infos: list[dict[str, Any]] = field(default_factory=list)
    app_transaction_version: dict[str, int] = field(default_factory=dict)
    min_reader_version: int = 0
    min_writer_version: int = 0
    reader_features: Optional[list[str]] = None
    writer_features: Optional[list[str]] = None
    metadata: Optional[MetaDataAction] = None
    # domain → configuration JSON string (latest wins; removed tombstones)
    domain_metadata: dict[str, str] = field(default_factory=dict)

    def apply(self, action: Action) -> None:
        if isinstance(action, AddAction):
            # re-add supersedes a prior tombstone for the same path
            self.tombstones.pop(action.path)
            self.files.put(action)
        elif isinstance(action, RemoveAction):
            self.files.pop(action.path)
            self.tombstones.put(action)
        elif isinstance(action, MetaDataAction):
            self.metadata = action
        elif isinstance(action, TxnAction):
            self.app_transaction_version[action.app_id] = action.version
        elif isinstance(action, ProtocolAction):
            self.min_reader_version = action.min_reader_version
            self.min_writer_version = action.min_writer_version
            self.reader_features = action.reader_features
            self.writer_features = action.writer_features
        elif isinstance(action, CommitInfoAction):
            self.commit_infos.append(action.info)
        elif isinstance(action, CdcAction):
            pass  # change-data files are not part of the active data set
        elif isinstance(action, DomainMetadataAction):
            if action.removed:
                self.domain_metadata.pop(action.domain, None)
            else:
                self.domain_metadata[action.domain] = action.configuration
        else:  # pragma: no cover
            raise TypeError(f"unknown action {type(action)}")

    def apply_all(self, actions: Iterable[Action] | CheckpointActions) -> None:
        if isinstance(actions, CheckpointActions):
            # a checkpoint is the whole file state at its version: its rows
            # become the base, kept as columns
            if self.files or self.tombstones:
                raise ValueError("a checkpoint folds only into an empty state")
            self.files = FileActions(AddAction, actions.adds)
            self.tombstones = FileActions(RemoveAction, actions.removes)
            actions = actions.actions
        for a in actions:
            self.apply(a)

    def copy(self) -> "TableState":
        """A state that folds on independently of this one; the checkpoint
        base is shared, so the copy costs O(tail), not O(files)."""
        return replace(
            self,
            files=self.files.copy(),
            tombstones=self.tombstones.copy(),
            commit_infos=list(self.commit_infos),
            app_transaction_version=dict(self.app_transaction_version),
            reader_features=None if self.reader_features is None else list(self.reader_features),
            writer_features=None if self.writer_features is None else list(self.writer_features),
            domain_metadata=dict(self.domain_metadata),
        )

    def live_files(self) -> Files:
        """Every live add, as columns; stats parse with the table schema."""
        schema = None
        if self.metadata is not None:
            mode = (self.metadata.configuration or {}).get("delta.columnMapping.mode") or "none"
            schema = stats_schema(self.metadata.schema_string, mode != "none")
        return self.files.select(schema)

    @property
    def file_paths(self) -> list[str]:
        return self.files.select().paths()
