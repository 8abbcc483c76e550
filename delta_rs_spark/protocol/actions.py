"""Delta transaction-log action types.

The Delta log is newline-delimited JSON; each line is an object with exactly
one of the keys ``add | remove | metaData | txn | protocol | commitInfo``.
Semantics follow the reference engine's action model
(``rust/src/action.rs:147-182,369-386,505-521,609-616,662-669,706-721``) —
re-expressed as plain Python dataclasses because the log is small,
driver-side state; the data plane stays in Spark.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Optional, Sequence

# Vendor feature token tables got from pre-round-3 builds, whose legacy
# descriptor ({storageType:'d', paths:[...position-parquet dirs]}) is not
# the spec's RoaringBitmap format — the unknown token makes conformant
# readers fail fast with "unsupported table feature" instead of misreading.
# Current builds write spec-format DVs (protocol/dv.py) and advertise the
# spec's own "deletionVectors" token; this constant remains so legacy
# tables keep opening (our reader accepts both tokens and both formats).
DV_FEATURE_NAME = "deltaRsSpark.deletionVectors"


def string_map(m: dict) -> dict[str, Optional[str]]:
    """A caller's map as the protocol's string→string map: ``True`` is
    ``"true"``, ``5`` is ``"5"``; nulls stay null. Table properties may be
    given as Python values; the log and the checkpoint's typed map column
    hold strings only, as the stored configuration read back does."""
    return {
        k: v if v is None or isinstance(v, str)
        else ("true" if v else "false") if isinstance(v, bool)
        else str(v)
        for k, v in m.items()
    }


@dataclass
class Format:
    provider: str = "parquet"
    options: dict[str, str] = field(default_factory=dict)

    def to_json_dict(self) -> dict[str, Any]:
        return {"provider": self.provider, "options": string_map(self.options)}

    @classmethod
    def from_json_dict(cls, d: dict[str, Any]) -> "Format":
        return cls(provider=d.get("provider", "parquet"), options=d.get("options") or {})


@dataclass
class AddAction:
    """A data file that is part of the table snapshot.

    ``partition_values`` are *strings* (Hive convention); ``stats`` is a JSON
    string with numRecords / minValues / maxValues / nullCount, possibly
    nested (cf. reference ``rust/src/action.rs:113-127``).

    ``deletion_vector`` (merge-on-read deletes; public Delta protocol's
    ``deletionVector`` on add/remove — the reference predates the feature)
    marks rows of this file as logically deleted without rewriting it. The
    descriptor is the SPEC format (``protocol/dv.py``): ``{"storageType":
    "u"|"i"|"p", "pathOrInlineDv": <z85 uuid / inline bitmap / abs path>,
    "offset": O, "sizeInBytes": S, "cardinality": N}`` over a RoaringBitmap
    of row positions; the pre-round-3 legacy form (``storageType "d"`` +
    position-parquet dirs) still decodes. Readers anti-join the file's rows
    against the positions; stats stay physical (min/max remain a conservative
    superset, numRecords minus cardinality is the logical row count).
    """

    path: str
    size: int = 0
    partition_values: dict[str, Optional[str]] = field(default_factory=dict)
    modification_time: int = 0
    data_change: bool = True
    stats: Optional[str] = None
    tags: Optional[dict[str, Any]] = None
    deletion_vector: Optional[dict[str, Any]] = None
    # row tracking (public Delta feature): fresh rows of this file get ids
    # baseRowId + row_index; commit version of fresh rows. Preserved when a
    # file is re-added (DV swap) so row ids stay stable.
    base_row_id: Optional[int] = None
    default_row_commit_version: Optional[int] = None

    def get_stats(self) -> Optional[dict[str, Any]]:
        # memoized: stats pruning evaluates every file's stats per query —
        # re-parsing 400k JSON blobs each time would dominate planning
        cached = self.__dict__.get("_stats_cache")
        if cached is not None or not self.stats:
            return cached
        try:
            parsed = json.loads(self.stats)
        except (ValueError, TypeError):
            return None
        self.__dict__["_stats_cache"] = parsed
        return parsed

    @property
    def num_records(self) -> Optional[int]:
        """Physical rows written in the parquet file (stats numRecords)."""
        s = self.get_stats()
        return None if s is None else s.get("numRecords")

    @property
    def dv_cardinality(self) -> int:
        """Rows of this file marked deleted by its deletion vector (0 = none)."""
        return int(self.deletion_vector.get("cardinality", 0)) if self.deletion_vector else 0

    @property
    def logical_records(self) -> Optional[int]:
        """Live rows a reader sees: numRecords minus deletion-vector cardinality."""
        n = self.num_records
        return None if n is None else n - self.dv_cardinality

    def to_json_dict(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "path": self.path,
            "partitionValues": self.partition_values,
            "size": self.size,
            "modificationTime": self.modification_time,
            "dataChange": self.data_change,
        }
        if self.stats is not None:
            d["stats"] = self.stats
        if self.tags is not None:
            d["tags"] = self.tags
        if self.deletion_vector is not None:
            d["deletionVector"] = self.deletion_vector
        if self.base_row_id is not None:
            d["baseRowId"] = self.base_row_id
        if self.default_row_commit_version is not None:
            d["defaultRowCommitVersion"] = self.default_row_commit_version
        return d

    @classmethod
    def from_json_dict(cls, d: dict[str, Any]) -> "AddAction":
        dv = d.get("deletionVector")
        if dv is not None:
            dv = dict(dv)
            if isinstance(dv.get("paths"), tuple):
                dv["paths"] = list(dv["paths"])
        brid = d.get("baseRowId")
        drcv = d.get("defaultRowCommitVersion")
        return cls(
            path=d["path"],
            size=d.get("size", 0),
            partition_values=d.get("partitionValues") or {},
            modification_time=d.get("modificationTime", 0),
            data_change=d.get("dataChange", True),
            stats=d.get("stats"),
            tags=d.get("tags"),
            deletion_vector=dv,
            base_row_id=int(brid) if brid is not None else None,
            default_row_commit_version=int(drcv) if drcv is not None else None,
        )


@dataclass
class RemoveAction:
    """Tombstone: a file logically deleted at ``deletion_timestamp``.

    ``deletion_vector`` records the DV the file carried *before* this remove
    (public Delta protocol: removes repeat the removed add's descriptor).
    CDF uses it to reconstruct only the rows that were still live when the
    file was removed; vacuum uses it to give DV position files a
    removal-time retention clock (protected while any unexpired tombstone
    references them, reapable as soon as every referencing tombstone
    expires)."""

    path: str
    deletion_timestamp: Optional[int] = None
    data_change: bool = True
    extended_file_metadata: Optional[bool] = None
    partition_values: Optional[dict[str, Optional[str]]] = None
    size: Optional[int] = None
    tags: Optional[dict[str, Any]] = None
    deletion_vector: Optional[dict[str, Any]] = None
    base_row_id: Optional[int] = None
    default_row_commit_version: Optional[int] = None

    def to_json_dict(self) -> dict[str, Any]:
        d: dict[str, Any] = {"path": self.path, "dataChange": self.data_change}
        if self.deletion_timestamp is not None:
            d["deletionTimestamp"] = self.deletion_timestamp
        if self.extended_file_metadata is not None:
            d["extendedFileMetadata"] = self.extended_file_metadata
        if self.partition_values is not None:
            d["partitionValues"] = self.partition_values
        if self.size is not None:
            d["size"] = self.size
        if self.tags is not None:
            d["tags"] = self.tags
        if self.deletion_vector is not None:
            d["deletionVector"] = self.deletion_vector
        if self.base_row_id is not None:
            d["baseRowId"] = self.base_row_id
        if self.default_row_commit_version is not None:
            d["defaultRowCommitVersion"] = self.default_row_commit_version
        return d

    @classmethod
    def from_json_dict(cls, d: dict[str, Any]) -> "RemoveAction":
        dv = d.get("deletionVector")
        if dv is not None:
            dv = dict(dv)
            if isinstance(dv.get("paths"), tuple):
                dv["paths"] = list(dv["paths"])
        brid = d.get("baseRowId")
        drcv = d.get("defaultRowCommitVersion")
        return cls(
            path=d["path"],
            deletion_timestamp=d.get("deletionTimestamp"),
            data_change=d.get("dataChange", True),
            extended_file_metadata=d.get("extendedFileMetadata"),
            partition_values=d.get("partitionValues"),
            size=d.get("size"),
            tags=d.get("tags"),
            deletion_vector=dv,
            base_row_id=int(brid) if brid is not None else None,
            default_row_commit_version=int(drcv) if drcv is not None else None,
        )


@dataclass
class MetaDataAction:
    """Table metadata; a new metaData action *wholly replaces* the current one."""

    id: str
    schema_string: str
    partition_columns: list[str] = field(default_factory=list)
    name: Optional[str] = None
    description: Optional[str] = None
    format: Format = field(default_factory=Format)
    created_time: Optional[int] = None
    configuration: dict[str, Optional[str]] = field(default_factory=dict)

    @property
    def schema_json(self) -> dict[str, Any]:
        return json.loads(self.schema_string)

    def to_json_dict(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "id": self.id,
            "format": self.format.to_json_dict(),
            "schemaString": self.schema_string,
            "partitionColumns": self.partition_columns,
            "configuration": string_map(self.configuration),
        }
        if self.name is not None:
            d["name"] = self.name
        if self.description is not None:
            d["description"] = self.description
        if self.created_time is not None:
            d["createdTime"] = self.created_time
        return d

    @classmethod
    def from_json_dict(cls, d: dict[str, Any]) -> "MetaDataAction":
        return cls(
            id=d["id"],
            schema_string=d["schemaString"],
            partition_columns=d.get("partitionColumns") or [],
            name=d.get("name"),
            description=d.get("description"),
            format=Format.from_json_dict(d.get("format") or {}),
            created_time=d.get("createdTime"),
            configuration=d.get("configuration") or {},
        )


@dataclass
class DomainMetadataAction:
    """Named metadata domain (public Delta ``domainMetadata`` action;
    writer feature): replay keeps the LATEST configuration per domain;
    ``removed=True`` tombstones the domain. Row tracking stores its id
    high-water mark in the ``delta.rowTracking`` domain."""

    domain: str
    configuration: str = ""  # JSON string, per the spec
    removed: bool = False

    def to_json_dict(self) -> dict[str, Any]:
        return {
            "domain": self.domain,
            "configuration": self.configuration,
            "removed": self.removed,
        }

    @classmethod
    def from_json_dict(cls, d: dict[str, Any]) -> "DomainMetadataAction":
        return cls(
            domain=d["domain"],
            configuration=d.get("configuration") or "",
            removed=bool(d.get("removed", False)),
        )


@dataclass
class TxnAction:
    """Streaming idempotency watermark: latest ``version`` seen for ``app_id``."""

    app_id: str
    version: int
    last_updated: Optional[int] = None

    def to_json_dict(self) -> dict[str, Any]:
        d: dict[str, Any] = {"appId": self.app_id, "version": self.version}
        if self.last_updated is not None:
            d["lastUpdated"] = self.last_updated
        return d

    @classmethod
    def from_json_dict(cls, d: dict[str, Any]) -> "TxnAction":
        return cls(app_id=d["appId"], version=d["version"], last_updated=d.get("lastUpdated"))


@dataclass
class ProtocolAction:
    """Reader/writer version gate. At minReaderVersion>=3 /
    minWriterVersion>=7 the public Delta spec makes the feature lists
    mandatory — foreign readers then surface a proper
    "unsupported table feature" error instead of failing on the action."""

    min_reader_version: int = 1
    min_writer_version: int = 2
    reader_features: Optional[list[str]] = None
    writer_features: Optional[list[str]] = None

    def to_json_dict(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "minReaderVersion": self.min_reader_version,
            "minWriterVersion": self.min_writer_version,
        }
        if self.reader_features is not None:
            d["readerFeatures"] = self.reader_features
        if self.writer_features is not None:
            d["writerFeatures"] = self.writer_features
        return d

    @classmethod
    def from_json_dict(cls, d: dict[str, Any]) -> "ProtocolAction":
        rf, wf = d.get("readerFeatures"), d.get("writerFeatures")
        return cls(
            min_reader_version=d.get("minReaderVersion", 1),
            min_writer_version=d.get("minWriterVersion", 2),
            reader_features=list(rf) if rf is not None else None,
            writer_features=list(wf) if wf is not None else None,
        )


@dataclass
class CommitInfoAction:
    """Free-form provenance (operation, operationParameters, metrics, ...)."""

    info: dict[str, Any] = field(default_factory=dict)

    def to_json_dict(self) -> dict[str, Any]:
        return dict(self.info)

    @classmethod
    def from_json_dict(cls, d: dict[str, Any]) -> "CommitInfoAction":
        return cls(info=dict(d))


@dataclass
class CdcAction:
    """A change-data file under ``_change_data/`` (row-level CDC for one
    commit). Matches the public Delta protocol's AddCDCFile (``cdc`` log
    key); change files are not part of the active data set — readers see
    them only through the change-feed API. The reference reserves the
    ``_change_data`` directory in its hidden-path predicate
    (``rust/src/delta.rs:904-916``) without implementing a writer."""

    path: str
    size: int
    partition_values: dict[str, Optional[str]] = field(default_factory=dict)
    data_change: bool = False
    tags: Optional[dict[str, Any]] = None

    def to_json_dict(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "path": self.path,
            "partitionValues": self.partition_values,
            "size": self.size,
            "dataChange": self.data_change,
        }
        if self.tags is not None:
            d["tags"] = self.tags
        return d

    @classmethod
    def from_json_dict(cls, d: dict[str, Any]) -> "CdcAction":
        return cls(
            path=d["path"],
            size=d.get("size", 0),
            partition_values=d.get("partitionValues") or {},
            data_change=d.get("dataChange", False),
            tags=d.get("tags"),
        )


Action = (
    AddAction
    | RemoveAction
    | MetaDataAction
    | TxnAction
    | ProtocolAction
    | CommitInfoAction
    | CdcAction
    | DomainMetadataAction
)

_KEY_TO_CLASS = {
    "add": AddAction,
    "remove": RemoveAction,
    "metaData": MetaDataAction,
    "txn": TxnAction,
    "protocol": ProtocolAction,
    "commitInfo": CommitInfoAction,
    "cdc": CdcAction,
    "domainMetadata": DomainMetadataAction,
}

_CLASS_TO_KEY = {v: k for k, v in _KEY_TO_CLASS.items()}


# features implied by legacy protocol versions (public Delta spec table):
# a table at reader 2 / writer 5 without explicit lists is using these, and
# an upgrade to versions 3/7 — where the lists are mandatory and exhaustive —
# must enumerate them or conformant readers would treat them as inactive
_LEGACY_READER_FEATURES = {2: ("columnMapping",)}
_LEGACY_WRITER_FEATURES = {
    2: ("appendOnly", "invariants"),
    3: ("checkConstraints",),
    4: ("generatedColumns", "changeDataFeed"),
    5: ("columnMapping",),
    6: ("identityColumns",),
}


def _implied(table_version: int, implied_by_version: dict) -> list[str]:
    out: list[str] = []
    for v, feats in sorted(implied_by_version.items()):
        if v <= table_version:
            out.extend(feats)
    return out


def upgraded_protocol(
    state,
    min_reader: int,
    min_writer: int,
    reader_features: Sequence[str] = (),
    writer_features: Sequence[str] = (),
) -> Optional["ProtocolAction"]:
    """A ProtocolAction raising the table to at least (min_reader,
    min_writer) carrying ``*_features``, PRESERVING features already on the
    table — protocol replays replace wholesale, so a naive bump on a table
    that already advertises other features would silently drop them. When
    the bump crosses into the list-mandatory versions (reader 3 / writer 7)
    from a legacy table WITHOUT lists, the features implied by the legacy
    versions are enumerated (a reader-2 column-mapped table upgraded for
    deletion vectors must list ``columnMapping`` too).
    Returns None when the table already satisfies everything."""
    cur_r = state.min_reader_version
    cur_w = state.min_writer_version
    new_r = max(cur_r, min_reader)
    new_w = max(cur_w, min_writer)
    rf = list(state.reader_features or [])
    wf = list(state.writer_features or [])
    if new_r >= 3 and state.reader_features is None:
        rf += [f for f in _implied(cur_r, _LEGACY_READER_FEATURES) if f not in rf]
    if new_w >= 7 and state.writer_features is None:
        wf += [f for f in _implied(cur_w, _LEGACY_WRITER_FEATURES) if f not in wf]
    rf += [f for f in reader_features if f not in rf]
    wf += [f for f in writer_features if f not in wf]
    need_lists = new_r >= 3 or new_w >= 7
    changed = (
        new_r != cur_r
        or new_w != cur_w
        or (need_lists and set(rf) != set(state.reader_features or []))
        or (need_lists and set(wf) != set(state.writer_features or []))
    )
    if not changed:
        return None
    return ProtocolAction(
        min_reader_version=new_r,
        min_writer_version=new_w,
        reader_features=sorted(rf) if new_r >= 3 else None,
        writer_features=sorted(wf) if new_w >= 7 else None,
    )


class ActionReconciler:
    """Order-preserving action reconciliation over a commit range (log
    compaction; same rules as checkpoint reconciliation except domain
    removals are retained — relative to an unknown prior state, a removal
    must survive to cancel an earlier domain set)."""

    def __init__(self) -> None:
        self.adds: dict[str, AddAction] = {}
        self.removes: dict[str, RemoveAction] = {}
        self.metadata: Optional[MetaDataAction] = None
        self.protocol: Optional[ProtocolAction] = None
        self.txns: dict[str, TxnAction] = {}
        self.domains: dict[str, DomainMetadataAction] = {}

    def apply_all(self, actions: Sequence[Action]) -> None:
        for a in actions:
            if isinstance(a, AddAction):
                self.removes.pop(a.path, None)
                self.adds[a.path] = a
            elif isinstance(a, RemoveAction):
                self.adds.pop(a.path, None)
                self.removes[a.path] = a
            elif isinstance(a, MetaDataAction):
                self.metadata = a
            elif isinstance(a, ProtocolAction):
                self.protocol = a
            elif isinstance(a, TxnAction):
                self.txns[a.app_id] = a
            elif isinstance(a, DomainMetadataAction):
                self.domains[a.domain] = a
            # commitInfo / cdc: per-commit provenance, not reconciled state

    def reconciled(self) -> list[Action]:
        out: list[Action] = []
        if self.protocol is not None:
            out.append(self.protocol)
        if self.metadata is not None:
            out.append(self.metadata)
        out.extend(self.txns[k] for k in sorted(self.txns))
        out.extend(self.domains[k] for k in sorted(self.domains))
        out.extend(self.removes.values())
        out.extend(self.adds.values())
        return out


def parse_action(obj: dict[str, Any]) -> Action:
    """One JSON log line (already parsed) → a typed action."""
    for key, cls in _KEY_TO_CLASS.items():
        if key in obj:
            return cls.from_json_dict(obj[key])
    raise ValueError(f"unrecognized Delta log action: {list(obj.keys())}")


def action_to_log_line(action: Action) -> str:
    """Typed action → one NDJSON log line (compact separators, like the reference log)."""
    key = _CLASS_TO_KEY[type(action)]
    return json.dumps({key: action.to_json_dict()}, separators=(",", ":"))


def parse_log_entry(text: str) -> list[Action]:
    """A whole commit file (NDJSON) → list of actions."""
    return [parse_action(json.loads(line)) for line in text.splitlines() if line.strip()]


def actions_to_log_entry(actions: list[Action]) -> str:
    return "\n".join(action_to_log_line(a) for a in actions)
