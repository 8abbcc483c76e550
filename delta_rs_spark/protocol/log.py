"""Transaction-log path scheme, listing, and checkpoint discovery.

Naming follows the Delta protocol exactly (reference ``rust/src/delta.rs:407-443``):
commits ``_delta_log/{version:020d}.json``, checkpoints
``{version:020d}.checkpoint.parquet`` or the multi-part variant
``{version:020d}.checkpoint.{part:010d}.{parts:010d}.parquet``, and the
``_last_checkpoint`` JSON pointer.
"""

from __future__ import annotations

import bisect
import datetime as _dt
import json
import re
from collections.abc import Sequence
from dataclasses import dataclass
from typing import Optional

from .actions import Action, actions_to_log_entry, parse_log_entry
from .storage import FileAlreadyExistsError, parse_table_uri

DELTA_LOG_DIR = "_delta_log"
LAST_CHECKPOINT = "_last_checkpoint"

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
# single-part and multi-part checkpoint names (reference regexes, delta.rs:449-456)
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
_CHECKPOINT_PARTS_RE = re.compile(r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$")
# log-compaction files (public Delta log-compaction layout): the reconciled
# actions of commits [start, end] in one NDJSON object — readers may fold the
# compaction instead of the individual commits; foreign readers that predate
# the feature ignore the name (it matches no commit/checkpoint pattern)
_COMPACTION_RE = re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")
# V2 checkpoint manifests (public `v2Checkpoint` table feature):
# {version}.checkpoint.{uniqueStr}.parquet — matched AFTER the multi-part
# pattern (whose {part}.{parts} segment would also satisfy uniqueStr)
_CHECKPOINT_V2_RE = re.compile(r"^(\d{20})\.checkpoint\.([A-Za-z0-9_-]+)\.parquet$")
SIDECAR_DIR = "_sidecars"
# public Delta ICT enablement bookkeeping, recorded in the table metadata by
# the commit that turns in-commit timestamps on for an existing table
ICT_ENABLEMENT_VERSION_KEY = "delta.inCommitTimestampEnablementVersion"
ICT_ENABLEMENT_TS_KEY = "delta.inCommitTimestampEnablementTimestamp"


class DeltaTableError(Exception):
    pass


class NotATableError(DeltaTableError):
    pass


@dataclass
class CheckPoint:
    version: int
    size: Optional[int] = None
    parts: Optional[int] = None
    # V2 checkpoints: the manifest's uniqueStr ({v}.checkpoint.{uuid}.parquet)
    uuid: Optional[str] = None

    def to_json(self) -> str:
        d = {"version": self.version}
        if self.size is not None:
            d["size"] = self.size
        if self.parts is not None:
            d["parts"] = self.parts
        if self.uuid is not None:
            d["uuid"] = self.uuid
        return json.dumps(d, separators=(",", ":"))

    @classmethod
    def from_json(cls, text: str) -> "CheckPoint":
        d = json.loads(text)
        return cls(
            version=d["version"],
            size=d.get("size"),
            parts=d.get("parts"),
            uuid=d.get("uuid"),
        )


@dataclass
class LogListing(Sequence):
    """What one ``list_objs`` of ``_delta_log`` saw. As a sequence it is the
    sorted commit versions; it also carries each commit file's mtime (ms),
    the complete checkpoints (newest first) and the log-compaction ranges,
    so that a time travel resolves and loads its version from one listing.
    """

    versions: list[int]
    mtimes_ms: list[int]
    checkpoints: list[CheckPoint]
    compactions: list[tuple[int, int]]

    def __getitem__(self, i):
        return self.versions[i]

    def __len__(self) -> int:
        return len(self.versions)

    def checkpoints_for(self, version: Optional[int]) -> list[CheckPoint]:
        """Complete checkpoints at or below ``version`` (all when None),
        newest first."""
        return [cp for cp in self.checkpoints if version is None or cp.version <= version]


_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def _timestamp_ms(ts: "str | _dt.datetime") -> int:
    """Epoch milliseconds of an ISO-8601 string (``Z`` accepted) or a
    datetime; a value without a zone is read as UTC. Integer arithmetic:
    a time exactly at a commit's millisecond never rounds below it."""
    if isinstance(ts, str):
        ts = _dt.datetime.fromisoformat(ts.replace("Z", "+00:00"))
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    return (ts - _EPOCH) // _dt.timedelta(milliseconds=1)


class DeltaLog:
    """Driver-side handle on one table's ``_delta_log`` directory."""

    def __init__(self, table_uri: str):
        self.table_root, self.backend = parse_table_uri(table_uri)
        self.log_dir = self.backend.join(self.table_root, DELTA_LOG_DIR)
        self._data_plane = None
        self._ts_cache: dict[int, int] = {}

    @property
    def data_plane(self):
        """Lazy per-table :class:`~.dataio.DataPlane` (native Spark I/O vs
        backend-mirrored I/O for data files)."""
        if self._data_plane is None:
            from .dataio import DataPlane

            self._data_plane = DataPlane(self)
        return self._data_plane

    # ---- path scheme -------------------------------------------------
    def commit_path(self, version: int) -> str:
        return self.backend.join(self.log_dir, f"{version:020d}.json")

    def checkpoint_paths(self, cp: CheckPoint) -> list[str]:
        if cp.uuid is not None:
            return [
                self.backend.join(
                    self.log_dir, f"{cp.version:020d}.checkpoint.{cp.uuid}.parquet"
                )
            ]
        if cp.parts is None:
            return [self.backend.join(self.log_dir, f"{cp.version:020d}.checkpoint.parquet")]
        return [
            self.backend.join(
                self.log_dir,
                f"{cp.version:020d}.checkpoint.{part:010d}.{cp.parts:010d}.parquet",
            )
            for part in range(1, cp.parts + 1)
        ]

    def last_checkpoint_path(self) -> str:
        return self.backend.join(self.log_dir, LAST_CHECKPOINT)

    def compaction_path(self, start: int, end: int) -> str:
        return self.backend.join(
            self.log_dir, f"{start:020d}.{end:020d}.compacted.json"
        )

    # ---- discovery ---------------------------------------------------
    def is_delta_table(self) -> bool:
        return self.backend.exists(self.log_dir) and (
            self.latest_version() is not None or self.read_last_checkpoint() is not None
        )

    def list_commit_versions(self) -> LogListing:
        """One listing of ``_delta_log``: commit versions with their mtimes,
        complete checkpoints and compaction ranges (see :class:`LogListing`).

        A checkpoint qualifies as in the reference's regex scan
        (``rust/src/delta.rs:445-502``), with one strengthening: a
        multi-part checkpoint only qualifies when every one of its parts is
        present — a writer that crashed after uploading part 1 of 3 must not
        poison snapshot loads.
        """
        commits: list[tuple[int, int]] = []
        singles: set[int] = set()
        multi: dict[tuple[int, int], set[int]] = {}
        v2: dict[int, str] = {}
        compactions: list[tuple[int, int]] = []
        for meta in self.backend.list_objs(self.log_dir):
            name = meta.path.rsplit("/", 1)[-1]
            # dispatch on the suffix: most entries (.crc checksums, temp
            # files) match no pattern and cost no regex
            if name.endswith(".json"):
                if m := _COMMIT_RE.match(name):
                    commits.append((int(m.group(1)), int(meta.modification_time * 1000)))
                elif m := _COMPACTION_RE.match(name):
                    compactions.append((int(m.group(1)), int(m.group(2))))
            elif name.endswith(".parquet"):
                if m := _CHECKPOINT_RE.match(name):
                    singles.add(int(m.group(1)))
                elif m := _CHECKPOINT_PARTS_RE.match(name):
                    v, part, parts = int(m.group(1)), int(m.group(2)), int(m.group(3))
                    multi.setdefault((v, parts), set()).add(part)
                elif m := _CHECKPOINT_V2_RE.match(name):
                    v2[int(m.group(1))] = m.group(2)

        # newest first; at one version classic, then multi-part, then V2
        ranked = sorted(
            [(v, 0, CheckPoint(version=v)) for v in singles]
            + [
                (v, 1, CheckPoint(version=v, parts=n))
                for (v, n), got in multi.items()
                if len(got) == n
            ]
            + [(v, 2, CheckPoint(version=v, uuid=u)) for v, u in v2.items()],
            key=lambda r: (-r[0], r[1]),
        )
        commits.sort()
        return LogListing(
            versions=[v for v, _ in commits],
            mtimes_ms=[t for _, t in commits],
            checkpoints=[cp for _v, _rank, cp in ranked],
            compactions=sorted(compactions),
        )

    def latest_version(self) -> Optional[int]:
        versions = self.list_commit_versions()
        return versions[-1] if versions else None

    def read_last_checkpoint(self) -> Optional[CheckPoint]:
        """The ``_last_checkpoint`` hint, or None when it is absent or
        unreadable (a torn write): the hint never overrides the log."""
        try:
            return CheckPoint.from_json(
                self.backend.get_obj(self.last_checkpoint_path()).decode("utf-8")
            )
        # ValueError covers a torn JSON body and bad UTF-8; Key/TypeError a
        # body that parses but is not a checkpoint pointer
        except (FileNotFoundError, ValueError, KeyError, TypeError):
            return None

    def find_latest_checkpoint_for_version(self, version: int) -> Optional[CheckPoint]:
        """Newest complete checkpoint ≤ version, by log-dir scan (single,
        multi-part and v2)."""
        return next(iter(self.list_commit_versions().checkpoints_for(version)), None)

    def sidecar_path(self, name: str) -> str:
        return self.backend.join(self.log_dir, SIDECAR_DIR, name)

    def list_compactions(self) -> list[tuple[int, int]]:
        """(start, end) ranges of every log-compaction file, sorted."""
        return self.list_commit_versions().compactions

    def try_read_compaction(self, start: int, end: int) -> Optional[list[Action]]:
        try:
            return parse_log_entry(
                self.backend.get_obj(self.compaction_path(start, end)).decode("utf-8")
            )
        except FileNotFoundError:
            return None

    # ---- commit I/O ----------------------------------------------------
    def read_commit(self, version: int) -> list[Action]:
        return parse_log_entry(self.backend.get_obj(self.commit_path(version)).decode("utf-8"))

    def try_read_commit(self, version: int) -> Optional[list[Action]]:
        try:
            return self.read_commit(version)
        except FileNotFoundError:
            return None

    def commit_timestamp_ms(self, version: int) -> int:
        """Commit wall-clock time for time travel and streaming bounds.

        Prefers ``commitInfo.inCommitTimestamp`` (public Delta
        inCommitTimestamp feature: writer-stamped, monotonic — the reliable
        clock on object stores where an object's mtime is its upload/copy
        time); falls back to the log file's mtime, the reference behavior
        (``delta.rs:711-729``). Memoized: committed timestamps never change.
        """
        cached = self._ts_cache.get(version)
        if cached is not None:
            return cached
        ts = self._in_commit_timestamp(version)
        if ts is None:
            ts = int(self.backend.head_obj(self.commit_path(version)).modification_time * 1000)
        self._ts_cache[version] = ts
        return ts

    def _in_commit_timestamp(self, version: int) -> Optional[int]:
        """``commitInfo.inCommitTimestamp`` of a commit, or None."""
        path = self.commit_path(version)
        try:
            # bounded head read: commitInfo is the first log line by writer
            # contract, so 64 KB covers it however many actions follow (a
            # ranged GET on object stores — never the whole commit object)
            raw = self.backend.get_obj_head(path, 65536)
            first, sep, _rest = raw.partition(b"\n")
            if not sep and len(raw) == 65536:
                # pathological first line longer than the head window
                first = self.backend.get_obj(path).split(b"\n", 1)[0]
            info = json.loads(first).get("commitInfo")
            if info is not None and info.get("inCommitTimestamp") is not None:
                return int(info["inCommitTimestamp"])
        except FileNotFoundError:
            raise
        except Exception:  # malformed first line → mtime fallback
            pass
        return None

    def version_at_timestamp(
        self,
        ts: "str | _dt.datetime",
        at_or_after: bool = False,
        listing: Optional[LogListing] = None,
    ) -> int:
        """The last version committed at or before ``ts``; with
        ``at_or_after``, the first committed at or after it (the streaming
        ``startingTimestamp`` contract: the earliest version when ``ts``
        predates the table, latest + 1 when it is past the last commit).

        Binary search over commit times, like the reference's
        ``load_with_datetime`` (``rust/src/delta.rs:1041-1075``). The times
        are the commit files' mtimes from one listing (``listing``, else
        this call lists), so the search makes no request per commit.
        When the latest commit carries an in-commit timestamp, ICT is on:
        the search reads each probed commit's head (:meth:`commit_timestamp_ms`)
        and stays inside one clock domain, split at the enablement version
        and timestamp recorded in the latest metadata. A table whose latest
        commit has no ICT uses mtimes throughout, as the protocol's reader
        rule says, even where older commits carry one.
        """
        target = _timestamp_ms(ts)
        if listing is None:
            listing = self.list_commit_versions()
        if not listing:
            raise NotATableError(f"{self.table_root} has no commits")
        versions = listing.versions
        if self._in_commit_timestamp(versions[-1]) is None:
            domain, time_of = versions, dict(zip(versions, listing.mtimes_ms)).__getitem__
        else:
            domain, time_of = self._ict_domain(target, listing), self.commit_timestamp_ms
        if at_or_after:
            i = bisect.bisect_left(domain, target, key=time_of)
            if i < len(domain):
                return domain[i]
            # nothing at or after in the searched clock domain: when that
            # domain was the pre-enablement (mtime) range, the answer is the
            # first commit on the writer clock
            later = [v for v in versions if v > domain[-1]]
            return later[0] if later else versions[-1] + 1
        i = bisect.bisect_right(domain, target, key=time_of)
        if i == 0:
            raise DeltaTableError(f"no version of {self.table_root} existed at {ts}")
        return domain[i - 1]

    def _ict_domain(self, target_ms: int, listing: LogListing) -> list[int]:
        """The versions on ``target_ms``'s clock. A table that enabled ICT
        mid-life has file-mtime clocks below the enablement version and
        writer clocks at and above it; each sequence is monotonic but their
        concatenation need not be, so a search must not straddle the
        boundary (public ICT enablement contract; the bookkeeping is
        written by ``transactions.py`` into the metadata)."""
        from .snapshot import Snapshot  # the latest metadata records the enablement

        versions = listing.versions
        meta = Snapshot.load(self, listing=listing).state.metadata
        cfg = (meta.configuration if meta is not None else None) or {}
        ev, et = cfg.get(ICT_ENABLEMENT_VERSION_KEY), cfg.get(ICT_ENABLEMENT_TS_KEY)
        if ev is None or et is None:
            return versions
        if target_ms >= int(et):
            return [v for v in versions if v >= int(ev)] or versions
        return [v for v in versions if v < int(ev)] or versions

    def write_tmp_commit(self, actions: list[Action], token: str) -> str:
        """Phase 1 of two-phase commit: NDJSON to ``_commit_<token>.json.tmp``."""
        tmp = self.backend.join(self.log_dir, f"_commit_{token}.json.tmp")
        self.backend.put_obj(tmp, (actions_to_log_entry(actions) + "\n").encode("utf-8"))
        return tmp

    def try_commit(self, tmp_path: str, version: int) -> None:
        """Phase 2: atomic rename-without-replace to the versioned name.

        Raises FileAlreadyExistsError when the version was taken by a
        concurrent writer — the caller retries at version+1.
        """
        self.backend.rename_obj_noreplace(tmp_path, self.commit_path(version))

    def absolute(self, path: str) -> str:
        """Resolve a log-recorded (possibly relative) file path against the
        table root — same contract as Snapshot._absolute."""
        if "://" in path or path.startswith("/"):
            return path
        return self.backend.join(self.table_root, path)

    def readable(self, path: str) -> str:
        """Like :meth:`absolute`, but guaranteed readable by Spark/pyarrow —
        a backend-mirrored local copy on non-native data planes."""
        return self.data_plane.readable_uri(path)

    def readable_dir(self, rel_dir: str) -> str:
        return self.data_plane.readable_dir(rel_dir)

    def put_last_checkpoint(self, cp: CheckPoint) -> None:
        self.backend.put_obj(self.last_checkpoint_path(), cp.to_json().encode("utf-8"))


__all__ = [
    "DeltaLog",
    "CheckPoint",
    "LogListing",
    "DeltaTableError",
    "NotATableError",
    "FileAlreadyExistsError",
    "DELTA_LOG_DIR",
]
