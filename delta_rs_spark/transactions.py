"""Transactional commit protocol: two-phase, optimistic concurrency.

Semantics match the reference (``rust/src/delta.rs:986-1014,1302-1397``):
serialize actions to a temp NDJSON file, then atomically rename to
``{version:020d}.json``; on VersionAlreadyExists refresh and blindly retry at
version+1 (v0 has no semantic conflict checking — ``delta.rs:1309-1322``).

One deliberate strengthening over v0: a transaction that REMOVES files
(DML rewrite, DV swap, OPTIMIZE, RESTORE) re-validates on retry that no
intervening commit touched the same files — blind retry there would
silently clobber a concurrent writer's swap (e.g. two merge-on-read
deletes of the same file: the second would re-add the file with a DV built
on the pre-first-delete state, resurrecting rows). Pure appends keep the
reference's blind retry for FILE-level conflicts; protocol/metadata/txn
changes by a winner abort every in-flight transaction (the appended files
were planned against the old schema/protocol) — see ``_check_conflicts``.

The log is tiny driver-side I/O; executors are never involved.
"""

from __future__ import annotations

import time
import uuid
from typing import Any, Optional

from .protocol.actions import Action, AddAction, CommitInfoAction, RemoveAction
from .protocol.log import (
    ICT_ENABLEMENT_TS_KEY,
    ICT_ENABLEMENT_VERSION_KEY,
    FileAlreadyExistsError,
)

DEFAULT_MAX_RETRY_COMMIT_ATTEMPTS = 10_000_000  # reference delta.rs:1158

# writer features this engine implements; a conformant writer must refuse
# to commit to a table advertising anything else (reading may still work —
# writing would break the unknown feature's invariants)
SUPPORTED_WRITER_FEATURES = frozenset(
    {
        "appendOnly",
        "invariants",
        "checkConstraints",
        "generatedColumns",
        "changeDataFeed",
        "columnMapping",
        "identityColumns",
        "deletionVectors",
        "rowTracking",
        "domainMetadata",
        "inCommitTimestamp",
        "v2Checkpoint",
        "timestampNtz",
        "variantType",
        "clustering",
        "typeWidening",
        "vacuumProtocolCheck",
        "checkpointProtection",
        "allowColumnDefaults",
        "deltaRsSpark.deletionVectors",  # vendor token, pre-round-3 tables
    }
)

class TransactionError(Exception):
    pass


class ConcurrentModificationError(TransactionError):
    """A concurrent commit modified files this transaction removes/replaces;
    retrying would lose that writer's changes. Re-read the table and re-run."""


class ConcurrentAppendError(ConcurrentModificationError):
    """A concurrent commit added files that may match this transaction's
    read predicate: the rows this transaction's result was computed from are
    no longer the table's rows (Serializable; WriteSerializable exempts
    blind appends by the winner)."""


class ConcurrentDeleteReadError(ConcurrentModificationError):
    """A concurrent commit removed a file this transaction read."""


class ConcurrentDeleteDeleteError(ConcurrentModificationError):
    """A concurrent commit removed a file this transaction also removes."""


class MetadataChangedError(ConcurrentModificationError):
    """A concurrent commit changed the table metadata (schema, partitioning
    or configuration) this transaction was planned against."""


class ProtocolChangedError(ConcurrentModificationError):
    """A concurrent commit upgraded the table protocol mid-transaction."""


class ConcurrentTransactionError(ConcurrentModificationError):
    """A concurrent commit advanced an application transaction watermark
    (``txn`` action) this transaction's idempotency decision depends on."""


class ConcurrentDomainMetadataError(ConcurrentModificationError):
    """A concurrent commit replaced a ``domainMetadata`` domain this
    transaction read and re-writes (domain writes are whole-value replaces:
    committing anyway would silently drop the winner's update). Re-read the
    domain, merge, and re-run."""


# -- isolation levels (public Delta concurrency-control contract) -----------
SERIALIZABLE = "Serializable"
WRITE_SERIALIZABLE = "WriteSerializable"
SNAPSHOT_ISOLATION = "SnapshotIsolation"
_ISOLATION_LEVELS = frozenset({SERIALIZABLE, WRITE_SERIALIZABLE, SNAPSHOT_ISOLATION})
ISOLATION_LEVEL_KEY = "delta.isolationLevel"


class AppendOnlyError(TransactionError):
    """The table is append-only (``delta.appendOnly=true``): commits must
    not remove data files with dataChange=true (public Delta appendOnly
    feature, legacy writer version 2). Compaction-style removes
    (dataChange=false, e.g. OPTIMIZE) stay allowed."""


class DeltaTransaction:
    """Accumulates actions and commits them as one version."""

    def __init__(self, table, options: Optional[dict[str, Any]] = None):
        self.table = table
        self.actions: list[Action] = []
        self._guards: list = []
        self._version_stampers: list = []
        self.max_retries = (options or {}).get(
            "max_retry_commit_attempts", DEFAULT_MAX_RETRY_COMMIT_ATTEMPTS
        )
        # declared read set, for commit-time conflict detection
        self._read_files: set[str] = set()
        self._read_pfilters: list = []
        self._read_whole_table = False
        self._read_app_ids: set[str] = set()
        self._read_domains: set[str] = set()
        self.isolation_level: Optional[str] = (options or {}).get("isolation_level")

    def record_reads(
        self,
        *,
        files=None,
        partition_filters=None,
        whole_table: bool = False,
        app_ids=None,
        domains=None,
    ) -> None:
        """Declare what this transaction READ while planning its actions.

        ``files``: log-relative paths of data files scanned — a concurrent
        remove of one invalidates the result (ConcurrentDeleteReadError).
        ``partition_filters``: DNF (col, op, value) tuples bounding the scan
        to a partition domain — a concurrent data-changing append into that
        domain invalidates the result (ConcurrentAppendError, per the
        isolation level). ``whole_table``: the predicate could not be
        partition-bounded, so ANY concurrent append may match. ``app_ids``:
        application transaction watermarks this commit's idempotency
        decision read. ``domains``: domainMetadata domains whose current
        value this commit read and replaces (domain writes are whole-value;
        a concurrent replace would be silently dropped). Transactions that
        record nothing keep blind-append retry semantics (the reference's
        v0 behavior) — except the always-on protocol/metadata/txn checks,
        see ``_check_conflicts``."""
        if files:
            self._read_files.update(files)
        if partition_filters:
            from .protocol.partitions import compile_filters

            self._read_pfilters.extend(compile_filters(list(partition_filters)))
        if whole_table:
            self._read_whole_table = True
        if app_ids:
            self._read_app_ids.update(app_ids)
        if domains:
            self._read_domains.update(domains)

    def _resolve_isolation(self, actions: list[Action]) -> str:
        """Explicit option > table property (``delta.isolationLevel``,
        default WriteSerializable — the public Delta default) > automatic
        SnapshotIsolation for commits that change no data (OPTIMIZE-style
        rearrangements never conflict with appends)."""
        lvl = self.isolation_level
        if lvl is None:
            data_change = any(
                isinstance(a, (AddAction, RemoveAction)) and a.data_change
                for a in actions
            )
            if not data_change:
                return SNAPSHOT_ISOLATION
            try:
                cfg = self.table.metadata().configuration or {}
            except Exception:
                cfg = {}
            lvl = cfg.get(ISOLATION_LEVEL_KEY, WRITE_SERIALIZABLE)
        if lvl not in _ISOLATION_LEVELS:
            raise TransactionError(
                f"invalid isolation level {lvl!r}; expected one of "
                f"{sorted(_ISOLATION_LEVELS)}"
            )
        return lvl

    def add_action(self, action: Action) -> None:
        self.actions.append(action)

    def add_actions(self, actions: list[Action]) -> None:
        self.actions.extend(actions)

    def add_version_stamper(self, fn) -> None:
        """Register a callable invoked with the TENTATIVE commit version on
        every retry-loop iteration; it may mutate this transaction's
        actions (e.g. re-stamp a version recorded inside metadata) and
        returns True when it changed anything — forcing the tmp commit
        file to be rewritten before the commit attempt. This is how
        version-valued fields (typeWidening's typeChanges.tableVersion)
        stay correct when the optimistic retry moves the commit."""
        self._version_stampers.append(fn)

    def add_commit_guard(self, fn) -> None:
        """Register a callable invoked with the REFRESHED table whenever
        intervening commits land before this one wins the version race.
        Guards raise (typically ConcurrentModificationError) to abort the
        commit — e.g. an identity-column write whose values are already
        baked into data files and cannot be re-stamped."""
        self._guards.append(fn)

    def commit(
        self,
        operation: Optional[str] = None,
        operation_parameters: Optional[dict[str, Any]] = None,
        operation_metrics: Optional[dict[str, Any]] = None,
    ) -> int:
        """Two-phase commit; returns the committed version."""
        actions = list(self.actions)
        try:
            current_wf = set(self.table.snapshot.state.writer_features or [])
        except Exception:  # table mid-creation
            current_wf = set()
        unknown_wf = current_wf - SUPPORTED_WRITER_FEATURES
        if unknown_wf:
            raise TransactionError(
                f"table requires unsupported writer feature(s) "
                f"{sorted(unknown_wf)}; writing would break their invariants"
            )
        # append-only enforcement at the one point every writer passes
        # through — DML, overwrite, replaceWhere, RESTORE, DV swaps all
        # carry dataChange=true removes and are rejected alike
        if self._append_only() and any(
            isinstance(a, RemoveAction) and a.data_change for a in actions
        ):
            raise AppendOnlyError(
                "table is append-only (delta.appendOnly=true): this commit "
                "removes data files; unset the property to allow "
                "deletes/updates/overwrites"
            )
        # a commit whose metaData ENABLES in-commit timestamps must itself be
        # ICT-stamped and records the enablement boundary (spec: timestamp
        # resolution uses the file-clock below it, the writer clock at/above)
        ict_meta = self._ict_enabling_metadata(actions)
        ict_enabled = self._ict_enabled() or ict_meta is not None

        # row tracking: collect the adds THIS commit must allocate ids for
        # (once — a retry re-stamp overwrites the lost attempt's ids); the
        # high-water-mark domain action rides in the same commit and is
        # refreshed from the freshly-read state on every version move, so
        # concurrent writers never allocate overlapping ids
        from .protocol import row_tracking as _rt

        rt_to_stamp: list[AddAction] = []
        rt_domain = None
        if self._row_tracking_enabled():
            rt_to_stamp = [
                a
                for a in actions
                if isinstance(a, AddAction) and a.base_row_id is None
            ]
            if rt_to_stamp:
                rt_domain = _rt.domain_action(-1)
                actions = actions + [rt_domain]
        rt_stamped_version: Optional[int] = None

        # a commit that ENABLES the change data feed carries the protocol
        # floor with it: legacy writer 4, or the changeDataFeed feature on
        # list-mandatory tables (upgraded_protocol picks the right form)
        if self._cdf_enabling_metadata(actions) is not None:
            from .protocol.actions import upgraded_protocol

            bump = upgraded_protocol(
                self.table.snapshot.state, 1, 4, writer_features=["changeDataFeed"]
            )
            if bump is not None:
                actions = [bump] + actions

        # a commit carrying a ``txn`` watermark made its idempotency decision
        # by reading that app's previous version — a concurrent commit
        # advancing the same watermark means the work may already be done
        from .protocol.actions import TxnAction as _TxnAction

        for a in actions:
            if isinstance(a, _TxnAction):
                self._read_app_ids.add(a.app_id)

        # blind append = adds only, planned without reading table DATA; the
        # flag is what lets concurrent readers-with-predicates NOT conflict
        # with this commit under WriteSerializable. App-id watermark reads
        # don't count (public Delta: streaming appends stay blind).
        has_data_reads = (
            self._read_whole_table
            or bool(self._read_files)
            or bool(self._read_pfilters)
        )
        is_blind_append = not has_data_reads and not any(
            isinstance(a, RemoveAction) for a in actions
        )

        info: Optional[dict[str, Any]] = None
        if operation is not None or ict_enabled:
            info = {
                "timestamp": int(time.time() * 1000),
                "isBlindAppend": is_blind_append,
            }
            if operation is not None:
                info["operation"] = operation
            if operation_parameters:
                info["operationParameters"] = operation_parameters
            if operation_metrics:
                info["operationMetrics"] = operation_metrics
            actions = [CommitInfoAction(info=info)] + actions
        if ict_enabled:
            actions = self._with_ict_protocol_bump(actions)

        log = self.table.log
        # validate everything that depends only on the actions BEFORE the
        # first tmp write — a validation error must not orphan a tmp file
        removed_paths = {a.path for a in actions if isinstance(a, RemoveAction)}
        isolation = self._resolve_isolation(actions)
        base_version = self.table.version
        # the tmp write is deferred into the loop: ICT/row-tracking commits
        # re-stamp on the first iteration anyway, and writing eagerly would
        # cost a wasted put+delete round trip per commit on those tables
        tmp: Optional[str] = None

        attempt = 0
        guard_base = base_version
        while True:
            attempt += 1
            version = self.table.update() + 1
            if self._guards and version - 1 > guard_base:
                try:
                    for g in self._guards:
                        g(self.table)
                except Exception:
                    self._discard_tmp(log, tmp)
                    raise
                guard_base = version - 1
            if version - 1 > base_version:
                self._check_conflicts(
                    log, tmp, removed_paths, isolation, base_version + 1, version - 1
                )
                base_version = version - 1  # each range is validated once
            need_rewrite = False
            if rt_domain is not None and rt_stamped_version != version:
                import json as _json

                hwm0 = _rt.high_water_mark(self.table.snapshot.state)
                new_hwm = _rt.stamp_adds(rt_to_stamp, hwm0, version)
                rt_domain.configuration = _json.dumps({_rt.HWM_KEY: new_hwm})
                rt_stamped_version = version
                need_rewrite = True
            if ict_enabled:
                # monotonic writer clock (spec contract): each commit's
                # inCommitTimestamp strictly exceeds its predecessor's, even
                # under retries against concurrent writers — so the tmp file
                # is re-stamped whenever the target version moves
                prev_ts = log.commit_timestamp_ms(version - 1) if version > 0 else 0
                ict = max(int(time.time() * 1000), prev_ts + 1)
                if info.get("inCommitTimestamp") != ict:
                    info["inCommitTimestamp"] = ict
                    need_rewrite = True
                if ict_meta is not None:
                    cfg = ict_meta.configuration
                    if (
                        cfg.get(ICT_ENABLEMENT_VERSION_KEY) != str(version)
                        or cfg.get(ICT_ENABLEMENT_TS_KEY) != str(ict)
                    ):
                        cfg[ICT_ENABLEMENT_VERSION_KEY] = str(version)
                        cfg[ICT_ENABLEMENT_TS_KEY] = str(ict)
                        need_rewrite = True
            for stamp in self._version_stampers:
                if stamp(version):
                    need_rewrite = True
            if need_rewrite or tmp is None:
                self._discard_tmp(log, tmp)
                tmp = log.write_tmp_commit(actions, uuid.uuid4().hex)
            try:
                log.try_commit(tmp, version)
                break
            except FileAlreadyExistsError:
                if attempt >= self.max_retries:
                    self._discard_tmp(log, tmp)
                    raise TransactionError(
                        f"commit failed after {attempt} attempts: version contention"
                    )
                # v0 semantics: blind retry at the next version
                continue

        self.table.update()
        self.table._post_commit_hook(version)
        return version

    @staticmethod
    def _discard_tmp(log, tmp: Optional[str]) -> None:
        """Best-effort removal of a temp commit file (None = never written).
        Leaked tmps are also reaped by vacuum, but cleaning eagerly keeps
        the log dir listing small."""
        if tmp is None:
            return
        try:
            log.backend.delete_obj(tmp)
        except FileNotFoundError:
            pass

    def _ict_enabling_metadata(self, actions: list[Action]):
        """The MetaDataAction in this commit that turns ICT on for a table
        where it was previously off (the enablement boundary), else None."""
        from .protocol.actions import MetaDataAction

        if self._ict_enabled():
            return None  # already on — no boundary to record
        for a in actions:
            if isinstance(a, MetaDataAction):
                cfg = a.configuration or {}
                if str(cfg.get("delta.enableInCommitTimestamps", "")).lower() == "true":
                    return a
        return None

    def _cdf_enabling_metadata(self, actions: list[Action]):
        """The MetaDataAction in this commit that turns the change data feed
        on for a table where it was previously off, else None."""
        from .protocol.actions import MetaDataAction

        try:
            cur = self.table.metadata().configuration or {}
        except Exception:
            cur = {}
        if str(cur.get("delta.enableChangeDataFeed", "")).lower() == "true":
            return None  # already on
        for a in actions:
            if isinstance(a, MetaDataAction):
                cfg = a.configuration or {}
                if str(cfg.get("delta.enableChangeDataFeed", "")).lower() == "true":
                    return a
        return None

    def _row_tracking_enabled(self) -> bool:
        from .protocol import row_tracking as _rt

        try:
            cfg = self.table.metadata().configuration or {}
        except Exception:  # table mid-creation: no metadata yet
            return False
        return _rt.enabled(cfg)

    def _append_only(self) -> bool:
        try:
            cfg = self.table.metadata().configuration or {}
        except Exception:  # table mid-creation: no metadata yet
            return False
        return str(cfg.get("delta.appendOnly", "")).lower() == "true"

    def _ict_enabled(self) -> bool:
        try:
            cfg = self.table.metadata().configuration or {}
        except Exception:  # table mid-creation: no metadata yet
            return False
        return (
            str(cfg.get("delta.enableInCommitTimestamps", "")).lower() == "true"
        )

    def _with_ict_protocol_bump(self, actions: list[Action]) -> list[Action]:
        """First ICT commit on a table below writer version 7 carries the
        protocol bump with the spec's ``inCommitTimestamp`` writer feature
        (reader version untouched — ICT is writer-side only); existing
        features are preserved. If this commit ALREADY carries a protocol
        action (e.g. the changeDataFeed floor from enabling both properties
        at once), the feature merges into it — two protocol actions in one
        commit would race on replay order."""
        from .protocol.actions import ProtocolAction

        from .protocol.actions import _LEGACY_WRITER_FEATURES, _implied

        for a in actions:
            if isinstance(a, ProtocolAction):
                # raising a LEGACY bump (e.g. the changeDataFeed writer-4
                # floor) to 7 makes the list mandatory and exhaustive: its
                # version-implied features enumerate alongside the table's
                # existing list and the new token
                wf0 = list(a.writer_features or [])
                if a.writer_features is None:
                    wf0 = _implied(a.min_writer_version, _LEGACY_WRITER_FEATURES)
                a.min_writer_version = max(a.min_writer_version, 7)
                for f in list(self.table.snapshot.state.writer_features or []) + [
                    "inCommitTimestamp"
                ]:
                    if f not in wf0:
                        wf0.append(f)
                a.writer_features = sorted(set(wf0))
                return actions

        state = self.table.snapshot.state
        if state.min_writer_version >= 7 and "inCommitTimestamp" in (
            state.writer_features or []
        ):
            return actions
        from .protocol.actions import upgraded_protocol

        # upgraded_protocol enumerates legacy-implied features when the
        # list becomes mandatory (a writer-6 identity table must list
        # identityColumns alongside the new token)
        bump = upgraded_protocol(
            state, 1, 7, writer_features=["inCommitTimestamp"]
        )
        if bump is None:
            return actions
        # commitInfo must STAY the first log line: commit_timestamp_ms reads
        # only the head of the file for the inCommitTimestamp (bounded I/O on
        # object stores), so the bump slots in after it
        if actions and isinstance(actions[0], CommitInfoAction):
            return [actions[0], bump, *actions[1:]]
        return [bump] + actions

    def _check_conflicts(
        self, log, tmp: str, removed_paths: set[str], isolation: str, lo: int, hi: int
    ) -> None:
        """Delta-style commit conflict detection against the winning commits
        in [lo, hi], built from the public concurrency-control contract
        (docs.delta.io concurrency-control; delta-io/delta ConflictChecker).
        The reference left this surface unimplemented — its retry loop is a
        blind re-commit (``rust/src/delta.rs:1309-1322``, isolation levels
        commented out) — so semantics come from the public spec, not the
        reference.

        Per winning commit: a protocol or metadata change always conflicts;
        a ``txn`` watermark this commit's idempotency read conflicts; a
        remove of a file we read (ConcurrentDeleteRead) or also remove
        (ConcurrentDeleteDelete) conflicts; a data-changing add that may
        match our recorded read domain conflicts per the isolation level —
        Serializable checks every winner add, WriteSerializable exempts the
        winner's blind appends, SnapshotIsolation (auto for dataChange=false
        commits like OPTIMIZE) skips the append check entirely; a
        domainMetadata replace of a domain this commit read conflicts
        (domain writes are whole-value — committing would drop the
        winner's update).

        The protocol/metadata/txn checks are UNCONDITIONAL — they apply
        even to blind appends, because an appended file must conform to the
        table's current schema/protocol (the public Delta contract: any
        concurrent metadata change raises MetadataChanged for every
        transaction). This means concurrent appends to an identity-assigning
        table serialize with MetadataChangedError — the same documented
        limitation real Delta identity columns have, and the guard that
        keeps assigned ids unique. Transactions that recorded no reads and
        remove nothing keep the reference's blind retry for the
        file-level checks. Driver-side only: the winner JSONs are small
        and the range is validated once per version move."""
        from .protocol.actions import (
            CommitInfoAction,
            DomainMetadataAction,
            MetaDataAction,
            ProtocolAction,
            TxnAction,
        )
        from .protocol.partitions import file_matches

        def _fail(exc: Exception) -> None:
            self._discard_tmp(log, tmp)
            raise exc

        check_appends = isolation != SNAPSHOT_ISOLATION and (
            self._read_whole_table or bool(self._read_pfilters)
        )
        for v in range(lo, hi + 1):
            winner = log.try_read_commit(v) or []
            for a in winner:
                if isinstance(a, ProtocolAction):
                    _fail(ProtocolChangedError(
                        f"version {v} changed the table protocol while this "
                        "transaction was in flight; re-read the table and re-run"
                    ))
                if isinstance(a, MetaDataAction):
                    _fail(MetadataChangedError(
                        f"version {v} changed table metadata (schema, "
                        "partitioning or configuration) while this transaction "
                        "was in flight; re-read the table and re-run"
                    ))
                if isinstance(a, TxnAction) and a.app_id in self._read_app_ids:
                    _fail(ConcurrentTransactionError(
                        f"version {v} advanced the transaction watermark for "
                        f"app {a.app_id!r} this commit depends on; the work may "
                        "already be committed — re-read the watermark"
                    ))
                if (
                    isinstance(a, DomainMetadataAction)
                    and a.domain in self._read_domains
                ):
                    _fail(ConcurrentDomainMetadataError(
                        f"version {v} concurrently replaced domainMetadata "
                        f"domain {a.domain!r} this commit read; committing "
                        "would drop that update — re-read, merge, re-run"
                    ))
            w_removed = {a.path for a in winner if isinstance(a, RemoveAction)}
            w_adds = [a for a in winner if isinstance(a, AddAction)]
            dd = removed_paths & w_removed
            if dd:
                _fail(ConcurrentDeleteDeleteError(
                    f"version {v} concurrently removed {len(dd)} file(s) this "
                    f"transaction also removes (e.g. {sorted(dd)[0]}); re-read "
                    "the table and re-run the operation"
                ))
            readd = removed_paths & {a.path for a in w_adds}
            if readd:
                _fail(ConcurrentModificationError(
                    f"version {v} concurrently modified {len(readd)} file(s) "
                    f"this transaction rewrites (e.g. {sorted(readd)[0]}); "
                    "re-read the table and re-run the operation"
                ))
            dr = self._read_files & w_removed
            if dr:
                _fail(ConcurrentDeleteReadError(
                    f"version {v} concurrently removed {len(dr)} file(s) this "
                    f"transaction read (e.g. {sorted(dr)[0]}); re-read the "
                    "table and re-run the operation"
                ))
            if not check_appends:
                continue
            winner_blind = any(
                isinstance(a, CommitInfoAction)
                and (a.info or {}).get("isBlindAppend") is True
                for a in winner
            )
            if isolation == WRITE_SERIALIZABLE and winner_blind:
                continue
            for a in w_adds:
                if not a.data_change:
                    continue
                if self._read_whole_table or file_matches(a, self._read_pfilters):
                    _fail(ConcurrentAppendError(
                        f"version {v} appended files that may match this "
                        f"transaction's read predicate (e.g. {a.path}); under "
                        f"{isolation} isolation the result is stale — re-read "
                        "the table and re-run the operation"
                    ))
