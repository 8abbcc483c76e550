"""Span tracing of the engine's layers, installed from outside the engine.

:func:`Tracer.install` wraps public functions of each engine module at run
time (nothing in ``delta_rs_spark`` is edited). Every call becomes a span:
name, layer, start, end, parent span and operation id. Spans stay in memory
until :meth:`Tracer.write` saves them at the end of the run.

A span's self time is its duration minus the part covered by its child
spans; a layer's self time is the sum over its spans. Counters are bumped
at the same call boundaries (calls, bytes, actions, files).
"""

from __future__ import annotations

import gzip
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from typing import Any, Callable, Optional

# span name -> metric it feeds ("<layer>.<metric>"); spans not listed here
# still count toward their layer's self time
SPAN_METRICS = {
    "protocol.log.list_commit_versions": "protocol.log.list_ms",
    "protocol.log.list_compactions": "protocol.log.list_ms",
    "protocol.log.find_latest_checkpoint_for_version": "protocol.log.list_ms",
    "protocol.log.read_commit": "protocol.log.read_commit_ms",
    "protocol.actions.parse_log_entry": "protocol.actions.parse_ms",
    "protocol.snapshot.load": "protocol.snapshot.load_ms",
    "protocol.snapshot.read_checkpoint_actions": "protocol.snapshot.checkpoint_read_ms",
    "protocol.snapshot.apply_new_versions": "protocol.snapshot.apply_new_versions_ms",
    "protocol.state.apply_all": "protocol.state.fold_ms",
    "protocol.stats.files": "protocol.stats.prune_ms",
    "protocol.stats.prune_files": "protocol.stats.prune_ms",
    "table.to_df": "table.to_df_ms",
    "table.snapshot_to_df": "table.to_df_ms",
    "table.df_for_adds": "table.to_df_ms",
    "dataplane.collect": "dataplane.collect_ms",
    "writer.publish_file": "writer.publish_ms",
    "transactions.commit": "transactions.commit_ms",
    "dml.merge": "dml.merge_ms",
    "dml.delete": "dml.delete_ms",
    "maintenance.write_version_checksum": "maintenance.checksum_ms",
    "maintenance.create_checkpoint": "maintenance.checkpoint_ms",
    "maintenance.cleanup_expired_logs": "maintenance.log_cleanup_ms",
}

# layers whose summed self time is reported as "<layer>.self_ms"
SELF_LAYERS = ("protocol.storage", "protocol.log", "dataplane", "writer")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (id, name, layer, t0, t1, parent, op)
        self.counts: dict[str, float] = defaultdict(float)
        self.op: Optional[int] = None  # operation id, None outside operations
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[Callable[[], None]] = []
        self.per_span_s = 0.0

    # ---- recording ---------------------------------------------------------
    def _stack(self) -> list:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def count(self, key: str, n: float = 1) -> None:
        if self.op is None:
            return
        with self._lock:
            self.counts[key] += n

    def inside(self, name: str) -> bool:
        """True when a span named ``name`` is open on this thread."""
        return any(n == name for _sid, n in self._stack())

    def wrap(self, fn: Callable, name: str, hook=None, on_error=None) -> Callable:
        """``fn`` recording one span per call; ``hook(tracer, args, kwargs,
        result)`` runs after a call that returned, ``on_error(tracer, exc)``
        after one that raised."""
        layer = name.rsplit(".", 1)[0]
        tracer = self

        def traced(*args, **kwargs):
            stack = tracer._stack()
            sid = next(tracer._ids)
            parent = stack[-1][0] if stack else None
            stack.append((sid, name))
            t0 = time.perf_counter_ns()
            try:
                result = fn(*args, **kwargs)
            except Exception as exc:
                if on_error is not None:
                    on_error(tracer, exc)
                raise
            else:
                if hook is not None:
                    result = hook(tracer, args, kwargs, result)
                return result
            finally:
                t1 = time.perf_counter_ns()
                stack.pop()
                if tracer.op is not None:
                    tracer.spans.append((sid, name, layer, t0, t1, parent, tracer.op))

        traced.__wrapped__ = fn
        return traced

    # ---- installation ------------------------------------------------------
    def patch(self, owner: Any, attr: str, name: str, hook=None, on_error=None) -> None:
        """Replace ``owner.attr`` by its traced form. Plain module functions
        are also replaced wherever another engine module imported them by
        name, so calls through those bindings are traced too."""
        is_class = isinstance(owner, type)
        raw = owner.__dict__.get(attr) if is_class else getattr(owner, attr)
        if isinstance(raw, (classmethod, staticmethod)):
            new: Any = type(raw)(self.wrap(raw.__func__, name, hook, on_error))
        else:
            new = self.wrap(getattr(owner, attr), name, hook, on_error)
        setattr(owner, attr, new)
        if raw is None:  # inherited: drop the override again
            self._restore.append(lambda: delattr(owner, attr))
        else:
            self._restore.append(lambda: setattr(owner, attr, raw))
        if is_class:
            return
        for mod in list(sys.modules.values()):
            if mod is not owner and getattr(mod, "__name__", "").startswith("delta_rs_spark"):
                if getattr(mod, attr, None) is raw:
                    setattr(mod, attr, new)
                    self._restore.append(lambda m=mod: setattr(m, attr, raw))

    def install(self, spark) -> None:
        from delta_rs_spark import dml, maintenance, writer
        from delta_rs_spark import table as table_mod
        from delta_rs_spark import transactions
        from delta_rs_spark.protocol import actions, dataio, log, snapshot, state, stats, storage

        backend = storage.LocalFileBackend
        for attr in ("list_objs", "get_obj", "get_obj_head", "put_obj", "head_obj",
                     "exists", "delete_obj", "rename_obj_noreplace", "copy_obj", "makedirs"):
            self.patch(backend, attr, f"protocol.storage.{attr}", _STORAGE_HOOKS.get(attr))
        for attr in ("list_commit_versions", "list_compactions",
                     "find_latest_checkpoint_for_version", "read_last_checkpoint",
                     "commit_timestamp_ms", "write_tmp_commit"):
            self.patch(log.DeltaLog, attr, f"protocol.log.{attr}")
        self.patch(log.DeltaLog, "read_commit", "protocol.log.read_commit", _count_commit)
        self.patch(log.DeltaLog, "try_commit", "protocol.log.try_commit", _count_attempt,
                   _count_conflict)
        self.patch(actions, "parse_log_entry", "protocol.actions.parse_log_entry", _count_parsed)
        self.patch(snapshot.Snapshot, "load", "protocol.snapshot.load")
        self.patch(snapshot.Snapshot, "apply_new_versions", "protocol.snapshot.apply_new_versions")
        self.patch(snapshot, "read_checkpoint_actions",
                   "protocol.snapshot.read_checkpoint_actions", _count_checkpoint_actions)
        self.patch(state.TableState, "apply_all", "protocol.state.apply_all", _count_folded)
        self.patch(snapshot.Snapshot, "files", "protocol.stats.files", _count_pruning)
        self.patch(stats, "prune_files", "protocol.stats.prune_files")
        self.patch(table_mod.DeltaTable, "to_df", "table.to_df")
        self.patch(snapshot.Snapshot, "to_df", "table.snapshot_to_df")
        self.patch(snapshot.Snapshot, "df_for_adds", "table.df_for_adds")
        df_cls = type(spark.range(1))
        self.patch(df_cls, "collect", "dataplane.collect")
        self.patch(df_cls, "count", "dataplane.count")
        self.patch(type(spark.range(1).write), "parquet", "dataplane.write_parquet")
        self.patch(type(spark.read), "parquet", "table.read_parquet", _count_scan_branch)
        self.patch(writer, "write_deltalake", "writer.write_deltalake")
        self.patch(dataio.DataPlane, "publish_file", "writer.publish_file", _count_published)
        self.patch(transactions.DeltaTransaction, "commit", "transactions.commit",
                   _count_commit_actions)
        self.patch(dml, "merge", "dml.merge", _count_merged)
        self.patch(dml, "delete", "dml.delete", _count_deleted)
        self.patch(maintenance, "write_version_checksum", "maintenance.write_version_checksum")
        self.patch(maintenance, "create_checkpoint", "maintenance.create_checkpoint",
                   _count_checkpoint)
        self.patch(maintenance, "cleanup_expired_logs", "maintenance.cleanup_expired_logs")
        self._calibrate()

    def _calibrate(self, calls: int = 20000) -> None:
        """Cost of one span: a traced no-op call minus a plain one."""

        def noop():
            return None

        traced = self.wrap(noop, "trace.calibrate")
        saved, self.op = self.op, None
        t0 = time.perf_counter()
        for _ in range(calls):
            noop()
        t1 = time.perf_counter()
        for _ in range(calls):
            traced()
        t2 = time.perf_counter()
        self.op = saved
        self.per_span_s = max(0.0, ((t2 - t1) - (t1 - t0)) / calls)

    def uninstall(self) -> None:
        while self._restore:
            self._restore.pop()()

    # ---- reporting ---------------------------------------------------------
    def self_times(self, ops: set) -> dict[int, float]:
        """span id -> self time in ms, over the spans of ``ops``. Children
        in another thread carry no parent and subtract nothing."""
        spans = [s for s in self.spans if s[6] in ops]
        child_ns: dict[int, int] = defaultdict(int)
        for sid, _n, _l, t0, t1, parent, _op in spans:
            if parent is not None:
                child_ns[parent] += t1 - t0
        return {s[0]: (s[4] - s[3] - child_ns[s[0]]) / 1e6 for s in spans}

    def layer_metrics(self, ops: set, n_ops: int, elapsed_s: float) -> dict[str, tuple[float, str]]:
        """Per-layer metrics over the spans and counts of the measured
        operations, per operation."""
        selfs = self.self_times(ops)
        ms: dict[str, float] = defaultdict(float)
        layer_self: dict[str, float] = defaultdict(float)
        n_spans = 0
        for sid, name, layer, t0, t1, _p, op in self.spans:
            if op not in ops:
                continue
            n_spans += 1
            layer_self[layer] += selfs[sid]
            metric = SPAN_METRICS.get(name)
            if metric:
                ms[metric] += selfs[sid]
            if name == "writer.write_deltalake":
                ms["writer.write_ms"] += (t1 - t0) / 1e6
        for layer in SELF_LAYERS:
            ms[f"{layer}.self_ms"] = layer_self[layer]
        c = self.counts
        out: dict[str, tuple[float, str]] = {}
        for name in sorted(set(SPAN_METRICS.values()) | set(ms)):
            out[name] = (ms[name] / n_ops, "ms/op")
        for key, unit in COUNT_METRICS.items():
            out[key] = (c[key] / n_ops, unit)
        out["protocol.stats.kept_ratio"] = (
            c["protocol.stats.files_kept"] / c["protocol.stats.files_in"]
            if c["protocol.stats.files_in"] else 1.0,
            "ratio",
        )
        changed = c["dml.rows_changed"]
        out["dml.rows_rewritten_per_row_changed"] = (
            c["dml.rows_written"] / changed if changed else 0.0, "ratio"
        )
        out["trace.spans"] = (n_spans / n_ops, "count/op")
        out["trace.overhead_pct"] = (
            100.0 * n_spans * self.per_span_s / elapsed_s if elapsed_s else 0.0, "%"
        )
        return out

    def layer_self_by_kind(self, kinds: dict[int, str]) -> dict[str, dict[str, float]]:
        """kind -> layer -> mean self ms per operation of that kind."""
        selfs = self.self_times(set(kinds))
        n = defaultdict(int)
        for k in kinds.values():
            n[k] += 1
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for sid, _name, layer, _t0, _t1, _p, op in self.spans:
            if op in kinds:
                out[kinds[op]][layer] += selfs[sid] / n[kinds[op]]
        return {k: dict(v) for k, v in out.items()}

    def write(self, path) -> None:
        with gzip.open(path, "wt") as f:
            for sid, name, _layer, t0, t1, parent, op in self.spans:
                f.write(json.dumps({"id": sid, "name": name, "start_ns": t0, "end_ns": t1,
                                    "parent": parent, "op": op}) + "\n")


COUNT_METRICS = {
    "protocol.storage.list_calls": "count/op",
    "protocol.storage.get_calls": "count/op",
    "protocol.storage.put_calls": "count/op",
    "protocol.storage.get_bytes": "B/op",
    "protocol.storage.put_bytes": "B/op",
    "protocol.log.commits_read": "count/op",
    "protocol.actions.parsed": "count/op",
    "protocol.snapshot.checkpoint_actions": "count/op",
    "protocol.state.actions_folded": "count/op",
    "protocol.stats.files_in": "count/op",
    "protocol.stats.files_kept": "count/op",
    "table.scan_branches": "count/op",
    "dataplane.files_read": "count/op",
    "dataplane.bytes_read": "B/op",
    "dataplane.tasks": "count/op",
    "writer.files_written": "count/op",
    "transactions.attempts": "count/op",
    "transactions.conflicts": "count/op",
    "dml.files_rewritten": "count/op",
    "dml.bytes_rewritten": "B/op",
    "maintenance.checkpoints": "count/op",
    "maintenance.checkpoint_bytes": "B/op",
}


# ---- counter hooks ------------------------------------------------------------


def _listed(t: Tracer, args, kwargs, result):
    t.count("protocol.storage.list_calls")
    return iter(list(result))  # consume inside the span: listing is lazy


def _got(t: Tracer, args, kwargs, result):
    t.count("protocol.storage.get_calls")
    t.count("protocol.storage.get_bytes", len(result))
    return result


def _put(t: Tracer, args, kwargs, result):
    data = args[2] if len(args) > 2 else kwargs["data"]
    t.count("protocol.storage.put_calls")
    t.count("protocol.storage.put_bytes", len(data))
    if t.inside("maintenance.create_checkpoint"):
        t.count("maintenance.checkpoint_bytes", len(data))
    return result


_STORAGE_HOOKS = {"list_objs": _listed, "get_obj": _got, "get_obj_head": _got, "put_obj": _put}


def _count_commit(t: Tracer, args, kwargs, result):
    t.count("protocol.log.commits_read")
    return result


def _count_attempt(t: Tracer, args, kwargs, result):
    t.count("transactions.attempts")
    return result


def _count_conflict(t: Tracer, exc: Exception):
    from delta_rs_spark.protocol.log import FileAlreadyExistsError

    t.count("transactions.attempts")
    if isinstance(exc, FileAlreadyExistsError):
        t.count("transactions.conflicts")


def _count_parsed(t: Tracer, args, kwargs, result):
    t.count("protocol.actions.parsed", len(result))
    return result


def _count_folded(t: Tracer, args, kwargs, result):
    actions = args[1] if len(args) > 1 else kwargs["actions"]
    if hasattr(actions, "__len__"):  # a consumed iterator cannot be counted
        t.count("protocol.state.actions_folded", len(actions))
    return result


def _count_checkpoint_actions(t: Tracer, args, kwargs, result):
    t.count("protocol.snapshot.checkpoint_actions", len(result))
    return result


def _count_pruning(t: Tracer, args, kwargs, result):
    given = list(args[1:3]) + [kwargs.get("partition_filters"), kwargs.get("skip_predicates")]
    if any(given):
        t.count("protocol.stats.files_in", len(args[0].state.files))
        t.count("protocol.stats.files_kept", len(result))
    return result


def _count_scan_branch(t: Tracer, args, kwargs, result):
    t.count("table.scan_branches")
    t.count("dataplane.files_read", len(args) - 1)
    return result


def _count_published(t: Tracer, args, kwargs, result):
    t.count("writer.files_written")
    return result


def _count_checkpoint(t: Tracer, args, kwargs, result):
    t.count("maintenance.checkpoints")
    return result


def _count_commit_actions(t: Tracer, args, kwargs, result):
    """Files and rows a DML commit rewrote, from the committed actions."""
    from delta_rs_spark.protocol.actions import AddAction, RemoveAction

    if t.inside("dml.merge") or t.inside("dml.delete"):
        acts = args[0].actions
        adds = [a for a in acts if isinstance(a, AddAction)]
        t.count("dml.files_rewritten", sum(isinstance(a, RemoveAction) for a in acts))
        t.count("dml.bytes_rewritten", sum(a.size or 0 for a in adds))
        t.count("dml.rows_written", sum(a.num_records or 0 for a in adds))
    return result


def _count_merged(t: Tracer, args, kwargs, result):
    t.count("dml.rows_changed", sum(int(result.get(k) or 0) for k in (
        "numTargetRowsUpdated", "numTargetRowsInserted", "numTargetRowsDeleted")))
    return result


def _count_deleted(t: Tracer, args, kwargs, result):
    t.count("dml.rows_changed", int(result.get("numDeletedRows") or 0))
    return result
