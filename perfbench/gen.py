"""Deterministic inputs for the Delta engine benchmark.

Everything a run feeds the engine comes from here and from ``--seed`` alone:
the generated tables (as pyarrow tables and log-action specs), the operation
sequence and the answer each operation must return. Nothing in this module
touches Spark or the engine, so the same seed can be replayed (and tested)
without a session.

Tables (one set per run, sized by the workload's :class:`Profile`):

- ``log``: a metadata-only table. Its commits carry add actions with per-file
  stats but no data files behind them, so log replay is the only work an
  operation on it can do.
- ``lineitem``: TPC-H-shaped line items, partitioned by ship month. Order
  keys rise with the ship date, so each file holds its own key range and a
  key-range predicate can skip files by their statistics.
- ``wtable``: a TPC-H-orders-shaped table that the write operations change.

Money columns are integer cents, so every aggregate compares exactly.
"""

from __future__ import annotations

import datetime as dt
import itertools
from collections import Counter, defaultdict
from dataclasses import dataclass
from typing import Any, Optional

import numpy as np
import pyarrow as pa

WORKLOADS = ("log_replay", "data_mix")
KINDS = (
    "open",
    "time_travel",
    "refresh",
    "scan_full",
    "scan_pruned",
    "scan_skip",
    "append",
    "merge",
    "delete",
    "lookup",
)
WRITE_KINDS = ("append", "merge", "delete")

# the kinds behind the bounded read metrics and the headline latencies.
# They are probes: a measured phase runs ``Profile.probes`` units of each
# after every unit of another kind, so that their samples cover the whole
# run and a slow spell of the machine moves only some of them.
PROBE_KINDS = ("open", "time_travel")

# samples a run takes at least of each kind: enough of the probes that
# their median is not one noisy sample, one of the rest (their medians are
# reported, not bounded: on a shared 4-vCPU machine they spread across runs
# by more than any bound allows). ``lookup`` runs once after every write.
MIN_SAMPLES = {**dict.fromkeys(KINDS, 1), **dict.fromkeys(PROBE_KINDS, 20)}

# a seed kept out of tuning, for checking later claims of a gain
HELD_OUT_SEED = 7919

APPEND_ROWS = 1000
MERGE_ROWS = 1000  # half existing keys (updates), half new keys (inserts)
DELETE_SHARE = 0.005  # a delete's key range covers this share of the keys
SKIP_RANGES = 32  # distinct key ranges the scan_skip operation draws from
REFRESH_MAX_COMMITS = 5
TIME_TRAVEL_CYCLE = 10  # time travel draws one version from each tenth of its range a cycle

EPOCH = dt.date(1992, 1, 1)
LAST_SHIP = dt.date(1998, 12, 31)
SHIP_DAYS = (LAST_SHIP - EPOCH).days + 1
# ship months ending December 1998, one partition each: above 64 partitions
# the engine scans all of them with one read, below it unions one read per
# partition, which takes seconds
LINEITEM_MONTHS = 84
Q1_CUTOFF = dt.date(1998, 9, 2)
LOG_DAYS = 365


@dataclass(frozen=True)
class Profile:
    log_commits: int
    log_adds: int
    log_checkpoint_interval: int
    lineitem_rows: int
    wtable_rows: int
    wtable_files: int
    # the closed-loop mix inside the measured window: rounds of these kinds,
    # each write followed by a lookup of the key it wrote and every unit by
    # ``probes`` units of each probe kind. The order is the same in every
    # run: a delete after a merge (which undoes the key clustering) rewrites
    # more files than one before it, so the order sets the bytes written.
    round: tuple[str, ...]
    probes: int

    def mix(self) -> dict[str, float]:
        """Kind -> share of the primary mix."""
        units = Counter(self.round)
        writes = sum(units[k] for k in WRITE_KINDS)
        if writes:
            units["lookup"] += writes
        for kind in PROBE_KINDS:
            units[kind] += self.probes * len(self.round)
        total = sum(units.values())
        return {k: n / total for k, n in units.items()}


# small data tables, so that the workload whose mix does not use them still
# reports every metric
_SIDE = dict(
    # the newest fifth of 130 versions (time travel's range) lies past the
    # checkpoint at 100, so every time travel replays from it
    log_commits=130,
    log_adds=20,
    log_checkpoint_interval=100,
    lineitem_rows=16_000,
    wtable_rows=5_000,
    wtable_files=1,
)

PROFILES: dict[str, Profile] = {
    # 1,000 commits of 10 adds (about 9k live files, 1k tombstones): the
    # protocol layer dominates; no operation in the mix reads a data file.
    # A refresh with its probes makes a mix of 2 open, 2 time travel and
    # 1 refresh.
    "log_replay": Profile(
        **{**_SIDE, "log_commits": 1000, "log_adds": 10},
        round=("refresh",),
        probes=2,
    ),
    # scans of 200k line items (84 month partitions) beside writes to a
    # 60k-row orders table (checkpoint every 10th version, so every commit
    # pays the post-commit hook); the log is a few versions, so Spark and the
    # writer dominate
    "data_mix": Profile(
        **{**_SIDE, "lineitem_rows": 200_000, "wtable_rows": 60_000, "wtable_files": 4},
        round=("scan_full", "scan_pruned", "scan_skip", "append", "merge", "delete"),
        probes=3,
    ),
}


@dataclass
class Op:
    kind: str
    params: dict[str, Any]
    expect: Any


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


# ---- data tables -------------------------------------------------------------


def months(n: int) -> list[str]:
    """The last ``n`` ship months, oldest first."""
    return [str(m) for m in np.arange(np.datetime64("1999-01") - n, np.datetime64("1999-01"))]


def lineitem_table(seed: int, rows: int) -> pa.Table:
    """Line items with integer-cent money columns and a ``ship_month``
    partition column derived from ``l_shipdate``, sorted by ship date (and
    so by order key)."""
    r = _rng(seed, 1)
    first = np.datetime64(months(LINEITEM_MONTHS)[0], "D")
    ship = np.sort(r.integers(0, (np.datetime64(LAST_SHIP) - first).astype(int) + 1, rows))
    shipdate = first + ship.astype("timedelta64[D]")
    month = shipdate.astype("datetime64[M]")
    return pa.table(
        {
            "l_orderkey": np.arange(rows, dtype=np.int64) // 4,
            "l_linenumber": (np.arange(rows, dtype=np.int32) % 4) + 1,
            "l_quantity": r.integers(1, 51, rows, dtype=np.int64),
            "l_extendedprice": r.integers(90_000, 10_500_000, rows, dtype=np.int64),
            "l_discount": r.integers(0, 11, rows, dtype=np.int64),
            "l_tax": r.integers(0, 9, rows, dtype=np.int64),
            "l_returnflag": r.choice(np.array(["A", "N", "R"]), rows),
            "l_linestatus": r.choice(np.array(["F", "O"]), rows),
            "l_shipdate": pa.array(shipdate, pa.date32()),
            "ship_month": pa.array(np.datetime_as_string(month, unit="M")),
        }
    )


def orders_rows(r: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    day = r.integers(0, SHIP_DAYS, n)
    return pa.table(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": r.integers(1, 15_001, n, dtype=np.int64),
            "o_orderstatus": r.choice(np.array(["F", "O", "P"]), n),
            "o_totalprice": r.integers(100_000, 50_000_000, n, dtype=np.int64),
            "o_orderdate": pa.array(
                np.datetime64(EPOCH, "D") + day.astype("timedelta64[D]"), pa.date32()
            ),
        }
    )


def orders_table(seed: int, rows: int) -> pa.Table:
    return orders_rows(_rng(seed, 4), np.arange(rows))


def skip_ranges(seed: int, lineitem_rows: int) -> list[tuple[int, int]]:
    """Half-open ``[lo, hi)`` order-key ranges of ``lineitem`` half a month
    wide: each overlaps at most two of its month files (2 of 84)."""
    r = _rng(seed, 3)
    keys = lineitem_rows // 4
    width = max(1, keys // (2 * LINEITEM_MONTHS))
    los = r.integers(0, keys - width, SKIP_RANGES)
    return [(int(lo), int(lo) + width) for lo in los]


# ---- metadata-only log table ---------------------------------------------------


@dataclass
class AddSpec:
    path: str
    size: int
    day: str
    num_records: int
    min_id: int
    max_id: int


class LogModel:
    """Commit plan and expected state of the metadata-only ``log`` table.

    Version 0 holds protocol and metadata. Every later commit adds
    ``adds`` files; every 10th also removes 10 live files, so tombstones
    exist. ``files_at[v]`` / ``rows_at[v]`` are the live-file count and
    ``count_rows()`` the table must report at version ``v``. Open and time
    travel read the table as set-up left it; refresh commits the model's
    later versions to a copy of it.
    """

    def __init__(self, seed: int, adds: int):
        self.seed = seed
        self.adds = adds
        self.live: dict[str, int] = {}  # path -> numRecords, insertion-ordered
        self.files_at = [0]
        self.rows_at = [0]

    @property
    def latest(self) -> int:
        return len(self.files_at) - 1

    def next_commit(self) -> tuple[list[AddSpec], list[str]]:
        """Actions of version ``latest + 1``; applies them to the model."""
        v = self.latest + 1
        r = _rng(self.seed, 10, v)
        removes: list[str] = []
        if v % 10 == 0 and len(self.live) > 10:
            paths = list(self.live)
            for i in sorted(r.choice(len(paths), 10, replace=False).tolist()):
                removes.append(paths[i])
        adds = []
        days = r.integers(0, LOG_DAYS, self.adds)
        nrec = r.integers(1_000, 100_000, self.adds)
        for j in range(self.adds):
            day = (dt.date(2024, 1, 1) + dt.timedelta(days=int(days[j]))).isoformat()
            n = int(nrec[j])
            base = (v * self.adds + j) * 100_000
            adds.append(
                AddSpec(
                    path=f"day={day}/part-{v:06d}-{j:03d}.parquet",
                    size=n * 24,
                    day=day,
                    num_records=n,
                    min_id=base,
                    max_id=base + n - 1,
                )
            )
        rows = self.rows_at[-1] - sum(self.live.pop(p) for p in removes)
        for a in adds:
            self.live[a.path] = a.num_records
            rows += a.num_records
        self.files_at.append(len(self.live))
        self.rows_at.append(rows)
        return adds, removes

    def expect(self, version: Optional[int] = None) -> tuple[int, int, int]:
        v = self.latest if version is None else version
        return v, self.files_at[v], self.rows_at[v]


# ---- the written table -----------------------------------------------------------


class WriteModel:
    """Expected contents of ``wtable``: live keys, the next free key, and
    the key and value of the latest write, which a lookup reads back."""

    def __init__(self, seed: int, rows: int):
        self.r = _rng(seed, 20)
        self.rows = rows
        self.live = set(range(rows))
        self.next_key = rows
        self.last: tuple[int, Optional[int]] = (0, None)  # (key, o_totalprice | None)

    def _fresh(self, n: int) -> np.ndarray:
        keys = np.arange(self.next_key, self.next_key + n)
        self.next_key += n
        return keys

    def append(self) -> pa.Table:
        t = orders_rows(self.r, self._fresh(APPEND_ROWS))
        self.live.update(t.column("o_orderkey").to_pylist())
        i = int(self.r.integers(0, APPEND_ROWS))
        self.last = (t.column("o_orderkey")[i].as_py(), t.column("o_totalprice")[i].as_py())
        return t

    def merge(self) -> pa.Table:
        half = MERGE_ROWS // 2
        old: set[int] = set()
        while len(old) < half:
            k = int(self.r.integers(0, self.next_key))
            if k in self.live:
                old.add(k)
        keys = np.concatenate([np.array(sorted(old)), self._fresh(MERGE_ROWS - half)])
        t = orders_rows(self.r, keys)
        self.live.update(keys.tolist())
        i = int(self.r.integers(0, MERGE_ROWS))
        self.last = (t.column("o_orderkey")[i].as_py(), t.column("o_totalprice")[i].as_py())
        return t

    def delete(self) -> tuple[int, int]:
        width = max(1, int(self.rows * DELETE_SHARE))
        lo = int(self.r.integers(0, self.rows - width))
        gone = [k for k in range(lo, lo + width) if k in self.live]
        self.live.difference_update(gone)
        self.last = (gone[0] if gone else lo, None)
        return lo, lo + width


# ---- the operation stream --------------------------------------------------------


class OpStream:
    """The run's operations, in execution order, each with its answer.

    ``next_unit()`` draws the next operations of the workload's mix;
    ``unit(kind)`` and ``make(kind)`` make them of a given kind (coverage and
    warm-up). The models advance as operations are made, so the stream must
    be consumed in the order the operations run."""

    def __init__(self, workload: str, seed: int):
        self.profile = p = PROFILES[workload]
        self.seed = seed
        self.log = LogModel(seed, p.log_adds)
        self.setup_commits = [self.log.next_commit() for _ in range(p.log_commits - 1)]
        self.wmodel = WriteModel(seed, p.wtable_rows)
        self.ranges = skip_ranges(seed, p.lineitem_rows)
        self._rounds = itertools.cycle(p.round)
        self._kind_rng = {k: _rng(seed, 40, i) for i, k in enumerate(KINDS)}
        self._cycles: dict[tuple[str, str], list[int]] = defaultdict(list)

    def next_unit(self) -> list[Op]:
        """The next unit of the workload's mix, with its probes (see
        :meth:`unit`)."""
        return self.unit(next(self._rounds), probes=True)

    def unit(self, kind: str, probes: bool = False) -> list[Op]:
        """An operation of ``kind``; after a write, also the lookup that
        reads the written key back. A lookup alone follows an append. With
        ``probes``, a kind that is not a probe is followed by the profile's
        probes."""
        if kind == "lookup":
            kind = "append"
        ops = [self.make(kind)]
        if kind in WRITE_KINDS:
            ops.append(self.make("lookup"))
        if probes and kind not in PROBE_KINDS:
            for _ in range(self.profile.probes):
                ops += [self.make(p) for p in PROBE_KINDS]
        return ops

    def restart_cycles(self) -> None:
        """Start every kind's cycle of draws afresh, so that the operations
        made from here on hold whole cycles from their first one."""
        self._cycles.clear()

    def _stratum(self, kind: str, n: int, slot: str = "") -> int:
        """Next of ``0..n-1`` from seeded permutations, one after another."""
        cycle = self._cycles[kind, slot]
        if not cycle:
            cycle.extend(self._kind_rng[kind].permutation(n).tolist())
        return cycle.pop()

    def make(self, kind: str) -> Op:
        r = self._kind_rng[kind]
        if kind == "open":
            return Op(kind, {}, self.log.expect(self.profile.log_commits - 1))
        if kind == "time_travel":
            # recent history (the newest fifth of the set-up log), where a
            # version's cost is one checkpoint plus up to one interval of
            # commits: per ten operations, draw one version from each tenth
            # of that range, three of them by timestamp, so every run sees
            # the same mix of costs
            last = self.profile.log_commits - 1
            width = last / 5 / TIME_TRAVEL_CYCLE
            tenth = self._stratum(kind, TIME_TRAVEL_CYCLE)
            v = min(int(last - last / 5 + (tenth + r.random()) * width) + 1, last)
            mode = "timestamp" if tenth in (1, 4, 7) else "version"
            return Op(kind, {"version": v, "mode": mode}, self.log.expect(v))
        if kind == "refresh":
            n = 1 + self._stratum(kind, REFRESH_MAX_COMMITS)
            commits = [self.log.next_commit() for _ in range(n)]
            return Op(kind, {"commits": commits}, self.log.expect())
        if kind == "scan_full":
            return Op(kind, {}, None)
        if kind == "scan_pruned":
            ms = months(LINEITEM_MONTHS)
            return Op(kind, {"month": ms[int(r.integers(0, len(ms)))]}, None)
        if kind == "scan_skip":
            return Op(kind, {"range": self.ranges[int(r.integers(0, len(self.ranges)))]}, None)
        w = self.wmodel
        if kind == "append":
            rows = w.append()
            return Op(kind, {"rows": rows}, len(w.live))
        if kind == "merge":
            rows = w.merge()
            return Op(kind, {"rows": rows}, len(w.live))
        if kind == "delete":
            lo, hi = w.delete()
            return Op(kind, {"lo": lo, "hi": hi}, len(w.live))
        if kind == "lookup":
            return Op(kind, {"key": w.last[0]}, w.last[1])
        raise ValueError(f"unknown operation kind {kind!r}")
