"""Builds a run's tables through the engine and runs its operations.

Every table is written through the engine's public API: the metadata-only
``log`` table through ``DeltaLog`` (version 0) and ``DeltaTable.begin()``
commits, the data tables through ``write_deltalake``. Expected scan answers
come from DuckDB over the same generated rows; every other answer comes from
the models in :mod:`gen`.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from typing import Any, Callable

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import delta_rs_spark as drs
from delta_rs_spark.protocol.actions import (
    AddAction,
    MetaDataAction,
    ProtocolAction,
    RemoveAction,
)

from gen import LINEITEM_MONTHS, Q1_CUTOFF, AddSpec, Op, OpStream, lineitem_table, months, orders_table

_LOG_SCHEMA = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": n, "type": t, "nullable": True, "metadata": {}}
            for n, t in (("id", "long"), ("value", "double"), ("day", "string"))
        ],
    }
)

_Q1_SQL = """
SELECT {by} l_returnflag, l_linestatus, count(*)::BIGINT, sum(l_quantity)::BIGINT,
       sum(l_extendedprice)::BIGINT,
       sum(l_extendedprice * (100 - l_discount))::BIGINT,
       sum(l_extendedprice * (100 - l_discount) * (100 + l_tax))::BIGINT
FROM lineitem WHERE l_shipdate <= DATE '{cutoff}'
GROUP BY ALL ORDER BY ALL
"""


def _q1(df) -> list[tuple]:
    price = F.col("l_extendedprice")
    disc = price * (100 - F.col("l_discount"))
    rows = (
        df.where(F.col("l_shipdate") <= F.lit(Q1_CUTOFF))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*"),
            F.sum("l_quantity"),
            F.sum(price),
            F.sum(disc),
            F.sum(disc * (100 + F.col("l_tax"))),
        )
        .collect()
    )
    # ordered here rather than by Spark: a sort adds a sampling job
    return sorted(tuple(r) for r in rows)


def expected_scans(lineitem: pa.Table, ranges: list[tuple[int, int]]) -> dict[str, Any]:
    """Answers of every scan operation, computed by DuckDB over the rows
    the tables were written from."""
    con = duckdb.connect()
    try:
        con.register("lineitem", lineitem)
        # once per distinct range: a range drawn twice would double its sums
        distinct = sorted(set(ranges))
        con.register("ranges", pa.table({"lo": [r[0] for r in distinct],
                                         "hi": [r[1] for r in distinct]}))
        rows = con.execute(
            """SELECT r.lo, r.hi, count(l.l_orderkey)::BIGINT,
                      coalesce(sum(l.l_extendedprice), 0)::BIGINT,
                      coalesce(sum(l.l_quantity), 0)::BIGINT
               FROM ranges r LEFT JOIN lineitem l
                 ON l.l_orderkey >= r.lo AND l.l_orderkey < r.hi
               GROUP BY r.lo, r.hi"""
        ).fetchall()
        pruned: dict[str, list[tuple]] = {m: [] for m in months(LINEITEM_MONTHS)}
        for month, *row in con.execute(_Q1_SQL.format(by="ship_month,", cutoff=Q1_CUTOFF)).fetchall():
            pruned[month].append(tuple(row))
        return {
            "scan_full": con.execute(_Q1_SQL.format(by="", cutoff=Q1_CUTOFF)).fetchall(),
            "scan_pruned": pruned,
            "scan_skip": {(lo, hi): (n, s, c) for lo, hi, n, s, c in rows},
        }
    finally:
        con.close()


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _sub, files in os.walk(root) for f in files
    )


class Bench:
    """One run's tables and the code that runs each operation kind."""

    def __init__(self, work: Path, stream: OpStream):
        self.spark = None
        self.work = work
        self.stream = stream
        self.profile = stream.profile
        # ``log_rw`` is the copy of ``log`` that refresh commits to
        self.uri = {name: str(work / name) for name in ("log", "log_rw", "lineitem", "wtable")}
        self.expected: dict[str, Any] = {}
        # per write op: bytes the written table grew by, bytes of input rows
        self.bytes_written: dict[str, list[int]] = {"append": [], "merge": [], "delete": []}
        self.user_bytes: dict[str, list[int]] = {"append": [], "merge": [], "delete": []}

    # ---- set-up ------------------------------------------------------------
    def prepare(self) -> None:
        """The benchmark's own set-up, before the engine's: generate the data
        tables' rows, stage them as parquet files and compute the scan
        answers with DuckDB."""
        p, seed = self.profile, self.stream.seed
        lineitem = lineitem_table(seed, p.lineitem_rows)
        self._stage(lineitem, "lineitem", 4)
        self._stage(orders_table(seed, p.wtable_rows), "wtable", 1)
        self.expected = expected_scans(lineitem, self.stream.ranges)

    def setup(self, start_spark: Callable[[], Any], phases: dict[str, float]) -> None:
        """The engine's set-up: start Spark and build every table; adds the
        seconds each step took to ``phases``. The log table (Python-bound)
        builds on a worker thread while this one starts Spark and writes the
        data tables (JVM-bound)."""

        def timed(name: str, fn: Callable, *args) -> Any:
            t = time.perf_counter()
            out = fn(*args)
            phases[name] = time.perf_counter() - t
            return out

        p = self.profile
        with ThreadPoolExecutor(max_workers=1) as pool:
            log = pool.submit(timed, "log", self._build_log)
            self.spark = timed("session", start_spark)
            timed("lineitem", self._write, "lineitem", ["ship_month"])
            timed("wtable", self._write, "wtable", None, p.wtable_files)
            log.result()

    def align_checkpoint(self) -> None:
        """Commit empty versions to ``wtable`` until its next version is a
        checkpoint version, so that in every run the first measured write
        writes a checkpoint and cleans up the log."""
        table = drs.DeltaTable(self.uri["wtable"])
        while (table.version + 1) % table.checkpoint_interval:
            table.begin().commit(operation="WRITE")
            table.update_incremental()

    def sizes(self) -> dict[str, dict[str, int]]:
        """Commits, live files, rows and bytes on disk of every table."""
        out = {}
        for name, uri in self.uri.items():
            t = drs.DeltaTable(uri)
            out[name] = {"commits": t.version + 1, "files": len(t.files()),
                         "rows": t.count_rows(), "bytes": _dir_bytes(uri)}
        return out

    def _build_log(self) -> None:
        uri = self.uri["log"]
        os.makedirs(uri)
        log = drs.DeltaLog(uri)
        meta = MetaDataAction(
            id=str(uuid.UUID(int=self.stream.seed)),
            schema_string=_LOG_SCHEMA,
            partition_columns=["day"],
            configuration={"delta.checkpointInterval": str(self.profile.log_checkpoint_interval)},
        )
        log.try_commit(log.write_tmp_commit([ProtocolAction(1, 2), meta], "v0"), 0)
        builder = drs.DeltaTable(uri)
        for adds, removes in self.stream.setup_commits:
            self._log_commit(builder, adds, removes)
        # commit v was written at second `log_base + v`: timestamp time
        # travel then has one exact answer per version (an hour ago, well
        # inside the log retention window)
        self.log_base = int(time.time()) - self.profile.log_commits - 3600
        for v in range(self.profile.log_commits):
            t = self.log_base + v
            os.utime(log.commit_path(v), (t, t))
        # refresh commits to a copy, so every open and time travel reads the
        # same table however many refreshes ran before it
        shutil.copytree(uri, self.uri["log_rw"])
        self.log_writer = drs.DeltaTable(self.uri["log_rw"])
        self.log_reader = drs.DeltaTable(self.uri["log_rw"])

    @staticmethod
    def _log_commit(table, adds: list[AddSpec], removes: list[str]) -> None:
        now = int(time.time() * 1000)
        txn = table.begin()
        txn.add_actions([RemoveAction(path=p, deletion_timestamp=now) for p in removes])
        txn.add_actions(
            [
                AddAction(
                    path=a.path,
                    size=a.size,
                    partition_values={"day": a.day},
                    modification_time=now,
                    stats=json.dumps(
                        {
                            "numRecords": a.num_records,
                            "minValues": {"id": a.min_id},
                            "maxValues": {"id": a.max_id},
                            "nullCount": {"id": 0},
                        }
                    ),
                )
                for a in adds
            ]
        )
        txn.commit(operation="WRITE")

    def _stage(self, table: pa.Table, name: str, parts: int) -> None:
        """Save ``table`` as ``parts`` parquet files for :meth:`_write`."""
        src = self.work / "src" / name
        src.mkdir(parents=True)
        step = -(-table.num_rows // parts)
        for i in range(parts):
            pq.write_table(table.slice(i * step, step), src / f"part-{i}.parquet")

    def _write(self, name: str, partition_by=None, range_files: int = 0) -> None:
        """Write the staged rows of ``name`` through the engine;
        ``range_files`` clusters them into that many files by key."""
        df = self.spark.read.parquet(str(self.work / "src" / name))
        if range_files:
            key = df.columns[0]
            df = df.repartitionByRange(range_files, key).sortWithinPartitions(key)
        drs.write_deltalake(self.spark, df, self.uri[name], partition_by=partition_by)

    # ---- operations ----------------------------------------------------------
    def start(self, op: Op) -> Callable[[], Any]:
        """Prepare ``op`` (untimed) and return the call to time."""
        if op.kind in self.bytes_written:
            self._size_before = _dir_bytes(self.uri["wtable"])
        return getattr(self, f"_{op.kind}")(op)

    def answer(self, op: Op, result: Any) -> Any:
        """What :meth:`check` compares with the expected answer, computed
        untimed from the call's result. Write operations also record how
        many bytes the table grew by (data files plus ``_delta_log``)."""
        if op.kind in ("open", "time_travel", "refresh"):
            return result.version, len(result.files()), result.count_rows()
        if op.kind in self.bytes_written:
            self.bytes_written[op.kind].append(max(0, _dir_bytes(result) - self._size_before))
            self.user_bytes[op.kind].append(op.params["rows"].nbytes if "rows" in op.params else 0)
            return drs.DeltaTable(result).count_rows()
        return result

    def check(self, op: Op, got: Any) -> None:
        """Raise when the operation's answer is wrong."""
        want = op.expect
        if op.kind == "scan_full":
            want = self.expected["scan_full"]
        elif op.kind == "scan_pruned":
            want = self.expected["scan_pruned"][op.params["month"]]
        elif op.kind == "scan_skip":
            want = self.expected["scan_skip"][op.params["range"]]
        if got != want:
            raise AssertionError(f"{op.kind}: got {got!r}, want {want!r}")

    def _open(self, op: Op):
        uri = self.uri["log"]
        return lambda: drs.DeltaTable(uri)

    def _time_travel(self, op: Op):
        uri, v = self.uri["log"], op.params["version"]
        if op.params["mode"] == "timestamp":
            ts = dt.datetime.fromtimestamp(self.log_base + v + 0.5, tz=dt.timezone.utc)
            return lambda: drs.DeltaTable.for_timestamp(uri, ts)
        return lambda: drs.DeltaTable.for_version(uri, v)

    def _refresh(self, op: Op):
        def refresh():
            for adds, removes in op.params["commits"]:
                self._log_commit(self.log_writer, adds, removes)
            self.log_reader.update_incremental()
            return self.log_reader

        return refresh

    def _scan_full(self, op: Op):
        uri = self.uri["lineitem"]
        return lambda: _q1(drs.DeltaTable(uri).to_df(self.spark))

    def _scan_pruned(self, op: Op):
        uri, month = self.uri["lineitem"], op.params["month"]
        return lambda: _q1(
            drs.DeltaTable(uri).to_df(self.spark, partition_filters=[("ship_month", "=", month)])
        )

    def _scan_skip(self, op: Op):
        uri = self.uri["lineitem"]
        lo, hi = op.params["range"]
        key = F.col("l_orderkey")

        def scan():
            df = drs.DeltaTable(uri).to_df(
                self.spark, skip_predicates=[("l_orderkey", ">=", lo), ("l_orderkey", "<", hi)]
            )
            row = df.where((key >= lo) & (key < hi)).agg(
                F.count("*"), F.sum("l_extendedprice"), F.sum("l_quantity")
            ).collect()[0]
            return tuple(int(x or 0) for x in row)

        return scan

    def _append(self, op: Op):
        rows: pa.Table = op.params["rows"]
        uri = self.uri["wtable"]

        def append():
            drs.write_deltalake(self.spark, rows, uri, mode="append")
            return uri

        return append

    def _merge(self, op: Op):
        rows: pa.Table = op.params["rows"]
        uri = self.uri["wtable"]

        def merge():
            src = self.spark.createDataFrame(rows.to_pandas())
            drs.DeltaTable(uri).merge(self.spark, src, "t.o_orderkey = s.o_orderkey")
            return uri

        return merge

    def _delete(self, op: Op):
        uri, lo, hi = self.uri["wtable"], op.params["lo"], op.params["hi"]

        def delete():
            drs.DeltaTable(uri).delete(self.spark, f"o_orderkey >= {lo} AND o_orderkey < {hi}")
            return uri

        return delete

    def _lookup(self, op: Op):
        uri, k = self.uri["wtable"], op.params["key"]

        def lookup():
            df = drs.DeltaTable(uri).to_df(self.spark, skip_predicates=[("o_orderkey", "=", k)])
            rows = df.where(F.col("o_orderkey") == k).select("o_totalprice").collect()
            if len(rows) > 1:
                raise AssertionError(f"key {k} has {len(rows)} rows")
            return rows[0][0] if rows else None

        return lookup
