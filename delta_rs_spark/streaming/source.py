"""Structured Streaming source: tail the Delta log as micro-batches.

Spark-native integration via the Python DataSource API (Spark 4): stream
offsets are **table versions**; each micro-batch reads the files added by the
commits in (start, end], one input partition per data file — so a batch over
a 1000-file commit fans out across the whole cluster.

Semantics follow the reference's tailing model (``rust/src/delta.rs:612-638``
+ ``dataChange`` at ``rust/src/action.rs:165-170``): compaction-only commits
(dataChange=false) are skipped; a data-changing `remove` in the stream range
is an error unless one of the public Delta source options says otherwise —
``skipChangeCommits`` (drop rewrite commits wholly, adds included),
``ignoreDeletes`` (tolerate delete-ONLY commits), or ``ignoreChanges``
(re-emit rewritten files' rows).

Usage::

    spark.dataSource.register(DeltaStreamDataSource)
    df = (spark.readStream.format("delta_stream")
          .option("path", table_uri)
          .option("startingVersion", "0")
          .option("maxFilesPerTrigger", "1000")   # bounded backfill batches
          .load())
"""

from __future__ import annotations

import json
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType


class DeltaFilePartition(InputPartition):
    def __init__(
        self,
        file_uri: str,
        partition_values: dict[str, str | None],
        schema_json: str,
        partition_columns: list[str],
        change_type: str | None = None,
        commit_version: int | None = None,
        is_cdc_file: bool = False,
        dv_positions: list[int] | None = None,
        dv_mode: str = "drop",
        dv_descriptor: dict | None = None,
        table_root: str | None = None,
    ):
        self.file_uri = file_uri
        self.partition_values = partition_values
        self.schema_json = schema_json
        self.partition_columns = partition_columns
        # change-feed mode: constant _change_type for data files, or read it
        # from the file itself for cdc files; _commit_version always constant
        self.change_type = change_type
        self.commit_version = commit_version
        self.is_cdc_file = is_cdc_file
        # deletion vector, one of two forms:
        # - dv_descriptor (+ table_root): the spec RoaringBitmap descriptor,
        #   decoded ON THE EXECUTOR that reads the file — the scale path (a
        #   batch planning 10k DV'd files ships 10k small dicts, not 10k
        #   driver-decoded position lists);
        # - dv_positions: pre-decoded positions, used where planning MUST
        #   decode anyway (CDF's newly-dead diff of two bitmaps) and for
        #   legacy parquet-dir descriptors (they need the driver's data
        #   plane).
        # Mode "drop" skips the marked rows (read live rows), mode "select"
        # keeps ONLY them (CDF: rows newly deleted by a DV commit).
        self.dv_positions = dv_positions
        self.dv_mode = dv_mode
        self.dv_descriptor = dv_descriptor
        self.table_root = table_root


class DeltaStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("option 'path' is required for the delta_stream source")
        sv = str(options.get("startingversion", "0"))
        if sv.lower() == "latest":
            # Delta-source contract: only changes committed AFTER stream
            # start — the backfill is skipped entirely
            from ..table import DeltaTable as _DTL

            self.starting_version = _DTL(self.path).version + 1
        else:
            self.starting_version = int(sv)
        ts = options.get("startingtimestamp")
        if ts is not None:
            # resolved once at stream start from one log listing (no
            # snapshot is loaded): the Delta-source contract is at-or-after —
            # a commit stamped exactly ts is included, and a ts before table
            # creation starts from the earliest version
            from ..protocol.log import DeltaLog

            self.starting_version = DeltaLog(options["path"]).version_at_timestamp(
                ts, at_or_after=True
            )
        self.ignore_changes = str(options.get("ignorechanges", "false")).lower() == "true"
        # public Delta source options for tables with deletes/updates:
        # ignoreDeletes tolerates DELETE-ONLY commits (skipped entirely);
        # skipChangeCommits skips ANY data-changing-remove commit including
        # its adds (the successor to ignoreChanges, which re-emits rewritten
        # files' rows)
        self.ignore_deletes = str(options.get("ignoredeletes", "false")).lower() == "true"
        self.skip_change_commits = (
            str(options.get("skipchangecommits", "false")).lower() == "true"
        )
        self.read_change_feed = (
            str(options.get("readchangefeed", "false")).lower() == "true"
        )
        self.max_files_per_trigger = int(options.get("maxfilespertrigger", 0) or 0)
        self.max_bytes_per_trigger = int(options.get("maxbytespertrigger", 0) or 0)
        # highest version already exposed through an offset; None until we
        # learn the stream position (initialOffset on fresh queries,
        # partitions()/commit() after a checkpoint restart)
        self._planned: int | None = None
        self.schema = schema

        from ..table import DeltaTable

        self._table = DeltaTable(self.path)

    def initialOffset(self) -> dict:
        self._planned = self.starting_version - 1
        return {"version": self.starting_version - 1}

    def latestOffset(self) -> dict:
        """Latest table version — bounded to ~maxFilesPerTrigger data files
        and/or ~maxBytesPerTrigger bytes per trigger when set (Delta-source
        rate limiting: a month-long backfill becomes many bounded
        micro-batches instead of one giant first batch; the bytes bound is
        what actually protects executor memory when file sizes vary).
        The Python DataSource API has no admission-control
        hook and may call this before initialOffset, so the walk
        bootstraps from startingVersion; after a checkpoint restart the
        real stream position is re-learned in partitions() (clamped
        forward on both ends), so a cold bound can cost one empty batch
        but never replays rows. Offsets are whole versions, so a single
        commit larger than the bound still ships complete (same as the
        Delta source's at-least-one-file admission). Use a
        processing-time trigger with processAllAvailable/steady polling —
        trigger(availableNow=True) snapshots ONE bounded offset and stops
        there."""
        latest = self._table.update()
        if self._planned is None:
            self._planned = self.starting_version - 1
        bounded = self.max_files_per_trigger or self.max_bytes_per_trigger
        if not bounded or latest <= self._planned:
            # never move BACKWARD: startingVersion may sit ahead of the
            # table's current version, and rewinding _planned would later
            # replay versions the user explicitly excluded
            self._planned = max(self._planned, latest)
            return {"version": self._planned}
        end, n, nbytes = self._planned, 0, 0
        for v in range(self._planned + 1, latest + 1):
            n_files, v_bytes = self._data_file_weight(v)
            over_files = (
                self.max_files_per_trigger
                and n + n_files > self.max_files_per_trigger
            )
            over_bytes = (
                self.max_bytes_per_trigger
                and nbytes + v_bytes > self.max_bytes_per_trigger
            )
            if end > self._planned and (over_files or over_bytes):
                break
            n += n_files
            nbytes += v_bytes
            end = v
        self._planned = end
        return {"version": end}

    def _data_file_weight(self, version: int) -> tuple[int, int]:
        """(data file count, total bytes) a version contributes to a batch."""
        from ..protocol.actions import AddAction, CdcAction

        actions = self._table.log.try_read_commit(version) or []
        n, nbytes = 0, 0
        for a in actions:
            if (isinstance(a, AddAction) and a.data_change) or isinstance(a, CdcAction):
                n += 1
                nbytes += a.size or 0
        return n, nbytes

    def partitions(self, start: dict, end: dict) -> list[DeltaFilePartition]:
        from ..protocol.actions import AddAction, RemoveAction

        # learn the true stream position (rate-limit base) — covers the
        # checkpoint-restart case where initialOffset was never called;
        # clamping on BOTH ends means a cold throttled offset behind the
        # checkpoint yields one empty batch, never re-read rows
        pos = max(start["version"], end["version"])
        if self._planned is None or pos > self._planned:
            self._planned = pos

        log = self._table.log
        meta = self._table.metadata()
        parts: list[DeltaFilePartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            actions = log.try_read_commit(v)
            if actions is None:
                # a missing commit inside the batch range means log cleanup
                # outpaced the stream. Truncating with `break` would let
                # Spark commit the END offset and permanently skip the
                # unread versions — fail instead (Delta source behavior).
                raise RuntimeError(
                    f"streaming source cannot read version {v}: the commit "
                    "file was removed by log cleanup; restart the stream "
                    "from a retained version (or startingVersion=latest)"
                )
            if self.read_change_feed:
                parts.extend(self._cdf_partitions(v, actions, log, meta))
                continue
            removes_dc = any(
                isinstance(a, RemoveAction) and a.data_change for a in actions
            )
            adds_dc = any(
                isinstance(a, AddAction) and a.data_change for a in actions
            )
            if removes_dc:
                if self.skip_change_commits:
                    continue  # drop the whole commit, adds included
                if self.ignore_deletes and not adds_dc:
                    continue  # delete-only commit (e.g. partition drop)
                if not self.ignore_changes:
                    raise RuntimeError(
                        f"version {v} removes data files; streaming a table "
                        "with deletes/overwrites requires skipChangeCommits="
                        "true (skip rewrites), ignoreDeletes=true "
                        "(delete-only commits), or ignoreChanges=true "
                        "(re-emit rewritten files)"
                    )
            for a in actions:
                if isinstance(a, AddAction) and a.data_change:
                    from ..protocol.dv import descriptor_positions, is_spec

                    dv = a.deletion_vector
                    if dv is not None and is_spec(dv):
                        # spec descriptor: ship it and decode executor-side
                        parts.append(
                            DeltaFilePartition(
                                log.readable(a.path),
                                a.partition_values,
                                meta.schema_string,
                                meta.partition_columns,
                                dv_descriptor=dict(dv),
                                table_root=self.path,
                            )
                        )
                        continue
                    parts.append(
                        DeltaFilePartition(
                            log.readable(a.path),
                            a.partition_values,
                            meta.schema_string,
                            meta.partition_columns,
                            dv_positions=(
                                descriptor_positions(log, dv, a.path) if dv else None
                            ),
                        )
                    )
        return parts

    def _cdf_partitions(self, v: int, actions, log, meta) -> list[DeltaFilePartition]:
        """Change-feed partitions for one commit: cdc files where present
        (row-level truth), else adds→insert and removes→delete. No
        ignoreChanges gate — in CDF mode deletes ARE the payload."""
        from ..protocol.actions import AddAction, CdcAction, RemoveAction

        from ..protocol.dv import descriptor_positions, file_reader

        absolute = log.readable
        read = file_reader(log)

        cdc = [a for a in actions if isinstance(a, CdcAction)]
        if cdc:
            # change files carry every table column (incl. partition cols)
            # plus _change_type; nothing to reconstruct
            return [
                DeltaFilePartition(
                    absolute(a.path),
                    {},
                    meta.schema_string,
                    [],
                    commit_version=v,
                    is_cdc_file=True,
                )
                for a in cdc
            ]
        parts: list[DeltaFilePartition] = []
        adds_v = [a for a in actions if isinstance(a, AddAction) and a.data_change]
        removes_v = [a for a in actions if isinstance(a, RemoveAction) and a.data_change]
        dv_swap_paths: set[str] = set()
        for a in adds_v:
            if a.deletion_vector is not None:
                # DV swap: emit ONLY the rows newly dead in this commit —
                # the new bitmap minus the prior one (carried on the
                # matching remove); decoded driver-side at planning time
                dv_swap_paths.add(a.path)
                old = next((r for r in removes_v if r.path == a.path), None)
                newly = set(descriptor_positions(log, a.deletion_vector, a.path, read))
                if old is not None and old.deletion_vector:
                    newly -= set(
                        descriptor_positions(log, old.deletion_vector, a.path, read)
                    )
                if newly:
                    parts.append(
                        DeltaFilePartition(
                            absolute(a.path),
                            a.partition_values,
                            meta.schema_string,
                            meta.partition_columns,
                            change_type="delete",
                            commit_version=v,
                            dv_positions=sorted(newly),
                            dv_mode="select",
                        )
                    )
            else:
                parts.append(
                    DeltaFilePartition(
                        absolute(a.path),
                        a.partition_values,
                        meta.schema_string,
                        meta.partition_columns,
                        change_type="insert",
                        commit_version=v,
                    )
                )
        for r in removes_v:
            if r.path in dv_swap_paths:
                continue  # handled as the swap-add's "select" partition
            dv = r.deletion_vector
            parts.append(
                DeltaFilePartition(
                    absolute(r.path),
                    r.partition_values or {},
                    meta.schema_string,
                    meta.partition_columns,
                    change_type="delete",
                    commit_version=v,
                    # prior DV: rows already dead at removal stay deleted
                    dv_positions=(
                        descriptor_positions(log, dv, r.path, read) if dv else None
                    ),
                )
            )
        return parts

    def read(self, partition: DeltaFilePartition) -> "Iterator":
        """Executor-side: one parquet file → ``pyarrow.RecordBatch``es.

        Arrow end to end: the Python DataSource API accepts RecordBatch
        yields, so the file's columns never materialize as Python objects —
        the DV mask is a vectorized boolean filter, partition columns are
        constant arrays built with a zero-index ``take`` (no per-row list),
        schema-evolution NULL fill is ``pa.nulls``, and type adjustments
        (parquet physical → table schema, e.g. naive → UTC timestamps,
        widened ints) are Arrow casts. This removes O(rows) Python object
        churn from every micro-batch of every streaming query — the former
        per-row tuple loop was the engine's last row-at-a-time hot path."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from ..protocol.column_mapping import PHYS_META
        from ..protocol.schema import partition_value_to_typed, schema_string_to_spark

        schema = schema_string_to_spark(partition.schema_json)
        arrow_schema = to_arrow_schema(schema)
        table = pq.read_table(partition.file_uri)
        dv_positions = partition.dv_positions
        if getattr(partition, "dv_descriptor", None) is not None:
            # spec DV shipped undecoded: decode the RoaringBitmap here, on
            # the executor that reads the file (planning stays O(1) per
            # file no matter how many DV'd files a batch touches)
            from ..protocol.dv import descriptor_positions_for_root

            dv_positions = descriptor_positions_for_root(
                partition.table_root, partition.dv_descriptor
            )
        if dv_positions is not None:
            # merge-on-read delete: planning shipped this file's deleted
            # positions (row_index == row order within the file, which
            # pq.read_table preserves) — vectorized boolean mask, no loop
            marked = np.asarray(dv_positions, dtype=np.int64)
            if marked.size and (
                marked.min() < 0 or marked.max() >= table.num_rows
            ):
                # a corrupt or mispaired DV descriptor; silently dropping
                # the out-of-range positions would emit fewer delete rows
                # than the DV cardinality in CDF mode and mask corruption
                bad = marked[(marked < 0) | (marked >= table.num_rows)]
                raise ValueError(
                    f"deletion vector for {partition.file_uri} marks "
                    f"position(s) outside the file's {table.num_rows} rows "
                    f"(e.g. {bad[:5].tolist()}) — corrupt or mispaired DV"
                )
            mask = np.zeros(table.num_rows, dtype=bool)
            if marked.size:
                mask[marked] = True
            if partition.dv_mode == "select":
                table = table.filter(pa.array(mask))
            elif marked.size:
                table = table.filter(pa.array(~mask))
        n = table.num_rows

        def _const(value, atype: "pa.DataType") -> "pa.Array":
            if value is None:
                return pa.nulls(n, atype)
            one = pa.array([value], type=atype)
            return one.take(pa.array(np.zeros(n, dtype=np.int64)))

        arrays = []
        fields = []
        for f, af in zip(schema.fields, arrow_schema):
            # column-mapped tables store data (and key partitionValues)
            # under the field's physical name; fall back to the logical name
            phys = (f.metadata or {}).get(PHYS_META, f.name)
            if f.name in partition.partition_columns:
                arr = _const(
                    partition_value_to_typed(
                        partition.partition_values.get(phys)
                        if phys in partition.partition_values
                        else partition.partition_values.get(f.name),
                        f.dataType,
                    ),
                    af.type,
                )
            elif phys in table.column_names:
                arr = table.column(phys).combine_chunks().cast(af.type)
            elif f.name in table.column_names:
                arr = table.column(f.name).combine_chunks().cast(af.type)
            else:
                # file predates this column (schema evolution): NULL-fill,
                # same as the batch reader's explicit-schema scan
                arr = pa.nulls(n, af.type)
            arrays.append(arr)
            fields.append(pa.field(f.name, af.type))
        if partition.commit_version is not None:
            # change-feed mode: append _change_type and _commit_version
            if partition.is_cdc_file:
                ct = table.column("_change_type").combine_chunks().cast(pa.string())
            else:
                ct = _const(partition.change_type, pa.string())
            arrays.append(ct)
            fields.append(pa.field("_change_type", pa.string()))
            arrays.append(_const(partition.commit_version, pa.int64()))
            fields.append(pa.field("_commit_version", pa.int64()))
        out = pa.Table.from_arrays(arrays, schema=pa.schema(fields))
        yield from out.to_batches()

    def commit(self, end: dict) -> None:
        if self._planned is None or end["version"] > self._planned:
            self._planned = end["version"]


class DeltaStreamDataSource(DataSource):
    """spark.readStream.format("delta_stream") — register with
    ``spark.dataSource.register(DeltaStreamDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "delta_stream"

    def schema(self) -> str:
        from ..protocol.schema import schema_string_to_spark
        from ..table import DeltaTable

        path = self.options.get("path")
        if not path:
            raise ValueError("option 'path' is required")
        schema = schema_string_to_spark(DeltaTable(path).metadata().schema_string)
        if str(self.options.get("readchangefeed", "false")).lower() == "true":
            from pyspark.sql.types import LongType, StringType, StructField

            schema = StructType(
                list(schema.fields)
                + [
                    StructField("_change_type", StringType()),
                    StructField("_commit_version", LongType()),
                ]
            )
        return schema.simpleString()

    def streamReader(self, schema: StructType) -> DeltaStreamReader:
        return DeltaStreamReader(schema, dict(self.options))


# ---------------------------------------------------------------------------
# Driver-side change feed (no Structured Streaming needed): poll + batch
# ---------------------------------------------------------------------------

class DeltaChangeFeed:
    """Iterate (version, DataFrame) pairs for new data-changing commits.

    The polling equivalent of ``update_incremental``: cheap driver-side log
    tailing; each yielded DataFrame scans only that version's added files.
    """

    def __init__(self, spark, table_uri: str, starting_version: int = 0):
        from ..table import DeltaTable

        self.spark = spark
        self.table = DeltaTable(table_uri)
        self.next_version = starting_version

    def poll(self) -> list[tuple[int, "object"]]:
        from ..protocol.actions import AddAction

        latest = self.table.update()
        out = []
        log = self.table.log
        meta = self.table.metadata()
        while self.next_version <= latest:
            v = self.next_version
            actions = log.try_read_commit(v)
            if actions is None:
                break
            adds = [a for a in actions if isinstance(a, AddAction) and a.data_change]
            if adds:
                from ..protocol.snapshot import Snapshot
                from ..protocol.state import TableState

                state = TableState()
                state.metadata = meta
                state.apply_all(adds)
                snap = Snapshot(log, v, state)
                out.append((v, snap.to_df(self.spark)))
            self.next_version = v + 1
        return out
