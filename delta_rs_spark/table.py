"""DeltaTable: the user-facing handle.

API parity with the reference's table surface (``rust/src/delta.rs`` +
``python/deltalake/table.py``): open at latest / version / timestamp,
files / file_uris / stats / metadata / schema accessors, update(),
history, vacuum, time travel — with the data plane answered by Spark
(``to_df`` / ``to_pandas``).
"""

from __future__ import annotations

import datetime as _dt
from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .protocol.actions import AddAction, MetaDataAction
from .protocol.dv import add_positions, file_reader
from .protocol.log import DeltaLog
from .protocol.partitions import FilterTuple
from .protocol.snapshot import NotATableError, Snapshot
from .protocol.stats import SkipTuple, table_min_max, table_num_records


class DeltaTable:
    """A versioned Delta table over local/object storage."""

    def __init__(self, table_uri: str, version: Optional[int] = None):
        self._attach(table_uri)
        self._snapshot = Snapshot.load(self.log, version)

    def _attach(self, table_uri: str) -> None:
        self.table_uri = table_uri
        self.log = DeltaLog(table_uri)
        if not self.log.backend.exists(self.log.log_dir):
            raise NotATableError(f"{table_uri} is not a Delta table (no _delta_log)")

    # ---- constructors (reference delta.rs:1453-1484) ---------------------
    @classmethod
    def for_path(cls, table_uri: str) -> "DeltaTable":
        return cls(table_uri)

    @classmethod
    def for_version(cls, table_uri: str, version: int) -> "DeltaTable":
        return cls(table_uri, version=version)

    @classmethod
    def for_timestamp(cls, table_uri: str, ts: str | _dt.datetime) -> "DeltaTable":
        """The table at the last version committed at or before ``ts``; only
        that version is loaded (see :meth:`load_with_datetime`)."""
        t = cls.__new__(cls)
        t._attach(table_uri)
        t.load_with_datetime(ts)
        return t

    # ---- snapshot management ---------------------------------------------
    @property
    def version(self) -> int:
        return self._snapshot.version

    @property
    def snapshot(self) -> Snapshot:
        return self._snapshot

    def load_version(self, version: int) -> None:
        self._snapshot = Snapshot.load(self.log, version)

    def version_at_timestamp(self, ts: str | _dt.datetime) -> int:
        """Last version committed at or before ts
        (:meth:`DeltaLog.version_at_timestamp`)."""
        return self.log.version_at_timestamp(ts)

    def first_version_at_or_after(self, ts: str | _dt.datetime) -> int:
        """First version committed at or after ts (the Delta streaming
        ``startingTimestamp`` contract: the earliest version when ts
        predates the table, latest + 1 when it is past the last commit)."""
        return self.log.version_at_timestamp(ts, at_or_after=True)

    def load_with_datetime(self, ts: str | _dt.datetime) -> None:
        """Time travel to the last version committed ≤ ts. One listing of
        ``_delta_log`` both resolves the version and chooses the checkpoint
        that version loads from."""
        listing = self.log.list_commit_versions()
        version = self.log.version_at_timestamp(ts, listing=listing)
        self._snapshot = Snapshot.load(self.log, version, listing)

    def update(self) -> int:
        """Refresh to the latest version (incremental apply); returns version."""
        self._snapshot = self._snapshot.apply_new_versions()
        return self._snapshot.version

    # ---- accessors ---------------------------------------------------------
    def metadata(self) -> MetaDataAction:
        return self._snapshot.metadata

    def schema(self) -> T.StructType:
        return self._snapshot.schema()

    def schema_json(self) -> dict[str, Any]:
        return self._snapshot.metadata.schema_json

    def files(
        self,
        partition_filters: Sequence[FilterTuple] | None = None,
        skip_predicates: Sequence[SkipTuple] | None = None,
    ) -> list[str]:
        return self._snapshot.file_paths(
            partition_filters=partition_filters, skip_predicates=skip_predicates
        )

    def file_uris(
        self,
        partition_filters: Sequence[FilterTuple] | None = None,
        skip_predicates: Sequence[SkipTuple] | None = None,
    ) -> list[str]:
        return self._snapshot.file_uris(
            partition_filters=partition_filters, skip_predicates=skip_predicates
        )

    def files_by_partitions(
        self, partition_filters: Sequence[FilterTuple]
    ) -> list[str]:
        """Full-URI active files matching the DNF partition filters — name and
        shape of the reference's Python API (``python/deltalake/table.py:95-124``,
        which returns absolute URIs)."""
        return self.file_uris(partition_filters=partition_filters)

    def file_paths(self) -> list[str]:
        """Deprecated alias of :meth:`file_uris` (reference
        ``python/deltalake/table.py:126-137``)."""
        import warnings

        warnings.warn(
            "Call to deprecated method file_paths. Please use file_uris instead.",
            category=DeprecationWarning,
            stacklevel=2,
        )
        return self.file_uris()

    def update_incremental(self) -> None:
        """Apply only the commits newer than the loaded snapshot (reference
        ``python/deltalake/table.py:273`` / ``rust/src/delta.rs:612-638``)."""
        self.update()

    # ---- Spark-free read path (reference python/deltalake/table.py:184-271) ----
    def pyarrow_schema(self):
        """Table schema as ``pyarrow.Schema`` (timestamp in µs — deliberately
        not the reference's ns quirk, delta_arrow.rs:96-99)."""
        from .protocol.schema import schema_json_to_pyarrow

        return schema_json_to_pyarrow(self.schema_json())

    def to_pyarrow_dataset(self, partitions: Sequence[FilterTuple] | None = None):
        """PyArrow Dataset over the active files (hive partitioning), no Spark.

        A raw Dataset cannot express per-file position deletes, so tables
        with deletion vectors must be read via ``to_pyarrow_table`` /
        ``to_df`` (or compacted with ``optimize`` first)."""
        import pyarrow.dataset as ds

        if self._snapshot.files().dv_count():
            raise ValueError(
                "table has deletion vectors; use to_pyarrow_table()/to_df() "
                "(position-aware) or run optimize() to materialize deletes"
            )
        if self._snapshot.mapping_mode() != "none":
            raise ValueError(
                "column-mapped tables store physical column names in the "
                "data files; read via to_df() (Spark path, mapping-aware)"
            )
        # driver-local paths: identical to file_uris() on the local-FS data
        # plane, backend-fetched local copies otherwise (protocol/dataio.py)
        # — pyarrow materialization is a driver-side API by construction
        paths = [
            self._snapshot._local(a.path)
            for a in self._snapshot.files(partition_filters=partitions or None)
        ]
        return ds.dataset(
            paths,
            schema=self.pyarrow_schema(),
            format="parquet",
            partitioning=ds.partitioning(flavor="hive"),
        )

    def to_pyarrow_table(
        self,
        partitions: Sequence[FilterTuple] | None = None,
        columns: Sequence[str] | None = None,
    ):
        if self._snapshot.mapping_mode() != "none":
            raise ValueError(
                "column-mapped tables store physical column names in the "
                "data files; read via to_df() (Spark path, mapping-aware)"
            )
        dv_adds = [a for a in self._snapshot.state.files.values() if a.deletion_vector]
        if not dv_adds:
            return self.to_pyarrow_dataset(partitions).to_table(
                columns=list(columns) if columns else None
            )
        return self._pyarrow_table_with_dvs(partitions, columns)

    def _pyarrow_table_with_dvs(
        self,
        partitions: Sequence[FilterTuple] | None,
        columns: Sequence[str] | None,
    ):
        """Driver-side DV-aware read: per file, drop the positions its
        deletion vector marks (row order == row_index for a full-file read)."""
        import pyarrow as pa
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        from .protocol.schema import partition_value_to_pyarrow

        adds = self._snapshot.files(partition_filters=partitions or None)
        snap = self._snapshot
        full_schema = self.pyarrow_schema()
        pcols = self.metadata().partition_columns
        pieces = []
        read = file_reader(self.log)
        for a in adds:
            tbl = pq.read_table(snap._local(a.path))
            if a.deletion_vector:
                dead = set(add_positions(self.log, a, read))
                if dead:
                    keep = [i for i in range(tbl.num_rows) if i not in dead]
                    tbl = tbl.take(pa.array(keep, type=pa.int64()))
            for c in pcols:
                field = full_schema.field(c)
                val = partition_value_to_pyarrow(a.partition_values.get(c), field.type)
                tbl = tbl.append_column(
                    field, pa.array([val] * tbl.num_rows, type=field.type)
                )
            # files written before an add_columns evolution lack the new
            # columns — NULL-fill them (the dataset path does this via its
            # explicit schema; the DV path selects per file and must too)
            for name in full_schema.names:
                if name not in tbl.column_names:
                    field = full_schema.field(name)
                    tbl = tbl.append_column(
                        field, pa.nulls(tbl.num_rows, type=field.type)
                    )
            pieces.append(tbl.select(full_schema.names).cast(full_schema))
        out = (
            pa.concat_tables(pieces)
            if pieces
            else full_schema.empty_table()
        )
        return out.select(list(columns)) if columns else out

    def get_tombstones(self) -> list:
        """Tombstoned (removed) files of the snapshot, reference
        ``rust/src/delta.rs:859``."""
        return list(self._snapshot.state.tombstones.values())

    def add_actions(self) -> list[AddAction]:
        return list(self._snapshot.state.files.values())

    def get_add_actions(self, flatten: bool = False):
        """Active file metadata as a pyarrow Table (the reference family's
        introspection surface): path, size_bytes, modification_time,
        data_change, num_records, plus — when ``flatten`` — one
        ``partition.<col>`` column per partition column and the per-file
        min/max for stats-carrying columns as ``min.<col>`` / ``max.<col>``.
        Driver-side metadata only; no Spark, no scan."""
        import pyarrow as pa

        adds = self.add_actions()
        cols: dict[str, list] = {
            "path": [a.path for a in adds],
            "size_bytes": [a.size for a in adds],
            "modification_time": [a.modification_time for a in adds],
            "data_change": [a.data_change for a in adds],
            "num_records": [a.num_records for a in adds],
        }
        if flatten:
            for c in self.metadata().partition_columns:
                cols[f"partition.{c}"] = [a.partition_values.get(c) for a in adds]
            stat_cols: set[str] = set()
            stats = [a.get_stats() or {} for a in adds]
            for s in stats:
                stat_cols.update(s.get("minValues", {}).keys())
            for c in sorted(stat_cols):
                cols[f"min.{c}"] = [s.get("minValues", {}).get(c) for s in stats]
                cols[f"max.{c}"] = [s.get("maxValues", {}).get(c) for s in stats]
        else:
            cols["partition_values"] = [
                list(a.partition_values.items()) for a in adds
            ]
        return pa.table(cols)

    def get_stats(self) -> list[Optional[dict[str, Any]]]:
        return self._snapshot.stats()

    def history(self, limit: Optional[int] = None) -> list[dict[str, Any]]:
        infos = list(self._snapshot.state.commit_infos)
        infos.reverse()
        return infos[:limit] if limit else infos

    def get_app_transaction_version(self, app_id: str) -> Optional[int]:
        return self._snapshot.app_transaction_version(app_id)

    def protocol_versions(self) -> tuple[int, int]:
        return (self._snapshot.min_reader_version(), self._snapshot.min_writer_version())

    # ---- data plane ---------------------------------------------------------
    def to_df(
        self,
        spark: SparkSession,
        columns: Sequence[str] | None = None,
        partition_filters: Sequence[FilterTuple] | None = None,
        skip_predicates: Sequence[SkipTuple] | None = None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Snapshot → DataFrame. ``with_row_ids=True`` (row-tracked tables)
        appends ``_row_id`` / ``_row_commit_version`` — stable ids that
        survive OPTIMIZE and copy-on-write DELETE/UPDATE rewrites."""
        return self._snapshot.to_df(
            spark,
            columns=columns,
            partition_filters=partition_filters,
            skip_predicates=skip_predicates,
            with_row_ids=with_row_ids,
        )

    def to_pandas(self, spark: SparkSession | None = None, **kw):
        """With a SparkSession: distributed read then Arrow-collect. Without:
        the reference's driver-only pyarrow path (partitions=/columns= kwargs,
        ``python/deltalake/table.py:259-271``)."""
        if spark is None:
            return self.to_pyarrow_table(
                partitions=kw.get("partitions") or kw.get("partition_filters"),
                columns=kw.get("columns"),
            ).to_pandas()
        return self.to_df(spark, **kw).toPandas()

    # ---- metadata-only fast path (reference delta_datafusion.rs:117-209) ----
    def count_rows(self) -> Optional[int]:
        """count(*) from per-file stats; None → caller should scan."""
        return table_num_records(self._snapshot.files())

    def column_min_max(self, column: str) -> tuple[Any, Any] | None:
        if self._snapshot.mapping_mode() != "none":
            from .protocol import column_mapping as cm

            column = cm.top_level_physical(self.schema()).get(column, column)
        return table_min_max(self._snapshot.files(), column)

    # ---- maintenance (implemented in sibling modules) -----------------------
    def vacuum(
        self,
        retention_hours: int = 168,
        dry_run: bool = True,
        lite: bool = False,
    ) -> list[str]:
        from .maintenance import vacuum as _vacuum

        return _vacuum(
            self, retention_hours=retention_hours, dry_run=dry_run, lite=lite
        )

    def create_checkpoint(self):
        from .maintenance import create_checkpoint as _ckpt

        return _ckpt(self)

    def drop_feature(self, name: str, truncate_history: bool = False) -> int:
        """``ALTER TABLE … DROP FEATURE`` — remove a table feature from the
        protocol once nothing depends on it; reader-visible features need
        ``truncate_history=True`` (see maintenance.drop_feature)."""
        from .maintenance import drop_feature as _drop

        return _drop(self, name, truncate_history=truncate_history)

    def validate_checksum(self, version: Optional[int] = None) -> bool:
        """Cross-check the replayed snapshot state against the version's
        ``.crc`` checksum (public Delta VersionChecksum). False when no
        checksum exists; raises ChecksumMismatchError on divergence."""
        from .maintenance import validate_checksum as _vc

        return _vc(self, version)

    def compact_log(self, start: int, end: int) -> str:
        """Write a log-compaction file reconciling commits [start, end]
        (see ``maintenance.write_log_compaction``)."""
        from .maintenance import write_log_compaction as _clog

        return _clog(self, start, end)

    def optimize(
        self,
        spark: SparkSession,
        target_file_size: int = 256 * 1024 * 1024,
        sort_by: Optional[list[str]] = None,
        zorder_by: Optional[list[str]] = None,
        dry_run: bool = False,
        partition_filters: Sequence[FilterTuple] | None = None,
    ) -> dict:
        from .maintenance import optimize as _optimize

        return _optimize(
            self,
            spark,
            target_file_size=target_file_size,
            sort_by=sort_by,
            zorder_by=zorder_by,
            dry_run=dry_run,
            partition_filters=partition_filters,
        )

    def reorg_purge(
        self,
        spark: SparkSession,
        partition_filters: Sequence[FilterTuple] | None = None,
        dry_run: bool = False,
    ) -> dict:
        """``REORG TABLE ... APPLY (PURGE)``: rewrite only the files carrying
        deletion vectors or stale-narrow physical types (post type-widening),
        materializing soft deletes so the corresponding table features can be
        dropped. Healthy files are untouched; commits ``dataChange=false``."""
        from .maintenance import reorg_purge as _reorg

        return _reorg(
            self, spark, partition_filters=partition_filters, dry_run=dry_run
        )

    def generate(self, mode: str = "symlink_format_manifest") -> dict:
        """Public Delta utility: ``deltaTable.generate("symlink_format_manifest")``
        — write Presto/Trino/Athena-readable Hive manifests naming the
        snapshot's data files. Spark-free, metadata-only."""
        if mode != "symlink_format_manifest":
            raise ValueError(f"unsupported generate mode: {mode!r}")
        from .maintenance import generate_symlink_manifest

        return generate_symlink_manifest(self)

    def detail(self) -> dict[str, Any]:
        """DESCRIBE DETAIL-style summary, answered entirely from the log."""
        meta = self.metadata()
        files = self.add_actions()
        min_reader, min_writer = self.protocol_versions()
        return {
            "format": "delta",
            "id": meta.id,
            "name": meta.name,
            "description": meta.description,
            "location": self.table_uri,
            "createdAt": meta.created_time,
            "partitionColumns": list(meta.partition_columns),
            "numFiles": len(files),
            "sizeInBytes": sum(a.size for a in files),
            "numRecords": self.count_rows(),  # None if any file lacks stats
            "properties": dict(meta.configuration or {}),
            "minReaderVersion": min_reader,
            "minWriterVersion": min_writer,
            "tableFeatures": sorted(
                set(self.snapshot.state.reader_features or [])
                | set(self.snapshot.state.writer_features or [])
            ),
            "version": self.version,
        }

    def add_constraint(self, spark: SparkSession, name: str, expr: str) -> int:
        """ADD CONSTRAINT: validate existing data against ``expr`` (one
        aggregate scan), then commit a metaData update carrying the
        ``delta.constraints.<name>`` property. Future writes/DML enforce it.
        metaData-replaces-wholesale semantics, reference
        ``rust/src/delta.rs:1418-1449``."""
        import time as _time

        from .writer import ConstraintViolationError, check_constraints

        key = f"delta.constraints.{name}"
        meta = self.metadata()
        if key in (meta.configuration or {}):
            raise ConstraintViolationError(f"constraint {name!r} already exists")
        check_constraints(self.to_df(spark), {key: expr})

        new_meta = type(meta)(
            id=meta.id,
            schema_string=meta.schema_string,
            partition_columns=meta.partition_columns,
            name=meta.name,
            description=meta.description,
            created_time=meta.created_time,
            configuration={**(meta.configuration or {}), key: expr},
        )
        txn = self.begin()
        # spec: CHECK constraints need writer 3 (legacy) or the
        # checkConstraints feature — without the floor an external writer
        # at version 2 may append violating rows (create-path parity)
        from .protocol.actions import upgraded_protocol as _up

        bump = _up(
            self.snapshot.state, 1, 3, writer_features=["checkConstraints"]
        )
        if bump is not None:
            txn.add_action(bump)
        txn.add_action(new_meta)
        v = txn.commit(
            operation="ADD CONSTRAINT",
            operation_parameters={"name": name, "expr": expr},
        )
        self.update()
        return v

    def drop_constraint(self, name: str) -> int:
        from .writer import ConstraintViolationError

        key = f"delta.constraints.{name}"
        meta = self.metadata()
        cfg = dict(meta.configuration or {})
        if key not in cfg:
            raise ConstraintViolationError(f"no such constraint {name!r}")
        cfg.pop(key)
        import dataclasses as _dc

        new_meta = _dc.replace(meta, configuration=cfg)
        txn = self.begin()
        txn.add_action(new_meta)
        v = txn.commit(
            operation="DROP CONSTRAINT", operation_parameters={"name": name}
        )
        self.update()
        return v

    def _commit_metadata(self, new_meta, operation: str, params: dict) -> int:
        txn = self.begin()
        txn.add_action(new_meta)
        v = txn.commit(operation=operation, operation_parameters=params)
        self.update()
        return v

    def add_columns(self, columns: Sequence[tuple[str, Any]]) -> int:
        """ALTER TABLE ADD COLUMNS: metadata-only schema evolution — one
        metaData action appending nullable fields, zero data movement; old
        files read the new columns as NULL through the explicit read schema.
        ``columns`` is [(name, DataType | DDL type string), ...]."""
        from .writer import SchemaMismatchError

        schema = self.schema()
        new_fields = []
        for cname, ctype in columns:
            if cname in schema.names:
                raise SchemaMismatchError(f"column {cname!r} already exists")
            dt = T.DataType.fromDDL(ctype) if isinstance(ctype, str) else ctype
            new_fields.append(T.StructField(cname, dt, nullable=True))

        from .protocol.schema import spark_to_schema_string

        meta = self.metadata()
        cfg = dict(meta.configuration or {})
        merged = T.StructType(list(schema.fields) + new_fields)
        from .protocol import column_mapping as cm

        if cm.is_mapped(cfg):
            # new columns get fresh ids + col-<uuid> physical names
            start = max(cm.max_field_id(merged), int(cfg.get(cm.MAX_ID_KEY, 0)))
            merged, max_id = cm.assign_mapping(merged, start_id=start)
            cfg[cm.MAX_ID_KEY] = str(max_id)
        new_meta = type(meta)(
            id=meta.id,
            schema_string=spark_to_schema_string(merged),
            partition_columns=meta.partition_columns,
            name=meta.name,
            description=meta.description,
            created_time=meta.created_time,
            configuration=cfg,
        )
        return self._commit_metadata(
            new_meta,
            "ADD COLUMNS",
            {"columns": [f.name for f in new_fields]},
        )

    # ---- column mapping DDL (metadata-only; public Delta feature) ---------

    def set_column_mapping_mode(self, mode: str = "name") -> int:
        """Upgrade the table to column mapping (``delta.columnMapping.mode``).

        Metadata-only: every existing column's physical name is set to its
        CURRENT logical name, so every already-written parquet file keeps
        resolving — the spec's upgrade rule. Columns added afterwards get
        ``col-<uuid>`` physical names. Raises if a different mapping mode is
        already active (mode switching is not in the public spec)."""
        from .protocol import column_mapping as cm
        from .protocol.actions import upgraded_protocol
        from .protocol.schema import spark_to_schema_string

        if mode not in ("name", "id"):
            raise ValueError("column mapping mode must be 'name' or 'id'")
        meta = self.metadata()
        cfg = dict(meta.configuration or {})
        current = cm.mapping_mode(cfg)
        if current == mode:
            return self.version
        if current != "none":
            raise ValueError(f"cannot switch column mapping mode {current!r} -> {mode!r}")

        schema, max_id = cm.assign_mapping(self.schema(), physical_from_logical=True)
        cfg[cm.MODE_KEY] = mode
        cfg[cm.MAX_ID_KEY] = str(max_id)
        new_meta = type(meta)(
            id=meta.id,
            schema_string=spark_to_schema_string(schema),
            partition_columns=meta.partition_columns,
            name=meta.name,
            description=meta.description,
            created_time=meta.created_time,
            configuration=cfg,
        )
        txn = self.begin()
        bump = upgraded_protocol(
            self.snapshot.state,
            cm.MIN_READER,
            cm.MIN_WRITER,
            reader_features=[cm.FEATURE_NAME],
            writer_features=[cm.FEATURE_NAME],
        )
        if bump is not None:
            txn.add_action(bump)
        txn.add_action(new_meta)
        v = txn.commit(
            operation="SET TBLPROPERTIES",
            operation_parameters={"properties": [cm.MODE_KEY]},
        )
        self.update()
        return v

    def enable_row_tracking(self) -> int:
        """Upgrade the table to row tracking (``delta.enableRowTracking``).

        One commit: protocol bump to writer 7 with the ``rowTracking`` +
        ``domainMetadata`` features, the materialized-column names fixed in
        the table config, a BACKFILL re-add of every active file with a
        fresh ``baseRowId`` (metadata-only — no data moves), and the
        high-water-mark domain. After this commit every row has a stable id.
        """
        from .protocol import row_tracking as rt
        from .protocol.actions import upgraded_protocol
        from .protocol.schema import spark_to_schema_string  # noqa: F401

        meta = self.metadata()
        cfg = dict(meta.configuration or {})
        if rt.enabled(cfg):
            return self.version
        cfg[rt.ENABLE_KEY] = "true"
        cfg.update(rt.fresh_materialized_names())
        import dataclasses as _dc

        new_meta = _dc.replace(meta, configuration=cfg)
        txn = self.begin()
        bump = upgraded_protocol(
            self.snapshot.state, 1, 7, writer_features=rt.FEATURES
        )
        if bump is not None:
            txn.add_action(bump)
        txn.add_action(new_meta)
        # backfill: re-add every active file with fresh base ids, so rows
        # written before enablement get ids too (their commit version is
        # this backfill commit — the earliest version at which the id exists)
        import dataclasses as _dc

        backfill = [_dc.replace(a, data_change=False) for a in self.add_actions()]
        hwm = rt.stamp_adds(backfill, -1, self.version + 1)
        txn.add_actions(backfill)
        txn.add_action(rt.domain_action(hwm))

        # the backfill covers exactly THIS snapshot's files and stamps them
        # with THIS planned version; an intervening commit both invalidates
        # the stamped defaultRowCommitVersion and may add files the backfill
        # misses (which would then live un-id'd in a row-tracked table) —
        # abort and let the caller re-run against the fresh snapshot
        def _no_intervening(tbl) -> None:
            from .transactions import ConcurrentModificationError

            raise ConcurrentModificationError(
                "a concurrent commit landed while row tracking was being "
                "enabled; re-run enable_row_tracking on the refreshed table"
            )

        txn.add_commit_guard(_no_intervening)
        v = txn.commit(
            operation="SET TBLPROPERTIES",
            operation_parameters={"properties": [rt.ENABLE_KEY]},
        )
        self.update()
        return v

    def set_column_default(self, column: str, expr: str) -> int:
        """ALTER TABLE … ALTER COLUMN … SET DEFAULT: attach a DEFAULT
        expression (public ``allowColumnDefaults`` writer feature; future
        writes that omit the column materialize it). Metadata-only commit
        with the protocol bump on first use."""
        from .protocol import defaults as dfl
        from .protocol.actions import upgraded_protocol
        from .protocol.schema import schema_string_to_spark, spark_to_schema_string
        from pyspark.sql import types as T

        meta = self.metadata()
        schema = schema_string_to_spark(meta.schema_string)
        if column not in schema.names:
            raise dfl.ColumnDefaultError(f"no such column {column!r}")
        fields = []
        for f in schema.fields:
            if f.name == column:
                m = dict(f.metadata or {})
                m[dfl.CURRENT_DEFAULT] = expr
                # EXISTS_DEFAULT is deliberately NOT set: it is the value
                # readers assume for rows written BEFORE the column had the
                # default, and Spark's scan applies it to files missing the
                # column — SET DEFAULT on an existing column affects future
                # inserts only; existing rows keep reading NULL
                fields.append(T.StructField(f.name, f.dataType, f.nullable, m))
            else:
                fields.append(f)
        import dataclasses as _dc

        new_meta = _dc.replace(
            meta,
            schema_string=spark_to_schema_string(T.StructType(fields)),
            configuration=dict(meta.configuration or {}),
        )
        txn = self.begin()
        bump = upgraded_protocol(
            self.snapshot.state, 1, 7, writer_features=[dfl.FEATURE_NAME]
        )
        if bump is not None:
            txn.add_action(bump)
        txn.add_action(new_meta)
        v = txn.commit(
            operation="ALTER COLUMN",
            operation_parameters={"column": column, "default": expr},
        )
        self.update()
        return v

    def drop_column_default(self, column: str) -> int:
        """ALTER TABLE … ALTER COLUMN … DROP DEFAULT."""
        from .protocol import defaults as dfl
        from .protocol.schema import schema_string_to_spark, spark_to_schema_string
        from pyspark.sql import types as T

        meta = self.metadata()
        schema = schema_string_to_spark(meta.schema_string)
        fields = []
        for f in schema.fields:
            if f.name == column:
                m = dict(f.metadata or {})
                m.pop(dfl.CURRENT_DEFAULT, None)
                fields.append(T.StructField(f.name, f.dataType, f.nullable, m))
            else:
                fields.append(f)
        import dataclasses as _dc

        new_meta = _dc.replace(
            meta,
            schema_string=spark_to_schema_string(T.StructType(fields)),
            configuration=dict(meta.configuration or {}),
        )
        txn = self.begin()
        txn.add_action(new_meta)
        v = txn.commit(
            operation="ALTER COLUMN",
            operation_parameters={"column": column, "default": None},
        )
        self.update()
        return v

    def sync_identity(self) -> dict[str, int]:
        """ALTER TABLE ... SYNC IDENTITY: advance identity high-water marks
        past explicitly-inserted values, from per-file stats (metadata-only
        — no data scan). Commits a metaData action when any mark moves;
        returns the marks written."""
        from .protocol import identity as idc
        from .protocol.schema import schema_string_to_spark, spark_to_schema_string

        marks = idc.sync_water_marks(self)
        if not marks:
            return {}
        meta = self.metadata()
        sch = idc.schema_with_water_marks(
            schema_string_to_spark(meta.schema_string), marks
        )
        import dataclasses as _dc

        new_meta = _dc.replace(
            meta,
            schema_string=spark_to_schema_string(sch),
            configuration=dict(meta.configuration or {}),
        )
        txn = self.begin()
        txn.add_action(new_meta)
        txn.commit(
            operation="SYNC IDENTITY",
            operation_parameters={"columns": sorted(marks)},
        )
        self.update()
        return marks

    def enable_v2_checkpoints(self) -> int:
        """Upgrade the table to V2 checkpoints (public ``v2Checkpoint``
        reader-writer feature): one commit setting
        ``delta.checkpointPolicy=v2`` plus the protocol bump (reader 3 /
        writer 7, ``v2Checkpoint`` in both feature lists). Subsequent
        checkpoints write the manifest + ``_sidecars/`` layout."""
        from .protocol.actions import upgraded_protocol

        meta = self.metadata()
        cfg = dict(meta.configuration or {})
        if cfg.get("delta.checkpointPolicy") == "v2":
            return self.version
        cfg["delta.checkpointPolicy"] = "v2"
        import dataclasses as _dc

        new_meta = _dc.replace(meta, configuration=cfg)
        txn = self.begin()
        bump = upgraded_protocol(
            self.snapshot.state,
            3,
            7,
            reader_features=["v2Checkpoint"],
            writer_features=["v2Checkpoint"],
        )
        if bump is not None:
            txn.add_action(bump)
        txn.add_action(new_meta)
        v = txn.commit(
            operation="SET TBLPROPERTIES",
            operation_parameters={"properties": ["delta.checkpointPolicy"]},
        )
        self.update()
        return v

    def _refuse_if_column_referenced(self, column: str, action: str) -> None:
        """Block RENAME/DROP COLUMN when CHECK constraints, generated-column
        expressions, or column DEFAULTs reference the column — the dangling
        expression would fail (or silently stop enforcing) on every
        subsequent write. Same up-front rule delta-spark applies."""
        import re as _re

        from .protocol import defaults as _dfl
        from .protocol import generated as _gen
        from .writer import CONSTRAINT_PREFIX, SchemaMismatchError

        top = column.split(".")[0]
        pat = _re.compile(rf"\b{_re.escape(top)}\b")
        meta = self.metadata()
        schema = self.schema()
        refs = []
        for k, v in (meta.configuration or {}).items():
            if k.startswith(CONSTRAINT_PREFIX) and pat.search(v):
                refs.append(f"constraint {k[len(CONSTRAINT_PREFIX):]!r} ({v!r})")
        for n, expr in _gen.expressions(schema).items():
            if n != top and pat.search(expr):
                refs.append(f"generated column {n!r} ({expr!r})")
        for n, expr in _dfl.defaults(schema).items():
            if n != top and pat.search(expr):
                refs.append(f"default of column {n!r} ({expr!r})")
        if refs:
            raise SchemaMismatchError(
                f"cannot {action} column {column!r}: referenced by "
                + "; ".join(refs)
                + " — drop/update those first"
            )

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN — metadata-only under column mapping
        (the physical name in the files never changes). ``old`` may be a
        dotted path for nested struct fields."""
        from .protocol import column_mapping as cm
        from .protocol.schema import spark_to_schema_string
        from .writer import SchemaMismatchError

        self._refuse_if_column_referenced(old, "rename")
        meta = self.metadata()
        if not cm.is_mapped(meta.configuration):
            raise SchemaMismatchError(
                "RENAME COLUMN requires column mapping "
                "(table.set_column_mapping_mode('name') first)"
            )
        schema = cm.renamed_schema(self.schema(), old, new)
        top = old.split(".")[0]
        pcols = [new if c == top and "." not in old else c for c in meta.partition_columns]
        new_meta = type(meta)(
            id=meta.id,
            schema_string=spark_to_schema_string(schema),
            partition_columns=pcols,
            name=meta.name,
            description=meta.description,
            created_time=meta.created_time,
            configuration=dict(meta.configuration or {}),
        )
        return self._commit_metadata(
            new_meta, "RENAME COLUMN", {"oldName": old, "newName": new}
        )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN — metadata-only under column mapping;
        the physical data stays in the files, readers stop selecting it."""
        from .protocol import column_mapping as cm
        from .protocol.schema import spark_to_schema_string
        from .writer import SchemaMismatchError

        self._refuse_if_column_referenced(name, "drop")
        meta = self.metadata()
        if not cm.is_mapped(meta.configuration):
            raise SchemaMismatchError(
                "DROP COLUMN requires column mapping "
                "(table.set_column_mapping_mode('name') first)"
            )
        if name in meta.partition_columns:
            raise SchemaMismatchError(f"cannot drop partition column {name!r}")
        schema = cm.dropped_schema(self.schema(), name)
        new_meta = type(meta)(
            id=meta.id,
            schema_string=spark_to_schema_string(schema),
            partition_columns=meta.partition_columns,
            name=meta.name,
            description=meta.description,
            created_time=meta.created_time,
            configuration=dict(meta.configuration or {}),
        )
        return self._commit_metadata(new_meta, "DROP COLUMNS", {"column": name})

    def widen_column_type(self, column: str, new_type: T.DataType | str) -> int:
        """ALTER TABLE … ALTER COLUMN … TYPE — widen a column's type
        (public Delta ``typeWidening`` table feature; parity-plus — the
        reference engine predates it).

        Metadata-only: the schema flips to the wide type and the change is
        recorded on the field's ``delta.typeChanges`` metadata; parquet
        files written before the change keep their narrow physical type and
        Spark's vectorized reader upcasts them at scan time (int32→long/
        double/decimal, float→double, date→timestamp_ntz — verified against
        Spark 4.1), so no data moves. The first widen bumps the protocol to
        3/7 with the ``typeWidening`` reader+writer feature and sets
        ``delta.enableTypeWidening``; ``date -> timestamp_ntz`` additionally
        carries the ``timestampNtz`` feature. Non-widening changes raise
        ``UnsupportedWideningError``. ``column`` may be a dotted path into
        nested structs."""
        from .protocol import widening as tw
        from .protocol.actions import upgraded_protocol
        from .protocol.schema import spark_to_schema_string

        dst = T.DataType.fromDDL(new_type) if isinstance(new_type, str) else new_type
        meta = self.metadata()
        # the widening commit is the next version; typeChanges records it
        schema = tw.widen_schema(self.schema(), column, dst, self.version + 1)
        cfg = dict(meta.configuration or {})
        cfg[tw.ENABLE_KEY] = "true"
        new_meta = type(meta)(
            id=meta.id,
            schema_string=spark_to_schema_string(schema),
            partition_columns=meta.partition_columns,
            name=meta.name,
            description=meta.description,
            created_time=meta.created_time,
            configuration=cfg,
        )
        features = [tw.FEATURE_NAME]
        if tw.needs_timestamp_ntz(dst):
            features.append("timestampNtz")
        txn = self.begin()
        bump = upgraded_protocol(
            self.snapshot.state,
            tw.MIN_READER,
            tw.MIN_WRITER,
            reader_features=features,
            writer_features=features,
        )
        if bump is not None:
            txn.add_action(bump)
        txn.add_action(new_meta)
        # the recorded tableVersion must track the version the retry loop
        # actually lands on, not the one planned before any race
        stamp_state = {"cur": self.version + 1}

        def _restamp(version: int) -> bool:
            changed = tw.restamp_type_changes(
                new_meta, stamp_state["cur"], version
            )
            stamp_state["cur"] = version
            return changed

        txn.add_version_stamper(_restamp)
        v = txn.commit(
            operation="CHANGE COLUMN",
            operation_parameters={
                "column": column,
                "toType": dst.simpleString(),
            },
        )
        self.update()
        return v

    def set_properties(self, properties: dict[str, str]) -> int:
        """ALTER TABLE SET TBLPROPERTIES: merge into ``configuration``
        (metaData replaces wholesale on replay, so the commit carries the
        full merged map)."""
        from .protocol import column_mapping as cm

        if cm.MODE_KEY in properties:
            # the mode flag alone leaves the schema un-annotated — route
            # through the upgrade that assigns ids/physical names atomically
            raise ValueError(
                f"set {cm.MODE_KEY} via table.set_column_mapping_mode(...), "
                "which annotates the schema and bumps the protocol in the same commit"
            )
        from .protocol import row_tracking as _rtk

        if _rtk.ENABLE_KEY in properties:
            # the flag alone would leave existing rows id-less and the
            # protocol un-bumped — route through the backfilling upgrade
            raise ValueError(
                f"set {_rtk.ENABLE_KEY} via table.enable_row_tracking(), "
                "which bumps the protocol and backfills baseRowIds in one commit"
            )
        # pure protocol features (no schema/file traces) are enabled by the
        # public delta.feature.<name>=supported convention: the bump rides
        # the same commit as the property
        _PURE_FEATURES = {
            "vacuumProtocolCheck": ("reader", "writer"),
            "checkpointProtection": ("writer",),
        }
        from .protocol import dv
        from .uniform import iceberg as ub

        if ub.enabled(properties) and dv.ENABLE_KEY not in properties:
            # IcebergCompat: the Iceberg mirror is enabled with deletion
            # vectors off, and only once live ones are materialized; setting
            # both properties in one call keeps DVs, mirrored as Iceberg
            # position deletes
            if self._snapshot.files().dv_count():
                raise ValueError(
                    "table has live deletion vectors; run reorg_purge() to "
                    "materialize them before enabling UniForm, or set "
                    f"{dv.ENABLE_KEY}=true in the same call to mirror them "
                    "as Iceberg position deletes"
                )
            if dv.enabled(self.metadata().configuration):
                properties = {**properties, dv.ENABLE_KEY: "false"}
        bumps_r, bumps_w = [], []
        if dv.enabled(properties):
            # reader-visible: the feature rides the property's commit, so
            # the first DV commit changes no protocol
            bumps_r.append(dv.FEATURE_NAME)
        for key, val in properties.items():
            if not key.startswith("delta.feature."):
                continue
            fname = key[len("delta.feature."):]
            if fname in _PURE_FEATURES and str(val).lower() == "supported":
                sides = _PURE_FEATURES[fname]
                if "reader" in sides:
                    bumps_r.append(fname)
                if "writer" in sides:
                    bumps_w.append(fname)
        if bumps_r or bumps_w:
            from .protocol.actions import upgraded_protocol

            meta = self.metadata()
            new_meta = type(meta)(
                id=meta.id,
                schema_string=meta.schema_string,
                partition_columns=meta.partition_columns,
                name=meta.name,
                description=meta.description,
                created_time=meta.created_time,
                configuration={**(meta.configuration or {}), **properties},
            )
            txn = self.begin()
            bump = upgraded_protocol(
                self.snapshot.state,
                3 if bumps_r else 1,
                7,
                reader_features=bumps_r,
                writer_features=sorted(set(bumps_r + bumps_w)),
            )
            if bump is not None:
                txn.add_action(bump)
            txn.add_action(new_meta)
            v = txn.commit(
                operation="SET TBLPROPERTIES",
                operation_parameters={"properties": sorted(properties)},
            )
            self.update()
            return v
        if properties.get("delta.checkpointPolicy") == "v2":
            # the property alone leaves the v2Checkpoint feature unadvertised
            # and every subsequent auto-checkpoint failing
            raise ValueError(
                "set delta.checkpointPolicy via table.enable_v2_checkpoints(), "
                "which carries the reader-3/writer-7 v2Checkpoint bump in the "
                "same commit"
            )
        meta = self.metadata()
        new_meta = type(meta)(
            id=meta.id,
            schema_string=meta.schema_string,
            partition_columns=meta.partition_columns,
            name=meta.name,
            description=meta.description,
            created_time=meta.created_time,
            configuration={**(meta.configuration or {}), **properties},
        )
        return self._commit_metadata(
            new_meta, "SET TBLPROPERTIES", {"properties": sorted(properties)}
        )

    def unset_properties(self, keys: Sequence[str]) -> int:
        meta = self.metadata()
        cfg = dict(meta.configuration or {})
        for k in keys:
            cfg.pop(k, None)
        import dataclasses as _dc

        new_meta = _dc.replace(meta, configuration=cfg)
        return self._commit_metadata(
            new_meta, "UNSET TBLPROPERTIES", {"properties": sorted(keys)}
        )

    def restore(self, version: int | str | _dt.datetime) -> dict:
        """Roll the table back to ``version`` — an integer, or a timestamp
        (string / datetime) resolved to the last version committed ≤ it."""
        from .maintenance import restore as _restore

        if not isinstance(version, int):
            version = self.version_at_timestamp(version)
        return _restore(self, version)

    def shallow_clone(self, target_uri: str, version: Optional[int] = None) -> "DeltaTable":
        from .maintenance import shallow_clone as _clone

        return _clone(self, target_uri, version=version)

    def deep_clone(self, target_uri: str, version: Optional[int] = None) -> "DeltaTable":
        """Fully independent copy: data + DV files copied under the target
        root (server-side on object stores), fresh v0 log with relative
        paths, domain metadata carried. See ``maintenance.deep_clone``."""
        from .maintenance import deep_clone as _clone

        return _clone(self, target_uri, version=version)

    # ---- change data feed (implemented in cdf.py) ----------------------------
    def load_cdf(
        self,
        spark: SparkSession,
        starting_version: int = 0,
        ending_version: Optional[int] = None,
        starting_timestamp: str | _dt.datetime | None = None,
        ending_timestamp: str | _dt.datetime | None = None,
    ) -> DataFrame:
        """Row-level changes in a version range; timestamps may replace
        either bound. The start resolves to the FIRST version committed
        at-or-after it (Delta's startingTimestamp contract — changes before
        the timestamp are excluded); the end to the last version ≤ it."""
        from .cdf import load_cdf as _load_cdf

        if starting_timestamp is not None:
            starting_version = self.first_version_at_or_after(starting_timestamp)
        if ending_timestamp is not None:
            ending_version = self.version_at_timestamp(ending_timestamp)
        return _load_cdf(
            spark, self, starting_version=starting_version, ending_version=ending_version
        )

    # ---- copy-on-write DML (implemented in dml.py) ---------------------------
    def delete(self, spark: SparkSession, predicate: Optional[str] = None) -> dict:
        """DELETE rows matching ``predicate``; with no predicate, delete
        everything metadata-only (tombstone every file, zero data I/O)."""
        from .dml import delete as _delete

        return _delete(spark, self, predicate)

    def update_where(self, spark: SparkSession, predicate: str, assignments: dict) -> dict:
        from .dml import update as _update

        return _update(spark, self, predicate, assignments)

    def merge(self, spark: SparkSession, source: DataFrame, condition: str, **kw) -> dict:
        from .dml import merge as _merge

        return _merge(spark, self, source, condition, **kw)

    def begin(self):
        from .transactions import DeltaTransaction

        return DeltaTransaction(self)

    checkpoint_interval: int = 10  # reference lambda policy: every 10th version

    def enable_uniform(self, format: str = "iceberg") -> int:
        """UniForm: mirror the Delta log as Apache Iceberg metadata under
        ``<table>/metadata/`` so Iceberg engines read the same parquet files
        (public ``delta.universalFormat.enabledFormats``; parity-plus — the
        reference predates UniForm). Sets the property and runs the first
        conversion; afterwards every commit's post-hook syncs incrementally.
        Deletion vectors follow ``set_properties``' IcebergCompat rule: the
        same commit turns them off, and live ones must be purged first."""
        if format != "iceberg":
            raise ValueError("only the iceberg universal format is supported")
        from .uniform import iceberg as ub

        v = self.set_properties({ub.ENABLE_KEY: "iceberg"})
        # the property commit's post-hook already ran the initial conversion
        # (best-effort, warning on failure). convert_snapshot is idempotent
        # per version (early-returns when the tree is current), so this call
        # is a metadata-read no-op on the happy path — its job is to raise
        # LOUDLY when the hook's attempt failed.
        ub.convert_snapshot(self)
        return v

    def iceberg_files(self) -> list[dict]:
        """Read back the live file list through the Iceberg metadata tree
        (the foreign-reader path: version-hint -> metadata.json -> manifest
        list -> manifests)."""
        from .uniform import iceberg as ub

        return ub.read_file_list(self.table_uri)

    def _uniform_enabled(self) -> bool:
        from .uniform import iceberg as ub

        try:
            cfg = self.metadata().configuration
        except Exception:
            return False
        return ub.enabled(cfg)

    def _post_commit_hook(self, version: int) -> None:
        from .maintenance import maybe_checkpoint, write_version_checksum

        # version checksum (.crc): advisory state validation, best-effort —
        # skipped when a concurrent commit already moved the snapshot past
        # the version we just wrote (its writer records its own checksum)
        if self.version == version:
            try:
                write_version_checksum(self, version)
            except Exception:
                pass
        # auto compaction (delta.autoOptimize.autoCompact): best-effort
        # follow-up commit, reentrancy-guarded — the compaction's own
        # post-commit hook must not recurse (its result files are at the
        # target size, but the guard makes that a guarantee, not a hope)
        if not getattr(self, "_in_auto_compact", False):
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is not None:
                from .maintenance import auto_compact_if_needed

                self._in_auto_compact = True
                try:
                    auto_compact_if_needed(self, spark)
                except Exception:
                    pass
                finally:
                    self._in_auto_compact = False

        # UniForm: keep the Iceberg metadata tree in sync with the log.
        # Best-effort like the .crc hook — a conversion hiccup must not fail
        # the Delta commit (the next sync catches up from delta-version)
        if self._uniform_enabled():
            try:
                from .uniform import iceberg as _ub

                self.update()
                _ub.convert_snapshot(self)
            except Exception as e:
                # never fail the Delta commit — but a silently stale Iceberg
                # tree is a trap, so surface the reason
                import warnings

                warnings.warn(
                    f"UniForm conversion lagging: {type(e).__name__}: {e}",
                    stacklevel=2,
                )

        # the public delta.checkpointInterval property overrides the default
        interval = self.checkpoint_interval
        try:
            raw = (self.metadata().configuration or {}).get("delta.checkpointInterval")
            if raw is not None and int(raw) > 0:
                interval = int(raw)
        except (ValueError, TypeError):
            pass
        maybe_checkpoint(self, version, interval=interval)
