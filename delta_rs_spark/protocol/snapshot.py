"""Table snapshot: log replay → active file list → Spark DataFrame.

Load strategy mirrors the reference (``rust/src/delta.rs:589-709``): start
from the newest complete checkpoint ≤ target version, fold the JSON commit
tail. One listing of ``_delta_log`` chooses the checkpoint and the
log-compaction files; the ``_last_checkpoint`` hint is not needed for that,
so a torn or stale hint cannot override the log. All of this is driver-side and
small; the resulting file list feeds one Spark parquet scan — the scan itself
(vectorized reader, pushdown, codegen) is entirely Catalyst's.

Snapshot state is columnar (``protocol/state.py``): the checkpoint's
add/remove rows stay the Arrow tables pyarrow decoded, shared by every
snapshot folded from that checkpoint, and the commit tail folds into a
small overlay reconciled with them by path. Listing files, counting rows
and pruning read columns; ``AddAction`` objects are built only for callers
that iterate actions (DML, the writer, CDF, DataFrame construction).
"""

from __future__ import annotations

from typing import Any, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .actions import (
    Action,
    AddAction,
    DomainMetadataAction,
    MetaDataAction,
    ProtocolAction,
    TxnAction,
)
from . import column_mapping as cm
from .log import CheckPoint, DeltaLog, DeltaTableError, LogListing, NotATableError
from .partitions import FilterTuple, compile_filters
from .schema import partition_value_to_typed, schema_string_to_spark
from .state import (
    ADD_SCHEMA,
    REMOVE_SCHEMA,
    CheckpointActions,
    Files,
    TableState,
    file_action_table,
)
from .stats import SkipTuple, prune_files


class UnsupportedFeatureError(DeltaTableError):
    """The table requires a reader feature this engine does not implement.
    Failing fast here is the protocol's contract — reading on would return
    wrong data (e.g. ignoring an unknown row-filtering feature)."""


# reader features this engine fully implements; tables advertising anything
# else are refused (the whole point of the feature lists)
SUPPORTED_READER_FEATURES = frozenset(
    {
        "columnMapping",
        "deletionVectors",
        "timestampNtz",
        "variantType",
        "v2Checkpoint",
        "typeWidening",
        "vacuumProtocolCheck",
        # vendor token written by pre-round-3 builds of this engine for the
        # legacy parquet-dir DV descriptors (still decoded)
        "deltaRsSpark.deletionVectors",
    }
)


class Snapshot:
    """Immutable view of a table at one version."""

    def __init__(self, log: DeltaLog, version: int, state: TableState):
        self.log = log
        self.version = version
        self.state = state

    # ---- construction --------------------------------------------------
    @classmethod
    def load(
        cls, log: DeltaLog, version: Optional[int] = None, listing: Optional[LogListing] = None
    ) -> "Snapshot":
        """The table at ``version`` (latest when None). ``listing`` is a
        listing of ``_delta_log`` the caller already made (a timestamp
        resolution), else this call lists once."""
        if listing is None:
            listing = log.list_commit_versions()
        state = TableState()
        loaded = -1
        for cp in listing.checkpoints_for(version):
            try:
                actions = read_checkpoint_actions(log, cp)
            except FileNotFoundError:
                # removed since the listing, or a V2 sidecar is missing: an
                # older checkpoint or the commits decide
                continue
            state.apply_all(actions)
            loaded = cp.version
            break

        v = loaded + 1
        # log-compaction files covering [s, e] fold in place of the commits
        # they reconcile — on object stores that's 1 GET instead of e-s+1
        comps: dict[int, int] = {}
        for s, e in listing.compactions:
            if version is None or e <= version:  # one that overshoots is unusable
                comps[s] = max(comps.get(s, -1), e)
        while version is None or v <= version:
            end = comps.get(v)
            if end is not None and end > v:
                actions = log.try_read_compaction(v, end)
                if actions is not None:
                    state.apply_all(actions)
                    loaded = end
                    v = end + 1
                    continue
            actions = log.try_read_commit(v)
            if actions is None:
                break
            state.apply_all(actions)
            loaded = v
            v += 1

        if loaded < 0:
            raise NotATableError(f"{log.table_root} is not a Delta table (empty log)")
        if version is not None and loaded != version:
            raise DeltaTableError(
                f"version {version} does not exist in {log.table_root} (latest {loaded})"
            )
        unknown = set(state.reader_features or []) - SUPPORTED_READER_FEATURES
        if unknown:
            raise UnsupportedFeatureError(
                f"table {log.table_root} requires unsupported reader "
                f"feature(s) {sorted(unknown)}"
            )
        return cls(log, loaded, state)

    def apply_new_versions(self) -> "Snapshot":
        """Incremental refresh: fold commits newer than this snapshot
        (reference ``update_incremental``, ``rust/src/delta.rs:612-638``).

        The fold runs on a COPY of the state: this snapshot stays the
        immutable view its docstring promises, so a caller that captured it
        (time travel, CDF planning) keeps reading version-consistent data
        while the table object moves forward. The copy shares the
        checkpoint's Arrow base and copies only the commit-tail overlay."""
        v = self.version + 1
        actions = self.log.try_read_commit(v)
        if actions is None:
            return self  # nothing new — skip the state copy entirely
        state = self.state.copy()
        while actions is not None:
            state.apply_all(actions)
            v += 1
            actions = self.log.try_read_commit(v)
        loaded = v - 1
        # same reader gate as a cold load: a concurrent protocol upgrade to
        # an unimplemented reader feature must stop this reader, not let it
        # silently ignore the feature's semantics
        unknown = set(state.reader_features or []) - SUPPORTED_READER_FEATURES
        if unknown:
            raise UnsupportedFeatureError(
                f"table {self.log.table_root} now requires unsupported "
                f"reader feature(s) {sorted(unknown)}"
            )
        return Snapshot(self.log, loaded, state)

    # ---- accessors -------------------------------------------------------
    @property
    def metadata(self) -> MetaDataAction:
        if self.state.metadata is None:
            raise DeltaTableError("snapshot has no metaData action")
        return self.state.metadata

    def schema(self) -> T.StructType:
        return schema_string_to_spark(self.metadata.schema_string)

    def data_schema(self) -> T.StructType:
        """Schema of the parquet data files = table schema minus partition columns."""
        pcols = set(self.metadata.partition_columns)
        return T.StructType([f for f in self.schema().fields if f.name not in pcols])

    def mapping_mode(self) -> str:
        """Column-mapping mode (none | name | id) from the table config."""
        return cm.mapping_mode(self.metadata.configuration)

    def _phys_tuples(self, tuples):
        """Rewrite (col, op, value) tuples to physical column names — the
        log's partitionValues and stats are keyed physically when column
        mapping is active."""
        if not tuples or self.mapping_mode() == "none":
            return tuples
        mapping = cm.top_level_physical(self.schema())
        return [(mapping.get(t[0], t[0]), *t[1:]) for t in tuples]

    def files(
        self,
        partition_filters: Sequence[FilterTuple] | None = None,
        skip_predicates: Sequence[SkipTuple] | None = None,
    ) -> Files:
        """Live add actions after partition filtering and stats skipping,
        as a columnar selection: pruning reads the partitionValues and
        stats columns, and an ``AddAction`` is built only when an element
        is read."""
        files = self.state.live_files()
        if partition_filters:
            compiled = compile_filters(self._phys_tuples(partition_filters))
            files = files.where(
                [all(f.matches(pv) for f in compiled) for pv in files.partition_values()]
            )
        if skip_predicates:
            files = prune_files(files, self._phys_tuples(skip_predicates))
        return files

    def file_paths(self, **kw) -> list[str]:
        return self.files(**kw).paths()

    def file_uris(self, **kw) -> list[str]:
        return [self._absolute(p) for p in self.file_paths(**kw)]

    def _absolute(self, path: str) -> str:
        if "://" in path or path.startswith("/"):
            return path
        return self.log.backend.join(self.log.table_root, path)

    def _readable(self, path: str) -> str:
        """URI Spark can actually scan for a log-relative data file — the
        table URI itself on the native data plane, a backend-mirrored local
        copy otherwise (see ``protocol/dataio.py``)."""
        return self.log.data_plane.readable_uri(path)

    def _local(self, path: str) -> str:
        """Path DRIVER-SIDE pyarrow can open (to_pyarrow_* materialization,
        footer probes) — fetched through the backend on non-local planes."""
        return self.log.data_plane.local_uri(path)

    def stats(self) -> list[Optional[dict[str, Any]]]:
        if self.mapping_mode() != "none":
            schema = self.schema()
            return [
                cm.stats_to_logical(a.get_stats(), schema)
                for a in self.state.files.values()
            ]
        return [a.get_stats() for a in self.state.files.values()]

    # ---- DataFrame construction -------------------------------------------

    # lineage columns (file identity + row position) used for deletion-vector
    # filtering and by DML to find files containing matching rows; prefixed to
    # never collide with user columns
    FILE_LINEAGE_COL = "_drs_file"
    POS_LINEAGE_COL = "_drs_pos"

    # deletion vectors up to this many bytes of plain bitmap (one bit per
    # row, up to each file's last deleted position) are applied inside the
    # scan; the bitmap is a plan literal shipped with every task, so larger
    # ones take the positions anti join instead
    DV_BITMAP_MAX_BYTES = 4 * 1024 * 1024
    # and for scans of at most this many files: the filter finds a row's
    # bitmap by a linear search of the scanned files' names, so its per-row
    # cost grows with them. Against the anti join (4 cores, 1,000–2,400-row
    # files): every file DV'd, 1.7× faster at 128 files, 1.4× slower at
    # 1,024; one file DV'd, 11% faster at 84 files, 5% slower at 256
    DV_IN_SCAN_MAX_FILES = 128

    # a DV positions side small enough to broadcast, measured in BYTES from
    # the descriptors' sizeInBytes (parquet-compressed positions expand a few
    # × in memory — keep the cap near Spark's ~10MB broadcast heuristic);
    # above this the anti join shuffles — still proportional to positions,
    # never to table size
    DV_BROADCAST_MAX_BYTES = 16 * 1024 * 1024

    def to_df(
        self,
        spark: SparkSession,
        columns: Sequence[str] | None = None,
        partition_filters: Sequence[FilterTuple] | None = None,
        skip_predicates: Sequence[SkipTuple] | None = None,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """Snapshot → DataFrame.

        File-level pruning (partition filters + stats skipping) happens here,
        *before* plan construction — Spark never lists or opens pruned files.
        Partition columns are attached from the log's partitionValues (the
        parquet files do not store them), grouped so each distinct partition
        tuple is one scan branch; row-level residual filtering is left to
        Catalyst.
        """
        adds = self.files(partition_filters=partition_filters, skip_predicates=skip_predicates)
        return self.df_for_adds(spark, adds, columns=columns, with_row_ids=with_row_ids)

    def df_for_adds(
        self,
        spark: SparkSession,
        adds: list[AddAction],
        columns: Sequence[str] | None = None,
        with_lineage: bool = False,
        with_row_ids: bool = False,
    ) -> DataFrame:
        """DataFrame over an explicit subset of this snapshot's files.

        Used by to_df (after pruning) and by DML, which reads only the files
        it must rewrite. Files carrying a deletion vector drop their deleted
        positions inside the scan (a bitmap test on ``_metadata.row_index``,
        see ``_dv_keep_predicate``) that files without one share; with no
        deletion vector in ``adds`` the scan is bare.
        ``with_lineage=True`` appends ``_drs_file`` (the
        add's log path) and ``_drs_pos`` (row index within the file) — the
        row identity DML and merge-on-read DELETE key on.
        ``with_row_ids=True`` (row-tracked tables) appends ``_row_id`` /
        ``_row_commit_version``: coalesce(materialized column, add's
        baseRowId + row_index / defaultRowCommitVersion).
        """
        from . import row_tracking as rt

        table_schema = self.schema()
        need_lineage = with_lineage or with_row_ids
        mat_id = mat_cv = None
        if with_row_ids:
            mat_id, mat_cv = rt.materialized_names(self.metadata.configuration)

        if not adds:
            df = spark.createDataFrame([], table_schema)
            if with_lineage:
                df = df.withColumn(self.FILE_LINEAGE_COL, F.lit(None).cast("string"))
                df = df.withColumn(self.POS_LINEAGE_COL, F.lit(None).cast("long"))
            if with_row_ids:
                df = df.withColumn(rt.ROW_ID_COL, F.lit(None).cast("long"))
                df = df.withColumn(rt.ROW_CV_COL, F.lit(None).cast("long"))
            return df.select(*(columns or df.columns))

        mat_cols = [c for c in (mat_id, mat_cv) if c]
        dv_adds = [a for a in adds if a.deletion_vector]
        # files with and without a deletion vector share one filtered scan
        # (a union of two scans costs more than the filter); past the
        # filter's bounds the DV'd files anti-join their positions
        keep = self._dv_keep_predicate(adds) if dv_adds else None
        if keep is not None or not dv_adds:
            df = self._scan(
                spark, adds, include_lineage=need_lineage, mat_cols=mat_cols,
                row_filter=keep,
            )
        else:
            df = self._scan(spark, dv_adds, include_lineage=True, mat_cols=mat_cols)
            df = self._anti_join_deleted_positions(spark, df, dv_adds)
            if not need_lineage:
                df = df.drop(self.FILE_LINEAGE_COL, self.POS_LINEAGE_COL)
            plain = [a for a in adds if not a.deletion_vector]
            if plain:
                df = self._scan(
                    spark, plain, include_lineage=need_lineage, mat_cols=mat_cols
                ).unionByName(df)

        # every scan yields the table's columns in order, then lineage when
        # asked; only row ids need a final projection (each one costs a
        # round of analysis, a fixed share of a point lookup)
        if with_row_ids:
            df = self._attach_row_ids(spark, df, adds, mat_id, mat_cv)
            out_cols = list(table_schema.names)
            if with_lineage:
                out_cols += [self.FILE_LINEAGE_COL, self.POS_LINEAGE_COL]
            df = df.select(*out_cols, rt.ROW_ID_COL, rt.ROW_CV_COL)
        if columns:
            df = df.select(*columns)
        return df

    # above this many files the per-file (baseRowId, commitVersion) lookup
    # switches from a literal map to a broadcast join — a 100k-entry literal
    # map would bloat the plan the same way the union-branch cap does
    ROW_ID_MAP_MAX_FILES = 1000

    def _attach_row_ids(
        self, spark: SparkSession, df: DataFrame, adds: list[AddAction],
        mat_id: str | None, mat_cv: str | None,
    ) -> DataFrame:
        """Append ``_row_id`` / ``_row_commit_version``: the materialized
        column when the file carries one (rewritten files), else the add's
        baseRowId + row_index / defaultRowCommitVersion (fresh files)."""
        from . import row_tracking as rt

        FILE, POS = self.FILE_LINEAGE_COL, self.POS_LINEAGE_COL
        # keyed by what the lineage column evaluates to — equals a.path for
        # log-relative adds but differs for absolute (shallow-clone) adds
        base_items = [
            (self._lineage_key(a), a.base_row_id)
            for a in adds
            if a.base_row_id is not None
        ]
        cv_items = [
            (self._lineage_key(a), a.default_row_commit_version)
            for a in adds
            if a.default_row_commit_version is not None
        ]
        if len(adds) <= self.ROW_ID_MAP_MAX_FILES:
            def map_col(items):
                if not items:
                    return F.lit(None).cast("long")
                m = F.create_map(
                    *[x for p, v in items for x in (F.lit(p), F.lit(v))]
                )
                return F.element_at(m, F.col(FILE))

            base, cv = map_col(base_items), map_col(cv_items)
        else:
            lookup = spark.createDataFrame(
                [
                    (
                        self._lineage_key(a),
                        a.base_row_id,
                        a.default_row_commit_version,
                    )
                    for a in adds
                ],
                "_rt_path string, _rt_base long, _rt_cv long",
            )
            df = df.join(
                F.broadcast(lookup), df[FILE] == lookup["_rt_path"], "left"
            ).drop("_rt_path")
            base, cv = F.col("_rt_base"), F.col("_rt_cv")

        mat_id_col = F.col(mat_id) if mat_id else F.lit(None).cast("long")
        mat_cv_col = F.col(mat_cv) if mat_cv else F.lit(None).cast("long")
        df = df.withColumn(
            rt.ROW_ID_COL, F.coalesce(mat_id_col, base + F.col(POS))
        ).withColumn(rt.ROW_CV_COL, F.coalesce(mat_cv_col, cv))
        return df.drop(*(c for c in (mat_id, mat_cv, "_rt_base", "_rt_cv") if c))

    def _lineage_exprs(self) -> list:
        """Relative file path + row index from the scan's ``_metadata``.

        ``_metadata.file_path`` is a URI and percent-encodes special
        characters (a space in a partition value → ``%20``) while
        ``add.path`` holds the raw path — so the URI is percent-DECODED
        first, then the substring after the last ``<table_root>/`` yields
        the log-relative path that matches ``add.path`` exactly. The decode
        is pure codegen: pre-escaping literal ``+`` to ``%2B`` makes
        ``url_decode`` (form-decoding, ``+``→space) a strict
        percent-decoder.
        """
        delim = self.log.data_plane.scan_root.rstrip("/") + "/"
        decoded = F.url_decode(
            F.regexp_replace(F.col("_metadata.file_path"), r"\+", "%2B")
        )
        return [
            F.substring_index(decoded, delim, -1).alias(self.FILE_LINEAGE_COL),
            F.col("_metadata.row_index").alias(self.POS_LINEAGE_COL),
        ]

    def _lineage_key(self, add: AddAction) -> str:
        """The value ``_lineage_exprs``'s file column evaluates to for this
        add — equals ``add.path`` for ordinary log-relative files, but
        differs for absolute-path (shallow-clone) adds: the scan sees the
        source's URI (native plane) or the mirror's localized copy
        (mirrored plane), neither of which is the log path. Join keys that
        must line up with the scanned lineage (the DV anti join) use this."""
        uri = self._readable(add.path)
        root = self.log.data_plane.scan_root.rstrip("/") + "/"
        if uri.startswith(root):
            return uri[len(root):]
        if "://" not in uri:
            # local absolute path outside scan_root: Spark's
            # _metadata.file_path reports it as file:<path> (single slash)
            return "file:" + uri
        return uri

    @staticmethod
    def _with_mat_fields(schema: T.StructType, mat_cols: Sequence[str]) -> T.StructType:
        """Extend a read schema with the row-tracking materialized columns
        (nullable longs): files written before a rewrite don't have them and
        read NULL through the explicit schema — exactly what coalesce needs."""
        extra = [
            T.StructField(c, T.LongType(), True)
            for c in mat_cols
            if c not in schema.names
        ]
        return T.StructType(list(schema.fields) + extra) if extra else schema

    def _scan(
        self,
        spark: SparkSession,
        adds: list[AddAction],
        include_lineage: bool,
        mat_cols: Sequence[str] = (),
        row_filter: Optional[Column] = None,
    ) -> DataFrame:
        """Scan ``adds``; ``row_filter`` (over the scan's ``_metadata``) is
        applied on the file scan itself, before any projection."""
        table_schema = self.schema()
        pcols = self.metadata.partition_columns
        if not pcols:
            if self.mapping_mode() != "none":
                # data files carry PHYSICAL column names: scan physically,
                # rename logical via positional struct casts (pure codegen);
                # materialized row-id columns are physical by definition
                scan_schema = self._with_mat_fields(
                    cm.physical_schema(table_schema), mat_cols
                )
                df = self._read(
                    spark, scan_schema, [self._readable(a.path) for a in adds], row_filter
                )
                sel = cm.to_logical_exprs(table_schema) + [F.col(c) for c in mat_cols]
                if include_lineage:
                    return df.select(*sel, *self._lineage_exprs())
                return df.select(*sel)
            df = self._read(
                spark,
                self._with_mat_fields(table_schema, mat_cols),
                [self._readable(a.path) for a in adds],
                row_filter,
            )
            if include_lineage:
                cols = list(table_schema.names) + list(mat_cols)
                return df.select(*cols, *self._lineage_exprs())
            return df  # already the table's columns, then mat_cols
        return self._read_partitioned(
            spark, adds, include_lineage=include_lineage, mat_cols=mat_cols,
            row_filter=row_filter,
        )

    @staticmethod
    def _read(
        spark: SparkSession,
        schema: T.StructType,
        paths: list[str],
        row_filter: Optional[Column],
        base_path: Optional[str] = None,
    ) -> DataFrame:
        reader = spark.read.schema(schema)
        if base_path is not None:
            reader = reader.option("basePath", base_path)
        df = reader.parquet(*paths)
        return df if row_filter is None else df.filter(row_filter)

    def _dv_keep_predicate(self, adds: list[AddAction]) -> Optional[Column]:
        """Row filter over a scan of ``adds`` that keeps the rows their
        deletion vectors do not mark (a file without one keeps every row),
        or None when the anti join must serve.

        Each file's positions become a plain bitmap of 64-bit words; all of
        them travel as one JSON map literal (file name → words) that the
        optimizer folds into a constant once. Per row the filter looks up
        the file's words by ``_metadata.file_name`` and tests bit
        ``row_index`` — a few codegen'd operations in the scan's own stage:
        no extra job, no shuffle, no join. A scanned file missing from the
        map fails the scan rather than resurrect its deleted rows. The map
        lookup is a linear search over the names and the literal grows with
        the rows the deletes span, so more than ``DV_IN_SCAN_MAX_FILES``
        files, bitmaps past ``DV_BITMAP_MAX_BYTES`` or two files sharing a
        name fall back to the anti join. Built as one SQL expression: one
        call into the JVM instead of one per operator."""
        import json

        from .dv import add_positions, bitmap_words

        if len(adds) > self.DV_IN_SCAN_MAX_FILES:
            return None
        names = [self._readable(a.path).rsplit("/", 1)[-1] for a in adds]
        if len(set(names)) < len(names):
            return None
        positions = [add_positions(self.log, a) if a.deletion_vector else [] for a in adds]
        n_words = sum((max(p) >> 6) + 1 for p in positions if p)
        if n_words * 8 > self.DV_BITMAP_MAX_BYTES:
            return None
        bitmaps = json.dumps(
            {n: bitmap_words(p) for n, p in zip(names, positions)}, separators=(",", ":")
        )
        literal = "'" + bitmaps.replace("\\", "\\\\").replace("'", "\\'") + "'"
        words = (
            f"coalesce(from_json({literal}, 'map<string,array<bigint>>')"
            "[_metadata.file_name], raise_error('deletion-vector scan read a "
            "file it has no bitmap for'))"
        )
        pos = "_metadata.row_index"
        return F.expr(
            f"NOT coalesce(bit_get(get({words}, CAST(shiftright({pos}, 6) AS INT)), "
            f"CAST({pos} % 64 AS INT)) = 1, false)"
        )

    def _anti_join_deleted_positions(
        self, spark: SparkSession, df: DataFrame, dv_adds: list[AddAction]
    ) -> DataFrame:
        """Drop rows whose (file, row_index) appears in a deletion vector —
        the path for bitmaps too large to inline (``_dv_keep_predicate``).

        The positions side is decoded from the adds' RoaringBitmap DVs
        (spec format — inline or .bin; the pre-round-3 parquet-dir format
        decodes through the same seam) into ONE Arrow-backed literal frame:
        the identical per-file bitmap materialization every Delta reader
        performs, bounded by the descriptors' cardinality. When the total
        serialized size (known with no job) is small it broadcasts, so the
        common case (point deletes on a huge table) adds zero shuffle."""
        from .dv import positions_df

        pos = positions_df(spark, self.log, dv_adds, key_fn=self._lineage_key)
        dv_bytes = sum(
            int(a.deletion_vector.get("sizeInBytes", 0)) for a in dv_adds
        )
        if dv_bytes <= self.DV_BROADCAST_MAX_BYTES:
            pos = F.broadcast(pos)
        cond = (F.col(self.FILE_LINEAGE_COL) == F.col("_dv_path")) & (
            F.col(self.POS_LINEAGE_COL) == F.col("_dv_pos")
        )
        return df.join(pos, cond, "left_anti")

    # above this many distinct partition tuples, a lit()-union plan becomes a
    # liability (a 10k-branch union stalls analysis); switch to one basePath
    # scan where Spark derives partition columns from the Hive paths
    MAX_UNION_BRANCHES = 64

    def _read_partitioned(
        self,
        spark: SparkSession,
        adds: list[AddAction],
        include_lineage: bool = False,
        mat_cols: Sequence[str] = (),
        row_filter: Optional[Column] = None,
    ) -> DataFrame:
        """Attach partition columns from the log's partitionValues.

        Small group count (the common case after pruning): one union branch
        per distinct partition tuple with typed ``lit()`` columns — exact,
        no path parsing, works even for non-Hive layouts. Large group count
        (full scan of a heavily partitioned table): a single
        ``basePath`` scan over exactly the log's file list — one scan node,
        no plan explosion; Spark types the partition columns from our
        schema. Only the listed files are read either way — basePath only
        controls partition-column derivation, not file discovery.
        """
        schema = self.schema()
        data_schema = self.data_schema()
        pcols = self.metadata.partition_columns
        ptypes = {f.name: f.dataType for f in schema.fields if f.name in pcols}
        lineage = self._lineage_exprs() if include_lineage else []

        mapped = self.mapping_mode() != "none"
        # with column mapping, partitionValues keys AND the Hive path dirs
        # use physical names; the emitted DataFrame stays logical
        phys = cm.top_level_physical(schema) if mapped else {c: c for c in schema.names}

        groups: dict[tuple, list[str]] = {}
        for a in adds:
            key = tuple(a.partition_values.get(phys[c]) for c in pcols)
            groups.setdefault(key, []).append(self._readable(a.path))

        if len(groups) > self.MAX_UNION_BRANCHES and not mat_cols:
            all_paths = [p for paths in groups.values() for p in paths]
            # basePath derivation requires the Hive key=value layout; fall
            # back to unions if any file's path doesn't encode it
            if all(f"/{phys[c]}=" in p for p in all_paths for c in pcols):
                scan_schema = cm.physical_schema(schema) if mapped else schema
                df = self._read(
                    spark, scan_schema, all_paths, row_filter,
                    base_path=self.log.data_plane.scan_root,
                )
                if mapped:
                    df = df.select(*cm.to_logical_exprs(schema), *lineage)
                    return df
                # Spark puts discovered partition columns last
                return df.select(*schema.names, *lineage)

        scan_data_schema = self._with_mat_fields(
            cm.physical_schema(data_schema) if mapped else data_schema, mat_cols
        )
        data_sel = (
            cm.to_logical_exprs(data_schema) if mapped else list(data_schema.names)
        ) + [F.col(c) for c in mat_cols]
        lineage_names = (
            [self.FILE_LINEAGE_COL, self.POS_LINEAGE_COL] if include_lineage else []
        )
        branches = []
        for key, paths in groups.items():
            branch = self._read(spark, scan_data_schema, paths, row_filter)
            # lineage exprs read _metadata.* so they must be applied directly
            # on the scan; later selects reference them by alias only
            branch = branch.select(*data_sel, *lineage)
            for cname, sval in zip(pcols, key):
                typed = partition_value_to_typed(sval, ptypes[cname])
                branch = branch.withColumn(cname, F.lit(typed).cast(ptypes[cname]))
            branches.append(branch.select(*schema.names, *mat_cols, *lineage_names))
        df = branches[0]
        for b in branches[1:]:
            df = df.unionByName(b)
        return df

    # ---- misc ------------------------------------------------------------
    def min_reader_version(self) -> int:
        return self.state.min_reader_version

    def min_writer_version(self) -> int:
        return self.state.min_writer_version

    def app_transaction_version(self, app_id: str) -> Optional[int]:
        return self.state.app_transaction_version.get(app_id)


# ---- checkpoint parquet → actions (driver-side pyarrow) -------------------

def read_checkpoint_actions(log: DeltaLog, cp: CheckPoint) -> CheckpointActions:
    """Decode a checkpoint's parquet parts (and V2 sidecars).

    Row layout per the Delta protocol (one struct column per action type;
    reference reader ``rust/src/action.rs:726-775``). Reads with pyarrow on
    the driver: checkpoints are a few MB of metadata, not data-plane I/O.
    The add/remove columns stay Arrow — projected onto the state's schemas
    with no Python per row — and become the snapshot's shared base; only
    the singleton actions (metaData/protocol/txn/domainMetadata, a few
    rows) are decoded into objects.
    """
    import io
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa
    import pyarrow.parquet as pq

    def _fetch_many(paths: list[str]) -> list[bytes]:
        """GET several checkpoint objects; parallel on >1 — on object
        stores each part/sidecar is a network round trip and the layout
        exists precisely so they can be read independently."""
        if len(paths) <= 1:
            return [log.backend.get_obj(p) for p in paths]
        with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
            return list(ex.map(log.backend.get_obj, paths))

    singletons: list[Action] = []
    files: dict[str, list] = {"add": [], "remove": []}

    def decode(table) -> None:
        singletons.extend(_singleton_actions(table))
        for name, schema in (("add", ADD_SCHEMA), ("remove", REMOVE_SCHEMA)):
            if name in table.column_names:
                files[name].append(file_action_table(table.column(name), schema))

    # one decode thread: a checkpoint is a few MB, and Arrow allocations
    # spread over per-thread arenas raise the driver's resident memory on
    # every open more than the threads save in time
    sidecar_names: list[str] = []
    for blob in _fetch_many(log.checkpoint_paths(cp)):
        table = pq.read_table(io.BytesIO(blob), use_threads=False)
        decode(table)
        # V2 manifests: file actions live in _sidecars/ parquet files named
        # by `sidecar` rows. Sidecars hold ONLY add/remove.
        if "sidecar" in table.column_names:
            sc = table.column("sidecar")
            for d in sc.filter(sc.is_valid()).to_pylist():
                if d.get("path"):
                    sidecar_names.append(d["path"])
    for blob in _fetch_many([log.sidecar_path(n) for n in sidecar_names]):
        decode(pq.read_table(io.BytesIO(blob), use_threads=False))

    def concat(tables: list, schema) -> "pa.Table":
        return pa.concat_tables(tables).combine_chunks() if tables else schema.empty_table()

    return CheckpointActions(
        singletons, concat(files["add"], ADD_SCHEMA), concat(files["remove"], REMOVE_SCHEMA)
    )


def _singleton_actions(table) -> list[Action]:
    """The few metaData/protocol/txn/domainMetadata rows of a checkpoint."""
    actions: list[Action] = []
    for name, key, builder in (
        ("metaData", "id", lambda d: MetaDataAction.from_json_dict(_strip_none(_fix_meta(d)))),
        ("protocol", "minReaderVersion", ProtocolAction.from_json_dict),
        ("txn", "appId", TxnAction.from_json_dict),
        ("domainMetadata", "domain", DomainMetadataAction.from_json_dict),
    ):
        if name not in table.column_names:
            continue
        col = table.column(name)
        for d in col.filter(col.is_valid()).to_pylist():
            if d.get(key) is not None:
                actions.append(builder(d))
    return actions


def _fix_meta(d: dict) -> dict:
    """A checkpoint's metaData row with dict ``configuration`` and
    ``format.options``: Arrow returns a map as (key, value) pairs, and
    checkpoints written before these columns were typed as maps hold
    them as structs."""
    d = dict(d)
    fmt = dict(d.get("format") or {})
    fmt["options"] = dict(fmt.get("options") or {})
    d["format"] = fmt
    d["configuration"] = dict(d.get("configuration") or {})
    return d


def _strip_none(d: dict) -> dict:
    return {k: v for k, v in d.items() if v is not None}
