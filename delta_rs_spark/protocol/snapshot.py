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

import json
import threading
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


# Spark lists the files one read names on the driver up to this many paths
# and starts a listing job above it; ``Snapshot._read`` raises it per local
# read, under the lock so concurrent reads restore it in order
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_LISTING_LOCK = threading.Lock()

# partition column types a basePath scan parses from a Hive directory the
# way ``partition_value_to_typed`` parses the logged string, in every session
_HIVE_TYPES = (T.StringType, T.BooleanType, T.ByteType, T.ShortType, T.IntegerType,
               T.LongType, T.DateType)

# characters Spark's Hive partition writer escapes as %XX
# (``ExternalCatalogUtils.escapePathName``)
_HIVE_ESCAPED = frozenset('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(1, 32)}


def _hive_escape(s: Optional[str]) -> str:
    """A Hive directory's spelling of a column name or logged value."""
    if s is None or s == "":
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(f"%{ord(ch):02X}" if ch in _HIVE_ESCAPED else ch for ch in s)


def _sql_json(obj: Any) -> str:
    """``obj`` as compact JSON in a SQL string literal."""
    text = json.dumps(obj, separators=(",", ":"))
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


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

        # the latest load folds the commits the listing saw: probing past
        # the last one would end every open with a failed GET
        target = version
        if target is None:
            target = max(listing.versions[-1] if listing.versions else -1, loaded)
        v = loaded + 1
        # log-compaction files covering [s, e] fold in place of the commits
        # they reconcile — on object stores that's 1 GET instead of e-s+1
        comps: dict[int, int] = {}
        for s, e in listing.compactions:
            if e <= target:  # one that overshoots is unusable
                comps[s] = max(comps.get(s, -1), e)
        while v <= target:
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
        The kept files are one parquet scan (``_scan``) whose partition
        columns carry the log's partitionValues (the parquet files do not
        store them); row-level residual filtering is left to Catalyst.
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
        it must rewrite. ``adds`` are one parquet scan (``_scan``), plus a
        second one where the anti join below serves. Files carrying a
        deletion vector drop their deleted positions inside the scan (a
        bitmap test on ``_metadata.row_index``, see ``_dv_keep_predicate``)
        that files without one share; with no deletion vector in ``adds``
        the scan is bare.
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
            # the materialized column when the file carries one (rewritten
            # files), else the add's baseRowId + row_index /
            # defaultRowCommitVersion (fresh files)
            df = self._attach_file_values(spark, df, adds, {
                "_rt_base": (T.LongType(), [a.base_row_id for a in adds]),
                "_rt_cv": (T.LongType(), [a.default_row_commit_version for a in adds]),
            })
            null = F.lit(None).cast("long")
            out_cols = list(table_schema.names)
            if with_lineage:
                out_cols += [self.FILE_LINEAGE_COL, self.POS_LINEAGE_COL]
            df = df.select(
                *out_cols,
                F.coalesce(F.col(mat_id) if mat_id else null,
                           F.col("_rt_base") + F.col(self.POS_LINEAGE_COL)).alias(rt.ROW_ID_COL),
                F.coalesce(F.col(mat_cv) if mat_cv else null, F.col("_rt_cv")).alias(rt.ROW_CV_COL),
            )
        if columns:
            df = df.select(*columns)
        return df

    # above this many files a per-file value lookup (partition values, row
    # ids) switches from a literal map to a broadcast join: the map is a
    # plan literal searched linearly per row
    FILE_MAP_MAX_FILES = 1000

    def _attach_file_values(
        self, spark: SparkSession, df: DataFrame, adds: list[AddAction],
        columns: dict[str, tuple[T.DataType, list]],
    ) -> DataFrame:
        """Append one column per ``columns`` entry (name → (type, one
        Python value per add)): the value of the file each row was read
        from, found by the lineage column ``_drs_file``. Up to
        ``FILE_MAP_MAX_FILES`` files a map literal (file → index) picks
        from one ``lit()`` array per column, one element per distinct
        value row, and a file missing from it fails the scan; above that
        a broadcast join against a per-file table serves."""
        names = list(columns)
        rows = list(zip(*(values for _, values in columns.values())))
        keys = [self._lineage_key(a) for a in adds]
        if len(adds) > self.FILE_MAP_MAX_FILES:
            lookup = spark.createDataFrame(
                [(k, *r) for k, r in zip(keys, rows)],
                T.StructType(
                    [T.StructField("_drs_key", T.StringType())]
                    + [T.StructField(n, columns[n][0]) for n in names]
                ),
            )
            return df.join(
                F.broadcast(lookup), df[self.FILE_LINEAGE_COL] == lookup["_drs_key"], "left"
            ).drop("_drs_key")
        def lit(value, dtype):
            # a datetime lit() is an instant, which a cast to timestamp_ntz
            # reads in the session time zone; the wall-clock string is not
            if isinstance(dtype, T.TimestampNTZType) and value is not None:
                value = str(value)
            return F.lit(value)

        distinct = list(dict.fromkeys(rows))
        index = {r: i + 1 for i, r in enumerate(distinct)}
        pick = F.expr(
            f"coalesce(from_json({_sql_json({k: index[r] for k, r in zip(keys, rows)})}, "
            f"'map<string,int>')[{self.FILE_LINEAGE_COL}], "
            "raise_error('scan read a file it has no partition or row-id values for'))"
        )
        return df.withColumns({
            n: F.element_at(F.array(*[lit(r[j], columns[n][0]) for r in distinct]), pick)
            .cast(columns[n][0])
            for j, n in enumerate(names)
        })

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

    def _scan(
        self,
        spark: SparkSession,
        adds: list[AddAction],
        include_lineage: bool,
        mat_cols: Sequence[str] = (),
        row_filter: Optional[Column] = None,
    ) -> DataFrame:
        """One parquet scan of ``adds``: the table's columns, then
        ``mat_cols``, then lineage when asked. ``row_filter`` (over the
        scan's ``_metadata``) is applied on the file scan itself.

        Partition columns carry the log's partitionValues. When the files
        sit at the Hive paths of those values (``_hive_layout``), Spark
        derives them from the paths of a ``basePath`` scan; otherwise the
        scan reads the data columns and each file's values are attached by
        its lineage key (``_attach_file_values``). Either way only the
        listed files are read: ``basePath`` names where partition
        directories start, not what to list."""
        schema = self.schema()
        pcols = self.metadata.partition_columns
        mapped = self.mapping_mode() != "none"
        # with column mapping, partitionValues keys AND the Hive path dirs
        # use physical names; the emitted DataFrame stays logical
        phys = cm.top_level_physical(schema) if mapped else {c: c for c in schema.names}
        paths = [self._readable(a.path) for a in adds]
        hive = (
            bool(pcols)
            and all(isinstance(schema[c].dataType, _HIVE_TYPES) for c in pcols)
            and self._hive_layout(adds, paths, phys)
        )
        scan_schema = schema if hive or not pcols else self.data_schema()
        read_schema = cm.physical_schema(scan_schema) if mapped else scan_schema
        # row-tracking materialized columns: files written before a rewrite
        # lack them and read NULL, which the row-id coalesce needs
        read_schema = T.StructType(read_schema.fields + [
            T.StructField(c, T.LongType()) for c in mat_cols if c not in read_schema.names
        ])
        df = self._read(
            spark, read_schema, paths, row_filter,
            base_path=self.log.data_plane.scan_root if hive else None,
        )
        sel = (cm.to_logical_exprs(scan_schema) if mapped else list(scan_schema.names)) + [
            F.col(c) for c in mat_cols
        ]
        lineage = self._lineage_exprs() if include_lineage else []
        if not pcols and not mapped and not lineage:
            return df  # already the table's columns, then mat_cols
        # lineage exprs read _metadata.* so they are applied on the scan
        if hive or not pcols:
            return df.select(*sel, *lineage)
        # the per-file values are found by the lineage file column
        df = df.select(*sel, *(lineage or self._lineage_exprs()))
        df = self._attach_file_values(spark, df, adds, {
            c: (
                schema[c].dataType,
                [partition_value_to_typed(a.partition_values.get(phys[c]), schema[c].dataType)
                 for a in adds],
            )
            for c in pcols
        })
        lineage_names = [self.FILE_LINEAGE_COL, self.POS_LINEAGE_COL] if lineage else []
        return df.select(*schema.names, *mat_cols, *lineage_names)

    def _hive_layout(
        self, adds: list[AddAction], paths: list[str], phys: dict[str, str]
    ) -> bool:
        """Whether every file lies directly in the Hive directories of its
        logged partitionValues under the scan root, so that a ``basePath``
        scan derives exactly those values. Shallow-clone files under
        another table's root do not."""
        pcols = self.metadata.partition_columns
        root = self.log.data_plane.scan_root.rstrip("/") + "/"
        prefixes: dict[tuple, str] = {}
        for a, path in zip(adds, paths):
            key = tuple(a.partition_values.get(phys[c]) for c in pcols)
            prefix = prefixes.get(key)
            if prefix is None:
                prefix = prefixes[key] = root + "".join(
                    f"{_hive_escape(phys[c])}={_hive_escape(v)}/" for c, v in zip(pcols, key)
                )
            if not path.startswith(prefix) or "/" in path[len(prefix):]:
                return False
        return True

    @staticmethod
    def _read(
        spark: SparkSession,
        schema: T.StructType,
        paths: list[str],
        row_filter: Optional[Column],
        base_path: Optional[str] = None,
    ) -> DataFrame:
        """One parquet scan of exactly ``paths`` — every read of logged
        files goes through here. Spark lists the named files as the
        DataFrame is built; local paths are listed on the driver (the
        path count above which Spark starts a listing job is raised past
        ``len(paths)`` for the build, then restored), while remote URIs
        keep Spark's parallel listing, as each file is a round trip."""
        reader = spark.read.schema(schema)
        if base_path is not None:
            reader = reader.option("basePath", base_path)
        if any("://" in p and not p.startswith("file:") for p in paths):
            df = reader.parquet(*paths)
        else:
            with _LISTING_LOCK:
                threshold = spark.conf.get(_LISTING_THRESHOLD)
                spark.conf.set(_LISTING_THRESHOLD, str(max(len(paths), int(threshold))))
                try:
                    df = reader.parquet(*paths)
                finally:
                    spark.conf.set(_LISTING_THRESHOLD, threshold)
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
        from .dv import adds_positions, bitmap_words

        if len(adds) > self.DV_IN_SCAN_MAX_FILES:
            return None
        names = [self._readable(a.path).rsplit("/", 1)[-1] for a in adds]
        if len(set(names)) < len(names):
            return None
        positions = adds_positions(self.log, adds)
        n_words = sum((max(p) >> 6) + 1 for p in positions if p)
        if n_words * 8 > self.DV_BITMAP_MAX_BYTES:
            return None
        literal = _sql_json({n: bitmap_words(p) for n, p in zip(names, positions)})
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
        the path for bitmaps too large for the in-scan filter
        (``_dv_keep_predicate``).

        The positions side is decoded from the adds' RoaringBitmap DVs
        (spec format — .bin or inline; the pre-round-3 parquet-dir format
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
