"""Change Data Feed: row-level changes between table versions.

Public Delta protocol CDF semantics, grafted onto the v0 log model the
reference implements (the reference reserves the ``_change_data`` directory
in its vacuum hidden-path predicate, ``rust/src/delta.rs:904-916``, but never
writes it):

- When the table property ``delta.enableChangeDataFeed=true`` is set, DML
  commits (DELETE/UPDATE/MERGE, dml.py) also write **change files** under
  ``_change_data/`` carrying the affected rows plus a ``_change_type``
  column (``insert`` / ``delete`` / ``update_preimage`` /
  ``update_postimage``), committed as ``cdc`` actions in the same version.
- ``load_cdf`` replays the commit range. For a version with cdc actions the
  change files ARE the row-level truth. For plain commits it synthesizes
  changes from the file actions: dataChange adds → ``insert`` rows,
  dataChange removes → ``delete`` rows (the removed files are still on
  disk until vacuum — exactly why vacuum has a retention floor).

Scale: change files are proportional to rows *changed*, not table size;
reading a commit range is one scan branch per version over only the
files that version touched. The log walk is driver-side and O(#versions).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .protocol.actions import AddAction, CdcAction, RemoveAction
from .protocol.dv import descriptor_positions, file_reader

CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"

CDF_PROPERTY = "delta.enableChangeDataFeed"


def cdf_enabled(table) -> bool:
    cfg = table.metadata().configuration or {}
    return str(cfg.get(CDF_PROPERTY, "false")).lower() == "true"


def load_cdf(
    spark: SparkSession,
    table,
    starting_version: int = 0,
    ending_version: Optional[int] = None,
) -> DataFrame:
    """DataFrame of row-level changes in [starting_version, ending_version]
    (inclusive; default latest). Columns: the table schema +
    ``_change_type`` (string) + ``_commit_version`` (long)."""
    log = table.log
    snap = table.snapshot
    latest = table.version
    end = latest if ending_version is None else ending_version
    if end > latest:
        raise ValueError(
            f"ending_version {end} is beyond the table's latest version {latest}"
        )
    if starting_version > end:
        raise ValueError(f"starting_version {starting_version} > ending_version {end}")

    schema = table.schema()
    from .protocol import column_mapping as _cm

    # cdc files carry PHYSICAL column names on column-mapped tables
    if snap.mapping_mode() != "none":
        _cdc_sel = _cm.to_logical_exprs(schema)
        _cdc_read_schema = _cm.physical_schema(schema)
    else:
        _cdc_sel = [F.col(c) for c in schema.names]
        _cdc_read_schema = schema
    # change files are read with the CURRENT schema, never inferred: Spark
    # samples one file for inference, so a range spanning a type widening
    # (old narrow + new wide change files) would nondeterministically pick
    # the narrow type and fail on the wide files; the explicit wide schema
    # upcasts old files in the vectorized reader and NULL-fills columns
    # added after them
    import pyspark.sql.types as _T

    _cdc_read_schema = _T.StructType(
        list(_cdc_read_schema.fields)
        + [_T.StructField(CHANGE_TYPE_COL, _T.StringType())]
    )

    # Gather the whole range first, then read each change kind in ONE scan —
    # a 500-version range is three scan nodes, not 500 union branches.
    # _commit_version is attached per file through a filename→version map
    # (file names are uuid-unique by construction).
    #
    # Merge-on-read (deletion-vector) commits synthesize correctly without
    # change files:
    # - a DV swap (Remove(old DV) + re-Add(new DV) of the same path) emits
    #   ``delete`` rows for exactly the NEWLY dead positions — the rows at
    #   positions in the add's new DV dirs (this commit's positions file);
    # - a tombstone-only remove of a DV'd file emits the rows that were
    #   still LIVE at removal: the remove carries the file's prior DV, and
    #   reconstructing through it anti-joins the already-dead positions —
    #   no phantom deletes for rows removed in earlier versions.
    cdc_items: list[tuple[CdcAction, int]] = []
    add_items: list[tuple[AddAction, int]] = []
    remove_items: list[tuple[AddAction, int]] = []
    dv_delete_groups: dict[int, list[tuple[AddAction, list[str]]]] = {}
    for v in range(starting_version, end + 1):
        actions = log.try_read_commit(v)
        if actions is None:
            # expired-log cleanup removed this commit: silently skipping it
            # would hand incremental consumers an INCOMPLETE change feed
            # they would treat as the whole history
            raise ValueError(
                f"change data for version {v} is no longer available (the "
                "commit file was removed by log cleanup); start the feed at "
                "a retained version"
            )
        cdc = [a for a in actions if isinstance(a, CdcAction)]
        if cdc:
            cdc_items.extend((a, v) for a in cdc)
            continue  # cdc files are the row-level truth for this commit
        adds_v = [a for a in actions if isinstance(a, AddAction) and a.data_change]
        removes_v = [a for a in actions if isinstance(a, RemoveAction) and a.data_change]
        dv_swap_paths: set[str] = set()
        read = file_reader(log)  # one GET per DV file of this commit's decodes
        for a in adds_v:
            if a.deletion_vector is not None:
                dv_swap_paths.add(a.path)
                old = next((r for r in removes_v if r.path == a.path), None)
                # newly-dead rows of this commit = positions in the new DV
                # that the prior DV (carried on the matching remove) did not
                # already hold; decoded driver-side, bounded by cardinality
                new_pos = set(descriptor_positions(log, a.deletion_vector, a.path, read))
                if old is not None and old.deletion_vector:
                    new_pos -= set(
                        descriptor_positions(log, old.deletion_vector, a.path, read)
                    )
                if new_pos:
                    dv_delete_groups.setdefault(v, []).append((a, sorted(new_pos)))
            else:
                add_items.append((a, v))
        for r in removes_v:
            if r.path in dv_swap_paths:
                continue  # DV swap: its delete rows come from the new DV dirs
            # reconstruct removed rows from the (not-yet-vacuumed) file,
            # through the prior DV so already-deleted rows stay deleted
            remove_items.append(
                (
                    AddAction(
                        path=r.path,
                        size=r.size or 0,
                        partition_values=r.partition_values or {},
                        modification_time=0,
                        data_change=True,
                        deletion_vector=r.deletion_vector,
                    ),
                    v,
                )
            )

    import dataclasses as _dc
    import os as _os

    FILE, POS = snap.FILE_LINEAGE_COL, snap.POS_LINEAGE_COL

    def lineage_version_col(items) -> "F.Column":
        """filename→version map keyed on the lineage column (robust under
        the DV anti join, where input_file_name() is unreliable)."""
        pairs = []
        for a, v in items:
            pairs.append(F.lit(_os.path.basename(a.path)))
            pairs.append(F.lit(v))
        fname = F.substring_index(F.col(FILE), "/", -1)
        return F.element_at(F.create_map(*pairs), fname).cast("long")

    def kind_branches(items, change_type: Optional[str], is_cdc: bool) -> list[DataFrame]:
        """One scan when file names are unique across the range; otherwise
        (a path re-added by RESTORE, or added then removed, can recur in
        several commits) fall back to one branch per version so the
        filename→version map never sees duplicate keys."""
        names = [_os.path.basename(a.path) for a, _ in items]
        if len(set(names)) == len(names):
            if is_cdc:
                paths = [snap._readable(a.path) for a, _ in items]
                fname = F.regexp_extract(F.input_file_name(), r"([^/]+?)(\?.*)?$", 1)
                pairs = []
                for a, v in items:
                    pairs.append(F.lit(_os.path.basename(a.path)))
                    pairs.append(F.lit(v))
                return [
                    snap._read(spark, _cdc_read_schema, paths, None).select(
                        *_cdc_sel,
                        CHANGE_TYPE_COL,
                        F.element_at(F.create_map(*pairs), fname)
                        .cast("long")
                        .alias(COMMIT_VERSION_COL),
                    )
                ]
            df = snap.df_for_adds(spark, [a for a, _ in items], with_lineage=True)
            return [
                df.withColumn(CHANGE_TYPE_COL, F.lit(change_type))
                .withColumn(COMMIT_VERSION_COL, lineage_version_col(items))
                .drop(FILE, POS)
            ]
        by_version: dict[int, list] = {}
        for a, v in items:
            by_version.setdefault(v, []).append(a)
        out = []
        for v, adds_v in sorted(by_version.items()):
            if is_cdc:
                paths = [snap._readable(a.path) for a in adds_v]
                df = snap._read(spark, _cdc_read_schema, paths, None).select(
                    *_cdc_sel, CHANGE_TYPE_COL
                )
            else:
                df = snap.df_for_adds(spark, adds_v).withColumn(
                    CHANGE_TYPE_COL, F.lit(change_type)
                )
            out.append(df.withColumn(COMMIT_VERSION_COL, F.lit(v).cast("long")))
        return out

    def dv_delete_branch(v: int, group: list[tuple[AddAction, list[int]]]) -> DataFrame:
        """Rows newly deleted by a DV commit: semi-join the files' physical
        rows against the commit's newly-dead positions (decoded from the
        RoaringBitmap descriptors, one bounded broadcast literal)."""
        import pandas as pd

        plain = [_dc.replace(a, deletion_vector=None) for a, _ in group]
        df = snap.df_for_adds(spark, plain, with_lineage=True)
        paths: list[str] = []
        positions: list[int] = []
        for a, newly in group:
            # the semi-join must use what the scanned lineage column
            # actually evaluates to — which differs from a.path for
            # absolute-path (shallow-clone) adds
            key = snap._lineage_key(a)
            paths.extend([key] * len(newly))
            positions.extend(newly)
        pos = spark.createDataFrame(
            pd.DataFrame(
                {
                    "_dv_path": pd.array(paths, dtype="string"),
                    "_dv_pos": pd.array(positions, dtype="int64"),
                }
            ),
            schema="_dv_path STRING, _dv_pos BIGINT",
        )
        cond = (F.col(FILE) == F.col("_dv_path")) & (F.col(POS) == F.col("_dv_pos"))
        return (
            df.join(F.broadcast(pos), cond, "left_semi")
            .select(*schema.names)
            .withColumn(CHANGE_TYPE_COL, F.lit("delete"))
            .withColumn(COMMIT_VERSION_COL, F.lit(v).cast("long"))
        )

    branches: list[DataFrame] = []
    if cdc_items:
        branches.extend(kind_branches(cdc_items, None, is_cdc=True))
    if add_items:
        branches.extend(kind_branches(add_items, "insert", is_cdc=False))
    if remove_items:
        branches.extend(kind_branches(remove_items, "delete", is_cdc=False))
    for v, group in sorted(dv_delete_groups.items()):
        branches.append(dv_delete_branch(v, group))

    if not branches:
        empty = spark.createDataFrame([], schema)
        return empty.withColumn(CHANGE_TYPE_COL, F.lit("")).withColumn(
            COMMIT_VERSION_COL, F.lit(0).cast("long")
        ).limit(0)

    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def write_change_files(
    spark: SparkSession,
    log,
    change_df: DataFrame,
    table_schema=None,
    configuration=None,
    n_rows=None,
) -> list[CdcAction]:
    """Stage ``change_df`` (table columns + _change_type) as parquet and move
    it under ``_change_data/``; returns the cdc actions to commit. Executors
    write; the driver only renames. Column-mapped tables write change files
    under physical names (same rule as data files). ``n_rows``, when the
    caller knows it, sets the write tasks as for data files
    (``writer.write_tasks``)."""
    import uuid

    from .protocol import column_mapping as cm
    from .writer import PARQUET_SUFFIX, parquet_writer, write_tasks

    if table_schema is not None and cm.is_mapped(configuration):
        change_df = cm.to_physical_df(change_df, table_schema)
    if n_rows is not None:
        change_df = change_df.coalesce(write_tasks(n_rows))

    staging = log.data_plane.stage_dir("cdc")
    parquet_writer(change_df).parquet(staging)

    actions: list[CdcAction] = []
    for i, src in enumerate(sorted(log.data_plane.staged_files(staging))):
        rel = f"_change_data/cdc-{i:05d}-{uuid.uuid4()}{PARQUET_SUFFIX}"
        size, _ = log.data_plane.publish_file(src, rel)
        actions.append(CdcAction(path=rel, size=size))
    log.data_plane.cleanup_stage(staging)
    return actions
