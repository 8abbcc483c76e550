"""DML: DELETE / UPDATE / MERGE over Delta tables.

Tables with ``delta.enableDeletionVectors=true`` (the default for new
tables) take the merge-on-read paths (``_delete_merge_on_read``,
``_update_merge_on_read``, ``_merge_merge_on_read``): changed rows are
marked in deletion vectors and only new rows are written. The rest of this
docstring describes the copy-on-write paths the other tables take.

The reference (delta-rs v0) lists MERGE/UPDATE/DELETE as explicit gaps and
only sketches update semantics in a test (``rust/tests/write_exploration.rs:
433-444``: a second commit with add+remove pairs). This module implements the
full commands the Delta protocol expresses with exactly those primitives —
every DML statement is one transactional commit of Remove(old file) +
Add(rewritten file) actions, so readers at any version see an atomic change
and time travel keeps working.

Spark-first, scale-first design:

1. **Prune before reading.** Candidate files come from the snapshot after
   partition-filter and stats (min/max) pruning against the predicate's
   simple conjuncts — at 100 TB a ``DELETE WHERE ds = '2024-01-01'`` touches
   one partition's files, never the lake.
2. **Touch only files that MUST change.** A distributed pass over the pruned
   candidates finds the files that actually contain matching rows
   (``input_file_name()`` group-by — map-side partial agg, tiny shuffle of
   one row per file). Files without matches keep their Add entries untouched:
   no rewrite, no tombstone, no data movement.
3. **Rewrite distributed.** Surviving/updated rows of only those files are
   written by Spark executors through the same staged-write path as append
   (footer stats, unique names); the driver commits the swap.

All operations record Delta-style commitInfo (operation, predicate,
operationMetrics) so ``table.history()`` reads like a real Delta log.

Concurrency semantics are v0-faithful: commits go through the blind
optimistic-retry loop with NO semantic conflict checking (the reference
deliberately defers isolation levels — commented-out sketch at
``rust/src/delta.rs:1309-1322``). Two concurrent DML statements both
commit; the later one wins on any file both touched. Serialize writers
externally if that matters, exactly as with the reference.
"""

from __future__ import annotations

import re
import time
from typing import Any, Optional, Sequence
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cdf import CHANGE_TYPE_COL, cdf_enabled
from .protocol.actions import AddAction, RemoveAction
from .protocol.stats import SkipTuple
from .table import DeltaTable
from .transactions import DeltaTransaction
from .writer import check_constraints, stage_rows


class DMLError(Exception):
    pass


# ---------------------------------------------------------------------------
# predicate → pruning hints
# ---------------------------------------------------------------------------

_SIMPLE_CMP = re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*(=|==|!=|<>|<=|>=|<|>)\s*"
    r"('(?:[^']|'')*'|-?\d+(?:\.\d+)?)\s*$"
)

_OP_NORM = {"==": "=", "<>": "!="}


def _skip_tuples_from_predicate(predicate: str) -> list[SkipTuple]:
    """Extract conservative ``(col, op, literal)`` pruning hints from a SQL
    predicate.

    Only a top-level conjunction of simple comparisons is parsed; anything
    with OR / NOT / parentheses / functions yields no hints (correct — the
    pruner just keeps every file). Mirrors how the reference prunes only on
    its DNF tuple API (``rust/src/partitions.rs:55-98``) while the engine
    evaluates the full predicate row-level.
    """
    # any OR / NOT anywhere (word-boundary, any whitespace incl. newlines)
    # means the simple-conjunction assumption is wrong → no hints at all
    if "(" in predicate or re.search(r"(?i)\b(OR|NOT)\b", predicate):
        return []
    tuples: list[SkipTuple] = []
    for conjunct in re.split(r"(?i)\s+AND\s+", predicate):
        m = _SIMPLE_CMP.match(conjunct)
        if not m:
            continue
        col, op, lit = m.groups()
        op = _OP_NORM.get(op, op)
        value: Any
        if lit.startswith("'"):
            value = lit[1:-1].replace("''", "'")
        elif "." in lit:
            value = float(lit)
        else:
            value = int(lit)
        tuples.append((col, op, value))
    return tuples


def _split_pruning(
    table: DeltaTable, tuples: Sequence[SkipTuple]
) -> tuple[list[tuple], list[SkipTuple]]:
    """Partition-column conjuncts become partition filters (string-valued,
    = / != only — the reference's filter ops); the rest are stats hints.

    A conjunct is only pushed when its string spelling PROVABLY equals the
    stored partitionValues spelling: string literal on a string column, or
    integer literal on an integral column (decimal digits both sides).
    Float/date spellings vary ('1.0E-4' vs '0.0001') and SQL's implicit
    casts make cross-type matches value-based, not string-based — pushing
    those would silently prune files whose rows DO match, so they fall to
    the (typed, stats-based) skip path or plain row filtering instead."""
    import pyspark.sql.types as _T

    pcols = set(table.metadata().partition_columns)
    types = {f.name: f.dataType for f in table.schema().fields}
    _INTEGRAL = (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType)
    pfilters: list[tuple] = []
    skips: list[SkipTuple] = []
    for col, op, value in tuples:
        if col in pcols:
            if op not in ("=", "!="):
                continue
            dt = types.get(col)
            if isinstance(value, str) and isinstance(dt, _T.StringType):
                pfilters.append((col, op, value))
            elif (
                isinstance(value, int)
                and not isinstance(value, bool)
                and isinstance(dt, _INTEGRAL)
            ):
                pfilters.append((col, op, str(value)))
            # other spellings: not provable from the path — no pruning
        else:
            skips.append((col, op, value))
    return pfilters, skips


def _candidate_adds(table: DeltaTable, predicate: str) -> list[AddAction]:
    tuples = _skip_tuples_from_predicate(predicate)
    pfilters, skips = _split_pruning(table, tuples)
    return table.snapshot.files(
        partition_filters=pfilters or None, skip_predicates=skips or None
    )


def _predicate_reads(
    table: DeltaTable, predicate: str, candidates: list[AddAction]
) -> dict[str, Any]:
    """The read set a predicate-driven DML planned against, for commit-time
    conflict detection (``DeltaTransaction.record_reads``).

    The append-conflict domain is the partition bound: conjunction semantics
    mean ``p = '1' AND <anything>`` can only match rows in p=1, so parsed
    partition conjuncts bound the domain even when other conjuncts are
    unparseable. No partition bound (ORs, non-partition predicates) means a
    concurrent append ANYWHERE could match → whole-table read. Stats-based
    skipping does NOT shrink the domain — new files have unknown stats."""
    tuples = _skip_tuples_from_predicate(predicate)
    pfilters, _skips = _split_pruning(table, tuples)
    reads: dict[str, Any] = {"files": [a.path for a in candidates]}
    if pfilters:
        # conflict detection matches these against concurrent adds' raw
        # partitionValues, which are PHYSICALLY keyed on mapped tables
        from .protocol import column_mapping as _cmp

        if _cmp.is_mapped(table.metadata().configuration):
            phys = _cmp.top_level_physical(table.schema())
            pfilters = [(phys.get(c, c), op, v) for c, op, v in pfilters]
        reads["partition_filters"] = pfilters
    else:
        reads["whole_table"] = True
    return reads


# ---------------------------------------------------------------------------
# matched-file discovery
# ---------------------------------------------------------------------------

def _norm_file_uri(uri: str) -> str:
    p = urlparse(uri)
    return unquote(p.path) if p.scheme else uri


def _insert_select_exprs(
    schema, src_cols: set[str], fill_missing_nullable: bool = False, prefix: str = ""
) -> tuple[list, dict]:
    """MERGE INSERT projection: source columns (``prefix`` + name) cast to
    the table types; columns the source omits materialize their DEFAULT
    expression or, for identity columns, the system-assignment expression
    (the caller validated nothing else is missing). With
    ``fill_missing_nullable`` (schema-evolution merges) other omitted
    nullable columns read NULL. Returns (exprs, assigned identity specs) —
    the caller must advance the assigned columns' water marks in the same
    commit."""
    from .protocol import defaults as _dfl
    from .protocol import identity as _idc

    defs = _dfl.defaults(schema)
    ids = _idc.specs(schema)
    types = {f.name: f.dataType for f in schema.fields}
    nullable = {f.name: f.nullable for f in schema.fields}
    out = []
    assigned: dict = {}
    for c in schema.names:
        if c in src_cols:
            out.append(F.col(prefix + c).cast(types[c]).alias(c))
        elif c in ids:
            out.append(_idc.assign_expr(ids[c]).alias(c))
            assigned[c] = ids[c]
        elif c in defs:
            out.append(F.expr(defs[c]).cast(types[c]).alias(c))
        elif fill_missing_nullable and nullable[c]:
            out.append(F.lit(None).cast(types[c]).alias(c))
        else:  # pragma: no cover - caller validated
            raise DMLError(f"source lacks column required for INSERT: {c!r}")
    return out, assigned


def _add_matches_hit(snap, add: AddAction, hits: set[str]) -> bool:
    """Does a lineage-column value in ``hits`` identify this add?

    The lineage column is the scan path with ``<table_root>/`` stripped —
    the add's log-relative path for in-root files, a full ``file:`` URI for
    absolute-path adds (shallow clones); normalize both shapes."""
    if add.path in hits:
        return True
    abs_path = _norm_file_uri(snap._absolute(add.path))
    return any(_norm_file_uri(h) == abs_path for h in hits if "://" in h or h.startswith("/"))


def _files_with_matches(
    spark: SparkSession,
    table: DeltaTable,
    adds: list[AddAction],
    condition: Column,
) -> tuple[list[AddAction], int]:
    """(files containing ≥1 matching row, total matching rows). One filtered
    scan over the candidates; partial aggregation means the shuffle carries
    one row per file. File identity comes from the scan's lineage column
    (``_metadata``-derived — deterministic and join-safe, unlike
    ``input_file_name()`` which breaks in multi-source plans such as the
    deletion-vector anti join)."""
    snap = table._snapshot
    df = snap.df_for_adds(spark, adds, with_lineage=True)
    hits = (
        df.filter(condition)
        .groupBy(F.col(snap.FILE_LINEAGE_COL).alias("_file"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    hit_set = {r["_file"] for r in hits}
    n_rows = sum(r["_n"] for r in hits)
    matched = [a for a in adds if _add_matches_hit(snap, a, hit_set)]
    return matched, n_rows


def _identity_commit_extras(table, assigned: dict, adds: list):
    """(metaData action advancing the assigned identity columns' water
    marks from the staged adds' footer stats, commit guard) — or (None,
    None) when nothing advances. Staged files in a MERGE mix rewritten
    rows (old ids) with inserted rows (fresh ids), so only marks strictly
    past the current water mark are written."""
    from .protocol import column_mapping as cm
    from .protocol import identity as idc
    from .protocol.schema import schema_string_to_spark, spark_to_schema_string

    if not assigned:
        return None, None
    cfg = table.metadata().configuration
    name_map = cm.top_level_physical(table.schema()) if cm.is_mapped(cfg) else None
    marks = idc.advanced_water_marks(assigned, adds, name_map=name_map)
    marks = {
        n: v
        for n, v in marks.items()
        if assigned[n].high_water_mark is None
        or (
            v > assigned[n].high_water_mark
            if assigned[n].step > 0
            else v < assigned[n].high_water_mark
        )
    }
    # the water-mark metaData below is built from the CURRENT metadata; any
    # concurrent metadata change (another identity write, a property or
    # schema commit) would be silently reverted by replaying it — fail the
    # retry instead (identity values are baked into data files and cannot
    # be re-stamped)
    guard = idc.metadata_guard(table, "merge")

    if not marks:
        return None, guard
    import dataclasses as _dc

    meta = table.metadata()
    sch = idc.schema_with_water_marks(
        schema_string_to_spark(meta.schema_string), marks
    )
    new_meta = _dc.replace(
        meta,
        schema_string=spark_to_schema_string(sch),
        configuration=dict(meta.configuration or {}),
    )
    return new_meta, guard


def _stage_and_swap(
    spark: SparkSession,
    table: DeltaTable,
    new_rows: DataFrame,
    removed: list[AddAction],
    operation: str,
    params: dict[str, Any],
    extra_metrics: dict[str, Any],
    change_rows: Optional[DataFrame] = None,
    extra_actions: Optional[list] = None,
    max_records_per_file: Optional[int] = None,
    identity_assigned: Optional[dict] = None,
    reads: Optional[dict[str, Any]] = None,
    schema_override=None,
    n_rows: Optional[int] = None,
    n_change_rows: Optional[int] = None,
) -> dict[str, Any]:
    """Write ``new_rows`` through the staged-write path and commit
    Remove(removed) + Add(staged) (+ cdc change files, when given) as one
    version. ``schema_override`` is the POST-commit table schema when the
    same commit evolves it (MERGE schema evolution) — the physical rename
    for column-mapped tables must use the evolved mapping or the evolved
    columns' data would be written under unmapped names and read back
    NULL. ``n_rows`` / ``n_change_rows``, when the caller knows them, size
    the data and change files (``writer.stage_rows``)."""
    log = table.log
    schema = schema_override if schema_override is not None else table.schema()
    cfg = table.metadata().configuration
    # CHECK constraints apply to the rewritten content (UPDATE/MERGE can
    # introduce violations; DELETE survivors pass trivially)
    check_constraints(new_rows, cfg, schema=schema)
    adds = stage_rows(
        spark, log, new_rows, schema, cfg, table.metadata().partition_columns,
        n_rows=n_rows, max_records_per_file=max_records_per_file,
    )

    cdc_actions: list = []
    if change_rows is not None:
        from .cdf import write_change_files

        cdc_actions = write_change_files(
            spark, log, change_rows, table_schema=schema,
            configuration=cfg, n_rows=n_change_rows,
        )

    now_ms = int(time.time() * 1000)
    txn = DeltaTransaction(table)
    if reads:
        txn.record_reads(**reads)
    id_meta, id_guard = _identity_commit_extras(table, identity_assigned or {}, adds)
    if id_meta is not None:
        txn.add_action(id_meta)
    if id_guard is not None:
        txn.add_commit_guard(id_guard)
    txn.add_actions(cdc_actions)
    txn.add_actions(list(extra_actions or []))
    for old in removed:
        txn.add_action(
            RemoveAction(
                path=old.path,
                deletion_timestamp=now_ms,
                data_change=True,
                extended_file_metadata=True,
                partition_values=old.partition_values,
                size=old.size,
                deletion_vector=old.deletion_vector,
                base_row_id=old.base_row_id,
                default_row_commit_version=old.default_row_commit_version,
            )
        )
    txn.add_actions(list(adds))
    metrics = {
        "numRemovedFiles": str(len(removed)),
        "numAddedFiles": str(len(adds)),
        "numOutputBytes": str(sum(a.size for a in adds)),
        **{k: str(v) for k, v in extra_metrics.items()},
    }
    version = txn.commit(
        operation=operation, operation_parameters=params, operation_metrics=metrics
    )
    table.update()
    return {"version": version, **{k: int(v) if str(v).isdigit() else v for k, v in metrics.items()}}


# ---------------------------------------------------------------------------
# DELETE
# ---------------------------------------------------------------------------

def _delete_all(table: DeltaTable) -> dict[str, Any]:
    """Tombstone every active file in one metadata-only commit."""
    adds = table.add_actions()
    return _tombstone_files(
        table,
        adds,
        "true",
        reads={"files": [a.path for a in adds], "whole_table": True},
    )


def _tombstone_files(
    table: DeltaTable, adds: list[AddAction], predicate: str,
    reads: Optional[dict[str, Any]] = None,
) -> dict[str, Any]:
    """Metadata-only delete of whole files: one commit of tombstones, zero
    data read or written. Row counts come from per-file stats when every
    file has them."""
    import time as _time

    from .transactions import DeltaTransaction

    now_ms = int(_time.time() * 1000)
    txn = DeltaTransaction(table)
    if reads:
        txn.record_reads(**reads)
    n_rows = 0
    rows_known = True
    for a in adds:
        n = a.logical_records
        if n is None:
            rows_known = False
        else:
            n_rows += n
        txn.add_action(
            RemoveAction(
                path=a.path,
                deletion_timestamp=now_ms,
                data_change=True,
                extended_file_metadata=True,
                partition_values=a.partition_values,
                size=a.size,
                deletion_vector=a.deletion_vector,
                base_row_id=a.base_row_id,
                default_row_commit_version=a.default_row_commit_version,
            )
        )
    metrics = {"numRemovedFiles": len(adds)}
    if rows_known:
        metrics["numDeletedRows"] = n_rows
    version = txn.commit(
        operation="DELETE",
        operation_parameters={"predicate": predicate},
        operation_metrics={k: str(v) for k, v in metrics.items()},
    )
    table.update()
    return {"version": version, "numAddedFiles": 0, **metrics}


def _partition_exact_files(
    table: DeltaTable, predicate: str
) -> Optional[list[AddAction]]:
    """The files a DELETE can tombstone WITHOUT scanning: when the predicate
    is a pure conjunction of ``partition_col = literal`` terms, every row of
    every file in the matching partitions matches by construction. Returns
    None when the predicate is anything else (ORs, non-partition columns,
    ranges, floats — those take the row-level path)."""
    if "(" in predicate or re.search(r"(?i)\b(OR|NOT)\b", predicate):
        return None
    pcols = set(table.metadata().partition_columns)
    if not pcols:
        return None
    types = {f.name: f.dataType for f in table.schema().fields}
    _INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    filters: list[tuple] = []
    for conjunct in re.split(r"(?i)\s+AND\s+", predicate):
        m = _SIMPLE_CMP.match(conjunct.strip())
        if not m:
            return None
        col, op, lit = m.groups()
        if _OP_NORM.get(op, op) != "=" or col not in pcols:
            return None
        # literal/column type must agree, or SQL's implicit casts make the
        # match value-based while the path compare is string-based
        # (p='05' matches the predicate p = 5 but not the string '5')
        dt = types.get(col)
        if lit.startswith("'") and isinstance(dt, T.StringType):
            value = lit[1:-1].replace("''", "'")
        elif re.fullmatch(r"-?\d+", lit) and isinstance(dt, _INTEGRAL):
            value = lit  # integer partition values serialize verbatim
        else:
            return None  # float/cross-type spellings: not provable
        filters.append((col, "=", value))
    return table.snapshot.files(partition_filters=filters)


def dv_enabled(table: DeltaTable) -> bool:
    from .protocol import dv

    return dv.enabled(table.metadata().configuration)


# Above this many matched positions a merge-on-read DML falls back to
# copy-on-write: the whole point of a DV is that positions are tiny next to
# the data files; a delete touching tens of millions of rows rewrites less
# total I/O as a plain rewrite than it would spend shipping + forever
# re-applying a giant bitmap (10M positions ~ 80MB driver-side).
DV_MAX_POSITIONS = 10_000_000


def _delete_merge_on_read(
    spark: SparkSession, table: DeltaTable, predicate: str, cond: Column,
    candidates: list[AddAction], reads: Optional[dict[str, Any]] = None,
) -> dict[str, Any]:
    """``DELETE`` without rewriting data files: record the matching rows'
    (file, row_index) positions as a deletion vector and re-commit the same
    files with DV descriptors.

    The 100 TB shape this exists for: a compliance delete of a few thousand
    rows scattered over TB-sized files. Copy-on-write rewrites every touched
    file; merge-on-read writes kilobytes of positions (one aggregate over a
    filtered scan of the *pruned* candidates) and a metadata commit.
    Readers drop the positions inside their scan; OPTIMIZE later
    materializes the deletes and drops the vectors.
    """
    from .cdf import write_change_files

    snap = table._snapshot
    log = table.log
    FILE, POS = snap.FILE_LINEAGE_COL, snap.POS_LINEAGE_COL

    df = snap.df_for_adds(spark, candidates, with_lineage=True)
    rows = _positions_by_file(
        df.filter(cond).select(F.col(FILE).alias("path"), F.col(POS).alias("row_index"))
    )
    if rows is None:
        return None  # bulk delete: caller falls back to copy-on-write
    actions, per_file, n_tomb = _dv_swap_actions(log, candidates, rows)
    n_deleted = sum(per_file.values())
    if not per_file:
        return {
            "version": table.version,
            "numRemovedFiles": 0,
            "numAddedFiles": 0,
            "numDeletedRows": 0,
            "numDeletionVectorsAdded": 0,
        }

    if cdf_enabled(table):
        change_rows = df.filter(cond).select(*table.schema().names).withColumn(
            CHANGE_TYPE_COL, F.lit("delete")
        )
        actions = (
            write_change_files(
                spark, log, change_rows,
                table_schema=table.schema(),
                configuration=table.metadata().configuration,
                n_rows=n_deleted,
            )
            + actions
        )

    metrics = {
        "numRemovedFiles": str(n_tomb),
        "numAddedFiles": "0",
        "numDeletedRows": str(n_deleted),
        "numDeletionVectorsAdded": str(len(per_file) - n_tomb),
    }
    version = _commit_dv_txn(
        table, actions, "DELETE", {"predicate": predicate}, metrics, reads=reads
    )
    return {"version": version, **{k: int(v) for k, v in metrics.items()}}


def _positions_by_file(keys: DataFrame) -> Optional[list]:
    """One aggregate over ``keys`` (``path`` = lineage file, ``row_index``,
    and optionally a boolean ``matched``): per file, the row count ``n``,
    the positions, and — with ``matched`` — ``n_matched``, the rows that
    flag counts. Returns the per-file rows, or None when the positions
    exceed ``DV_MAX_POSITIONS`` (the caller falls back to copy-on-write).
    The table-wide total is taken in the same query, over the per-file
    rows, so past the cap no positions reach the driver."""
    per_file = keys.groupBy("path").agg(
        F.count(F.lit(1)).alias("n"),
        F.collect_list("row_index").alias("positions"),
        *(
            [F.sum(F.col("matched").cast("long")).alias("n_matched")]
            if "matched" in keys.columns
            else []
        ),
    )
    # rows without a file (a merge's inserts) carry no positions; one
    # partition of per-file rows needs no second shuffle (and so no job)
    # for the total
    total = F.sum(F.when(F.col("path").isNotNull(), F.col("n")))
    out = per_file.coalesce(1).agg(
        F.when(
            F.coalesce(total, F.lit(0)) <= DV_MAX_POSITIONS,
            F.collect_list(F.struct(*per_file.columns)),
        ).alias("files")
    )
    return out.collect()[0]["files"]


def _dv_swap_actions(log, candidates: list[AddAction], per_file_rows: list) -> tuple[list, dict, int]:
    """Turn per-file positions (rows of ``_positions_by_file``) into
    spec-format RoaringBitmap deletion vectors and build the log actions
    that swap the touched adds: Remove(old) + re-Add with the merged DV
    descriptor, or a plain tombstone when every physical row of the file is
    now dead.

    Position sets come to the driver grouped per file — the same bounded
    materialization every Delta implementation performs when writing DVs;
    deletes too bulky for that are exactly the ones copy-on-write serves
    better (``DV_MAX_POSITIONS`` guards the cap and the caller falls back).
    Prior DVs (spec or pre-round-3 parquet-dir format) are decoded and
    unioned, so repeated deletes merge into one bitmap per file instead of
    chaining artifacts.

    Returns (actions, per_file match counts, tombstoned-file count)."""
    import dataclasses

    from .protocol.dv import add_positions, build_descriptors, file_reader

    if not per_file_rows:
        return [], {}, 0

    # every lineage-derived key MUST resolve to a candidate add — a silent
    # zero-match here would commit numDeletedRows>0 with no swap actions
    by_path = {a.path: a for a in candidates}
    by_norm = {_norm_file_uri(a.path): a for a in candidates}
    matched_adds: dict[str, int] = {}
    new_positions: dict[str, set[int]] = {}
    for r in per_file_rows:
        key = r["path"]
        add = by_path.get(key) or by_norm.get(_norm_file_uri(key))
        if add is None:
            raise DMLError(
                f"deletion-vector position key {key!r} matches no candidate "
                f"add (candidates: {sorted(by_path)[:3]}...)"
            )
        matched_adds[add.path] = matched_adds.get(add.path, 0) + len(r["positions"])
        new_positions.setdefault(add.path, set()).update(r["positions"])

    now_ms = int(time.time() * 1000)
    actions: list = []
    n_tombstoned = 0
    merged: dict[str, list[int]] = {}
    swap_adds: list[AddAction] = []
    # the scan that found the positions memoized each candidate's DV; the
    # rest share one read per DV file
    read = file_reader(log)
    for old in (a for a in candidates if a.path in matched_adds):
        combined = set(new_positions[old.path])
        if old.deletion_vector:
            combined.update(add_positions(log, old, read))
        actions.append(
            RemoveAction(
                path=old.path,
                deletion_timestamp=now_ms,
                data_change=True,
                extended_file_metadata=True,
                partition_values=old.partition_values,
                size=old.size,
                deletion_vector=old.deletion_vector,
                base_row_id=old.base_row_id,
                default_row_commit_version=old.default_row_commit_version,
            )
        )
        if old.num_records is not None and len(combined) >= old.num_records:
            n_tombstoned += 1  # every live row gone — no DV re-add needed
            continue
        merged[old.path] = sorted(combined)
        swap_adds.append(old)

    descriptors, file_out = build_descriptors(merged)
    if file_out is not None:
        rel_name, body = file_out
        log.data_plane.publish_bytes(body, rel_name)
    for old in swap_adds:
        actions.append(
            dataclasses.replace(
                old,
                deletion_vector=descriptors[old.path],
                modification_time=now_ms,
                data_change=True,
            )
        )
    return actions, matched_adds, n_tombstoned


def _commit_dv_txn(
    table: DeltaTable, actions: list, operation: str, params: dict, metrics: dict,
    guard=None, reads: Optional[dict[str, Any]] = None,
) -> int:
    """One DV commit: the swap actions, plus a protocol bump to reader 3 /
    writer 7 on tables that lack the feature (deletion vectors are
    reader-visible — foreign readers must fail fast). Tables created with
    DVs, or that enabled them through ``set_properties``, already carry it,
    so their DV commits change no protocol and abort no concurrent writer;
    only tables whose property was set by older builds bump here."""
    txn = DeltaTransaction(table)
    if reads:
        txn.record_reads(**reads)
    if guard is not None:
        txn.add_commit_guard(guard)
    if any(isinstance(a, AddAction) and a.deletion_vector for a in actions):
        from .protocol.actions import upgraded_protocol

        # readerFeatures/writerFeatures are mandatory at 3/7 per the public
        # Delta spec. The bump fires at most once per table, and every
        # descriptor this engine writes is the spec RoaringBitmap
        # format (protocol/dv.py) — so the spec's own feature token is
        # correct and the table is foreign-readable. (Tables bumped by
        # pre-round-3 builds carry the vendor token for their parquet-dir
        # descriptors and never re-bump; see actions.DV_FEATURE_NAME.)
        # ``upgraded_protocol`` PRESERVES features the table already
        # advertises (columnMapping, inCommitTimestamp, …) — protocol
        # replays replace wholesale, so a bare bump would drop them.
        bump = upgraded_protocol(
            table.snapshot.state,
            3,
            7,
            reader_features=["deletionVectors"],
            writer_features=["deletionVectors"],
        )
        if bump is not None:
            txn.add_action(bump)
    txn.add_actions(actions)
    version = txn.commit(
        operation=operation, operation_parameters=params, operation_metrics=metrics
    )
    table.update()
    return version


def _mor_eligible(table: DeltaTable, candidates: list[AddAction]) -> bool:
    """Merge-on-read needs row lineage: the scan-side file identity is
    recovered by stripping the scan root from ``_metadata.file_path``, which
    only matches adds stored with log-relative paths (shallow-clone adds are
    absolute → fall back to copy-on-write). Any storage backend qualifies —
    DV position files flow through the table's DataPlane (native Spark I/O
    or backend-mirrored, see ``protocol/dataio.py``)."""
    return all(
        "://" not in a.path and not a.path.startswith("/") for a in candidates
    )


def _dir_bytes(path: str) -> int:
    import os

    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def delete(
    spark: SparkSession, table: DeltaTable, predicate: Optional[str] = None
) -> dict[str, Any]:
    """``DELETE FROM table [WHERE predicate]``.

    Rows where the predicate is TRUE are deleted; FALSE/NULL rows survive
    (SQL DELETE semantics). With table property
    ``delta.enableDeletionVectors=true`` (the default for new tables) and
    adds with log-relative paths, the delete is merge-on-read — see
    ``_delete_merge_on_read``. Otherwise it is copy-on-write: only files
    containing at least one matching row are rewritten; commit is
    Remove+Add in one version, operation "DELETE".

    No predicate = delete EVERYTHING: the Delta fast path — every active
    file gets a tombstone in one metadata-only commit, zero data read or
    written (time travel still sees the rows; vacuum reaps the files after
    retention). CDF readers see the deletes through the change-feed's
    remove synthesis.
    """
    if predicate is None:
        return _delete_all(table)
    # partition-exact predicate (DELETE WHERE day = '2024-01-01'): every row
    # of the matching partitions' files matches — tombstone them with no
    # scan. Safe with CDF on: a tombstone-only commit carries no cdc
    # actions, so the change feed synthesizes the deletes from the removes
    # (same contract _delete_all relies on, oracle-pinned in tests).
    full = _partition_exact_files(table, predicate)
    if full is not None:
        if not full:
            return {
                "version": table.version,
                "numRemovedFiles": 0,
                "numAddedFiles": 0,
                "numDeletedRows": 0,
                "numCopiedRows": 0,
            }
        return _tombstone_files(
            table, full, predicate, reads=_predicate_reads(table, predicate, full)
        )
    cond = F.coalesce(F.expr(predicate), F.lit(False))
    candidates = _candidate_adds(table, predicate)
    reads = _predicate_reads(table, predicate, candidates)
    if dv_enabled(table) and _mor_eligible(table, candidates):
        res = _delete_merge_on_read(
            spark, table, predicate, cond, candidates, reads=reads
        )
        if res is not None:
            return res
        # positions exceeded DV_MAX_POSITIONS — a delete that bulky rewrites
        # fewer bytes as plain copy-on-write, so fall through
    matched, n_deleted = _files_with_matches(spark, table, candidates, cond)
    params = {"predicate": predicate}
    if not matched:
        return {
            "version": table.version,
            "numRemovedFiles": 0,
            "numAddedFiles": 0,
            "numDeletedRows": 0,
            "numCopiedRows": 0,
        }

    from .protocol import row_tracking as rt

    cfg = table.metadata().configuration
    rt_on = rt.enabled(cfg)
    snap = table._snapshot
    df = snap.df_for_adds(spark, matched, with_row_ids=rt_on)
    keep = df.filter(~cond)
    if rt_on:
        # survivors keep their row ids: written as materialized columns the
        # reader coalesces ahead of baseRowId + row_index
        mat_id, mat_cv = rt.materialized_names(cfg)
        keep = keep.withColumnRenamed(rt.ROW_ID_COL, mat_id).withColumnRenamed(
            rt.ROW_CV_COL, mat_cv
        )
    # logical (DV-net) counts: files re-routed here with DVs attached
    # (e.g. absolute-path clones) must not inflate metrics by dead rows
    total_in_matched = sum(a.logical_records or 0 for a in matched)
    n_copied = total_in_matched - n_deleted if all(
        a.logical_records is not None for a in matched
    ) else None

    change_rows = None
    if cdf_enabled(table):
        change_rows = (
            df.filter(cond)
            .select(*table.schema().names)
            .withColumn(CHANGE_TYPE_COL, F.lit("delete"))
        )

    return _stage_and_swap(
        spark,
        table,
        keep,
        matched,
        "DELETE",
        params,
        {"numDeletedRows": n_deleted, "numCopiedRows": n_copied if n_copied is not None else ""},
        change_rows=change_rows,
        reads=reads,
        n_rows=n_copied,
        n_change_rows=n_deleted,
    )


# ---------------------------------------------------------------------------
# UPDATE
# ---------------------------------------------------------------------------

def _update_merge_on_read(
    spark: SparkSession,
    table: DeltaTable,
    predicate: str,
    assignments: dict[str, str],
    cond: Column,
    candidates: list[AddAction],
    reads: Optional[dict[str, Any]] = None,
) -> dict[str, Any]:
    """``UPDATE`` without rewriting unmatched rows: DV the matched rows'
    positions in their existing files and write ONLY the updated rows as new
    files — one commit of Remove + DV re-Add + Add.

    The scale shape: updating 1k rows scattered across TB-sized files
    copy-on-writes the full files; merge-on-read writes 1k rows plus
    kilobytes of positions. Readers see the same atomic swap."""
    from .cdf import write_change_files
    from .protocol import row_tracking as _rtu

    snap = table._snapshot
    log = table.log
    schema = table.schema()
    cfg = table.metadata().configuration or {}
    rt_on = _rtu.enabled(cfg)
    FILE, POS = snap.FILE_LINEAGE_COL, snap.POS_LINEAGE_COL

    df = snap.df_for_adds(
        spark, candidates, with_lineage=True, with_row_ids=rt_on
    )
    # cached: the matched rows feed the positions aggregate, the staged
    # write of their updated versions and the change files
    matched_df = df.filter(cond).cache()
    try:
        rows = _positions_by_file(
            matched_df.select(F.col(FILE).alias("path"), F.col(POS).alias("row_index"))
        )
        if rows is None:
            return None  # bulk update: caller falls back to copy-on-write
        from .protocol import generated as _gen

        types = {f.name: f.dataType for f in schema.fields}
        upd_cols = [
            F.expr(assignments[c]).cast(types[c]).alias(c)
            if c in assignments
            else F.col(c)
            for c in schema.names
        ]
        if rt_on:
            # an UPDATE changes values, not identity: carry the row ids as
            # materialized columns (same contract as the copy-on-write path)
            mat_id, mat_cv = _rtu.materialized_names(cfg)
            upd_cols += [
                F.col(_rtu.ROW_ID_COL).alias(mat_id),
                F.col(_rtu.ROW_CV_COL).alias(mat_cv),
            ]
        updated_rows = matched_df.select(*upd_cols)
        updated_rows = _gen.recompute(updated_rows, schema)

        actions, per_file, n_tomb = _dv_swap_actions(log, candidates, rows)
        n_updated = sum(per_file.values())
        if not per_file:
            return {
                "version": table.version,
                "numRemovedFiles": 0,
                "numAddedFiles": 0,
                "numUpdatedRows": 0,
            }

        check_constraints(updated_rows, cfg, schema=schema)
        new_adds = stage_rows(
            spark, log, updated_rows, schema, cfg,
            table.metadata().partition_columns, n_rows=n_updated,
        )

        if cdf_enabled(table):
            pre = matched_df.select(*schema.names).withColumn(
                CHANGE_TYPE_COL, F.lit("update_preimage")
            )
            post = updated_rows.select(*schema.names).withColumn(
                CHANGE_TYPE_COL, F.lit("update_postimage")
            )
            actions = (
                write_change_files(
                    spark, log, pre.unionByName(post),
                    table_schema=schema, configuration=cfg, n_rows=2 * n_updated,
                )
                + actions
            )

        actions.extend(list(new_adds))
        metrics = {
            "numRemovedFiles": str(n_tomb),
            "numAddedFiles": str(len(new_adds)),
            "numUpdatedRows": str(n_updated),
            "numDeletionVectorsAdded": str(len(per_file) - n_tomb),
        }
        version = _commit_dv_txn(
            table, actions, "UPDATE", {"predicate": predicate}, metrics, reads=reads
        )
        return {"version": version, **{k: int(v) for k, v in metrics.items()}}
    finally:
        matched_df.unpersist()


def update(
    spark: SparkSession,
    table: DeltaTable,
    predicate: str,
    assignments: dict[str, str],
) -> dict[str, Any]:
    """``UPDATE table SET col = expr, ... WHERE predicate``.

    ``assignments`` maps column name → SQL expression evaluated against the
    *pre-update* row (standard SQL UPDATE semantics: all right-hand sides see
    the old values). Results are cast back to the column's declared type so
    the table schema is invariant (v0 has no schema evolution). With
    ``delta.enableDeletionVectors=true`` (the default for new tables) the
    update is merge-on-read — see ``_update_merge_on_read``; otherwise it
    is copy-on-write (only files containing matches are rewritten).
    """
    schema = table.schema()
    bad = set(assignments) - set(schema.names)
    if bad:
        raise DMLError(f"UPDATE assigns unknown columns: {sorted(bad)}")
    from .protocol import generated as _gen
    from .protocol import identity as _idc

    _gen.reject_assignments(assignments, schema)
    _idc.reject_assignments(assignments, schema)

    cond = F.coalesce(F.expr(predicate), F.lit(False))
    candidates = _candidate_adds(table, predicate)
    reads = _predicate_reads(table, predicate, candidates)
    if dv_enabled(table) and _mor_eligible(table, candidates):
        res = _update_merge_on_read(
            spark, table, predicate, assignments, cond, candidates, reads=reads
        )
        if res is not None:
            return res
        # bulk update past DV_MAX_POSITIONS: copy-on-write wins below
    matched, n_updated = _files_with_matches(spark, table, candidates, cond)
    if not matched:
        return {
            "version": table.version,
            "numRemovedFiles": 0,
            "numAddedFiles": 0,
            "numUpdatedRows": 0,
        }

    from .protocol import row_tracking as rt

    cfg = table.metadata().configuration
    rt_on = rt.enabled(cfg)
    snap = table._snapshot
    df = snap.df_for_adds(spark, matched, with_row_ids=rt_on)
    types = {f.name: f.dataType for f in schema.fields}
    assigned = [
        F.expr(assignments[c]).cast(types[c]).alias(c) if c in assignments else F.col(c)
        for c in schema.names
    ]
    out_cols = list(schema.names)
    if rt_on:
        # an UPDATE changes values, not identity: rewritten rows keep their
        # ids via the materialized columns
        mat_id, mat_cv = rt.materialized_names(cfg)
        df = df.withColumnRenamed(rt.ROW_ID_COL, mat_id).withColumnRenamed(
            rt.ROW_CV_COL, mat_cv
        )
        out_cols += [mat_id, mat_cv]
    projected = df.select(
        *[
            (
                F.when(cond, F.expr(assignments[c]).cast(types[c]))
                .otherwise(F.col(c))
                .alias(c)
                if c in assignments
                else F.col(c)
            )
            for c in out_cols
        ]
    )

    projected = _gen.recompute(projected, schema)

    change_rows = None
    if cdf_enabled(table):
        pre = (
            df.filter(cond)
            .select(*schema.names)
            .withColumn(CHANGE_TYPE_COL, F.lit("update_preimage"))
        )
        post = (
            df.filter(cond)
            .select(*assigned)
            .withColumn(CHANGE_TYPE_COL, F.lit("update_postimage"))
        )
        change_rows = pre.unionByName(post)

    # every row of the matched files is rewritten (DV-net counts)
    totals = [a.logical_records for a in matched]
    return _stage_and_swap(
        spark,
        table,
        projected,
        matched,
        "UPDATE",
        {"predicate": predicate},
        {"numUpdatedRows": n_updated},
        change_rows=change_rows,
        reads=reads,
        n_rows=sum(totals) if None not in totals else None,
        n_change_rows=2 * n_updated,
    )


# ---------------------------------------------------------------------------
# MERGE (upsert)
# ---------------------------------------------------------------------------

def _merge_merge_on_read(
    spark: SparkSession,
    table: DeltaTable,
    t: DataFrame,
    s: DataFrame,
    condition: str,
    all_adds: list[AddAction],
    when_matched_update: Optional[dict[str, str]],
    when_matched_delete: bool,
    when_not_matched_insert: bool,
    when_not_matched_by_source_delete: bool,
    extra_actions: Optional[list],
    reads: Optional[dict[str, Any]] = None,
) -> Optional[dict[str, Any]]:
    """MERGE without rewriting unmatched target rows: matched (and, for
    full-sync, source-unmatched) positions get DV'd in place; only the
    updated versions and the inserts are written as new files.

    This turns MERGE cost from O(bytes in touched files) into O(bytes in
    changed rows) — the difference between an hourly 1M-row upsert
    rewriting a 100 TB table's hot files and appending megabytes.

    The source ⟕ target join runs once and its source-sized result is
    cached, already projected to what the statement writes: per row the
    matched target row's position and, for matched rows the updated
    values, for unmatched source rows the inserted ones (the projection
    lets Catalyst read and broadcast only the target columns it uses). One
    aggregate over it gives the positions per file, the per-file match
    counts, the multi-match check and the insert count; the one staged
    write reads it again. Returns None when the positions exceed
    ``DV_MAX_POSITIONS`` (the caller rewrites instead)."""
    from .cdf import write_change_files
    from .protocol import generated as _gen
    from .protocol import row_tracking as _rtg

    log = table.log
    schema = table.schema()
    cfg_m = table.metadata().configuration or {}
    rt_on = _rtg.enabled(cfg_m)
    types = {f.name: f.dataType for f in schema.fields}
    on = F.expr(condition)
    track = cdf_enabled(table)
    change_parts: list[DataFrame] = []

    joined = s.join(t, on, "left" if when_not_matched_insert else "inner")
    is_match = F.col("t.__file").isNotNull()
    # the default update copies every column from the source; one the
    # source lacks is an error only if some row matches
    unassigned = [] if when_matched_update else sorted(set(schema.names) - set(s.columns))
    if when_matched_delete:
        values = {}
    else:
        assignments = when_matched_update or {
            c: f"s.{c}" for c in schema.names if c not in unassigned
        }
        bad = set(assignments) - set(schema.names)
        if bad:
            raise DMLError(f"MERGE updates unknown columns: {sorted(bad)}")
        values = {
            c: F.expr(assignments[c]).cast(types[c]) if c in assignments else F.col(f"t.{c}")
            for c in schema.names
        }
    id_assigned: dict = {}
    if when_not_matched_insert:
        ins_exprs, id_assigned = _insert_select_exprs(schema, set(s.columns), prefix="s.")
        for c, e in zip(schema.names, ins_exprs):
            values[c] = F.when(is_match, values[c]).otherwise(e) if c in values else e
    mat_cols: list[str] = []
    if rt_on and not when_matched_delete:
        # updated rows keep their identity (materialized ids); inserted
        # rows read NULL there and take the new file's baseRowId
        mat_cols = list(_rtg.materialized_names(cfg_m))
        values[mat_cols[0]] = F.when(is_match, F.col(f"t.{_rtg.ROW_ID_COL}"))
        values[mat_cols[1]] = F.when(is_match, F.col(f"t.{_rtg.ROW_CV_COL}"))
    pre_cols = [F.col(f"t.{c}").alias(f"__pre_{c}") for c in schema.names] if track else []
    # underscored names: a table column may be called "path"
    staged = joined.select(
        F.col("t.__file").alias("__path"),
        F.col("t.__tid").alias("__pos"),
        is_match.alias("__matched"),
        *[v.alias(c) for c, v in values.items()],
        *pre_cols,
    ).cache()
    try:
        # positions to kill: every matched target row (it is replaced or
        # deleted), plus — under full-sync — every target row no source
        # matches; source rows with no match group under a NULL path
        keys = staged.select(
            F.col("__path").alias("path"),
            F.col("__pos").alias("row_index"),
            F.col("__matched").alias("matched"),
        )
        if when_not_matched_by_source_delete:
            unmatched_t = t.join(s, on, "left_anti")
            keys = keys.unionByName(
                unmatched_t.select(
                    F.col("__file").alias("path"),
                    F.col("__tid").alias("row_index"),
                    F.lit(False).alias("matched"),
                )
            )
            if track:
                change_parts.append(
                    unmatched_t.select(*schema.names).withColumn(
                        CHANGE_TYPE_COL, F.lit("delete")
                    )
                )
        rows = _positions_by_file(keys)
        if rows is None:
            return None
        n_inserted = sum(r["n"] for r in rows if r["path"] is None)
        rows = [r for r in rows if r["path"] is not None]
        # matched and unmatched positions are disjoint, so a repeat within a
        # file is a target row matched by two source rows
        if any(len(set(r["positions"])) < r["n"] for r in rows):
            raise DMLError(
                "MERGE: a target row matches multiple source rows; "
                "result would be non-deterministic"
            )
        n_matched = sum(r["n_matched"] for r in rows)
        if n_matched and unassigned and not when_matched_delete:
            raise DMLError(f"source lacks columns required for UPDATE: {unassigned}")
        if not rows and not n_inserted:
            return {
                "version": table.version,
                "numRemovedFiles": 0,
                "numAddedFiles": 0,
                "numTargetRowsUpdated": 0,
                "numTargetRowsDeleted": 0,
                "numTargetRowsInserted": 0,
            }
        actions, per_file, n_tomb = _dv_swap_actions(log, all_adds, rows)
        n_deleted = sum(per_file.values()) - n_matched
        n_updated = 0 if when_matched_delete else n_matched
        if when_matched_delete:
            n_deleted += n_matched

        new_adds: list = []
        if n_updated or n_inserted:
            written = ~F.col("__matched") if when_matched_delete else F.lit(True)
            new_rows = _gen.recompute(
                staged.filter(written).select("__matched", *schema.names, *mat_cols), schema
            )
            new_rows_out = new_rows.drop("__matched")
            check_constraints(new_rows_out, cfg_m, schema=schema)
            new_adds = stage_rows(
                spark, log, new_rows_out, schema, cfg_m,
                table.metadata().partition_columns, n_rows=n_updated + n_inserted,
            )

        if track:
            if n_matched:
                kind = "delete" if when_matched_delete else "update_preimage"
                pre = staged.filter("__matched").select(
                    *[F.col(f"__pre_{c}").alias(c) for c in schema.names]
                )
                change_parts.append(pre.withColumn(CHANGE_TYPE_COL, F.lit(kind)))
            if n_updated:
                post = new_rows.filter("__matched").select(*schema.names)
                change_parts.append(
                    post.withColumn(CHANGE_TYPE_COL, F.lit("update_postimage"))
                )
            if n_inserted:
                inserted = new_rows.filter(~F.col("__matched")).select(*schema.names)
                change_parts.append(inserted.withColumn(CHANGE_TYPE_COL, F.lit("insert")))

        if track and change_parts:
            change_rows = change_parts[0]
            for p in change_parts[1:]:
                change_rows = change_rows.unionByName(p)
            actions = (
                write_change_files(
                    spark, log, change_rows,
                    table_schema=schema, configuration=cfg_m,
                    # every killed position, plus post-images and inserts
                    n_rows=sum(per_file.values()) + n_updated + n_inserted,
                )
                + actions
            )

        actions.extend(list(new_adds))
        actions.extend(list(extra_actions or []))
        metrics = {
            "numRemovedFiles": str(n_tomb),
            "numAddedFiles": str(len(new_adds)),
            "numTargetRowsUpdated": str(n_updated),
            "numTargetRowsDeleted": str(n_deleted),
            "numTargetRowsInserted": str(n_inserted),
            "numDeletionVectorsAdded": str(len(per_file) - n_tomb),
        }
        id_meta, id_guard = _identity_commit_extras(
            table, id_assigned if n_inserted else {}, new_adds
        )
        if id_meta is not None:
            actions = [id_meta] + actions
        version = _commit_dv_txn(
            table, actions, "MERGE", {"predicate": condition}, metrics,
            guard=id_guard, reads=reads,
        )
        return {"version": version, **{k: int(v) for k, v in metrics.items()}}
    finally:
        staged.unpersist()


def merge(
    spark: SparkSession,
    table: DeltaTable,
    source: DataFrame,
    condition: str,
    when_matched_update: Optional[dict[str, str]] = None,
    when_matched_delete: bool = False,
    when_not_matched_insert: bool = True,
    when_not_matched_by_source_delete: bool = False,
    extra_actions: Optional[list] = None,
    schema_evolution: bool = False,
) -> dict[str, Any]:
    """``MERGE INTO target t USING source s ON condition``. With
    ``delta.enableDeletionVectors=true`` (the default for new tables) it is
    merge-on-read — matched rows are marked in deletion vectors and only
    updated and inserted rows are written (``_merge_merge_on_read``);
    otherwise, or for schema-evolving merges, copy-on-write rewrites the
    files holding matches.

    - ``condition`` references ``t.<col>`` / ``s.<col>`` (e.g.
      ``"t.doc_id = s.doc_id"``).
    - ``when_matched_update``: column → SQL expr over ``t.*``/``s.*``
      (default: replace every target column with the same-named source
      column). ``when_matched_delete=True`` drops matched rows instead.
    - ``when_not_matched_insert``: append source rows that match no target
      row (columns aligned by name; source must carry the full schema).
    - ``when_not_matched_by_source_delete``: drop target rows no source row
      matches — with the insert+update defaults this makes the target an
      exact mirror of the source (full-sync). Every active file may hold
      unmatched rows, so under copy-on-write this clause rewrites the whole
      table; use it for sync jobs, not incremental upserts.

    Each target row may match at most one source row — multiple matches make
    the result non-deterministic, so they raise (Delta protocol semantics).
    Copy-on-write rewrites only target files containing matched rows (all
    files when ``when_not_matched_by_source_delete`` is set).

    ``schema_evolution=True`` (Delta's ``withSchemaEvolution()``): source
    columns absent from the target append to the table schema as nullable
    fields in the same commit; existing target rows read them as NULL, and
    inserts may omit nullable target columns (filled with NULL). Update
    assignments may reference the new columns.
    """
    if when_matched_update and when_matched_delete:
        raise DMLError("choose either when_matched_update or when_matched_delete")

    schema = table.schema()
    snap = table._snapshot
    all_adds = snap.files()
    evolved_fields: list = []
    if schema_evolution:
        evolved_fields = [
            T.StructField(f.name, f.dataType, nullable=True)
            for f in source.schema.fields
            if f.name not in schema.names
        ]
        if evolved_fields:
            schema = T.StructType(list(schema.fields) + evolved_fields)
    from .protocol import row_tracking as _rtm0

    _rt_on0 = _rtm0.enabled(table.metadata().configuration)
    # row ids ride along when tracking is on: BOTH merge paths must keep a
    # matched row's identity through its rewrite (values change, not ids)
    target = snap.df_for_adds(
        spark, all_adds, with_lineage=True, with_row_ids=_rt_on0
    )
    for f in evolved_fields:
        # pre-evolution rows read the new columns as NULL
        target = target.withColumn(f.name, F.lit(None).cast(f.dataType))
    # MERGE reads every active file (the match join and the not-matched
    # anti join both scan the full target), so its read set is the whole
    # table — a concurrent data-changing commit invalidates the plan
    reads = {"files": [a.path for a in all_adds], "whole_table": True}

    from .protocol import generated as _genm
    from .protocol import identity as _idcm

    if when_matched_update:
        _genm.reject_assignments(when_matched_update, schema)
        _idcm.reject_assignments(when_matched_update, schema)
    src_cols = set(source.columns)
    if when_not_matched_insert:
        from .protocol import defaults as _dflm

        # columns with a DEFAULT or an identity spec may be omitted — the
        # insert materializes the default / assigns fresh identity values
        missing = (
            set(schema.names)
            - src_cols
            - set(_dflm.defaults(schema))
            - set(_idcm.specs(schema))
        )
        if schema_evolution:
            # evolution merges fill omitted NULLABLE columns with NULL
            missing = {c for c in missing if not schema[c].nullable}
        if missing:
            raise DMLError(f"source lacks columns required for INSERT: {sorted(missing)}")
        # an EXPLICIT identity value in the source needs BY DEFAULT
        for n, spec in _idcm.specs(schema).items():
            if n in src_cols and not spec.allow_explicit_insert:
                raise DMLError(
                    f"MERGE INSERT cannot supply GENERATED ALWAYS identity "
                    f"column {n!r}; omit it (values are system-assigned) or "
                    "declare it with allowExplicitInsert"
                )

    # (file, row-position) lineage = stable per-row identity for the
    # multi-match guard; _metadata-derived, join-safe (input_file_name is not)
    t = (
        target.withColumnRenamed(snap.FILE_LINEAGE_COL, "__file")
        .withColumnRenamed(snap.POS_LINEAGE_COL, "__tid")
        .alias("t")
    )
    s = source.alias("s")
    on = F.expr(condition)

    if dv_enabled(table) and _mor_eligible(table, all_adds) and not evolved_fields:
        mor = _merge_merge_on_read(
            spark, table, t, s, condition, all_adds,
            when_matched_update, when_matched_delete, when_not_matched_insert,
            when_not_matched_by_source_delete, extra_actions, reads=reads,
        )
        if mor is not None:
            return mor
        # position count beyond DV_MAX_POSITIONS: fall through to the
        # copy-on-write rewrite (same contract as DELETE/UPDATE)

    # --- which target files contain matches, and does any target row match
    # more than one source row?  One inner join (Catalyst/AQE pick broadcast
    # vs shuffle; the source is typically the small side), aggregated per
    # target row then per file — map-side partial aggs keep the shuffles
    # proportional to matched rows / matched files, not table size. ---
    per_row = (
        t.join(s, on, "inner")
        .groupBy(F.col("t.__file").alias("_file"), F.col("t.__tid").alias("_tid"))
        .agg(F.count(F.lit(1)).alias("_m"))
    )
    matched_stats = (
        per_row.groupBy("_file")
        .agg(F.count(F.lit(1)).alias("_n"), F.max("_m").alias("_max_m"))
        .collect()
    )
    matched_paths = {r["_file"] for r in matched_stats}
    n_matched = sum(r["_n"] for r in matched_stats)
    if any(r["_max_m"] > 1 for r in matched_stats):
        raise DMLError(
            "MERGE: a target row matches multiple source rows; "
            "result would be non-deterministic"
        )
    if when_not_matched_by_source_delete:
        rewrite = all_adds  # unmatched rows can live in any file
    else:
        rewrite = [a for a in all_adds if _add_matches_hit(snap, a, matched_paths)]

    # --- rewritten content for matched files ---
    track_changes = cdf_enabled(table)
    change_parts: list[DataFrame] = []
    n_updated = n_deleted = 0
    from .protocol import row_tracking as _rt

    _cfg = table.metadata().configuration
    _rt_on = _rt.enabled(_cfg)
    _mat_id, _mat_cv = _rt.materialized_names(_cfg)
    # rewritten target rows keep their ids (materialized columns); inserted
    # rows get fresh ids from the new file's baseRowId (null materialized)
    _id_sel = (
        [
            F.col(f"t.{_rt.ROW_ID_COL}").alias(_mat_id),
            F.col(f"t.{_rt.ROW_CV_COL}").alias(_mat_cv),
        ]
        if _rt_on
        else []
    )
    if rewrite:
        rw = snap.df_for_adds(spark, rewrite, with_row_ids=_rt_on)
        for f in evolved_fields:
            rw = rw.withColumn(f.name, F.lit(None).cast(f.dataType))
        rw = rw.alias("t")
        # explicit match tag on the source side (robust even if every source
        # column is nullable)
        s_tagged = source.withColumn("__matched", F.lit(True)).alias("s")
        joined = rw.join(s_tagged, F.expr(condition), "left")
        matched_t = joined.filter(F.col("__matched").isNotNull()).select(
            *[F.col(f"t.{c}").alias(c) for c in schema.names]
        )
        unmatched_t = joined.filter(F.col("__matched").isNull()).select(
            *[F.col(f"t.{c}").alias(c) for c in schema.names]
        )
        if when_not_matched_by_source_delete:
            # logical counts: DV-dead rows are not "deleted" by this merge
            totals = [a.logical_records for a in rewrite]
            total_rows = (
                sum(totals)
                if all(x is not None for x in totals)
                else snap.df_for_adds(spark, rewrite).count()
            )
            n_deleted += total_rows - n_matched
            if track_changes:
                change_parts.append(
                    unmatched_t.withColumn(CHANGE_TYPE_COL, F.lit("delete"))
                )
        if when_matched_delete:
            new_rows = (
                spark.createDataFrame([], schema)
                if when_not_matched_by_source_delete
                else joined.filter(F.col("__matched").isNull()).select(
                    *[F.col(f"t.{c}").alias(c) for c in schema.names], *_id_sel
                )
            )
            n_deleted += n_matched
            if track_changes:
                change_parts.append(
                    matched_t.withColumn(CHANGE_TYPE_COL, F.lit("delete"))
                )
        else:
            assignments = when_matched_update or {c: f"s.{c}" for c in schema.names}
            bad = set(assignments) - set(schema.names)
            if bad:
                raise DMLError(f"MERGE updates unknown columns: {sorted(bad)}")
            types = {f.name: f.dataType for f in schema.fields}
            keep = (
                joined.filter(F.col("__matched").isNotNull())
                if when_not_matched_by_source_delete
                else joined
            )
            new_rows = keep.select(
                *[
                    (
                        F.when(
                            F.col("__matched").isNotNull(),
                            F.expr(assignments[c]).cast(types[c]),
                        )
                        .otherwise(F.col(f"t.{c}"))
                        .alias(c)
                        if c in assignments
                        else F.col(f"t.{c}").alias(c)
                    )
                    for c in schema.names
                ],
                *_id_sel,
            )
            n_updated = n_matched
            if track_changes:
                post = joined.filter(F.col("__matched").isNotNull()).select(
                    *[
                        (
                            F.expr(assignments[c]).cast(types[c]).alias(c)
                            if c in assignments
                            else F.col(f"t.{c}").alias(c)
                        )
                        for c in schema.names
                    ]
                )
                change_parts.append(
                    matched_t.withColumn(CHANGE_TYPE_COL, F.lit("update_preimage"))
                )
                change_parts.append(
                    post.withColumn(CHANGE_TYPE_COL, F.lit("update_postimage"))
                )
    else:
        new_rows = spark.createDataFrame([], schema)

    # --- inserts: source rows matching no target row anywhere ---
    n_inserted = 0
    inserts = None
    id_assigned: dict = {}
    if when_not_matched_insert:
        # cached: the anti-join result is consumed up to three times (count,
        # staged write, cdc change files) — one execution instead of three
        ins_exprs, id_assigned = _insert_select_exprs(
            schema, set(source.columns), fill_missing_nullable=schema_evolution
        )
        inserts = s.join(t, on, "left_anti").select(*ins_exprs).cache()
        n_inserted = inserts.count()
        # allowMissingColumns: inserted rows have no prior identity — their
        # materialized id columns read NULL and the reader falls back to the
        # new file's baseRowId + row_index
        new_rows = (
            new_rows.unionByName(inserts, allowMissingColumns=True)
            if rewrite
            else inserts
        )
        if track_changes and n_inserted:
            change_parts.append(inserts.withColumn(CHANGE_TYPE_COL, F.lit("insert")))

    if not rewrite and n_inserted == 0:
        if inserts is not None:
            inserts.unpersist()
        return {
            "version": table.version,
            "numRemovedFiles": 0,
            "numAddedFiles": 0,
            "numTargetRowsUpdated": 0,
            "numTargetRowsDeleted": 0,
            "numTargetRowsInserted": 0,
        }

    change_rows = None
    if track_changes and change_parts:
        change_rows = change_parts[0]
        for p in change_parts[1:]:
            change_rows = change_rows.unionByName(p, allowMissingColumns=True)

    evo_schema = None
    if evolved_fields:
        # the evolved schema rides the same commit as the rewritten files
        from .protocol import column_mapping as _cmm
        from .protocol.schema import spark_to_schema_string as _stss

        old_meta = table.metadata()
        cfg2 = dict(old_meta.configuration or {})
        evo_schema = schema
        if _cmm.is_mapped(cfg2):
            start = max(
                _cmm.max_field_id(evo_schema), int(cfg2.get(_cmm.MAX_ID_KEY, 0))
            )
            evo_schema, max_id = _cmm.assign_mapping(evo_schema, start_id=start)
            cfg2[_cmm.MAX_ID_KEY] = str(max_id)
        extra_actions = list(extra_actions or [])
        extra_actions.append(
            type(old_meta)(
                id=old_meta.id,
                schema_string=_stss(evo_schema),
                partition_columns=old_meta.partition_columns,
                name=old_meta.name,
                description=old_meta.description,
                created_time=old_meta.created_time,
                configuration=cfg2,
            )
        )

    # rewritten files keep their live rows, less the deleted ones
    totals = [a.logical_records for a in rewrite]
    try:
        new_rows = _genm.recompute(new_rows, schema)
        return _stage_and_swap(
            spark,
            table,
            new_rows,
            rewrite,
            "MERGE",
            {"predicate": condition},
            {
                "numTargetRowsUpdated": n_updated,
                "numTargetRowsDeleted": n_deleted,
                "numTargetRowsInserted": n_inserted,
            },
            change_rows=change_rows,
            extra_actions=extra_actions,
            identity_assigned=id_assigned if n_inserted else None,
            reads=reads,
            # evolved commits must stage under the EVOLVED mapping: the new
            # columns' physical names exist only in evo_schema
            schema_override=evo_schema,
            n_rows=(
                sum(totals) - n_deleted + n_inserted if None not in totals else None
            ),
            n_change_rows=n_deleted + 2 * n_updated + n_inserted,
        )
    finally:
        if inserts is not None:
            inserts.unpersist()
