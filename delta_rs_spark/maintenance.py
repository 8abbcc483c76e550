"""Maintenance operators: checkpoints and vacuum.

Checkpoint layout follows the Delta protocol (one struct column per action
type, JSON `stats` carried through; reference writer
``rust/src/checkpoints.rs:118-248``). Under
``delta.checkpoint.writeStatsAsStruct`` adds also carry `stats_parsed` and
`partitionValues_parsed` — a typed struct of the partition columns
(``rust/src/checkpoints.rs:251-307``). Checkpoint parquet is written for
the one reader that loads it whole (see ``_parquet_bytes``).
Vacuum matches ``rust/src/delta.rs:881-969``: 168-hour retention floor,
dry-run mode, hidden-path predicate.
"""

from __future__ import annotations

import json
import os
import time
from typing import Optional

import pyarrow as pa

from .protocol.log import CheckPoint
from .protocol.schema import partition_value_to_typed

MIN_RETENTION_HOURS = 168  # reference delta.rs:882-883


class VacuumError(Exception):
    pass


# ---- checkpoint writer -------------------------------------------------------

# actions per checkpoint part: a 100 TB table can hold millions of file
# actions — one giant parquet makes every snapshot load (and the driver that
# writes it) choke on a single object. The reference reads this multi-part
# layout (rust/src/delta.rs:445-502); parts are written at this granularity.
CHECKPOINT_PART_ROWS = 250_000


def create_checkpoint(
    table, part_rows: Optional[int] = None, policy: Optional[str] = None
) -> CheckPoint:
    """Write a checkpoint for the table's current snapshot and update
    ``_last_checkpoint``: single-part parquet for small logs, the
    ``{v:020d}.checkpoint.{part:010d}.{parts:010d}.parquet`` multi-part
    layout once the action count exceeds ``part_rows``.

    ``policy`` (or the table's ``delta.checkpointPolicy`` property) selects
    the layout: ``classic`` (above) or ``v2`` — a
    ``{v:020d}.checkpoint.{uuid}.parquet`` MANIFEST holding the singleton
    actions (protocol/metaData/txn/domainMetadata) plus one
    ``checkpointMetadata`` row and ``sidecar`` rows pointing at
    ``_delta_log/_sidecars/{uuid}.parquet`` files that carry the add/remove
    actions. At 100 TB the manifest stays KB-sized however many files the
    table has; sidecars are independently written and read (parallel I/O,
    bounded memory), and an incremental writer could reuse unchanged
    sidecars across checkpoints. Requires the ``v2Checkpoint`` table
    feature (``DeltaTable.enable_v2_checkpoints``).

    The add/remove columns are written from the snapshot's Arrow state
    (``protocol/state.py``) without building an action object per file;
    parquet takes ``writer.PARQUET_CODEC``."""
    snap = table.snapshot
    state = snap.state
    meta = snap.metadata

    proto: dict = {
        "minReaderVersion": state.min_reader_version or 1,
        "minWriterVersion": state.min_writer_version or 2,
    }
    if state.reader_features is not None:
        proto["readerFeatures"] = state.reader_features
    if state.writer_features is not None:
        proto["writerFeatures"] = state.writer_features
    rows: list[dict] = [{"protocol": proto}, {"metaData": meta.to_json_dict()}]
    for app_id, version in sorted(state.app_transaction_version.items()):
        rows.append({"txn": {"appId": app_id, "version": version}})
    for domain, config in sorted(state.domain_metadata.items()):
        rows.append(
            {"domainMetadata": {"domain": domain, "configuration": config, "removed": False}}
        )
    singletons = pa.table(_rows_to_struct_columns([_drop_empty_dicts(r) for r in rows]))
    files = _file_action_columns(snap)

    limit = part_rows or CHECKPOINT_PART_ROWS
    cfg = meta.configuration or {}
    policy = policy or cfg.get("delta.checkpointPolicy", "classic")
    if policy not in ("classic", "v2"):
        raise ValueError(f"unknown checkpoint policy {policy!r}")
    if policy == "v2":
        if "v2Checkpoint" not in (state.reader_features or []):
            raise ValueError(
                "v2 checkpoints need the v2Checkpoint table feature; call "
                "DeltaTable.enable_v2_checkpoints() first"
            )
        return _create_v2_checkpoint(table, singletons, files, limit)

    # multi-part past `limit` rows: the reference's part-numbered layout;
    # each part is a self-contained parquet (readers parse parts
    # independently, so a part with no removes simply has no remove column)
    whole = pa.concat_tables([singletons, files], promote_options="default")
    n_parts = -(-whole.num_rows // limit)
    cp = CheckPoint(
        version=snap.version, size=whole.num_rows, parts=n_parts if n_parts > 1 else None
    )
    for part, path in enumerate(table.log.checkpoint_paths(cp)):
        # serialize through the storage backend (memory/object-store safe);
        # checkpoints are metadata-sized, so an in-memory buffer is fine
        table.log.backend.put_obj(path, _parquet_bytes(whole.slice(part * limit, limit)))
    table.log.put_last_checkpoint(cp)
    return cp


def _file_action_columns(snap):
    """The snapshot's removes then adds as checkpoint rows (a ``remove`` and
    an ``add`` struct column), read from its Arrow state. Under
    ``delta.checkpoint.writeStatsAsStruct`` adds also carry ``stats_parsed``
    and ``partitionValues_parsed`` — the typed partition values;
    ``writeStatsAsJson=false`` drops the ``stats`` JSON column."""
    import pyarrow.compute as pc

    from .protocol import column_mapping as _cmap

    # public checkpoint stats properties: writeStatsAsJson (default true)
    # keeps the `stats` JSON column; writeStatsAsStruct additionally writes
    # `stats_parsed` and `partitionValues_parsed` as typed structs — engines
    # that prune from checkpoints directly read them without JSON parses
    cfg = snap.metadata.configuration or {}
    stats_as_json = (
        str(cfg.get("delta.checkpoint.writeStatsAsJson", "true")).lower() != "false"
    )
    stats_as_struct = (
        str(cfg.get("delta.checkpoint.writeStatsAsStruct", "false")).lower() == "true"
    )

    adds = snap.state.live_files()
    add_tbl = adds.table()
    cols = dict(zip(add_tbl.column_names, add_tbl.columns))
    pcols = snap.metadata.partition_columns
    if stats_as_struct and pcols:
        schema = snap.schema()
        # partitionValues_parsed is keyed by PHYSICAL name when column
        # mapping is active — same keys the add actions carry
        if snap.mapping_mode() != "none":
            _p = _cmap.top_level_physical(schema)
            ptypes = {_p[f.name]: f.dataType for f in schema.fields if f.name in pcols}
            pcols = [_p[c] for c in pcols]
        else:
            ptypes = {f.name: f.dataType for f in schema.fields if f.name in pcols}
        pv = add_tbl["partitionValues"]
        cols["partitionValues_parsed"] = pa.StructArray.from_arrays(
            [
                pa.array(
                    [
                        partition_value_to_typed(v, ptypes[c])
                        for v in pc.map_lookup(pv, c, "first").to_pylist()
                    ]
                )
                for c in pcols
            ],
            names=pcols,
        )
    if stats_as_struct:
        cols["stats_parsed"] = adds.stats().struct(add_tbl["stats"].is_valid())
    if not stats_as_json:
        del cols["stats"]
    add = _struct_column(cols)
    rm_tbl = snap.state.tombstones.select().table()
    remove = _struct_column(dict(zip(rm_tbl.column_names, rm_tbl.columns)))
    n_rm, n_add = len(remove), len(add)
    return pa.table(
        {
            "remove": pa.concat_arrays([remove, pa.nulls(n_add, remove.type)]),
            "add": pa.concat_arrays([pa.nulls(n_rm, add.type), add]),
        }
    )


def _struct_column(cols: dict):
    """One action struct column of the named child columns."""

    arrays = [c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c for c in cols.values()]
    return pa.StructArray.from_arrays(arrays, names=list(cols))


def _parquet_bytes(t) -> bytes:
    """One checkpoint/sidecar/manifest parquet file, written for a reader
    that loads it whole (``snapshot.read_checkpoint_actions``):

    - columns and struct fields, at any depth, that are null on every row
      of ``t`` are left out (readers read an absent field as null);
    - a leaf column is dictionary-encoded only where its values repeat —
      at most one distinct value per two non-null ones (partition values,
      modification times, DV storage types, the DV file a commit's
      descriptors share); unique paths and stats JSON are written PLAIN;
    - no min/max statistics and no stored Arrow schema: a part is one row
      group that is never skipped, and the parquet schema reads back as
      the same Arrow types.
    """
    import io

    import pyarrow.parquet as pq

    from .writer import PARQUET_CODEC

    names, columns = [], []
    for name, col in zip(t.column_names, t.columns):
        col = _drop_null_fields(col.combine_chunks())
        if col is not None:
            names.append(name)
            columns.append(col)
    t = pa.Table.from_arrays(columns, names=names)
    dictionary = [path for name, col in zip(names, columns) for path in _repeating(name, col)]
    buf = io.BytesIO()
    pq.write_table(
        t,
        buf,
        compression=PARQUET_CODEC,
        use_dictionary=dictionary,
        write_statistics=False,
        store_schema=False,
    )
    return buf.getvalue()


def _drop_null_fields(arr):
    """``arr`` without its struct fields, at any depth, that are null on
    every row; None when ``arr`` itself holds no non-null value."""

    if pa.types.is_struct(arr.type):
        kids = [(f.name, _drop_null_fields(c)) for f, c in zip(arr.type, arr.flatten())]
        kids = [(k, c) for k, c in kids if c is not None]
        if not kids:
            return None
        return pa.StructArray.from_arrays(
            [c for _, c in kids], names=[k for k, _ in kids], mask=arr.is_null()
        )
    return arr if arr.null_count < len(arr) else None


def _repeating(name: str, arr):
    """Parquet paths of the leaf columns under ``arr`` whose values repeat:
    at most one distinct value per two non-null ones."""
    import pyarrow.compute as pc

    if pa.types.is_struct(arr.type):
        for f, child in zip(arr.type, arr.flatten()):
            yield from _repeating(f"{name}.{f.name}", child)
    elif pa.types.is_map(arr.type):
        # keys/items ignore a slice's offset; the offsets bound its entries
        lo, hi = arr.offsets[0].as_py(), arr.offsets[-1].as_py()
        yield from _repeating(f"{name}.key_value.key", arr.keys.slice(lo, hi - lo))
        yield from _repeating(f"{name}.key_value.value", arr.items.slice(lo, hi - lo))
    elif pa.types.is_list(arr.type):
        yield from _repeating(f"{name}.list.element", arr.flatten())
    else:
        n = len(arr) - arr.null_count
        if n and 2 * pc.count_distinct(arr).as_py() <= n:
            yield name


def _create_v2_checkpoint(table, singletons, files, limit: int) -> CheckPoint:
    """V2 layout: file actions → ``_sidecars/{uuid}.parquet`` chunks;
    manifest ``{v}.checkpoint.{uuid}.parquet`` with the singleton actions,
    one ``checkpointMetadata`` row, and one ``sidecar`` row per chunk."""
    import uuid as _uuid


    log = table.log
    version = table.snapshot.version
    sidecar_rows: list[dict] = []
    for i in range(0, files.num_rows, limit):
        name = f"{_uuid.uuid4().hex}.parquet"
        data = _parquet_bytes(files.slice(i, limit))
        log.backend.put_obj(log.sidecar_path(name), data)
        sidecar_rows.append(
            {
                "sidecar": {
                    "path": name,
                    "sizeInBytes": len(data),
                    "modificationTime": int(time.time() * 1000),
                }
            }
        )
    extra = [{"checkpointMetadata": {"version": version}}] + sidecar_rows
    manifest = pa.concat_tables(
        [singletons, pa.table(_rows_to_struct_columns(extra))], promote_options="default"
    )
    cp = CheckPoint(
        version=version, size=singletons.num_rows + files.num_rows, uuid=_uuid.uuid4().hex
    )
    log.backend.put_obj(log.checkpoint_paths(cp)[0], _parquet_bytes(manifest))
    log.put_last_checkpoint(cp)
    return cp


def _drop_empty_dicts(node):
    """Remove {}-valued entries recursively: an empty map is then null,
    which ``_parquet_bytes`` leaves out when every row has it null, and our
    reader defaults absent maps back to {}."""
    if isinstance(node, dict):
        out = {}
        for k, v in node.items():
            v = _drop_empty_dicts(v)
            if v == {}:
                continue
            out[k] = v
        return out
    if isinstance(node, list):
        return [_drop_empty_dicts(v) for v in node]
    return node


_STR_MAP = pa.map_(pa.string(), pa.string())
_STR_LIST = pa.list_(pa.string())
# the singleton action columns of the Delta protocol's checkpoint schema;
# every field an action's ``to_json_dict`` writes has its type here
_SINGLETON_TYPES = {
    "txn": pa.struct(
        [("appId", pa.string()), ("version", pa.int64()), ("lastUpdated", pa.int64())]
    ),
    "metaData": pa.struct(
        [
            ("id", pa.string()),
            ("name", pa.string()),
            ("description", pa.string()),
            ("format", pa.struct([("provider", pa.string()), ("options", _STR_MAP)])),
            ("schemaString", pa.string()),
            ("partitionColumns", _STR_LIST),
            ("createdTime", pa.int64()),
            ("configuration", _STR_MAP),
        ]
    ),
    "protocol": pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", _STR_LIST),
            ("writerFeatures", _STR_LIST),
        ]
    ),
    "domainMetadata": pa.struct(
        [("domain", pa.string()), ("configuration", pa.string()), ("removed", pa.bool_())]
    ),
    "checkpointMetadata": pa.struct([("version", pa.int64())]),
    "sidecar": pa.struct(
        [("path", pa.string()), ("sizeInBytes", pa.int64()), ("modificationTime", pa.int64())]
    ),
}


def _rows_to_struct_columns(rows: list[dict]) -> dict:
    """Sparse row dicts of the singleton actions → one pyarrow struct
    array per action column, typed as ``_SINGLETON_TYPES`` says."""
    out = {}
    for col, typ in _SINGLETON_TYPES.items():
        values = [r.get(col) for r in rows]
        if any(v is not None for v in values):
            out[col] = pa.array(values, type=typ)
    return out


# ---- auto-checkpoint hook -----------------------------------------------------

def _string_zorder_quantizer(table, spark, c: str, bits: int):
    """Quantize a STRING column to ``bits`` bits via sampled rank
    boundaries: collect ~100k sampled values (one bounded job), take 2^bits
    evenly-spaced sorted boundaries driver-side, and bucket each row with a
    codegen `aggregate` over the boundary-array literal (count of
    boundaries ≤ value — order-preserving, which is what Z-ordering needs;
    a hash would destroy locality). Mirrors how engines Z-order
    non-numeric columns: range-id substitution, not numeric affine."""
    from pyspark.sql import functions as F

    n_buckets = 1 << bits
    df = table.to_df(spark, columns=[c]).filter(F.col(c).isNotNull())
    # a real Bernoulli fraction (metadata-only row count when stats exist,
    # one count job otherwise) so the sample spans every file — fraction 1.0
    # + limit would take the first 100k rows in scan order, i.e. one or two
    # files, and bias the rank boundaries
    n = table.count_rows()
    if n is None:
        n = df.count()
    frac = min(1.0, 300_000 / max(n, 1))  # 3x oversample so limit still fills
    sampled = df.sample(False, frac, seed=42).limit(100_000).collect()
    vals = sorted(r[0] for r in sampled)
    if not vals:
        return F.lit(0).cast("long")
    step = max(1, len(vals) // n_buckets)
    boundaries = sorted(set(vals[step::step]))[: n_buckets - 1]
    if not boundaries:
        return F.lit(0).cast("long")
    b_lit = F.lit([str(b) for b in boundaries])
    rank = F.coalesce(
        F.aggregate(
            b_lit,
            F.lit(0).cast("long"),
            lambda acc, b: acc
            + F.when(F.col(c).cast("string") >= b, 1).otherwise(0).cast("long"),
        ),
        F.lit(0).cast("long"),
    )
    # spread the ranks 0..len(boundaries) over all n_buckets: a column with
    # fewer distinct values than buckets would otherwise leave its top bit
    # planes zero, and the curve would never split on it first
    return F.floor(rank * (n_buckets - 1) / len(boundaries)).cast("long")


def _zorder_column(table, cols: list[str], bits: int = 16, spark=None):
    """Bit-interleaved Z-value expression over numeric and string columns.

    Numeric columns are affinely quantized to ``bits`` bits against their
    GLOBAL min/max taken from the log's per-file stats (metadata-only — no
    scan); string columns get sampled rank-boundary buckets (8 bits,
    see ``_string_zorder_quantizer``). The bit planes are then
    interleaved: z = …y₁x₁y₀x₀. Range-partitioning
    on z gives every output file a small hyper-rectangle of the value space,
    so min/max stats prune well for predicates on ANY of the columns — the
    multi-dimensional layout a single-column sort can't provide. Pure
    codegen (bitwise shifts/ors), evaluated once per row during the rewrite.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = table.schema()
    types_by_name = {f.name: f.dataType for f in schema.fields}

    quantized = []
    for c in cols:
        if isinstance(types_by_name.get(c), T.StringType):
            if spark is None:
                raise ValueError(f"zorder_by on string column {c!r} needs a SparkSession")
            sbits = min(bits, 8)
            q_str = _string_zorder_quantizer(table, spark, c, sbits)
            # scale into the full bit width so the bucket occupies the HIGH
            # bit planes — a narrower quantizer would otherwise contribute
            # only zeros to the top interleaved bits and never influence
            # the file split
            quantized.append(q_str * F.lit(1 << (bits - sbits)).cast("long"))
            continue
        # mapping-aware stats lookup (add actions key stats by PHYSICAL
        # name); incomplete stats — DV'd files, a statless writer — fall
        # back to one metadata-sized Spark agg instead of refusing, since
        # compaction is exactly the documented remedy for DV'd files
        mm = table.column_min_max(c)
        if mm is None or mm[0] is None or mm[1] is None:
            if spark is None:
                raise ValueError(
                    f"zorder_by column {c!r} has no complete min/max stats "
                    "in the log and no SparkSession was given to scan"
                )
            row = (
                table.to_df(spark)
                .agg(F.min(c).alias("lo"), F.max(c).alias("hi"))
                .collect()[0]
            )
            mm = (row.lo, row.hi)
            if mm[0] is None:
                quantized.append(F.lit(0).cast("long"))
                continue  # all-null column: contributes nothing to z
        lo, hi = float(mm[0]), float(mm[1])
        span = hi - lo
        if span <= 0:
            quantized.append(F.lit(0).cast("long"))
            continue
        scale = ((1 << bits) - 1) / span
        q = F.least(
            F.lit((1 << bits) - 1),
            F.greatest(
                F.lit(0),
                ((F.col(c).cast("double") - F.lit(lo)) * F.lit(scale)).cast("long"),
            ),
        )
        quantized.append(F.coalesce(q, F.lit(0)))
    z = F.lit(0).cast("long")
    n = len(cols)
    for bit in range(bits):
        for ci, q in enumerate(quantized):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(q, bit).bitwiseAND(F.lit(1)), bit * n + ci)
            )
    return z


def optimize(
    table,
    spark,
    target_file_size: int = 256 * 1024 * 1024,
    sort_by: Optional[list[str]] = None,
    zorder_by: Optional[list[str]] = None,
    dry_run: bool = False,
    partition_filters=None,
    compact_only: bool = False,
    _purge: bool = False,
    _purge_extra: frozenset = frozenset(),
) -> dict:
    """Bin-packing compaction: rewrite groups of small files into ~target-size
    files, committing the swap with ``dataChange=false``.

    The reference tracks this as an open feature (delta-rs README support
    table, issue #98); the protocol hooks for it already exist and this
    engine exercises them end to end: ``dataChange=false`` on both the
    ``add`` and ``remove`` actions means log-tailing readers skip the commit
    entirely (``rust/src/action.rs:165-170`` semantics — see
    ``streaming/source.py``), and the removed files become ordinary
    tombstones that ``vacuum`` reaps after retention.

    Scale shape: grouping is per partition (compaction never merges across
    partition values, preserving Hive layout); each group rewrite is one
    Spark job reading only that group's small files and ``coalesce``-ing —
    no shuffle, data streams through executors once. Group jobs run
    concurrently from a driver thread pool (Spark's scheduler is
    thread-safe), so a 10k-partition table compacts at cluster parallelism,
    not driver-loop latency. One commit swaps everything atomically.

    ``sort_by`` additionally *clusters* each group on the given columns
    (``repartitionByRange`` + ``sortWithinPartitions`` — one range shuffle
    per group instead of the free coalesce): every output file then covers a
    narrow value range, so its min/max stats in the log make
    ``skip_predicates`` pruning selective — the single-dimension form of
    Z-ordering, and the standard layout fix for scan-bound point/range
    queries over a non-partition column.

    ``zorder_by`` generalizes that to MULTIPLE numeric columns via a
    bit-interleaved Z-value (see ``_zorder_column``): files become small
    hyper-rectangles of the joint value space, pruning on any of the
    Z-order columns at once. Mutually exclusive with ``sort_by``.

    ``partition_filters`` (same DNF tuple contract as reads/DML) scopes the
    compaction to matching partitions — the standard operational pattern at
    scale: OPTIMIZE only the partitions the last ingestion window touched,
    not the whole 100 TB table.

    Returns operation metrics (Delta OPTIMIZE-style): files added/removed,
    bytes added/removed, partitions optimized.
    """
    import math
    import uuid as _uuid
    from concurrent.futures import ThreadPoolExecutor

    if sort_by and zorder_by:
        raise ValueError("sort_by and zorder_by are mutually exclusive")

    from .protocol.actions import RemoveAction
    from .protocol.schema import schema_string_to_spark
    from .transactions import DeltaTransaction
    from .writer import _promote_staged_files, parquet_writer

    from .protocol import column_mapping as _cm

    meta = table.metadata()
    pcols = meta.partition_columns
    log = table.log
    _mapped = _cm.is_mapped(meta.configuration)
    # mapped tables key partitionValues / Hive dirs / file columns physically
    _phys = (
        _cm.top_level_physical(schema_string_to_spark(meta.schema_string))
        if _mapped
        else {c: c for c in pcols}
    )
    from .protocol import row_tracking as _rt_mod

    _rt_on = _rt_mod.enabled(meta.configuration)
    _mat_id, _mat_cv = _rt_mod.materialized_names(meta.configuration)

    # clustered table: a bare OPTIMIZE re-clusters on the declared columns
    # (the maintenance loop of the public clustering feature) — an explicit
    # sort_by/zorder_by still overrides. compact_only (autoCompact's hook)
    # suppresses it: the auto follow-up is a bounded small-file repair, not
    # a standing full-table re-cluster after every busy commit.
    if not sort_by and not zorder_by and not compact_only and not _purge:
        from .protocol import clustering_meta as _cl

        _cl_cols = _cl.clustering_columns(table.snapshot.state)
        if _cl_cols:
            if _mapped:
                _logical = _cm.top_level_logical(
                    schema_string_to_spark(meta.schema_string)
                )
                zorder_by = [_logical.get(c, c) for c in _cl_cols]
            else:
                zorder_by = list(_cl_cols)

    # plain compaction touches only sub-target files and needs >= 2 of them;
    # clustering (sort_by / zorder_by) is a LAYOUT rewrite — every file in the
    # group is rewritten regardless of size, and even a single file qualifies
    clustering = bool(sort_by or zorder_by)
    candidates = (
        table.snapshot.files(partition_filters=partition_filters)
        if partition_filters
        else table.add_actions()
    )
    groups: dict[tuple, list] = {}
    for a in candidates:
        # files carrying a deletion vector always qualify: compaction is how
        # merge-on-read deletes get materialized and their read-time anti
        # join retired. REORG PURGE mode touches ONLY such files (plus the
        # explicitly flagged stale-physical set) — never healthy small files
        if _purge:
            qualifies = bool(a.deletion_vector) or a.path in _purge_extra
        else:
            qualifies = clustering or a.deletion_vector or a.size < target_file_size
        if qualifies:
            key = tuple((_phys[c], a.partition_values.get(_phys[c])) for c in pcols)
            groups.setdefault(key, []).append(a)
    plan = {
        k: fs
        for k, fs in groups.items()
        if _purge
        or len(fs) >= (1 if clustering else 2)
        or any(f.deletion_vector for f in fs)
    }

    metrics = {
        "numFilesRemoved": sum(len(fs) for fs in plan.values()),
        "numBytesRemoved": sum(f.size for fs in plan.values() for f in fs),
        "partitionsOptimized": len(plan),
        "numFilesAdded": 0,
        "numBytesAdded": 0,
    }
    if dry_run or not plan:
        return metrics

    zcol = _zorder_column(table, zorder_by, spark=spark) if zorder_by else None

    full_schema = schema_string_to_spark(meta.schema_string)
    data_schema = type(full_schema)([f for f in full_schema.fields if f.name not in pcols])
    staging_root = log.data_plane.stage_dir("optimize")

    def rewrite(item: tuple[tuple, list]) -> None:
        key, files = item
        part_dir = "/".join(
            f"{c}={'__HIVE_DEFAULT_PARTITION__' if v is None else v}" for c, v in key
        )
        out_dir = os.path.join(staging_root, part_dir) if part_dir else staging_root
        n_out = max(1, math.ceil(sum(f.size for f in files) / target_file_size))
        if _rt_on:
            from pyspark.sql import functions as F

            # row tracking: compaction must not change row identity — carry
            # each row's id through as materialized columns (DV-aware read,
            # so freshly-materialized deletes drop their ids with them)
            df = table.snapshot.df_for_adds(
                spark, files, with_row_ids=True
            ).select(
                *data_schema.names,
                F.col(_rt_mod.ROW_ID_COL).alias(_mat_id),
                F.col(_rt_mod.ROW_CV_COL).alias(_mat_cv),
            )
        else:
            # DV-aware read (the rewrite drops deleted rows for good), and
            # logical under column mapping: processed logically, written
            # physically
            df = table.snapshot.df_for_adds(spark, files, columns=list(data_schema.names))
        if zorder_by:
            df = (
                df.withColumn("_z", zcol)
                .repartitionByRange(n_out, "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        elif sort_by:
            df = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(*sort_by)
        else:
            df = df.coalesce(n_out)
        if _mapped:
            df = _cm.to_physical_df(df, data_schema)
        parquet_writer(df).parquet(out_dir)

    # rewrites AND promotion share one cleanup scope: a failed rewrite job
    # must not strand the staging dir (on the native plane it lives inside
    # the table under a dot-dir vacuum treats as hidden — a leak there is
    # permanent and potentially table-sized)
    try:
        items = list(plan.items())
        if len(items) == 1:
            rewrite(items[0])
        else:
            with ThreadPoolExecutor(max_workers=min(8, len(items))) as ex:
                list(ex.map(rewrite, items))

        from .writer import data_skipping_columns

        _stats_cols = data_skipping_columns(meta.configuration, full_schema.names)
        if _mapped and _stats_cols is not None:
            _stats_cols = {_phys.get(c, c) for c in _stats_cols}
        adds = _promote_staged_files(
            spark,
            log,
            staging_root,
            [_phys[c] for c in pcols],
            data_change=False,
            stats_columns=_stats_cols,
        )
    except BaseException:
        log.data_plane.cleanup_stage(staging_root)
        raise

    now_ms = int(time.time() * 1000)
    txn = DeltaTransaction(table)
    # OPTIMIZE reads exactly the files it compacts; dataChange=false means
    # the commit runs under SnapshotIsolation (concurrent appends never
    # conflict) while a concurrent remove of a compacted file still aborts
    txn.record_reads(
        files=[f.path for fs in plan.values() for f in fs]
    )
    for fs in plan.values():
        for f in fs:
            txn.add_action(
                RemoveAction(
                    path=f.path,
                    deletion_timestamp=now_ms,
                    data_change=False,
                    extended_file_metadata=True,
                    partition_values=f.partition_values,
                    size=f.size,
                    deletion_vector=f.deletion_vector,
                    base_row_id=f.base_row_id,
                    default_row_commit_version=f.default_row_commit_version,
                )
            )
    txn.add_actions(list(adds))
    metrics["numFilesAdded"] = len(adds)
    metrics["numBytesAdded"] = sum(a.size for a in adds)
    txn.commit(
        operation="REORG" if _purge else "OPTIMIZE",
        operation_parameters=(
            {"applyPurge": "true"}
            if _purge
            else {
                "targetSize": str(target_file_size),
                **({"sortBy": list(sort_by)} if sort_by else {}),
                **({"zOrderBy": list(zorder_by)} if zorder_by else {}),
            }
        ),
        operation_metrics={k: str(v) for k, v in metrics.items()},
    )
    table.update()
    return metrics


def reorg_purge(
    table,
    spark,
    partition_filters=None,
    dry_run: bool = False,
    target_file_size: int = 256 * 1024 * 1024,
) -> dict:
    """``REORG TABLE ... APPLY (PURGE)``: rewrite exactly the live files
    that carry soft-deleted or physically-stale data, so the table's
    physical layout catches up with its logical state:

    - files with a deletion vector — the MoR soft deletes get materialized
      and their read-time anti-join retired (after which the DV-bearing
      tombstones age out and ``DROP FEATURE deletionVectors`` can pass);
    - files whose parquet footers are narrower than the current schema
      after type widening (``physical_narrow_files``) — rewriting them is
      the documented prerequisite for ``DROP FEATURE typeWidening``.

    Unlike OPTIMIZE, healthy small files are NOT touched: PURGE is a
    targeted repair pass whose cost is proportional to the affected file
    set, not the table. The swap commits with ``dataChange=false`` (the
    logical content is unchanged), so log-tailing readers skip it and
    concurrent appends never conflict.
    """
    from .protocol import widening as _tw

    narrow = frozenset(_tw.physical_narrow_files(table))
    return optimize(
        table,
        spark,
        target_file_size=target_file_size,
        dry_run=dry_run,
        partition_filters=partition_filters,
        _purge=True,
        _purge_extra=narrow,
    )


AUTO_COMPACT_KEY = "delta.autoOptimize.autoCompact"
AUTO_COMPACT_MIN_FILES_KEY = "delta.autoOptimize.minNumFiles"
AUTO_COMPACT_DEFAULT_MIN_FILES = 50
AUTO_COMPACT_TARGET_SIZE = 128 * 1024 * 1024  # public autoCompact target


def auto_compact_if_needed(table, spark) -> Optional[dict]:
    """Public Delta auto compaction (``delta.autoOptimize.autoCompact``):
    after a commit, partitions that accumulated ≥ minNumFiles files below
    the 128 MB auto-compact target get compacted in a follow-up
    ``dataChange=false`` commit.

    The operational story this solves at scale: a streaming or
    micro-batch writer appends thousands of kilobyte files per hour;
    without compaction every reader pays the per-file open cost forever.
    optimizeWrite prevents the problem at write time when partitions are
    the cause; autoCompact repairs what still slips through (many commits
    to the SAME partition). Scoped per qualifying partition, so the
    follow-up reads only the small files it merges; concurrent writers
    are safe because the compaction commit runs under SnapshotIsolation
    and aborts on a genuine file conflict (best-effort by contract)."""
    cfg = table.metadata().configuration or {}
    if str(cfg.get(AUTO_COMPACT_KEY, "")).lower() != "true":
        return None
    try:
        min_files = int(
            cfg.get(AUTO_COMPACT_MIN_FILES_KEY, AUTO_COMPACT_DEFAULT_MIN_FILES)
        )
    except (TypeError, ValueError):
        min_files = AUTO_COMPACT_DEFAULT_MIN_FILES
    meta = table.metadata()
    pcols = meta.partition_columns
    # add actions key partitionValues PHYSICALLY on column-mapped tables;
    # partition_filters stay logical (snapshot.files translates)
    from .protocol import column_mapping as _acm
    from .protocol.schema import schema_string_to_spark as _as3

    if _acm.is_mapped(meta.configuration):
        _aphys = _acm.top_level_physical(_as3(meta.schema_string))
    else:
        _aphys = {c: c for c in pcols}
    small: dict[tuple, int] = {}
    for a in table.add_actions():
        if (a.size or 0) >= AUTO_COMPACT_TARGET_SIZE:
            continue
        key = (
            tuple(a.partition_values.get(_aphys[c]) for c in pcols)
            if pcols
            else ()
        )
        small[key] = small.get(key, 0) + 1
    qualifying = [k for k, n in small.items() if n >= min_files]
    if not qualifying:
        return None
    totals = {"numFilesRemoved": 0, "numFilesAdded": 0, "partitions": 0}
    if not pcols:
        res = optimize(
            table,
            spark,
            target_file_size=AUTO_COMPACT_TARGET_SIZE,
            compact_only=True,
        )
        totals["numFilesRemoved"] = res.get("numFilesRemoved", 0)
        totals["numFilesAdded"] = res.get("numFilesAdded", 0)
        totals["partitions"] = 1
        return totals
    for key in qualifying:
        if any(v is None for v in key):
            continue  # null partition values: = filters can't address them
        filters = [(c, "=", v) for c, v in zip(pcols, key)]
        res = optimize(
            table,
            spark,
            target_file_size=AUTO_COMPACT_TARGET_SIZE,
            partition_filters=filters,
            compact_only=True,
        )
        totals["numFilesRemoved"] += res.get("numFilesRemoved", 0)
        totals["numFilesAdded"] += res.get("numFilesAdded", 0)
        totals["partitions"] += 1
        table.update()
    return totals


class FeatureDropError(Exception):
    """DROP FEATURE refused: the feature is absent, still has live
    dependencies, or needs history truncation the caller didn't allow."""


# features whose traces are reader-visible: dropping them invalidates
# historical versions, so history must be truncated (public Delta
# ``ALTER TABLE … DROP FEATURE … TRUNCATE HISTORY`` semantics)
_READER_VISIBLE_FEATURES = frozenset(
    {"deletionVectors", "columnMapping", "timestampNtz", "variantType",
     "v2Checkpoint", "deltaRsSpark.deletionVectors", "typeWidening"}
)


def _validate_feature_droppable(table, name: str) -> None:
    """Raise unless the CURRENT state carries no trace of the feature —
    the property is off and no schema/file metadata depends on it."""
    from pyspark.sql import types as _T

    cfg = table.metadata().configuration or {}
    schema = table.schema()
    state = table.snapshot.state

    def _prop_on(key: str) -> bool:
        return str(cfg.get(key, "")).lower() == "true"

    def _refuse(why: str) -> None:
        raise FeatureDropError(
            f"cannot drop feature {name!r}: {why}; remove the dependency "
            "first (unset the property / drop the columns / rewrite the "
            "files), then retry"
        )

    if name == "checkConstraints":
        from .writer import CONSTRAINT_PREFIX

        if any(k.startswith(CONSTRAINT_PREFIX) for k in cfg):
            _refuse("CHECK constraints are still defined")
    elif name == "generatedColumns":
        from .protocol import generated as _gen

        if _gen.expressions(schema):
            _refuse("generated columns are still in the schema")
    elif name == "identityColumns":
        from .protocol import identity as _idc

        if _idc.specs(schema):
            _refuse("identity columns are still in the schema")
    elif name == "allowColumnDefaults":
        from .protocol import defaults as _dfl

        if _dfl.defaults(schema):
            _refuse("column DEFAULTs are still in the schema")
    elif name == "changeDataFeed":
        if _prop_on("delta.enableChangeDataFeed"):
            _refuse("delta.enableChangeDataFeed is still true")
    elif name == "appendOnly":
        if _prop_on("delta.appendOnly"):
            _refuse("delta.appendOnly is still true")
    elif name == "inCommitTimestamp":
        if _prop_on("delta.enableInCommitTimestamps"):
            _refuse("delta.enableInCommitTimestamps is still true")
    elif name == "rowTracking":
        if _prop_on("delta.enableRowTracking"):
            _refuse("delta.enableRowTracking is still true")
    elif name in ("deletionVectors", "deltaRsSpark.deletionVectors"):
        if _prop_on("delta.enableDeletionVectors"):
            _refuse("delta.enableDeletionVectors is still true")
        if any(a.deletion_vector for a in state.files.values()):
            _refuse(
                "active files still carry deletion vectors (run REORG "
                "TABLE ... APPLY (PURGE) to materialize the deletes)"
            )
        if any(r.deletion_vector for r in state.tombstones.values()):
            _refuse(
                "unexpired tombstones still reference deletion vectors "
                "(wait out the retention window or vacuum)"
            )
    elif name == "columnMapping":
        from .protocol import column_mapping as _cm

        if _cm.is_mapped(cfg):
            _refuse("delta.columnMapping.mode is still set")
    elif name == "timestampNtz":
        if any(
            isinstance(f.dataType, _T.TimestampNTZType) for f in schema.fields
        ):
            _refuse("TIMESTAMP_NTZ columns are still in the schema")
    elif name == "variantType":
        from .writer import _schema_has_variant

        if _schema_has_variant(schema):
            _refuse("VARIANT columns are still in the schema")
    elif name == "v2Checkpoint":
        if str(cfg.get("delta.checkpointPolicy", "")).lower() == "v2":
            _refuse("delta.checkpointPolicy is still 'v2'")
    elif name == "typeWidening":
        from .protocol import widening as _tw

        if _prop_on(_tw.ENABLE_KEY):
            _refuse(f"{_tw.ENABLE_KEY} is still true")
        if _tw.latest_change_version(schema) is not None:
            narrow = _tw.physical_narrow_files(table)
            if narrow:
                _refuse(
                    f"{len(narrow)} live file(s) still carry narrow physical "
                    "types from before the widening (run optimize() to "
                    "rewrite them at the wide type)"
                )
    elif name == "checkpointProtection":
        if cfg.get("delta.requireCheckpointProtectionBeforeVersion"):
            _refuse(
                "delta.requireCheckpointProtectionBeforeVersion is still "
                "set — the boundary it names is only safe once a cleanup "
                "has truncated to a checkpoint at/above it (then unset the "
                "property)"
            )
    elif name == "domainMetadata":
        if state.domain_metadata:
            _refuse("domain metadata entries still exist")
    elif name == "clustering":
        from .protocol import clustering_meta as _cl

        # only the clustering domain blocks the drop — unrelated domains
        # (e.g. COPY INTO's loaded-file registry) are none of its business
        if _cl.DOMAIN in state.domain_metadata:
            _refuse("clustering domain metadata still exists")
    # invariants / features with no persistent trace: droppable as-is


def drop_feature(table, name: str, truncate_history: bool = False) -> int:
    """``ALTER TABLE … DROP FEATURE`` (public Delta table-features
    contract): remove a feature from the protocol once nothing in the
    table depends on it.

    Writer-only features drop immediately after the dependency check.
    Reader-visible features additionally require ``truncate_history=True``:
    historical versions still carry the feature's traces (DV descriptors,
    physical column names, VARIANT files), so the drop checkpoints the
    current state and deletes the log below it — time travel beneath the
    drop is given up, exactly what TRUNCATE HISTORY means. The protocol
    versions stay at their current level with the remaining feature lists
    (spec-legal; readers gate on the lists, not the numbers)."""
    from .protocol.actions import ProtocolAction
    from .transactions import DeltaTransaction

    table.update()
    state = table.snapshot.state
    wf = set(state.writer_features or [])
    rf = set(state.reader_features or [])
    if name not in wf and name not in rf:
        raise FeatureDropError(
            f"feature {name!r} is not enabled on this table "
            f"(writer features: {sorted(wf)}; reader features: {sorted(rf)})"
        )
    _validate_feature_droppable(table, name)
    if (name in _READER_VISIBLE_FEATURES or name in rf) and not truncate_history:
        raise FeatureDropError(
            f"{name!r} is reader-visible: historical versions still carry "
            "its traces. Pass truncate_history=True (SQL: TRUNCATE "
            "HISTORY) to checkpoint the current state and give up time "
            "travel below the drop"
        )
    boundary = None
    if truncate_history:
        create_checkpoint(table)
        cleanup_expired_logs(table, retention_ms=0)
        # checkpointProtection (public Delta): the truncation checkpoint and
        # everything at/above it must survive future metadata cleanups that
        # do not themselves truncate past this point — readers of versions
        # >= the boundary still replay from it
        boundary = table.version + 1
        wf = wf | {"checkpointProtection"}
    proto = ProtocolAction(
        state.min_reader_version,
        state.min_writer_version if boundary is None else max(
            state.min_writer_version, 7
        ),
        reader_features=(
            sorted(rf - {name}) if state.reader_features is not None else None
        ),
        writer_features=(
            sorted(wf - {name})
            if state.writer_features is not None or boundary is not None
            else None
        ),
    )
    txn = DeltaTransaction(table)
    txn.add_action(proto)
    # at most ONE metaData action per commit (replays replace wholesale):
    # compose the checkpoint-protection property and the typeWidening
    # bookkeeping strip into a single replacement
    meta0 = table.metadata()
    new_cfg = dict(meta0.configuration or {})
    new_schema_string = meta0.schema_string
    meta_changed = False
    if boundary is not None:
        new_cfg["delta.requireCheckpointProtectionBeforeVersion"] = str(boundary)
        meta_changed = True
    if name == "typeWidening":
        # cleanup travels with the drop: the schema sheds its
        # delta.typeChanges bookkeeping in the same commit
        from .protocol import widening as _tw
        from .protocol.schema import schema_string_to_spark, spark_to_schema_string

        schema = schema_string_to_spark(meta0.schema_string)
        if _tw.type_changes(schema):
            new_schema_string = spark_to_schema_string(
                _tw.strip_type_changes(schema)
            )
            meta_changed = True
    if meta_changed:
        import dataclasses as _dc

        txn.add_action(
            _dc.replace(
                meta0, configuration=new_cfg, schema_string=new_schema_string
            )
        )
    v = txn.commit(
        operation="DROP FEATURE",
        operation_parameters={
            "featureName": name,
            "truncateHistory": str(bool(truncate_history)).lower(),
        },
    )
    table.update()
    return v


class ChecksumMismatchError(Exception):
    """The ``{version}.crc`` version checksum disagrees with the state
    reconstructed from the log — the log or a checkpoint is corrupt."""


def _version_checksum_payload(table) -> dict:
    """Public Delta VersionChecksum shape (the ``.crc`` file next to each
    commit): aggregate table state a reader can cross-check after replay.
    Field names follow the open-source format (tableSizeBytes, numFiles,
    numMetadata, numProtocol, numDeletedRecordsOpt, numDeletionVectorsOpt,
    setTransactions, domainMetadata, metadata, protocol)."""
    state = table.snapshot.state
    files = state.live_files()
    protocol: dict = {
        "minReaderVersion": state.min_reader_version,
        "minWriterVersion": state.min_writer_version,
    }
    if state.reader_features is not None:
        protocol["readerFeatures"] = sorted(state.reader_features)
    if state.writer_features is not None:
        protocol["writerFeatures"] = sorted(state.writer_features)
    return {
        "tableSizeBytes": files.size_bytes(),
        "numFiles": len(files),
        "numMetadata": 1,
        "numProtocol": 1,
        "numDeletedRecordsOpt": files.dv_cardinality(),
        "numDeletionVectorsOpt": files.dv_count(),
        "metadata": state.metadata.to_json_dict() if state.metadata else None,
        "protocol": protocol,
        "setTransactions": [
            {"appId": k, "version": v}
            for k, v in sorted(state.app_transaction_version.items())
        ],
        "domainMetadata": [
            {"domain": d, "configuration": c, "removed": False}
            for d, c in sorted(state.domain_metadata.items())
        ],
    }


def write_version_checksum(table, version: int) -> str:
    """Write ``_delta_log/{version:020d}.crc`` for the CURRENT snapshot
    (which must be at ``version``). Called best-effort post-commit — a
    checksum is advisory validation state, never worth failing a commit."""
    import json as _json
    import uuid as _uuid

    payload = {"txnId": _uuid.uuid4().hex, **_version_checksum_payload(table)}
    log = table.log
    path = log.backend.join(log.log_dir, f"{version:020d}.crc")
    log.backend.put_obj(path, _json.dumps(payload, separators=(",", ":")).encode())
    return path


def validate_checksum(table, version: Optional[int] = None) -> bool:
    """Check the snapshot's replayed state against the stored ``.crc``.

    Returns False when no checksum exists for the version; raises
    ChecksumMismatchError listing the diverging fields otherwise. The
    aggregate fields (sizes/counts/protocol/metadata) catch log corruption
    and broken checkpoint folds at O(1) cost — no data is read."""
    import json as _json

    v = table.version if version is None else version
    log = table.log
    path = log.backend.join(log.log_dir, f"{v:020d}.crc")
    try:
        stored = _json.loads(log.backend.get_obj(path))
    except FileNotFoundError:
        return False
    expect = _version_checksum_payload(table)
    diverging = [
        k
        for k, want in expect.items()
        if k in stored and stored[k] != want
    ]
    if diverging:
        raise ChecksumMismatchError(
            f"version {v} checksum mismatch on {diverging}: the replayed "
            "state disagrees with the state recorded at commit time"
        )
    return True


def parse_interval_ms(text: str) -> int:
    """Public Delta interval-property syntax: ``interval <n> <unit>``
    (days/hours/minutes/seconds, singular or plural)."""
    import re as _re

    m = _re.fullmatch(
        r"\s*interval\s+(\d+)\s+(day|hour|minute|second)s?\s*", text, _re.IGNORECASE
    )
    if not m:
        raise ValueError(f"cannot parse interval property {text!r}")
    n = int(m.group(1))
    unit_ms = {"day": 86_400_000, "hour": 3_600_000, "minute": 60_000, "second": 1_000}
    return n * unit_ms[m.group(2).lower()]


DEFAULT_LOG_RETENTION_MS = 30 * 86_400_000  # delta.logRetentionDuration default


def cleanup_expired_logs(table, retention_ms: Optional[int] = None) -> list[str]:
    """Delete commit JSONs and checkpoint parts that are BOTH below the
    newest checkpoint (the snapshot no longer needs them — replay starts at
    the checkpoint) AND older than the log retention window (public
    ``delta.logRetentionDuration`` semantics, default 30 days). Bounds log
    growth on write-heavy tables; time travel below the cleaned range is
    given up, exactly as the property documents. Returns deleted names."""
    import re as _re

    cfg = (table.metadata().configuration or {}) if table.snapshot.state.metadata else {}
    if retention_ms is None:
        raw = cfg.get("delta.logRetentionDuration")
        retention_ms = parse_interval_ms(raw) if raw else DEFAULT_LOG_RETENTION_MS
    cutoff_ms = int(time.time() * 1000) - retention_ms

    log = table.log
    cp = log.read_last_checkpoint()
    if cp is None:
        return []
    # checkpointProtection: checkpoints below the boundary may only be
    # removed by a cleanup that truncates to a checkpoint AT/ABOVE it in
    # the same run; replaying from below the boundary must stay possible
    # otherwise
    try:
        boundary = int(
            cfg.get("delta.requireCheckpointProtectionBeforeVersion", 0)
        )
    except (TypeError, ValueError):
        boundary = 0
    if 0 < cp.version < boundary:
        return []

    commit_re = _re.compile(r"^(\d{20})\.(json|crc)$")
    cp_re = _re.compile(r"^(\d{20})\.checkpoint(\.\d{10}\.\d{10})?\.parquet$")
    compaction_re = _re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")
    v2_re = _re.compile(r"^(\d{20})\.checkpoint\.[A-Za-z0-9_-]+\.parquet$")
    deleted: list[str] = []
    surviving_v2: list[str] = []
    for meta in log.backend.list_objs(log.log_dir):
        name = meta.path.rsplit("/", 1)[-1]
        rel_parent = meta.path.rsplit("/", 2)[-2] if "/" in meta.path else ""
        if rel_parent == "_sidecars":
            continue  # handled below via an explicit _sidecars listing
        m = compaction_re.match(name)
        if m:
            # a compaction is obsolete once its whole range is below the
            # checkpoint (replay can never start inside it again)
            v = int(m.group(2))
        else:
            m = commit_re.match(name) or cp_re.match(name) or v2_re.match(name)
            if not m:
                continue
            v = int(m.group(1))
        if v >= cp.version:
            if v2_re.match(name) and not cp_re.match(name):
                surviving_v2.append(meta.path)
            continue  # the active checkpoint and the tail stay
        if meta.modification_time * 1000 > cutoff_ms:
            if v2_re.match(name) and not cp_re.match(name):
                surviving_v2.append(meta.path)
            continue
        log.backend.delete_obj(meta.path)
        deleted.append(name)

    # sidecars of deleted V2 manifests: reap any _sidecars/ file past the
    # retention window that no surviving manifest references (the handful of
    # surviving manifests is re-read — KB-sized metadata)
    sidecars = list(
        log.backend.list_objs(log.backend.join(log.log_dir, "_sidecars"))
    )
    if sidecars:
        referenced: set[str] = set()
        import io as _io

        import pyarrow.parquet as _pq

        for mpath in surviving_v2:
            try:
                raw = log.backend.get_obj(mpath)
            except Exception:
                # could not READ a surviving manifest: its sidecar set is
                # unknown — deleting any sidecar now could corrupt the
                # active checkpoint. Skip sidecar reaping this round.
                return deleted
            try:
                t = _pq.read_table(_io.BytesIO(raw), columns=["sidecar"])
            except (KeyError, pa.lib.ArrowInvalid):
                continue  # manifest genuinely has no sidecar column
            except Exception:
                return deleted  # unparseable manifest: same conservatism
            for sc in t.column("sidecar").to_pylist():
                if sc and sc.get("path"):
                    referenced.add(sc["path"])
        for meta in sidecars:
            name = meta.path.rsplit("/", 1)[-1]
            if name in referenced:
                continue
            if meta.modification_time * 1000 > cutoff_ms:
                continue
            log.backend.delete_obj(meta.path)
            deleted.append(f"_sidecars/{name}")
    return deleted


def maybe_checkpoint(table, version: int, interval: int = 10) -> Optional[CheckPoint]:
    """Reference lambda policy: checkpoint when ``version % interval == 0``
    (``aws/delta-checkpoint/src/main.rs:42-55``), followed by expired-log
    cleanup unless ``delta.enableExpiredLogCleanup=false`` (public Delta
    behavior: metadata cleanup piggybacks on checkpointing).

    With ``delta.enableLogCompaction=true`` the mid-interval commit also
    writes a log-compaction file covering the tail since the last
    checkpoint, halving (amortized) the per-load commit reads between
    checkpoints — on object stores each saved commit read is one RPC."""
    cfg = table.metadata().configuration or {}
    if version > 0 and version % interval == 0:
        cp = create_checkpoint(table)
        if str(cfg.get("delta.enableExpiredLogCleanup", "true")).lower() != "false":
            cleanup_expired_logs(table)
        return cp
    if (
        str(cfg.get("delta.enableLogCompaction", "")).lower() == "true"
        and version > 0
        and version % interval == interval // 2
    ):
        start = version - interval // 2 + 1
        if start <= version - 1:
            try:
                write_log_compaction(table, start, version)
            except Exception:
                # best-effort: a table created mid-window, an already
                # cleaned range, or a transient backend fault just skips
                # this compaction — the commit that triggered the hook
                # already landed and must never appear to fail because of it
                pass
    return None


# ---- log compaction -----------------------------------------------------------

def write_log_compaction(table, start: int, end: int) -> str:
    """Write ``{start:020d}.{end:020d}.compacted.json`` — the action
    reconciliation of commits ``[start, end]`` (public Delta log-compaction
    layout). Snapshot loads whose replay tail begins exactly at ``start``
    fold the one compaction file instead of ``end - start + 1`` commit
    files; commits stay in place (per-version time travel, conflict checks
    and the ICT clock still read them directly).

    Reconciliation (same rules as checkpointing, scoped to the range):
    latest metaData / protocol wholly replace; latest txn per appId; latest
    domainMetadata per domain (removals RETAINED — they must cancel a
    domain set before the range); net file state — an add removed later in
    the range collapses to its tombstone, a tombstone re-added later
    collapses to the add. commitInfo lines are per-commit provenance, not
    state, and are not carried.

    Returns the written path. The log is driver-side metadata: even a
    10k-commit range is a few MB of JSON.
    """
    from .protocol.actions import ActionReconciler, actions_to_log_entry

    log = table.log
    latest = log.latest_version()
    if latest is None:
        raise ValueError("cannot compact an empty log")
    if not (0 <= start < end <= latest):
        raise ValueError(
            f"invalid compaction range [{start}, {end}] (latest version {latest})"
        )
    rec = ActionReconciler()
    for v in range(start, end + 1):
        actions = log.try_read_commit(v)
        if actions is None:
            raise ValueError(f"commit {v} missing; cannot compact [{start}, {end}]")
        rec.apply_all(actions)
    path = log.compaction_path(start, end)
    log.backend.put_obj(
        path, (actions_to_log_entry(rec.reconciled()) + "\n").encode("utf-8")
    )
    return path


# ---- vacuum -------------------------------------------------------------------

def is_hidden_path(rel_path: str) -> bool:
    """Skip dot/underscore paths except `_delta_index`/`_change_data`/
    `_deletion_vectors`; a partition directory (contains '=') is never hidden
    (reference ``rust/src/delta.rs:904-916``; `_deletion_vectors` is this
    engine's DV store — visible to vacuum so orphaned position files are
    reaped once nothing references them)."""
    segs = rel_path.split("/")
    if segs[0].startswith("_deletion_vectors"):
        return False  # whole DV subtree visible (incl. _SUCCESS markers)
    for seg in segs:
        if "=" in seg:
            continue
        if seg.startswith("_delta_index") or seg.startswith("_change_data"):
            continue
        if seg.startswith(".") or seg.startswith("_"):
            return True
    return False


def vacuum(
    table, retention_hours: int = 168, dry_run: bool = True, lite: bool = False
) -> list[str]:
    """Delete (or list, when dry_run) unreferenced files older than retention.

    Raises below the 168-hour floor, like the reference
    (``rust/src/delta.rs:179-183``).

    ``lite=True`` is the public Delta VACUUM LITE mode: deletion candidates
    come from the delta log's Remove tombstones (and expired DV
    descriptors) instead of a full recursive listing of the table root. At
    100 TB the full listing is millions of LIST RPCs over data the log
    already describes; LITE reads zero objects beyond the (bounded) log
    dir. The trade: files the log never tracked (crashed-writer orphans)
    are NOT cleaned — run a full vacuum occasionally for those.
    """
    # vacuumProtocolCheck contract: verify full protocol support BEFORE
    # touching files — a vacuum that ignores an unknown feature (say, an
    # unknown DV scheme) would delete files that feature still references
    from .protocol.snapshot import SUPPORTED_READER_FEATURES
    from .transactions import SUPPORTED_WRITER_FEATURES

    _state = table.snapshot.state
    _unknown = (
        set(_state.reader_features or []) - SUPPORTED_READER_FEATURES
    ) | (set(_state.writer_features or []) - SUPPORTED_WRITER_FEATURES)
    if _unknown:
        raise VacuumError(
            f"vacuum refused: table requires unsupported feature(s) "
            f"{sorted(_unknown)} (vacuumProtocolCheck semantics)"
        )
    if retention_hours < 0:
        raise VacuumError("retention_hours must be non-negative")
    if retention_hours < MIN_RETENTION_HOURS:
        raise VacuumError(
            f"invalid retention period {retention_hours} hours: minimum is "
            f"{MIN_RETENTION_HOURS} hours to avoid breaking readers/writers"
        )
    cutoff_ms = int((time.time() - retention_hours * 3600) * 1000)

    root = table.log.table_root
    active = set(table.files())
    # Deletion-vector dirs referenced by the CURRENT snapshot stay. Dirs no
    # longer referenced by any add get a REMOVAL-time retention clock, not a
    # creation-time one: Remove tombstones carry the DV descriptor the file
    # had, so a dir referenced by any unexpired tombstone is protected —
    # time travel to pre-OPTIMIZE versions keeps working for exactly as long
    # as the data files those versions need (same 168h floor). Once every
    # referencing tombstone expires the dir is reapable immediately. Dirs
    # referenced by no tombstone at all (pre-feature logs) fall back to the
    # untracked-file mtime rule.
    from .protocol.dv import referenced_rel_paths

    def _dv_refs(descriptors) -> tuple[tuple, set]:
        """(dir prefixes, exact .bin files) the descriptors reference —
        legacy parquet-dir DVs pin whole dirs, spec "u" DVs one file."""
        prefixes: list[str] = []
        files: set[str] = set()
        for d in descriptors:
            p, f = referenced_rel_paths(d)
            prefixes.extend(x.rstrip("/") + "/" for x in p)
            files.update(f)
        return tuple(prefixes), files

    active_dv_prefixes, active_dv_files = _dv_refs(
        a.deletion_vector for a in table.add_actions() if a.deletion_vector
    )
    tombstones = table.snapshot.state.tombstones
    unexpired_dv_prefixes, unexpired_dv_files = _dv_refs(
        r.deletion_vector
        for r in tombstones.values()
        if r.deletion_vector and (r.deletion_timestamp or 0) > cutoff_ms
    )
    expired_dv_prefixes, expired_dv_files = _dv_refs(
        r.deletion_vector
        for r in tombstones.values()
        if r.deletion_vector and (r.deletion_timestamp or 0) <= cutoff_ms
    )
    expired_tombstones = {
        path
        for path, r in tombstones.items()
        if (r.deletion_timestamp or 0) <= cutoff_ms
    }

    # enumerate every table file with its mtime: os.walk for local tables,
    # one backend listing for object-store tables (os.walk over a
    # "memory://..." or "gs://..." root silently yields nothing)
    from .protocol.storage import LocalFileBackend

    def _table_files():
        if isinstance(table.log.backend, LocalFileBackend):
            for dirpath, _dirs, files in os.walk(root):
                for fname in files:
                    full = os.path.join(dirpath, fname)
                    rel = os.path.relpath(full, root).replace(os.sep, "/")
                    yield rel, os.stat(full).st_mtime * 1000
        else:
            prefix = root.rstrip("/") + "/"
            for meta in table.log.backend.list_objs(root):
                yield meta.path.split(prefix, 1)[-1], meta.modification_time * 1000

    # UniForm keeps the Iceberg metadata tree under <root>/metadata/ — it is
    # never referenced by the Delta log, so without this guard a full vacuum
    # would reap every manifest ever written
    uniform_on = getattr(table, "_uniform_enabled", lambda: False)()

    def _protected(rel: str) -> bool:
        if uniform_on and rel.startswith("metadata/"):
            return True
        if rel in active:
            return True
        if rel in active_dv_files or rel in unexpired_dv_files:
            return True
        if active_dv_prefixes and rel.startswith(active_dv_prefixes):
            return True
        if unexpired_dv_prefixes and rel.startswith(unexpired_dv_prefixes):
            return True
        return False

    to_delete: list[str] = []
    if lite:
        # log-derived candidates only: expired tombstones + expired DV
        # references. Legacy parquet-dir DV descriptors pin whole dirs —
        # those few dirs get a bounded listing to enumerate their files.
        candidates = set(expired_tombstones) | set(expired_dv_files)
        for pfx in expired_dv_prefixes:
            sub = pfx.rstrip("/")
            if isinstance(table.log.backend, LocalFileBackend):
                subroot = os.path.join(root, sub)
                for dirpath, _dirs, files in os.walk(subroot):
                    for fname in files:
                        full = os.path.join(dirpath, fname)
                        candidates.add(
                            os.path.relpath(full, root).replace(os.sep, "/")
                        )
            else:
                prefix = root.rstrip("/") + "/"
                for meta in table.log.backend.list_objs(
                    table.log.backend.join(root, sub)
                ):
                    candidates.add(meta.path.split(prefix, 1)[-1])
        for rel in sorted(candidates):
            if not _protected(rel):
                to_delete.append(rel)
    else:
        for rel, mtime_ms in _table_files():
            if rel.startswith("_delta_log/"):
                continue
            if is_hidden_path(rel):
                continue
            if _protected(rel):
                continue
            if rel in expired_tombstones:
                to_delete.append(rel)
                continue
            tomb = tombstones.get(rel)
            if tomb is not None:
                continue  # unexpired tombstone: keep
            if rel in expired_dv_files:
                to_delete.append(rel)  # removal-time clock has run out
                continue
            if expired_dv_prefixes and rel.startswith(expired_dv_prefixes):
                to_delete.append(rel)  # removal-time clock has run out
                continue
            # untracked file: delete only when old enough
            if mtime_ms <= cutoff_ms:
                to_delete.append(rel)

    # Losing-writer temp commits: a crashed or conditional-PUT-losing writer
    # leaves `_delta_log/_commit_<token>.json.tmp` behind (the reference's
    # DynamoDB lock repairs these inline, rust/src/storage/s3/mod.rs:495-546;
    # the conditional-PUT design has no repair step, so vacuum reaps them).
    # Fresh temp files are in-flight commits — only aged ones go. Listed via
    # the storage backend, so this works on object stores too.
    backend = table.log.backend
    for meta in backend.list_objs(table.log.log_dir):
        name = meta.path.rsplit("/", 1)[-1]
        if (
            name.startswith("_commit_")
            and name.endswith(".json.tmp")
            and meta.modification_time * 1000 <= cutoff_ms
        ):
            to_delete.append(f"_delta_log/{name}")

    to_delete.sort()
    if not dry_run:
        # thread-pool deletes: local unlinks are ~free, but on object stores
        # each delete is a network round trip — a 100k-file vacuum serialized
        # on one thread would dominate the maintenance window
        from concurrent.futures import ThreadPoolExecutor

        plane = table.log.data_plane

        def _rm(rel: str) -> None:
            try:
                backend.delete_obj(backend.join(root, rel))
            except FileNotFoundError:
                pass
            plane.evict(rel)  # drop any stale mirror copy (bounds /tmp)

        if len(to_delete) <= 4:
            for rel in to_delete:
                _rm(rel)
        else:
            with ThreadPoolExecutor(max_workers=min(32, len(to_delete))) as ex:
                list(ex.map(_rm, to_delete))
        if to_delete and uniform_on:
            # data files are gone: expire exactly the Iceberg snapshots
            # that referenced them (snapshots over still-live files keep
            # their history). Best-effort like the conversion hook.
            try:
                from .uniform.iceberg import expire_snapshots_referencing

                expire_snapshots_referencing(table, set(to_delete))
            except Exception:
                pass
    return to_delete


# ---------------------------------------------------------------------------
# RESTORE: roll the table back to an earlier version as a NEW commit
# ---------------------------------------------------------------------------

def restore(table, version: int) -> dict:
    """Make the table's state equal its state at ``version`` — committed
    forward as a new version (history is append-only; nothing is rewritten).

    Pure log surgery with ZERO data movement: files active then but not now
    are re-added (they are still on disk unless vacuumed — the same
    guarantee time travel relies on), files active now but not then are
    tombstoned. Metadata (schema/partitioning/configuration) is restored
    wholesale, matching the protocol's metaData-replaces semantics.
    Undo for a bad DML/overwrite in O(#files) driver work.
    """
    import time as _time

    from .protocol.actions import RemoveAction
    from .protocol.snapshot import Snapshot
    from .transactions import DeltaTransaction

    current = table.snapshot
    target = Snapshot.load(table.log, version)

    cur_files = {a.path: a for a in current.files()}
    tgt_files = {a.path: a for a in target.files()}

    def _dv_key(a):
        d = a.deletion_vector
        if not d:
            return None
        return (d.get("storageType"), d.get("pathOrInlineDv"), d.get("offset"))

    to_add = [a for p, a in tgt_files.items() if p not in cur_files]
    # same path, different deletion vector: a merge-on-read DELETE/UPDATE
    # (or a purge) between the target and now changed the file's LOGICAL
    # content without changing its path — re-adding the target's action
    # restores the old DV state (protocol replay keeps the latest add per
    # path, so no remove is needed)
    to_add += [
        a
        for p, a in tgt_files.items()
        if p in cur_files and _dv_key(cur_files[p]) != _dv_key(a)
    ]
    to_remove = [a for p, a in cur_files.items() if p not in tgt_files]

    # restored files — and any file-based DVs they carry — must still exist
    # (vacuum may have reaped them)
    from .protocol.dv import referenced_rel_paths

    missing = [
        a.path
        for a in to_add
        if not table.log.backend.exists(current._absolute(a.path))
    ]
    for a in to_add:
        if a.deletion_vector:
            prefixes, dv_files = referenced_rel_paths(a.deletion_vector)
            missing += [
                rel
                for rel in list(dv_files) + list(prefixes)
                if not table.log.backend.exists(current._absolute(rel))
            ]
    if missing:
        raise VacuumError(
            f"cannot restore to version {version}: {len(missing)} data files "
            f"were vacuumed (first: {missing[0]})"
        )

    txn = DeltaTransaction(table)
    now_ms = int(_time.time() * 1000)
    if target.metadata.to_json_dict() != current.metadata.to_json_dict():
        restored_meta = target.metadata
        # identity high-water marks never roll back (public Delta RESTORE
        # semantics): downstream consumers have seen the ids issued since
        # the target version — re-issuing them after a restore would hand
        # the same id to different rows across the two timelines
        from .protocol import identity as _idc
        from .protocol.schema import (
            schema_string_to_spark as _s2s,
            spark_to_schema_string as _ss,
        )

        cur_specs = _idc.specs(_s2s(current.metadata.schema_string))
        tgt_schema = _s2s(restored_meta.schema_string)
        marks: dict[str, int] = {}
        for name, spec in _idc.specs(tgt_schema).items():
            cur = cur_specs.get(name)
            if cur is None or cur.high_water_mark is None:
                continue
            ahead = spec.high_water_mark is None or (
                cur.high_water_mark > spec.high_water_mark
                if spec.step > 0
                else cur.high_water_mark < spec.high_water_mark
            )
            if ahead:
                marks[name] = cur.high_water_mark
        if marks:
            import dataclasses as _dc

            restored_meta = _dc.replace(
                restored_meta,
                schema_string=_ss(_idc.schema_with_water_marks(tgt_schema, marks)),
                configuration=dict(restored_meta.configuration or {}),
            )
        txn.add_action(restored_meta)
    for a in to_add:
        txn.add_action(a)
    for a in to_remove:
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
    new_version = txn.commit(
        operation="RESTORE",
        operation_parameters={"version": version},
        operation_metrics={
            "numRestoredFiles": str(len(to_add)),
            "numRemovedFiles": str(len(to_remove)),
        },
    )
    table.update()
    return {
        "version": new_version,
        "numRestoredFiles": len(to_add),
        "numRemovedFiles": len(to_remove),
    }


# ---------------------------------------------------------------------------
# Shallow clone: a new table whose log references the source's data files
# ---------------------------------------------------------------------------

def shallow_clone(table, target_uri: str, version: int | None = None) -> "object":
    """Create a new Delta table at ``target_uri`` whose Add actions point at
    the SOURCE table's data files by absolute path — metadata-only copy,
    zero data movement, O(#files) driver work at any table size.

    The clone has its own independent log: appends/DML/optimize on the clone
    write new files under the clone's root and never touch the source;
    vacuum on the clone only ever deletes files under the clone's root
    (absolute-path source files are outside its listing). Snapshot readers
    already handle absolute paths, so the clone is immediately queryable.
    """
    import time as _time
    import uuid as _uuid

    from .protocol.actions import (
        AddAction,
        CommitInfoAction,
        DomainMetadataAction,
        ProtocolAction,
    )
    from .protocol.log import DeltaLog
    from .protocol.snapshot import Snapshot
    from .table import DeltaTable

    src_snap = table.snapshot if version is None else Snapshot.load(table.log, version)

    def _clone_dv(d):
        """DV descriptors travel with the clone, rewritten so the clone can
        resolve them without the source's log: 'u' (table-root-relative
        uuid file) becomes 'p' (absolute path); legacy 'd' position dirs
        become absolute. Inline ('i') and already-absolute forms pass
        through. Without this the clone would silently resurrect every
        merge-on-read-deleted row."""
        if d is None:
            return None
        from .protocol.dv import dv_file_rel_path

        d = dict(d)
        st = d.get("storageType")
        if st == "u":
            d["storageType"] = "p"
            d["pathOrInlineDv"] = src_snap._absolute(
                dv_file_rel_path(d["pathOrInlineDv"])
            )
        elif st == "d":
            d["paths"] = [
                p if ("://" in p or p.startswith("/")) else src_snap._absolute(p)
                for p in (d.get("paths") or [])
            ]
        return d

    adds = [
        AddAction(
            path=src_snap._absolute(a.path),
            size=a.size,
            partition_values=a.partition_values,
            modification_time=a.modification_time,
            data_change=True,
            stats=a.stats,
            tags=a.tags,
            deletion_vector=_clone_dv(a.deletion_vector),
            base_row_id=a.base_row_id,
            default_row_commit_version=a.default_row_commit_version,
        )
        for a in src_snap.files()
    ]
    meta = src_snap.metadata
    new_meta = type(meta)(
        id=str(_uuid.uuid4()),
        schema_string=meta.schema_string,
        partition_columns=meta.partition_columns,
        name=meta.name,
        description=meta.description,
        created_time=int(_time.time() * 1000),
        configuration=dict(meta.configuration or {}),
    )
    info = CommitInfoAction(
        info={
            "timestamp": int(_time.time() * 1000),
            "operation": "CLONE",
            "operationParameters": {
                "source": table.table_uri,
                "sourceVersion": src_snap.version,
                "isShallow": "true",
            },
            "operationMetrics": {"numClonedFiles": str(len(adds))},
        }
    )
    # system domains MUST travel with the clone: losing delta.rowTracking's
    # high-water mark would re-allocate duplicate row ids from 0 on the
    # clone's first append; delta.clustering / delta.copyInto state likewise
    # describe the cloned snapshot, not the source's location
    domains = [
        DomainMetadataAction(domain=d, configuration=cfg)
        for d, cfg in sorted((src_snap.state.domain_metadata or {}).items())
    ]
    # the clone needs the SOURCE's protocol: its configuration/schema carry
    # the same features (column mapping, DVs, identity, timestampNtz...) —
    # a hardcoded (1,2) protocol would be spec-illegal for any of them
    src_state = src_snap.state
    proto = ProtocolAction(
        src_state.min_reader_version or 1,
        src_state.min_writer_version or 2,
        reader_features=(
            list(src_state.reader_features)
            if src_state.reader_features is not None
            else None
        ),
        writer_features=(
            list(src_state.writer_features)
            if src_state.writer_features is not None
            else None
        ),
    )
    log = DeltaLog(target_uri)
    tmp = log.write_tmp_commit(
        [info, proto, new_meta, *domains, *adds], _uuid.uuid4().hex
    )
    log.try_commit(tmp, 0)
    return DeltaTable(target_uri)


def deep_clone(table, target_uri: str, version: int | None = None) -> "object":
    """``CREATE TABLE ... DEEP CLONE``: a fully independent copy — every
    live data file (and deletion-vector file) is copied under the target
    root and the clone's v0 log references them by RELATIVE path, so the
    result is self-contained and relocatable (vacuum/DML on either table
    can never touch the other's storage).

    Copy mechanics: same-backend-type clones use ``StorageBackend.copy_obj``
    — a SERVER-SIDE copy on S3/GCS/Azure (one bounded API call per file, the
    payload never moves through the driver), a ``shutil.copyfile`` locally.
    Cross-scheme clones fall back to get+put through the driver (documented:
    that is a data migration, not a clone, and is bandwidth-bound by
    nature). Files copy concurrently from a 32-thread pool, so wall-clock is
    round-trip-bound, not file-count-bound.

    Deletion vectors travel physically: 'u' descriptors keep their relative
    uuid layout under the clone root (descriptor unchanged), absolute 'p'
    files are copied under the clone and re-pointed, inline 'i' needs no
    copy. Domain metadata (row-tracking high-water mark, clustering spec,
    COPY INTO registry) is carried like the shallow clone does.
    """
    import time as _time
    import uuid as _uuid
    from concurrent.futures import ThreadPoolExecutor

    from .protocol.actions import (
        AddAction,
        CommitInfoAction,
        DomainMetadataAction,
        ProtocolAction,
    )
    from .protocol.dv import dv_file_rel_path, is_legacy
    from .protocol.log import DeltaLog
    from .protocol.snapshot import Snapshot
    from .table import DeltaTable

    src_snap = table.snapshot if version is None else Snapshot.load(table.log, version)
    src_backend = table.log.backend
    dst_log = DeltaLog(target_uri)
    dst_backend = dst_log.backend
    same_kind = type(src_backend) is type(dst_backend)

    copies: list[tuple[str, str]] = []  # (src absolute, dst absolute)
    seen_rel: set[str] = set()

    def _dst_rel_for(a) -> str:
        """Target-relative path for a cloned data file: reuse the source's
        relative layout; absolute adds (the source was itself a shallow
        clone) are re-homed under their Hive partition dirs."""
        if "://" not in a.path and not a.path.startswith("/"):
            rel = a.path
        else:
            base = a.path.rstrip("/").rsplit("/", 1)[-1]
            part_dir = "/".join(
                f"{k}={'__HIVE_DEFAULT_PARTITION__' if v is None else v}"
                for k, v in (a.partition_values or {}).items()
            )
            rel = f"{part_dir}/{base}" if part_dir else base
        while rel in seen_rel:  # basename collision across absolute sources
            rel = f"{_uuid.uuid4().hex[:8]}-{rel}"
        seen_rel.add(rel)
        return rel

    def _clone_dv(d):
        if d is None:
            return None
        st = d.get("storageType")
        if st == "i":
            return dict(d)
        if st == "u":
            rel = dv_file_rel_path(d["pathOrInlineDv"])
            copies.append(
                (
                    src_snap._absolute(rel),
                    dst_backend.join(dst_log.table_root, rel),
                )
            )
            return dict(d)
        if st == "p":
            # re-encode as a spec 'u' descriptor relative to the clone root:
            # vacuum's DV protection understands 'u' (an absolute 'p' path
            # INSIDE the clone root would be reaped as untracked storage)
            from .protocol.dv import z85_encode

            new_id = _uuid.uuid4()
            encoded = z85_encode(new_id.bytes)
            out = dict(d)
            out["storageType"] = "u"
            out["pathOrInlineDv"] = encoded
            copies.append(
                (
                    d["pathOrInlineDv"],
                    dst_backend.join(
                        dst_log.table_root, dv_file_rel_path(encoded)
                    ),
                )
            )
            return out
        if is_legacy(d):
            # legacy 'd' parquet-position dirs: copy every object under each
            # prefix, keeping the relative layout
            out_paths = []
            for p in d.get("paths") or []:
                abs_p = (
                    p if ("://" in p or p.startswith("/")) else src_snap._absolute(p)
                )
                rel_root = f"deletion_vectors/deepclone-{_uuid.uuid4().hex}"
                for om in src_backend.list_objs(abs_p):
                    tail = om.path[len(abs_p) :].lstrip("/")
                    copies.append(
                        (
                            om.path,
                            dst_backend.join(dst_log.table_root, rel_root, tail),
                        )
                    )
                out_paths.append(rel_root)
            out = dict(d)
            out["paths"] = out_paths
            return out
        raise ValueError(f"deep clone: unsupported DV storageType {st!r}")

    adds = []
    for a in src_snap.files():
        rel = _dst_rel_for(a)
        copies.append(
            (src_snap._absolute(a.path), dst_backend.join(dst_log.table_root, rel))
        )
        adds.append(
            AddAction(
                path=rel,
                size=a.size,
                partition_values=a.partition_values,
                modification_time=a.modification_time,
                data_change=True,
                stats=a.stats,
                tags=a.tags,
                deletion_vector=_clone_dv(a.deletion_vector),
                base_row_id=a.base_row_id,
                default_row_commit_version=a.default_row_commit_version,
            )
        )

    def _copy(pair: tuple[str, str]) -> None:
        src, dst = pair
        if same_kind:
            dst_backend.copy_obj(src, dst)
        else:
            dst_backend.put_obj(dst, src_backend.get_obj(src))

    # shared DV .bin files appear once per referencing descriptor — dedupe
    # by destination so no two threads write the same object concurrently
    unique_copies = list({dst: (src, dst) for src, dst in copies}.values())
    if unique_copies:
        with ThreadPoolExecutor(max_workers=min(32, len(unique_copies))) as ex:
            list(ex.map(_copy, unique_copies))

    meta = src_snap.metadata
    new_meta = type(meta)(
        id=str(_uuid.uuid4()),
        schema_string=meta.schema_string,
        partition_columns=meta.partition_columns,
        name=meta.name,
        description=meta.description,
        created_time=int(_time.time() * 1000),
        configuration=dict(meta.configuration or {}),
    )
    info = CommitInfoAction(
        info={
            "timestamp": int(_time.time() * 1000),
            "operation": "CLONE",
            "operationParameters": {
                "source": table.table_uri,
                "sourceVersion": src_snap.version,
                "isShallow": "false",
            },
            "operationMetrics": {
                "numClonedFiles": str(len(adds)),
                "numCopiedObjects": str(len({dst for _, dst in copies})),
            },
        }
    )
    domains = [
        DomainMetadataAction(domain=d, configuration=cfg)
        for d, cfg in sorted((src_snap.state.domain_metadata or {}).items())
    ]
    src_state = src_snap.state
    proto = ProtocolAction(
        src_state.min_reader_version or 1,
        src_state.min_writer_version or 2,
        reader_features=(
            list(src_state.reader_features)
            if src_state.reader_features is not None
            else None
        ),
        writer_features=(
            list(src_state.writer_features)
            if src_state.writer_features is not None
            else None
        ),
    )
    tmp = dst_log.write_tmp_commit(
        [info, proto, new_meta, *domains, *adds], _uuid.uuid4().hex
    )
    dst_log.try_commit(tmp, 0)
    return DeltaTable(target_uri)


def generate_symlink_manifest(table) -> dict:
    """``GENERATE symlink_format_manifest`` (the public Delta utility,
    absent from the reference): write Hive-style manifest files under
    ``_symlink_format_manifest/`` naming the absolute URIs of the current
    snapshot's data files — one URI per line, one manifest per partition
    directory — the listing contract Presto / Trino / Athena / Redshift
    Spectrum use to read Delta tables without a Delta reader.

    Full mode (the public default): rewrites every partition's manifest
    and removes manifests for partitions that no longer exist. Refuses
    while any live file carries a deletion vector — a manifest can only
    name whole files, so external readers would resurrect the deleted
    rows (run ``REORG TABLE ... APPLY (PURGE)`` first; same gate real
    Delta applies). Cost: one bounded write per partition plus one
    listing of the manifest subtree — no data I/O, no Spark job.
    """
    from .protocol.storage import LocalFileBackend

    log = table.log
    backend = log.backend
    root = log.table_root
    adds = table.add_actions()
    dvd = [a.path for a in adds if a.deletion_vector]
    if dvd:
        raise ValueError(
            "GENERATE symlink_format_manifest: "
            f"{len(dvd)} live file(s) carry deletion vectors; external "
            "readers listing whole files would resurrect deleted rows. "
            "Run REORG TABLE ... APPLY (PURGE) first."
        )

    base = backend.join(root, "_symlink_format_manifest")
    groups: dict[str, list[str]] = {}
    for a in adds:
        if "://" in a.path or a.path.startswith("/"):
            # absolute add (shallow-clone source): group by partition values
            uri = a.path
            part_dir = "/".join(
                f"{k}={'__HIVE_DEFAULT_PARTITION__' if v is None else v}"
                for k, v in (a.partition_values or {}).items()
            )
        else:
            uri = backend.join(root, a.path)
            part_dir = a.path.rsplit("/", 1)[0] if "/" in a.path else ""
        groups.setdefault(part_dir, []).append(uri)

    existing: set[str] = set()
    if isinstance(backend, LocalFileBackend):
        for dirpath, _dirs, files in os.walk(base):
            for fname in files:
                existing.add(os.path.join(dirpath, fname).replace(os.sep, "/"))
    else:
        existing.update(m.path for m in backend.list_objs(base))

    written: set[str] = set()
    for part_dir, uris in groups.items():
        mpath = backend.join(
            backend.join(base, part_dir) if part_dir else base, "manifest"
        )
        backend.put_obj(mpath, ("\n".join(sorted(uris)) + "\n").encode())
        written.add(mpath)
    stale = existing - written
    for p in stale:
        backend.delete_obj(p)
    return {
        "numManifestsWritten": len(written),
        "numManifestsRemoved": len(stale),
        "numFilesListed": len(adds),
    }
