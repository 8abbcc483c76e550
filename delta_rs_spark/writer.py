"""Write path: Spark writes the data, the driver commits the log.

Flow (Spark equivalent of the reference's writer+transaction,
``rust/src/writer.rs:60-140`` and ``rust/src/delta.rs:1234-1298``):

1. Executors write parquet via ``df.write.partitionBy(...)`` into a hidden
   staging dir inside the table (``.tmp-commit-<uuid>/``) — one function,
   :func:`stage_rows`, for appends, overwrites and DML rewrites, through
   one writer, :func:`parquet_writer` (``PARQUET_CODEC``, Parquet v2 data
   pages: delta-encoded keys and dates instead of PLAIN). A write
   whose row count is known (pyarrow/pandas input, DML rewrites, change
   files) runs ``ceil(rows / ROWS_PER_FILE)`` tasks, so a small write adds
   one file per partition value, as the reference's writer does; a Spark
   DataFrame of unknown size keeps its own partitioning.
2. Per-file stats (numRecords/min/max/nullCount) come from the **parquet
   footers** of the staged files, read on a driver thread pool — no second
   data scan and no Spark job; footers are KBs per file. They reach the
   log as compact, strict JSON (:func:`_stats_json`).
3. Staged files are published under fresh unique names
   (``part-00000-<uuid>-c000.zstd.parquet``, hive partition dirs kept)
   through the table's data plane (``protocol/dataio.py``): a rename on a
   local filesystem, a server-side copy or an upload on object stores.
4. The driver commits Add (+Remove for overwrite) actions through the
   optimistic-concurrency loop.

Schema enforcement is v0-strict: append to an existing table requires an
identical schema (reference ``rust/src/delta.rs:159-165`` SchemaMismatch).
"""

from __future__ import annotations

import os
import time
import uuid
from typing import Optional, Sequence
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from .protocol.actions import (
    AddAction,
    MetaDataAction,
    ProtocolAction,
    RemoveAction,
    string_map,
)
from .protocol import column_mapping as cm
from .protocol.log import DeltaLog
from .protocol.schema import schema_string_to_spark, spark_to_schema_string
from .table import DeltaTable
from .transactions import DeltaTransaction

SAVE_MODES = {"append", "overwrite", "error", "errorifexists", "ignore"}

CHECKPOINT_INTERVAL = 10  # reference lambda policy: every 10th version


class SchemaMismatchError(Exception):
    pass


class TableAlreadyExistsError(Exception):
    pass


class ConstraintViolationError(Exception):
    pass


CONSTRAINT_PREFIX = "delta.constraints."


def check_constraints(
    df: DataFrame,
    configuration: dict[str, str] | None,
    schema=None,
) -> None:
    """Enforce CHECK constraints (public Delta table-property convention:
    ``delta.constraints.<name> = <sql predicate>``) and — when the target
    table's declared ``schema`` is given — NOT NULL column invariants, on
    data about to be written. One combined scan counts violations of ALL
    constraints; a CHECK row violates when its predicate is FALSE or NULL.
    Raises ConstraintViolationError naming each violation with its count."""
    from pyspark.sql import functions as F

    constraints = {
        k[len(CONSTRAINT_PREFIX):]: v
        for k, v in (configuration or {}).items()
        if k.startswith(CONSTRAINT_PREFIX)
    }
    # old-style column invariants (legacy writer-2 `invariants` feature):
    # a field's metadata may carry `delta.invariants` =
    # {"expression": {"expression": "<sql>"}} — tables written by older
    # engines rely on every writer enforcing it; folded into the same scan
    if schema is not None:
        import json as _json

        for f in schema.fields:
            inv = (f.metadata or {}).get("delta.invariants")
            if not inv:
                continue
            try:
                expr = _json.loads(inv)["expression"]["expression"]
            except (ValueError, KeyError, TypeError):
                continue
            constraints.setdefault(f"invariant({f.name})", expr)
    # NOT NULL comes from the TABLE's declared schema, never the incoming
    # frame's (Spark frequently widens nullability through shuffles)
    notnull_cols = [
        f.name
        for f in (schema.fields if schema is not None else [])
        if not f.nullable and f.name in df.columns
    ]
    if not constraints and not notnull_cols:
        return
    aggs = [
        F.sum(
            F.when(~F.coalesce(F.expr(expr), F.lit(False)), 1).otherwise(0)
        ).alias(name)
        for name, expr in constraints.items()
    ] + [
        F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nn__{c}")
        for c in notnull_cols
    ]
    row = df.agg(*aggs).collect()[0]
    violated = {
        name: int(row[name]) for name in constraints if row[name] and row[name] > 0
    }
    null_violated = {
        c: int(row[f"__nn__{c}"]) for c in notnull_cols if row[f"__nn__{c}"]
    }
    if violated or null_violated:
        parts = [
            f"{name} ({constraints[name]!r}): {n} rows"
            for name, n in violated.items()
        ] + [
            f"NOT NULL column {c!r}: {n} null rows"
            for c, n in null_violated.items()
        ]
        raise ConstraintViolationError(
            "constraint(s) violated: " + ", ".join(parts)
        )


def write_deltalake(
    spark: SparkSession,
    df: DataFrame,
    table_uri: str,
    mode: str = "append",
    partition_by: Optional[Sequence[str]] = None,
    name: Optional[str] = None,
    description: Optional[str] = None,
    configuration: Optional[dict[str, str]] = None,
    max_records_per_file: Optional[int] = None,
    extra_actions: Optional[list] = None,
    operation: str = "WRITE",
    operation_parameters_extra: Optional[dict] = None,
    replace_where: Optional[str] = None,
    schema_mode: Optional[str] = None,
    partition_overwrite_mode: Optional[str] = None,
    generated_columns: Optional[dict[str, str]] = None,
    identity_columns: Optional[dict[str, dict]] = None,
    column_defaults: Optional[dict[str, str]] = None,
    cluster_by: Optional[Sequence[str]] = None,
    read_domains: Optional[Sequence[str]] = None,
) -> DeltaTable:
    """Write ``df`` to a Delta table, creating it if absent. Returns the table.

    ``read_domains`` declares domainMetadata domains whose CURRENT value
    this write read and replaces via ``extra_actions`` (e.g. COPY INTO's
    loaded-file registry) — a concurrent replace of the same domain aborts
    the commit with ConcurrentDomainMetadataError instead of silently
    dropping the winner's update.

    ``extra_actions`` ride in the same commit (e.g. a ``txn`` action for
    exactly-once streaming sinks); ``operation``/``operation_parameters_extra``
    customize the commitInfo provenance (e.g. STREAMING UPDATE with
    queryId/epochId, reference ``rust/src/action.rs:792-800``).

    ``replace_where`` (overwrite mode only) scopes the overwrite to rows
    matching a SQL predicate — the Delta writer's partition/predicate
    overwrite: existing rows matching the predicate are replaced by ``df``
    in ONE atomic commit; rows outside the predicate are untouched. Every
    incoming row must satisfy the predicate (enforced). File work is
    stats/partition-pruned like DML: only files containing matching rows
    are rewritten.

    ``partition_overwrite_mode="dynamic"`` (overwrite mode, partitioned
    tables) removes ONLY the partitions the incoming frame touches — the
    Spark/Delta dynamic-overwrite contract, and the idempotent-backfill
    pattern at scale: re-running a day's job replaces that day, never the
    table. Unpartitioned tables fall back to full overwrite (nothing to
    scope by). ``"static"``/None keeps the replace-everything default.

    ``schema_mode`` relaxes v0's strict no-evolution check
    (``rust/src/delta.rs:159-165``) with the public Delta writer semantics:
    ``"merge"`` appends new nullable columns to the table schema in the same
    commit (a new metaData action — replay *wholly replaces* metadata, so
    old files simply read the added columns as NULL through the explicit
    read schema); common columns must keep their exact types, and dropped
    columns are filled with typed NULLs. ``"overwrite"`` (with
    ``mode='overwrite'`` only) replaces the schema wholesale.
    """
    n_rows: Optional[int] = None
    naive_ts: list[str] = []
    if not isinstance(df, DataFrame):
        # migration ergonomics: the reference's writer surface takes pandas /
        # pyarrow input — accept both and lift into Spark straight from
        # Arrow, keeping the Arrow types (a pandas round trip turns a
        # nullable int into double and narrows decimals to their values)
        import pandas as _pd
        import pyarrow as _pa

        if isinstance(df, _pd.DataFrame):
            df = _pa.Table.from_pandas(df, preserve_index=False)
        if not isinstance(df, _pa.Table):
            raise TypeError(
                f"df must be a Spark DataFrame, pandas DataFrame, or pyarrow "
                f"Table, got {type(df).__name__}"
            )
        n_rows = df.num_rows
        # Spark types a naive Arrow timestamp as `timestamp`; remember the
        # columns so an NTZ table can take them as `timestamp_ntz`
        naive_ts = [
            f.name for f in df.schema if _pa.types.is_timestamp(f.type) and f.type.tz is None
        ]
        df = spark.createDataFrame(df)

    mode = mode.lower()
    if mode not in SAVE_MODES:
        raise ValueError(f"mode must be one of {sorted(SAVE_MODES)}")
    if replace_where is not None and mode != "overwrite":
        raise ValueError("replace_where requires mode='overwrite'")
    if schema_mode not in (None, "merge", "overwrite"):
        raise ValueError("schema_mode must be None, 'merge', or 'overwrite'")
    if schema_mode == "overwrite" and mode != "overwrite":
        raise ValueError("schema_mode='overwrite' requires mode='overwrite'")
    if schema_mode is not None and replace_where is not None:
        raise ValueError("schema evolution is not supported with replace_where")
    if partition_overwrite_mode not in (None, "static", "dynamic"):
        raise ValueError("partition_overwrite_mode must be None, 'static', or 'dynamic'")
    if partition_overwrite_mode == "dynamic" and mode != "overwrite":
        raise ValueError("partition_overwrite_mode='dynamic' requires mode='overwrite'")
    if partition_overwrite_mode == "dynamic" and replace_where is not None:
        # the replace_where branch returns before dynamic-overwrite logic
        # runs — raise instead of silently ignoring one of the two scopes
        raise ValueError(
            "partition_overwrite_mode='dynamic' cannot be combined with "
            "replace_where; the predicate already scopes the overwrite"
        )

    # table properties are protocol strings from here on: a caller's True
    # or 5 is stored as "true" / "5", as every reader of the log expects
    configuration = string_map(configuration or {})
    log = DeltaLog(table_uri)
    exists = log.backend.exists(log.log_dir) and log.latest_version() is not None

    # NTZ handling is decided by the TABLE's feature opt-in on appends, the
    # incoming configuration on create; the table handle is loaded once and
    # reused below (a second load would replay the log twice per write)
    table: Optional[DeltaTable] = DeltaTable(table_uri) if exists else None
    if exists and configuration:
        # table configuration is a CREATE-time declaration; a write to an
        # existing table keeps the stored config. Silently ignoring a
        # CONFLICTING request hid that contract from callers — warn with
        # the exact divergent keys. Re-passing the stored values stays
        # silent: both sides are str→str by now, so a passed True matches
        # a stored "true".
        stored_cfg = table.metadata().configuration or {}
        divergent = {
            k: (stored_cfg.get(k), v)
            for k, v in configuration.items()
            if stored_cfg.get(k) != v
        }
        if divergent:
            import warnings

            warnings.warn(
                f"write to existing table {table_uri} ignores the passed"
                f" configuration for {sorted(divergent)} (stored values"
                " win; table configuration is creation-time — use"
                " DeltaTable properties/feature APIs to change it)",
                UserWarning,
                stacklevel=2,
            )
    if exists and naive_ts:
        # a column the table already stores as `timestamp` keeps that type
        stored = {f.name: f.dataType.typeName() for f in table.schema().fields}
        naive_ts = [c for c in naive_ts if stored.get(c) != "timestamp"]
    df = _normalize_timestamps(
        df, table.metadata().configuration if exists else configuration, naive_ts
    )

    from .protocol import generated as gen

    if cluster_by is not None:
        if exists:
            raise ValueError(
                "cluster_by is a CREATE-time declaration (the clustering "
                "domain already records the existing table's layout)"
            )
        if partition_by:
            raise ValueError(
                "cluster_by and partition_by are mutually exclusive "
                "(clustered tables are unpartitioned; clustering replaces "
                "the directory layout with a data layout)"
            )
    if exists and generated_columns:
        raise ValueError(
            "generated_columns is a CREATE-time declaration; the existing "
            "table's schema metadata already carries the expressions"
        )
    if exists and identity_columns:
        raise ValueError(
            "identity_columns is a CREATE-time declaration; the existing "
            "table's schema metadata already carries the specs"
        )
    if exists and column_defaults:
        raise ValueError(
            "column_defaults at write time is a CREATE-time declaration; "
            "use DeltaTable.set_column_default on an existing table"
        )

    from .protocol import defaults as dfl

    # CREATE with defaults: materialize omitted default columns up front so
    # their types join the declared schema
    if not exists and column_defaults:
        from pyspark.sql import functions as _F

        for _n, _e in column_defaults.items():
            if _n not in df.columns:
                df = df.withColumn(_n, _F.expr(_e))

    # declared schema for CREATE: the frame's schema plus generated-column
    # expressions (computed into the frame when omitted)
    if not exists and generated_columns:
        df, declared_schema = gen.annotate_schema(df, generated_columns)
    else:
        declared_schema = df.schema

    from .protocol import identity as idc

    if not exists and identity_columns:
        declared_schema = idc.annotate_schema(
            identity_columns, declared_schema, df.columns
        )
    if not exists and column_defaults:
        declared_schema = dfl.annotate_schema(
            column_defaults, declared_schema, df.columns, spark=spark
        )

    if exists:
        if mode in ("error", "errorifexists"):
            raise TableAlreadyExistsError(f"{table_uri} already exists")
        if mode == "ignore":
            return table
        # generated columns: compute omitted / validate provided — before the
        # strict schema check, which requires the full column set
        df = gen.apply_on_write(df, table.schema())
        # identity columns: assign omitted values (shuffle-free codegen);
        # the water-mark metaData update joins the commit below
        df, id_assigned = idc.apply_on_write(df, table.schema())
        # column DEFAULTs: materialize omitted columns (provided values win)
        df = dfl.apply_on_write(df, table.schema())
        new_meta: Optional[MetaDataAction] = None
        if schema_mode == "merge":
            df, new_meta = _merge_schema(table, df)
        elif schema_mode == "overwrite":
            if cm.is_mapped(table.metadata().configuration):
                raise SchemaMismatchError(
                    "schema_mode='overwrite' is not supported on column-mapped "
                    "tables (column ids of replaced columns would be ambiguous); "
                    "use add_columns/rename_column/drop_column DDL instead"
                )
            if spark_to_schema_string(df.schema) != spark_to_schema_string(
                table.schema()
            ):
                old = table.metadata()
                new_meta = MetaDataAction(
                    id=old.id,
                    schema_string=spark_to_schema_string(df.schema),
                    partition_columns=old.partition_columns,
                    name=old.name,
                    description=old.description,
                    created_time=old.created_time,
                    configuration=dict(old.configuration),
                )
        else:
            _check_schema(table, df)
        requested_pby = list(partition_by) if partition_by is not None else None
        partition_by = table.metadata().partition_columns
        if requested_pby is not None and requested_pby != partition_by:
            # silently keeping the old layout would make
            # CREATE OR REPLACE ... PARTITIONED BY a no-op
            if mode != "overwrite" or replace_where is not None:
                raise SchemaMismatchError(
                    f"partition_by {requested_pby} does not match the table's "
                    f"partitioning {partition_by}; changing partitioning "
                    "requires a full overwrite"
                )
            if cm.is_mapped(table.metadata().configuration):
                raise SchemaMismatchError(
                    "changing partitioning on a column-mapped table is not "
                    "supported"
                )
            old = table.metadata()
            if new_meta is None:
                new_meta = MetaDataAction(
                    id=old.id,
                    schema_string=spark_to_schema_string(df.schema),
                    partition_columns=requested_pby,
                    name=old.name,
                    description=old.description,
                    created_time=old.created_time,
                    configuration=dict(old.configuration),
                )
            else:
                new_meta.partition_columns = requested_pby
            partition_by = requested_pby
        missing_pcols = [c for c in partition_by if c not in df.columns]
        if missing_pcols:
            raise SchemaMismatchError(
                f"write is missing partition column(s) {missing_pcols}"
            )
        if replace_where is not None:
            if id_assigned:
                raise ValueError(
                    "replace_where cannot assign identity column(s) "
                    f"{sorted(id_assigned)}; provide explicit values "
                    "(allowExplicitInsert) and run SYNC IDENTITY after"
                )
            # constraints are enforced once, inside the rewrite commit
            return _replace_where(
                spark,
                table,
                df,
                replace_where,
                max_records_per_file,
                extra_actions=extra_actions,
                operation_parameters_extra=operation_parameters_extra,
            )
        check_constraints(df, table.metadata().configuration, schema=table.schema())
    else:
        # CREATE: assign identity values from the declared specs
        df, id_assigned = idc.apply_on_write(df, declared_schema)
        partition_by = list(partition_by or [])
        missing = [c for c in partition_by if c not in df.columns]
        if missing:
            raise ValueError(f"partition columns {missing} not in DataFrame")
        check_constraints(df, configuration)

    # ---- column mapping: data files live under PHYSICAL names --------------
    # (logical names stay user-facing; the rename is the last hop before disk)
    if exists:
        mapped_schema = (
            schema_string_to_spark(new_meta.schema_string)
            if new_meta is not None
            else table.schema()
        )
        cfg_for_write = table.metadata().configuration
    else:
        cfg_for_write = configuration = dict(configuration or {})
        mapped_schema = declared_schema
    mapping_on = cm.is_mapped(cfg_for_write)
    if mapping_on and not exists:
        mapped_schema, max_id = cm.assign_mapping(declared_schema)
        configuration[cm.MAX_ID_KEY] = str(max_id)
    # partitionValues and stats keys are physical names on mapped tables
    # (dynamic overwrite and the identity water marks read them)
    name_map = cm.top_level_physical(mapped_schema) if mapping_on else None
    stage_partition_by = [
        name_map[c] if name_map else c for c in partition_by or []
    ]

    # ---- 1-3. stage with Spark, stats from footers, move into place -------
    adds = stage_rows(
        spark,
        log,
        df,
        mapped_schema,
        cfg_for_write,
        partition_by,
        n_rows=n_rows,
        max_records_per_file=max_records_per_file,
    )
    id_marks: dict[str, int] = {}
    if id_assigned:
        id_marks = idc.advanced_water_marks(id_assigned, adds, name_map=name_map)

    # ---- 4. commit -------------------------------------------------------------
    params = {
        "mode": {"append": "Append", "overwrite": "Overwrite"}.get(mode, "ErrorIfExists"),
        "partitionBy": list(partition_by or []),
        **(operation_parameters_extra or {}),
    }
    metrics = {
        "numFiles": str(len(adds)),
        "numOutputRows": str(sum(a.num_records or 0 for a in adds)),
        "numOutputBytes": str(sum(a.size for a in adds)),
    }

    if not exists:
        from .protocol import dv
        from .protocol import row_tracking as rt
        from .uniform import iceberg as ub

        configuration = dict(configuration or {})
        # new tables delete and update by deletion vector unless the caller
        # opts out; UniForm's Iceberg mirror cannot carry them (IcebergCompat)
        if dv.ENABLE_KEY not in configuration and not ub.enabled(configuration):
            configuration[dv.ENABLE_KEY] = "true"
        dv_on = dv.enabled(configuration)
        rt_on = rt.enabled(configuration)
        rt_actions: list = []
        cluster_on = bool(cluster_by)
        if cluster_on:
            from .protocol import clustering_meta as cl

            missing_cl = [c for c in cluster_by if c not in declared_schema.names]
            if missing_cl:
                raise ValueError(f"cluster_by columns {missing_cl} not in schema")
            # the public domain layout stores PHYSICAL names on mapped tables
            cl_names = (
                [cm.top_level_physical(mapped_schema)[c] for c in cluster_by]
                if mapping_on
                else list(cluster_by)
            )
            rt_actions.append(cl.domain_action(cl_names))
        if rt_on:
            # materialized-column names are fixed at enablement; fresh ids
            # for the initial files come straight off an empty water mark
            configuration.update(rt.fresh_materialized_names())
            hwm = rt.stamp_adds(list(adds), -1, 0)
            rt_actions.append(rt.domain_action(hwm))
        final_schema = mapped_schema if mapping_on else declared_schema
        if id_marks:
            final_schema = idc.schema_with_water_marks(final_schema, id_marks)
        meta = MetaDataAction(
            id=str(uuid.uuid4()),
            schema_string=spark_to_schema_string(final_schema),
            partition_columns=list(partition_by or []),
            name=name,
            description=description,
            created_time=int(time.time() * 1000),
            configuration=configuration,
        )
        ict = (
            str(configuration.get("delta.enableInCommitTimestamps", "")).lower()
            == "true"
        )
        # compose the protocol floor from every feature the table starts with
        min_r, min_w = (cm.MIN_READER, cm.MIN_WRITER) if mapping_on else (1, 2)
        gen_on = bool(gen.expressions(declared_schema))
        if gen_on:
            min_w = max(min_w, gen.MIN_WRITER)
        id_on = bool(idc.specs(declared_schema))
        if id_on:
            min_w = max(min_w, idc.MIN_WRITER)
        cdf_on = (
            str(configuration.get("delta.enableChangeDataFeed", "")).lower()
            == "true"
        )
        if cdf_on:
            min_w = max(min_w, 4)  # legacy changeDataFeed floor
        if any(k.startswith(CONSTRAINT_PREFIX) for k in configuration):
            # spec: CHECK constraints require writer version 3 — an older
            # external writer would be allowed to append violating rows
            min_w = max(min_w, 3)
        from pyspark.sql import types as _T

        ntz_on = any(
            isinstance(f.dataType, _T.TimestampNTZType)
            for f in declared_schema.fields
        )
        def_on = bool(dfl.defaults(declared_schema))
        wf: list[str] = []
        if def_on:
            # no legacy version exists for column defaults: feature + v7
            wf.append(dfl.FEATURE_NAME)
        rf: list[str] = []
        if ict:
            wf.append("inCommitTimestamp")
        if rt_on:
            wf.extend(rt.FEATURES)
        if cluster_on:
            from .protocol import clustering_meta as cl

            wf.extend([cl.FEATURE_NAME, "domainMetadata"])
        if ntz_on:
            # timestamp_ntz is reader-visible: reader 3 + feature in BOTH lists
            wf.append("timestampNtz")
            rf.append("timestampNtz")
            min_r = max(min_r, 3)
        if dv_on:
            # reader-visible from version 0 (the spec's enablement rule): the
            # first DV commit then carries no protocol change that would
            # abort concurrent writers
            wf.append(dv.FEATURE_NAME)
            rf.append(dv.FEATURE_NAME)
            min_r = max(min_r, 3)
        if _schema_has_variant(declared_schema):
            # variant is reader-visible (public Delta variantType feature):
            # the parquet files carry the VARIANT logical type, so readers
            # without the feature must fail fast rather than misread the
            # metadata/value binary pair
            wf.append("variantType")
            rf.append("variantType")
            min_r = max(min_r, 3)
        if wf:
            # writer version 7: the feature list is mandatory and must name
            # EVERY active feature, including legacy ones like columnMapping
            if mapping_on:
                wf.append(cm.FEATURE_NAME)
                if rf:  # reader list is mandatory too — enumerate it all
                    rf.append(cm.FEATURE_NAME)
            if gen_on:
                wf.append(gen.FEATURE_NAME)
            if id_on:
                wf.append(idc.FEATURE_NAME)
            if cdf_on:
                wf.append("changeDataFeed")
            if str(configuration.get("delta.appendOnly", "")).lower() == "true":
                wf.append("appendOnly")
            if any(k.startswith(CONSTRAINT_PREFIX) for k in configuration):
                wf.append("checkConstraints")
            if any(not f.nullable for f in declared_schema.fields) or any(
                (f.metadata or {}).get("delta.invariants")
                for f in declared_schema.fields
            ):
                wf.append("invariants")
            proto = ProtocolAction(
                min_r,
                7,
                reader_features=sorted(set(rf)) if min_r >= 3 else None,
                writer_features=sorted(set(wf)),
            )
        else:
            proto = ProtocolAction(min_r, min_w)
        actions = [proto, meta, *adds, *rt_actions, *(extra_actions or [])]
        from .protocol.actions import CommitInfoAction

        now_ms = int(time.time() * 1000)
        info_d = {
            "timestamp": now_ms,
            "operation": operation,
            "operationParameters": params,
            "operationMetrics": metrics,
            "isBlindAppend": True,
        }
        if ict:
            info_d["inCommitTimestamp"] = now_ms
        info = CommitInfoAction(info=info_d)
        tmp = log.write_tmp_commit([info, *actions], uuid.uuid4().hex)
        log.try_commit(tmp, 0)  # creation races fail loudly: version 0 taken
        return DeltaTable(table_uri)

    if id_marks:
        # the water-mark update rides the same commit as the data; a replay
        # wholly replaces metadata, so merge into whatever metaData this
        # commit already carries (schema merge/overwrite)
        import dataclasses as _dc

        base_meta = new_meta if new_meta is not None else table.metadata()
        sch = idc.schema_with_water_marks(
            schema_string_to_spark(base_meta.schema_string), id_marks
        )
        new_meta = _dc.replace(
            base_meta,
            schema_string=spark_to_schema_string(sch),
            configuration=dict(base_meta.configuration),
        )

    txn = DeltaTransaction(table)
    if id_assigned:
        txn.add_commit_guard(idc.metadata_guard(table, "write"))
    if new_meta is not None:
        from pyspark.sql import types as _T2

        evolved = schema_string_to_spark(new_meta.schema_string)
        # schema evolution can introduce reader-visible types: the feature
        # must ride the same commit (create-path bumps don't cover appends).
        # Both features in ONE protocol action — replays replace wholesale,
        # so two bumps in a commit would drop the first one's features.
        evo_features = []
        if any(
            isinstance(f.dataType, _T2.TimestampNTZType)
            for f in evolved.fields
        ):
            evo_features.append("timestampNtz")
        if _schema_has_variant(evolved):
            evo_features.append("variantType")
        from .protocol import widening as _tw_feat

        if _tw_feat.type_changes(evolved):
            evo_features.append(_tw_feat.FEATURE_NAME)
        if evo_features:
            from .protocol.actions import upgraded_protocol

            bump = upgraded_protocol(
                table.snapshot.state,
                3,
                7,
                reader_features=evo_features,
                writer_features=evo_features,
            )
            if bump is not None:
                txn.add_action(bump)
        txn.add_action(new_meta)
        if _tw_feat.type_changes(evolved):
            # auto-widen on merge recorded tableVersion = planned version;
            # keep it pointing at the version the retry loop actually lands
            _stamp_state = {"cur": table.version + 1}

            def _restamp_widening(version: int, _m=new_meta) -> bool:
                changed = _tw_feat.restamp_type_changes(
                    _m, _stamp_state["cur"], version
                )
                _stamp_state["cur"] = version
                return changed

            txn.add_version_stamper(_restamp_widening)
    if mode == "overwrite":
        now_ms = int(time.time() * 1000)
        removals = table.add_actions()
        # an overwrite's contract is "the table is exactly the new data":
        # its logical read set is the whole table (dynamic mode: the
        # replaced partitions), so a concurrent non-blind-append commit
        # conflicts per the isolation level instead of silently surviving
        # the overwrite
        if partition_overwrite_mode == "dynamic" and partition_by:
            # partitionValues are keyed by PHYSICAL name on mapped tables —
            # stage_partition_by is that key set (== partition_by otherwise)
            touched = {
                tuple(a.partition_values.get(c) for c in stage_partition_by)
                for a in adds
            }
            removals = [
                old
                for old in removals
                if tuple(old.partition_values.get(c) for c in stage_partition_by)
                in touched
            ]
            params["partitionOverwriteMode"] = "dynamic"
            # append-conflict domain: per-column IN-sets over the touched
            # partition values — a conjunction superset of the touched
            # tuples (safe over-approximation; AND-only filter model).
            # Columns with a null partition value drop out (broader still).
            pf = []
            for i, c in enumerate(stage_partition_by):
                vals = {t[i] for t in touched}
                if None not in vals:
                    pf.append((c, "in", sorted(vals)))
            txn.record_reads(
                files=[a.path for a in removals],
                partition_filters=pf or None,
                whole_table=not pf,
            )
        else:
            txn.record_reads(
                files=[a.path for a in removals], whole_table=True
            )
        for old in removals:
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
    txn.add_actions(list(extra_actions or []))
    if read_domains:
        txn.record_reads(domains=list(read_domains))
    txn.commit(operation=operation, operation_parameters=params, operation_metrics=metrics)
    table.update()
    return table


def _schema_has_variant(schema) -> bool:
    """Any VARIANT column anywhere in the schema (incl. nested in
    struct/array/map) — the trigger for the ``variantType`` table feature."""
    from pyspark.sql import types as _T

    def walk(dt) -> bool:
        if isinstance(dt, _T.VariantType):
            return True
        if isinstance(dt, _T.StructType):
            return any(walk(f.dataType) for f in dt.fields)
        if isinstance(dt, _T.ArrayType):
            return walk(dt.elementType)
        if isinstance(dt, _T.MapType):
            return walk(dt.keyType) or walk(dt.valueType)
        return False

    return walk(schema)


def ntz_enabled(configuration: Optional[dict]) -> bool:
    """Public ``timestampNtz`` table feature opt-in (property form
    ``delta.feature.timestampNtz=supported``). Without it, NTZ columns are
    cast to TIMESTAMP up front (the v0 behavior)."""
    return str(
        (configuration or {}).get("delta.feature.timestampNtz", "")
    ).lower() in ("supported", "enabled", "true")


def _normalize_timestamps(
    df: DataFrame, configuration: Optional[dict] = None, naive: Sequence[str] = ()
) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to TIMESTAMP (Delta v0 has only the
    latter) — unless the table opts into the ``timestampNtz`` feature, in
    which case the type is kept and stored as ``timestamp_ntz``, and the
    ``naive`` columns (naive timestamps of in-memory input, which Spark
    types as TIMESTAMP) become TIMESTAMP_NTZ.

    The casts are value-preserving because the engine pins the session
    timezone to UTC (session.py); wall-clock instants round-trip exactly.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if ntz_enabled(configuration):
        cast, to = list(naive), T.TimestampNTZType()
    else:
        cast = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
        to = T.TimestampType()
    return df.withColumns({c: F.col(c).cast(to) for c in cast}) if cast else df


def _merge_schema(
    table: DeltaTable, df: DataFrame
) -> tuple[DataFrame, Optional[MetaDataAction]]:
    """Public Delta ``mergeSchema`` semantics: common columns keep their
    exact types (no implicit widening — that would silently rewrite
    nothing while changing read types), incoming-only columns append to the
    table schema as nullable fields, and table-only columns are filled with
    typed NULLs so the written files stay full-width for the footer-stats
    pass. Returns the aligned DataFrame and, when the schema grew, the
    metaData action to ride in the same commit."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from .protocol.column_mapping import bare_type

    existing = table.schema()
    incoming = {f.name: f for f in df.schema.fields}

    mismatched = {
        name: (existing[name].dataType, f.dataType)
        for name, f in incoming.items()
        if name in existing.names
        and bare_type(existing[name].dataType) != bare_type(f.dataType)
    }
    widened = False
    if mismatched:
        from .protocol import widening as _tw

        cfg = table.metadata().configuration or {}
        widening_on = str(cfg.get(_tw.ENABLE_KEY, "")).lower() == "true"
        # incoming NARROWER than the table: always safe — upcast the data
        # to the table type (the standard write-cast; no schema change)
        upcast = {
            n for n, (a, b) in mismatched.items() if _tw.is_widening(b, a)
        }
        if upcast:
            df = df.select(
                *[
                    F.col(c).cast(existing[c].dataType).alias(c)
                    if c in upcast
                    else F.col(c)
                    for c in df.columns
                ]
            )
            incoming = {f.name: f for f in df.schema.fields}
            mismatched = {
                n: tp for n, tp in mismatched.items() if n not in upcast
            }
        if mismatched and widening_on and all(
            _tw.is_widening(a, b) for a, b in mismatched.values()
        ):
            # automatic type widening on merge (public Delta behavior when
            # delta.enableTypeWidening is set): the table schema widens to
            # the incoming types in the same commit, typeChanges recorded
            for name, (_a, b) in mismatched.items():
                existing = _tw.widen_schema(existing, name, b, table.version + 1)
            widened = True
        elif mismatched:
            raise SchemaMismatchError(
                "schema_mode='merge' cannot change existing column types: "
                + ", ".join(
                    f"{n}: {a.simpleString()} -> {b.simpleString()}"
                    for n, (a, b) in mismatched.items()
                )
                + (
                    ""
                    if widening_on
                    else " (set delta.enableTypeWidening=true to allow "
                    "spec-listed widenings)"
                )
            )

    new_fields = [
        T.StructField(f.name, f.dataType, nullable=True)
        for f in df.schema.fields
        if f.name not in existing.names
    ]
    merged = T.StructType(list(existing.fields) + new_fields)

    aligned = df.select(
        *[
            F.col(f.name) if f.name in incoming else F.lit(None).cast(f.dataType).alias(f.name)
            for f in merged.fields
        ]
    )
    if not new_fields and not widened:
        return aligned, None

    old = table.metadata()
    configuration = dict(old.configuration)
    from .protocol import column_mapping as _cm

    if _cm.is_mapped(configuration):
        # newly-appended columns need fresh ids + col-<uuid> physical names;
        # existing fields keep theirs (they are already annotated in
        # ``existing`` and carried into ``merged`` verbatim)
        start = max(
            _cm.max_field_id(merged), int(configuration.get(_cm.MAX_ID_KEY, 0))
        )
        merged, max_id = _cm.assign_mapping(merged, start_id=start)
        configuration[_cm.MAX_ID_KEY] = str(max_id)
    return aligned, MetaDataAction(
        id=old.id,
        schema_string=spark_to_schema_string(merged),
        partition_columns=old.partition_columns,
        name=old.name,
        description=old.description,
        created_time=old.created_time,
        configuration=configuration,
    )


def _check_schema(table: DeltaTable, df: DataFrame) -> None:
    """v0 semantics: no evolution; names+types must match exactly (order-insensitive).

    Types are compared metadata-stripped: a column-mapped table's nested
    struct fields carry mapping metadata the incoming frame never has."""
    from .protocol.column_mapping import bare_type

    existing = {f.name: bare_type(f.dataType) for f in table.schema().fields}
    incoming = {f.name: bare_type(f.dataType) for f in df.schema.fields}
    if existing != incoming:
        differ = [
            f"{c}: write {incoming[c].simpleString() if c in incoming else '(missing)'}"
            f", table {existing[c].simpleString() if c in existing else '(missing)'}"
            for c in sorted(set(existing) | set(incoming))
            if existing.get(c) != incoming.get(c)
        ]
        raise SchemaMismatchError(
            f"write schema {sorted(incoming)} does not match table schema"
            f" {sorted(existing)}: {'; '.join(differ)}"
        )


def data_skipping_columns(
    configuration: Optional[dict], schema_names: Sequence[str]
) -> Optional[set[str]]:
    """Columns eligible for min/max/nullCount stats, honoring the public
    ``delta.dataSkippingNumIndexedCols`` table property (default 32, -1 =
    all). At 100 TB, footer stats for every column of a 500-column table
    are real commit-time and log-size cost — the property bounds it to the
    leading schema columns, which is where partition-adjacent filter keys
    live by convention. Returns None for "no restriction"."""
    n_raw = (configuration or {}).get("delta.dataSkippingNumIndexedCols")
    n = int(n_raw) if n_raw is not None else 32
    if n < 0 or n >= len(schema_names):
        return None
    return set(schema_names[:n])


# the codec of every parquet file the engine writes: data, OPTIMIZE and
# change files through Spark (``parquet_writer``), checkpoints and Iceberg
# position deletes through pyarrow. A file's footer names its codec, so
# files written with another one stay readable beside these.
PARQUET_CODEC = "zstd"
PARQUET_SUFFIX = f".{PARQUET_CODEC}.parquet"
# the data page version of every file Spark writes for the engine: v2 pages
# keep the dictionary where values repeat and fall back to
# DELTA_BINARY_PACKED (ints, dates, timestamps) or DELTA_BYTE_ARRAY
# (strings) where v1 falls back to PLAIN. Readers need v2 page support
# (Spark 3.3+, pyarrow, DuckDB); each page header names its version, so
# v1 files from older builds read beside these.
PARQUET_WRITER_VERSION = "v2"


def parquet_writer(df: DataFrame):
    """``df``'s writer for a staging dir: overwrite, ``PARQUET_CODEC``,
    ``PARQUET_WRITER_VERSION`` pages."""
    return (
        df.write.mode("overwrite")
        .option("compression", PARQUET_CODEC)
        .option("parquet.writer.version", PARQUET_WRITER_VERSION)
    )


# one write task per this many rows when the writer knows the row count
# (pyarrow/pandas input, DML rewrites, change files): a write under a
# million rows adds one file per partition value instead of one per input
# partition
ROWS_PER_FILE = 1_000_000


def write_tasks(n_rows: int) -> int:
    """Write tasks for ``n_rows`` known rows: ``ceil(n_rows / ROWS_PER_FILE)``."""
    return max(1, -(-n_rows // ROWS_PER_FILE))


def stage_rows(
    spark: SparkSession,
    log: DeltaLog,
    rows: DataFrame,
    schema,
    configuration: Optional[dict],
    partition_by: Sequence[str],
    n_rows: Optional[int] = None,
    max_records_per_file: Optional[int] = None,
) -> list[AddAction]:
    """Write ``rows`` (logical column names) as new data files of the table
    and return their Add actions, with stats from the staged footers.

    ``schema`` and ``configuration`` are the table's as of the commit the
    files join — the evolved schema when that commit evolves it, so evolved
    columns get their physical names and field ids. Column-mapped tables
    write physical names; UniForm tables stamp Iceberg field ids. Stats
    cover the first ``delta.dataSkippingNumIndexedCols`` columns plus the
    identity columns, whose water marks read them. ``optimizeWrite``
    shuffles on the partition columns; otherwise ``n_rows``, when the
    caller knows it, sets ``write_tasks(n_rows)`` tasks."""
    from .protocol import identity as idc
    from .uniform import iceberg as ub

    cfg = configuration or {}
    pcols = list(partition_by or [])
    stats_cols = data_skipping_columns(cfg, schema.names)
    id_cols = set(idc.specs(schema))
    if id_cols and stats_cols is not None:
        stats_cols |= id_cols
    if cm.is_mapped(cfg):
        rows = cm.to_physical_df(rows, schema)
        phys = cm.top_level_physical(schema)
        pcols = [phys[c] for c in pcols]
        if stats_cols is not None:
            stats_cols = {phys.get(c, c) for c in stats_cols}
    elif ub.enabled(cfg):
        rows = ub.attach_parquet_field_ids(rows, schema)
    # optimizeWrite (public Delta property): each partition value is
    # written by one task, whatever the input's partitioning
    if pcols and str(cfg.get("delta.autoOptimize.optimizeWrite", "")).lower() == "true":
        rows = rows.repartition(*pcols)
    elif n_rows is not None:
        rows = rows.coalesce(write_tasks(n_rows))
    staging = log.data_plane.stage_dir("commit")
    writer = parquet_writer(rows)
    if pcols:
        writer = writer.partitionBy(*pcols)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(staging)
    return _promote_staged_files(spark, log, staging, pcols, stats_columns=stats_cols)


def _promote_staged_files(
    spark: SparkSession,
    log: DeltaLog,
    staging_dir: str,
    partition_by: Sequence[str],
    data_change: bool = True,
    stats_columns: Optional[set[str]] = None,
) -> list[AddAction]:
    """Stats from footers (distributed), then move files to final names.

    The moves run on a driver thread pool: local renames are ~free, but on
    object-store backends each promotion is a network round trip, and a
    100k-file commit serialized on the driver would dominate commit latency.
    Publication goes through the table's DataPlane — a same-FS rename on the
    native plane, a StorageBackend upload on mirrored planes.
    """
    from concurrent.futures import ThreadPoolExecutor

    staged = log.data_plane.staged_files(staging_dir)
    if "://" in staging_dir:
        # native-remote staging: executor-local pyarrow cannot open the
        # remote URIs, but Spark's own jars can — one distributed scan
        # produces the same stats shape without any driver data I/O
        stats_by_path = _spark_fallback_stats(spark, staged, stats_columns)
    else:
        stats_by_path = _collect_footer_stats(spark, staged, stats_columns)

    def promote(item: tuple[int, str]) -> AddAction:
        i, src = item
        rel = _rel_inside(src, staging_dir)
        part_dir = os.path.dirname(rel)
        partition_values = _parse_partition_path(part_dir)
        fname = f"part-{i:05d}-{uuid.uuid4()}-c000{PARQUET_SUFFIX}"
        final_rel = (os.path.join(part_dir, fname) if part_dir else fname).replace(
            os.sep, "/"
        )
        size, mtime_ms = log.data_plane.publish_file(src, final_rel)
        return AddAction(
            path=final_rel,
            size=size,
            partition_values=partition_values,
            modification_time=mtime_ms,
            data_change=data_change,
            stats=stats_by_path.get(src),
        )

    items = list(enumerate(sorted(staged)))
    if len(items) <= 4:
        adds = [promote(it) for it in items]
    else:
        with ThreadPoolExecutor(max_workers=min(32, len(items))) as ex:
            adds = list(ex.map(promote, items))
    log.data_plane.cleanup_stage(staging_dir)
    return adds


def _rel_inside(src: str, staging_dir: str) -> str:
    """Path of a staged file relative to its staging dir — os.path for
    local paths, string-prefix for URIs (both '/'-separated on this OS)."""
    if "://" in staging_dir:
        return src[len(staging_dir):].lstrip("/")
    return os.path.relpath(src, staging_dir)


def _list_parquet_files(root: str) -> list[str]:
    out = []
    for dirpath, _dirnames, filenames in os.walk(root):
        for f in filenames:
            if f.endswith(".parquet") and not f.startswith("."):
                out.append(os.path.join(dirpath, f))
    return out


def _remove_dir_tree(root: str) -> None:
    import shutil

    shutil.rmtree(root, ignore_errors=True)


def _parse_partition_path(part_dir: str) -> dict[str, Optional[str]]:
    """``year=2020/month=2`` → {"year": "2020", "month": "2"} (URL-decoded)."""
    values: dict[str, Optional[str]] = {}
    if not part_dir:
        return values
    for seg in part_dir.split(os.sep):
        if "=" not in seg:
            continue
        k, v = seg.split("=", 1)
        values[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
    return values


# ---- footer stats (metadata-only, distributed) ------------------------------

def _collect_footer_stats(
    spark: SparkSession, paths: list[str], stats_columns: Optional[set[str]] = None
) -> dict[str, str]:
    """path → Delta stats JSON, from the parquet footers of locally staged
    files, read on the driver by a thread pool (footer reads are small and
    release the GIL in pyarrow; no Spark job is started for them).

    Row-group min/max/null_count aggregate to file-level stats. Binary and
    nested columns get null counts only (min/max on bytes is not meaningful
    in Delta's JSON stats); ``stats_columns`` (from
    ``delta.dataSkippingNumIndexedCols``) restricts which columns get stats
    at all — numRecords is always kept.
    """
    from concurrent.futures import ThreadPoolExecutor

    if not paths:
        return {}
    with ThreadPoolExecutor(max_workers=min(8, len(paths))) as ex:
        out = dict(zip(paths, ex.map(lambda p: _footer_stats_json(p, stats_columns), paths)))
    # files whose footer pyarrow cannot parse (e.g. the VARIANT logical
    # type) fall back to one distributed Spark aggregation for the same
    # stats shape — slower (reads data, not just footers) but correct
    bad = [p for p, s in out.items() if s is None]
    if bad:
        out.update(_spark_fallback_stats(spark, bad, stats_columns))
    return out


def _spark_fallback_stats(
    spark: SparkSession, paths: list[str], stats_columns: Optional[set[str]] = None
) -> dict[str, str]:
    """Delta stats JSON via one Spark scan grouped by source file — the
    fallback when a staged file's footer carries a logical type the local
    pyarrow can't parse (VARIANT). min/max/nullCount cover atomic
    non-binary, non-variant columns; numRecords always present."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as _T

    df = spark.read.parquet(*paths)
    cols = []
    for f in df.schema.fields:
        if stats_columns is not None and f.name not in stats_columns:
            continue
        if isinstance(
            f.dataType,
            (_T.StructType, _T.ArrayType, _T.MapType, _T.VariantType,
             _T.BinaryType),
        ):
            continue
        cols.append(f.name)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.min(c).alias(f"__min_{c}"))
        aggs.append(F.max(c).alias(f"__max_{c}"))
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}"))
    rows = (
        df.groupBy(F.col("_metadata.file_path").alias("__f"))
        .agg(*aggs)
        .collect()
    )
    out: dict[str, str] = {}
    # match by url PATH component: Spark's _metadata.file_path carries the
    # filesystem's normalized URI, which won't string-match a scheme-alias
    # (s3a:// staged src vs s3:// in file_path) — the path part does
    by_tail = {
        unquote(urlparse(p).path) if "://" in p else p.replace(os.sep, "/"): p
        for p in paths
    }
    for r in rows:
        tail = unquote(urlparse(r["__f"]).path)
        local = next(
            (orig for t, orig in by_tail.items() if tail.endswith(t)), None
        )
        if local is None:
            continue
        mins, maxs, nulls = {}, {}, {}
        for c in cols:
            nulls[c] = r[f"__null_{c}"] or 0
            lo, hi = r[f"__min_{c}"], r[f"__max_{c}"]
            if lo is not None:
                mins[c] = _json_safe(lo)
                maxs[c] = _json_safe(hi)
        out[local] = _stats_json(r["__n"], mins, maxs, nulls)
    # a zero-row file produces no group — it was still scanned, so its
    # absence from the aggregation IS the zero count
    for p in paths:
        if p not in out:
            out[p] = _stats_json(0, {}, {}, {})
    return out


def _footer_stats_json(
    path: str, stats_columns: Optional[set[str]] = None
) -> Optional[str]:
    import pyarrow.parquet as pq

    try:
        pf = pq.ParquetFile(path)
    except OSError:
        # footer carries a logical type this pyarrow can't parse (VARIANT):
        # the caller falls back to a Spark-side stats scan for these files
        return None
    meta = pf.metadata
    arrow_schema = pf.schema_arrow

    num_records = meta.num_rows
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}

    # map leaf column index -> top-level field name; skip nested/binary leaves
    import pyarrow as pa

    simple_fields = {}
    for field in arrow_schema:
        if pa.types.is_nested(field.type):
            continue
        if stats_columns is not None and field.name not in stats_columns:
            continue
        simple_fields[field.name] = field.type

    col_names = [meta.schema.column(i).path for i in range(meta.num_columns)]

    for ci, name in enumerate(col_names):
        if name not in simple_fields:
            continue
        ftype = simple_fields[name]
        total_nulls = 0
        have_nulls = True
        cmin = None
        cmax = None
        have_minmax = True
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(ci).statistics
            if st is None:
                have_minmax = False
                have_nulls = False
                break
            if st.null_count is None:
                have_nulls = False
            else:
                total_nulls += st.null_count
            if not st.has_min_max or pa.types.is_binary(ftype) or pa.types.is_large_binary(ftype):
                have_minmax = False
            else:
                try:
                    lo, hi = st.min, st.max
                except Exception:
                    # pyarrow cannot logical-cast stats of INT32/INT64-backed
                    # parquet decimals (Spark writes decimal(p<=18) that way):
                    # decode the raw unscaled physical values instead
                    lo = hi = None
                    if (
                        pa.types.is_decimal(ftype)
                        and isinstance(st.min_raw, int)
                        and isinstance(st.max_raw, int)
                    ):
                        # both raw bounds must decode or neither does —
                        # a malformed max_raw degrades to have_minmax=False
                        # instead of failing the whole write
                        import decimal as _dec

                        lo = _dec.Decimal(st.min_raw).scaleb(-ftype.scale)
                        hi = _dec.Decimal(st.max_raw).scaleb(-ftype.scale)
                if lo is None:
                    have_minmax = False
                else:
                    cmin = lo if cmin is None or lo < cmin else cmin
                    cmax = hi if cmax is None or hi > cmax else cmax
        if have_nulls:
            nulls[name] = total_nulls
        if have_minmax and cmin is not None:
            mins[name] = _json_safe(cmin)
            maxs[name] = _json_safe(cmax)

    return _stats_json(num_records, mins, maxs, nulls)


def _stats_json(num_records: int, mins: dict, maxs: dict, nulls: dict) -> str:
    """Delta stats JSON as the log writes it: compact, and strict JSON —
    a column whose min or max is NaN or ±inf keeps its null count but no
    bounds, since no JSON number spells them (and a NaN bound would prune
    wrongly besides)."""
    import json
    import math

    for c in [
        c
        for bounds in (mins, maxs)
        for c, v in bounds.items()
        if isinstance(v, float) and not math.isfinite(v)
    ]:
        mins.pop(c, None)
        maxs.pop(c, None)
    return json.dumps(
        {"numRecords": num_records, "minValues": mins, "maxValues": maxs, "nullCount": nulls},
        default=str,
        separators=(",", ":"),
        allow_nan=False,
    )


def _json_safe(v):
    import datetime as _dt
    import decimal as _dec

    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, _dec.Decimal):
        return str(v)
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    return v


def _replace_where(
    spark: SparkSession,
    table: DeltaTable,
    df: DataFrame,
    predicate: str,
    max_records_per_file: Optional[int],
    extra_actions: Optional[list] = None,
    operation_parameters_extra: Optional[dict] = None,
) -> DeltaTable:
    """Predicate-scoped overwrite, one atomic commit (Delta replaceWhere).

    Survivors of matched files (rows NOT matching the predicate) are
    rewritten alongside the new data; unmatched files keep their Add
    entries. Same pruning discipline as DML: partition + stats conjuncts
    bound the candidate set before any read.
    """
    from pyspark.sql import functions as F

    from .dml import (
        _candidate_adds,
        _files_with_matches,
        _predicate_reads,
        _stage_and_swap,
    )

    cond = F.coalesce(F.expr(predicate), F.lit(False))

    # the incoming frame is executed up to three times (predicate audit,
    # staged write, CDF change files) and may be an expensive upstream
    # query — cache it for the duration (same pattern as MERGE's inserts)
    df = df.cache()

    # Delta contract: every incoming row must satisfy the predicate,
    # otherwise the "overwrite only where" promise silently breaks
    n_outside = df.filter(~cond).count()
    if n_outside:
        df.unpersist()
        raise ValueError(
            f"replace_where: {n_outside} incoming rows do not satisfy {predicate!r}"
        )

    from .protocol import row_tracking as rt

    rt_cfg = table.metadata().configuration
    rt_on = rt.enabled(rt_cfg)
    candidates = _candidate_adds(table, predicate)
    matched, n_replaced = _files_with_matches(spark, table, candidates, cond)
    old = table._snapshot.df_for_adds(spark, matched, with_row_ids=rt_on)
    survivors = old.filter(~cond)
    table_cols = list(table.schema().names)
    if rt_on:
        # surviving rows keep their ids; the incoming replacement rows get
        # fresh ids off the new file's baseRowId (null materialized columns)
        mat_id, mat_cv = rt.materialized_names(rt_cfg)
        survivors = survivors.withColumnRenamed(
            rt.ROW_ID_COL, mat_id
        ).withColumnRenamed(rt.ROW_CV_COL, mat_cv)
        new_rows = survivors.unionByName(
            df.select(*table_cols), allowMissingColumns=True
        )
    else:
        new_rows = survivors.unionByName(df.select(*survivors.columns))

    change_rows = None
    from .cdf import CHANGE_TYPE_COL, cdf_enabled

    if cdf_enabled(table):
        from pyspark.sql import functions as F2

        change_rows = (
            old.filter(cond)
            .select(*table_cols)
            .withColumn(CHANGE_TYPE_COL, F2.lit("delete"))
            .unionByName(
                df.select(*table_cols).withColumn(
                    CHANGE_TYPE_COL, F2.lit("insert")
                )
            )
        )

    try:
        _stage_and_swap(
            spark,
            table,
            new_rows,
            matched,
            "WRITE",
            {
                "mode": "Overwrite",
                "predicate": predicate,
                **(operation_parameters_extra or {}),
            },
            {"numDeletedRows": n_replaced},
            change_rows=change_rows,
            extra_actions=extra_actions,
            max_records_per_file=max_records_per_file,
            reads=_predicate_reads(table, predicate, candidates),
        )
    finally:
        df.unpersist()
    return table


def convert_to_delta(
    spark: SparkSession,
    parquet_dir: str,
    name: Optional[str] = None,
    description: Optional[str] = None,
    configuration: Optional[dict[str, str]] = None,
) -> DeltaTable:
    """In-place conversion of an existing parquet directory (flat or
    Hive-partitioned) into a Delta table — the public ``CONVERT TO DELTA``
    command. Zero data movement: every file stays where it is; the commit
    is one version-0 log entry whose Add actions reference the files
    relatively, with per-file stats read from parquet footers on executors
    (the same distributed pass as the write path). Partition columns and
    their types are inferred by Spark from the ``key=value`` layout, and
    per-file partition values come from each file's own path segments —
    matching what the reference reconstructs from ``partitionValues``
    (``rust/src/partitions.rs:111-128``)."""
    root = os.path.abspath(parquet_dir)
    log = DeltaLog(root)
    if log.latest_version() is not None:
        raise TableAlreadyExistsError(f"{parquet_dir} is already a Delta table")

    files = _list_parquet_files(root)
    # files staged under a pending conversion's _delta_log must never happen,
    # but tmp/hidden dirs (_SUCCESS markers live at top level) are skipped
    files = [
        f
        for f in files
        if not any(
            seg.startswith((".", "_")) and "=" not in seg
            for seg in os.path.relpath(f, root).split(os.sep)
        )
    ]
    if not files:
        raise ValueError(f"no parquet files found under {parquet_dir}")

    # full schema (incl. typed partition columns) via Spark's inference
    df = spark.read.option("basePath", root).parquet(*sorted(files))
    schema = _normalize_timestamps(df).schema

    rels = [os.path.relpath(f, root) for f in sorted(files)]
    partition_by: list[str] = []
    for seg in os.path.dirname(rels[0]).split(os.sep):
        if "=" in seg:
            partition_by.append(seg.split("=", 1)[0])
    for rel in rels:
        keys = [s.split("=", 1)[0] for s in os.path.dirname(rel).split(os.sep) if "=" in s]
        if keys != partition_by:
            raise ValueError(
                f"inconsistent partition layout: {rel!r} has {keys}, expected {partition_by}"
            )

    stats_by_path = _collect_footer_stats(spark, sorted(files))

    adds = []
    for f in sorted(files):
        rel = os.path.relpath(f, root)
        st = os.stat(f)
        adds.append(
            AddAction(
                path=rel.replace(os.sep, "/"),
                size=st.st_size,
                partition_values=_parse_partition_path(os.path.dirname(rel)),
                modification_time=int(st.st_mtime * 1000),
                data_change=True,
                stats=stats_by_path.get(f),
            )
        )

    meta = MetaDataAction(
        id=str(uuid.uuid4()),
        schema_string=spark_to_schema_string(schema),
        partition_columns=partition_by,
        name=name,
        description=description,
        created_time=int(time.time() * 1000),
        configuration=configuration or {},
    )
    from .protocol.actions import CommitInfoAction

    info = CommitInfoAction(
        info={
            "timestamp": int(time.time() * 1000),
            "operation": "CONVERT",
            "operationParameters": {"partitionBy": partition_by},
            "operationMetrics": {
                "numConvertedFiles": str(len(adds)),
                "numOutputRows": str(sum(a.num_records or 0 for a in adds)),
            },
        }
    )
    # the converted table's protocol must reflect its configuration: CHECK
    # constraints need writer 3, CDF writer 4, appendOnly writer 2 — a bare
    # (1,2) would let spec-compliant old writers break the declared rules
    cfg = configuration or {}
    min_w = 2
    if any(k.startswith(CONSTRAINT_PREFIX) for k in cfg):
        min_w = max(min_w, 3)
    if str(cfg.get("delta.enableChangeDataFeed", "")).lower() == "true":
        min_w = max(min_w, 4)
    tmp = log.write_tmp_commit(
        [info, ProtocolAction(1, min_w), meta, *adds], uuid.uuid4().hex
    )
    log.try_commit(tmp, 0)
    return DeltaTable(root)
