"""Identity columns (public Delta writer feature ``identityColumns``).

A BIGINT column whose values the engine assigns on write. The contract is
the public Delta column-metadata convention:

- ``delta.identity.start`` / ``delta.identity.step`` — the arithmetic
  progression the values come from (``start + k*step``; step ≠ 0);
- ``delta.identity.highWaterMark`` — the extreme value assigned so far
  (absent until the first assignment); fresh values strictly advance past
  it in the step's direction;
- ``delta.identity.allowExplicitInsert`` — ``false`` is GENERATED ALWAYS
  (a write providing the column is rejected), ``true`` is GENERATED BY
  DEFAULT (explicit values pass through untouched and do not move the
  water mark — ``sync_identity`` reconciles it afterwards).

Delta guarantees uniqueness and direction for system-assigned values, NOT
density — gaps are expected. That freedom is what makes assignment
shuffle-free at scale: each row's value is
``base + step * monotonically_increasing_id()`` — pure codegen, no window,
no coordination between executors (the mono id packs partition-id into the
high bits, so executors never collide). The new high-water mark is read
back from the staged files' parquet FOOTER stats (a pass the writer
already makes) and recorded in a metaData action in the same commit.

Concurrent-writer safety: a commit that moved the identity water mark
re-checks at commit time that no intervening commit advanced it past the
values already baked into this write's files; if one did, the write fails
with ConcurrentModificationError rather than committing duplicate ids
(values live in data files — they cannot be re-stamped like row ids).

Protocol floor: minWriterVersion 6 (legacy) or the ``identityColumns``
writer feature at version 7. The reference (delta-rs v0) predates the
feature; implemented from the public Delta protocol spec.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

START_KEY = "delta.identity.start"
STEP_KEY = "delta.identity.step"
HWM_KEY = "delta.identity.highWaterMark"
ALLOW_KEY = "delta.identity.allowExplicitInsert"
FEATURE_NAME = "identityColumns"
MIN_WRITER = 6


class IdentityColumnError(Exception):
    pass


@dataclass
class IdentitySpec:
    start: int
    step: int
    high_water_mark: Optional[int]
    allow_explicit_insert: bool

    def next_base(self) -> int:
        """First value a fresh assignment may use (start when nothing was
        ever assigned; one step past the water mark otherwise)."""
        if self.high_water_mark is None:
            return self.start
        return self.high_water_mark + self.step


def specs(schema: T.StructType) -> dict[str, IdentitySpec]:
    """column name → identity spec (top-level fields)."""
    out: dict[str, IdentitySpec] = {}
    for f in schema.fields:
        meta = f.metadata or {}
        if START_KEY not in meta and STEP_KEY not in meta:
            continue
        out[f.name] = IdentitySpec(
            start=int(meta.get(START_KEY, 1)),
            step=int(meta.get(STEP_KEY, 1)),
            high_water_mark=(
                int(meta[HWM_KEY]) if meta.get(HWM_KEY) is not None else None
            ),
            # properties round-trip as strings through foreign writers;
            # bool("false") would be True and silently downgrade GENERATED
            # ALWAYS to BY DEFAULT
            allow_explicit_insert=(
                str(meta.get(ALLOW_KEY, False)).lower() == "true"
            ),
        )
    return out


def annotate_schema(
    identity: dict[str, dict], base_schema: T.StructType, df_columns: list[str]
) -> T.StructType:
    """CREATE-time: declare identity columns on the table schema. Each spec
    dict may carry ``start`` / ``step`` / ``allow_explicit_insert``.
    Columns absent from the incoming frame are appended as BIGINT (the
    write path assigns their values); provided columns require
    ``allow_explicit_insert`` and must already be BIGINT."""
    by_name = {f.name: f for f in base_schema.fields}
    fields: list[T.StructField] = []
    for f in base_schema.fields:
        meta = dict(f.metadata or {})
        if f.name in identity:
            spec = identity[f.name]
            if int(spec.get("step", 1)) == 0:
                raise IdentityColumnError(
                    f"identity column {f.name!r}: step must be nonzero"
                )
            if f.name in df_columns and not bool(
                spec.get("allow_explicit_insert", False)
            ):
                raise IdentityColumnError(
                    f"identity column {f.name!r} is GENERATED ALWAYS; the "
                    "create frame must not provide it"
                )
            if not isinstance(f.dataType, T.LongType):
                raise IdentityColumnError(
                    f"identity column {f.name!r} must be BIGINT, got "
                    f"{f.dataType.simpleString()}"
                )
            meta[START_KEY] = int(spec.get("start", 1))
            meta[STEP_KEY] = int(spec.get("step", 1))
            meta[ALLOW_KEY] = bool(spec.get("allow_explicit_insert", False))
        fields.append(T.StructField(f.name, f.dataType, f.nullable, meta))
    for name, spec in identity.items():
        if name in by_name:
            continue
        if int(spec.get("step", 1)) == 0:
            raise IdentityColumnError(f"identity column {name!r}: step must be nonzero")
        meta = {
            START_KEY: int(spec.get("start", 1)),
            STEP_KEY: int(spec.get("step", 1)),
            ALLOW_KEY: bool(spec.get("allow_explicit_insert", False)),
        }
        fields.append(T.StructField(name, T.LongType(), True, meta))
    return T.StructType(fields)


def assign_expr(spec: IdentitySpec):
    """The assignment expression for fresh rows: ``base + step * mono_id``
    — unique (mono ids are), strictly past the water mark (mono ids are
    ≥ 0), on the start + k*step progression. Pure codegen, zero shuffles,
    no executor coordination (partition id rides the mono id's high bits)."""
    return (
        F.lit(spec.next_base()).cast("long")
        + F.lit(spec.step).cast("long") * F.monotonically_increasing_id()
    )


def apply_on_write(
    df: DataFrame, schema: T.StructType
) -> tuple[DataFrame, dict[str, IdentitySpec]]:
    """Assign values for identity columns the incoming frame omits.

    Returns the frame plus the specs of columns that were ASSIGNED this
    write (the caller must advance their water marks from the staged
    files' footer stats). Explicit values: rejected for GENERATED ALWAYS,
    passed through (no water-mark move) for GENERATED BY DEFAULT.
    """
    ids = specs(schema)
    assigned: dict[str, IdentitySpec] = {}
    for name, spec in ids.items():
        if name in df.columns:
            if not spec.allow_explicit_insert:
                raise IdentityColumnError(
                    f"identity column {name!r} is GENERATED ALWAYS; writes "
                    "must not provide it"
                )
            continue
        df = df.withColumn(name, assign_expr(spec))
        assigned[name] = spec
    return df, assigned


def advanced_water_marks(
    assigned: dict[str, IdentitySpec], adds, name_map: Optional[dict] = None
) -> dict[str, int]:
    """New high-water mark per assigned column, from the staged files'
    footer stats (max for ascending columns, min for descending).
    ``name_map`` translates logical → physical stats keys on column-mapped
    tables."""
    out: dict[str, int] = {}
    for name, spec in assigned.items():
        stat_key = (name_map or {}).get(name, name)
        extreme: Optional[int] = None
        for a in adds:
            st = a.get_stats() or {}
            side = "maxValues" if spec.step > 0 else "minValues"
            v = (st.get(side) or {}).get(stat_key)
            if v is None:
                continue
            v = int(v)
            if extreme is None or (v > extreme if spec.step > 0 else v < extreme):
                extreme = v
        if extreme is not None:
            out[name] = extreme
    return out


def schema_with_water_marks(
    schema: T.StructType, marks: dict[str, int]
) -> T.StructType:
    fields = []
    for f in schema.fields:
        if f.name in marks:
            meta = dict(f.metadata or {})
            meta[HWM_KEY] = int(marks[f.name])
            fields.append(T.StructField(f.name, f.dataType, f.nullable, meta))
        else:
            fields.append(f)
    return T.StructType(fields)


def reject_assignments(assignments: dict, schema: T.StructType) -> None:
    bad = sorted(set(assignments) & set(specs(schema)))
    if bad:
        raise IdentityColumnError(
            f"cannot assign identity column(s) {bad}; their values are "
            "system-generated"
        )


def sync_water_marks(table) -> dict[str, int]:
    """ALTER TABLE ... SYNC IDENTITY: recompute each identity column's
    water mark from the ACTIVE files' per-file stats (metadata-only — no
    scan) so explicit inserts are reflected. Returns the marks written."""
    from . import column_mapping as cm
    from .stats import table_min_max

    schema = table.schema()
    ids = specs(schema)
    # per-file stats are keyed by PHYSICAL name on column-mapped tables
    phys = (
        cm.top_level_physical(schema)
        if cm.is_mapped(table.metadata().configuration)
        else {}
    )
    marks: dict[str, int] = {}
    for name, spec in ids.items():
        mm = table_min_max(
            table.snapshot.files(), phys.get(name, name)
        )
        if mm is None:
            continue
        lo, hi = mm
        v = hi if spec.step > 0 else lo
        if v is None:
            continue
        v = int(v)
        if spec.high_water_mark is None or (
            v > spec.high_water_mark if spec.step > 0 else v < spec.high_water_mark
        ):
            marks[name] = v
    return marks


def metadata_guard(table, what: str = "write"):
    """Commit guard aborting when any intervening commit changed the table
    metadata: identity values are baked into staged data files and cannot
    be re-stamped under retry, and the water-mark metaData the commit
    carries was built from the CURRENT metadata — replaying it would
    silently revert a concurrent metadata change. Shared by the writer and
    DML paths so the fingerprint logic exists once."""
    import json as _json

    base = _json.dumps(table.metadata().to_json_dict(), sort_keys=True)

    def guard(tbl) -> None:
        from ..transactions import ConcurrentModificationError

        if _json.dumps(tbl.metadata().to_json_dict(), sort_keys=True) != base:
            raise ConcurrentModificationError(
                "a concurrent commit changed the table metadata while this "
                f"identity-assigning {what} was in flight; re-run it "
                "against the refreshed table"
            )

    return guard
