"""Per-file statistics: data skipping and metadata-only aggregates.

The reference parses per-file stats (numRecords/minValues/maxValues/nullCount,
``rust/src/action.rs:279-353``) and folds them into table-level statistics for
the planner (``rust/src/delta_datafusion.rs:117-209``). Here the same stats
power two things Spark cannot do by itself (it never sees our log):

1. **File skipping**: evaluate simple ``(col, op, literal)`` predicates against
   each file's min/max/nullCount and drop files that provably contain no
   matching row — before ``spark.read`` is even called. At 100 TB this is the
   difference between scanning a partition and scanning the lake.
2. **Metadata-only fast path**: answer ``count(*)``/``min``/``max`` from the
   log alone, no scan.
"""

from __future__ import annotations

import datetime as _dt
import functools
import json
from typing import Any, Optional, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.json as pj

from .actions import AddAction

SkipTuple = tuple[str, str, Any]

_SKIP_OPS = {"=", "!=", "<", "<=", ">", ">="}


def _coerce(stat_value: Any, literal: Any) -> tuple[Any, Any] | None:
    """Best-effort comparable pair; None when types aren't comparable."""
    if stat_value is None or literal is None:
        return None
    # JSON stats carry dates/timestamps as ISO strings; normalize both sides
    if isinstance(literal, (_dt.date, _dt.datetime)):
        literal = literal.isoformat()
    # bool FIRST: it subclasses int, and bool('false') is True — letting it
    # fall into the numeric coercion would invert the comparison and prune
    # files whose rows DO match
    if isinstance(stat_value, bool) or isinstance(literal, bool):

        def _as_bool(x):
            if isinstance(x, bool):
                return x
            if isinstance(x, str) and x.lower() in ("true", "false"):
                return x.lower() == "true"
            return None

        a, b = _as_bool(stat_value), _as_bool(literal)
        if a is None or b is None:
            return None
        return a, b
    if isinstance(stat_value, (int, float)) and isinstance(literal, str):
        try:
            literal = type(stat_value)(literal)
        except ValueError:
            return None
    if isinstance(stat_value, str) and isinstance(literal, (int, float)):
        try:
            stat_value = type(literal)(stat_value)
        except ValueError:
            return None
    if isinstance(stat_value, bool) != isinstance(literal, bool):
        return None
    try:
        stat_value < literal  # comparability probe
    except TypeError:
        return None
    return stat_value, literal


def file_may_match(add: AddAction, predicates: Sequence[SkipTuple]) -> bool:
    """Conservative: True unless stats *prove* no row in the file matches.

    Missing stats / missing column / non-comparable literal → keep the file.
    String min/max on timestamps compare lexicographically == chronologically
    for ISO-8601, so date/timestamp predicates skip correctly.
    """
    return prune_mask(FileStats.of([add]), predicates)[0]


def _may_match(op: str, lit: Any, lo_raw: Any, hi_raw: Any, nulls: Any, num_records: Any) -> bool:
    """One predicate against one file's min/max/nullCount of its column."""
    all_null = num_records is not None and isinstance(nulls, int) and nulls >= num_records > 0
    if all_null:
        return False  # every value NULL → no comparison predicate can match
    pair_lo = _coerce(lo_raw, lit)
    pair_hi = _coerce(hi_raw, lit)
    if pair_lo is None or pair_hi is None:
        return True
    lo, v = pair_lo
    hi, _ = pair_hi
    # written as negated prune conditions: NaN bounds must keep the file
    if op == "=":
        return not (v < lo or v > hi)
    if op == "<":
        return not lo >= v
    if op == "<=":
        return not lo > v
    if op == ">":
        return not hi <= v
    if op == ">=":
        return not hi < v
    # "!=": only a constant column equal to the literal, with no NULLs, fails
    return not (lo == hi == v and isinstance(nulls, int) and nulls <= 0)


def prune_mask(stats: "FileStats", predicates: Sequence[SkipTuple]) -> list[bool]:
    """Per file: True unless its stats prove no row matches every predicate."""
    keep = [True] * len(stats)
    num_records = stats.values("numRecords")
    for col, op, lit in predicates:
        if op not in _SKIP_OPS:
            continue  # unknown op: cannot skip on it
        columns = zip(
            stats.values("minValues", col),
            stats.values("maxValues", col),
            stats.values("nullCount", col),
            num_records,
        )
        for i, (lo, hi, nulls, n) in enumerate(columns):
            if keep[i] and not _may_match(op, lit, lo, hi, nulls, n):
                keep[i] = False
    return keep


def _as_files(files):
    from .state import Files

    return files if isinstance(files, Files) else Files.of(files)


def prune_files(files, predicates: Sequence[SkipTuple] | None):
    """The files whose stats may satisfy every predicate, as a columnar
    :class:`~.state.Files` selection (a list of AddActions is wrapped)."""
    files = _as_files(files)
    return files.where(prune_mask(files.stats(), predicates)) if predicates else files


# ---- metadata-only aggregates (reference delta_datafusion.rs:117-209) -----

def table_num_records(files) -> Optional[int]:
    """Σ live rows (numRecords minus deletion-vector cardinality); None if
    any file lacks stats."""
    files = _as_files(files)
    counts = files.stats().values("numRecords")
    if any(n is None for n in counts):
        return None
    return sum(counts) - files.dv_cardinality()


def table_min_max(files, column: str) -> tuple[Any, Any] | None:
    """Global (min, max) of a column from per-file stats; None if any file
    lacks the stat (then the caller falls back to a Spark scan)."""
    files = _as_files(files)
    if files.dv_count():
        # the deleted rows may have held the extremum; stats are only a
        # conservative superset under a DV — metadata answer unsafe
        return None
    stats = files.stats()
    gmin: Any = None
    gmax: Any = None
    for lo, hi, nulls, n in zip(
        stats.values("minValues", column),
        stats.values("maxValues", column),
        stats.values("nullCount", column),
        stats.values("numRecords"),
    ):
        if lo is None or hi is None:
            # all-NULL file contributes nothing; anything else → unknown
            if isinstance(nulls, int) and n is not None and nulls >= n:
                continue
            return None
        gmin = lo if gmin is None or lo < gmin else gmin
        gmax = hi if gmax is None or hi > gmax else gmax
    return (gmin, gmax)


# ---- stats as columns ------------------------------------------------------------

# Delta type → Arrow type of its min/max in the stats JSON; dates and
# timestamps stay the ISO strings the JSON holds (the JSON reader would
# otherwise infer timestamps from them). Decimals are left out: their stats
# are JSON numbers (or strings) that a float64 would round above 2**53, so
# they are read per file from the JSON, exactly as ``json.loads`` gives them
_VALUE_TYPES = {
    "byte": pa.int64(),
    "short": pa.int64(),
    "integer": pa.int64(),
    "long": pa.int64(),
    "float": pa.float64(),
    "double": pa.float64(),
    "boolean": pa.bool_(),
    "string": pa.string(),
    "binary": pa.string(),
    "date": pa.string(),
    "timestamp": pa.string(),
    "timestamp_ntz": pa.string(),
}


@functools.lru_cache(maxsize=64)
def stats_schema(schema_string: str, physical: bool) -> pa.Schema:
    """The Arrow schema stats JSON parses with, from the table schema:
    minValues/maxValues typed per column, nullCount as longs, keyed by
    physical names when column mapping is on."""

    def key(f: dict) -> str:
        meta = f.get("metadata") or {}
        return meta.get("delta.columnMapping.physicalName", f["name"]) if physical else f["name"]

    def values(fields: list) -> list[pa.Field]:
        out = []
        for f in fields:
            t = f["type"]
            if isinstance(t, dict):
                sub = values(t["fields"]) if t.get("type") == "struct" else []
                if sub:
                    out.append(pa.field(key(f), pa.struct(sub)))
                continue
            typ = _VALUE_TYPES.get(t)
            if typ is not None:
                out.append(pa.field(key(f), typ))
        return out

    def counts(fields: list) -> list[pa.Field]:
        out = []
        for f in fields:
            t = f["type"]
            if isinstance(t, dict) and t.get("type") == "struct":
                sub = counts(t["fields"])
                if sub:
                    out.append(pa.field(key(f), pa.struct(sub)))
            else:
                out.append(pa.field(key(f), pa.int64()))
        return out

    fields = json.loads(schema_string).get("fields", [])
    out = [pa.field("numRecords", pa.int64())]
    vals = values(fields)
    if vals:
        out += [pa.field("minValues", pa.struct(vals)), pa.field("maxValues", pa.struct(vals))]
    nulls = counts(fields)
    if nulls:
        out.append(pa.field("nullCount", pa.struct(nulls)))
    out.append(pa.field("tightBounds", pa.bool_()))
    return pa.schema(out)


class FileStats:
    """Per-file stats of a file list, column-wise. Parsed once by pyarrow's
    JSON reader with :func:`stats_schema`; files without stats read as all
    null. A stat the schema leaves out (a decimal column) is read from each
    file's JSON on first use. Without a schema, or where the reader rejects
    the JSON (a value that does not fit its column's type), each file's JSON
    is parsed on its own, with the same results ``AddAction.get_stats``
    gives."""

    def __init__(
        self,
        parsed: pa.Table | list[Optional[dict]],
        strings: Optional[pa.ChunkedArray] = None,
    ):
        self._parsed = parsed
        self._strings = strings  # the JSON, for stats the parsed table lacks
        self._dicts: Optional[list[Optional[dict]]] = None

    @classmethod
    def of(cls, adds: Sequence[AddAction]) -> "FileStats":
        return cls([a.get_stats() for a in adds])

    @classmethod
    def parse(cls, strings: pa.ChunkedArray, schema: Optional[pa.Schema]) -> "FileStats":
        if schema is not None:
            if not len(strings):
                return cls(schema.empty_table(), strings)
            lines = pc.binary_join_element_wise(pc.fill_null(strings, "{}"), "", "\n")
            lines = lines.combine_chunks()
            offsets = np.frombuffer(lines.buffers()[1], dtype=np.int32)
            offsets = offsets[lines.offset : lines.offset + len(lines) + 1]
            data = lines.buffers()[2][offsets[0] : offsets[-1]]
            options = pj.ParseOptions(explicit_schema=schema, unexpected_field_behavior="ignore")
            try:
                parsed = pj.read_json(
                    pa.BufferReader(data),
                    read_options=pj.ReadOptions(use_threads=False),  # see read_checkpoint_actions
                    parse_options=options,
                )
                if parsed.num_rows == len(strings):
                    return cls(parsed, strings)
            except pa.ArrowInvalid:
                pass
        return cls([_loads(s) for s in strings.to_pylist()])

    def __len__(self) -> int:
        parsed = self._parsed
        return len(parsed) if isinstance(parsed, list) else parsed.num_rows

    def take(self, positions: np.ndarray) -> "FileStats":
        if isinstance(self._parsed, list):
            return FileStats([self._parsed[i] for i in positions.tolist()])
        return FileStats(self._parsed.take(positions), self._strings.take(positions))

    def values(self, *path: str) -> list:
        """One stat of every file, e.g. ``values("minValues", "id")``."""
        if isinstance(self._parsed, pa.Table):
            col = self._column(path)
            if col is not None:
                return col.to_pylist()
            if self._dicts is None:
                self._dicts = [_loads(s) for s in self._strings.to_pylist()]
        out = []
        for d in self._dicts if self._dicts is not None else self._parsed:
            for k in path:
                d = d.get(k) if isinstance(d, dict) else None
            out.append(d)
        return out

    def _column(self, path: tuple[str, ...]) -> Optional[pa.ChunkedArray]:
        """The parsed column at ``path``; None when the schema lacks it."""
        table = self._parsed
        if path[0] not in table.column_names:
            return None
        col = table[path[0]]
        for k in path[1:]:
            if not pa.types.is_struct(col.type) or col.type.get_field_index(k) < 0:
                return None
            col = pc.struct_field(col, k)
        return col

    def struct(self, valid: pa.Array) -> pa.Array:
        """The stats as one struct column (``stats_parsed``); null where
        ``valid`` is false."""
        if isinstance(self._parsed, list):
            return pa.array(self._parsed)
        table = self._parsed.combine_chunks()
        if isinstance(valid, pa.ChunkedArray):
            valid = valid.combine_chunks()
        return pa.StructArray.from_arrays(
            [c.combine_chunks() for c in table.columns],
            fields=list(table.schema),
            mask=pc.invert(valid),
        )


def _loads(text: Optional[str]) -> Optional[dict]:
    if not text:
        return None
    try:
        return json.loads(text)
    except (ValueError, TypeError):
        return None
