"""The stats the engine writes into Add actions are compact, strict JSON:
no spaces after separators (as every log line is written) and no bare
NaN/Infinity tokens, which RFC 8259 parsers reject. Stats from older
builds, with spaces, still prune."""

import json
import math
import os

import pyarrow as pa
import pytest

from delta_rs_spark import DeltaTable, writer
from delta_rs_spark.writer import write_deltalake


def _strict(stats: str) -> dict:
    def refuse(token):
        raise ValueError(f"non-standard JSON constant {token}")

    return json.loads(stats, parse_constant=refuse)


def _rows(lo: int, n: int) -> pa.Table:
    return pa.table(
        {
            "id": pa.array(range(lo, lo + n), pa.int64()),
            "x": [i * 0.5 for i in range(lo, lo + n)],
            "s": [f"s{i}" for i in range(lo, lo + n)],
        }
    )


def test_new_stats_are_compact_and_spaced_stats_still_prune(spark, tmp_path):
    uri = str(tmp_path / "t")
    write_deltalake(spark, _rows(0, 100), uri)
    write_deltalake(spark, _rows(100, 100), uri, mode="append")
    t = DeltaTable(uri)
    adds = t.add_actions()
    assert len(adds) == 2
    for a in adds:
        assert '": ' not in a.stats and '", ' not in a.stats, a.stats
        assert a.stats == json.dumps(_strict(a.stats), separators=(",", ":"))

    # rewrite v0's stats as older builds wrote them: with spaces
    v0 = os.path.join(uri, "_delta_log", f"{0:020d}.json")
    lines = []
    with open(v0) as f:
        for line in f:
            action = json.loads(line)
            if "add" in action:
                action["add"]["stats"] = json.dumps(json.loads(action["add"]["stats"]))
                assert '": ' in action["add"]["stats"]
            lines.append(json.dumps(action, separators=(",", ":")))
    with open(v0, "w") as f:
        f.write("\n".join(lines) + "\n")

    t = DeltaTable(uri)
    (old,) = t.files(skip_predicates=[("id", "<", 50)])
    (new,) = t.files(skip_predicates=[("id", ">=", 150)])
    assert old != new
    assert t.files(skip_predicates=[("id", ">", 1000)]) == []
    assert t.to_df(spark, skip_predicates=[("id", "<", 50)]).count() == 100


def test_stats_rebuilt_from_a_struct_only_checkpoint_are_compact(spark, tmp_path):
    """A checkpoint written with ``writeStatsAsJson=false`` holds only
    ``stats_parsed``; the JSON rebuilt from it, which a DV delete re-states
    in its commit, is compact too."""
    uri = str(tmp_path / "t")
    write_deltalake(
        spark,
        _rows(0, 100),
        uri,
        configuration={
            "delta.checkpoint.writeStatsAsJson": "false",
            "delta.checkpoint.writeStatsAsStruct": "true",
            "delta.checkpointInterval": "2",
        },
    )
    for lo in (100, 200):
        write_deltalake(spark, _rows(lo, 100), uri, mode="append")
    t = DeltaTable(uri)
    t.delete(spark, "id = 5")
    t = DeltaTable(uri)
    restated = [a.stats for a in t.log.try_read_commit(t.version) if getattr(a, "stats", None)]
    assert restated
    for stats in restated:
        assert '": ' not in stats and '", ' not in stats, stats
        assert _strict(stats)["numRecords"] == 100


@pytest.mark.parametrize(
    "xs", [[1.0, math.inf, -math.inf], [1.0, math.nan, 2.0]], ids=["inf", "nan"]
)
def test_non_finite_float_bounds_are_left_out(spark, tmp_path, xs):
    """A float column with NaN or ±inf keeps its null count but gets no
    min/max, in the footer path and in the Spark fallback alike; the
    other columns keep theirs and a predicate on the column keeps the
    file."""
    uri = str(tmp_path / "t")
    write_deltalake(spark, pa.table({"id": [0, 1, 2], "x": xs}), uri)
    t = DeltaTable(uri)
    (add,) = t.add_actions()
    fallback = writer._spark_fallback_stats(spark, [os.path.join(uri, add.path)])
    for stats in (add.stats, *fallback.values()):
        st = _strict(stats)
        assert st["numRecords"] == 3
        assert st["nullCount"] == {"id": 0, "x": 0}
        assert st["minValues"] == {"id": 0} and st["maxValues"] == {"id": 2}, st
    for pred in [("x", ">", 5.0), ("x", "<", 0.0), ("x", "=", 1.0)]:
        assert t.to_df(spark, skip_predicates=[pred]).count() == 3
