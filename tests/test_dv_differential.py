"""Differential test of the merge-on-read DML paths: a hypothesis-drawn
sequence of MERGE, DELETE and UPDATE on a table with the deletion-vector
default. After every step three readers must agree row for row — Spark
(``to_df``, positions dropped inside the scan), the Spark-free
``to_pyarrow_table`` (positions dropped on the driver) and a pandas model
— and the version checksum must hold, its deleted-record and
deletion-vector counts matching the live files."""

from __future__ import annotations

import json

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from delta_rs_spark import DeltaTable, write_deltalake

N_ROWS = 120

merge_op = st.tuples(st.just("merge"), st.integers(0, N_ROWS + 40), st.integers(1, 40))
delete_op = st.tuples(st.just("delete"), st.integers(2, 7), st.integers(0, 6))
update_op = st.tuples(st.just("update"), st.integers(2, 7), st.integers(0, 6))
ops = st.lists(st.one_of(merge_op, delete_op, update_op), min_size=1, max_size=4)


def _apply(spark, uri: str, model: pd.DataFrame, step: int, op) -> pd.DataFrame:
    kind, a, b = op
    t = DeltaTable(uri)
    if kind == "merge":
        ids = list(range(a, a + b))
        src = pd.DataFrame({"id": ids, "v": [i * 10 + step for i in ids], "g": [str(i % 3) for i in ids]})
        t.merge(spark, spark.createDataFrame(src, "id long, v long, g string"), "t.id = s.id")
        return pd.concat([model[~model.id.isin(ids)], src], ignore_index=True)
    if kind == "delete":
        t.delete(spark, f"id % {a} = {b}")
        return model[model.id % a != b].reset_index(drop=True)
    t.update_where(spark, f"id % {a} = {b}", {"v": "v + 1"})
    model = model.copy()
    model.loc[model.id % a == b, "v"] += 1
    return model


def _rows(df: pd.DataFrame) -> list[tuple]:
    return sorted(df[["id", "v", "g"]].itertuples(index=False, name=None))


@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(steps=ops)
def test_dv_dml_sequence_matches_model(spark, tmp_path_factory, steps):
    uri = str(tmp_path_factory.mktemp("dvdiff") / "t")
    model = pd.DataFrame(
        {"id": range(N_ROWS), "v": range(N_ROWS), "g": [str(i % 3) for i in range(N_ROWS)]}
    )
    write_deltalake(
        spark, spark.createDataFrame(model, "id long, v long, g string").repartition(3), uri
    )
    assert DeltaTable(uri).protocol_versions() == (3, 7)
    for step, op in enumerate(steps, start=1):
        model = _apply(spark, uri, model, step, op)
        t = DeltaTable(uri)
        want = _rows(model)
        assert _rows(t.to_df(spark).toPandas()) == want, (steps, step)
        assert _rows(t.to_pyarrow_table().to_pandas()) == want, (steps, step)
        assert t.count_rows() == len(want)
        assert t.validate_checksum()
        files = t.add_actions()
        crc = json.loads(
            t.log.backend.get_obj(t.log.backend.join(t.log.log_dir, f"{t.version:020d}.crc"))
        )
        assert crc["numDeletionVectorsOpt"] == sum(1 for a in files if a.deletion_vector)
        assert crc["numDeletedRecordsOpt"] == sum(a.num_records for a in files) - len(want)
