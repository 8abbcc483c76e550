"""Tests of the benchmark's own code (no Spark session is started).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
import percentiles  # noqa: E402
import run  # noqa: E402


def _ops(workload: str, seed: int, n: int = 40) -> tuple:
    """The stream and its first operations: one of every kind (as in the
    warm-up), then ``n`` units of the primary mix."""
    stream = gen.OpStream(workload, seed)
    ops = [stream.make(k) for k in gen.KINDS]
    for _ in range(n):
        ops += stream.next_unit()
    return stream, ops


def _comparable(value):
    """Op fields with pyarrow tables replaced by their Python rows."""
    if hasattr(value, "to_pylist"):
        return value.to_pylist()
    if isinstance(value, dict):
        return {k: _comparable(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return [_comparable(v) for v in value]
    if hasattr(value, "__dict__"):
        return _comparable(vars(value))
    return value


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_gives_same_inputs_operations_and_answers(workload):
    from engine import expected_scans

    tables, answers = [], []
    for _ in range(2):
        stream, ops = _ops(workload, seed=5)
        p = stream.profile
        lineitem = gen.lineitem_table(5, p.lineitem_rows)
        tables.append((lineitem, gen.orders_table(5, p.wtable_rows)))
        answers.append(
            (
                _comparable(stream.setup_commits),
                _comparable([(o.kind, o.params, o.expect) for o in ops]),
                expected_scans(lineitem, stream.ranges),
            )
        )
    assert all(a.equals(b) for a, b in zip(*tables))
    assert answers[0] == answers[1]


def test_different_seeds_give_different_inputs():
    a, b = _ops("log_replay", 1)[1], _ops("log_replay", 2)[1]
    assert _comparable([(o.kind, o.params) for o in a]) != _comparable(
        [(o.kind, o.params) for o in b]
    )
    assert gen.orders_table(1, 100).to_pylist() != gen.orders_table(2, 100).to_pylist()


def test_log_model_counts_follow_its_commits():
    stream = gen.OpStream("log_replay", 3)
    log = stream.log
    assert log.latest == gen.PROFILES["log_replay"].log_commits - 1
    assert log.files_at[-1] == len(log.live)
    assert log.rows_at[-1] == sum(log.live.values())
    adds = gen.PROFILES["log_replay"].log_adds
    assert log.files_at[10] == 10 * adds - 10  # every 10th commit removes 10 files
    op = stream.make("refresh")
    assert op.expect[0] == log.latest > gen.PROFILES["log_replay"].log_commits - 1


def test_write_model_tracks_live_keys_and_last_write():
    w = gen.WriteModel(seed=4, rows=2000)
    rows = w.append()
    assert len(w.live) == 2000 + gen.APPEND_ROWS
    key, value = w.last
    assert {"o_orderkey": key, "o_totalprice": value}.items() <= next(
        r for r in rows.to_pylist() if r["o_orderkey"] == key
    ).items()
    merged = w.merge()
    keys = merged.column("o_orderkey").to_pylist()
    assert len(set(keys)) == gen.MERGE_ROWS
    assert sum(k < 2000 + gen.APPEND_ROWS for k in keys) == gen.MERGE_ROWS // 2
    before = set(w.live)
    lo, hi = w.delete()
    assert w.live == before - set(range(lo, hi))
    assert w.last[1] is None and lo <= w.last[0] < hi


def test_primary_mix_shares():
    mix = gen.PROFILES["data_mix"].mix()
    assert mix["lookup"] == pytest.approx(3 * mix["merge"])
    assert mix["open"] == mix["time_travel"] == pytest.approx(3 * 6 * mix["merge"])
    assert sum(mix.values()) == pytest.approx(1.0)
    stream = gen.OpStream("data_mix", 9)
    units = [stream.next_unit() for _ in range(12)]
    firsts = [u[0].kind for u in units]
    assert firsts == list(gen.PROFILES["data_mix"].round) * 2
    for unit in units:
        probes = unit[2:] if unit[0].kind in gen.WRITE_KINDS else unit[1:]
        assert [op.kind for op in probes] == list(gen.PROBE_KINDS) * 3
    kinds = [op.kind for u in units for op in u]
    for i, k in enumerate(kinds):
        if k in gen.WRITE_KINDS:
            assert kinds[i + 1] == "lookup"
    log = gen.PROFILES["log_replay"].mix()
    assert log == pytest.approx({"open": 0.4, "time_travel": 0.4, "refresh": 0.2})
    stream = gen.OpStream("log_replay", 9)
    kinds = [op.kind for _ in range(10) for op in stream.next_unit()]
    assert kinds.count("open") == 20 and kinds.count("refresh") == 10


def test_open_and_time_travel_read_the_set_up_table():
    stream = gen.OpStream("log_replay", 8)
    last = gen.PROFILES["log_replay"].log_commits - 1
    before = stream.make("open").expect
    refresh = stream.make("refresh")
    assert before == stream.make("open").expect == stream.log.expect(last)
    assert refresh.expect[0] > last
    assert all(stream.make("time_travel").params["version"] <= last for _ in range(3))


def test_time_travel_cycles_are_whole_after_a_restart():
    stream = gen.OpStream("log_replay", 8)
    stream.make("time_travel")  # the warm-up's
    stream.restart_cycles()
    last = gen.PROFILES["log_replay"].log_commits - 1
    for _ in range(2):
        ops = [stream.make("time_travel") for _ in range(gen.TIME_TRAVEL_CYCLE)]
        # one version from each tenth of the newest fifth of the log
        width = last / 5 / gen.TIME_TRAVEL_CYCLE
        for i, v in enumerate(sorted(op.params["version"] for op in ops)):
            assert last * 4 / 5 + i * width <= v <= last * 4 / 5 + (i + 1) * width + 1
        assert sum(op.params["mode"] == "timestamp" for op in ops) == 3


def test_every_lookup_reads_the_write_before_it():
    stream = gen.OpStream("data_mix", 6)
    for kind in ("merge", "append", "lookup", "delete"):
        write, lookup = stream.unit(kind)
        assert write.kind == ("append" if kind == "lookup" else kind)
        assert lookup.kind == "lookup"
        assert (lookup.params["key"], lookup.expect) == stream.wmodel.last


class _FailingBench:
    """A bench whose operations of one kind always raise."""

    def __init__(self, failing: str):
        self.failing = failing

    def start(self, op):
        def call():
            if op.kind == self.failing:
                raise RuntimeError("engine regression")
            return op.expect

        return call

    def answer(self, op, result):
        return result

    def check(self, op, got):
        pass


def test_fill_ends_and_keeps_failed_latencies():
    stream = gen.OpStream("log_replay", 2)
    quotas = gen.MIN_SAMPLES
    runner = run.Runner(_FailingBench("append"))
    run.fill(runner, stream, quotas, gen.KINDS)
    assert all(len(runner.samples[k]) >= quotas[k] for k in gen.KINDS)
    # the lookup's own unit starts with an append, so appends may pass quota
    assert len(runner.samples["append"]) >= quotas["append"]
    assert runner.failed == len(runner.samples["append"]) < runner.attempted


def test_fill_gives_up_on_a_kind_that_cannot_start():
    class Unstartable(_FailingBench):
        def start(self, op):
            if op.kind == self.failing:
                raise RuntimeError("cannot prepare")
            return super().start(op)

    stream = gen.OpStream("log_replay", 2)
    quotas = gen.MIN_SAMPLES
    bench = Unstartable("scan_skip")
    runner = run.Runner(bench)
    run.fill(runner, stream, quotas, ["scan_skip", "open"])
    assert runner.samples["scan_skip"] == []
    assert runner.tries["scan_skip"] == runner.failed == 2 * quotas["scan_skip"]
    assert len(runner.samples["open"]) >= quotas["open"]
    bench.bytes_written = bench.user_bytes = {}
    bounded, reported, detail = run._metrics(runner, bench, stream.profile, 1.0, 1.0, 1.0)
    assert reported["scan_skip_p50_ms"][0] == 0.0 and reported["open_p50_ms"][0] > 0
    assert bounded["open_read_kib"][0] >= 0
    assert detail["failed_kinds"] == {"scan_skip": runner.failed}


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert percentiles.tail([5.0]) == (5.0, 100.0)
    assert percentiles.tail(list(range(10))) == (9.0, 100.0)
    assert percentiles.tail(list(range(11))) == (0.0, 100.0 / 11)
    assert percentiles.tail(list(range(20, 0, -1))) == (10.0, 50.0)
    value, pct = percentiles.tail([float(i) for i in range(100)])
    assert (value, pct) == (89.0, 90.0)
    assert sum(x > value for x in range(100)) == percentiles.TAIL_BEYOND
    with pytest.raises(ValueError):
        percentiles.tail([])


def test_p50():
    assert percentiles.p50([3.0, 1.0, 2.0]) == 2.0
    assert percentiles.p50([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_skip_answers_count_a_repeated_range_once():
    from engine import expected_scans

    lineitem = gen.lineitem_table(1, 4000)
    keys = lineitem.column("l_orderkey").to_pylist()
    want = sum(10 <= k < 30 for k in keys)
    got = expected_scans(lineitem, [(10, 30), (10, 30), (0, 5)])["scan_skip"]
    assert got[(10, 30)][0] == want == 80

