"""Randomized (seed-pinned, deterministic) DML-sequence fuzz: a Delta table
driven through interleaved append / merge-on-read delete / update / OPTIMIZE /
REORG PURGE must match a plain in-memory model after every step, and a deep
clone taken at the end must match it too.

This is the integration net under the per-surface tests: any interaction bug
between DV reads, copy-on-write rewrites, compaction swaps and snapshot
replay shows up as a row diff with the exact op history printed.
"""

from __future__ import annotations

import random

import pytest

from delta_rs_spark import DeltaTable, write_deltalake

# builder tier: every test in this module is multi-minute-fixture fuzz/recall
# work (see pyproject [tool.pytest.ini_options]); the certified contracts stay
# in the driver tier via the oracle rows.
pytestmark = pytest.mark.slow


def _rows(spark, ids, vmul=1):
    return spark.createDataFrame(
        [(i, i * vmul, str(i % 3)) for i in ids], "id long, v long, p string"
    )


def _table_state(spark, uri):
    return sorted(
        (r.id, r.v, r.p) for r in DeltaTable(uri).to_df(spark).collect()
    )


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_dml_sequence_matches_model(spark, tmp_path, seed):
    rng = random.Random(seed)
    uri = str(tmp_path / f"fuzz{seed}")

    next_id = 200
    model: dict[int, tuple[int, str]] = {i: (i, str(i % 3)) for i in range(200)}
    write_deltalake(
        spark,
        _rows(spark, range(200)),
        uri,
        partition_by=["p"],
        configuration={
            "delta.enableDeletionVectors": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    history = ["seed(200)"]

    for _ in range(10):
        op = rng.choice(["append", "delete", "update", "optimize", "reorg"])
        t = DeltaTable(uri)
        if op == "append":
            n = rng.randrange(20, 60)
            ids = range(next_id, next_id + n)
            write_deltalake(spark, _rows(spark, ids), uri, mode="append")
            model.update({i: (i, str(i % 3)) for i in ids})
            next_id += n
            history.append(f"append({n})")
        elif op == "delete":
            k, r = rng.choice([(7, 3), (5, 1), (11, 0), (3, 2)])
            t.delete(spark, f"id % {k} = {r}")
            model = {i: row for i, row in model.items() if i % k != r}
            history.append(f"delete(id%{k}={r})")
        elif op == "update":
            k, r = rng.choice([(4, 1), (6, 5), (9, 2)])
            t.update_where(spark, f"id % {k} = {r}", {"v": "v + 1000"})
            model = {
                i: ((v + 1000, p) if i % k == r else (v, p))
                for i, (v, p) in model.items()
            }
            history.append(f"update(id%{k}={r})")
        elif op == "optimize":
            t.optimize(spark, target_file_size=1 << 20)
            history.append("optimize")
        else:
            t.reorg_purge(spark)
            history.append("reorg")

        got = _table_state(spark, uri)
        want = sorted((i, v, p) for i, (v, p) in model.items())
        assert got == want, f"diverged after {history}"

    # the change feed, folded forward from version 0, reproduces the final
    # state — one invariant covering CDF synthesis across every op kind
    # (CoW rewrites, DV commits, dataChange=false swaps emit nothing)
    cdf = (
        DeltaTable(uri)
        .load_cdf(spark, starting_version=0)
        .orderBy("_commit_version")
        .collect()
    )
    folded: dict[int, tuple[int, str]] = {}
    for r in cdf:
        if r["_change_type"] in ("insert", "update_postimage"):
            folded[r["id"]] = (r["v"], r["p"])
        elif r["_change_type"] == "delete":
            folded.pop(r["id"], None)
    assert sorted((i, v, p) for i, (v, p) in folded.items()) == sorted(
        (i, v, p) for i, (v, p) in model.items()
    ), f"CDF fold diverged after {history}"

    # a deep clone of the final state is the same table elsewhere
    clone_uri = str(tmp_path / f"fuzzclone{seed}")
    DeltaTable(uri).deep_clone(clone_uri)
    assert _table_state(spark, clone_uri) == sorted(
        (i, v, p) for i, (v, p) in model.items()
    ), f"clone diverged after {history}"
    # and the clone is self-contained: no add references the source root
    for a in DeltaTable(clone_uri).add_actions():
        assert uri not in a.path


@pytest.mark.parametrize("seed", [5, 17])
def test_dml_history_time_travel_and_restore(spark, tmp_path, seed):
    """Every historical version must replay to exactly the state the model
    had when that version committed — through DML, checkpoints (mid-history
    replay starts), and RESTORE (which rolls the model back too)."""
    rng = random.Random(seed)
    uri = str(tmp_path / f"hist{seed}")

    next_id = 100
    model: dict[int, tuple[int, str]] = {i: (i, str(i % 3)) for i in range(100)}
    write_deltalake(
        spark,
        _rows(spark, range(100)),
        uri,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    versions = {0: dict(model)}
    history = ["seed(100)"]

    for _ in range(12):
        op = rng.choice(
            ["append", "delete", "update", "checkpoint", "restore", "append"]
        )
        t = DeltaTable(uri)
        if op == "append":
            n = rng.randrange(10, 30)
            ids = range(next_id, next_id + n)
            write_deltalake(spark, _rows(spark, ids), uri, mode="append")
            model.update({i: (i, str(i % 3)) for i in ids})
            next_id += n
            history.append(f"append({n})")
        elif op == "delete":
            k, r = rng.choice([(7, 3), (5, 1), (3, 2)])
            t.delete(spark, f"id % {k} = {r}")
            model = {i: row for i, row in model.items() if i % k != r}
            history.append(f"delete(id%{k}={r})")
        elif op == "update":
            k, r = rng.choice([(4, 1), (6, 5)])
            t.update_where(spark, f"id % {k} = {r}", {"v": "v + 1000"})
            model = {
                i: ((v + 1000, p) if i % k == r else (v, p))
                for i, (v, p) in model.items()
            }
            history.append(f"update(id%{k}={r})")
        elif op == "checkpoint":
            t.create_checkpoint()
            history.append("checkpoint")
            # checkpoints don't commit a version; nothing to record
            continue
        else:
            target = rng.choice(sorted(versions))
            t.restore(target)
            model = dict(versions[target])
            history.append(f"restore({target})")

        t = DeltaTable(uri)
        versions[t.version] = dict(model)
        got = _table_state(spark, uri)
        want = sorted((i, v, p) for i, (v, p) in model.items())
        assert got == want, f"diverged after {history}"

    # every recorded version time-travels back to its model state
    for v, snap in versions.items():
        got = sorted(
            (r.id, r.v, r.p)
            for r in DeltaTable.for_version(uri, v).to_df(spark).collect()
        )
        want = sorted((i, val, p) for i, (val, p) in snap.items())
        assert got == want, f"version {v} wrong after {history}"


@pytest.mark.parametrize("seed", [31])
def test_dml_fuzz_mapped_row_tracked(spark, tmp_path, seed):
    """The interaction corner: column mapping (physical names) + row
    tracking (stable ids) + merge-on-read DML + renames + OPTIMIZE. After
    every step the visible state matches the model, row ids stay unique,
    and a rewrite (optimize) preserves each surviving row's id."""
    rng = random.Random(seed)
    uri = str(tmp_path / f"mrt{seed}")

    vcol = "v"  # logical name, renamed mid-sequence
    next_id = 100
    model: dict[int, int] = {i: i for i in range(100)}  # id -> v
    write_deltalake(
        spark,
        spark.createDataFrame(
            [(i, i) for i in range(100)], f"id long, {vcol} long"
        ),
        uri,
        configuration={
            "delta.columnMapping.mode": "name",
            "delta.enableRowTracking": "true",
            "delta.enableDeletionVectors": "true",
        },
    )
    history = ["seed(100)"]

    def state():
        t = DeltaTable(uri)
        df = t.to_df(spark, with_row_ids=True)
        rows = [(r["id"], r[vcol], r["_row_id"]) for r in df.collect()]
        return rows

    def check():
        rows = state()
        got = sorted((i, v) for i, v, _ in rows)
        assert got == sorted(model.items()), f"diverged after {history}"
        ids = [rid for _, _, rid in rows]
        assert len(ids) == len(set(ids)), f"duplicate row ids after {history}"
        return {i: rid for i, _, rid in rows}

    check()
    for _ in range(8):
        op = rng.choice(["append", "delete", "update", "rename", "optimize"])
        t = DeltaTable(uri)
        if op == "append":
            n = rng.randrange(10, 30)
            write_deltalake(
                spark,
                spark.createDataFrame(
                    [(i, i) for i in range(next_id, next_id + n)],
                    f"id long, {vcol} long",
                ),
                uri,
                mode="append",
            )
            model.update({i: i for i in range(next_id, next_id + n)})
            next_id += n
            history.append(f"append({n})")
            check()
        elif op == "delete":
            k, r = rng.choice([(7, 3), (5, 1), (3, 2)])
            t.delete(spark, f"id % {k} = {r}")
            model = {i: v for i, v in model.items() if i % k != r}
            history.append(f"delete(id%{k}={r})")
            check()
        elif op == "update":
            k, r = rng.choice([(4, 1), (6, 5)])
            before = check()
            t.update_where(spark, f"id % {k} = {r}", {vcol: f"{vcol} + 1000"})
            model = {
                i: (v + 1000 if i % k == r else v) for i, v in model.items()
            }
            history.append(f"update(id%{k}={r})")
            after = check()
            # updates change values, never identity
            assert after == before, f"row ids changed by update after {history}"
        elif op == "rename":
            new = f"{vcol}_r"
            t.rename_column(vcol, new)
            vcol = new
            history.append(f"rename->{new}")
            check()
        else:
            before = check()
            t.optimize(spark, target_file_size=1 << 20)
            history.append("optimize")
            after = check()
            assert after == before, f"row ids changed by optimize after {history}"


@pytest.mark.slow  # builder tier: see pyproject [tool.pytest.ini_options]
@pytest.mark.parametrize("seed", [7, 29])
def test_dml_fuzz_merge_and_replace_where(spark, tmp_path, seed):
    """Upsert-pipeline fuzz: MERGE (update-matched + insert-new), MERGE
    delete-matched, replaceWhere partition rewrites, appends — state
    checked against the model after every step."""
    rng = random.Random(seed)
    uri = str(tmp_path / f"mrw{seed}")

    next_id = 150
    model: dict[int, tuple[int, str]] = {i: (i, str(i % 3)) for i in range(150)}
    write_deltalake(
        spark,
        _rows(spark, range(150)),
        uri,
        partition_by=["p"],
        configuration={"delta.enableDeletionVectors": "true"},
    )
    history = ["seed(150)"]

    for _ in range(8):
        op = rng.choice(["merge_upsert", "merge_delete", "replace_where", "append"])
        t = DeltaTable(uri)
        if op == "merge_upsert":
            # half existing ids (values bumped), half brand-new
            lo = rng.randrange(0, next_id - 20)
            existing = [i for i in range(lo, lo + 40) if i in model][:20]
            new = list(range(next_id, next_id + 15))
            src = spark.createDataFrame(
                [(i, i + 7, str(i % 3)) for i in existing + new],
                "id long, v long, p string",
            )
            t.merge(
                spark,
                src,
                "t.id = s.id",
                when_matched_update={"v": "s.v"},
                when_not_matched_insert=True,
            )
            for i in existing + new:
                model[i] = (i + 7, str(i % 3))
            next_id += 15
            history.append(f"merge_upsert({len(existing)}+{len(new)})")
        elif op == "merge_delete":
            k, r = rng.choice([(9, 4), (8, 1)])
            victims = [i for i in model if i % k == r]
            src = spark.createDataFrame(
                [(i,) for i in victims] or [(-1,)], "id long"
            )
            t.merge(
                spark,
                src,
                "t.id = s.id",
                when_matched_delete=True,
                when_not_matched_insert=False,
            )
            for i in victims:
                model.pop(i, None)
            history.append(f"merge_delete(id%{k}={r})")
        elif op == "replace_where":
            part = str(rng.randrange(3))
            n = rng.randrange(5, 25)
            ids = [i for i in range(next_id, next_id + n * 3) if i % 3 == int(part)]
            write_deltalake(
                spark,
                _rows(spark, ids, vmul=2),
                uri,
                mode="overwrite",
                replace_where=f"p = '{part}'",
            )
            model = {i: row for i, row in model.items() if row[1] != part}
            model.update({i: (i * 2, part) for i in ids})
            next_id += n * 3
            history.append(f"replace_where(p={part})")
        else:
            n = rng.randrange(10, 30)
            ids = range(next_id, next_id + n)
            write_deltalake(spark, _rows(spark, ids), uri, mode="append")
            model.update({i: (i, str(i % 3)) for i in ids})
            next_id += n
            history.append(f"append({n})")

        got = _table_state(spark, uri)
        want = sorted((i, v, p) for i, (v, p) in model.items())
        assert got == want, f"diverged after {history}"


def test_concurrent_mixed_workload_fuzz(spark, tmp_path):
    """Randomized concurrent interleaving: two appenders, a deleter and an
    optimizer race on one table with retry-on-conflict. Invariants: no lost
    or duplicated rows, gapless version sequence, every surviving commit's
    checksum validates. Exercises the conflict matrix under schedules no
    targeted test enumerates."""
    import threading

    from delta_rs_spark.maintenance import validate_checksum
    from delta_rs_spark.transactions import ConcurrentModificationError

    uri = str(tmp_path / "race")
    write_deltalake(
        spark,
        _rows(spark, range(50)),
        uri,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    errors: list[Exception] = []
    deleted_bases: list[int] = []

    def retry(fn, attempts=25):
        for _ in range(attempts):
            try:
                return fn()
            except ConcurrentModificationError:
                continue
        raise AssertionError("retry budget exhausted")

    def appender(base):
        def run():
            try:
                for j in range(4):
                    ids = range(base + j * 100, base + j * 100 + 40)
                    retry(
                        lambda ids=ids: write_deltalake(
                            spark, _rows(spark, ids), uri, mode="append"
                        )
                    )
            except Exception as e:  # pragma: no cover - surfaced below
                errors.append(e)

        return run

    def deleter():
        # deletes only rows from the seed range: appenders never touch it
        try:
            for base in (0, 10, 20):
                retry(
                    lambda base=base: DeltaTable(uri).delete(
                        spark, f"id >= {base} AND id < {base + 10}"
                    )
                )
                deleted_bases.append(base)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def optimizer():
        try:
            for _ in range(3):
                retry(
                    lambda: DeltaTable(uri).optimize(
                        spark, target_file_size=1 << 20
                    )
                )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [
        threading.Thread(target=appender(1000)),
        threading.Thread(target=appender(10_000)),
        threading.Thread(target=deleter),
        threading.Thread(target=optimizer),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    expect = set()
    for base in (1000, 10_000):
        for j in range(4):
            expect |= set(range(base + j * 100, base + j * 100 + 40))
    expect |= {
        i
        for i in range(50)
        if not any(b <= i < b + 10 for b in deleted_bases)
    }
    t = DeltaTable(uri)
    got = {r.id for r in t.to_df(spark).collect()}
    assert got == expect
    # gapless version chain (atomic create-if-absent held under the race)
    import os

    versions = sorted(
        int(f.split(".")[0])
        for f in os.listdir(os.path.join(uri, "_delta_log"))
        if f.endswith(".json") and f.split(".")[0].isdigit()
    )
    assert versions == list(range(len(versions)))
    assert validate_checksum(t) in (True, None)


@pytest.mark.parametrize("seed", [19])
def test_concurrent_increments_serializable_fuzz(spark, tmp_path, seed):
    """The sharpest serializability probe the conflict matrix faces: two
    updaters increment DISJOINT row sets that live in the SAME files (so
    every commit rewrites/DVs files the other just touched), while an
    optimizer rewrites everything under them and a checkpointer snapshots
    the log mid-race. A conflict checker that wrongly admits a commit built
    on a stale snapshot loses an increment — the final values are exact
    arithmetic, so any lost or doubled update is a value diff, not a flaky
    count. Random jitter (seed-pinned) varies the interleaving.

    Invariants: exact final v per row, gapless version chain, checksum
    valid, and a checkpoint-start replay equals the JSON-tail replay."""
    import threading
    import time as _time

    from delta_rs_spark.maintenance import validate_checksum
    from delta_rs_spark.transactions import ConcurrentModificationError

    rng = random.Random(seed)
    uri = str(tmp_path / "serial")
    write_deltalake(
        spark,
        _rows(spark, range(60)),
        uri,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    errors: list[Exception] = []
    jitters = {name: [rng.random() * 0.05 for _ in range(16)] for name in "abco"}

    def retry(fn, attempts=40):
        for _ in range(attempts):
            try:
                return fn()
            except ConcurrentModificationError:
                continue
        raise AssertionError("retry budget exhausted")

    N_A, N_B = 4, 4

    def updater(name, pred, delta, n):
        def run():
            try:
                for j in range(n):
                    _time.sleep(jitters[name][j])
                    retry(
                        lambda: DeltaTable(uri).update_where(
                            spark, pred, {"v": f"v + {delta}"}
                        )
                    )
            except Exception as e:  # pragma: no cover - surfaced below
                errors.append(e)

        return run

    def checkpointer():
        try:
            for j in range(3):
                _time.sleep(jitters["c"][j])
                # non-committing: must tolerate the log growing underneath
                DeltaTable(uri).create_checkpoint()
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def optimizer():
        try:
            for j in range(2):
                _time.sleep(jitters["o"][j])
                retry(
                    lambda: DeltaTable(uri).optimize(
                        spark, target_file_size=1 << 20
                    )
                )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [
        threading.Thread(target=updater("a", "id % 2 = 0", 1, N_A)),
        threading.Thread(target=updater("b", "id % 2 = 1", 100, N_B)),
        threading.Thread(target=checkpointer),
        threading.Thread(target=optimizer),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    # exact arithmetic: any lost/doubled increment is a value diff
    want = sorted(
        (i, i + (N_A if i % 2 == 0 else N_B * 100), str(i % 3))
        for i in range(60)
    )
    assert _table_state(spark, uri) == want

    import os

    versions = sorted(
        int(f.split(".")[0])
        for f in os.listdir(os.path.join(uri, "_delta_log"))
        if f.endswith(".json") and f.split(".")[0].isdigit()
    )
    assert versions == list(range(len(versions)))
    t = DeltaTable(uri)
    assert validate_checksum(t) in (True, None)
    # a checkpoint written mid-race must replay to the same state as a
    # pure JSON-tail replay. The first read above went through the
    # checkpoint-seeded path (Snapshot.load starts from the newest listed
    # checkpoint, written by the racing checkpointer); force the log-only
    # path by copying the table WITHOUT its checkpoints and _last_checkpoint
    # — with none listed, load() replays every commit from version 0.
    import shutil

    log_only = str(tmp_path / "serial-log-only")
    shutil.copytree(uri, log_only)
    log_dir = os.path.join(log_only, "_delta_log")
    for name in os.listdir(log_dir):
        if ".checkpoint." in name or name == "_last_checkpoint":
            os.remove(os.path.join(log_dir, name))
    from delta_rs_spark.protocol.log import DeltaLog as _DL

    assert _DL(log_only).read_last_checkpoint() is None
    assert _DL(log_only).list_commit_versions().checkpoints == []
    assert _table_state(spark, log_only) == want


@pytest.mark.parametrize("seed", [7])
def test_concurrent_zorder_restore_serializable_fuzz(spark, tmp_path, seed):
    """OPTIMIZE ZORDER and RESTORE racing disjoint-row increments — the two
    commit types whose read-sets the directed conflict tests exercise least
    (VERDICT r6 item #8). RESTORE makes a fixed final-value invariant
    impossible (it legitimately undoes committed increments), so the
    invariant is MODEL REPLAY: parse the serialized commit order from the
    log, fold each operation through a driver-side model (UPDATE applies
    its recorded predicate/delta, OPTIMIZE is state-neutral, RESTORE resets
    the model to its own state at the recorded target version), and the
    final table must equal the final model state exactly. A conflict
    checker that admits a ZORDER or RESTORE built on a stale snapshot
    produces an action fold that diverges from the serial-order semantics —
    a value diff here, not a flaky count."""
    import json as _json
    import os
    import threading
    import time as _time

    from delta_rs_spark.maintenance import validate_checksum
    from delta_rs_spark.transactions import ConcurrentModificationError

    rng = random.Random(seed)
    uri = str(tmp_path / "zr")
    write_deltalake(
        spark,
        _rows(spark, range(60)),
        uri,
        configuration={"delta.enableDeletionVectors": "true"},
    )
    errors: list[Exception] = []
    jitters = {name: [rng.random() * 0.06 for _ in range(16)] for name in "abzr"}

    def retry(fn, attempts=60):
        for _ in range(attempts):
            try:
                return fn()
            except ConcurrentModificationError:
                continue
        raise AssertionError("retry budget exhausted")

    def updater(name, pred, delta, n):
        def run():
            try:
                for j in range(n):
                    _time.sleep(jitters[name][j])
                    retry(
                        lambda: DeltaTable(uri).update_where(
                            spark, pred, {"v": f"v + {delta}"}
                        )
                    )
            except Exception as e:  # pragma: no cover - surfaced below
                errors.append(e)

        return run

    def zorderer():
        try:
            for j in range(2):
                _time.sleep(jitters["z"][j])
                retry(
                    lambda: DeltaTable(uri).optimize(
                        spark, target_file_size=1 << 20, zorder_by=["id", "v"]
                    )
                )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def restorer():
        try:
            for j in range(2):
                _time.sleep(jitters["r"][j])

                def _restore_once():
                    t = DeltaTable(uri)
                    if t.version < 1:
                        return None  # nothing committed yet to roll back
                    return t.restore(t.version - 1)

                retry(_restore_once)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [
        threading.Thread(target=updater("a", "id % 2 = 0", 1, 3)),
        threading.Thread(target=updater("b", "id % 2 = 1", 100, 3)),
        threading.Thread(target=zorderer),
        threading.Thread(target=restorer),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    # serialized commit order straight from the log files
    log_dir = os.path.join(uri, "_delta_log")
    versions = sorted(
        int(f.split(".")[0])
        for f in os.listdir(log_dir)
        if f.endswith(".json") and f.split(".")[0].isdigit()
    )
    assert versions == list(range(len(versions))), "version chain has gaps"

    def commit_info(v: int) -> dict:
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            for line in fh:
                action = _json.loads(line)
                if "commitInfo" in action:
                    return action["commitInfo"]
        return {}

    # model replay in serial order: states[v] = semantic table state after v
    state0 = {i: (i, str(i % 3)) for i in range(60)}
    states = [dict(state0)]
    for v in versions[1:]:
        info = commit_info(v)
        op = info.get("operation")
        params = info.get("operationParameters") or {}
        cur = dict(states[-1])
        if op == "UPDATE":
            pred = params.get("predicate", "")
            if "id % 2 = 0" in pred:
                cur = {i: (val + 1 if i % 2 == 0 else val, p) for i, (val, p) in cur.items()}
            elif "id % 2 = 1" in pred:
                cur = {i: (val + 100 if i % 2 == 1 else val, p) for i, (val, p) in cur.items()}
            else:  # pragma: no cover - unexpected op shape is itself a failure
                raise AssertionError(f"unrecognized UPDATE predicate {pred!r}")
        elif op == "RESTORE":
            target = int(params["version"])
            cur = dict(states[target])
        elif op == "OPTIMIZE":
            pass  # state-neutral by contract
        else:  # pragma: no cover
            raise AssertionError(f"unexpected operation {op!r} at version {v}")
        states.append(cur)

    want = sorted((i, val, p) for i, (val, p) in states[-1].items())
    assert _table_state(spark, uri) == want
    assert validate_checksum(DeltaTable(uri)) in (True, None)


@pytest.mark.parametrize("seed", [13, 31])
def test_incremental_maintenance_matches_recompute_under_fuzz(
    spark, tmp_path, seed
):
    """The two incremental-maintenance operators, driven by a random DML
    sequence with refreshes at random points, must always equal the model:

    - incremental_rollup: grouped (count, sum) over the LIVE rows — signed
      CDF folding across any interleaving of appends / MoR deletes /
      measure updates, multi-version refresh windows included;
    - update_dedup_index: first-seen (hash -> doc_id) fold — a hash keeps
      the doc_id of the refresh window that introduced it, new hashes take
      the window-minimum id, update postimages count as introductions,
      deletes never un-index.

    This is the integration net under the two certified lifecycle rows
    (which pin ONE fixed sequence each)."""
    import hashlib as _hashlib

    from delta_rs_spark.operators.dedup import update_dedup_index
    from delta_rs_spark.operators.incremental import incremental_rollup

    rng = random.Random(seed)
    uri = str(tmp_path / f"incr{seed}")
    rollup_uri = str(tmp_path / f"incr{seed}-rollup")
    index_uri = str(tmp_path / f"incr{seed}-index")

    def _docs(spark, ids):
        # text collides across ids (mod 40) so dedup has real work
        return spark.createDataFrame(
            [(i, str(i % 5), i * 3, f"t{i % 40}") for i in ids],
            "id long, grp string, m long, text string",
        )

    next_id = 150
    model: dict[int, tuple[str, int, str]] = {
        i: (str(i % 5), i * 3, f"t{i % 40}") for i in range(150)
    }
    write_deltalake(
        spark,
        _docs(spark, range(150)),
        uri,
        configuration={
            "delta.enableChangeDataFeed": "true",
            "delta.enableDeletionVectors": "true",
        },
    )
    # model of the index: text-hash -> first-seen doc id; pending = content
    # introduced since the last refresh (inserts + update postimages)
    index_model: dict[str, int] = {}
    pending: list[tuple[int, str]] = [(i, t) for i, (_, _, t) in model.items()]
    history = ["seed(150)"]

    def _refresh_and_check():
        # rollup refresh vs live-row recompute
        incremental_rollup(
            spark, DeltaTable(uri), rollup_uri, group_cols=["grp"], sum_cols=["m"]
        )
        want_rollup: dict[str, tuple[int, int]] = {}
        for g, m, _ in model.values():
            n, s = want_rollup.get(g, (0, 0))
            want_rollup[g] = (n + 1, s + m)
        got_rollup = {
            r.grp: (r.n_rows, r.sum_m)
            for r in DeltaTable(rollup_uri).to_df(spark).collect()
        }
        assert got_rollup == want_rollup, f"rollup diverged after {history}"

        # index refresh vs first-seen fold of the pending introductions
        update_dedup_index(
            spark, DeltaTable(uri), index_uri, key_cols=["text"], id_col="id"
        )
        by_hash: dict[str, int] = {}
        for i, t in pending:
            h = _hashlib.md5(t.encode()).hexdigest()
            by_hash[h] = min(by_hash.get(h, i), i)
        for h, i in by_hash.items():
            index_model.setdefault(h, i)
        pending.clear()
        got_index = {
            r.key_hash: r.doc_id
            for r in DeltaTable(index_uri).to_df(spark).collect()
        }
        assert got_index == index_model, f"index diverged after {history}"

    _refresh_and_check()  # bootstrap both maintained tables
    history.append("bootstrap")

    for step in range(8):
        op = rng.choice(["append", "delete", "update_m", "update_text"])
        t = DeltaTable(uri)
        if op == "append":
            n = rng.randrange(15, 40)
            ids = range(next_id, next_id + n)
            write_deltalake(spark, _docs(spark, ids), uri, mode="append")
            for i in ids:
                model[i] = (str(i % 5), i * 3, f"t{i % 40}")
                pending.append((i, f"t{i % 40}"))
            next_id += n
            history.append(f"append({n})")
        elif op == "delete":
            k, r = rng.choice([(7, 3), (5, 1), (11, 0)])
            t.delete(spark, f"id % {k} = {r}")
            model = {i: row for i, row in model.items() if i % k != r}
            history.append(f"delete(id%{k}={r})")
        elif op == "update_m":
            k, r = rng.choice([(4, 1), (6, 5)])
            t.update_where(spark, f"id % {k} = {r}", {"m": "m + 1000"})
            model = {
                i: ((g, m + 1000, x) if i % k == r else (g, m, x))
                for i, (g, m, x) in model.items()
            }
            history.append(f"update_m(id%{k}={r})")
        else:
            k, r = rng.choice([(9, 2), (8, 7)])
            t.update_where(
                spark,
                f"id % {k} = {r}",
                {"text": "concat('u', cast(id AS string))"},
            )
            for i, (g, m, _x) in list(model.items()):
                if i % k == r:
                    model[i] = (g, m, f"u{i}")
                    pending.append((i, f"u{i}"))
            history.append(f"update_text(id%{k}={r})")

        if rng.random() < 0.5 or step == 7:
            _refresh_and_check()
            history.append("refresh")
