"""Mechanical enforcement of the certification-rotation promise.

The driver certifies the FIRST 50 catalog rows each round; the rotation
protocol promises that, after each round's window lands, no oracle-bearing
row's last driver-green round is older than N-2. Rounds 1-8 kept that
promise editorially (a hand-computed histogram in catalog.py's comment and
the judge recomputing it); round 8 also showed the failure mode — two rows
born mid-round shipped without any driver artifact. This test turns both
into a gate over the COMMITTED CORRECTNESS_r*.json artifacts:

- every catalog row with an exact oracle must either sit in the current
  50-row window (about to be re-certified) or have an exact-green row
  (rows+schema+hash, no error) in an artifact no older than latest-2;
- rows with no oracle (the by-design approximate family) are exempt —
  their exact companions and recall contracts carry their signal.

The gate is self-ratcheting: when the driver commits CORRECTNESS_r{N},
`latest` advances and the rows certified in round N-2 must appear in the
next window — the stalest-first rotation stops being a convention and
becomes a failing test.
"""

from __future__ import annotations

import glob
import json
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50


def _last_green() -> tuple[dict[str, int], int]:
    last: dict[str, int] = {}
    latest = 0
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        latest = max(latest, rnd)
        with open(path) as fh:
            data = json.load(fh)
        for name, row in data.items():
            ok = (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
                and not row.get("err")
            )
            if ok:
                last[name] = max(last.get(name, 0), rnd)
    return last, latest


def test_every_oracle_row_is_windowed_or_recently_green():
    from delta_rs_spark.catalog import QUERIES

    last, latest = _last_green()
    assert latest >= 8, "certification artifacts missing from the repo root"
    names = list(QUERIES)
    window = set(names[:WINDOW])
    stale = {
        name: last.get(name)
        for name in names
        if QUERIES[name].oracle is not None
        and name not in window
        and last.get(name, 0) < latest - 2
    }
    assert not stale, (
        f"rows outside the current window with no exact-green artifact since "
        f"round {latest - 2}: {stale} — rotate them into the window "
        f"(delta_rs_spark/catalog.py::_ROTATION)"
    )


def test_rotation_guard_raises_without_assert(monkeypatch):
    """ADVICE r10: the _apply_rotation guards must be real exceptions, not
    asserts — `python -O` strips asserts, resurrecting the silent-window-
    shrink failure mode the guard exists to prevent. The raise happens
    before QUERIES is mutated, so probing it is side-effect free."""
    import pytest

    from delta_rs_spark import catalog

    for bad in (
        catalog._ROTATION + ["no_such_query"],  # unknown name
        catalog._ROTATION + [catalog._ROTATION[0]],  # duplicate
        catalog._ROTATION[:-1],  # wrong size
    ):
        monkeypatch.setattr(catalog, "_ROTATION", bad)
        with pytest.raises(RuntimeError):
            catalog._apply_rotation()
    # restored rotation re-applies cleanly and preserves the window
    monkeypatch.undo()
    catalog._apply_rotation()
    assert list(catalog.QUERIES)[: catalog.WINDOW] == catalog._ROTATION


def test_rows_only_family_is_closed():
    """The no-oracle exemption must stay the small, deliberate approximate
    family — a new row silently shipping without an oracle would otherwise
    inherit the exemption instead of a certification obligation."""
    from delta_rs_spark.catalog import QUERIES

    rows_only = sorted(n for n, qd in QUERIES.items() if qd.oracle is None)
    assert rows_only == [], (
        f"rows-only set changed: {rows_only} — new approximate ops need an "
        "exact companion + recall contract AND a deliberate edit here"
    )
