"""Tracing overhead: the same run untraced and traced, compared.

    python3 perfbench/overhead.py --workload log_replay --seed 1 --seconds 5

Runs ``run.py`` with ``--trace 0`` and then ``--trace 1`` on the same seed
and prints, per operation kind and for ``ops_per_s``, the untraced figure,
the traced one and how much slower the traced run was.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def _report(args, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        cwd=HERE.parent, capture_output=True, text=True, check=True,
    ).stdout
    line = next(x for x in reversed(out.splitlines()) if x.startswith("REPORT "))
    return json.loads(line[len("REPORT "):])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    plain, traced = _report(args, 0), _report(args, 1)
    print(f"{'':24s} {'untraced':>12s} {'traced':>12s} {'overhead':>9s}")
    for kind in sorted(plain["kinds"]):
        a, b = plain["kinds"][kind]["p50_ms"], traced["kinds"][kind]["p50_ms"]
        print(f"{kind + '_p50_ms':24s} {a:12.2f} {b:12.2f} {100 * (b - a) / a:8.1f}%")
    a, b = plain["reported"]["ops_per_s"], traced["reported"]["ops_per_s"]
    print(f"{'ops_per_s':24s} {a:12.3f} {b:12.3f} {100 * (a - b) / b:8.1f}%")
    est = traced["per_layer"]["trace.overhead_pct"]
    print(f"estimated from span count x calibrated span cost: {est:.3f}% of operation time")
    return 0


if __name__ == "__main__":
    sys.exit(main())
