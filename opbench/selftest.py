"""Self-test: the benchmark must notice a wrong output.

    python3 opbench/selftest.py

Runs one short parcels run that drops a row from the first output of each
role in turn, and checks that the run exits non-zero, reports
``correct: false`` and lowers ``op_ok_ratio`` below 1. Run from the
repository root.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    bad = 0
    for role in ("join", "kernel", "layer"):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "parcels",
               "--seed", "1", "--seconds", "1", "--trace", "0", "--corrupt", role]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
        last = proc.stdout.strip().splitlines()[-1]
        res = json.loads(last)
        ratio = res["metrics"]["op_ok_ratio"]["value"]
        ok = proc.returncode == 1 and not res["correct"] and res["failed"] == 1 and ratio < 1
        print(f"corrupt {role}: exit {proc.returncode}, correct {res['correct']}, "
              f"failed {res['failed']}/{res['attempted']}, op_ok_ratio {ratio:.3f} -> "
              f"{'detected' if ok else 'MISSED'}")
        bad += not ok
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
