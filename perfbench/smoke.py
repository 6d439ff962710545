"""The benchmark's own test: every workload, untraced and traced, with a
few seconds of measurement.

    python3 perfbench/smoke.py

Checks that each run exits 0 and that its last line is the result
object with ``correct`` true, no failed operation, and exactly the
metric names and units ``BENCHMARK.json`` declares for that mode.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from common import HERE, ROOT

SECONDS = 3


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    bad = 0
    for w in bench["workloads"]:
        for trace in (0, 1):
            res = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", w["name"], "--seed", "1",
                 "--seconds", str(SECONDS), "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=300,
            )
            lines = res.stdout.strip().splitlines()
            out = json.loads(lines[-1]) if lines else {}
            got = {k: v["unit"] for k, v in out.get("metrics", {}).items()}
            ok = (
                res.returncode == 0
                and out.get("correct") is True
                and out.get("failed") == 0
                and out.get("attempted", 0) >= 1
                and got == want[trace]
            )
            bad += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {w['name']} trace={trace}",
                  flush=True)
            if not ok:
                print(res.stderr[-3000:], lines[-2:], file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
