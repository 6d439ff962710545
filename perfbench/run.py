"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <pump_stream|pump_low> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Builds its inputs from ``--seed``,
measures for ``--seconds`` seconds, checks the engine's outputs, and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics untraced, the per-layer metrics
traced.  A line before it, ``{"info": ...}``, carries the raw counts and
the traced breakdown.  Workloads and metrics are described in
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from common import ROOT, emit, process_start_time

import mqtt_message_pump_spark  # noqa: F401  (fail fast without the engine)
import pump


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench")
    ap.add_argument("--workload", required=True, choices=sorted(pump.RATES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    boot_s = time.time() - process_start_time()

    tracer = None
    if args.trace:
        from trace_layers import Tracer

        tracer = Tracer()
    work = os.path.join(ROOT, ".perfbench", "work", str(os.getpid()))
    os.makedirs(work)
    try:
        correct, attempted, failed, metrics, info = pump.run(
            args.workload, args.seed, args.seconds, boot_s, work, tracer
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if tracer:
        info["traced_end_to_end"] = {k: v for k, (v, _) in metrics.items()}
        metrics = info.pop("layers")
        info["detail"] = metrics.pop("detail")
    print(json.dumps({"info": info}), flush=True)
    emit(correct, attempted, failed, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
