"""One timed set-up in a fresh process: ``python3 perfbench/setup_probe.py
<workload> [broker port]``.  Prints ``{"setup_s": ...}``, the seconds from
this process's start until the workload's set-up returned."""

from __future__ import annotations

import json
import sys
import time

from common import process_start_time, setup, stop_engine


def main() -> int:
    t_start = process_start_time()
    spark = setup(sys.argv[1], *sys.argv[2:])
    print(json.dumps({"setup_s": time.time() - t_start}), flush=True)
    stop_engine(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
