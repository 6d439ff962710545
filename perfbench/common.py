"""Helpers shared by the benchmark's workloads: process clocks, CPU
accounting from ``/proc``, percentiles, set-up timing and the result line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

_TICK = os.sysconf("SC_CLK_TCK")
SETUP_PROBES = 1  # fresh processes set up beside the measuring one


def process_start_time(pid: int | str = "self") -> float:
    """Wall-clock start of a process, from ``/proc/<pid>/stat``."""
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return btime + int(fields[19]) / _TICK


def elapsed() -> float:
    """Seconds since this process started, for the phase timeline."""
    return round(time.time() - process_start_time(), 2)


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, CPU seconds incl. reaped children)."""
    out: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we listed
        cpu = sum(int(x) for x in fields[11:15]) / _TICK
        out[int(name)] = (int(fields[1]), cpu)
    return out


def host_cpu() -> dict[str, float]:
    """Host-wide CPU seconds by state, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        v = [int(x) / _TICK for x in f.readline().split()[1:9]]
    return {"busy": v[0] + v[1] + v[2] + v[5] + v[6], "iowait": v[4],
            "steal": v[7]}


def tree_cpu_s(root: int, exclude: set[int]) -> float:
    """CPU seconds of ``root`` and its descendants, minus the subtrees
    rooted at ``exclude`` (the load generator).  Children that already
    exited count through their parent's reaped-children time."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    total, stack = 0.0, [root]
    while stack:
        pid = stack.pop()
        if pid in exclude or pid not in table:
            continue
        total += table[pid][1]
        stack.extend(kids.get(pid, ()))
    return total


def tree_pids(root: int) -> list[int]:
    table = _proc_table()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(p for p, (pp, _) in table.items() if pp == pid)
    return out


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def setup(
    workload: str,
    port: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
):
    """The set-up a workload pays before its first timed operation:
    the engine's session, the source it reads through and, for the pump,
    one connection to the broker.  Returns the session."""
    from mqtt_message_pump_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=extra_conf)
    if workload.startswith("pump"):
        from mqtt_message_pump_spark.sources.minimqtt import MiniMqttClient
        from mqtt_message_pump_spark.sources.mqtt import register_mqtt_source

        register_mqtt_source(spark)
        MiniMqttClient(
            "127.0.0.1", int(port), client_id="perfbench-setup"
        ).disconnect()
    else:
        from mqtt_message_pump_spark.sources.manifestsink import (
            register_manifest_sink_source,
        )

        register_manifest_sink_source(spark)
    return spark


def stop_engine(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for the JVM to
    exit; its Python workers go with it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(60)


def setup_side_by_side(
    workload: str, boot_s: float, work: str, port: int | None = None,
    extra_conf: dict[str, str] | None = None,
):
    """Set up this process and ``SETUP_PROBES`` fresh processes at the
    same time, each doing exactly this workload's set-up.  Returns the
    session and every set-up's seconds from its process start, this
    process's first; the benchmark reports their median.  Side by side,
    the set-ups contend for the CPUs, so each reads slower than alone,
    but the run pays for one set-up instead of several."""
    extra = [] if port is None else [str(port)]
    logs, procs = [], []
    for i in range(SETUP_PROBES):
        logs.append(open(os.path.join(work, f"setup_probe_{i}.log"), "w"))
        procs.append(subprocess.Popen(
            [sys.executable, os.path.join(HERE, "setup_probe.py"),
             workload, *extra],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=logs[-1], text=True,
        ))
    try:
        t0 = time.time()
        spark = setup(workload, port, extra_conf)
        runs = [boot_s + time.time() - t0]
        for p, log in zip(procs, logs):
            out, _ = p.communicate(timeout=170)
            if p.returncode != 0:
                with open(log.name) as f:
                    raise RuntimeError(
                        f"set-up probe failed:\n{f.read()[-2000:]}"
                    )
            runs.append(json.loads(out.strip().splitlines()[-1])["setup_s"])
    finally:
        for p, log in zip(procs, logs):
            if p.poll() is None:
                p.kill()
                p.wait()
            log.close()
    return spark, runs


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """Print the result line: the last line of standard output."""
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
        },
    }), flush=True)
