"""``pump_stream`` and ``pump_low``: the live MQTT pump under open-loop
load.

The engine process runs ``start_stream_pump`` over
``readStream.format("mqtt_pump")`` in the exactly-once configuration of
``tests/test_soak.py`` (QoS 1, persistent session, receive WAL, 30-s
dedupe watermark, 1-s trigger, 1-s poll window).  ``loadgen.py`` runs in
its own process and publishes at the workload's rate (``RATES``) whatever
the pump does.  The first ``WARMUP_S`` seconds of the schedule are
excluded, and the schedule starts only once the pump has committed
``WARM_MSGS`` messages sent at once as soon as it subscribed: the first
batch pays the source's and the JSON path's start-up, and the catch-up
after it, at the source's 10,000-row cap, would otherwise reach into the
window.

Latency of a message is the commit time of the micro-batch that wrote it
(trigger start plus ``triggerExecution`` from the query's progress) minus
the time the message was due at the generator.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from datetime import datetime, timezone

from common import (
    HERE,
    ROOT,
    elapsed,
    host_cpu,
    median,
    quantile,
    setup_side_by_side,
    stop_engine,
    tree_cpu_s,
)

# workload -> message rate (msg/s).  At 1,500, about a third of the
# ~4,300 msg/s this configuration sustains, per-row cost shows; at 500 the
# per-batch fixed cost dominates.  Both leave headroom: when the host's
# hypervisor takes a quarter of the CPUs, 2,500 msg/s already queued up
# and doubled the latency.
RATES = {"pump_stream": 1500, "pump_low": 500}
WARMUP_S = 4.0
WARM_MSGS = 5000
TAIL_S = 1.0  # schedule kept running past the window so it ends in load
LATENCY_LIMIT_S = 10.0  # a message committed later than this has failed
GENERATOR_LATE_LIMIT_S = 0.5  # beyond this the run is invalid, not slow
TOPIC = "pump/g/1"
# the statement mix of dml.py runs after the pump in this workload's
# traced run only
DML_TRACED_ON = "pump_low"
_BATCH_RE = r"/b(?:[0-9a-f]+-)?(\d+)-part-"


def _epoch_s(iso: str) -> float:
    return (
        datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _make_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Keeps every micro-batch's progress, keyed by batch id."""

        def __init__(self) -> None:
            self.batches: dict[int, dict] = {}
            self.lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            start = _epoch_s(p.timestamp)
            rec = {
                "start": start,
                "commit": start + p.durationMs["triggerExecution"] / 1000.0,
                "rows": p.numInputRows,
                "durations": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(
                    s.memoryUsedBytes for s in p.stateOperators
                ),
            }
            with self.lock:
                self.batches[p.batchId] = rec

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def rows_committed(self) -> int:
            with self.lock:
                return sum(b["rows"] for b in self.batches.values())

    return ProgressLog()


def _read_line(proc: subprocess.Popen, timeout: float) -> dict:
    box: list[str] = []
    t = threading.Thread(
        target=lambda: box.append(proc.stdout.readline()), daemon=True
    )
    t.start()
    t.join(timeout)
    if not box or not box[0]:
        raise RuntimeError("load generator stopped answering")
    return json.loads(box[0])


def _wait_for(cond, timeout: float) -> None:
    deadline = time.time() + timeout
    while not cond():
        if time.time() > deadline:
            raise RuntimeError("pump made no progress")
        time.sleep(0.1)


def _check_sinks(spark, out: str) -> dict:
    """Untimed: the soak's exactly-once checks, plus each raw row's due
    time and the micro-batch that committed it."""
    from pyspark.sql import functions as F

    raw = spark.read.parquet(f"{out}/raw_message")
    n_raw = raw.count()
    n_distinct = raw.select("payload").distinct().count()
    n_flat = spark.read.parquet(f"{out}/json_message").count()
    rows = (
        raw.select(
            F.get_json_object("payload", "$.r2.k").cast("long").alias("due"),
            F.regexp_extract(F.input_file_name(), _BATCH_RE, 1)
            .cast("int").alias("batch"),
        )
        .toPandas()
    )
    return {
        "raw": n_raw, "distinct": n_distinct, "flat": n_flat,
        "due_us": rows["due"].tolist(), "batch": rows["batch"].tolist(),
    }


def run(
    workload: str, seed: int, seconds: float, boot_s: float, work: str,
    tracer=None,
) -> tuple[bool, int, int, dict, dict]:
    from mqtt_message_pump_spark.streaming.pump import (
        drain_and_stop,
        start_stream_pump,
    )

    rate = RATES[workload]
    sched_s = WARMUP_S + seconds + TAIL_S
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "loadgen.py"), "--topic", TOPIC,
         "--rate", str(rate), "--seconds", str(sched_s), "--seed", str(seed)],
        cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        port = _read_line(gen, 60)["port"]
        marks = {}
        spark, setup_runs = setup_side_by_side(
            workload, boot_s, work, port,
            tracer.spark_conf(work) if tracer else None,
        )
        marks["setup"] = elapsed()
        if tracer:
            tracer.session_start_s = setup_runs[0] - boot_s
        listener = _make_listener()
        spark.streams.addListener(listener)
        if tracer:
            tracer.wrap_sinks()
        stream = (
            spark.readStream.format("mqtt_pump")
            .option("server", f"tcp://127.0.0.1:{port}")
            .option("group_num", "0")
            .option("topic_root", "pump/")
            .option("topic_prefix", "g")
            .option("qos", "1")
            .option("clean_session", "false")
            .option("client_name", "perfbench-sub")
            .option("poll_timeout_secs", "1")
            .option("wal_dir", f"{work}/ckpt/_mqtt_wal")
            .load()
        )
        q = start_stream_pump(
            spark, stream, f"{work}/out", f"{work}/ckpt",
            trigger_secs=1, dedupe_watermark="30 seconds",
        )
        gen.stdin.write(f"warm {WARM_MSGS}\n")
        gen.stdin.flush()
        _read_line(gen, 150)
        _wait_for(lambda: listener.rows_committed() >= WARM_MSGS, 120)
        gen.stdin.write("go\n")
        gen.stdin.flush()
        sched_t0 = _read_line(gen, 60)["t0"]
        marks["warm"] = elapsed()
        me = os.getpid()
        win0, win1 = sched_t0 + WARMUP_S, sched_t0 + WARMUP_S + seconds
        time.sleep(max(0.0, win0 - time.time()))
        cpu0, host0 = tree_cpu_s(me, {gen.pid}), host_cpu()
        time.sleep(max(0.0, win1 - time.time()))
        cpu1, host1 = tree_cpu_s(me, {gen.pid}), host_cpu()
        marks["window"] = elapsed()
        gen_report = _read_line(gen, sched_s + 120)
        deadline = time.time() + LATENCY_LIMIT_S + 30
        while (listener.rows_committed() < gen_report["published"]
               and time.time() < deadline and q.isActive):
            time.sleep(0.2)
        # every published message is committed (or the deadline passed):
        # stop at the next batch boundary
        drain_and_stop(q, until_idle=False)
        marks["drain"] = elapsed()
        spark.streams.removeListener(listener)
        got = _check_sinks(spark, f"{work}/out")
        marks["checks"] = elapsed()
        dml_attempted = dml_failed = 0
        if tracer and workload == DML_TRACED_ON:
            import dml

            dml_attempted, dml_failed = dml.traced_statements(
                spark, work, seed, tracer
            )
    finally:
        if gen.poll() is None:
            gen.stdin.close()
            try:
                gen.wait(30)
            except subprocess.TimeoutExpired:
                gen.kill()
                gen.wait()

    published = gen_report["published"]
    batches = listener.batches
    lat_all, lat_win = [], []
    unknown_batch = 0
    for due_us, b in zip(got["due_us"], got["batch"]):
        rec = batches.get(b)
        if rec is None:
            unknown_batch += 1
            continue
        lat = rec["commit"] - due_us / 1e6
        lat_all.append(lat)
        if win0 <= due_us / 1e6 < win1:
            lat_win.append(lat)
    lost = published - got["distinct"]
    dups = got["raw"] - got["distinct"]
    late = sum(1 for x in lat_all if x > LATENCY_LIMIT_S)
    failed = max(lost, 0) + dups + late + unknown_batch + dml_failed
    correct = (
        got["raw"] == published
        and got["distinct"] == published
        and got["flat"] == 2 * got["raw"]
        and bool(lat_win)
        and gen_report["acked"]
        and gen_report["late_max_s"] <= GENERATOR_LATE_LIMIT_S
        and dml_failed == 0
    )
    lat = lat_win or [-1.0]  # no message in the window: not correct
    metrics = {
        "setup_s": (median(setup_runs), "s"),
        "latency_p50_s": (median(lat), "s"),
        "latency_tail_s": (quantile(lat, 0.99), "s"),
        "engine_cpu_per_op_ms": (
            1000 * (cpu1 - cpu0) / (rate * seconds), "ms"
        ),
    }
    info = {
        "published": published, "lost": lost, "duplicated": dups,
        "late": late, "window_msgs": len(lat_win),
        "generator_late_max_s": gen_report["late_max_s"],
        "generator_late_p99_s": gen_report["late_p99_s"],
        "setup_runs_s": setup_runs,
        "phases_end_s": marks,
        "host_cpu_s": {k: round(host1[k] - host0[k], 2) for k in host0},
        "batches": sorted(
            (b, round(r["start"] - sched_t0, 2),
             round(r["commit"] - sched_t0, 2), r["rows"])
            for b, r in batches.items()
        ),
    }
    if tracer:
        tracer.unwrap()
        tracer.before_stop()
    stop_engine(spark)
    if tracer:
        info["layers"] = tracer.reduce_pump(
            batches, win0, win1, rate,
            (sched_t0, sched_t0 + sched_s), WARM_MSGS, f"{work}/out",
        )
        if dml_attempted:
            info["layers"]["detail"]["dml"] = tracer.reduce_dml()
    return correct, published + dml_attempted, failed, metrics, info
