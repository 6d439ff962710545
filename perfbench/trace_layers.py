"""Traced mode (``--trace 1``): the per-layer breakdown of a run.

Spans come from the benchmark's own files, around calls into the
engine's public functions; nothing inside the engine is changed:

- each operation -- a micro-batch of the pump (from its progress
  events) or one ``execute_sql`` statement -- is a window in time;
- module-attribute wrappers time ``sinks.write_append``,
  ``delete_sink_where``, ``update_sink_where`` and ``merge_sink``; the
  engine imports these from ``sinks`` at call time, so the wrappers see
  every call;
- Spark's event log, written uncompressed because Spark 4's default
  zstd cannot be read with the standard library, gives jobs, stages,
  tasks, executor run and CPU time, shuffle bytes, spill and task skew.
  Jobs are attributed to an operation by submission time.  Operations
  are strictly serial in both workloads, so this is exact; a job group
  set on the calling thread would miss the jobs that the DML and pump
  code submit from their own thread pools.

``reduce_pump`` returns the per-layer metrics named in
``BENCHMARK.json`` plus ``detail``: streaming phases, source, state and
backlog.  ``reduce_dml`` returns the statement-layer overhead, DML
pruning and the engine work per statement of ``dml.py``'s mix.
"""

from __future__ import annotations

import glob
import json
import os
import time

from common import median, tree_pids

SINK_CALLS = ("write_append", "delete_sink_where", "update_sink_where",
              "merge_sink")


def _jvm_peak_rss_mb() -> float:
    best = 0.0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(
                    line.split(":", 1) for line in f if ":" in line
                )
        except OSError:
            continue
        if status.get("Name", "").strip() == "java":
            best = max(best, int(status["VmHWM"].split()[0]) / 1024.0)
    return best


class Tracer:
    def __init__(self) -> None:
        self.log_dir = ""
        self.ops: list[dict] = []  # {"kind", "t0", "t1", "timed"}
        self.calls: list[dict] = []  # {"fn", "t0", "t1", "path", "out"}
        self.session_start_s = 0.0
        self.jvm_peak_rss_mb = 0.0
        self._timed = False
        self._saved: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------- recording
    def spark_conf(self, work: str) -> dict[str, str]:
        self.log_dir = os.path.join(work, "eventlog")
        os.makedirs(self.log_dir)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{self.log_dir}",
            "spark.eventLog.compress": "false",
        }

    def wrap_sinks(self) -> None:
        from mqtt_message_pump_spark import sinks

        for name in SINK_CALLS:
            fn = getattr(sinks, name)
            self._saved.append((sinks, name, fn))
            setattr(sinks, name, self._timed_call(name, fn))

    def _timed_call(self, name: str, fn):
        def call(*args, **kwargs):
            t0 = time.time()
            out = fn(*args, **kwargs)
            path = kwargs.get("table_path") or (
                args[2] if name == "write_append" else args[1]
            )
            self.calls.append({"fn": name, "t0": t0, "t1": time.time(),
                               "path": str(path), "out": out})
            return out

        return call

    def unwrap(self) -> None:
        for mod, name, fn in reversed(self._saved):
            setattr(mod, name, fn)
        self._saved.clear()

    def start(self) -> None:
        self._timed = True

    def stop(self) -> None:
        self._timed = False

    def begin_op(self, kind: str) -> None:
        self.ops.append({"kind": kind, "t0": time.time(), "t1": None,
                         "timed": self._timed})

    def end_op(self) -> None:
        self.ops[-1]["t1"] = time.time()

    def before_stop(self) -> None:
        """Call while the session is still up."""
        self.jvm_peak_rss_mb = _jvm_peak_rss_mb()

    # ---------------------------------------------------------- reduction
    def _events(self) -> dict:
        """Jobs, stages and tasks from the event log; read after
        ``spark.stop()`` so the log is complete."""
        jobs: dict[int, dict] = {}
        stages: dict[int, dict] = {}
        tasks: dict[int, list[dict]] = {}
        # Spark 4 writes one directory per application holding numbered
        # ``events_<n>_...`` files, plus an empty status marker
        for path in sorted(glob.glob(
            os.path.join(self.log_dir, "**", "events_*"), recursive=True
        )):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        jobs[ev["Job ID"]] = {
                            "t0": ev["Submission Time"] / 1000.0,
                            "stages": ev["Stage IDs"],
                        }
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in jobs:
                            jobs[ev["Job ID"]]["t1"] = (
                                ev["Completion Time"] / 1000.0
                            )
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        if "Submission Time" in info:
                            stages[info["Stage ID"]] = {
                                "t0": info["Submission Time"] / 1000.0,
                                "t1": info.get(
                                    "Completion Time",
                                    info["Submission Time"],
                                ) / 1000.0,
                            }
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        ti = ev["Task Info"]
                        sr = m.get("Shuffle Read Metrics", {})
                        sw = m.get("Shuffle Write Metrics", {})
                        tasks.setdefault(ev["Stage ID"], []).append({
                            "dur": (ti["Finish Time"] - ti["Launch Time"])
                            / 1000.0,
                            "run": m.get("Executor Run Time", 0) / 1000.0,
                            "cpu": m.get("Executor CPU Time", 0) / 1e9,
                            "shuffle": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0)
                            + sw.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        })
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    @staticmethod
    def _op_engine(ev: dict, t0: float, t1: float) -> dict:
        """Engine work of the jobs submitted inside [t0, t1]."""
        jobs = [j for j in ev["jobs"].values() if t0 <= j["t0"] <= t1]
        spans = sorted((j["t0"], min(j.get("t1", t1), t1)) for j in jobs)
        busy, end = 0.0, t0
        for a, b in spans:
            a = max(a, end)
            if b > a:
                busy += b - a
                end = b
        stage_ids = sorted({s for j in jobs for s in j["stages"]})
        ran = [s for s in stage_ids if s in ev["tasks"]]
        tasks = [t for s in ran for t in ev["tasks"][s]]
        skew = 1.0
        for s in ran:
            durs = [t["dur"] for t in ev["tasks"][s]]
            if len(durs) >= 2 and median(durs) > 0:
                skew = max(skew, max(durs) / median(durs))
        first = ev["stages"].get(ran[0]) if ran else None
        return {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": len(tasks),
            "outside_jobs_s": (t1 - t0) - busy,
            "executor_run_s": sum(t["run"] for t in tasks),
            "executor_cpu_s": sum(t["cpu"] for t in tasks),
            "shuffle_mb": sum(t["shuffle"] for t in tasks) / 2**20,
            "spill_mb": sum(t["spill"] for t in tasks) / 2**20,
            "task_skew_max": skew,
            "first_stage_s": first["t1"] - first["t0"] if first else 0.0,
        }

    def _layers(self, engine: list[dict], sink_s: list[float]) -> dict:
        def med(key: str) -> float:
            return median([e[key] for e in engine])

        return {
            "session.start_s": (self.session_start_s, "s"),
            "session.jvm_peak_rss_mb": (self.jvm_peak_rss_mb, "MB"),
            "sinks.call_s": (median(sink_s), "s"),
            "engine.ops": (len(engine), "count"),
            "engine.jobs_per_op": (med("jobs"), "count"),
            "engine.stages_per_op": (med("stages"), "count"),
            "engine.tasks_per_op": (med("tasks"), "count"),
            "engine.outside_jobs_s": (med("outside_jobs_s"), "s"),
            "engine.executor_run_s": (med("executor_run_s"), "s"),
            "engine.executor_cpu_s": (med("executor_cpu_s"), "s"),
            "engine.shuffle_mb": (med("shuffle_mb"), "MB"),
            "engine.task_skew_max": (med("task_skew_max"), "ratio"),
        }

    def reduce_pump(
        self, batches: dict, win0: float, win1: float, rate: float,
        sched: tuple[float, float], warm_msgs: int, out_dir: str,
    ) -> dict:
        """``sched`` is the publish schedule's (start, end); ``warm_msgs``
        were published before it."""
        ev = self._events()
        ids = sorted(
            b for b, r in batches.items() if win0 <= r["start"] < win1
        )
        engine = [
            self._op_engine(ev, batches[b]["start"], batches[b]["commit"])
            for b in ids
        ]
        writes: dict[tuple[int, str], float] = {}
        per_batch: list[float] = []
        for b in ids:
            r = batches[b]
            mine = [c for c in self.calls
                    if c["fn"] == "write_append"
                    and r["start"] <= c["t0"] <= r["commit"]]
            per_batch.append(sum(c["t1"] - c["t0"] for c in mine))
            for c in mine:
                side = "raw" if c["path"].endswith("raw_message") else "flat"
                writes.setdefault((b, side), c["t1"] - c["t0"])
        # published by each commit minus rows committed by then
        backlog, done = [], 0
        for b in sorted(batches):
            r = batches[b]
            done += r["rows"]
            if b in ids:
                due = min(r["commit"], sched[1]) - sched[0]
                backlog.append(warm_msgs + rate * max(0.0, due) - done)
        files = 0
        for side in ("raw_message", "json_message"):
            for _, _, names in os.walk(os.path.join(out_dir, side)):
                files += sum(1 for n in names if n.endswith(".parquet"))

        def dur(key: str) -> float:
            return median([batches[b]["durations"].get(key, 0) / 1000.0
                           for b in ids])

        detail = {
            "batches": len(ids),
            "sources.mqtt.rows_per_batch": median(
                [batches[b]["rows"] for b in ids]),
            "sources.mqtt.read_stage_s": median(
                [e["first_stage_s"] for e in engine]),
            "streaming.trigger_s": dur("triggerExecution"),
            "streaming.latest_offset_s": dur("latestOffset"),
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.commit_offsets_s": dur("commitOffsets"),
            "streaming.jobs_per_batch": median([e["jobs"] for e in engine]),
            "streaming.tasks_per_batch": median([e["tasks"] for e in engine]),
            "streaming.state_rows": max(
                batches[b]["state_rows"] for b in ids),
            "streaming.state_mb": max(
                batches[b]["state_bytes"] for b in ids) / 2**20,
            "streaming.backlog_msgs": max(backlog),
            "sinks.write_append.raw_s": median(
                [v for (b, s), v in writes.items() if s == "raw"]),
            "sinks.write_append.flat_s": median(
                [v for (b, s), v in writes.items() if s == "flat"]),
            "sinks.files_per_batch": files / max(1, len(batches)),
            "engine.spill_mb": median([e["spill_mb"] for e in engine]),
        }
        layers = self._layers(engine, per_batch)
        layers["detail"] = detail
        return layers

    def reduce_dml(self) -> dict:
        ev = self._events()
        ops = [o for o in self.ops if o["timed"]]
        engine = [self._op_engine(ev, o["t0"], o["t1"]) for o in ops]
        sink_s, overhead, cands, rewritten = [], [], 0, 0
        for o in ops:
            mine = [c for c in self.calls
                    if c["fn"] != "write_append"
                    and o["t0"] <= c["t0"] <= o["t1"]]
            if not mine:
                continue
            inside = sum(c["t1"] - c["t0"] for c in mine)
            sink_s.append(inside)
            overhead.append((o["t1"] - o["t0"]) - inside)
            for c in mine:
                cands += c["out"].get("candidate_batches", 0)
                rewritten += len(c["out"].get("rewritten", ()))
        scans = [o["t1"] - o["t0"] for o in self.ops if o["kind"] == "scan"]
        selects = [o["t1"] - o["t0"] for o in ops if o["kind"] == "select"]
        detail = {
            "statements": len(ops),
            "sqlstmt.overhead_s": median(overhead),
            "sinks.dml.call_s": median(sink_s),
            "sinks.dml.candidate_batches": cands,
            "sinks.dml.rewritten_batches": rewritten,
            "sinks.dml.candidate_precision": rewritten / cands if cands else 0,
            "sources.manifestsink.point_select_s": median(selects),
            "sources.manifestsink.scan_s": median(scans),
            "statement_p50_s": median([o["t1"] - o["t0"] for o in ops]),
            "statements_total_s": sum(o["t1"] - o["t0"] for o in ops),
            "engine.spill_mb": median([e["spill_mb"] for e in engine]),
        }
        for name, (value, _) in self._layers(engine, sink_s).items():
            if name.startswith("engine."):
                detail[name] = value
        return detail
