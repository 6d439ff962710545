"""SQL statements against a manifest sink, one client in a closed loop:
the statement layer (``sqlstmt``) and the DML paths of ``sinks``, timed
in the traced run of ``pump_low`` (see README.md for why not in a
workload of their own).

Input: a manifest sink of ``N_BATCHES`` committed batches of ``ROWS``
raw-message rows each, written through the public manifest write path
(``sinks.write_append`` with ``StoreConf(commit_protocol="manifest")``).
Its contents are fixed, so it is built once per checkout and copied
fresh for every run, because the statements mutate it.  The seed picks
the statement sequence: which keys, which statement kinds, which values.

The statements are point ``SELECT``, ``DELETE``, ``UPDATE`` and ``MERGE``
on ``mid``, sent through ``sqlstmt.execute_sql``; each result is checked
against the state the benchmark expects from the statements it issued.
After them, an untimed full read compares per-topic row counts and
content checksums with that state, and one full-scan ``GROUP BY``
through the statement layer is traced.
"""

from __future__ import annotations

import os
import random
import shutil
import zlib

from common import ROOT

N_BATCHES = 60
ROWS = 1000
TOPICS = 8
# one round of the mix; each round is shuffled by the seed, so every run
# issues the same shares whatever its seed
ROUND = ("select", "select", "delete", "update", "merge")
SINK_VERSION = 2  # bump when the sink layout below changes
TIMED = 10


def _mid(b: int, i: int) -> str:
    return f"{b:04d}{i:04d}{(b * 7919 + i * 104729) % 65536:04x}"


def _topic(b: int, i: int) -> str:
    return f"pump/g/{(b + i) % TOPICS}"


def _payload(b: int, i: int) -> str:
    return f'{{"r1":{{"k":{b}}},"r2":{{"k":{i}}}}}'


def _build_sink(spark, path: str) -> None:
    from pyspark.sql import functions as F

    from mqtt_message_pump_spark.config import StoreConf
    from mqtt_message_pump_spark.sinks import write_append

    store = StoreConf(commit_protocol="manifest")
    for b in range(N_BATCHES):
        rows = [(_mid(b, i), _topic(b, i), _payload(b, i), b * 600 + i // 10)
                for i in range(ROWS)]
        df = spark.createDataFrame(
            rows, "mid string, topic string, payload string, s long"
        ).select(
            "mid", "topic", "payload",
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("s"))
            .alias("collect_datetime"),
        ).withColumn("collect_date", F.to_date("collect_datetime"))
        write_append(df, store, path, batch_id=b)


def ensure_sink(spark) -> str:
    """The pristine sink, built on first use.  It is built under a
    temporary name and renamed when complete, so an interrupted build is
    rebuilt rather than read half-written."""
    final = os.path.join(
        ROOT, ".perfbench", "cache", f"dml-sink-v{SINK_VERSION}"
    )
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    _build_sink(spark, tmp)
    os.rename(tmp, final)
    return final


class Client:
    """Issues the seeded statements and checks each result against the
    expected sink state, ``mid -> (topic, payload)``."""

    def __init__(self, spark, path: str, seed: int, tracer) -> None:
        self.spark, self.path, self.tracer = spark, path, tracer
        self.rng = random.Random(seed)
        self.state = {
            _mid(b, i): (_topic(b, i), _payload(b, i))
            for b in range(N_BATCHES) for i in range(ROWS)
        }
        self.live = sorted(self.state)
        self.changed: list[str] = []
        self.log: list[tuple[str, bool]] = []  # (kind, result was right)
        self._round: list[str] = []

    def sql(self, kind: str, sql: str):
        """Run one statement as one traced operation; a SELECT's rows are
        collected inside it."""
        from mqtt_message_pump_spark.sqlstmt import execute_sql

        self.tracer.begin_op(kind)
        out = execute_sql(self.spark, sql, tables={"t": self.path})
        if not isinstance(out, dict):
            out = out.collect()
        self.tracer.end_op()
        return out

    def _take_live(self) -> str:
        j = self.rng.randrange(len(self.live))
        self.live[j], self.live[-1] = self.live[-1], self.live[j]
        return self.live.pop()

    def step(self, kind: str | None = None) -> None:
        if kind is None:
            if not self._round:
                self._round = list(ROUND)
                self.rng.shuffle(self._round)
            kind = self._round.pop()
        if kind == "select":
            if self.changed and self.rng.random() < 0.5:
                key = self.rng.choice(self.changed)
            else:
                key = self.rng.choice(self.live)
            rows = self.sql(
                kind, f"SELECT payload FROM t WHERE mid = '{key}'"
            )
            want = [self.state[key][1]] if key in self.state else []
            ok = [r["payload"] for r in rows] == want
        elif kind == "delete":
            key = self._take_live()
            out = self.sql(kind, f"DELETE FROM t WHERE mid = '{key}'")
            ok = out["rows_deleted"] == 1
            del self.state[key]
            self.changed.append(key)
        else:
            key = self._take_live()
            new = f"v{self.rng.getrandbits(48):x}"
            if kind == "update":
                sql = f"UPDATE t SET payload = '{new}' WHERE mid = '{key}'"
            else:
                sql = (
                    "MERGE INTO t USING (SELECT "
                    f"'{key}' AS mid, '{new}' AS payload) s "
                    "ON t.mid = s.mid "
                    "WHEN MATCHED THEN UPDATE SET payload = s.payload"
                )
            out = self.sql(kind, sql)
            ok = out["rows_updated"] == 1
            self.state[key] = (self.state[key][0], new)
            self.changed.append(key)
        self.log.append((kind, ok))

    def check_state(self) -> bool:
        """Untimed: row count and a content checksum per topic of the
        whole sink, read through ``sinks.read_sink``, must equal the
        expected state's."""
        from pyspark.sql import functions as F

        from mqtt_message_pump_spark.sinks import read_sink

        rows = (
            read_sink(self.spark, self.path)
            .groupBy("topic")
            .agg(F.count("*").alias("n"),
                 F.sum(F.crc32(F.concat_ws("|", "mid", "payload"))).alias("h"))
            .collect()
        )
        want: dict[str, list[int]] = {}
        for mid, (topic, payload) in self.state.items():
            w = want.setdefault(topic, [0, 0])
            w[0] += 1
            w[1] += zlib.crc32(f"{mid}|{payload}".encode())
        return {r["topic"]: [r["n"], r["h"]] for r in rows} == want

    def scan(self) -> None:
        """One full-scan ``GROUP BY`` through the statement layer."""
        self.sql("scan", "SELECT topic, count(*) AS n FROM t GROUP BY topic")


def traced_statements(
    spark, work: str, seed: int, tracer
) -> tuple[int, int]:
    """Run the statement mix on a fresh copy of the pristine sink:
    one untimed statement of each kind (the first execution of a plan
    shape pays class loading and code generation), ``TIMED`` traced
    statements, then the untimed full-state check and one traced
    full-scan ``GROUP BY``.  Returns (statements attempted, failed)."""
    path = os.path.join(work, "sink")
    shutil.copytree(ensure_sink(spark), path)
    client = Client(spark, path, seed, tracer)
    for kind in sorted(set(ROUND)):
        client.step(kind)
    tracer.start()
    for _ in range(TIMED):
        client.step()
    tracer.stop()
    state_ok = client.check_state()
    client.scan()
    failed = sum(1 for _, ok in client.log if not ok) + (not state_ok)
    return len(client.log) + 1, failed
