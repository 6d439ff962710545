"""Open-loop MQTT load generator for the ``pump_stream`` workload.

Runs as its own process, apart from the engine under test: one in-repo
``MiniBroker`` plus one QoS-1 publisher connection that sends on a fixed
schedule whether or not the pump keeps up.

Protocol on stdin/stdout (one JSON object per line):

1. prints ``{"port": <broker port>}`` once the broker listens;
2. on a ``warm <n>`` line, waits for the pump to subscribe, publishes
   ``n`` messages at once and prints ``{"warm": n}``: they let the pump
   compile its data path before the schedule starts;
3. on a ``go`` line, prints ``{"t0": <schedule start, epoch seconds>}``
   and publishes message ``i`` when it is due at ``t0 + i / rate``;
4. after ``--seconds`` of schedule, waits for every PUBACK and prints
   ``{"published": n, "late_max_s": ..., "late_p99_s": ...}``: how far
   behind its schedule the publisher ran;
5. keeps the broker up until stdin closes, then stops it and exits.

Each payload is ``{"r1":{"k":<seeded value>},"r2":{"k":<due time, us>}}``,
two records of the pump's default ``map<string,struct<k:long>>`` schema,
so the creation stamp rides through both sinks.  The stamp is the time
the message was *due*, so a publisher stall counts against latency.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mqtt_message_pump_spark.sources.minimqtt import (  # noqa: E402
    MiniBroker,
    MiniMqttClient,
)

TICK_S = 0.005


def _say(obj: dict) -> None:
    print(json.dumps(obj), flush=True)


def _payload(rng: random.Random, due_us: int) -> bytes:
    return (
        f'{{"r1":{{"k":{rng.getrandbits(62)}}},"r2":{{"k":{due_us}}}}}'
    ).encode()


def publish_schedule(
    client: MiniMqttClient, topic: str, rate: float, seconds: float,
    rng: random.Random,
) -> tuple[int, list[float]]:
    """Publish ``rate * seconds`` messages on schedule; return the count
    sent and per-tick lateness samples."""
    total = int(rate * seconds)
    t0 = time.time()
    _say({"t0": t0})
    late: list[float] = []
    i = 0
    while i < total:
        now = time.time()
        due_n = min(total, int((now - t0) * rate) + 1)
        if i < due_n:
            late.append(now - (t0 + i / rate))
        while i < due_n:
            client.publish(
                topic, _payload(rng, int((t0 + i / rate) * 1e6)), qos=1
            )
            i += 1
        time.sleep(TICK_S)
    return total, late


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--topic", required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()

    broker = MiniBroker()
    try:
        _say({"port": broker.port})
        client = MiniMqttClient(
            "127.0.0.1", broker.port, client_id="perfbench-pub"
        )
        rng = random.Random(args.seed)
        sent = 0
        cmd = sys.stdin.readline().split()
        while cmd and cmd[0] == "warm":
            if not broker.wait_for_subscription(args.topic, timeout=120):
                return 2
            for _ in range(int(cmd[1])):
                client.publish(
                    args.topic, _payload(rng, int(time.time() * 1e6)), qos=1
                )
            sent += int(cmd[1])
            _say({"warm": int(cmd[1])})
            cmd = sys.stdin.readline().split()
        if cmd != ["go"]:
            return 2
        n, late = publish_schedule(
            client, args.topic, args.rate, args.seconds, rng
        )
        sent += n
        acked = client.wait_for_acks(timeout=60.0)
        client.disconnect()
        late.sort()
        _say({
            "published": sent,
            "acked": acked,
            "late_max_s": late[-1] if late else 0.0,
            "late_p99_s": late[int(0.99 * (len(late) - 1))] if late else 0.0,
        })
        sys.stdin.read()  # parent closes stdin once the pump has drained
    finally:
        broker.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
