#!/usr/bin/env python
"""MERGE cost at 1k committed batches: does ``sinks.merge_sink`` keep
the candidate set bloom-bounded for a small change set, fall back to
one column-pruned key scan for a large one, and stay cheap on the
idempotent re-run?

Sink layout synthesized exactly like tools/bloom_lookup_probe.py
(byte-identical to ``append_batch_manifest`` output); the path under
test is the real ``sinks.merge_sink``.

Reported:

- small MERGE (10 updates across distinct batches + 5 inserts):
  candidates (expect ~10 + fpp*N bloom false positives), touched
  (expect exactly 10), wall;
- the idempotent re-run under the same merge_id (expect inserted=0,
  the previously-inserted batch now matched);
- a change set larger than sinks._PROBE_KEYS_LIMIT: discovery degrades to ONE
  key-column scan-join over the date-pruned batches -- wall is the
  full-scan floor every stat-less MERGE pays;
- insert-only MERGE (dedup-append): no rewrites ever, one anti-join +
  one append.

Usage::

    python tools/merge_probe.py [n_batches] [rows_per_batch]

Results land in docs/SCALE.md SS10f.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bloom_lookup_probe import WORK, synth_sink

from mqtt_message_pump_spark.session import get_spark
from mqtt_message_pump_spark.sinks import merge_sink, read_sink


def _timed(label, fn):
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    print(f"  {label}: {dt:.2f}s", flush=True)
    return out, dt


def _present_mids(
    path: str, n: int, n_batches: int, stride: int = 97
) -> list[str]:
    """One present mid from each of n different batches."""
    import pyarrow.parquet as pq

    out = []
    for i in range(n):
        b = (i * stride) % n_batches
        mpath = f"{path}/_manifests/b{b}.json"
        if not os.path.exists(mpath):
            continue
        with open(mpath) as f:
            m = json.load(f)
        t = pq.read_table(f"{path}/{m['files'][0]}", columns=["mid"])
        out.append(t["mid"][i % len(t)].as_py())
    return out


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    spark = get_spark(app_name="merge-probe")
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    path = f"{WORK}/merge"
    synth_sink(path, n_batches, rows, blooms=True)
    fold = len(sys.argv) <= 3 or sys.argv[3] != "nofold"
    print(
        f"MERGE at {n_batches} batches x {rows} rows "
        f"(bloom index {'folded' if fold else 'ABSENT'})",
        flush=True,
    )
    # sample present keys BEFORE folding: the snapshot retires the
    # standalone per-batch manifest files _present_mids reads
    upd = _present_mids(path, 10, n_batches)
    big_upd = _present_mids(path, 10, n_batches, stride=313)
    half_upd = _present_mids(path, 5, n_batches, stride=211)
    if fold:
        # production posture: a snapshot (with its folded bloom index)
        # exists, so candidate discovery reads ONE index object instead
        # of O(batches) sidecars (SCALE 10h); pass 'nofold' as argv[3]
        # for the sidecar-path floor
        from mqtt_message_pump_spark.sinks import snapshot_sink

        _timed(
            "snapshot + bloom-index fold (maintenance)",
            lambda: snapshot_sink(spark, path, min_uncovered=1),
        )

    def _src(mids, tag):
        return spark.createDataFrame(
            [(m, f"{tag}-{i}") for i, m in enumerate(mids)],
            ["mid", "payload"],
        ).withColumn("collect_date", F.to_date(F.lit("2024-01-01")))

    ins = [f"zzz-new-{i}" for i in range(5)]
    src = _src(upd + ins, "merged")
    res, _ = _timed(
        "MERGE 10 updates + 5 inserts",
        lambda: merge_sink(
            spark, path, src, on=["mid"], merge_id="probe-1",
        ),
    )
    print(
        f"    candidates={res['candidate_batches']}/{res['live_batches']}"
        f" touched={res['touched_batches']}"
        f" probed_clean={res['probed_clean']}"
        f" updated={res['rows_updated']} inserted={res['rows_inserted']}",
        flush=True,
    )
    res, _ = _timed(
        "idempotent re-run (same merge_id)",
        lambda: merge_sink(
            spark, path, src, on=["mid"], merge_id="probe-1",
        ),
    )
    print(
        f"    candidates={res['candidate_batches']}"
        f" touched={res['touched_batches']}"
        f" updated={res['rows_updated']} inserted={res['rows_inserted']}",
        flush=True,
    )

    # change set past sinks._PROBE_KEYS_LIMIT: ONE key-column scan discovery
    big = big_upd + [f"zzz-big-{i}" for i in range(500)]
    res, _ = _timed(
        "MERGE 510-key change set (scan discovery)",
        lambda: merge_sink(
            spark, path, _src(big, "big"), on=["mid"],
            merge_id="probe-2",
        ),
    )
    print(
        f"    candidates={res['candidate_batches']}"
        f" touched={res['touched_batches']}"
        f" updated={res['rows_updated']} inserted={res['rows_inserted']}",
        flush=True,
    )

    # insert-only (dedup-append): anti-join + one append, zero rewrites
    half = half_upd + [f"zzz-io-{i}" for i in range(5)]
    res, _ = _timed(
        "insert-only MERGE (5 present + 5 new keys)",
        lambda: merge_sink(
            spark, path, _src(half, "io"), on=["mid"],
            when_matched=None, merge_id="probe-3",
        ),
    )
    print(
        f"    candidates={res['candidate_batches']}"
        f" touched={res['touched_batches']}"
        f" inserted={res['rows_inserted']}",
        flush=True,
    )
    print(f"  final rows: {read_sink(spark, path).count()}", flush=True)


if __name__ == "__main__":
    main()
