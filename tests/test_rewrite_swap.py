"""The manifest sink's one copy-on-write path (``sinks._rewrite_batch``)
seen through every caller: row-level DELETE / UPDATE, MERGE and
``drop_dates_sink`` straddlers.

1. Swap invariants: every swap manifest describes the data it points
   at -- rows, files and dates from the written layout, the written
   schema, the victim in ``supersedes``, a bloom sidecar exactly when
   the victim had one, and no stale min/max stats for SET columns.
2. Resume contract: a failure mid-statement leaves each batch fully old
   or fully new, and re-running the statement converges to the rows of
   an uninterrupted run.
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mqtt_message_pump_spark import sinks as S
from mqtt_message_pump_spark.config import StoreConf
from mqtt_message_pump_spark.sinks import (
    append_batch_manifest,
    delete_sink_where,
    drop_dates_sink,
    merge_sink,
    read_sink,
    update_sink_where,
)


def _frame(spark, rows):
    """rows: (mid, topic, payload, 'YYYY-MM-DD HH:MM:SS')"""
    return spark.createDataFrame(
        rows, ["mid", "topic", "payload", "d"]
    ).select(
        "mid", "topic", "payload",
        F.to_timestamp("d").alias("collect_datetime"),
        F.to_date(F.substring("d", 1, 10)).alias("collect_date"),
    )


def _batch_rows(b, per):
    return [
        (
            f"m{b * 100 + i:04d}",
            f"t/{b}",
            f"p{b * 100 + i}",
            f"2024-01-0{1 + i % 2} 00:00:{i % 60:02d}",
        )
        for i in range(per)
    ]


def _mk_sink(spark, tp, n_batches=3, per=6, bloom=True):
    """Batch b holds mids m<b*100>.. over two dates, topic ``t/<b>``."""
    store = StoreConf(commit_protocol="manifest", bloom_filters=bloom)
    for b in range(n_batches):
        append_batch_manifest(
            _frame(spark, _batch_rows(b, per)), store, tp, b
        )
    return tp


def _manifest_files(tp):
    mdir = os.path.join(tp, "_manifests")
    out = {}
    for n in os.listdir(mdir):
        if n.endswith(".json") and not n.startswith("."):
            with open(os.path.join(mdir, n)) as fh:
                out[n] = json.load(fh)
    return out


def _listing(tp, d):
    """(files, dates) of one attempt dir, as a manifest records them."""
    files = []
    for part in os.listdir(os.path.join(tp, d)):
        if not part.startswith("collect_date="):
            continue
        for f in os.listdir(os.path.join(tp, d, part)):
            if not f.startswith(("_", ".")):
                files.append(f"{d}/{part}/{f}")
    dates = {f.split("collect_date=")[1].split("/")[0] for f in files}
    return sorted(files), sorted(dates)


def _rows(spark, tp):
    return sorted(
        (r["mid"], r["topic"], r["payload"], str(r["collect_date"]))
        for r in read_sink(spark, tp).collect()
    )


def _merge_src(spark):
    return _frame(
        spark,
        [
            ("m0001", "t/new", "M1", "2024-01-02 00:00:09"),
            ("m0102", "t/new", "M2", "2024-01-01 00:00:09"),
        ],
    )


# case -> (victims carry a bloom sidecar, statement, SET columns)
SWAP_CASES = {
    "delete_partial": (
        True,
        lambda spark, tp: delete_sink_where(
            spark, tp, eq={"mid": ["m0001", "m0101", "m0202"]}
        ),
        (),
    ),
    "update": (
        False,
        lambda spark, tp: update_sink_where(
            spark, tp, set={"topic": "'FIXED'"},
            eq={"mid": ["m0002", "m0103"]},
        ),
        ("topic",),
    ),
    "merge_update": (
        True,
        lambda spark, tp: merge_sink(
            spark, tp, _merge_src(spark), on=["mid"],
            when_not_matched=None,
        ),
        ("topic", "payload", "collect_datetime"),
    ),
    "drop_dates_straddler": (
        False,
        lambda spark, tp: drop_dates_sink(spark, tp, ["2024-01-02"]),
        (),
    ),
}


@pytest.mark.parametrize("case", sorted(SWAP_CASES))
def test_swap_manifest_describes_written_batch(spark, tmp_path, case):
    bloom, run, set_cols = SWAP_CASES[case]
    tp = _mk_sink(spark, str(tmp_path / "sink"), bloom=bloom)
    before = _manifest_files(tp)
    run(spark, tp)
    swaps = {
        n: m
        for n, m in _manifest_files(tp).items()
        if n not in before and "dir" in m and m.get("supersedes")
    }
    assert len(swaps) >= 2, swaps
    for name, m in swaps.items():
        victims = [v for v in m["supersedes"] if v in before]
        assert len(victims) == 1, (name, m["supersedes"])
        victim = before[victims[0]]
        written = spark.read.parquet(f"{tp}/{m['dir']}")
        assert m["rows"] == written.count(), name
        assert (m["files"], m["dates"]) == _listing(tp, m["dir"]), name
        recorded = T.StructType.fromJson(m["schema"])
        assert [(f.name, f.dataType) for f in recorded.fields] == [
            (f.name, f.dataType) for f in written.schema.fields
        ], name
        assert os.path.exists(
            f"{tp}/{m['dir']}/_bloom.json"
        ) == os.path.exists(f"{tp}/{victim['dir']}/_bloom.json") == bloom
        assert m.get("stats", {}) == {
            c: s
            for c, s in victim.get("stats", {}).items()
            if c not in set_cols
        }, name


# ------------------------------------------------------ resume contract ---


def _fail_second_swap(monkeypatch):
    """Make the second swap publish of the statement raise."""
    real = S._swap_batch_manifest
    lock = threading.Lock()
    calls = []

    def flaky(*args, **kwargs):
        with lock:
            calls.append(1)
            n = len(calls)
        if n == 2:
            raise OSError("injected swap failure")
        return real(*args, **kwargs)

    monkeypatch.setattr(S, "_swap_batch_manifest", flaky)


RESUME_CASES = {
    "delete": lambda spark, tp: delete_sink_where(
        spark, tp, where="mid LIKE '%3' OR mid LIKE '%5'"
    ),
    "merge": lambda spark, tp: merge_sink(
        spark, tp,
        _frame(
            spark,
            [
                (f"m{b * 100 + 2:04d}", f"t/{b}", f"NEW{b}",
                 "2024-01-01 00:00:02")
                for b in range(4)
            ]
            + [("mINS", "t/ins", "INS", "2024-01-03 00:00:00")],
        ),
        on=["mid"], merge_id="resume",
    ),
}


@pytest.mark.parametrize("case", sorted(RESUME_CASES))
def test_interrupted_statement_resumes(spark, tmp_path, monkeypatch, case):
    run = RESUME_CASES[case]
    ref = _mk_sink(spark, str(tmp_path / "ref"), n_batches=4)
    run(spark, ref)
    want = _rows(spark, ref)

    tp = _mk_sink(spark, str(tmp_path / "sink"), n_batches=4)
    old = _rows(spark, tp)
    _fail_second_swap(monkeypatch)
    with pytest.raises(OSError, match="injected swap failure"):
        run(spark, tp)
    got = _rows(spark, tp)
    states = []
    for b in range(4):
        topic = f"t/{b}"
        # merge rows keep their batch's topic, so topic names the batch
        part = [r for r in got if r[1] == topic]
        if part == [r for r in old if r[1] == topic]:
            states.append("old")
        else:
            assert part == [r for r in want if r[1] == topic], b
            states.append("new")
    assert "old" in states and "new" in states, states
    assert not any(r[1] == "t/ins" for r in got)  # inserts run last

    monkeypatch.undo()
    run(spark, tp)
    assert _rows(spark, tp) == want
