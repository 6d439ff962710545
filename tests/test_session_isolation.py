"""Building and running queries leaves the shared SparkSession as it found
it: the same ``SET`` output and the same catalog tables.  The pump's
``foreachBatch`` thread, the DML layer and concurrent query builders all
plan on one session, so a query that flipped a setting or left a view
behind would change the others' plans.  ``session.py`` is the only module
that writes session state; the settings a plan needs for itself are set
on a private clone (``session.plan_in_clone``)."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from mqtt_message_pump_spark.config import StoreConf
from mqtt_message_pump_spark.plans import QUERIES
from mqtt_message_pump_spark.sinks import append_batch_manifest, read_sink
from mqtt_message_pump_spark.sqlstmt import execute_sql

# the five queries that checkpoint through materialize_once
CHECKPOINT_KEYS = [
    "q_tfidf_top", "q_bm25_top", "q_lm_score", "q_bigram_pmi",
    "q_minhash_pairs",
]
# and the three that used to register a fixed-name temp view
VIEW_KEYS = ["q_grouping_sets", "q_corr_subquery", "q_sql_insert_roundtrip"]
# read_sink's flat multi-file scan starts at 8 batches, and plans in a
# session clone above Spark's 32-path listing threshold
READ_BATCHES, DML_BATCHES = 40, 10


def _sink(spark, tp: str, n_batches: int) -> str:
    store = StoreConf(commit_protocol="manifest")
    for b in range(n_batches):
        rows = [(f"m{b:02d}-{i}", f"t/{b % 3}", f"p{b}-{i}") for i in range(4)]
        df = spark.createDataFrame(rows, ["mid", "topic", "payload"]).select(
            "*",
            F.lit(f"2024-01-0{1 + b % 3} 00:00:00").cast("timestamp")
            .alias("collect_datetime"),
            F.lit(f"2024-01-0{1 + b % 3}").cast("date").alias("collect_date"),
        )
        append_batch_manifest(df, store, tp, b)
    return tp


@pytest.fixture(scope="module")
def sinks(spark, tmp_path_factory):
    """(a sink that is only read, a sink that a DELETE rewrites)"""
    root = tmp_path_factory.mktemp("isolation")
    return (
        _sink(spark, str(root / "read"), READ_BATCHES),
        _sink(spark, str(root / "dml"), DML_BATCHES),
    )


def _jobs(spark, sf_dir, read_tp):
    jobs = {k: (lambda k=k: QUERIES[k](spark, sf_dir)) for k in VIEW_KEYS}
    jobs.update({k: (lambda k=k: QUERIES[k](spark, sf_dir)) for k in CHECKPOINT_KEYS})
    jobs["read_sink"] = lambda: read_sink(spark, read_tp)
    jobs["read_sink_eq"] = lambda: read_sink(spark, read_tp, eq={"topic": "t/1"})
    return jobs


def _rows(df) -> list:
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def _state(spark):
    conf = sorted(tuple(r) for r in spark.sql("SET").collect())
    tables = sorted((t.name, t.isTemporary) for t in spark.catalog.listTables())
    return conf, tables


def test_session_state_unchanged_serial_and_threaded(spark, sf_dir, sinks):
    read_tp, dml_tp = sinks
    jobs = _jobs(spark, sf_dir, read_tp)
    before = _state(spark)
    serial = {name: _rows(build()) for name, build in jobs.items()}
    assert _state(spark) == before
    assert all(serial.values())

    # every job twice from four threads, while a DELETE rewrites another
    # sink through the statement layer on the calling thread
    with ThreadPoolExecutor(4) as pool:
        futures = [
            (name, pool.submit(lambda b=build: _rows(b())))
            for _ in range(2) for name, build in jobs.items()
        ]
        res = execute_sql(spark, f"DELETE FROM `{dml_tp}` WHERE mid LIKE 'm0%-1'")
        threaded = [(name, f.result(timeout=600)) for name, f in futures]
    assert res["rows_deleted"] == DML_BATCHES
    for name, rows in threaded:
        assert rows == serial[name], name
    assert _state(spark) == before
