"""ClickHouse-dialect golden tests.

The environment has no ClickHouse server (SURVEY.md risk register), so the
closest available proof of ``data_dbstore.go`` parity is textual: every DDL
and INSERT statement this repo generates for a jdbc target must match, token
for token, the statements the reference logged against a LIVE ClickHouse in
its release transcript (``release_20120128/readme.txt:57-88``, reconstructed
below) for the example INI's ``jsonsample``.

Whitespace is normalized before comparing (the Go source embeds tabs and
newlines inside its format strings; semantically irrelevant to ClickHouse's
parser).  The transcript's *value-bearing* adapter INSERTs are NOT golden
for column order -- the 2020 release iterated a Go map (random order, the
two logged INSERTs disagree with each other); the current ``data_dbstore.go``
builds the statement from the sorted key list (``getInsertAdapterSQL``,
``data_dbstore.go:56-69``), which is what we match, asserting only column
SET equality against the transcript's logged order.
"""

from __future__ import annotations

import json

from mqtt_message_pump_spark.config import load_config
from mqtt_message_pump_spark.functions.inference import infer_flat_schema
from mqtt_message_pump_spark.sinks import (
    adapter_table_ddl_clickhouse,
    check_table_ddl_clickhouse,
    insert_adapter_sql,
    insert_raw_sql,
    raw_table_ddl_clickhouse,
)

# [clickhouse] + [adapter-info] of conf/pump-plus-beacon-example.ini,
# reconstructed (database SimTest, tables raw_message/json_message, the
# two-record property.publish jsonsample).
_SAMPLE = json.dumps(
    {
        "1": {
            "command": "property.publish",
            "params": {
                "thingKey": "545420B443E8455335363335520C6E6B",
                "ts": "2020-01-05T20:31:00Z",
                "key": "ut",
                "value": 564,
            },
        },
        "2": {
            "command": "property.publish",
            "params": {
                "thingKey": "545420B443E8455335363335520C7777",
                "ts": "2020-01-06T21:31:00Z",
                "key": "ut",
                "value": 128,
            },
        },
    },
    separators=(",", ":"),
)

_INI = f"""
[general]
debug           = false
sleepinterval   = 100               # The sleep interval.(millisecond)

[source-mqtt]
scheme       = tcp
hostname     = 127.0.0.1
port         = 1883
cleansession = true
pingtimeout  = 1
keepalive    = 300
qos          = 1
username     = "X"
password     = ""
topicroot    = *Regular*/JSON_Simulator/SimTest

[pipe-topic]
targetname      = ST
topicprefix     = /NZ/TestZone/TT
enablegroupnum  = true
begingroupnum   = 0
endgroupnum     = 4

[clickhouse]
scheme          = tcp
hostname        = 127.0.0.1
port            = 19000
username        = ""
password        = ""
database        = SimTest               # The target database name
compress        = true
debug           = false

[monitor-mqtt]
scheme       = tcp
hostname     = 127.0.0.1
port         = 1883
cleansession = false
pingtimeout  = 1
keepalive    = 60
qos          = 1
username     = "X"
password     = ""
topicroot    = *Special*/Monitor/Json_Pump

[monitor-info]
buffersize      = 32
publishinterval = 5

[pipe-info]
pipeidmaxlen    = 5
taskinterval    = 50
buffersize      = 32

[processor-info]
messageidlength = 8
buffersize      = 32

[adapter-info]
adapter             = "Multi-Record Cascading Tile Adapter"
rawtablename        = "raw_message"
adaptertablename    = "json_message"
jsonsample = "{_SAMPLE.replace(chr(34), chr(92) + chr(34))}"

[dbstore-info]
buffersize = 32
"""

# --- golden statements, verbatim from release_20120128/readme.txt ---------

_GOLDEN_RAW_DDL = """CREATE TABLE IF NOT EXISTS SimTest.raw_message (
\t\tmid String COMMENT 'message id',
\t\ttopic String COMMENT 'message topic',
\t\tpayload String COMMENT 'message payloads',
\t\tcollect_datetime DateTime COMMENT 'Date and time of collecting data from the message hub',
\t\tcollect_date Date MATERIALIZED toDate(collect_datetime) COMMENT 'date of collecting data from the message hub'
\t) ENGINE = MergeTree(collect_date, (mid, topic, collect_date), 8192)"""

_GOLDEN_ADAPTER_DDL = """CREATE TABLE IF NOT EXISTS SimTest.json_message (
\t\tmid String, command String, key_id String, params_key String, params_thingKey String, params_ts String, params_value Float64,
\t\tcollect_datetime DateTime,
\t\tcollect_date Date MATERIALIZED toDate(collect_datetime)
\t) ENGINE = MergeTree(collect_date, (mid, collect_date), 8192)"""

_GOLDEN_CORE_DDL_PARTS = (
    ", command String, key_id String, params_key String, "
    "params_thingKey String, params_ts String, params_value Float64"
)

_GOLDEN_RAW_CHECK_DDL = """CREATE TABLE IF NOT EXISTS SimTest.raw_message_check (
\t\tmid String, topic String, payload String, collect_datetime DateTime) ENGINE = Memory"""

_GOLDEN_ADAPTER_CHECK_DDL = """CREATE TABLE IF NOT EXISTS SimTest.json_message_check (
\t\tmid String, command String, key_id String, params_key String, params_thingKey String, params_ts String, params_value Float64, collect_datetime DateTime) ENGINE = Memory"""

# readme.txt:86-88: column order is Go-map-random in the 2020 release; the
# column SET + values are golden, the order is not (see module docstring).
_GOLDEN_CHECK_INSERT_COLUMNS = {
    "mid", "command", "key_id", "params_key", "params_thingKey",
    "params_ts", "params_value", "collect_datetime",
}


def _norm(sql: str) -> str:
    out = " ".join(sql.split())
    return out.replace("( ", "(").replace(" )", ")")


def _cfg(tmp_path):
    p = tmp_path / "pump.ini"
    p.write_text(_INI)
    return load_config(str(p))


def test_reference_ini_dialect_loads_unchanged(tmp_path):
    """A reference user's existing INI (the full beacon example shape,
    conf.go:7-101 dialect: scheme/hostname/port triplets, gcfg-quoted
    strings, inline # comments, [pipe-topic]/[clickhouse]/[adapter-info]
    sections) loads without edits, with every routed field landing where
    this repo's pipeline reads it."""
    cfg = _cfg(tmp_path)
    assert cfg.source_mqtt.server == "tcp://127.0.0.1:1883"
    assert cfg.source_mqtt.username == "X"
    assert cfg.source_mqtt.qos == 1 and cfg.source_mqtt.clean_session
    assert cfg.source_mqtt.keepalive == 300
    assert cfg.source_mqtt.client_name == "ST"  # pipe-topic targetname
    assert cfg.topic.topic_root == "*Regular*/JSON_Simulator/SimTest"
    assert cfg.topic.topic_prefix == "/NZ/TestZone/TT"
    assert cfg.topic.enable_group_num
    assert cfg.topic.group_num == 5  # groups 0..4 inclusive
    assert cfg.topic.group_offset == 0
    assert cfg.store.format == "jdbc"
    assert cfg.store.database == "SimTest"
    # native tcp 19000 (= 9000 + 10000 remap) -> the JDBC driver's HTTP
    # protocol twin 18123 (ADVICE r8: copying the native port verbatim
    # yields a URL com.clickhouse.jdbc can never connect to)
    assert cfg.store.url == "jdbc:clickhouse://127.0.0.1:18123/SimTest"
    assert cfg.store.raw_table_name == "raw_message"
    assert cfg.store.adapter_table_name == "json_message"
    assert cfg.monitor_mqtt.keepalive == 60
    assert not cfg.monitor_mqtt.clean_session
    assert cfg.monitor.topic_root == "*Special*/Monitor/Json_Pump"
    assert cfg.monitor.publish_interval_secs == 5
    assert cfg.batch.mid_length == 8
    assert cfg.adapter.name == "Multi-Record Cascading Tile Adapter"
    assert json.loads(cfg.adapter.json_sample)["1"]["params"]["value"] == 564


def test_golden_raw_merge_tree_ddl(tmp_path):
    cfg = _cfg(tmp_path)
    assert _norm(raw_table_ddl_clickhouse(cfg.store)) == _norm(_GOLDEN_RAW_DDL)


def test_golden_adapter_merge_tree_ddl(tmp_path):
    cfg = _cfg(tmp_path)
    cols = infer_flat_schema(cfg.adapter.json_sample)
    assert _norm(adapter_table_ddl_clickhouse(cfg.store, cols)) == _norm(
        _GOLDEN_ADAPTER_DDL
    )


def test_replacing_merge_tree_ddl_flag(tmp_path):
    """StoreConf.replacing=True (INI ``replacingengine`` under
    [clickhouse]) swaps the engine to ReplacingMergeTree with the SAME
    legacy (date, primary-key, granularity) signature -- token-identical
    to the golden DDL except the engine name, so replayed jdbc batches
    collapse on the primary-key tuple at merge time (mid is unique per
    message).  Default stays golden (previous tests)."""
    import dataclasses

    cfg = _cfg(tmp_path)
    assert cfg.store.replacing is False  # default preserves reference DDL
    store = dataclasses.replace(cfg.store, replacing=True)
    assert _norm(raw_table_ddl_clickhouse(store)) == _norm(
        _GOLDEN_RAW_DDL.replace("ENGINE = MergeTree", "ENGINE = ReplacingMergeTree")
    )
    cols = infer_flat_schema(cfg.adapter.json_sample)
    assert _norm(adapter_table_ddl_clickhouse(store, cols)) == _norm(
        _GOLDEN_ADAPTER_DDL.replace(
            "ENGINE = MergeTree", "ENGINE = ReplacingMergeTree"
        )
    )


def test_replacingengine_ini_key_routes(tmp_path):
    p = tmp_path / "pump.ini"
    p.write_text(_INI.replace("[clickhouse]", "[clickhouse]\nreplacingengine = true", 1))
    assert load_config(str(p)).store.replacing is True


def test_golden_core_ddl_parts(tmp_path):
    """readme.txt:40-41 'Get The Adapter Message Table Core DDL Parts':
    the inferred-column fragment itself, byte-for-byte."""
    cfg = _cfg(tmp_path)
    cols = infer_flat_schema(cfg.adapter.json_sample)
    assert "".join(f", {n} {t}" for n, t in cols) == _GOLDEN_CORE_DDL_PARTS


def test_golden_database_ddl(tmp_path):
    cfg = _cfg(tmp_path)
    assert (
        f"CREATE DATABASE IF NOT EXISTS {cfg.store.database}"
        == "CREATE DATABASE IF NOT EXISTS SimTest"
    )


def test_golden_check_table_ddls(tmp_path):
    cfg = _cfg(tmp_path)
    cols = infer_flat_schema(cfg.adapter.json_sample)
    assert _norm(check_table_ddl_clickhouse(cfg.store)) == _norm(
        _GOLDEN_RAW_CHECK_DDL
    )
    assert _norm(check_table_ddl_clickhouse(cfg.store, cols)) == _norm(
        _GOLDEN_ADAPTER_CHECK_DDL
    )


def test_golden_insert_sql(tmp_path):
    """Raw INSERTs match data_dbstore.go:109-110 verbatim; adapter INSERTs
    match getInsertAdapterSQL (sorted keys) and cover exactly the
    transcript's column set."""
    cfg = _cfg(tmp_path)
    keys = [n for n, _ in infer_flat_schema(cfg.adapter.json_sample)]
    assert insert_raw_sql(cfg.store) == (
        "INSERT INTO SimTest.raw_message "
        "(mid, topic, payload, collect_datetime) VALUES (?, ?, ?, ?)"
    )
    assert insert_raw_sql(cfg.store, check=True) == (
        "INSERT INTO SimTest.raw_message_check "
        "(mid, topic, payload, collect_datetime) VALUES (?, ?, ?, ?)"
    )
    adapter = insert_adapter_sql(cfg.store, keys)
    assert adapter == (
        "INSERT INTO SimTest.json_message "
        "(mid,command,key_id,params_key,params_thingKey,params_ts,"
        "params_value,collect_datetime) VALUES (?,?,?,?,?,?,?,?)"
    )
    check = insert_adapter_sql(cfg.store, keys, check=True)
    assert "INSERT INTO SimTest.json_message_check (" in check
    cols = check.split("(", 1)[1].split(")", 1)[0].split(",")
    assert set(cols) == _GOLDEN_CHECK_INSERT_COLUMNS
    assert check.count("?") == len(_GOLDEN_CHECK_INSERT_COLUMNS)
