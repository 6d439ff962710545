"""INI-driven configuration, mirroring the reference's config surface.

The reference loads a 10-section INI file into a struct (reference
``conf.go:7-18``, loader ``config.go:24-43`` with ``~`` expansion) and the
``show`` CLI echoes it (``main.go:29-31``).  We reproduce the same sections
and keys with a dataclass per section, plus defaults matching the example
configs under ``docker/2020.01.28/conf/``.  Keys the Spark engine does not
need (ClickHouse DSN pieces) are still parsed so a reference config file
loads unchanged.
"""

from __future__ import annotations

import configparser
import os
import warnings
from dataclasses import dataclass, field, fields


@dataclass
class MqttConf:
    """One MQTT endpoint (reference has `source-mqtt` and `monitor-mqtt`)."""

    server: str = "tcp://127.0.0.1:1883"
    username: str = ""
    password: str = ""
    qos: int = 0
    clean_session: bool = True
    client_name: str = "pump"
    # MQTT keepalive seconds (0 disables server-side idle timeout,
    # MQTT 3.1.1 §3.1.2.10).  The reference declares 300/60
    # (`conf/pump-plus-beacon-example.ini`); long-lived clients with a
    # nonzero keepalive must service PINGREQs (minimqtt runs a ping loop,
    # paho its network loop).
    keepalive: int = 0


@dataclass
class TopicConf:
    topic_root: str = ""
    topic_prefix: str = ""
    enable_group_num: bool = False
    group_num: int = 0
    # First group index: the reference subscribes to groups
    # begingroupnum..endgroupnum INCLUSIVE (main.go:111), so a config with
    # begingroupnum=3, endgroupnum=5 means topics <root><prefix>/{3,4,5}.
    # Partitions stay 0..group_num-1; the offset shifts the TOPIC only.
    group_offset: int = 0


@dataclass
class StoreConf:
    """Sink configuration.  ``format`` extends the reference: parquet (the
    default, needs no server) or jdbc (ClickHouse parity path)."""

    format: str = "parquet"
    path: str = "./pump_output"
    url: str = ""
    # JDBC driver class (e.g. com.clickhouse.jdbc.ClickHouseDriver).
    # Required in practice: jars added via spark.jars are not visible to
    # java.sql.DriverManager's ServiceLoader scan, so Spark must
    # Class.forName the driver explicitly.
    driver: str = ""
    # JDBC credentials (the reference carries them in the ClickHouse DSN,
    # `data_dbstore.go:84-94`).
    username: str = ""
    password: str = ""
    database: str = "default"
    raw_table_name: str = "Raw_Message"
    adapter_table_name: str = "Json_Message"
    # Replay-idempotent batch-commit protocol for parquet sinks:
    # ``rename`` (default) moves staged files into place under a batch
    # prefix -- correct where rename is atomic (local FS, HDFS);
    # ``manifest`` never renames data files -- each batch attempt writes
    # to a unique directory and COMMITS by publishing a small per-batch
    # manifest, the only object readers trust (object-store-safe: S3-class
    # stores make rename a non-atomic copy+delete).  See
    # :func:`sinks.append_batch_manifest`.  Production recommendation:
    # ``manifest`` -- measured FASTER per batch even on local FS (no
    # per-file move sweep; docs/SCALE.md SS9b) and safe on every store
    # class; ``rename`` stays the default for plain-parquet-layout
    # compatibility (sinks readable by any parquet reader without
    # :func:`sinks.read_sink`).
    commit_protocol: str = "rename"
    # jdbc/ClickHouse replay story: plain MergeTree keeps every INSERT, so
    # a replayed micro-batch (crash between sink write and checkpoint
    # commit) duplicates rows -- the documented at-least-once boundary of
    # the jdbc path.  ``replacing=True`` makes the generated DDL use
    # ReplacingMergeTree keyed on the same primary-key tuple (mid is
    # unique per message), so replayed rows collapse at merge time and
    # FINAL/collapse reads see exactly-once contents.  INI key:
    # ``replacingengine`` under [clickhouse].
    replacing: bool = False
    # Manifest-protocol maintenance cadence for the streaming pump: every
    # N-th micro-batch, compact each sink's old batches into one attempt
    # (sinks.compact_sink, keep_last=2 -- the replayable tail stays
    # untouched) and vacuum unreferenced attempts.  0 (default) = off;
    # run vacuum/compact from a maintenance window instead.  Only
    # meaningful with commit_protocol="manifest".
    compact_every: int = 0
    # Snapshot cadence: every N-th micro-batch, fold each sink's live
    # manifest set into one snapshot object (sinks.snapshot_sink -- the
    # Delta-checkpoint analog) so the reader's listing opens O(1)
    # manifest objects instead of one per committed batch.  Metadata-only
    # (no data rewrite), so it can run far more often than compaction; a
    # production pump runs snapshot_every small (e.g. 10) and
    # compact_every large.  0 (default) = off.  INI key:
    # ``snapshotevery``.  Only meaningful with commit_protocol="manifest".
    snapshot_every: int = 0
    # Single-writer fencing: both commit protocols are replay-idempotent
    # under ONE writer per sink path; two pumps accidentally configured
    # onto the same path would interleave undetected (the reference's
    # per-pipe ClickHouse txns serialize at the server -- filesystem
    # sinks have no server to serialize at).  ``writer_fencing=True``
    # makes every batch commit verify/renew a lease object
    # (``_writer.json``: owner = checkpoint epoch, fencing token,
    # fs-clock expiry) so the second writer raises ``WriterFenced`` on
    # its first commit; a crashed writer's lease ages out after
    # ``writer_lease_secs`` (keep it above the trigger interval and
    # below your restart SLO).  INI keys: ``writerfencing``,
    # ``writerleasesecs``.
    writer_fencing: bool = False
    writer_lease_secs: float = 120.0
    # Managed schema evolution at the sink (the upgrade the reference
    # declines: ``data_adapter.go:114-124`` detects drift and WARNS but
    # never widens the frozen per-run schema).  When True, readers union
    # batches by name with parquet mergeSchema so rows written before a
    # payload schema widened surface with NULLs in the new columns
    # (``sinks.read_sink(merge_schema=True)``; the pump CLI's sink reads
    # pass it through), and a restart with a widened ``map_schema``
    # appends by-name against the existing sink instead of erroring.
    # Drift is still REPORTED either way (inference cross-check +
    # monitor counters) -- evolution changes what readers do about it,
    # not whether the operator hears about it.  INI key:
    # ``schemaevolution``.
    schema_evolution: bool = False
    # Per-batch bloom filters over the MergeTree primary-index columns
    # (mid, topic) for point-lookup batch skipping (``functions.bloom``;
    # ``data_dbstore.go:133`` parity).  Written as a ``_bloom.json``
    # sidecar in the attempt dir by the manifest commit; consulted by
    # ``sinks.read_sink(eq=...)`` and the ``manifest_sink`` source's
    # equality pushdown.  Cost: one pyarrow re-read of the two columns
    # of the just-written batch (page-cache hot, no extra Spark job).
    # On by default for manifest sinks; rename-protocol sinks have no
    # manifests to hang the skip on.  INI key: ``bloomfilters``.
    bloom_filters: bool = True


@dataclass
class AdapterConf:
    name: str = "Multi-Record Cascading Tile Adapter"
    json_sample: str = ""


@dataclass
class MonitorConf:
    publish_interval_secs: int = 5
    topic_root: str = "pump-monitor"
    target: str = "pump"


@dataclass
class BatchConf:
    """Micro-batch trigger, mirroring the 64-row / 5-s flush of the
    reference (``data_dbstore.go:18-19``)."""

    commit_interval_secs: int = 5
    max_items: int = 64
    mid_length: int = 8
    # Redelivery-dedup watermark (seconds; 0 = off, the default).
    # OFF preserves reference parity: two GENUINELY identical publishes
    # are two rows (IoT feeds repeat readings), mids are random
    # per-delivery.  The delivery ladder is then: no WAL = QoS-1
    # at-most-once-ish (ack-to-commit crash loses the batch); WAL =
    # at-least-once (that crash window replays from the log, but the
    # broker also redelivers what was never acked -- rare dups);
    # WAL + dedupewatermark > 0 = exactly-once sink contents, at the
    # cost of collapsing identical (topic, payload) publishes inside
    # the watermark (the trade-off QoS-1 cannot avoid without an
    # upstream id -- ``streaming.pump.dedupe_redeliveries``).
    dedupe_watermark_secs: int = 0


@dataclass
class PumpConfig:
    source_mqtt: MqttConf = field(default_factory=MqttConf)
    monitor_mqtt: MqttConf = field(default_factory=MqttConf)
    topic: TopicConf = field(default_factory=TopicConf)
    store: StoreConf = field(default_factory=StoreConf)
    adapter: AdapterConf = field(default_factory=AdapterConf)
    monitor: MonitorConf = field(default_factory=MonitorConf)
    batch: BatchConf = field(default_factory=BatchConf)

    def info(self) -> str:
        """Formatted dump, the `show` command analog."""
        lines = []
        for f in fields(self):
            section = getattr(self, f.name)
            lines.append(f"[{f.name}]")
            for sf in fields(section):
                lines.append(f"  {sf.name} = {getattr(section, sf.name)}")
        return "\n".join(lines)


_SECTION_MAP = {
    "source-mqtt": "source_mqtt",
    "monitor-mqtt": "monitor_mqtt",
    "topic": "topic",
    "store": "store",
    "adapter": "adapter",
    "monitor": "monitor",
    "batch": "batch",
}

_KEY_MAP = {
    "cleansession": "clean_session",
    "clientname": "client_name",
    "topicroot": "topic_root",
    "topicprefix": "topic_prefix",
    "enablegroupnum": "enable_group_num",
    "groupnum": "group_num",
    "rawtablename": "raw_table_name",
    "adaptertablename": "adapter_table_name",
    "jsonsample": "json_sample",
    "publishinterval": "publish_interval_secs",
    "commitinterval": "commit_interval_secs",
    "maxitems": "max_items",
    "midlength": "mid_length",
    "dedupewatermark": "dedupe_watermark_secs",
    "replacingengine": "replacing",
    "commitprotocol": "commit_protocol",
    "compactevery": "compact_every",
    "snapshotevery": "snapshot_every",
    "writerfencing": "writer_fencing",
    "writerleasesecs": "writer_lease_secs",
    "schemaevolution": "schema_evolution",
    "bloomfilters": "bloom_filters",
}


def _unquote(val: str) -> str:
    """Strip one layer of gcfg/Go-style double quotes with backslash
    escapes (`rawtablename = "raw_message"`, the escaped ``jsonsample``
    string).  Unquoted values pass through unchanged."""
    val = val.strip()
    if len(val) >= 2 and val[0] == '"' and val[-1] == '"':
        val = val[1:-1].replace('\\"', '"').replace("\\\\", "\\")
    return val


def _set_typed(section, key: str, raw_val: str) -> None:
    valid = {f.name: f for f in fields(section)}
    f = valid.get(key)
    if f is None:
        return
    if f.type in ("int", int):
        val: object = int(raw_val)
    elif f.type in ("float", float):
        val = float(raw_val)
    elif f.type in ("bool", bool):
        val = raw_val.strip().lower() in ("1", "true", "yes", "on")
    else:
        val = os.path.expanduser(raw_val)
    setattr(section, key, val)


def _server_url(items: dict[str, str]) -> str | None:
    """Combine the reference's scheme/hostname/port triplet
    (`conf.go:25-35`) into this repo's single ``server`` URL."""
    if not ({"scheme", "hostname", "port"} & items.keys()):
        return None
    scheme = items.get("scheme", "tcp")
    host = items.get("hostname", "127.0.0.1")
    port = items.get("port", "1883")
    return f"{scheme}://{host}:{port}"


def load_config(path: str) -> PumpConfig:
    """Load an INI file; unknown sections/keys are ignored, `~` expanded.

    Accepts BOTH this repo's native section names ([source-mqtt],
    [topic], [store], [adapter], [monitor], [batch]) and the reference's
    own dialect unchanged (`conf.go:7-101`: [general], [source-mqtt] with
    scheme/hostname/port/topicroot, [pipe-topic], [clickhouse],
    [monitor-mqtt], [monitor-info], [pipe-info], [processor-info],
    [adapter-info], [dbstore-info]) -- a reference user's existing INI,
    e.g. `conf/pump-plus-beacon-example.ini`, loads without edits.
    Go-style quoted values are unquoted; `#` inline comments stripped
    (gcfg semantics).  Buffer-size / task-interval keys (Go channel
    tuning) have no Spark analog and are ignored.
    """
    path = os.path.expanduser(path)
    parser = configparser.ConfigParser(
        inline_comment_prefixes=("#", ";"), interpolation=None
    )
    with open(path) as fh:
        parser.read_string(fh.read())
    cfg = PumpConfig()
    sections: dict[str, dict[str, str]] = {
        s.lower(): {
            k.lower(): _unquote(v) for k, v in parser.items(s)
        }
        for s in parser.sections()
    }

    for name, items in sections.items():
        attr = _SECTION_MAP.get(name)
        if attr is None:
            continue
        section = getattr(cfg, attr)
        for raw_key, raw_val in items.items():
            _set_typed(section, _KEY_MAP.get(raw_key, raw_key), raw_val)
        # reference dialect: scheme/hostname/port -> server URL, and
        # topicroot lives inside the mqtt sections (conf.go:34,66)
        if attr in ("source_mqtt", "monitor_mqtt"):
            url = _server_url(items)
            if url is not None:
                section.server = url
            if "topicroot" in items:
                target = cfg.topic if attr == "source_mqtt" else cfg.monitor
                target.topic_root = items["topicroot"]

    # --- reference-only sections (conf.go:7-101) ------------------------
    if "pipe-topic" in sections:
        items = sections["pipe-topic"]
        for k in ("topicprefix", "enablegroupnum"):
            if k in items:
                _set_typed(cfg.topic, _KEY_MAP[k], items[k])
        if "targetname" in items:
            # the pipe client short name (pump_pipe.go pipe client ids)
            cfg.source_mqtt.client_name = items["targetname"]
        if "endgroupnum" in items:
            begin = int(items.get("begingroupnum", "0"))
            # reference pipes span [begin, end] inclusive (main.go:111);
            # group_num counts the pipes, group_offset carries begin so
            # the reader subscribes to begin..end, not 0..N-1
            cfg.topic.group_num = int(items["endgroupnum"]) - begin + 1
            cfg.topic.group_offset = begin

    if "clickhouse" in sections:
        items = sections["clickhouse"]
        store = cfg.store
        store.format = "jdbc"
        for k in ("database", "username", "password"):
            if k in items:
                _set_typed(store, k, items[k])
        if "replacingengine" in items:  # this repo's extension (replay
            # collapse); see StoreConf.replacing
            _set_typed(store, "replacing", items["replacingengine"])
        # the reference DSN is native-protocol TCP
        # (tcp://host:port?username=&compress=true, data_dbstore.go:84-94),
        # but com.clickhouse.jdbc speaks the HTTP protocol (default 8123)
        # -- copying the native port verbatim produces a URL that cannot
        # connect.  Translate well-known native ports to their HTTP twins,
        # preserving a deployment's fixed port-remap offset (the shipped
        # reference INIs use 19000 = 9000 + 10000, so HTTP is 18123);
        # an explicit `httpport` key (this repo's extension) wins outright.
        host = items.get("hostname", "127.0.0.1")
        native_port = int(items.get("port", "9000"))
        port, tls = native_port, ""
        if "httpport" in items:
            port = int(items["httpport"])
        elif port % 10000 == 9000:  # native port, possibly offset-remapped
            port = port - 9000 + 8123
        elif port % 10000 == 9440:  # native TLS port -> HTTPS, and the
            # driver must be told to speak TLS or it sends plaintext
            # HTTP at the HTTPS port and the handshake fails
            port = port - 9440 + 8443
            tls = "?ssl=true"
        if port != native_port:
            # the rewrite is a heuristic (a deployment could genuinely
            # serve HTTP on a 9000-suffixed port) -- say so, and name
            # the escape hatch, instead of failing silently later
            warnings.warn(
                f"[clickhouse] port {native_port} looks like the native "
                f"TCP protocol; using HTTP port {port} for the JDBC URL "
                "(set `httpport` to override)",
                stacklevel=2,
            )
        store.url = f"jdbc:clickhouse://{host}:{port}/{store.database}{tls}"
        if not store.driver:
            store.driver = "com.clickhouse.jdbc.ClickHouseDriver"

    if "adapter-info" in sections:
        items = sections["adapter-info"]
        if "adapter" in items:
            cfg.adapter.name = items["adapter"]
        if "jsonsample" in items:
            cfg.adapter.json_sample = items["jsonsample"]
        for k in ("rawtablename", "adaptertablename"):
            if k in items:
                _set_typed(cfg.store, _KEY_MAP[k], items[k])

    if "monitor-info" in sections:
        items = sections["monitor-info"]
        if "publishinterval" in items:
            _set_typed(
                cfg.monitor, "publish_interval_secs", items["publishinterval"]
            )

    if "processor-info" in sections:
        items = sections["processor-info"]
        if "messageidlength" in items:
            _set_typed(cfg.batch, "mid_length", items["messageidlength"])

    return cfg
