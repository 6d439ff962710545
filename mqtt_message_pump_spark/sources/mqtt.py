"""MQTT streaming source via the Spark 4 Python Data Source API.

Reference parity: the Paho subscriber callback that turns each MQTT
message into ``Message{topic, payload, received_time=now()}``
(``mqtt.go:117-126``), N clients for N topic groups (``main.go:110-121``),
auto-reconnect (``mqtt.go:41``), and QoS from config (``mqtt.go:82`` --
note the reference quirk: it wires the MONITOR QoS into the pipe
subscriber; we take the source QoS, documenting the divergence).

Client resolution (``client_impl`` option): ``auto`` prefers
``paho-mqtt`` when installed and falls back to the in-tree pure-python
MQTT 3.1.1 client (``sources.minimqtt``) -- so the source registers and
runs end-to-end through ``spark.readStream`` even in this container,
which has no paho (exercised over real TCP in
``tests/test_mqtt_live_loopback.py``).  The pump itself is
source-agnostic -- most tests use the rate/file adapters in
``sources.testing`` with the same output schema.

Scale design: one DataSourceStreamReader partition per topic group, each
partition owning its own client+subscription (the reference's
pipe-per-group fan-in, S3) so ingestion parallelism = group count; offsets
are per-partition monotonically increasing receive counters.  MQTT QoS<=1
gives at-least-once redelivery; combined with checkpointing and a
content-derived ``mid`` (deterministic id mode) downstream dedup can make
it effectively-once, which the reference cannot (SURVEY.md SS2.6).
"""

from __future__ import annotations

import datetime
import json
import os
import re
import time

try:
    import paho.mqtt.client as _paho  # type: ignore

    _PAHO_ERR = None
except ImportError as e:  # pragma: no cover - not installed in CI
    _paho = None
    _PAHO_ERR = e

try:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    _DS_API = True
except ImportError:  # pragma: no cover - pre-Spark-4
    DataSource = object  # type: ignore
    DataSourceStreamReader = object  # type: ignore
    InputPartition = object  # type: ignore
    _DS_API = False

from pyspark.sql import types as T

MQTT_SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType()),
        T.StructField("payload", T.StringType()),
        T.StructField("received_time", T.TimestampType()),
        # Broker packet id + DUP flag: a QoS-1 redelivery reuses the packet
        # id with dup=True, so downstream dedup can key on it (the arrival
        # time changes on redelivery and must not be the key).
        T.StructField("packet_id", T.LongType()),
        T.StructField("dup", T.BooleanType()),
    ]
)


def mqtt_available() -> bool:
    """True when the source is registrable: Spark 4's Python data source
    API plus SOME client implementation.  Paho is preferred when
    installed; the in-tree pure-python MQTT 3.1.1 client
    (``sources.minimqtt``) is always present, so on Spark 4 this is
    effectively gated by the DS API alone."""
    return _DS_API


def clean_session_flag(options) -> bool:
    """Parse the ``clean_session`` reader option (string-typed, as all
    DataSource options are).  Default True, matching ``MqttConf``."""
    return str(options.get("clean_session", "true")).strip().lower() in (
        "1", "true", "yes", "on",
    )


def _paho_client_factory(options):  # pragma: no cover - needs a broker
    """Build and connect a real Paho client from source options.

    ``clean_session`` maps to the MQTT clean-session flag (reference
    ``mqtt.go:60``): False + QoS>=1 makes the broker queue messages for a
    reconnecting subscriber -- the at-least-once window our checkpointed
    dedup then collapses (SURVEY.md SS2.6)."""
    server = options.get("server", "tcp://127.0.0.1:1883")
    host = server.split("://", 1)[-1].rsplit(":", 1)[0]
    port = int(server.rsplit(":", 1)[-1])
    kwargs = dict(
        client_id=options.get("client_name", ""),
        clean_session=clean_session_flag(options),
    )
    # paho 2.x requires the callback-api-version positional and supports
    # manual_ack=True -- WITHOUT it paho auto-PUBACKs each message inside
    # its network loop, so the WAL's log-before-ack guarantee would only
    # hold from poll end, not per message (ADVICE r9: a crash mid-poll
    # would silently lose acked-but-unlogged rows).  paho 1.x has neither
    # kwarg; there the deferred-ack protocol cannot apply and read()
    # detects the auto-ack client and warns when a WAL is configured.
    api_v1 = getattr(
        getattr(_paho, "CallbackAPIVersion", None), "VERSION1", None
    )
    try:
        if api_v1 is not None:
            client = _paho.Client(api_v1, manual_ack=True, **kwargs)
        else:
            client = _paho.Client(manual_ack=True, **kwargs)
        client.manual_ack = True  # read()'s capability probe
    except TypeError:  # paho 1.x: no manual_ack support
        client = _paho.Client(**kwargs)
    if options.get("username"):
        client.username_pw_set(
            options.get("username"), options.get("password")
        )
    client.connect(host, port)
    return client


def default_client_factory(options):
    """Resolve the client implementation from the ``client_impl`` option:
    ``auto`` (default -- paho when installed, else the pure-python
    client), ``paho``, or ``minimqtt``.  The fallback keeps the source
    fully functional in environments without paho; both clients speak
    the same broker-side MQTT 3.1.1 wire protocol."""
    impl = str(options.get("client_impl", "auto")).strip().lower()
    if impl == "paho" or (impl == "auto" and _paho is not None):
        if _paho is None:
            raise ImportError(
                "client_impl=paho requested but paho-mqtt is not installed"
            ) from _PAHO_ERR
        return _paho_client_factory(options)
    from mqtt_message_pump_spark.sources.minimqtt import (
        minimqtt_client_factory,
    )

    return minimqtt_client_factory(options)


class MqttDataSource(DataSource):
    """``spark.readStream.format("mqtt_pump")`` source.

    Options: ``server`` (tcp://host:port), ``topic_root``, ``topic_prefix``,
    ``group_num`` (0 = single wildcard subscription, reference
    ``mqtt.go:72-77``), ``qos``, ``username``, ``password``.

    QoS note (reference quirk): ``mqtt.go:82`` wires the MONITOR section's
    QoS into the pipe subscriber; we subscribe with the SOURCE ``qos``
    option, which is what a migrating user expects -- the divergence is
    deliberate and documented.
    """

    @classmethod
    def name(cls) -> str:
        return "mqtt_pump"

    def schema(self):
        return MQTT_SOURCE_SCHEMA

    def streamReader(self, schema):
        if not mqtt_available():
            raise ImportError(
                "mqtt_pump source requires Spark >= 4's Python data "
                "source API"
            ) from _PAHO_ERR
        return MqttStreamReader(self.options)


class _GroupPartition(InputPartition):
    def __init__(self, group: int, start: int, end: int) -> None:
        self.group = group
        self.start = start
        self.end = end


class MqttStreamReader(DataSourceStreamReader):
    """One partition per topic group; offsets = per-group receive counts.

    Executors hold the subscriptions; the driver tracks counts only, so a
    1000-executor cluster fans groups out without a driver bottleneck.

    ``client_factory(options) -> client`` builds the (connected) MQTT
    client; the default is Paho.  Tests inject an in-process loopback
    client, which exercises the full partition/offset/read/commit cycle
    without a broker.

    ``pipe_signal(up: bool)`` is the reference's ``PipeChan`` analog
    (``mqtt.go:128-150``): called True after a successful subscribe,
    False on teardown or failure.  Tests wire it to
    ``PumpCounters.pipe_signal`` (in-process loopback); a cluster
    deployment routes executor-side signals through a collecting channel.
    """

    def __init__(self, options, client_factory=None, pipe_signal=None) -> None:
        self.options = options
        self.groups = int(options.get("group_num", "0")) or 1
        # first group index: reference pipes span begin..end inclusive
        # (main.go:111 iterates Begingroupnum..Endgroupnum), so a config
        # with begingroupnum=3 subscribes to <root><prefix>/3.. -- the
        # offset shifts the TOPIC per partition, partitions stay 0..N-1.
        # numbered_topics mirrors Enablegroupnum (mqtt.go:73-77): numbered
        # subscriptions even for a single group; default preserves the
        # group_num>1 convention for direct reader options.
        self.group_offset = int(options.get("group_offset", "0"))
        self.numbered_topics = str(
            options.get(
                "numbered_topics",
                "true" if self.groups > 1 or self.group_offset else "false",
            )
        ).strip().lower() in ("1", "true", "yes", "on")
        self._counts = {g: 0 for g in range(self.groups)}
        # per-trigger row budget: latestOffset advances each group's
        # offset by this much, so EVERY trigger schedules a poll window
        # (see latestOffset) and a batch reads at most this many rows
        self.max_batch_rows = int(options.get("max_batch_rows", "10000"))
        self._client_factory = client_factory or default_client_factory
        self._pipe_signal = pipe_signal or (lambda up: None)

    def initialOffset(self):
        return {str(g): 0 for g in range(self.groups)}

    def latestOffset(self):
        """Advance each group by the per-trigger row budget.

        A live MQTT subscription has no broker-side cursor to poll (QoS
        <=1, no persistent log -- the broker pushes and forgets), so
        offsets here are SCHEDULING offsets, not replay positions: the
        gap (start, end] licenses the executor-side read to drain up to
        ``max_batch_rows`` within its poll window, and always advancing
        guarantees every trigger runs a poll even when the previous one
        saw no traffic.  Replay-on-restart comes from the BROKER
        (clean_session=false + QoS 1 queues undelivered messages for the
        returning client id), not from offset rewind -- checkpointed
        packet-id dedup then collapses the redeliveries (SURVEY.md SS2.6).
        """
        self._counts = {
            g: self._counts[g] + self.max_batch_rows
            for g in range(self.groups)
        }
        return {str(g): self._counts[g] for g in range(self.groups)}

    def partitions(self, start, end):
        return [
            _GroupPartition(g, start.get(str(g), 0), end.get(str(g), 0))
            for g in range(self.groups)
        ]

    def commit(self, end) -> None:
        # Fast-forward the scheduling counters to the committed offsets:
        # after a checkpoint restore this reader starts at zero while the
        # commit log is far ahead -- without the fast-forward the next
        # latestOffset() would sit BELOW the committed end for several
        # triggers (no new batch scheduled until the counter catches up).
        for g in range(self.groups):
            committed = int(end.get(str(g), 0))
            if committed > self._counts[g]:
                self._counts[g] = committed
        # WAL retention: a batch at or below the committed offsets has
        # fully committed downstream, so its receive log will never be
        # replayed -- delete it (driver-side; the WAL stays bounded by
        # the number of in-flight batches).
        wal_dir = self.options.get("wal_dir")
        if wal_dir and os.path.isdir(wal_dir):
            for fn in os.listdir(wal_dir):
                m = re.fullmatch(r"g(\d+)-(\d+)-(\d+)\.jsonl", fn)
                if m and int(m.group(3)) <= int(end.get(m.group(1), 0)):
                    full = os.path.join(wal_dir, fn)
                    try:
                        if os.path.exists(f"{full}.acked"):
                            # rows were logged AND acked: the broker has
                            # forgotten them, nothing can replay or
                            # redeliver -- the log is garbage
                            os.remove(full)
                            os.remove(f"{full}.acked")
                            MqttStreamReader._wal_trace("COMMITDEL", fn)
                        else:
                            # committed downstream but NEVER acked (the
                            # batch died between its log write and its
                            # ack flush; the replay served the log
                            # without a broker session): the broker's
                            # persistent session WILL redeliver these
                            # rows into a later poll.  Keep the log as a
                            # suppress ledger -- read() acks-and-drops
                            # dup-flagged arrivals whose content the
                            # ledger owns, closing the last double-count
                            # window WITHOUT content dedup.
                            os.replace(full, f"{full}.unacked")
                            MqttStreamReader._wal_trace("LEDGER", fn)
                    except OSError:
                        pass
                elif re.fullmatch(
                    r"g\d+-\d+-\d+\.jsonl(\.unacked)?\.tmp-\d+", fn
                ):
                    # orphaned tmp from a task that died mid-write: by
                    # commit time no read task is active (batches are
                    # strictly serial), so any tmp is garbage -- without
                    # this, repeated crashes accumulate stale tmps
                    # forever (r9 review finding)
                    try:
                        os.remove(os.path.join(wal_dir, fn))
                    except OSError:
                        pass
                elif re.fullmatch(r"g\d+-\d+-\d+\.jsonl\.acked", fn):
                    # orphaned marker (crash between removing the log and
                    # its marker above): garbage once the log is gone
                    base = os.path.join(wal_dir, fn[: -len(".acked")])
                    if not os.path.exists(base):
                        try:
                            os.remove(os.path.join(wal_dir, fn))
                        except OSError:
                            pass

    def group_topic(self, group: int) -> str:
        """Subscription topic for one group: ``root+prefix/<offset+group>``
        when fanned out (``group_offset`` carries the reference's
        begingroupnum, ``main.go:111``), else the single wildcard
        subscription (reference ``mqtt.go:72-77``)."""
        root = self.options.get("topic_root", "")
        prefix = self.options.get("topic_prefix", "")
        if self.numbered_topics:
            return f"{root}{prefix}/{self.group_offset + group}"
        return f"{root}{prefix}/#"

    @staticmethod
    def _write_wal(path: str, rows: list[tuple]) -> None:
        """Atomically persist one poll window's rows (tmp + fsync +
        rename + dir fsync, so a crash mid-write leaves no half-log --
        the replay then polls the broker, whose unacked rows requeue).

        The fsyncs matter: the PUBACKs go out right after this returns
        and the broker then forgets the rows, so a page-cache-only log
        that vanishes on a HOST/power crash reopens the exact loss
        window the WAL exists to close (ADVICE r9) -- process-crash
        durability alone is not enough here."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as fh:
            for topic, payload, ts, mid, dup in rows:
                fh.write(
                    json.dumps(
                        [topic, payload, ts.isoformat(), mid, dup],
                        ensure_ascii=False,
                    )
                    + "\n"
                )
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
        MqttStreamReader._wal_trace(
            "WALWRITE", f"{os.path.basename(path)} n={len(rows)} "
            f"p={[r[1][:40] for r in rows[:6]]}"
        )
        # persist the rename itself (the directory entry) before acking
        try:
            dfd = os.open(os.path.dirname(path), os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
        except OSError:  # pragma: no cover - exotic FS without dir fds
            pass

    @classmethod
    def _claim_wal(cls, path: str, rows: list[tuple]) -> bool:
        """First-writer-wins WAL claim for one batch's offset range.

        Why exclusive instead of overwrite: ``query.stop()`` cancels the
        JVM job but a cancelled read task's PYTHON generator can linger
        mid-poll; when the restarted query replays the SAME offsets, two
        attempts race on one log name.  With a last-wins ``os.replace``
        the loser's rows could be PUBACKed (broker forgets them) while
        the committed batch carries the other attempt's rows -- silent
        loss.  Link-based claim (``os.link`` fails on an existing name)
        makes exactly one attempt the owner; the loser serves the
        owner's log as the batch content and acks NOTHING, so its own
        buffered rows stay broker-owned and requeue -- at-least-once,
        collapsed by the suppression ledger / content dedup as usual.

        Returns True when this attempt's rows ARE the log."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-claim-{os.getpid()}-{id(rows)}"
        with open(tmp, "w", encoding="utf-8") as fh:
            for topic, payload, ts, mid, dup in rows:
                fh.write(
                    json.dumps(
                        [topic, payload, ts.isoformat(), mid, dup],
                        ensure_ascii=False,
                    )
                    + "\n"
                )
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, path)
            won = True
        except FileExistsError:
            won = False
        except OSError:  # pragma: no cover - FS without hard links:
            # fall back to the atomic-but-last-wins rename (the lingering
            # -attempt race window returns, but the log is never torn)
            os.replace(tmp, path)
            cls._wal_trace("WALWRITE", f"{os.path.basename(path)} nolink")
            return True
        finally:
            try:
                os.remove(tmp)
            except OSError:
                pass
        if won:
            cls._wal_trace(
                "WALWRITE", f"{os.path.basename(path)} n={len(rows)} "
                f"p={[r[1][:40] for r in rows[:6]]}"
            )
            try:
                dfd = os.open(os.path.dirname(path), os.O_RDONLY)
                try:
                    os.fsync(dfd)
                finally:
                    os.close(dfd)
            except OSError:  # pragma: no cover
                pass
        else:
            cls._wal_trace("WALRACE", os.path.basename(path))
        return won

    @staticmethod
    def _load_wal(path: str):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                topic, payload, ts, mid, dup = json.loads(line)
                yield (
                    topic,
                    payload,
                    datetime.datetime.fromisoformat(ts),
                    int(mid),
                    bool(dup),
                )

    @staticmethod
    def _wal_trace(event: str, detail: str) -> None:
        """Append one line to $MQTT_WAL_TRACE (forensics for the delivery
        ladder's crash-window tests; no-op unless the env var is set)."""
        trace = os.environ.get("MQTT_WAL_TRACE")
        if not trace:
            return
        try:
            with open(trace, "a", encoding="utf-8") as fh:
                fh.write(f"{time.time():.3f} {event} {detail}\n")
        except OSError:
            pass

    @staticmethod
    def _mark_acked(path: str) -> None:
        """Marker: this log's rows have been PUBACKed, so the broker has
        forgotten them -- ``commit()`` may delete the log outright.  Its
        ABSENCE at commit time means the batch died between the log write
        and the ack flush (the surgical crash window): the broker will
        redeliver the rows, and the log is retained as a ``.unacked``
        suppress ledger instead of deleted."""
        try:
            with open(f"{path}.acked", "w", encoding="utf-8"):
                pass
            MqttStreamReader._wal_trace(
                "MARK", os.path.basename(path)
            )
        except OSError:  # marker is an optimization; worst case the log
            pass  # is retained as a ledger and expires via a drained poll

    @classmethod
    def _suppress_redeliveries(
        cls, wal_dir: str, group: int, own_path: str | None, buffered: list
    ) -> list:
        """Close the post-log/pre-ack crash's double-count window WITHOUT
        content dedup: a dup-flagged arrival whose content an existing
        un-acked receive log already OWNS is a broker redelivery of a row
        some batch has already (or will, via WAL replay) delivered --
        remove it from ``buffered`` and return it so the caller can still
        PUBACK it (the ack is what finally stops the redelivery loop).

        Suppression sources, consumed in order: ``.unacked`` ledgers
        (logs of batches that committed downstream without ever acking,
        renamed by ``commit()``) -- these are rewritten shrunk as matches
        consume them and deleted when empty; plain in-flight logs of
        OTHER batches without an ``.acked`` marker count too but are
        never rewritten (they still serve replays).  Matching is a
        content multiset ((topic, payload), dup-flagged rows only):
        brokers may issue fresh packet ids on session resume (minimqtt
        does), so packet-id matching is unsound, while a FRESH publish of
        identical content arrives with dup=0 and is never touched."""
        import collections

        if not os.path.isdir(wal_dir):
            return [], []
        ledgers: list[list] = []  # [path, rows, dirty]
        inflight: collections.Counter = collections.Counter()
        for fn in sorted(os.listdir(wal_dir)):
            full = os.path.join(wal_dir, fn)
            if own_path and full == own_path:
                continue
            try:
                if re.fullmatch(rf"g{group}-\d+-\d+\.jsonl\.unacked", fn):
                    ledgers.append([full, list(cls._load_wal(full)), False])
                elif re.fullmatch(
                    rf"g{group}-\d+-\d+\.jsonl", fn
                ) and not os.path.exists(f"{full}.acked"):
                    for r in cls._load_wal(full):
                        inflight[(r[0], r[1])] += 1
            except (OSError, ValueError):
                continue
        if not ledgers and not inflight:
            return [], []
        kept: list = []
        suppressed: list = []
        for row in buffered:
            if not row[4]:  # dup flag: only broker redeliveries qualify
                kept.append(row)
                continue
            key = (row[0], row[1])
            consumed = False
            for entry in ledgers:
                for i, lr in enumerate(entry[1]):
                    if (lr[0], lr[1]) == key:
                        del entry[1][i]
                        entry[2] = True
                        consumed = True
                        break
                if consumed:
                    break
            if not consumed and inflight[key] > 0:
                inflight[key] -= 1
                consumed = True
            if consumed:
                cls._wal_trace("SUPPRESS", f"p={row[1][:60]}")
            (suppressed if consumed else kept).append(row)
        buffered[:] = kept
        # ledger consumption is returned, NOT committed here: shrinking a
        # ledger before the suppressed rows' PUBACKs are flushed opens a
        # duplication window -- a crash between shrink and ack makes the
        # broker requeue the rows while the ledger no longer owns them,
        # so the next poll would pass them through as fresh rows.  The
        # caller commits via _rewrite_ledgers AFTER the ack flush; a
        # crash before that leaves a fat ledger + acked rows, which is
        # merely an unconsumed entry that the drained-poll expiry
        # reclaims.
        return suppressed, [
            (path, rows) for path, rows, dirty in ledgers if dirty
        ]

    @classmethod
    def _rewrite_ledgers(cls, dirty: list) -> None:
        """Commit ledger consumption (post-ack): rewrite each shrunk
        ledger atomically, delete emptied ones."""
        for path, rows in dirty:
            try:
                if rows:
                    cls._write_wal(path, rows)
                else:
                    os.remove(path)
            except OSError:
                pass

    @staticmethod
    def _expire_ledgers(
        wal_dir: str, group: int, retention_secs: float = 600.0
    ) -> None:
        """Reclaim suppress ledgers whose redeliveries never came.

        Time-based, not poll-based (r10 fuzz finding): the earlier
        drained-poll heuristic ("a poll that ended under budget flushed
        the session") expired a ledger during a stalled poll while its
        redeliveries still pended at the broker -- the fuzz harness
        composed exactly that schedule and double-counted the rows.
        Redeliveries arrive on the next session resume (the very next
        poll), so a ledger still unmatched ``retention_secs`` after its
        creation belongs to a session that no longer holds the rows
        (broker restarted without persistence, clean-session override)
        -- delete it.  Deterministic wall-clock retention, same design
        as ``sinks.vacuum_sink``; stalls merely delay cleanup instead
        of reopening the double-count window."""
        try:
            names = os.listdir(wal_dir)
        except OSError:
            return
        now = time.time()
        for fn in names:
            if re.fullmatch(rf"g{group}-\d+-\d+\.jsonl\.unacked", fn):
                full = os.path.join(wal_dir, fn)
                try:
                    if now - os.path.getmtime(full) >= retention_secs:
                        os.remove(full)
                        MqttStreamReader._wal_trace("EXPIRE", fn)
                except OSError:
                    pass

    def read(self, partition):
        # Request a manual-ack client when the implementation offers one
        # (minimqtt; paho>=2 could via manual_ack): a QoS-1 PUBLISH must
        # only be PUBACKed once its row is actually kept, otherwise any
        # message past the per-trigger budget is acked-then-discarded and
        # the broker never redelivers it (ADVICE r7: silent row loss at
        # sustained throughput above max_batch_rows per poll window).
        opts = dict(self.options)
        opts.setdefault("manual_ack", "true")
        qos = int(opts.get("qos", "0"))
        topic = self.group_topic(partition.group)

        if partition.end < partition.start:
            # a replayed-then-restored batch can present start > end: it
            # is licensed to contain zero rows -- return without even
            # opening a broker session (want=0 below means UNBOUNDED
            # drain, the legacy direct-driver semantic, not zero)
            return

        # Receive-side WAL (opt-in via ``wal_dir``, a shared filesystem
        # path paired with the query's checkpoint): rows are logged
        # durably BEFORE they are PUBACKed, and a REPLAYED batch (same
        # (group, start, end] from the offset log) is served from its log
        # without touching the broker.  This closes the remaining QoS-1
        # loss window -- a batch killed after its acks but before its
        # sink commit replays from the WAL instead of asking a broker
        # that has already forgotten the rows.  ``commit()`` deletes logs
        # at or below the committed offsets, so the WAL holds only
        # in-flight batches.  Without ``wal_dir`` the documented
        # ack-to-commit window remains (SURVEY.md SS2.6).
        wal_path = None
        wal_dir = opts.get("wal_dir")
        if wal_dir:
            wal_path = os.path.join(
                wal_dir,
                f"g{partition.group}-{partition.start}-{partition.end}.jsonl",
            )
            if os.path.exists(wal_path):
                self._wal_trace("REPLAY", os.path.basename(wal_path))
                n_yield = 0
                try:
                    for row in self._load_wal(wal_path):
                        yield row
                        n_yield += 1
                finally:
                    # how many rows the CONSUMER actually pulled -- a
                    # generator closed early (consumer-side truncation)
                    # shows as yielded < logged (crash-window forensics)
                    self._wal_trace(
                        "REPLAYED",
                        f"{os.path.basename(wal_path)} yielded={n_yield}",
                    )
                return

        buffered: list[tuple] = []
        want = partition.end - partition.start

        client = self._client_factory(opts)
        # Auto-ack clients (paho 1.x, the legacy test fakes) PUBACK on
        # receipt inside their network loop; with one of those we must
        # KEEP every buffered row -- an acked row that is not yielded is
        # lost forever, which is worse than a slightly-over-budget batch.
        manual = bool(getattr(client, "manual_ack", False)) and hasattr(
            client, "ack"
        )
        if wal_path is not None and not manual:
            # The WAL's per-message guarantee ("logged durably BEFORE it
            # is PUBACKed") only holds with a manual-ack client.  An
            # auto-ack client (paho 1.x) PUBACKs on receipt inside its
            # network loop while the log is written at poll end, so a
            # crash MID-POLL can still lose acked-but-unlogged rows; the
            # WAL then only covers the post-poll ack-to-commit window
            # (ADVICE r9).  Say so loudly rather than let the option
            # silently promise more than the client can deliver.
            import warnings

            warnings.warn(
                "wal_dir is set but the MQTT client auto-acks on receipt "
                "(no manual_ack support -- paho<2?): the receive WAL "
                "only covers the post-poll window, not a crash mid-poll. "
                "Use paho>=2 or client_impl=minimqtt for full coverage.",
                RuntimeWarning,
                stacklevel=2,
            )

        def on_message(client_, userdata, msg) -> None:
            if manual and want and len(buffered) >= want:
                # over budget: leave it UNACKED so the broker redelivers
                # it to the next micro-batch's subscriber (clean_session
                # false + QoS 1), instead of acking and dropping
                return
            buffered.append(
                (
                    msg.topic,
                    msg.payload.decode("utf-8", "replace"),
                    # receipt stamp as a tz-aware datetime: the Data
                    # Source row converter requires real datetime values
                    # for TimestampType columns (mqtt.go:123 now())
                    datetime.datetime.now(datetime.timezone.utc),
                    int(getattr(msg, "mid", 0)),
                    bool(getattr(msg, "dup", False)),
                )
            )

        client.on_message = on_message
        try:
            client.subscribe(topic, qos=qos)
        except Exception:
            # subscribe failure = dead pipe (mqtt.go:131-134); tear the
            # connected client down too or every failed partition read
            # leaks a live broker session
            try:
                client.disconnect()
            finally:
                self._pipe_signal(False)
            raise
        self._pipe_signal(True)
        try:
            client.loop_start()
            deadline = time.time() + float(opts.get("poll_timeout_secs", "5"))
            while len(buffered) < want and time.time() < deadline:
                time.sleep(0.05)
            client.loop_stop()
            # FREEZE the batch at poll end.  loop_stop() is a no-op
            # flag on minimqtt (its network thread keeps delivering), so
            # on_message keeps appending to ``buffered``: without the
            # snapshot, rows arriving between the WAL write and the
            # PUBACK flush were ACKED-BUT-NEVER-LOGGED (the ack loop and
            # the final yield iterated the growing list) -- a kill after
            # the acks lost them forever, the exact window the WAL
            # exists to close (captured live: a 125-row yield over a
            # 100-row log, 25 rows gone for good).  Frozen out, late
            # arrivals are never acked, so the broker requeues them into
            # the next poll.  Auto-ack clients already acked everything
            # on receipt, so for them dropping late arrivals would BE
            # the loss -- they keep the live list.  NOTE: a new name, not a
            # rebind -- on_message closes over ``buffered`` and a rebind
            # would repoint the closure at the snapshot.
            batch_rows = list(buffered) if manual else buffered
            suppressed: list[tuple] = []
            dirty_ledgers: list = []
            if wal_dir:
                # redelivery suppression BEFORE the log write: rows an
                # earlier un-acked log already owns must not enter THIS
                # batch's log or output -- they are acked below and
                # dropped (the post-log/pre-ack crash's double-count
                # window, closed without content dedup)
                suppressed, dirty_ledgers = self._suppress_redeliveries(
                    wal_dir, partition.group, wal_path, batch_rows
                )
            lost_claim = False
            if wal_path is not None:
                # durable receive log FIRST: once the acks go out the
                # broker forgets these rows, so the log write must win
                # the race against any failure after it.  First-writer-
                # wins: a concurrent attempt on the same offsets (a
                # lingering cancelled task racing the restarted query's
                # replay) must not ack rows the committed log does not
                # carry -- the loser serves the owner's log below and
                # acks nothing (its rows requeue at the broker).
                lost_claim = not self._claim_wal(wal_path, batch_rows)
            if not lost_claim and manual:
                # PUBACKs are DEFERRED to the end of the poll window: a
                # task killed mid-poll (a prompt pump stop landing in the
                # next batch, streaming.pump.drain_and_stop) has then
                # acked NOTHING, so the broker requeues every buffered row
                # for the next micro-batch -- no loss, and no dup because
                # the killed batch commits nothing.  Acking per message on
                # receipt left a poll-window-sized loss hole (rows acked
                # by a batch that never commits are gone for good).  With
                # a WAL the post-ack window closes too (replay serves the
                # log); without one it remains the documented QoS-1
                # boundary (tests/test_soak.py delivery-semantics note).
                # Suppressed redeliveries are acked too -- the ack is
                # what finally makes the broker forget the row its
                # original delivery never acknowledged.
                for row in batch_rows + suppressed:
                    try:
                        client.ack(row[3])
                    except TypeError:
                        # paho 2.x signature: ack(mid, qos) -- the
                        # TypeError fires before any side effect, so
                        # retrying with the qos is safe
                        client.ack(row[3], qos)
            if not lost_claim:
                if wal_path is not None:
                    # acks are out: mark the log so commit() can delete
                    # it instead of retaining it as a suppress ledger
                    self._mark_acked(wal_path)
                if dirty_ledgers:
                    # acks are out -> the consumed entries can never
                    # requeue; committing the shrink EARLIER would let a
                    # crash between shrink and ack duplicate the rows
                    # (see _suppress_redeliveries)
                    self._rewrite_ledgers(dirty_ledgers)
                if wal_dir:
                    # time-based ledger retention sweep (cheap listdir;
                    # see _expire_ledgers for why NOT poll-drain-based)
                    self._expire_ledgers(
                        wal_dir,
                        partition.group,
                        float(opts.get("wal_ledger_retention_secs", "600")),
                    )
        finally:
            client.disconnect()
            # per-micro-batch clients tear down after the read
            # (mqtt.go:144-150 Disconnect signals pipe-down)
            self._pipe_signal(False)
        if lost_claim:
            # another attempt owns this batch's log: ITS rows are the
            # batch content (they may already be acked by the owner);
            # this attempt's buffered rows were never acked, so the
            # broker requeues them for a later poll.
            for row in self._load_wal(wal_path):
                yield row
            return
        # Manual-ack mode never buffers past the budget (the cap is
        # enforced before the ack); auto-ack mode may slightly exceed it
        # -- yield everything buffered, because every buffered row was
        # already acknowledged to the broker and dropping it here would
        # be unrecoverable loss, not flow control.
        n_yield = 0
        try:
            for row in batch_rows:
                yield row
                n_yield += 1
        except GeneratorExit:
            self._wal_trace(
                "YIELDCLOSED",
                f"g{partition.group}-{partition.start}-{partition.end} "
                f"yielded={n_yield} buffered={len(buffered)}",
            )
            raise
        if wal_dir:
            self._wal_trace(
                "YIELDED",
                f"g{partition.group}-{partition.start}-{partition.end} "
                f"yielded={n_yield} buffered={len(buffered)}",
            )


def register_mqtt_source(spark) -> None:
    """Register the source; raises with a clear message if unavailable.
    Works without paho: the pure-python client (``sources.minimqtt``)
    is the ``client_impl=auto`` fallback."""
    if not mqtt_available():
        raise ImportError(
            "Spark >= 4's Python data source API is required for the "
            "MQTT source; use sources.testing adapters instead"
        ) from _PAHO_ERR
    spark.dataSource.register(MqttDataSource)
