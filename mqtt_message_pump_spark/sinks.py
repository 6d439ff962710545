"""Sink provisioning and writers: the reference's ClickHouse store surface
(``data_dbstore.go``) re-expressed as Spark DDL + writers.

DDL parity (S6, ``data_dbstore.go:122-147``): the MergeTree clauses map to
Spark-managed parquet tables partitioned by ``collect_date``; the MergeTree
ORDER BY becomes ``sortWithinPartitions`` at write time (file-level
clustering; Delta OPTIMIZE/Z-ORDER is the managed analog in production).

Writer dispatch: ``format = parquet`` (default, serverless) or ``jdbc``
(the ClickHouse parity path -- generated ``INSERT`` batches become
``df.write.jdbc`` appends; needs a live server + driver jar, so it is
config-gated, never exercised by tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mqtt_message_pump_spark.config import StoreConf
from mqtt_message_pump_spark.session import plan_in_clone

RAW_COLUMNS = "mid STRING, topic STRING, payload STRING, collect_datetime TIMESTAMP"


def raw_table_ddl(
    store: StoreConf, location: str | None = None, event_time: bool = False
) -> str:
    """CREATE TABLE for the raw message table (``data_dbstore.go:127-133``):
    `mid/topic/payload/collect_datetime` + derived `collect_date` partition
    (the MATERIALIZED toDate column becomes a partition column).

    ``event_time=True`` adds the pump's opt-in event-time column
    (``streaming.pump.start_stream_pump(event_time_field=...)`` rides an
    ``event_time`` through both sink frames) so provisioned tables match
    the written schema."""
    loc = f" LOCATION '{location}'" if location else ""
    et = ", event_time TIMESTAMP" if event_time else ""
    return (
        f"CREATE TABLE IF NOT EXISTS {store.database}.{store.raw_table_name} "
        f"({RAW_COLUMNS}{et}, collect_date DATE) USING parquet "
        f"PARTITIONED BY (collect_date){loc}"
    )


def adapter_table_ddl(
    store: StoreConf,
    inferred_cols: list[tuple[str, str]],
    location: str | None = None,
    event_time: bool = False,
) -> str:
    """CREATE TABLE for the flattened table (``data_dbstore.go:138-142``):
    mid + the sample-inferred columns (already lexicographically sorted,
    ``data_adapter.go:103-106``) + timestamp/date.  ``event_time=True``
    adds the pump's opt-in event-time column (see :func:`raw_table_ddl`)."""
    type_map = {"String": "STRING", "Bool": "BOOLEAN", "Float64": "DOUBLE"}
    cols = ", ".join(f"`{n}` {type_map[t]}" for n, t in inferred_cols)
    loc = f" LOCATION '{location}'" if location else ""
    et = ", event_time TIMESTAMP" if event_time else ""
    return (
        f"CREATE TABLE IF NOT EXISTS {store.database}.{store.adapter_table_name} "
        f"(mid STRING, {cols}, collect_datetime TIMESTAMP{et}, collect_date DATE) "
        f"USING parquet PARTITIONED BY (collect_date){loc}"
    )


def provision(
    spark: SparkSession,
    store: StoreConf,
    inferred_cols: list[tuple[str, str]],
    raw_location: str | None = None,
    adapter_location: str | None = None,
    event_time: bool = False,
) -> None:
    """CREATE DATABASE/TABLE IF NOT EXISTS (``data_dbstore.go:122-147``).
    Pass ``event_time=True`` when the pump runs with ``event_time_field``
    so the provisioned schemas match the written frames."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {store.database}")
    spark.sql(raw_table_ddl(store, raw_location, event_time=event_time))
    spark.sql(
        adapter_table_ddl(
            store, inferred_cols, adapter_location, event_time=event_time
        )
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Save as a bucketed managed table: rows hash-clustered into
    ``num_buckets`` files per partition by ``bucket_cols`` (+ optional
    in-file sort).

    The 100 TB payoff: two tables bucketed the same way equi-join WITHOUT
    a shuffle -- the join key's hash partitioning is baked into the file
    layout, so Catalyst drops both Exchanges (verified in
    tests/test_sinks.py by asserting the plan is exchange-free).  This is
    the co-located-join answer for fact-fact joins where neither side
    broadcasts; the shuffle is paid ONCE at write time, then every
    downstream join/aggregation on the bucket key reuses it.
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def _mergetree_engine(store: StoreConf) -> str:
    """ClickHouse engine name for the jdbc DDL.  Default MergeTree is the
    reference's engine verbatim (``data_dbstore.go:127-142``) and keeps
    every INSERT -- so a replayed micro-batch duplicates rows (the jdbc
    path's documented at-least-once boundary; the parquet path closes it
    with :func:`append_batch_idempotent`/:func:`append_batch_manifest`).
    ``StoreConf.replacing=True`` swaps in ReplacingMergeTree with the SAME
    legacy (date, primary-key, granularity) signature: rows sharing the
    primary-key tuple collapse at merge time, and ``mid`` (unique per
    message) is in both tables' tuples, so replays dedupe server-side --
    exactly-once contents under ``SELECT ... FINAL`` or after merges."""
    return "ReplacingMergeTree" if getattr(store, "replacing", False) else "MergeTree"


def replay_collapse_sql(store: StoreConf, raw: bool = True) -> str:
    """The ANSI equivalent of ReplacingMergeTree's merge-time collapse,
    for engines without it (and for tests): keep one arbitrary row per
    primary-key tuple.  ClickHouse FINAL reads are this query done by the
    storage engine; on a plain-append store it is the read-side repair
    for replayed jdbc batches."""
    table = store.raw_table_name if raw else store.adapter_table_name
    key = "mid, topic, collect_date" if raw else "mid, collect_date"
    first = key.split(",")[0]
    return (
        f"SELECT * FROM {store.database}.{table} QUALIFY "
        f"row_number() OVER (PARTITION BY {key} ORDER BY {first}) = 1"
    )


def raw_table_ddl_clickhouse(store: StoreConf, event_time: bool = False) -> str:
    """ClickHouse MergeTree DDL for the raw table, passed through verbatim
    when the sink is jdbc (``data_dbstore.go:127-134``): legacy MergeTree
    signature = (date column, primary key tuple, index granularity).
    With ``event_time=False`` (default) the statement is token-for-token
    the reference's, including the column COMMENTs (golden transcript
    ``release_20120128/readme.txt:61-66``); ``event_time=True`` adds the
    pump's opt-in event-time column so a jdbc target's schema matches the
    frames ``start_stream_pump(event_time_field=...)`` writes (ADVICE r8:
    without it the event-time opt-in and a passthrough-created table
    mismatch)."""
    et = (
        "event_time DateTime COMMENT 'payload-declared event time', "
        if event_time
        else ""
    )
    return (
        f"CREATE TABLE IF NOT EXISTS {store.database}.{store.raw_table_name} ("
        "mid String COMMENT 'message id', "
        "topic String COMMENT 'message topic', "
        "payload String COMMENT 'message payloads', "
        "collect_datetime DateTime COMMENT "
        "'Date and time of collecting data from the message hub', "
        f"{et}"
        "collect_date Date MATERIALIZED toDate(collect_datetime) COMMENT "
        "'date of collecting data from the message hub'"
        f") ENGINE = {_mergetree_engine(store)}"
        "(collect_date, (mid, topic, collect_date), 8192)"
    )


def adapter_table_ddl_clickhouse(
    store: StoreConf,
    inferred_cols: list[tuple[str, str]],
    event_time: bool = False,
) -> str:
    """ClickHouse MergeTree DDL for the flattened table
    (``data_dbstore.go:138-142``): mid + inferred columns (ClickHouse type
    names, already sorted) + timestamp, date-partitioned via MATERIALIZED
    toDate with (mid, collect_date) primary key.  Unquoted column names
    exactly as the reference emits them (``data_adapter.go:100-110`` joins
    ``, name Type`` with no quoting; golden transcript
    ``release_20120128/readme.txt:67-72``).  ``event_time=True`` adds the
    pump's opt-in event-time column (see
    :func:`raw_table_ddl_clickhouse`); the default stays golden."""
    cols = "".join(f", {n} {t}" for n, t in inferred_cols)
    et = ", event_time DateTime" if event_time else ""
    return (
        f"CREATE TABLE IF NOT EXISTS "
        f"{store.database}.{store.adapter_table_name} ("
        f"mid String{cols}, collect_datetime DateTime{et}, "
        "collect_date Date MATERIALIZED toDate(collect_datetime)"
        f") ENGINE = {_mergetree_engine(store)}"
        "(collect_date, (mid, collect_date), 8192)"
    )


def check_table_ddl_clickhouse(
    store: StoreConf, inferred_cols: list[tuple[str, str]] | None = None
) -> str:
    """Memory-engine ``_check`` table DDL for the CLI ``check`` harness'
    jdbc passthrough: raw shape when ``inferred_cols`` is None
    (``data_dbstore.go:201-202``), flattened shape otherwise
    (``data_dbstore.go:260-261``).  Golden transcript
    ``release_20120128/readme.txt:73-74,80-82``."""
    if inferred_cols is None:
        return (
            f"CREATE TABLE IF NOT EXISTS "
            f"{store.database}.{store.raw_table_name}_check ("
            "mid String, topic String, payload String, "
            "collect_datetime DateTime) ENGINE = Memory"
        )
    cols = "".join(f", {n} {t}" for n, t in inferred_cols)
    return (
        f"CREATE TABLE IF NOT EXISTS "
        f"{store.database}.{store.adapter_table_name}_check ("
        f"mid String{cols}, collect_datetime DateTime) ENGINE = Memory"
    )


def insert_raw_sql(store: StoreConf, check: bool = False) -> str:
    """Parameterized raw-table INSERT (``data_dbstore.go:109-110``)."""
    suffix = "_check" if check else ""
    return (
        f"INSERT INTO {store.database}.{store.raw_table_name}{suffix} "
        "(mid, topic, payload, collect_datetime) VALUES (?, ?, ?, ?)"
    )


def insert_adapter_sql(
    store: StoreConf, keys: list[str], check: bool = False
) -> str:
    """Parameterized flattened-table INSERT over the sorted inferred keys
    (``data_dbstore.go:56-69`` ``getInsertAdapterSQL``: ``mid`` first,
    joined keys, ``collect_datetime`` last, one ``?`` per column)."""
    suffix = "_check" if check else ""
    return (
        f"INSERT INTO {store.database}.{store.adapter_table_name}{suffix} "
        f"(mid,{','.join(keys)},collect_datetime) "
        f"VALUES (?{',?' * len(keys)},?)"
    )


def jdbc_table_name(store: StoreConf, table_name: str | None) -> str:
    """Qualified JDBC identifier for a sink table.  The parquet path
    argument is NOT a valid JDBC name; jdbc targets resolve from config
    (``database.table``, reference DSN + table names)."""
    return f"{store.database}.{table_name or store.raw_table_name}"


def write_table(
    df: DataFrame,
    store: StoreConf,
    table_path: str,
    table_name: str | None = None,
    mode: str = "append",
    cluster: bool = True,
) -> None:
    """Write a batch to one sink table.

    parquet: date-partitioned files at ``table_path``, rows pre-clustered
    so each task writes whole partitions and sorted by (mid, topic) within
    files (the MergeTree ORDER BY locality, ``data_dbstore.go:133``).
    jdbc: one batched append per partition (the reference's prepared
    INSERT loop, ``data_dbstore.go:336-421``, without the per-row driver
    round-trips) into ``database.table_name`` from config -- never the
    filesystem path.

    ``cluster=False`` skips the clustering shuffle for callers that have
    ALREADY date-partitioned the batch (the pump shuffles the enriched
    batch once and fans both sink writes off it -- one exchange instead of
    one per sink).
    """
    if store.format == "jdbc":
        writer = df.write.mode(mode).option("batchsize", "10000")
        if store.driver:
            # spark.jars-provided drivers are invisible to DriverManager's
            # ServiceLoader; the explicit class makes Spark Class.forName it
            writer = writer.option("driver", store.driver)
        if store.username:
            # credentials from config (reference DSN carries them,
            # data_dbstore.go:84-94)
            writer = writer.option("user", store.username)
            if store.password:
                writer = writer.option("password", store.password)
        writer.jdbc(store.url, jdbc_table_name(store, table_name))
        return
    sort_cols = [c for c in ("mid", "topic") if c in df.columns]
    if cluster:
        df = df.repartition("collect_date")
    if sort_cols:
        # no-op for frames without the message columns (windowed-
        # aggregate sinks): zero-col sortWithinPartitions raises
        df = df.sortWithinPartitions(*sort_cols)
    (
        df.write.mode(mode)
        .partitionBy("collect_date")
        .parquet(table_path)
    )


def write_append(
    df: DataFrame,
    store: StoreConf,
    table_path: str,
    table_name: str | None = None,
    cluster: bool = True,
    batch_id: int | None = None,
    epoch: str | None = None,
    lease_owner: str | None = None,
) -> None:
    """Append a batch to one sink table (streaming ``foreachBatch`` path).

    With ``batch_id`` (parquet only) the append is IDEMPOTENT UNDER
    REPLAY via a minimal file-move commit protocol -- see
    :func:`append_batch_idempotent`.  Without it, a micro-batch whose
    sink write finished but whose streaming-checkpoint commit did not
    (stop/crash in between) re-appends on restart and duplicates rows;
    a flat parquet append has no transaction to lean on.

    jdbc targets stay plain appends: generic JDBC offers no per-batch
    overwrite, and ClickHouse deletes are async mutations -- a replayed
    batch can duplicate rows there, exactly the reference's own QoS-1
    exposure (it has no replay at all, SURVEY.md SS2.6).  Production
    answer on that path: a ReplacingMergeTree keyed on ``mid`` collapses
    replayed rows at merge time."""
    if batch_id is not None and store.format != "jdbc":
        if getattr(store, "writer_fencing", False):
            # fail-fast single-writer fence: a second pump misconfigured
            # onto this table_path raises WriterFenced here, BEFORE any
            # data or manifest of the interloper lands.  Owner identity:
            # ``lease_owner`` (the pump derives a DETERMINISTIC id from
            # its checkpoint dir path, stable even when the checkpoint
            # epoch is transiently unreadable -- ADVICE r11: an
            # epoch-None fallback to a random uuid made a restarted pump
            # fence ITSELF against its own still-fresh lease for up to
            # lease_secs), else the epoch, so a kill/restart of the same
            # checkpoint resumes ownership instantly.
            ensure_writer_lease(
                df.sparkSession, table_path, owner=lease_owner or epoch,
                lease_secs=getattr(store, "writer_lease_secs", 120.0),
            )
        if getattr(store, "commit_protocol", "rename") == "manifest":
            append_batch_manifest(
                df, store, table_path, batch_id, cluster, epoch=epoch
            )
        else:
            append_batch_idempotent(
                df, store, table_path, batch_id, cluster, epoch=epoch
            )
        return
    write_table(df, store, table_path, table_name, mode="append", cluster=cluster)


def _hadoop_fs(spark: SparkSession, path: str):
    """Hadoop FileSystem for ``path`` via the session's JVM -- the
    cluster-portable file API (local FS, HDFS, s3a alike)."""
    jvm = spark._jvm
    uri = jvm.java.net.URI.create(path)
    return (
        jvm.org.apache.hadoop.fs.FileSystem.get(
            uri, spark._jsc.hadoopConfiguration()
        ),
        jvm.org.apache.hadoop.fs.Path,
    )


def checkpoint_epoch(spark: SparkSession, checkpoint_dir: str) -> str | None:
    """Stable identity of one checkpoint lineage: the streaming query id
    Spark persists in ``<checkpoint>/metadata`` at first start.  Survives
    restarts of the same checkpoint; changes when an operator deletes the
    checkpoint to restart offsets -- exactly the scope the idempotent
    append's file prefix needs (see :func:`append_batch_idempotent`).
    Returns the first 8 hex chars, or None if unreadable (fresh dir race,
    exotic store) -- callers then fall back to unscoped prefixes."""
    import json

    try:
        fs, HPath = _hadoop_fs(spark, checkpoint_dir)
        p = HPath(f"{checkpoint_dir}/metadata")
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            raw = bytes(stream.readAllBytes())
        finally:
            stream.close()
        return json.loads(raw)["id"].replace("-", "")[:8]
    except Exception:
        return None


def append_batch_idempotent(
    df: DataFrame,
    store: StoreConf,
    table_path: str,
    batch_id: int,
    cluster: bool = True,
    epoch: str | None = None,
) -> None:
    """Replay-idempotent parquet append for ``foreachBatch``: stage, then
    move files in with a per-batch name prefix.

    Why: Spark replays the last uncommitted micro-batch after a restart.
    A batch stopped BETWEEN its sink write and its checkpoint commit
    re-runs, and a plain append then writes every row twice (observed in
    the r9 soak: 3037/3000 rows after prompt mid-load stops).  The
    streaming commit log makes replays *happen*; it does not make them
    *safe* -- the sink has to be idempotent per batch id.

    Protocol (single-writer per query, batches strictly serial):

    1. write the batch date-partitioned into ``_stage-batch-<id>`` INSIDE
       the sink dir -- the underscore prefix hides it from parquet
       partition discovery, so readers never see a half-written batch;
    2. delete any ``b<id>-*`` files under the sink's date partitions --
       leftovers of a previous attempt of THIS batch (the replay case);
    3. rename each staged part file into its date partition as
       ``b<id>-<origname>`` -- the prefix is what makes step 2 able to
       identify this batch's files without a manifest;
    4. drop the staging dir.

    A crash anywhere re-runs the batch: stage is overwritten, previously
    moved files are swept, the move re-runs -- exactly-once sink contents
    without a table format.  All file ops go through the Hadoop
    FileSystem API (atomic renames on local FS/HDFS; on object stores
    rename is a copy -- production there uses a transactional format
    (Delta/Iceberg), which is this protocol done properly).

    ``epoch`` scopes the prefix to one checkpoint lineage
    (``b<epoch>-<id>-``): batch ids restart at 0 when an operator resets
    the checkpoint but keeps the sink, and without the scope the new
    run's batch-0 sweep would delete the OLD run's committed batch-0
    files (r9 review finding).  The pump passes the checkpoint's stable
    query id (:func:`checkpoint_epoch`); same checkpoint -> same epoch
    -> replays still sweep correctly.

    Layout note: the final layout is IDENTICAL to a plain append
    (``collect_date=*/part files``, schema unchanged) -- no extra
    partition column, no per-batch directories fragmenting the
    date-clustering story.
    """
    spark = df.sparkSession
    prefix = f"b{epoch}-{batch_id}-" if epoch else f"b{batch_id}-"
    # Sweep BOTH the scoped and the unscoped prefix for this batch id:
    # if checkpoint_epoch() was transiently unreadable on a previous
    # attempt, that attempt wrote unscoped ``b<id>-`` files, and a
    # scoped-only replay sweep would leave them behind -- duplicating
    # every row of the batch (ADVICE r9).  The trailing dash keeps the
    # globs unambiguous (b1- never matches b1<epoch>- or b10-); the
    # unscoped glob cannot match OTHER batches of an epoch-scoped
    # lineage either (those all start ``b<8-hex-epoch>-``).
    sweep_prefixes = [prefix]
    if epoch:
        sweep_prefixes.append(f"b{batch_id}-")
    stage = f"{table_path}/_stage-batch-{batch_id}"
    sort_cols = [c for c in ("mid", "topic") if c in df.columns]
    if cluster:
        df = df.repartition("collect_date")
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    (
        df.write.mode("overwrite")
        .partitionBy("collect_date")
        .parquet(stage)
    )
    fs, HPath = _hadoop_fs(spark, table_path)
    # replay sweep: drop every file this batch moved in a previous
    # attempt.  One server-side glob for exactly this batch's prefix --
    # NOT a listing of every sink file per batch, which would grow the
    # hot path linearly with total sink size (r9 review finding); in the
    # normal no-replay case this returns nothing.
    for swept in sweep_prefixes:
        for leftover in fs.globStatus(
            HPath(f"{table_path}/collect_date=*/{swept}*")
        ):
            fs.delete(leftover.getPath(), False)
    # move staged files into the real date partitions under the batch prefix
    for part_dir in fs.globStatus(HPath(f"{stage}/collect_date=*")):
        date_name = part_dir.getPath().getName()
        dest_dir = HPath(f"{table_path}/{date_name}")
        fs.mkdirs(dest_dir)
        for f in fs.listStatus(part_dir.getPath()):
            name = f.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue
            dest = HPath(f"{table_path}/{date_name}/{prefix}{name}")
            if not fs.rename(f.getPath(), dest):
                # Hadoop FileSystem.rename reports failure by returning
                # false, not raising; proceeding would let the final
                # stage cleanup delete the unmoved rows and the batch
                # would commit having silently lost them (r9 review
                # finding) -- fail the batch so it replays instead.
                raise IOError(
                    f"batch {batch_id}: rename {f.getPath()} -> {dest} "
                    "failed; failing the batch for replay"
                )
    fs.delete(HPath(stage), True)


def _batch_key(batch_id: int, epoch: str | None) -> str:
    return f"b{epoch}-{batch_id}" if epoch else f"b{batch_id}"


class WriterFenced(IOError):
    """Another writer holds (or took over) this sink's writer lease.
    Raised by :func:`ensure_writer_lease` so a misconfigured second pump
    fails its batch FAST instead of silently interleaving manifests with
    the legitimate writer -- the failure mode both commit protocols
    would otherwise have, since filesystem sinks have no server to
    serialize at (the reference's per-pipe ClickHouse txns do,
    ``data_dbstore.go:190-198``)."""


# process-local lease registry: one writer identity per sink path per
# process (the single-writer unit both commit protocols assume)
_WRITER_LEASES: dict[str, dict] = {}


def _fs_now_ms(fs, HPath, table_path: str) -> int:
    """The sink filesystem's clock via a probe object (writers on
    different hosts cannot compare wall clocks; the store's mtime
    authority is the one clock they share -- same trick as
    :func:`vacuum_sink`)."""
    import uuid as _uuid

    probe = HPath(f"{table_path}/.tmp-clock-{_uuid.uuid4().hex[:8]}")
    fs.mkdirs(HPath(table_path))
    out = fs.create(probe, True)
    out.close()
    now = fs.getFileStatus(probe).getModificationTime()
    fs.delete(probe, False)
    return now


def ensure_writer_lease(
    spark: SparkSession,
    table_path: str,
    owner: str | None = None,
    lease_secs: float = 120.0,
) -> dict:
    """Acquire / renew / verify the sink's single-writer lease
    (``<table_path>/_writer.json``), fencing out a second concurrently
    configured writer.

    Why: both commit protocols are replay-idempotent under ONE writer
    whose batches are strictly serial; two pumps accidentally pointed at
    the same ``table_path`` (a copy-pasted INI) would interleave
    manifests/prefixes undetected and corrupt the exactly-once story.
    The lease makes the second writer raise :class:`WriterFenced` on its
    first commit attempt instead.

    Protocol (single small object, atomic publish -- the same primitive
    as the manifest commit):

    - the lease object carries ``(owner, token, lease_secs)``; its FILE
      MTIME is the renewal stamp (renewed by republishing every check);
    - a writer that holds the lease locally verifies ``(owner, token)``
      is unchanged and republishes to renew; a mismatch means another
      writer took over -- raise, never re-claim (tokens are fencing
      tokens: strictly increasing per takeover, losers stop);
    - claiming requires the current lease to be absent, expired
      (fs-clock age > its ``lease_secs`` -- the crashed-writer takeover
      path), or owned by the SAME owner id (a restart: ``owner``
      defaults to the checkpoint epoch, which is stable across restarts
      of one checkpoint lineage, so a kill/restart resumes ownership
      instantly while a different pump -- different checkpoint -- stays
      fenced until the lease ages out);
    - the claim is verified by read-after-publish: simultaneous
      claimants both publish, the last write wins, and the loser sees
      the winner's object and raises.  (On an eventually-consistent
      list-after-write store the verify can falsely pass for up to the
      consistency window; S3 has been strongly consistent since 2020,
      and the residual exposure is one batch, caught by the next
      check's token mismatch.)

    The stopped-query hazard is handled by identity, not time: a
    lingering ``foreachBatch`` callback of a stopped query shares its
    restart's epoch-owner, so its renewals are harmless to the restart
    and fence third parties exactly as the live query would."""
    import socket
    import time as _time
    import uuid as _uuid

    fs, HPath = _hadoop_fs(spark, table_path)
    lease_path = HPath(f"{table_path}/_writer.json")

    def _read_lease():
        if not fs.exists(lease_path):
            return None, 0
        try:
            return (
                _read_json_object(fs, HPath, f"{table_path}/_writer.json"),
                fs.getFileStatus(lease_path).getModificationTime(),
            )
        except _ManifestVanished:
            return None, 0

    cur, cur_mtime = _read_lease()
    mine = _WRITER_LEASES.get(table_path)
    if mine is not None:
        if cur is not None and (
            cur.get("owner"), cur.get("token")
        ) != (mine["owner"], mine["token"]):
            _WRITER_LEASES.pop(table_path, None)
            raise WriterFenced(
                f"sink {table_path}: writer lease taken over by "
                f"{cur.get('owner')} (token {cur.get('token')} > "
                f"{mine['token']}); this writer must stop"
            )
        _renew_writer_lease(fs, HPath, table_path, mine)
        return mine
    if cur is None:
        # Absence-window guard (ADVICE r11): a renewal that has to fall
        # back to delete-then-rename makes _writer.json vanish for a
        # moment on EVERY batch of the legitimate writer.  A claimant
        # whose read lands in that window would skip the active-lease
        # age check, claim token 1, and fence out the live writer on
        # its next check.  One delayed re-read outlasts the window
        # (renewals on stores without setTimes are two metadata ops):
        # if a lease reappears, it is an ACTIVE writer mid-renewal and
        # the normal age check below applies to it.
        _time.sleep(0.2)
        cur, cur_mtime = _read_lease()
    if owner is None:
        owner = f"{socket.gethostname()}-{_uuid.uuid4().hex[:8]}"
    if cur is not None and cur.get("owner") != owner:
        age_ms = _fs_now_ms(fs, HPath, table_path) - cur_mtime
        if age_ms <= float(cur.get("lease_secs", lease_secs)) * 1000:
            raise WriterFenced(
                f"sink {table_path}: active writer {cur.get('owner')} "
                f"holds the lease (renewed {age_ms / 1000:.0f}s ago, "
                f"lease {cur.get('lease_secs')}s); refusing to write"
            )
    token = int(cur.get("token", 0)) + 1 if cur is not None else 1
    if cur is not None and cur.get("owner") == owner:
        token = int(cur.get("token", 0))  # restart of the same lineage
    lease = {"owner": owner, "token": token, "lease_secs": lease_secs}
    _publish_writer_lease(fs, HPath, table_path, lease)
    after = _read_json_object(fs, HPath, f"{table_path}/_writer.json")
    if (after.get("owner"), after.get("token")) != (owner, token):
        raise WriterFenced(
            f"sink {table_path}: lost the lease claim race to "
            f"{after.get('owner')}"
        )
    _WRITER_LEASES[table_path] = lease
    return lease


def _publish_writer_lease(fs, HPath, table_path: str, lease: dict) -> None:
    """Atomic single-object publish of the lease at the TABLE ROOT (not
    under ``_manifests/`` -- the lease is not a manifest and readers
    must never list it); same write-tmp-then-move shape as
    :func:`_publish_manifest`."""
    import json
    import uuid as _uuid

    payload = json.dumps(lease, sort_keys=True).encode("utf-8")
    fs.mkdirs(HPath(table_path))
    tmp = HPath(f"{table_path}/.tmp-writer-{_uuid.uuid4().hex[:8]}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(payload))
    finally:
        out.close()
    dest = HPath(f"{table_path}/_writer.json")
    if fs.exists(dest):
        fs.delete(dest, False)
    if not fs.rename(tmp, dest):
        raise IOError(f"writer lease publish {tmp} -> {dest} failed")


def _renew_writer_lease(fs, HPath, table_path: str, lease: dict) -> None:
    """Renew the holder's lease WITHOUT an absence window.  The lease
    content (owner, token, lease_secs) never changes on renewal -- only
    the file mtime is the renewal stamp -- so the primary path bumps the
    mtime in place (``FileSystem.setTimes``: atomic, the file never
    vanishes; supported on local FS and HDFS).  Stores that reject
    setTimes (S3A) fall back to the delete-then-rename republish, whose
    brief absence window is covered by the claimant-side delayed re-read
    in :func:`ensure_writer_lease` (ADVICE r11)."""
    try:
        now = _fs_now_ms(fs, HPath, table_path)
        fs.setTimes(HPath(f"{table_path}/_writer.json"), now, -1)
    except Exception:
        _publish_writer_lease(fs, HPath, table_path, lease)


def release_writer_lease(spark: SparkSession, table_path: str) -> bool:
    """Delete the sink's lease if THIS process holds it (operator
    convenience for planned handover; crash recovery needs nothing --
    the lease ages out).  Returns True if released."""
    mine = _WRITER_LEASES.pop(table_path, None)
    if mine is None:
        return False
    fs, HPath = _hadoop_fs(spark, table_path)
    p = HPath(f"{table_path}/_writer.json")
    try:
        cur = _read_json_object(fs, HPath, f"{table_path}/_writer.json")
    except Exception:
        return False
    if (cur.get("owner"), cur.get("token")) == (mine["owner"], mine["token"]):
        fs.delete(p, False)
        return True
    return False


def _publish_manifest(fs, HPath, manifest_dir: str, name: str, payload: bytes) -> None:
    """Publish one small manifest object: write a uniquely-named tmp file,
    then move it over the destination.  The destination is a SINGLE small
    object, which keeps this step atomic-in-effect on every store class:
    on local FS/HDFS the rename is atomic; on S3-class stores the rename
    is copy+delete but the copy of one object makes the destination
    appear atomically (S3 PUT/COPY never exposes partial objects) -- the
    non-atomicity only strands the tmp object, which the next publish or
    vacuum removes.  Contrast with multi-file data renames, which have no
    such single-object guarantee -- that is the entire reason the
    manifest protocol exists."""
    import uuid

    fs.mkdirs(HPath(manifest_dir))
    tmp = HPath(f"{manifest_dir}/.tmp-{name}-{uuid.uuid4().hex[:8]}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(payload))
    finally:
        out.close()
    dest = HPath(f"{manifest_dir}/{name}")
    if fs.exists(dest):
        # replay republish (single-writer, batches serial): the batch is
        # mid-rewrite anyway, so the delete->rename gap where the batch
        # is momentarily absent to readers is within the replay window
        fs.delete(dest, False)
    if not fs.rename(tmp, dest):
        raise IOError(
            f"manifest publish {tmp} -> {dest} failed; "
            "failing the batch for replay"
        )


def _write_batch_bloom(
    spark, fs, HPath, table_path: str, attempt: str,
    files: "list[str]", df: DataFrame, n_rows: int,
) -> None:
    """Build and publish one attempt dir's ``_bloom.json`` sidecar (see
    :mod:`functions.bloom`); failures are swallowed -- a missing sidecar
    only costs pruning, never correctness."""
    from mqtt_message_pump_spark.functions import bloom as B

    cols = [c for c in ("mid", "topic") if c in df.columns]
    if not cols:
        return
    try:
        if n_rows <= B.DRIVER_BUILD_MAX_ROWS:
            from mqtt_message_pump_spark.sources._fsio import fs_for

            pfs, ppath = fs_for(table_path)
            specs = B.bloom_build_arrow(pfs, ppath, files, cols, n_rows)
        else:
            specs = B.bloom_build_distributed(
                spark.read.parquet(f"{table_path}/{attempt}").select(*cols),
                cols, n_rows,
            )
        B.write_bloom_sidecar(
            lambda payload: _publish_manifest(
                fs, HPath, f"{table_path}/{attempt}",
                B.BLOOM_SIDECAR, payload,
            ),
            specs,
        )
    except Exception:
        pass  # absent sidecar = conservatively unprunable


class _JvmFsReader:
    """Minimal Python-native-reader facade over a Hadoop ``FileSystem``
    (just enough surface for :func:`functions.bloom.load_bloom_sidecar`
    on the JVM-backed :func:`read_sink` path)."""

    def __init__(self, fs, HPath) -> None:
        self._fs, self._HPath = fs, HPath

    def read_bytes(self, path: str) -> bytes:
        p = self._HPath(path)
        if not self._fs.exists(p):
            raise FileNotFoundError(path)
        stream = self._fs.open(p)
        try:
            return bytes(stream.readAllBytes())
        finally:
            stream.close()

    def listdir_names(self, dirpath: str) -> "list[str]":
        p = self._HPath(dirpath)
        if not self._fs.exists(p):
            raise FileNotFoundError(dirpath)
        return [
            st.getPath().getName() for st in self._fs.listStatus(p)
        ]


def append_batch_manifest(
    df: DataFrame,
    store: StoreConf,
    table_path: str,
    batch_id: int,
    cluster: bool = True,
    epoch: str | None = None,
) -> None:
    """Object-store-safe replay-idempotent append (``StoreConf.
    commit_protocol="manifest"``): data files are written ONCE under a
    unique per-attempt directory and never renamed; the commit is the
    atomic publish of a small per-batch manifest, the only thing readers
    trust.

    Why a second protocol: :func:`append_batch_idempotent` moves staged
    part files into place and sweeps a prior attempt's files by prefix --
    correct where rename is atomic (local FS, HDFS), but on S3-class
    object stores rename is a non-atomic copy+delete, so mid-commit
    readers can see a partial batch and a crash mid-move can leave half a
    batch in place with the other half still staged.  100 TB lives on
    object stores; the upgrade the reference's single-node txn commit
    (``data_dbstore.go:190-198``) needs at that scale is a commit that
    never relies on multi-file rename atomicity -- the same design as
    Delta/Iceberg's log, reduced to one manifest per batch.

    Protocol (single-writer per query, batches strictly serial):

    1. write the batch date-partitioned into
       ``_data/<batch-key>-a<unique>/`` inside the sink dir -- the
       underscore root hides ALL data files from accidental plain
       parquet reads, and the unique attempt suffix means no attempt
       ever overwrites another's files;
    2. publish ``_manifests/<batch-key>.json`` naming that attempt dir
       (single-object write-then-move: atomic destination appearance on
       every store class, see :func:`_publish_manifest`).

    A crash before step 2 leaves an unreferenced attempt dir -- invisible
    to readers, reclaimed by :func:`vacuum_sink`.  A replay re-runs both
    steps: the manifest OVERWRITE atomically swaps the batch to the new
    attempt, so sink contents stay exactly-once with no sweep of data
    files at all.  ``epoch`` scopes the batch key exactly as in the
    rename protocol; a replay under an epoch also retires the unscoped
    manifest a transiently-epoch-blind prior attempt may have published
    (same hole as ADVICE r9's unscoped-prefix sweep).

    Readers use :func:`read_sink` (manifest-aware); compaction =
    rewrite + republish, i.e. future work shared with every
    manifest-table design.
    """
    import json
    import uuid

    spark = df.sparkSession
    _check_epoch_namespace(epoch)
    key = _batch_key(batch_id, epoch)
    if epoch is None:
        # Epoch-blind guard (the write-side twin of the loader's
        # time-scoped supersedes, ADVICE r11): if a SCOPED manifest for
        # this batch id is already live, this attempt is a replay whose
        # checkpoint-epoch read transiently failed.  Publishing an
        # unscoped twin now would leave BOTH live (the scoped manifest's
        # supersedes entry is time-scoped and cannot retire a newer
        # file), duplicating the batch.  Fail the batch instead -- the
        # replay re-runs, by which time the epoch (persisted checkpoint
        # metadata) is readable and the republish swaps the scoped key
        # atomically.  A lineage that NEVER uses epochs has no scoped
        # manifests, so this listing (O(1) under snapshots) passes.
        fs0, HPath0 = _hadoop_fs(spark, table_path)
        if fs0.exists(HPath0(f"{table_path}/_manifests")):
            # identity via _batch_name_key, NOT a hex-epoch regex: epochs
            # derived outside checkpoint metadata (cli.py cmd_tail uses
            # "t<md5>") are not pure hex, and a guard that missed them
            # would let an unscoped twin publish anyway (ADVICE r12)
            clash = [
                m["name"]
                for m in _read_manifests(fs0, HPath0, table_path)
                if (k := _batch_name_key(m.get("name", ""))) is not None
                and k[0] != ""
                and k[1] == batch_id
            ]
            if clash:
                raise IOError(
                    f"batch {batch_id}: epoch-scoped manifest "
                    f"{clash[0]} is live but this attempt cannot read "
                    "the checkpoint epoch; failing the batch for replay "
                    "rather than publishing an unscoped twin"
                )
    attempt = f"_data/{key}-a{uuid.uuid4().hex[:8]}"
    sort_cols = [c for c in ("mid", "topic") if c in df.columns]
    if cluster:
        df = df.repartition("collect_date")
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    # per-column min/max stats ride the WRITE job via observe() -- zero
    # extra scan (the Iceberg/Delta file-stats idea at manifest
    # granularity); collected for the identity/ordering columns whose
    # stringified order equals value order, so read_sink(ranges=...)
    # can prune whole batches lexicographically
    stat_cols = [
        c for c in ("mid", "topic", "collect_datetime") if c in df.columns
    ]
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in stat_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    df = df.observe(obs, *aggs)
    (
        df.write.mode("overwrite")
        .partitionBy("collect_date")
        .parquet(f"{table_path}/{attempt}")
    )
    fs, HPath = _hadoop_fs(spark, table_path)
    files = [
        f"{attempt}/{p.getPath().getParent().getName()}/{p.getPath().getName()}"
        for p in fs.globStatus(
            HPath(f"{table_path}/{attempt}/collect_date=*/*")
        )
        if not p.getPath().getName().startswith(("_", "."))
    ]
    if not files:
        # empty micro-batch (a trigger with no new data): commit nothing
        # -- a fileless attempt dir would defeat schema inference at read
        # time, and an empty batch is trivially idempotent.  Replays are
        # deterministic (same source offsets -> same rows), so an empty
        # replay of a previously non-empty batch cannot occur.
        fs.delete(HPath(f"{table_path}/{attempt}"), True)
        return
    manifest = {
        "batch_id": batch_id,
        "epoch": epoch,
        "dir": attempt,
        "files": sorted(files),
        # partition values present in this batch (from the already-
        # globbed paths -- zero extra IO): manifest-level pruning lets
        # read_sink(dates=...) skip entire batches before planning, the
        # Delta file-skipping idea at manifest granularity.  A year of
        # 1-minute batches holds ~1440 batches per date -- a point query
        # plans O(matching batches) scans instead of O(all batches).
        "dates": sorted(
            {f.split("collect_date=")[1].split("/")[0] for f in files}
        ),
    }
    vals = obs.get
    n_rows = int(vals.get("n_rows") or 0)
    manifest["rows"] = n_rows
    # the batch's exact write schema, recorded for the evolution audit
    # trail: a widened sink's manifests show WHEN each type/column
    # changed, and tooling can diff schemas without touching parquet
    # footers.  Readers still merge from footers (authoritative).
    manifest["schema"] = json.loads(df.schema.json())
    stats = {}
    for c in stat_cols:
        lo, hi = vals.get(f"min_{c}"), vals.get(f"max_{c}")
        if lo is not None and hi is not None:
            # stringified: JSON-safe, and lexicographic order equals
            # value order for these columns (strings, ISO timestamps)
            stats[c] = [str(lo), str(hi)]
    if stats:
        manifest["stats"] = stats
    # per-batch bloom sidecar for mid/topic point lookups (MergeTree
    # primary-index parity, data_dbstore.go:133): written INSIDE the
    # attempt dir before the manifest publish, so it is atomic with the
    # batch and vacuum/snapshot/pinned reads handle it for free.  Sized
    # from the observed row count (zero extra scan to size); built by a
    # driver-side pyarrow re-read of just the two columns (page-cache
    # hot) below the size guard, distributed above it.  Any failure
    # skips the sidecar -- absent blooms are conservatively unprunable.
    if getattr(store, "bloom_filters", True) and n_rows > 0:
        _write_batch_bloom(
            spark, fs, HPath, table_path, attempt, files, df, n_rows
        )

    if epoch:
        # retire a prior attempt's UNSCOPED manifest for this batch id
        # (epoch transiently unreadable on attempt 1 -- the manifest
        # twin of the rename protocol's unscoped-prefix sweep) BY
        # SUPERSEDING it: the standalone file is also deleted below, but
        # the unscoped twin may by now live only EMBEDDED inside a
        # snapshot, where no delete can reach it -- the supersedes entry
        # retires it in either location atomically with this publish.
        # Superseding a name that never existed filters nothing.
        manifest["supersedes"] = [f"b{batch_id}.json"]
    mdir = f"{table_path}/_manifests"
    _publish_manifest(
        fs, HPath, mdir, f"{key}.json",
        json.dumps(manifest, sort_keys=True).encode("utf-8"),
    )
    if epoch:
        unscoped = HPath(f"{mdir}/b{batch_id}.json")
        if fs.exists(unscoped):
            fs.delete(unscoped, False)


class _ManifestVanished(Exception):
    """A manifest file listed a moment ago no longer exists: a concurrent
    snapshot/vacuum retired it after embedding its content elsewhere.
    The whole listing is re-run -- the retirer's replacement (snapshot or
    surviving superseder) is guaranteed to be visible by then, because
    every retirement PUBLISHES the replacement before deleting the
    original (snapshot_sink, vacuum_sink order)."""


def _read_json_object(fs, HPath, path: str) -> dict:
    """Read one small JSON object through the Hadoop FS API; raises
    :class:`_ManifestVanished` if the file disappeared between the
    caller's listing and this open (the snapshot-cleanup race)."""
    import json

    p = HPath(path)
    try:
        stream = fs.open(p)
        try:
            return json.loads(bytes(stream.readAllBytes()))
        finally:
            stream.close()
    except Exception:
        if not fs.exists(p):
            raise _ManifestVanished(path) from None
        raise


# parsed-snapshot cache: a snapshot object is IMMUTABLE once published
# (write-then-move under a seq+hash name, snapshot_sink), so one
# py4j-transfer + json parse serves every later listing -- at 10k
# embedded manifests that parse is ~0.7 s per lookup, the dominant
# term after the flat scan and folded bloom index (SCALE 10h).  Keyed
# by (path, name, mtime); entries hand out SHALLOW per-manifest copies
# because readers add top-level keys (name/ts) -- nested values are
# never mutated in place by any consumer.
_SNAP_CACHE: "dict[tuple, dict]" = {}
_SNAP_CACHE_MAX = 8


def _snap_cache_get(table_path: str, name: str, mtime, load) -> dict:
    """Cache-or-load one parsed snapshot object; ``load`` is the
    backend-specific reader (JVM Hadoop stream or the no-JVM ``_fsio``
    handle -- the cache itself is backend-agnostic).  Hands out
    shallow per-manifest copies; see :data:`_SNAP_CACHE`."""
    key = (table_path, name, mtime)
    snap = _SNAP_CACHE.get(key)
    if snap is None:
        snap = load()
        while len(_SNAP_CACHE) >= _SNAP_CACHE_MAX:
            _SNAP_CACHE.pop(next(iter(_SNAP_CACHE)))
        _SNAP_CACHE[key] = snap
    out = {k: v for k, v in snap.items() if k != "manifests"}
    out["manifests"] = [dict(m) for m in snap.get("manifests", [])]
    return out


def _read_snapshot_cached(
    fs, HPath, table_path: str, name: str, mtime: int
) -> dict:
    return _snap_cache_get(
        table_path, name, mtime,
        lambda: _read_json_object(
            fs, HPath, f"{table_path}/_manifests/{name}"
        ),
    )


def _snap_seq(name: str) -> int | None:
    """Snapshot sequence number from a ``s-<seq>-<hash>.json`` manifest
    file name; None for per-batch (``b...``) / compact (``c-...``)
    manifests."""
    import re

    m = re.match(r"s-(\d+)-[0-9a-f]+\.json$", name)
    return int(m.group(1)) if m else None


def _resolve_manifest_entries(entries, read_json) -> dict:
    """The PURE core of the manifest listing protocol, shared by the
    Hadoop-FS loader (:func:`_load_manifest_state`) and the Python-
    native loader the streaming tail source uses on the driver
    (``sources/sinktail.py`` -- no JVM there).

    ``entries``: ``[(name, mtime_ms)]`` of ``_manifests/*.json``;
    ``read_json(name) -> dict`` (raising :class:`_ManifestVanished` on
    a concurrent retirement).  Steps (the read side of
    :func:`snapshot_sink`):

    1. open only the LATEST snapshot (highest seq) -- it embeds the
       full manifest set as of its publish;
    2. open every standalone per-batch/compact manifest and OVERLAY it
       by name -- a standalone newer than the snapshot is a replay
       republish whose content must win;
    3. drop every manifest named in a ``supersedes`` set (time-scoped
       for plain batch manifests, unconditional for compact/drop);
    4. keep a dir-less drop tombstone live only while a victim is
       still reachable.

    Returns ``{"live", "embedded", "latest": (seq, name, mtime)|None}``
    -- every live manifest carries ``name`` and a ``ts`` publish stamp
    (file mtime for standalone, recorded at embed time for embedded)."""
    snaps = []
    for name, mt in entries:
        seq = _snap_seq(name)
        if seq is not None:
            snaps.append((seq, name, mt))
    latest = max(snaps) if snaps else None
    manifests: dict[str, dict] = {}
    embedded: set[str] = set()
    if latest is not None:
        snap = read_json(latest[1])
        for m in snap.get("manifests", []):
            manifests[m["name"]] = m
            embedded.add(m["name"])
    for name, mt in entries:
        if _snap_seq(name) is not None:
            continue
        # skip the open when the latest snapshot already embeds this
        # name AND the file predates the snapshot (embed is current);
        # a newer mtime means a post-snapshot replay republish whose
        # content must win
        if name in embedded and latest is not None and mt <= latest[2]:
            continue
        m = read_json(name)
        m["name"] = name
        m["ts"] = mt
        manifests[name] = m
    superseded: set[str] = set()
    for m in manifests.values():
        for victim in m.get("supersedes", []):
            # A plain BATCH manifest's supersedes entry (the
            # epoch-retired unscoped twin, append_batch_manifest)
            # is TIME-SCOPED: it retires only a twin published at
            # or before its own publish.  The entry lives forever
            # (snapshots embed it), and a FUTURE unscoped manifest
            # with the same batch id -- a checkpoint-reset lineage
            # whose epoch is also unreadable publishing b0.json,
            # b1.json... -- must stay visible, not be silently
            # retired by the old lineage's lingering entry
            # (ADVICE r11).  Compact/drop manifests (``kind``
            # present) retire unconditionally: compaction victims
            # always predate the compact publish, and a drop
            # tombstone must keep retiring even a replay's LATER
            # republish of its victim (dropped rows never
            # resurrect).
            if (
                "kind" not in m
                and victim in manifests
                and manifests[victim].get("ts", 0) > m.get("ts", 0)
            ):
                continue
            superseded.add(victim)
    live = [m for n, m in manifests.items() if n not in superseded]
    # a drop tombstone (dir-less, supersedes-only -- see
    # drop_dates_sink) stays live only while at least one of its
    # victims is still REACHABLE (standalone file or snapshot-
    # embedded): reachable victims need the tombstone to stay retired,
    # and a crash mid-vacuum must never resurrect them.  Once every
    # victim is gone the tombstone is inert -- dropping it here lets
    # the next snapshot stop embedding it and vacuum reclaim its file.
    live = [
        m for m in live
        if "dir" in m
        or any(v in manifests for v in m.get("supersedes", []))
    ]
    return {
        "live": live, "embedded": embedded, "latest": latest,
        # every manifest NAME this listing could see, plus every name
        # retired by a supersedes entry -- the id-allocation horizon
        # for statement INSERT (_next_batch_id): a fresh batch id must
        # never collide with a name a lingering drop tombstone would
        # retire on sight
        "all_names": set(manifests),
        "superseded": superseded,
    }


def _load_manifest_state(fs, HPath, table_path: str) -> dict:
    """One consistent view of a sink's manifest directory, through the
    Hadoop FS API (see :func:`_resolve_manifest_entries` for the
    protocol).

    A file that vanishes between the listing and an open means
    maintenance retired it after embedding its content; the listing
    re-runs (bounded retries) and converges on the retirer's published
    replacement.

    Returns ``{"live": [manifest dicts], "latest_snap": status-or-None,
    "latest_snap_seq": int, "embedded": set[str], "stats": [...]}``."""
    for _ in range(3):
        try:
            stats = list(
                fs.globStatus(HPath(f"{table_path}/_manifests/*.json"))
            )
            by_name = {st.getPath().getName(): st for st in stats}
            core = _resolve_manifest_entries(
                [
                    (n, st.getModificationTime())
                    for n, st in by_name.items()
                ],
                lambda n: (
                    _read_snapshot_cached(
                        fs, HPath, table_path, n,
                        by_name[n].getModificationTime(),
                    )
                    if _snap_seq(n) is not None and n in by_name
                    else _read_json_object(
                        fs, HPath, f"{table_path}/_manifests/{n}"
                    )
                ),
            )
            latest = core["latest"]
            return {
                "live": core["live"],
                "latest_snap": by_name[latest[1]] if latest else None,
                "latest_snap_seq": latest[0] if latest else 0,
                "embedded": core["embedded"],
                "stats": stats,
                "all_names": core["all_names"],
                "superseded": core["superseded"],
            }
        except _ManifestVanished:
            continue
    raise IOError(
        f"manifest listing of {table_path} kept changing under the reader "
        "(3 attempts); concurrent maintenance is deleting manifests "
        "without publishing replacements first"
    )


def _read_manifests(fs, HPath, table_path: str) -> list[dict]:
    """All LIVE manifest objects of a sink, each with its file ``name``
    added: the latest snapshot's embedded set overlaid with standalone
    manifests, minus superseded ones.  A compaction manifest carries the
    TRANSITIVE set of manifest names it replaced (``supersedes``), so
    the single compact-manifest publish atomically retires every victim
    -- and a half-finished vacuum (some victims deleted, some not) can
    never resurrect a victim's rows, because the surviving superseder
    still names it."""
    return _load_manifest_state(fs, HPath, table_path)["live"]


def list_snapshots(spark: SparkSession, table_path: str) -> list[dict]:
    """The sink's published snapshots, oldest first: ``[{"seq", "name",
    "ts"}]`` -- the pinnable corpus versions for
    :func:`read_sink`'s ``as_of``.  Only snapshots still on disk are
    listed (older ones age out under :func:`vacuum_sink`'s retention
    rule), so an entry here is a version a reader can still open."""
    fs, HPath = _hadoop_fs(spark, table_path)
    out = []
    for st in fs.globStatus(HPath(f"{table_path}/_manifests/s-*.json")):
        name = st.getPath().getName()
        seq = _snap_seq(name)
        if seq is not None:
            out.append(
                {"seq": seq, "name": name, "ts": st.getModificationTime()}
            )
    return sorted(out, key=lambda s: s["seq"])


def _as_of_ts_ms(ts) -> float:
    """Normalize a ``timestampAsOf`` instant to epoch milliseconds:
    int/float = epoch SECONDS; str = ISO-8601 (naive -> UTC);
    datetime = as given (naive -> UTC)."""
    import datetime

    if isinstance(ts, (int, float)) and not isinstance(ts, bool):
        return float(ts) * 1000.0
    if isinstance(ts, str):
        # CLI flags and DataSource options arrive as strings.  ISO-8601
        # is tried FIRST so basic-format instants ("20240101") keep
        # their calendar meaning; anything else that parses as a FINITE
        # number is epoch seconds ("1723800000", "123.5"); the rest --
        # "inf", "nan", garbage -- fails loudly.
        import math

        try:
            ts = datetime.datetime.fromisoformat(ts)
        except ValueError:
            try:
                f = float(ts)
            except ValueError:
                raise ValueError(
                    f"as_of_ts: {ts!r} is neither an ISO-8601 instant "
                    "nor epoch seconds"
                ) from None
            if not math.isfinite(f):
                raise ValueError(
                    f"as_of_ts: {ts!r} is not a finite instant"
                ) from None
            return f * 1000.0
    if isinstance(ts, datetime.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        return ts.timestamp() * 1000.0
    raise TypeError(f"as_of_ts: unsupported instant type {type(ts)!r}")


def _resolve_as_of_ts(spark: SparkSession, table_path: str, ts) -> int:
    """Delta ``timestampAsOf`` semantics: the newest retained snapshot
    published at-or-before the instant; LOUD when none is (older than
    retention, or before the first snapshot)."""
    t_ms = _as_of_ts_ms(ts)
    snaps = list_snapshots(spark, table_path)
    elig = [s for s in snaps if s["ts"] <= t_ms]
    if not elig:
        raise SnapshotUnreadable(
            f"no snapshot of {table_path} at or before {ts!r} "
            f"({len(snaps)} retained snapshot(s)"
            + (
                f", earliest ts {snaps[0]['ts']}" if snaps else ""
            )
            + "); it may have aged out under vacuum retention"
        )
    return elig[-1]["seq"]


class SchemaWideningError(ValueError):
    """Two batch schemas cannot be merged by SAFE widening: the same
    column holds unrelated types (e.g. string vs int), or a lossy
    narrowing would be required.  Raised LOUDLY by
    :func:`read_sink(merge_schema=True)` instead of letting engine
    union coercion silently pick a side (the reference only ever WARNS
    on drift, ``data_adapter.go:114-124`` -- we widen what is safe and
    refuse what is not)."""


_INT_RANK = {"byte": 1, "short": 2, "integer": 3, "long": 4}


def _widen_two(a, b, col: str):
    """Join of two Spark DataTypes on the SAFE widening lattice:
    byte < short < int < long -> double; float -> double;
    date -> timestamp; NullType yields to anything; structs/arrays/maps
    recurse.  Unrelated types raise :class:`SchemaWideningError`."""
    from pyspark.sql import types as T

    if a == b:
        return a
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    an, bn = a.typeName(), b.typeName()
    if an in _INT_RANK and bn in _INT_RANK:
        return a if _INT_RANK[an] >= _INT_RANK[bn] else b
    numeric = set(_INT_RANK) | {"float", "double"}
    if an in numeric and bn in numeric:
        # mixed integral/fractional: double (the lattice top; long ->
        # double is the documented lossy-above-2^53 Spark standard)
        return T.DoubleType()
    dateish = {"date", "timestamp", "timestamp_ntz"}
    if an in dateish and bn in dateish:
        if "timestamp" in (an, bn):
            return a if an == "timestamp" else b
        return a if an != "date" else b
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        return _widen_struct(a, b, prefix=f"{col}.")
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(
            _widen_two(a.elementType, b.elementType, f"{col}[]"),
            a.containsNull or b.containsNull,
        )
    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        return T.MapType(
            _widen_two(a.keyType, b.keyType, f"{col}<key>"),
            _widen_two(a.valueType, b.valueType, f"{col}<value>"),
            a.valueContainsNull or b.valueContainsNull,
        )
    raise SchemaWideningError(
        f"column '{col}': {a.simpleString()} and {b.simpleString()} have "
        "no safe widening (lattice: int->long->double, float->double, "
        "date->timestamp); rewrite one side explicitly"
    )


def _widen_struct(a, b, prefix: str = ""):
    """Widened union of two StructTypes: a's field order, b's new fields
    appended; common fields widened via :func:`_widen_two`."""
    from pyspark.sql import types as T

    b_by_name = {f.name: f for f in b.fields}
    fields = []
    for f in a.fields:
        g = b_by_name.pop(f.name, None)
        if g is None:
            fields.append(T.StructField(f.name, f.dataType, True))
        else:
            fields.append(
                T.StructField(
                    f.name,
                    _widen_two(f.dataType, g.dataType, prefix + f.name),
                    f.nullable or g.nullable,
                )
            )
    for f in b.fields:
        if f.name in b_by_name:
            fields.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(fields)


def _cast_to_struct(df: DataFrame, target) -> DataFrame:
    """Project ``df`` onto the widened target schema: present columns
    cast up, missing ones NULL-filled -- the read-side half of managed
    type evolution (old int batches surface as long/double under the
    widened schema, old pre-column batches as NULL)."""
    from pyspark.sql import functions as F

    have = set(df.columns)
    return df.select(
        *[
            (
                F.col(f.name).cast(f.dataType)
                if f.name in have
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in target.fields
        ]
    )


def _stat_str(v) -> str:
    """Stringify a probe value the way the write-side manifest stats
    are stringified (``str()`` of the collected Python value under a
    UTC session): lexicographic order equals value order for strings,
    ISO dates and ISO timestamps, so interval tests stay exact."""
    import datetime

    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str(v)
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _stat_probes(eq: "dict[str, object]") -> "dict[str, list[str]]":
    """Normalize an ``eq={col: value_or_list}`` spec to stringified
    probe lists (the manifest stats / bloom sidecars store
    :func:`_stat_str` forms)."""
    return {
        col: [
            _stat_str(v)
            for v in (
                vals if isinstance(vals, (list, tuple, set)) else [vals]
            )
        ]
        for col, vals in eq.items()
    }


def _prune_batches(
    kept: "list[dict]",
    dates: "list[str] | None" = None,
    ranges: "dict[str, tuple[str, str]] | None" = None,
    eq: "dict[str, object] | None" = None,
    jfs: "_JvmFsReader | None" = None,
    table_path: str = "",
) -> "list[dict]":
    """Manifest-level batch pruning shared by :func:`read_sink` and the
    row-level DML rewrites (:func:`delete_sink_where` /
    :func:`update_sink_where`): ``dates`` partition-stat skipping,
    ``ranges`` min/max disjointness, ``eq`` point probes against stats
    AND per-batch bloom sidecars.  Stat-less / bloom-less batches are
    conservatively kept -- pruning never loses rows."""
    if dates is not None:
        wanted = set(dates)
        kept = [
            m for m in kept
            if m.get("dates") is None or wanted & set(m["dates"])
        ]
    if ranges is not None:
        # a batch is skipped only when its recorded stat interval is
        # DISJOINT from the request -- Iceberg-style file skipping at
        # manifest granularity
        def _overlaps(m: dict) -> bool:
            stats = m.get("stats") or {}
            for col, (lo, hi) in ranges.items():
                st = stats.get(col)
                if st is None:
                    continue
                if (hi is not None and st[0] > _stat_str(hi)) or (
                    lo is not None and st[1] < _stat_str(lo)
                ):
                    return False
            return True

        kept = [m for m in kept if _overlaps(m)]
    if eq is not None:
        from mqtt_message_pump_spark.functions.bloom import (
            bloom_might_contain,
            index_blooms_for,
            load_bloom_index,
            load_bloom_sidecar,
        )

        probes = _stat_probes(eq)
        # ONE snapshot-folded index read (cached across statements)
        # serves every covered batch; only uncovered/republished
        # batches open their own sidecars
        idx = load_bloom_index(jfs, table_path) if jfs is not None else None

        def _eq_keep(m: dict) -> bool:
            stats = m.get("stats") or {}
            blooms = None
            for col, svals in probes.items():
                st = stats.get(col)
                if st is not None and not any(
                    st[0] <= s <= st[1] for s in svals
                ):
                    return False
                if blooms is None:
                    blooms = index_blooms_for(idx, m)
                    if blooms is None:
                        blooms = load_bloom_sidecar(jfs, table_path, m)
                spec = blooms.get(col)
                if spec is not None and not any(
                    bloom_might_contain(spec, s) for s in svals
                ):
                    return False
            return True

        kept = [m for m in kept if _eq_keep(m)]
    return kept


# kept-batch count at which read_sink switches from an N-child union to
# ONE multi-file scan.  Low on purpose: a point lookup's bloom
# false-positive survivor set is ~fpp x N (= ~10 at 1k batches, ~100 at
# 10k), and each per-dir frame costs ~10-20 ms of construction -- the
# flat scan must catch exactly those sets for lookups to stay flat in
# batch count (SCALE 10h).  Below it the union plan is cheap and keeps
# the tiny-sink plans unchanged.
_FLAT_SCAN_MIN = 8


def _flat_kept_frame(spark, table_path: str, kept: "list[dict]"):
    """ONE multi-file scan over the kept batches' recorded file lists
    instead of an N-child union -- the SCALE §10h residual closed: at
    1k-10k surviving batches a point lookup otherwise pays ~10 ms of
    frame construction PER DIR plus Catalyst's superlinear N-child
    union analysis, ~fpp x N x 60 ms end-to-end.  Eligible when every
    kept manifest records BOTH its write schema and its file list and
    all schemas are identical -- heterogeneous (mid-widening) sinks
    keep the exact per-batch union path, and compaction converges
    schemas, so large sinks are uniform in practice.  Returns None
    when ineligible.

    The partition column ``collect_date`` exists only in the PATHS
    (each attempt dir is partitionBy-written); leaf-file scans do no
    partition discovery, so it is reattached from
    ``input_file_name()`` -- the JVM-side twin of what the native
    reader does in ``manifestio.read_files_arrow``."""
    if len(kept) < _FLAT_SCAN_MIN:
        return None
    s0 = kept[0].get("schema")
    if s0 is None:
        return None
    files: "list[str]" = []
    for m in sorted(kept, key=lambda m: m["dir"]):
        if m.get("schema") != s0 or not m.get("files"):
            return None
        files.extend(f"{table_path}/{f}" for f in m["files"])
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    target = T.StructType.fromJson(s0)
    has_cd = any(f.name == "collect_date" for f in target.fields)
    phys = T.StructType(
        [f for f in target.fields if f.name != "collect_date"]
    )
    # Above 32 root paths Spark schedules a LISTING JOB
    # (parallelPartitionDiscovery.threshold) whose fixed overhead
    # (~0.6 s) dwarfs a driver-side status sweep of a point lookup's
    # ~fpp x N survivor files; above the threshold, plan the scan in a
    # private session clone with the threshold raised, bounded so a
    # genuinely huge file set still lists in parallel.
    threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"

    def scan(session):
        return session.read.schema(phys).parquet(*files)

    if int(spark.conf.get(threshold)) < len(files) <= 1024:
        out = plan_in_clone(spark, {threshold: str(len(files))}, scan)
    else:
        out = scan(spark)
    if has_cd:
        out = out.withColumn(
            "collect_date",
            F.to_date(
                F.regexp_extract(
                    F.input_file_name(), "collect_date=([^/]+)", 1
                )
            ),
        ).select(*[f.name for f in target.fields])
    return out


def _recorded_schema_frames(reader, table_path: str, manifests):
    """One frame per batch dir, planned from the manifests' RECORDED
    write schemas when every batch has one -- no per-dir parquet footer
    inference (measured 7.4x cheaper construction, 75 -> 10 ms/frame;
    SCALE 10h).  Any batch predating the recorded-schema field drops
    the whole set back to inference.  Shared by :func:`read_sink` and
    :func:`read_sink_since`; deterministic dir order."""
    from pyspark.sql import types as T

    by_dir = sorted(
        (f"{table_path}/{m['dir']}", m.get("schema")) for m in manifests
    )
    if all(s is not None for _, s in by_dir):
        return [
            reader.schema(T.StructType.fromJson(s)).parquet(d)
            for d, s in by_dir
        ]
    return [reader.parquet(d) for d, _ in by_dir]


def collapse_latest(
    df: DataFrame,
    keys: "list[str]",
    version_col: "str | None" = None,
) -> DataFrame:
    """ReplacingMergeTree's merge-time collapse as a DataFrame op: keep
    ONE row per ``keys`` tuple, preferring the highest ``version_col``
    (ClickHouse's optional *ver* column; the reference's
    ``replacingengine`` INI option, see :func:`_mergetree_engine` /
    ``replay_collapse_sql``).  This is the upsert read for manifest
    sinks: append new versions of a key, read through
    ``read_sink(collapse_keys=...)`` (ClickHouse ``FINAL``), and let
    ``compact_sink(collapse_keys=...)`` physically converge old
    versions away at maintenance time (the background-merge analog).

    Scale: implemented as ``groupBy(keys).agg(max_by(row, order))`` --
    a declarative aggregate with MAP-SIDE partial combine, so each
    shuffle partition receives at most one candidate row per key per
    map task (a window ``row_number`` would shuffle every version).
    Ordering = ``(version_col, every orderable non-key column)``: ties
    on the version break deterministically on row content; rows
    identical in all orderable columns are genuine duplicates (any
    survivor is the same row, up to unorderable map-typed payload
    fields).  NULL versions sort lowest and lose to any versioned row.

    WITHOUT ``version_col`` the survivor is the deterministic
    CONTENT-MAX row -- a dedup of equivalent rows, NOT last-write-wins
    (arrival order is not recoverable from row content).  For upsert
    semantics always pass the version column;
    :func:`compact_sink` refuses a version-less physical merge for
    exactly this reason.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    keys = list(keys)
    missing = [k for k in keys if k not in df.columns]
    if missing:
        raise ValueError(f"collapse keys not in frame: {missing}")
    if version_col is not None and version_col not in df.columns:
        raise ValueError(f"version column not in frame: {version_col}")
    orderable = (
        T.NumericType, T.StringType, T.BooleanType, T.DateType,
        T.TimestampType, T.BinaryType,
    )
    tiebreak = [
        f.name
        for f in df.schema.fields
        if f.name not in keys
        and f.name != version_col
        and isinstance(f.dataType, orderable)
    ]
    ordk = ([F.col(version_col)] if version_col is not None else []) + [
        F.col(c) for c in tiebreak
    ]
    if not ordk:
        # nothing orderable outside the keys: rows per key are
        # indistinguishable, any one survives
        return df.dropDuplicates(keys)
    row = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.groupBy(*keys)
        .agg(F.max_by(row, F.struct(*ordk)).alias("__row"))
        .select("__row.*")
    )


def _pinned_manifest_set(
    fs, HPath, spark: SparkSession, table_path: str, as_of: int
) -> "list[dict]":
    """One snapshot's embedded dir-carrying manifests, VERIFIED
    servable: the snapshot object exists and every attempt dir it
    names is still on disk -- loud :class:`SnapshotUnreadable`
    otherwise (a partial corpus must never be silently served to a
    training run that asked for an exact version).  Shared by
    :func:`read_sink`'s ``as_of`` path and :func:`restore_sink`."""
    snaps = [
        st
        for st in fs.globStatus(HPath(f"{table_path}/_manifests/s-*.json"))
        if _snap_seq(st.getPath().getName()) == as_of
    ]
    if not snaps:
        have = [s["seq"] for s in list_snapshots(spark, table_path)]
        raise SnapshotUnreadable(
            f"snapshot seq {as_of} of {table_path} not found "
            f"(available: {have or 'none'}); it may have aged out "
            "under the vacuum retention rule -- pinned reads must "
            "finish (or re-pin) within retention_secs of the pin"
        )
    snap = _read_snapshot_cached(
        fs, HPath, table_path,
        snaps[0].getPath().getName(),
        snaps[0].getModificationTime(),
    )
    live = [m for m in snap.get("manifests", []) if "dir" in m]
    gone = [
        m["dir"] for m in live
        if not fs.exists(HPath(f"{table_path}/{m['dir']}"))
    ]
    if gone:
        raise SnapshotUnreadable(
            f"snapshot seq {as_of} of {table_path} references "
            f"{len(gone)} vacuumed attempt dir(s) (e.g. {gone[0]}); "
            "increase vacuum retention_secs beyond the pin lifetime"
        )
    return live


class SnapshotUnreadable(IOError):
    """A pinned snapshot (``read_sink(as_of=...)``) cannot be served:
    either the snapshot object itself was vacuumed past retention, or
    one of the attempt directories it names was reclaimed (a
    compaction's victims aged out).  Pinned reads are only guaranteed
    within the vacuum retention window -- size ``retention_secs`` to
    cover the longest-lived pin (the same rule as in-flight readers,
    :func:`vacuum_sink`)."""


def read_sink(
    spark: SparkSession,
    table_path: str,
    merge_schema: bool = False,
    dates: "list[str] | None" = None,
    as_of: int | None = None,
    as_of_ts: "float | str | object | None" = None,
    ranges: "dict[str, tuple[str, str]] | None" = None,
    eq: "dict[str, object] | None" = None,
    collapse_keys: "list[str] | None" = None,
    version_col: "str | None" = None,
) -> DataFrame:
    """Read one sink table regardless of its commit protocol.

    Manifest sinks (``_manifests/`` present) load exactly the attempt
    directories the live manifests name -- uncommitted attempts and
    compaction-superseded batches are invisible by construction, which
    is the protocol's reader-side guarantee; each attempt dir is its own
    partitioned root, so ``collect_date`` comes back as a column exactly
    as on the rename layout.  Rename-protocol sinks are plain
    date-partitioned parquet.

    ``merge_schema=True`` is the read side of
    ``StoreConf.schema_evolution``: batches written before a payload
    schema widened lack the new columns, so each scan merges file
    schemas (parquet ``mergeSchema``) and the cross-batch union goes
    by-name with missing columns NULL-filled -- old rows surface as
    NULL in the new columns, exactly parquet-on-read evolution
    semantics (the managed-table analog is Delta's mergeSchema write
    option).  Default False: the reference freezes the inferred schema
    per run (``data_adapter.go:114-124`` warns on drift, never widens),
    and an unexpected schema union is better loud than silent.

    ``dates`` (an iterable of ``collect_date`` strings) is
    MANIFEST-LEVEL partition pruning: batches whose recorded ``dates``
    stat (written by the commit and by compaction at zero extra IO --
    the partition values are in the already-globbed paths) is disjoint
    from the request are skipped before any scan is planned.  Per-scan
    partition pruning already keeps non-matching FILES unread, but at
    a year of 1-minute batches a point query would still PLAN ~500k
    scans; with the stat it plans only the ~1440 batches containing
    the date -- Delta file-skipping at manifest granularity.
    Manifests from before the stat existed carry no ``dates`` field
    and are conservatively kept (pruning never loses rows on old
    sinks).  The returned frame is NOT additionally row-filtered --
    compose with ``.filter(col("collect_date") == ...)`` for exact
    selection (the filter also drives the per-scan pruning).

    ``as_of`` pins the read to one SNAPSHOT's exact batch set (the
    ``seq`` from :func:`list_snapshots` / :func:`snapshot_sink`):
    the snapshot's embedded manifests are resolved verbatim, with NO
    standalone-manifest overlay -- concurrent appends, replay
    republishes, compactions and drops published after the snapshot are
    all invisible, so every epoch of a training run reading the same
    pin sees bit-identical rows (Delta/Iceberg time travel, reduced to
    the snapshot log).  The pin is only servable within the vacuum
    retention window: a missing snapshot object or a reclaimed attempt
    dir raises :class:`SnapshotUnreadable` LOUDLY up front (never a
    partial corpus) -- size ``vacuum_sink(retention_secs=...)`` to
    exceed the longest-lived pin, exactly the in-flight-reader rule.

    ``as_of_ts`` is time travel by WALL CLOCK (Delta's
    ``timestampAsOf``): the newest snapshot published at-or-before the
    given instant is resolved and read exactly as ``as_of`` would.
    Accepts epoch seconds (int/float), a naive-UTC/offset ISO string,
    or a ``datetime``; an instant before the first retained snapshot
    raises :class:`SnapshotUnreadable` (it may also have aged out
    under vacuum retention).  Resolution uses the snapshot objects'
    filesystem mtimes -- publish order, the same stamp
    :func:`list_snapshots` reports.

    ``collapse_keys`` (+ optional ``version_col``) is the upsert /
    ReplacingMergeTree ``FINAL`` read (:func:`collapse_latest`): one
    row per key tuple, highest version wins -- appending a new version
    of a key becomes an update at read time, and
    ``compact_sink(collapse_keys=...)`` physically converges old
    versions away at maintenance time.  Composes with every pruning
    arg (the collapse runs over the pruned scan), but mind key-tuple
    completeness: pruning that splits a key's versions across
    kept/skipped batches can surface a stale version -- prune on the
    collapse keys themselves (e.g. ``eq={"mid": ...}``) for exact
    point upsert reads."""
    fs, HPath = _hadoop_fs(spark, table_path)
    reader = spark.read.option("mergeSchema", str(merge_schema).lower())
    if as_of_ts is not None and as_of is not None:
        raise ValueError("pass as_of OR as_of_ts, not both")
    if not fs.exists(HPath(f"{table_path}/_manifests")):
        if as_of is not None or as_of_ts is not None:
            raise SnapshotUnreadable(
                f"{table_path} is not a manifest sink; as_of/as_of_ts "
                "require the manifest commit protocol"
            )
        out = reader.parquet(table_path)
        if collapse_keys:
            out = collapse_latest(out, collapse_keys, version_col)
        return out
    if as_of_ts is not None:
        as_of = _resolve_as_of_ts(spark, table_path, as_of_ts)
    if as_of is not None:
        live = _pinned_manifest_set(fs, HPath, spark, table_path, as_of)
    else:
        # dir-less manifests (drop tombstones) carry only a supersedes
        # set; they contribute no scan
        live = [
            m for m in _read_manifests(fs, HPath, table_path) if "dir" in m
        ]
    if not live:
        raise ValueError(
            f"manifest sink {table_path} has no committed batches"
        )
    # dates / ranges / eq: manifest-level batch skipping (partition
    # stat, min/max disjointness, bloom point probes -- the MergeTree
    # primary-index parity path, ``data_dbstore.go:133``); shared core
    # in :func:`_prune_batches`.  The frame is NOT row-filtered --
    # compose with ``.filter(...)`` for exact selection (which also
    # drives per-scan pushdown).
    kept = _prune_batches(
        live,
        dates=dates,
        ranges=ranges,
        eq=eq,
        jfs=_JvmFsReader(fs, HPath) if eq is not None else None,
        table_path=table_path,
    )

    def _maybe_collapse(out: DataFrame) -> DataFrame:
        if collapse_keys:
            return collapse_latest(out, collapse_keys, version_col)
        return out

    if (dates is not None or ranges is not None or eq is not None) and not kept:
        # every batch pruned: an empty frame with the sink's schema --
        # NOT collapsed (collapse of empty is empty, and live[0] may
        # predate a widening that added the collapse/version column)
        from pyspark.sql import functions as F

        any_dir = f"{table_path}/{live[0]['dir']}"
        return reader.parquet(any_dir).filter(F.lit(False))
    # Uniform-schema sinks above _FLAT_SCAN_MIN batches plan ONE
    # multi-file scan (flat in batch count); everything else takes one
    # scan per attempt dir, unioned -- each dir is its own partitioned
    # root (Spark refuses a single multi-root partition discovery across
    # conflicting structures).  Per-batch micro-scans are the standard
    # manifest-table read amplification -- at scale, compaction
    # (rewrite + republish as one attempt) bounds the manifest count,
    # exactly Delta/Iceberg's OPTIMIZE story.
    from functools import reduce

    flat = _flat_kept_frame(spark, table_path, kept)
    if flat is not None:
        return _maybe_collapse(flat)
    frames = _recorded_schema_frames(reader, table_path, kept)
    if merge_schema and len(frames) > 1:
        # managed TYPE evolution, not just added columns: fold every
        # batch's schema through the safe widening lattice (int->long->
        # double, float->double, date->timestamp -- loud
        # SchemaWideningError on unrelated types) and cast each frame
        # up, instead of trusting engine union coercion to pick a side
        # silently.  Schemas are free here (recorded in the manifests,
        # or parquet footers already read to plan the frames).
        target = reduce(_widen_struct, [f.schema for f in frames])
        frames = [_cast_to_struct(f, target) for f in frames]
    return _maybe_collapse(
        reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=merge_schema),
            frames,
        )
    )


def read_sink_fanin(
    spark: SparkSession,
    table_paths: "list[str]",
    merge_schema: bool = False,
    dates: "list[str] | None" = None,
    ranges: "dict[str, tuple[str, str]] | None" = None,
    eq: "dict[str, object] | None" = None,
    collapse_keys: "list[str] | None" = None,
    version_col: "str | None" = None,
) -> DataFrame:
    """One logical table over a PARTITIONED MULTI-WRITER layout -- the
    supported answer to legitimate concurrent writers (two pumps on
    disjoint topic groups feeding one analytic table, the reference's
    per-pipe parallelism, ``main.go:110-121``).

    Writer fencing (:func:`ensure_writer_lease`) makes the two-pumps-
    ONE-path misconfiguration fail fast, because both commit protocols
    are correct only under strictly-serial batches per path.  The
    legitimate version does not weaken that contract: each writer owns
    its OWN ``table_path`` (own lease, own manifest log, own
    snapshot/compact/vacuum cadence -- every per-path invariant intact
    and independently testable), and readers union the paths by name.
    This is also the scalable shape: writer parallelism is a pure
    layout choice (add a path, add a pump), manifest listings stay
    O(1) per path under snapshots, and ``dates``/``ranges`` pruning
    applies per path before any scan is planned.  Contrast with
    optimistic multi-writer commits on one log (Delta-style):
    correct but serializing -- every committer re-validates and
    retries on clash, which a pub/sub fan-in layout simply never
    pays.

    ``collapse_keys``/``version_col`` apply the upsert FINAL collapse
    (:func:`collapse_latest`) ACROSS the union -- when writers can
    upsert the same key on different paths, the collapse must be
    global, never per path."""
    from functools import reduce

    if not table_paths:
        raise ValueError("read_sink_fanin needs at least one table path")
    frames = [
        read_sink(spark, p, merge_schema, dates=dates, ranges=ranges, eq=eq)
        for p in table_paths
    ]
    out = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=merge_schema),
        frames,
    )
    if collapse_keys:
        out = collapse_latest(out, collapse_keys, version_col)
    return out


class TailLost(IOError):
    """An incremental tail (:func:`read_sink_since`) can no longer be
    served from this cursor: a compaction folded batches the tail had
    not yet delivered into a consolidated attempt, where their rows are
    no longer separable.  Restart from a full scan (``cursor=None``) --
    the same retention semantics as Delta's change data feed.  Prevent
    it by sizing ``compact_sink(keep_last=...)`` (or the compaction
    cadence) to exceed the tail's maximum lag in batches."""


def _next_batch_id(fs, HPath, table_path: str) -> int:
    """Smallest batch id safe for a statement-level append
    (:func:`~mqtt_message_pump_spark.sqlstmt.execute_sql` INSERT with
    no explicit id): 1 + the highest id mentioned ANYWHERE in the
    manifest listing -- live batches (any epoch), snapshot-embedded
    names, and every name a supersedes entry retires.  Reusing a
    retired id would publish a batch an existing drop tombstone
    retires on sight (dropped rows never resurrect,
    :func:`_resolve_manifest_entries`), so the horizon is names-SEEN,
    not batches-live."""
    if not fs.exists(HPath(f"{table_path}/_manifests")):
        return 0
    state = _load_manifest_state(fs, HPath, table_path)
    ids = [
        k[1]
        for name in (state["all_names"] | state["superseded"])
        if (k := _batch_name_key(name)) is not None
    ]
    return (max(ids) + 1) if ids else 0


def _batch_name_key(name: str) -> "tuple[str, int] | None":
    """``(epoch, batch_id)`` identity of a per-batch manifest file name
    (``b<id>.json`` -> ``("", id)``; ``b<epoch>-<id>.json`` ->
    ``(epoch, id)``); None for compact/snapshot/drop names."""
    if not (name.startswith("b") and name.endswith(".json")):
        return None
    core = name[1:-5]
    if "-" in core:
        e, i = core.rsplit("-", 1)
        return (e, int(i)) if i.isdigit() else None
    return ("", int(core)) if core.isdigit() else None


def _tail_delta(
    live: "list[dict]", cursor: "dict | None", table_path: str = ""
) -> "tuple[list[dict], dict]":
    """The PURE core of the change-data-feed: given the LIVE manifest
    set and a cursor, return ``(new_batch_manifests, new_cursor)`` --
    shared by :func:`read_sink_since` and the streaming tail source
    (``sources/sinktail.py``).  Semantics documented on
    :func:`read_sink_since`; decisions are made against the PRIOR
    cursor only (the live listing's order is arbitrary -- a mark made
    for batch j must not make batch i<j of the same lineage look
    already-delivered within this call); marks accumulate into the NEW
    cursor."""
    prior: dict[str, int] = dict((cursor or {}).get("epochs", {}))
    epochs: dict[str, int] = dict(prior)
    bootstrap = cursor is None

    def _seen(e: str, i: int) -> bool:
        return i <= prior.get(e, -1)

    def _mark(e: str, i: int) -> None:
        if i > epochs.get(e, -1):
            epochs[e] = i

    new: list[dict] = []
    for m in live:
        kind = m.get("kind")
        if kind == "drop":
            for v in m.get("supersedes", []):
                k = _batch_name_key(v)
                if k:
                    _mark(*k)
            continue
        if kind == "compact":
            victims = [
                k
                for k in (
                    _batch_name_key(v) for v in m.get("supersedes", [])
                )
                if k
            ]
            # a compact manifest folds its victims' own supersedes
            # entries, which include the UNSCOPED epoch-twin names of
            # scoped batches (``b0.json`` retired by ``be1-0.json``) --
            # retirement echoes, not batches that ever delivered: drop
            # an unscoped id when a scoped victim with the same id is
            # in the set
            scoped_ids = {i for e, i in victims if e}
            victims_all = victims  # pre-filter set, for swap coverage
            victims = [
                (e, i) for e, i in victims if e or i not in scoped_ids
            ]
            if bootstrap:
                new.append(m)
                for k in victims:
                    _mark(*k)
                continue
            # DML/restore swap coverage: a swap manifest (epoch in the
            # reserved "u" namespace, _swap_batch_manifest) is a
            # same-rows REPLACEMENT of another key with its batch id.
            # If it was itself compacted before this cursor ever
            # polled, the cursor never marked the swap key -- but
            # having seen ANY member of that id's replacement lineage
            # means the batch was delivered (replacements are never
            # re-delivered by contract), so the fold must ride
            # through, not raise.  Scope: the group rule applies only
            # when the id's folded group contains a "u" key
            # (checkpoint epochs are hex, cli tails are "t..." -- "u"
            # is collision-free); the residual conflation risk (an
            # epoch-blind reset lineage reusing a swapped id inside
            # ONE fold) requires three contract violations at once.
            # grouped over the PRE-filter set: the filtered unscoped
            # echo ("b1.json" retired by a swap) is exactly the key a
            # caught-up cursor marked when it delivered the original
            by_id: "dict[int, list]" = {}
            for e, i in victims_all:
                by_id.setdefault(i, []).append((e, i))

            def _covered(e: str, i: int) -> bool:
                if _seen(e, i):
                    return True
                group = by_id[i]
                return any(_is_swap_epoch(ge) for ge, _ in group) and any(
                    _seen(*g) for g in group
                )

            lost = [k for k in victims if not _covered(*k)]
            if lost:
                raise TailLost(
                    f"sink {table_path}: compaction {m['name']} folded "
                    f"{len(lost)} undelivered batch(es) (e.g. epoch="
                    f"{lost[0][0] or '<none>'} id={lost[0][1]}); restart "
                    "the tail from a full scan (cursor=None)"
                )
            # no marks for ridden-through victims: every swap epoch is
            # unique, so marking them would grow long-lived cursors by
            # one dead entry per historical swap; a later fold's own
            # transitive supersede set re-derives the same coverage
            continue
        if "dir" not in m:
            continue
        key = _batch_name_key(m["name"])
        if key is None:
            continue
        e, i = key
        if _seen(e, i):
            continue
        # same-rows replacement of an already-delivered twin (the
        # epoch-retired unscoped manifest): mark, don't re-deliver
        replaced = [
            k
            for k in (_batch_name_key(v) for v in m.get("supersedes", []))
            if k
        ]
        _mark(e, i)
        if any(_seen(ke, ki) for ke, ki in replaced):
            continue
        new.append(m)
    return new, {"epochs": epochs}


def read_sink_since(
    spark: SparkSession,
    table_path: str,
    cursor: "dict | None" = None,
    merge_schema: bool = False,
) -> "tuple[DataFrame | None, dict]":
    """Incremental tail of a manifest sink (change-data-feed): return
    ``(new_rows_df_or_None, new_cursor)`` where the frame holds exactly
    the batches committed since ``cursor`` and the cursor is a small
    JSON-safe dict the caller checkpoints between calls.  Downstream
    stages (dedup-index append, incremental ANN indexing, tokenize/
    pack) consume appends without re-scanning the sink -- the pump's
    own dual-sink fan-out (``data_processor.go:78-79``) one hop
    downstream.

    Cursor = the max delivered batch id PER CHECKPOINT LINEAGE
    (``{"epochs": {"<epoch>": id}}``): batch ids are monotonic within a
    lineage, so the state is O(lineages), not O(batches).  The
    semantics under the sink's own lifecycle events:

    - **replay republish** of a delivered batch (same key, new attempt
      dir, identical rows -- replays are deterministic): skipped, no
      double-delivery;
    - **epoch-twin swap** (a scoped manifest superseding the unscoped
      twin of its own first attempt): if the superseded twin was
      already delivered, the scoped manifest is a same-rows replacement
      -- marked delivered, not re-delivered;
    - **compaction**: delivers nothing (rows already delivered as the
      original batches); but if it folded batches the tail had NOT yet
      seen, their rows are inseparable inside the consolidated attempt
      -- raise :class:`TailLost` loudly (never silently skip data);
    - **retention drops**: never delivered -- a row dropped before the
      tail reached it stays dropped (delivering it downstream would
      resurrect erased data); tombstone victims are marked consumed;
    - **checkpoint reset** (new lineage, ids restart at 0): a new
      lineage key starts at -1, so its batches all deliver;
    - **bootstrap** (``cursor=None``): the full current live set
      delivers (including consolidated attempts), and the cursor is
      primed from both batch manifests and compact victims.

    First-call + per-call cost is one manifest listing -- O(1) in
    committed batches under snapshots (:func:`snapshot_sink`) -- plus
    one scan per NEW batch; steady-state tailing is therefore
    incremental in batch size, not corpus size."""
    from functools import reduce

    fs, HPath = _hadoop_fs(spark, table_path)
    if not fs.exists(HPath(f"{table_path}/_manifests")):
        raise ValueError(
            f"{table_path} is not a manifest sink; read_sink_since "
            "requires the manifest commit protocol"
        )
    live = _read_manifests(fs, HPath, table_path)
    new_manifests, new_cursor = _tail_delta(live, cursor, table_path)
    if not new_manifests:
        return None, new_cursor
    reader = spark.read.option("mergeSchema", str(merge_schema).lower())
    frames = _recorded_schema_frames(reader, table_path, new_manifests)
    df = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=merge_schema),
        frames,
    )
    return df, new_cursor


def count_sink(
    spark: SparkSession,
    table_path: str,
    dates: "list[str] | None" = None,
) -> int:
    """Row count of a manifest sink from MANIFEST METADATA -- zero data
    scans when every live batch recorded its ``rows`` stat (written by
    every commit path since r13; compaction folds it).  Batches without
    the stat (pre-r13) are counted with one bounded scan each --
    never the whole sink.  ``dates`` composes with the manifest-level
    partition pruning, so "how many rows on 2024-01-02" is a metadata
    question too (exact when batches are single-date, which the
    date-clustered writers produce; multi-date batches fall back to a
    filtered scan for exactness).

    The reference's ``count()`` surface (``data_dbstore.go:229``) hits
    ClickHouse's part-level counts; this is the same trick at manifest
    granularity."""
    from pyspark.sql import functions as F

    fs, HPath = _hadoop_fs(spark, table_path)
    if not fs.exists(HPath(f"{table_path}/_manifests")):
        df = spark.read.parquet(table_path)
        if dates is not None:
            df = df.filter(F.col("collect_date").isin(list(dates)))
        return df.count()
    live = [
        m for m in _read_manifests(fs, HPath, table_path) if "dir" in m
    ]
    wanted = set(dates) if dates is not None else None
    total = 0
    for m in live:
        mdates = m.get("dates")
        if wanted is not None:
            if mdates is not None and not (wanted & set(mdates)):
                continue
            if mdates is None or not set(mdates) <= wanted:
                # multi-date batch straddling the filter (or unknown
                # dates): exactness needs the filtered scan of JUST
                # this batch
                total += (
                    spark.read.parquet(f"{table_path}/{m['dir']}")
                    .filter(F.col("collect_date").isin(sorted(wanted)))
                    .count()
                )
                continue
        if "rows" in m:
            total += int(m["rows"])
        else:
            total += spark.read.parquet(f"{table_path}/{m['dir']}").count()
    return total


def describe_sink(spark: SparkSession, table_path: str) -> dict:
    """Operator summary of a manifest sink from one metadata listing:
    live batch count, metadata row count, lineages, date span, snapshot
    seqs, bloom coverage, and maintenance posture (batches since the
    last snapshot) -- the ``DESCRIBE TABLE``/``SHOW PARTITIONS``
    surface for the manifest log.

    ``bloom_coverage`` below full is EXPECTED on native-stream-writer
    sinks ingesting >100k-row batches: the stream's commit worker has
    no SparkSession for the distributed bloom builder, so those
    batches ship bloom-less (documented in ``manifestsink.py``) and
    equality probes keep them conservatively until ``pump maintain``
    / :func:`backfill_blooms` closes the gap -- correctness is never
    affected, only point-lookup pruning."""
    fs, HPath = _hadoop_fs(spark, table_path)
    if not fs.exists(HPath(f"{table_path}/_manifests")):
        raise ValueError(f"{table_path} is not a manifest sink")
    state = _load_manifest_state(fs, HPath, table_path)
    live = [m for m in state["live"] if "dir" in m]
    dates = sorted({d for m in live for d in (m.get("dates") or [])})
    lineages = sorted(
        {
            k[0]
            for m in live
            if (k := _batch_name_key(m.get("name", ""))) is not None
        }
    )
    snaps = list_snapshots(spark, table_path)
    blooms = sum(
        1
        for m in live
        if fs.exists(HPath(f"{table_path}/{m['dir']}/_bloom.json"))
    )
    # folded bloom-index posture: the index is only as fresh as its
    # fold -- batches appended/republished since consult their own
    # sidecars until the next snapshot-cadence re-fold, so the operator
    # surface must show HOW stale the accelerator is
    from mqtt_message_pump_spark.functions.bloom import (
        index_blooms_for,
        load_bloom_index,
    )

    idx = load_bloom_index(_JvmFsReader(fs, HPath), table_path)
    idx_covered = (
        sum(1 for m in live if index_blooms_for(idx, m) is not None)
        if idx is not None
        else 0
    )
    return {
        "batches": len(live),
        "rows": sum(int(m["rows"]) for m in live if "rows" in m),
        "rows_exact": all("rows" in m for m in live),
        "lineages": lineages,
        "dates": (dates[0], dates[-1]) if dates else None,
        "compacted_batches": sum(
            1 for m in live if m.get("kind") == "compact"
        ),
        "snapshots": [s["seq"] for s in snaps],
        "uncovered_manifests": sum(
            1 for m in state["live"] if m["name"] not in state["embedded"]
        ),
        "bloom_coverage": f"{blooms}/{len(live)}",
        "bloomidx_seq": (idx or {}).get("seq"),
        "bloomidx_coverage": f"{idx_covered}/{len(live)}",
        "batches_since_fold": len(live) - idx_covered,
    }


def _manifest_op(name: str, m: dict) -> str:
    """One operation class per manifest object, derived from the
    protocol's naming -- shared by :func:`files_sink` and
    :func:`history_sink` so the two metadata surfaces can never
    disagree about the same manifest."""
    if _snap_seq(name) is not None:
        return "snapshot"
    if m.get("kind") == "drop":
        return "drop"
    if m.get("kind") == "compact":
        return "overwrite" if name.startswith("c-ow-") else "compact"
    key = _batch_name_key(name)
    if key is not None and key[0] and _is_swap_epoch(key[0]):
        return "rewrite"
    return "append"


def files_sink(spark: SparkSession, table_path: str) -> DataFrame:
    """The sink's LIVE batch inventory as a DataFrame -- the Iceberg
    ``.files`` / Delta ``DESCRIBE DETAIL`` surface: one row per live
    batch with identity (manifest name, epoch, batch id, kind), layout
    (attempt dir, file count), metadata stats (rows, dates, per-column
    min/max) and bloom coverage.  Built from one manifest listing
    (O(live) under snapshots, no data IO), so operators can run SQL
    over the table's own metadata: small-file counts to schedule
    compaction, per-date row totals, stat coverage audits."""
    import json as _json

    fs, HPath = _hadoop_fs(spark, table_path)
    if not fs.exists(HPath(f"{table_path}/_manifests")):
        raise ValueError(f"{table_path} is not a manifest sink")
    live = [
        m for m in _read_manifests(fs, HPath, table_path) if "dir" in m
    ]
    rows = []
    for m in live:
        key = _batch_name_key(m.get("name", ""))
        st = m.get("stats") or {}
        rows.append(
            (
                m["name"],
                _manifest_op(m["name"], m),
                key[0] if key is not None and key[0] else None,
                key[1] if key is not None else None,
                m["dir"],
                len(m.get("files") or []),
                int(m["rows"]) if "rows" in m else None,
                sorted(m.get("dates") or []),
                {c: list(v) for c, v in st.items()},
                fs.exists(HPath(f"{table_path}/{m['dir']}/_bloom.json")),
                (
                    len(m["schema"].get("fields", []))
                    if isinstance(m.get("schema"), dict)
                    else None
                ),
            )
        )
    return spark.createDataFrame(
        rows,
        "manifest string, kind string, epoch string, batch_id long, "
        "dir string, n_files int, rows long, dates array<string>, "
        "stats map<string, array<string>>, has_bloom boolean, "
        "n_columns int",
    )


def history_sink(spark: SparkSession, table_path: str) -> DataFrame:
    """The sink's operation log as a DataFrame -- Delta ``DESCRIBE
    HISTORY`` reduced to the manifest protocol: one row per manifest
    object still reconstructible from the retained log (standalone
    files plus entries that now live only embedded in a snapshot),
    with the operation class derived from the protocol's naming --

    - ``append``: an ordinary batch commit (``b<epoch>-<id>``);
    - ``rewrite``: a DML/MERGE/restore swap (the reserved ``u``+hex
      epoch, :func:`_is_swap_epoch`);
    - ``compact`` / ``overwrite``: consolidation manifests (the
      ``c-ow-`` prefix is the native writer's atomic replace-table);
    - ``drop``: a tombstone (retention drops, whole-batch deletes);
    - ``snapshot``: a snapshot publish (``s-<seq>-...``).

    ``ts`` is the object's publish time (file mtime; embedded-only
    entries inherit their snapshot's).  History depth equals the
    vacuum-retention horizon -- :func:`vacuum_sink` physically erases
    superseded objects, exactly like Delta's log retention."""
    fs, HPath = _hadoop_fs(spark, table_path)
    if not fs.exists(HPath(f"{table_path}/_manifests")):
        raise ValueError(f"{table_path} is not a manifest sink")
    state = _load_manifest_state(fs, HPath, table_path)
    rows = []
    seen = set()
    for st in state["stats"]:
        name = st.getPath().getName()
        ts = st.getModificationTime()
        if _snap_seq(name) is not None:
            m = {}
        else:
            try:
                m = _read_json_object(
                    fs, HPath, f"{table_path}/_manifests/{name}"
                )
            except _ManifestVanished:
                continue  # vacuumed mid-listing; its replacement lists
            # any OTHER failure (parse error, FS fault) raises: an
            # audit log must never silently under-report
        seen.add(name)
        rows.append(
            (
                name,
                _manifest_op(name, m),
                ts,
                int(m["rows"]) if "rows" in m else None,
                m.get("dir"),
                sorted(m.get("supersedes") or []),
                False,
            )
        )
    # entries surviving ONLY inside the newest snapshot (their
    # standalone file already vacuumed): still part of the
    # reconstructible history
    snap_ts = (
        state["latest_snap"].getModificationTime()
        if state["latest_snap"] is not None
        else None
    )
    for m in state["live"]:
        name = m.get("name", "")
        if name in seen or not name:
            continue
        rows.append(
            (
                name,
                _manifest_op(name, m),
                # embedded entries carry their ORIGINAL publish mtime
                # ("ts", recorded when the snapshot embedded them) --
                # chronology survives vacuum; the snapshot's own time
                # is only the fallback for pre-ts snapshots
                int(m["ts"]) if m.get("ts") is not None else snap_ts,
                int(m["rows"]) if "rows" in m else None,
                m.get("dir"),
                sorted(m.get("supersedes") or []),
                True,
            )
        )
    from pyspark.sql import functions as F

    return (
        spark.createDataFrame(
            rows,
            "manifest string, operation string, ts_ms long, rows long, "
            "dir string, supersedes array<string>, embedded_only boolean",
        )
        .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        .drop("ts_ms")
        .orderBy("ts", "manifest")
    )


def backfill_blooms(
    spark: SparkSession, table_path: str
) -> list[str]:
    """Build the ``_bloom.json`` sidecar for every LIVE batch that lacks
    one -- the maintenance-window completion of the point-lookup index
    (:mod:`functions.bloom`).  Batches can lack a sidecar for three
    legitimate reasons: written before blooms existed, written by the
    native stream writer above the driver-build size guard (its commit
    has no SparkSession to fan the build out), or rewritten by a
    retention drop.  Because readers load sidecars LAZILY and absence
    is merely conservative, adding one later is always safe -- no
    manifest republish, no read-side coordination.  Builds run
    distributed over just the probe columns; returns the attempt dirs
    backfilled.  Wired into ``pump maintain`` next to compaction."""
    from mqtt_message_pump_spark.functions import bloom as B

    fs, HPath = _hadoop_fs(spark, table_path)
    if not fs.exists(HPath(f"{table_path}/_manifests")):
        return []
    done = []
    for m in _read_manifests(fs, HPath, table_path):
        if "dir" not in m:
            continue
        sidecar = HPath(f"{table_path}/{m['dir']}/{B.BLOOM_SIDECAR}")
        if fs.exists(sidecar):
            continue
        df = spark.read.parquet(f"{table_path}/{m['dir']}")
        cols = [c for c in ("mid", "topic") if c in df.columns]
        if not cols:
            continue
        n = int(m["rows"]) if "rows" in m else df.count()
        if n == 0:
            continue
        try:
            specs = B.bloom_build_distributed(df.select(*cols), cols, n)
            B.write_bloom_sidecar(
                lambda payload, _m=m: _publish_manifest(
                    fs, HPath, f"{table_path}/{_m['dir']}",
                    B.BLOOM_SIDECAR, payload,
                ),
                specs,
            )
            done.append(m["dir"])
        except Exception:
            continue  # absent stays conservative
    return done


def vacuum_sink(
    spark: SparkSession, table_path: str, retention_secs: float = 0.0
) -> list[str]:
    """Reclaim everything no LIVE manifest references: attempt
    directories of crashed or replay-superseded attempts, compaction
    victims (their manifest files first -- always safe, the surviving
    compact manifest carries the transitive supersedes set, so a victim
    manifest can never resurrect mid-vacuum -- then their now-orphaned
    dirs), and stranded manifest tmp objects.  Returns the deleted
    paths.

    ``retention_secs`` is Delta VACUUM's retention rule, and exists for
    the same reason: a vacuum whose manifest listing is STALE (a crashed
    writer's lingering maintenance thread racing a restarted query --
    ``query.stop()`` interrupts the JVM stream thread but the Python
    ``foreachBatch`` callback keeps executing) must never delete an
    attempt dir that a manifest published AFTER the listing references.
    The native stream writer's ``_data/.stage-*`` task dirs are
    unreferenced by design until its commit moves them -- the same
    retention guard protects an in-flight micro-batch's stage from a
    concurrent vacuum, and a crashed batch's leftovers age out here.
    Skipping dirs younger than the retention makes the stale-listing
    race harmless: fresh attempts are always younger; truly orphaned
    dirs age past it and are reclaimed by a later cycle.  Explicit
    maintenance-window vacuums may pass 0.

    **The reader-safety rule** (Delta's VACUUM contract, adopted
    verbatim): a reader resolves its manifest listing to attempt-dir
    paths once, then scans those dirs for as long as the query runs --
    so ``retention_secs`` MUST exceed the longest concurrently-running
    read of the sink, or a compact+vacuum pair can delete a victim dir
    mid-scan.  Manifest FILES are exempt from the rule: every manifest
    retirement publishes its replacement (snapshot / superseder) before
    the delete, and the listing retries on a vanished file
    (:func:`_load_manifest_state`), so manifest deletes are always
    immediate.  Old SNAPSHOT files follow the data rule (a reader may
    be holding the previous snapshot's listing): superseded snapshots
    are deleted only past the retention age."""
    fs, HPath = _hadoop_fs(spark, table_path)
    state = _load_manifest_state(fs, HPath, table_path)
    live = state["live"]
    live_names = {m["name"] for m in live}
    referenced = {m["dir"] for m in live if "dir" in m}
    latest_snap = state["latest_snap"]
    removed = []
    now_ms = None
    if retention_secs > 0:
        # cluster-safe "now": the filesystem's clock, via a probe object
        # (executors' clocks may skew from the store's)
        import uuid as _uuid

        probe = HPath(f"{table_path}/_manifests/.tmp-clock-{_uuid.uuid4().hex[:8]}")
        out = fs.create(probe, True)
        out.close()
        now_ms = fs.getFileStatus(probe).getModificationTime()
        fs.delete(probe, False)
    snap_mtime = (
        latest_snap.getModificationTime() if latest_snap is not None else 0
    )
    for st in fs.globStatus(HPath(f"{table_path}/_manifests/*.json")):
        name = st.getPath().getName()
        if _snap_seq(name) is not None:
            # snapshots: keep the latest; older ones age out under the
            # retention rule (a reader may still be walking their set)
            if latest_snap is not None and name == latest_snap.getPath().getName():
                continue
            if (
                now_ms is not None
                and now_ms - st.getModificationTime()
                < retention_secs * 1000
            ):
                continue
            fs.delete(st.getPath(), False)
            removed.append(f"_manifests/{name}")
        elif name not in live_names:
            # superseded victim or retired unscoped twin: its retirer is
            # already published, so the delete is immediately safe
            fs.delete(st.getPath(), False)
            removed.append(f"_manifests/{name}")
        elif (
            name in state["embedded"]
            and st.getModificationTime() <= snap_mtime
        ):
            # live but fully covered by the latest snapshot (and not
            # republished since): the standalone copy is redundant --
            # this is the crash-completion of snapshot_sink's own
            # cleanup step
            fs.delete(st.getPath(), False)
            removed.append(f"_manifests/{name}")
    for st in fs.globStatus(HPath(f"{table_path}/_data/*")):
        rel = f"_data/{st.getPath().getName()}"
        if rel in referenced:
            continue
        if (
            now_ms is not None
            and now_ms - st.getModificationTime() < retention_secs * 1000
        ):
            continue  # young: possibly a fresher listing's live attempt
        fs.delete(st.getPath(), True)
        removed.append(rel)
    for st in fs.globStatus(HPath(f"{table_path}/_manifests/.tmp-*")):
        fs.delete(st.getPath(), False)
        removed.append(f"_manifests/{st.getPath().getName()}")
    # bloom indexes: pure accelerators (sidecars stay authoritative),
    # so superseded ones follow the snapshot retention rule and
    # stranded publish tmps go immediately
    from mqtt_message_pump_spark.functions.bloom import (
        BLOOMIDX_DIR,
        _idx_seq,
    )

    idx_stats = list(
        fs.globStatus(HPath(f"{table_path}/{BLOOMIDX_DIR}/bloomidx-s*"))
    )
    idx_seqs = [
        s
        for st in idx_stats
        if (s := _idx_seq(st.getPath().getName())) is not None
    ]
    latest_idx = max(idx_seqs, default=None)
    for st in idx_stats:
        name = st.getPath().getName()
        s = _idx_seq(name)
        if s is None or s == latest_idx:
            continue
        if (
            now_ms is not None
            and now_ms - st.getModificationTime() < retention_secs * 1000
        ):
            continue
        fs.delete(st.getPath(), False)
        removed.append(f"{BLOOMIDX_DIR}/{name}")
    for st in fs.globStatus(HPath(f"{table_path}/{BLOOMIDX_DIR}/.tmp-*")):
        fs.delete(st.getPath(), False)
        removed.append(f"{BLOOMIDX_DIR}/{st.getPath().getName()}")
    # stranded root-level probe/tmp objects: writer-lease tmp files
    # (crash between create and rename in _publish_writer_lease) AND
    # clock probes (_fs_now_ms crash between create and delete --
    # ADVICE r11: these previously accumulated forever).  The live
    # _writer.json is never touched (no .tmp- prefix) -- lease expiry,
    # not vacuum, retires stale leases.
    for st in fs.globStatus(HPath(f"{table_path}/.tmp-*")):
        fs.delete(st.getPath(), False)
        removed.append(st.getPath().getName())
    return removed


def compact_sink(
    spark: SparkSession,
    table_path: str,
    keep_last: int = 1,
    collapse_keys: "list[str] | None" = None,
    version_col: "str | None" = None,
) -> str | None:
    """Bound a manifest sink's read amplification (one scan per committed
    batch) by rewriting old batches into ONE consolidated attempt -- the
    OPTIMIZE story every manifest-table design needs at scale: a year of
    5-second micro-batches is ~6M manifests without it, ~a handful with
    a periodic compaction.

    Commit safety is the same single-object trick as the batch commit:
    the consolidated data is written to a fresh attempt dir (invisible),
    then ONE compact manifest is published whose ``supersedes`` field
    names every victim manifest -- transitively, so compacting a
    previous compaction folds its victim set in.  Readers ignore
    superseded manifests (:func:`_read_manifests`), so the swap is
    atomic at the publish; victims' files and dirs are reclaimed later
    by :func:`vacuum_sink`, in any order, without a correctness window.

    ``keep_last`` most-recent batches (by manifest modification time)
    are left alone: Spark replays at most the LAST uncommitted
    micro-batch, and a replay's manifest republish must keep pointing at
    its own batch key -- compacting a batch that can still replay would
    duplicate its rows when the replay republishes it.  Run from the
    maintenance window (single writer, same contract as vacuum).

    ``collapse_keys`` (+ optional ``version_col``) makes this the
    ReplacingMergeTree BACKGROUND MERGE analog: the consolidated
    victims are collapsed to one row per key tuple, highest version
    wins (:func:`collapse_latest`), so superseded upsert versions are
    physically reclaimed at maintenance time.  Collapse is exact
    WITHIN the victim set only -- ``keep_last`` recent batches stay
    unmerged, so full upsert semantics still need the
    ``read_sink(collapse_keys=...)`` FINAL read, exactly ClickHouse's
    merge-vs-FINAL contract.  Collapsed-away rows are not retracted
    from change-data-feed consumers that already saw them (standard
    append-only CDF caveat).

    Returns the new manifest name, or None when there are fewer than two
    compactable batches."""
    import json
    import uuid

    import re

    fs, HPath = _hadoop_fs(spark, table_path)
    # drop tombstones (dir-less) are metadata, not data: never
    # compaction victims -- they expire via the loader's inert-tombstone
    # rule once their victims are unreachable
    manifests = [
        m for m in _read_manifests(fs, HPath, table_path) if "dir" in m
    ]
    stamped = []
    for m in manifests:
        # recency = (publish stamp, numeric batch id): a bare mtime sort
        # breaks ties lexicographically ("...-10.json" < "...-9.json"),
        # which under same-millisecond publishes could class the NEWEST
        # batch as oldest and compact the one manifest a replay may
        # republish; compact manifests (id -1) always sort oldest within
        # a tie.  ``ts`` is the loader's stamp: file mtime for standalone
        # manifests, the embed-time mtime for snapshot-embedded ones
        # (which by construction predate every standalone manifest).
        bid = re.search(r"-(\d+)\.json$", m["name"])
        stamped.append(
            (m.get("ts", 0), int(bid.group(1)) if bid else -1,
             m["name"], m)
        )
    stamped.sort()
    victims = [m for *_, m in stamped[: max(0, len(stamped) - keep_last)]]
    if len(victims) < 2:
        return None
    df = None
    for m in victims:
        # mergeSchema + by-name union with NULL fill: victims written
        # before a schema widening (StoreConf.schema_evolution) must
        # consolidate into the WIDE schema, not fail the maintenance
        # cycle -- the rows are already committed side by side, so the
        # loud-failure ship has sailed; compaction is where the sink
        # physically converges on one schema again
        part = spark.read.option("mergeSchema", "true").parquet(
            f"{table_path}/{m['dir']}"
        )
        df = part if df is None else df.unionByName(
            part, allowMissingColumns=True
        )
    attempt = f"_data/c-{uuid.uuid4().hex[:8]}"
    if collapse_keys:
        if version_col is None:
            raise ValueError(
                "compact_sink(collapse_keys=...) requires version_col: "
                "without a version the survivor is the deterministic "
                "content-max row, NOT last-write-wins, and a physical "
                "merge would discard newer upsert versions permanently "
                "-- pass the version column (read-side "
                "collapse_latest without a version stays available "
                "for pure dedup)"
            )
        df = collapse_latest(df, collapse_keys, version_col)
    sort_cols = [c for c in ("mid", "topic") if c in df.columns]
    df = df.repartition("collect_date")
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    (
        df.write.mode("overwrite")
        .partitionBy("collect_date")
        .parquet(f"{table_path}/{attempt}")
    )
    supersedes = sorted(
        {m["name"] for m in victims}
        | {n for m in victims for n in m.get("supersedes", [])}
    )
    # deterministic name over the victim set: two maintenance threads
    # racing the same compaction (a lingering stopped-query callback vs
    # the restarted query -- both list the same live manifests) converge
    # on ONE manifest object instead of double-counting the shared
    # victims' rows; the loser's attempt dir is simply unreferenced and
    # vacuumed.  Distinct victim sets cannot race under the single-
    # writer contract (a later compaction's listing sees the earlier
    # compact manifest and supersedes it).
    import hashlib

    # the collapse spec joins the identity: a collapsed and an
    # uncollapsed compaction of the same victim set are DIFFERENT
    # results and must not converge on one manifest object
    ident = "|".join(supersedes)
    if collapse_keys:
        ident += "#collapse=" + ",".join(collapse_keys) + (
            f"@{version_col}" if version_col else ""
        )
    name = (
        "c-" + hashlib.md5(ident.encode()).hexdigest()[:12]
        + ".json"
    )
    # consolidated min/max stats = fold of the victims' stats (the
    # consolidated batch is exactly their union, so min-of-mins /
    # max-of-maxes is true with ZERO extra IO); a column any victim
    # lacks is omitted (conservative: read_sink(ranges=...) keeps
    # stat-less batches)
    merged_stats: dict = {}
    for i, m in enumerate(victims):
        vstats = m.get("stats") or {}
        if i == 0:
            merged_stats = {c: list(v) for c, v in vstats.items()}
            continue
        for c in list(merged_stats):
            if c not in vstats:
                del merged_stats[c]
            else:
                merged_stats[c] = [
                    min(merged_stats[c][0], vstats[c][0]),
                    max(merged_stats[c][1], vstats[c][1]),
                ]
    dest = HPath(f"{table_path}/_manifests/{name}")
    if fs.exists(dest):
        # same victim set already compacted (we lost the race): leave
        # the winner alone; our attempt dir ages out via vacuum
        return name
    # consolidated row count: sum of victim counts when all recorded
    # one (zero extra IO), else one metadata-cheap parquet count; a
    # collapse changes the count, so it is always recounted from the
    # written layout (parquet footers only)
    if not collapse_keys and all("rows" in m for m in victims):
        total_rows = sum(int(m["rows"]) for m in victims)
    else:
        total_rows = spark.read.parquet(f"{table_path}/{attempt}").count()
    # bloom sidecars are REBUILT, never OR-folded: victims carry
    # per-batch geometries (m scales with n) and OR-ing saturates the
    # smaller bitmap; the consolidated batch gets a fresh bloom sized
    # to the summed count, built distributed (consolidated attempts
    # outgrow the driver-side loop).  Built only when at least one
    # victim had one (a bloom-disabled table stays bloom-free).
    bloom_cols = [c for c in ("mid", "topic") if c in df.columns]
    if bloom_cols and total_rows > 0 and any(
        fs.exists(HPath(f"{table_path}/{m['dir']}/_bloom.json"))
        for m in victims
    ):
        try:
            from mqtt_message_pump_spark.functions import bloom as B

            specs = B.bloom_build_distributed(
                spark.read.parquet(f"{table_path}/{attempt}").select(
                    *bloom_cols
                ),
                bloom_cols, total_rows,
            )
            B.write_bloom_sidecar(
                lambda payload: _publish_manifest(
                    fs, HPath, f"{table_path}/{attempt}",
                    B.BLOOM_SIDECAR, payload,
                ),
                specs,
            )
        except Exception:
            pass  # absent sidecar = conservatively unprunable
    _publish_manifest(
        fs,
        HPath,
        f"{table_path}/_manifests",
        name,
        json.dumps(
            {
                "kind": "compact",
                "dir": attempt,
                "rows": total_rows,
                # the consolidated frame's schema IS the victims' merged
                # wide schema -- recorded so metadata-only schema
                # resolution (_sink_merged_schema) survives compaction
                "schema": json.loads(df.schema.json()),
                "supersedes": supersedes,
                # manifest-level pruning metadata survives compaction:
                # the consolidated batch's date set is the union of its
                # victims' partitions (read from the written layout, so
                # it is true regardless of what the victims recorded)
                "dates": sorted(
                    p.getPath().getName().split("=", 1)[1]
                    for p in fs.globStatus(
                        HPath(f"{table_path}/{attempt}/collect_date=*")
                    )
                ),
                **({"stats": merged_stats} if merged_stats else {}),
                # audit trail: this consolidation dropped superseded
                # upsert versions (the folded min/max stats are then a
                # SUPERSET interval -- still prune-safe)
                **(
                    {
                        "collapsed": {
                            "keys": list(collapse_keys),
                            **(
                                {"version_col": version_col}
                                if version_col
                                else {}
                            ),
                        }
                    }
                    if collapse_keys
                    else {}
                ),
            },
            sort_keys=True,
        ).encode("utf-8"),
    )
    return name


def snapshot_sink(
    spark: SparkSession,
    table_path: str,
    min_uncovered: int = 2,
    bloom_index: bool = True,
) -> str | None:
    """Fold a manifest sink's LIVE manifest set into one snapshot object
    (the Delta-checkpoint analog) so the read-side listing cost is O(1)
    in committed-batch count: readers open the latest snapshot plus only
    the manifests published SINCE it, instead of one object per batch
    ever committed (:func:`_load_manifest_state`).  At 100 TB a year of
    1-minute micro-batches is ~500k manifest objects -- without this the
    listing, not the data, is the read bottleneck.

    Contrast with :func:`compact_sink`: compaction bounds the number of
    DATA scans by rewriting batches (expensive, data-sized); a snapshot
    bounds the number of MANIFEST opens by re-publishing metadata only
    (cheap, metadata-sized), so it can run every few batches where
    compaction runs on a maintenance cadence.  Production runs both.

    Protocol (safe under the single-writer maintenance contract, and
    crash-safe at every step):

    1. load the live set (snapshot-aware, so snapshots chain);
    2. publish ``s-<seq>-<hash>.json`` embedding every live manifest
       verbatim (atomic single-object publish, seq = prior snapshot's
       + 1, hash over the embedded name set so racing duplicate
       snapshotters converge on one object);
    3. delete the standalone files the new snapshot covers -- readers
       that listed before the delete retry their listing and find the
       snapshot (:class:`_ManifestVanished`); a crash mid-delete leaves
       redundant standalone copies that the loader skips (embed-is-
       current mtime check) and vacuum removes.

    No ``keep_last`` exclusion is needed (unlike compaction): a snapshot
    never rewrites data, so a REPLAY of an embedded batch republishes
    its per-batch manifest pointing at the new attempt dir, and the
    standalone-wins overlay rule swaps the batch atomically -- no
    duplication window exists.

    Returns the snapshot name, or None when fewer than ``min_uncovered``
    live manifests are outside the current snapshot (nothing worth
    folding).  Reference anchor: the single-node txn commit this
    generalizes, ``data_dbstore.go:190-198``.

    ``bloom_index=True`` (default) ALSO folds every live batch's bloom
    sidecar into ONE ``_bloomidx/bloomidx-s<seq>-<hash>.json`` object
    (VERDICT r13 #2): a caught-up point lookup then reads one immutable
    index -- parsed once and cached across statements -- instead of
    opening O(live batches) sidecar files driver-side, which keeps
    lookup planning flat from 1k to 10k batches (``tools/
    bloom_lookup_probe.py``) and MERGE's eq-probe discovery viable at
    10k candidates.  Entries carry the batch's attempt dir, so a batch
    republished or swapped after the fold simply misses the index and
    falls back to its own sidecar -- the index can never serve stale
    bits; batches recorded sidecar-less are kept WITHOUT a probe (a
    later ``backfill_blooms`` becomes visible at the next fold).  The
    index is an accelerator, not a source of truth: publish failure,
    vacuum of old indexes, or a corrupt object all degrade to the
    sidecar path.  This mirrors the MergeTree primary index the bloom
    layer stands in for (``data_dbstore.go:133``) -- one resident
    index object, per-part granularity."""
    import hashlib
    import json

    fs, HPath = _hadoop_fs(spark, table_path)
    if not fs.exists(HPath(f"{table_path}/_manifests")):
        return None
    state = _load_manifest_state(fs, HPath, table_path)
    live = state["live"]
    uncovered = [m for m in live if m["name"] not in state["embedded"]]
    if len(uncovered) < min_uncovered:
        return None
    seq = state["latest_snap_seq"] + 1
    names = sorted(m["name"] for m in live)
    name = (
        f"s-{seq:08d}-"
        + hashlib.md5("|".join(names).encode()).hexdigest()[:12]
        + ".json"
    )
    _publish_manifest(
        fs,
        HPath,
        f"{table_path}/_manifests",
        name,
        json.dumps(
            {"kind": "snapshot", "seq": seq, "manifests": live},
            sort_keys=True,
        ).encode("utf-8"),
    )
    covered = {m["name"] for m in live}
    for st in state["stats"]:
        fname = st.getPath().getName()
        if _snap_seq(fname) is not None or fname not in covered:
            continue
        p = HPath(f"{table_path}/_manifests/{fname}")
        try:
            # skip if republished since our listing (a newer attempt's
            # manifest must survive -- standalone-wins depends on it)
            if (
                fs.getFileStatus(p).getModificationTime()
                != st.getModificationTime()
            ):
                continue
        except Exception:
            continue  # already gone
        fs.delete(p, False)
    if bloom_index:
        _publish_bloom_index(fs, HPath, table_path, seq, live)
    return name


def _publish_bloom_index(
    fs, HPath, table_path: str, seq: int, live: "list[dict]",
    max_bytes: int = 64 * 1024 * 1024,
) -> "str | None":
    """Fold the live batches' bloom sidecars into one index object (see
    :func:`snapshot_sink`); prunes indexes older than the previous seq
    (in-flight readers may hold the previous one -- the same two-deep
    retention snapshots get).  Failure is non-fatal by design: the
    sidecars remain authoritative.

    ``max_bytes`` bounds the embedded bitmap payload (the index is
    built and parsed driver-side as one JSON object): smallest sidecars
    embed first (maximizing covered-batch count), batches past the
    budget are marked ``sidecar: true`` so lookups consult their own
    sidecar -- exactly the pre-index cost, paid only for the largest
    batches, which compaction keeps few."""
    import hashlib
    import json

    from mqtt_message_pump_spark.functions.bloom import (
        BLOOMIDX_DIR,
        _idx_seq,
        load_bloom_sidecar,
    )

    jfs = _JvmFsReader(fs, HPath)
    cand = []
    for m in live:
        if "dir" not in m:
            continue
        specs = load_bloom_sidecar(jfs, table_path, m)
        size = sum(len(s.get("b64", "")) for s in specs.values())
        cand.append((size, m["name"], m["dir"], specs))
    entries = {}
    total = 0
    for size, name, d, specs in sorted(cand, key=lambda t: (t[0], t[1])):
        ent: dict = {"dir": d}
        if specs:
            if total + size <= max_bytes:
                ent["cols"] = specs
                total += size
            else:
                ent["sidecar"] = True  # over budget: consult its own
        entries[name] = ent
    payload = json.dumps(
        {"kind": "bloomidx", "seq": seq, "batches": entries},
        sort_keys=True,
    ).encode("utf-8")
    name = (
        f"bloomidx-s{seq:08d}-"
        + hashlib.md5(payload).hexdigest()[:12]
        + ".json"
    )
    idx_dir = f"{table_path}/{BLOOMIDX_DIR}"
    try:
        _publish_manifest(fs, HPath, idx_dir, name, payload)
        for st in fs.globStatus(HPath(f"{idx_dir}/bloomidx-s*.json")):
            n = st.getPath().getName()
            s = _idx_seq(n)
            if s is not None and s < seq - 1:
                fs.delete(st.getPath(), False)
    except Exception:
        return None  # accelerator only; sidecars still serve
    return name


def drop_dates_sink(
    spark: SparkSession, table_path: str, dates: "list[str]"
) -> list[str]:
    """Retention enforcement on a manifest sink: remove every row whose
    ``collect_date`` is in ``dates``, atomically per batch, with no
    torn-read window -- the GDPR/right-to-erasure shape the reference
    delegates to ClickHouse ``ALTER TABLE DROP PARTITION``
    (``data_dbstore.go`` has no analog; ClickHouse merges do it
    server-side).  Run from the maintenance window (single-writer
    contract, same as compact/vacuum).

    Per live batch (via the ``dates`` pruning stat, so untouched batches
    cost one manifest read and nothing else):

    - batch entirely inside the drop set: publish a ``kind: "drop"``
      tombstone manifest superseding it -- no data rewrite at all, the
      whole batch disappears at one atomic publish;
    - batch straddling the drop set: rewrite the attempt dir WITHOUT the
      dropped date partitions into a fresh attempt and publish it under
      a FRESH manifest name superseding the victim
      (:func:`_rewrite_batch` -> :func:`_swap_batch_manifest` -- one
      new-object publish, no same-name delete->rename listing gap), so
      a concurrent reader sees the old rows or the new ones, never half
      and never neither.

    Data files are only ever deleted later by :func:`vacuum_sink` under
    the retention rule, so in-flight readers finish their scans.
    Returns the names of the manifests republished or tombstoned."""
    fs, HPath = _hadoop_fs(spark, table_path)
    drop = set(dates)
    touched = []
    for m in _read_manifests(fs, HPath, table_path):
        if "dir" not in m:
            # a still-live drop tombstone from a prior retention pass
            # (victims not yet vacuumed): metadata only, nothing to drop
            # -- same filter as read_sink/compact_sink (ADVICE r11: the
            # dir-less fallback below would KeyError and abort the pass)
            continue
        mdates = m.get("dates")
        if mdates is None:
            # pre-stat manifest: derive from the layout (one glob)
            mdates = [
                p.getPath().getName().split("=", 1)[1]
                for p in fs.globStatus(
                    HPath(f"{table_path}/{m['dir']}/collect_date=*")
                )
            ]
        hit = drop & set(mdates)
        if not hit:
            continue
        if not set(mdates) - drop:
            touched.append(_publish_drop(fs, HPath, table_path, [m["name"]]))
            continue
        from pyspark.sql import functions as F

        src = spark.read.parquet(f"{table_path}/{m['dir']}")
        rec = _rewrite_batch(
            spark, fs, HPath, table_path, m,
            src.filter(~F.col("collect_date").isin(sorted(hit))),
            int(m["rows"]) if "rows" in m else src.count(),
            (),
        )
        if rec["kind"] != "clean":
            touched.append(rec["new_name"])
    return touched


def _require_maintenance_window(
    fs, HPath, table_path: str, op: str
) -> None:
    """ENFORCE the maintenance-window contract, not just document it:
    a live foreign writer lease means a stream is appending (and may
    replay-republish the batch being rewritten, resurrecting its
    pre-rewrite rows).  The calling process's own lease (in-line
    maintenance) passes; callers expose ``force=True`` for a quiesced
    writer whose lease has not yet expired.  The lease read survives a
    renewal's delete-then-rename absence window (the ADVICE r11
    class): one delayed re-read outlasts it; a lease GONE on the retry
    means the writer released mid-check -- proceed."""
    lease_path = HPath(f"{table_path}/_writer.json")
    if not fs.exists(lease_path):
        return
    cur = None
    mtime = 0
    for attempt in range(2):
        try:
            cur = _read_json_object(
                fs, HPath, f"{table_path}/_writer.json"
            )
            mtime = fs.getFileStatus(lease_path).getModificationTime()
            break
        except Exception:
            cur = None
            if attempt == 0:
                import time as _t

                _t.sleep(0.2)
            elif fs.exists(lease_path):
                raise WriterFenced(
                    f"sink {table_path}: _writer.json exists but is "
                    f"unreadable; cannot verify the maintenance window "
                    f"for {op} (pass force=True to override)"
                )
    mine = _WRITER_LEASES.get(table_path)
    if cur is not None and (
        mine is None
        or (cur.get("owner"), cur.get("token"))
        != (mine["owner"], mine["token"])
    ):
        age_ms = _fs_now_ms(fs, HPath, table_path) - mtime
        if age_ms <= float(cur.get("lease_secs", 120.0)) * 1000:
            raise WriterFenced(
                f"sink {table_path}: writer {cur.get('owner')} holds "
                f"a live lease (renewed {age_ms / 1000:.0f}s ago); "
                f"{op} requires the maintenance window -- stop the "
                "writer (or pass force=True if it is already quiesced)"
            )


_SWAP_EPOCH_HEX = set("0123456789abcdef")


def _is_swap_epoch(epoch: str) -> bool:
    """EXACTLY the shape :func:`_swap_entry` emits -- ``"u"`` + 10 hex
    chars.  The CDF fold's ride-through rule and the write-side
    namespace guard both use this strict test, so legacy or exotic
    user epochs that merely START with ``u`` (``user1``,
    ``us-east-1``) are neither silently covered nor rejected."""
    return (
        len(epoch) == 11
        and epoch[0] == "u"
        and all(c in _SWAP_EPOCH_HEX for c in epoch[1:])
    )


def _check_epoch_namespace(epoch: "str | None") -> "str | None":
    """Reject user-supplied epochs that collide with the reserved swap
    shape: tails treat such keys as same-rows replacements and may
    ride over them without delivery -- a user lineage there would turn
    a loud TailLost into silent downstream data loss.  Shared by
    :func:`append_batch_manifest` and the native writers."""
    if epoch is not None and _is_swap_epoch(epoch):
        raise ValueError(
            f"epoch {epoch!r} collides with the reserved swap-manifest "
            'namespace ("u" + 10 hex chars, sinks._swap_entry); pick '
            "another prefix -- tails treat swap epochs as replacement "
            "lineages"
        )
    return epoch


def _swap_batch_manifest(
    fs, HPath, table_path: str, victim: dict, payload: dict
) -> str:
    """Atomically replace one live batch with a rewritten attempt by
    publishing ``payload`` under a FRESH manifest name whose
    ``supersedes`` retires the victim -- never a same-name overwrite,
    whose delete->rename gap lets a concurrent reader's listing miss
    the batch entirely (:func:`_publish_manifest` documents that gap
    as acceptable only inside a replay window).

    A per-batch victim gets a new-epoch twin of its own batch id: the
    loader's time-scoped supersede retires the older file, and a
    caught-up CDF cursor marks the twin via the same-rows-replacement
    rule without re-delivering (a lagging cursor delivers the NEW
    content once).  A compact victim gets a fresh compact identity;
    its supersedes fold transitively.  Shared by the row-level DML
    rewrites, :func:`drop_dates_sink` straddlers and
    :func:`restore_sink` resurrections.

    The ``"u" + 10-hex`` epoch shape is RESERVED for these swaps
    (:func:`_is_swap_epoch`; write paths reject colliding user epochs
    via :func:`_check_epoch_namespace`), so ``_tail_delta``'s compact
    fold can recognize a swap lineage and ride through when any member
    of the id's group was delivered."""
    import json

    new_name, payload = _swap_entry(victim, payload)
    _publish_manifest(
        fs, HPath, f"{table_path}/_manifests", new_name,
        json.dumps(payload, sort_keys=True).encode("utf-8"),
    )
    return new_name


def _swap_entry(victim: dict, payload: dict) -> "tuple[str, dict]":
    """The pure half of :func:`_swap_batch_manifest` -- fresh swap name
    plus payload mutations (reserved ``"u"`` epoch / compact identity /
    folded supersedes), NO publish; :func:`restore_sink` embeds these
    entries directly inside its one-object snapshot."""
    import uuid

    name = payload.pop("name", None) or victim["name"]
    key = _batch_name_key(name)
    if key is not None:
        swap_epoch = "u" + uuid.uuid4().hex[:10]
        new_name = f"b{swap_epoch}-{key[1]}.json"
        payload["epoch"] = swap_epoch
    else:
        new_name = "c-" + uuid.uuid4().hex[:12] + ".json"
        payload.setdefault("kind", "compact")
    payload["supersedes"] = sorted(
        {name} | set(victim.get("supersedes", []))
    )
    return new_name, payload


def _publish_drop(fs, HPath, table_path: str, victims: "list[str]") -> str:
    """Retire ``victims`` at one atomic publish: a dir-less
    ``kind: "drop"`` tombstone manifest superseding them, zero data IO
    (:func:`vacuum_sink` reclaims their attempt dirs later).  Returns
    the tombstone's name."""
    import json
    import uuid

    tomb = f"d-{uuid.uuid4().hex[:12]}.json"
    _publish_manifest(
        fs, HPath, f"{table_path}/_manifests", tomb,
        json.dumps(
            {"kind": "drop", "supersedes": sorted(victims)}, sort_keys=True
        ).encode("utf-8"),
    )
    return tomb


def _pad_to_schema(frame: DataFrame, schema) -> DataFrame:
    """``frame`` plus every ``schema`` field it lacks as a typed NULL
    column: how a batch written before the sink widened evaluates
    predicates and SETs over sink-wide columns (SQL semantics -- the
    column exists table-wide, old rows hold NULL)."""
    from pyspark.sql import functions as F

    have = set(frame.columns)
    missing = [f for f in schema.fields if f.name not in have]
    if not missing:
        return frame  # uniform sinks keep the plain scan plan
    return frame.select(
        "*", *[F.lit(None).cast(f.dataType).alias(f.name) for f in missing]
    )


def _fan_out(spark: SparkSession, fn, items: list) -> list:
    """``[fn(x) for x in items]`` on a bounded driver thread pool,
    results in input order so summaries are deterministic.  Each call
    is an independent Spark job plus at most one fresh-name manifest
    publish, so threads never contend on an object.  The bound is the
    session's ``defaultParallelism`` (the host's task slots): more
    concurrent rewrite jobs would only queue for the same slots.  A
    failure propagates once the started calls finish and the queued
    ones are cancelled: batches already swapped stay committed, the
    rest untouched -- the per-batch resume contract."""
    workers = min(len(items), spark.sparkContext.defaultParallelism)
    if workers <= 1:
        return [fn(x) for x in items]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=workers) as pool:
        return list(pool.map(fn, items))


def _rewrite_batch(
    spark: SparkSession,
    fs,
    HPath,
    table_path: str,
    victim: dict,
    new_df: DataFrame,
    total: int,
    set_cols,
    hits=None,
) -> dict:
    """Copy-on-write one live batch: write ``new_df``, the rows that
    replace ``victim`` (``total`` rows), into a fresh attempt dir and
    publish what the WRITTEN counts decide:

    - no rows left: a drop tombstone (:func:`_publish_drop`);
    - every row kept and none hit (``hits`` is the ``Observation`` whose
      metrics count the rows this write changed): the rewrite changed
      nothing, so the attempt is discarded and the batch is ``clean``;
    - otherwise a fresh-name swap (:func:`_swap_batch_manifest`) whose
      payload describes the written layout -- ``dir``/``files``/
      ``dates`` from the listing, ``rows`` from the parquet footers, the
      written ``schema`` (a SET may add a column) -- with the
      ``set_cols`` min/max stats dropped (their intervals no longer
      bound the data; a removal only narrows, so the rest stay
      prune-safe) and the bloom sidecar rebuilt when the victim had one.

    Counting the written layout, never a separate probe, keeps the
    manifest truthful under a non-deterministic predicate (the reason
    Delta/Iceberg materialize their matched-file lists).  Returns
    ``{"kind": "clean" | "dropped" | "swapped", "victim", "new_name"
    (the tombstone or swap manifest), "rows_deleted", "hits"}``."""
    import json
    import uuid

    attempt = f"_data/u-{uuid.uuid4().hex[:8]}"
    (
        new_df.repartition("collect_date")
        .write.mode("overwrite")
        .partitionBy("collect_date")
        .parquet(f"{table_path}/{attempt}")
    )
    files = sorted(
        f"{attempt}/{p.getPath().getParent().getName()}/"
        f"{p.getPath().getName()}"
        for p in fs.globStatus(
            HPath(f"{table_path}/{attempt}/collect_date=*/*")
        )
        if not p.getPath().getName().startswith(("_", "."))
    )
    rows_new = (
        int(spark.read.parquet(f"{table_path}/{attempt}").count())
        if files
        else 0
    )
    n_hits = (
        {k: int(v or 0) for k, v in hits.get.items()}
        if hits is not None
        else {}
    )
    name = victim["name"]
    if rows_new == total and not any(n_hits.values()):
        fs.delete(HPath(f"{table_path}/{attempt}"), True)
        return {"kind": "clean"}
    if rows_new == 0:
        fs.delete(HPath(f"{table_path}/{attempt}"), True)
        return {
            "kind": "dropped", "victim": name,
            "new_name": _publish_drop(fs, HPath, table_path, [name]),
            "rows_deleted": total, "hits": n_hits,
        }
    payload = dict(victim)
    payload.pop("ts", None)
    payload.update(
        {
            "dir": attempt,
            "files": files,
            "dates": sorted(
                {f.split("collect_date=")[1].split("/")[0] for f in files}
            ),
            "rows": rows_new,
            "schema": json.loads(new_df.schema.json()),
        }
    )
    # a fresh dict, never an in-place pop: the victim's nested stats may
    # be shared with the parsed-snapshot cache (_SNAP_CACHE)
    stats = {
        c: s
        for c, s in (payload.pop("stats", None) or {}).items()
        if c not in set_cols
    }
    if stats:
        payload["stats"] = stats
    if fs.exists(HPath(f"{table_path}/{victim['dir']}/_bloom.json")):
        _write_batch_bloom(
            spark, fs, HPath, table_path, attempt, files, new_df, rows_new,
        )
    return {
        "kind": "swapped", "victim": name,
        "new_name": _swap_batch_manifest(
            fs, HPath, table_path, victim, payload
        ),
        "rows_deleted": total - rows_new, "hits": n_hits,
    }


def _dml_predicate(
    where: "str | None",
    eq: "dict[str, object] | None",
    dates: "list[str] | None",
    ranges: "dict[str, tuple[object, object]] | None",
):
    """Row predicate for the DML rewrites: AND of the structured specs
    (which double as manifest-pruning hints) and the free ``where``
    SQL expression.  At least one spec is required -- an unconstrained
    DELETE is almost always a bug; spell it ``where="true"``."""
    from pyspark.sql import functions as F

    parts = []
    if dates is not None:
        parts.append(F.col("collect_date").isin(sorted(set(dates))))
    if ranges is not None:
        for c, (lo, hi) in ranges.items():
            if lo is not None:
                parts.append(F.col(c) >= F.lit(lo))
            if hi is not None:
                parts.append(F.col(c) <= F.lit(hi))
    if eq is not None:
        for c, vals in eq.items():
            vs = (
                list(vals)
                if isinstance(vals, (list, tuple, set))
                else [vals]
            )
            parts.append(F.col(c).isin(vs))
    if where is not None:
        parts.append(F.expr(where))
    if not parts:
        raise ValueError(
            "row-level DML requires at least one of where/eq/dates/"
            'ranges (an unconditional pass is where="true")'
        )
    pred = parts[0]
    for p in parts[1:]:
        pred = pred & p
    return pred


# candidate count above which _dml_sink counts every candidate's
# matches in ONE union job instead of one count() job per batch: below
# it the per-batch jobs are few, above it they dominate a point
# statement (bloom false positives grow as fpp x N)
_PROBE_UNION_MIN = 16


def _dml_sink(
    spark: SparkSession,
    table_path: str,
    where: "str | None",
    eq: "dict[str, object] | None",
    dates: "list[str] | None",
    ranges: "dict[str, tuple[object, object]] | None",
    set_exprs: "dict[str, str] | None",
    force: bool = False,
) -> dict:
    """Shared core of :func:`delete_sink_where` /
    :func:`update_sink_where` -- copy-on-write at BATCH granularity,
    the Delta/Iceberg DML shape reduced to this sink's manifest
    protocol:

    1. prune: only batches whose manifest stats / bloom sidecars say
       they MIGHT contain matching rows are even read
       (:func:`_prune_batches` -- the same skipping the read path
       uses, so a point delete on a year of batches rewrites O(matching
       batches), not O(all));
    2. per candidate batch, count actual matches (predicate pushed into
       the scan); zero matches -> untouched (bloom false positives cost
       one cheap probe scan, never a rewrite);
    3. DELETE with every row matching -> publish a dir-less ``drop``
       tombstone superseding the batch (:func:`_publish_drop`, no data
       IO at all); otherwise rewrite the surviving/updated rows through
       :func:`_rewrite_batch` -- the identical move :func:`merge_sink`
       and :func:`drop_dates_sink` straddlers use: a fresh attempt dir
       published under a FRESH manifest name that supersedes the victim
       (:func:`_swap_batch_manifest` -- a single new-object publish, so
       concurrent readers see old rows or new, never half and never
       neither).  Candidates probe and rewrite concurrently
       (:func:`_fan_out`).

    Change-data-feed / tail semantics: the swap manifest lists the
    victim's batch key in its ``supersedes``, so a caught-up cursor
    marks it via the same-rows-replacement rule and rewritten rows are
    NEVER re-delivered downstream (a lagging cursor delivers the
    post-DML content once); rows already delivered are not retracted
    (append-only CDF, documented on :func:`read_sink_since`).  Pinned
    ``as_of`` snapshots keep seeing the pre-DML rows until their
    attempt dirs age out of vacuum retention -- deletion becomes
    PHYSICAL at ``vacuum_sink``, the GDPR erasure horizon.  Run from
    the maintenance window (single writer, stream quiesced: a replay
    republish of the newest batch would resurrect its pre-DML rows),
    the same contract as compact/vacuum/drop_dates.

    Failure atomicity is per batch: an abort mid-pass leaves every
    already-swapped batch committed and the rest untouched -- re-run
    the same statement to finish (DELETE re-runs are no-ops on swapped
    batches; UPDATE re-runs are no-ops when the SET makes the predicate
    false, else apply-twice -- use self-falsifying predicates for
    non-idempotent SETs)."""
    from pyspark.sql import functions as F

    fs, HPath = _hadoop_fs(spark, table_path)
    if not fs.exists(HPath(f"{table_path}/_manifests")):
        raise ValueError(
            f"{table_path} is not a manifest sink; row-level DML "
            "requires the manifest commit protocol"
        )
    if not force:
        _require_maintenance_window(fs, HPath, table_path, "row-level DML")
    pred = _dml_predicate(where, eq, dates, ranges)
    hit = F.coalesce(pred, F.lit(False))  # NULL predicate keeps the row
    live = [
        m for m in _read_manifests(fs, HPath, table_path) if "dir" in m
    ]
    cands = _prune_batches(
        live,
        dates=dates,
        ranges=ranges,
        eq=eq,
        jfs=_JvmFsReader(fs, HPath) if eq is not None else None,
        table_path=table_path,
    )
    out = {
        "live_batches": len(live),
        "candidate_batches": len(cands),
        "probed_clean": 0,
        "rewritten": [],
        "dropped": [],
        "rows_deleted": 0,
        "rows_updated": 0,
        "swapped": {},
    }
    if set_exprs is not None and "collect_date" in set_exprs:
        raise ValueError(
            "cannot UPDATE the partition column collect_date; "
            "delete + re-append to move rows across partitions"
        )
    import threading

    target_schema = None  # sink-wide widened schema, computed on demand
    _ts_lock = threading.Lock()  # once, even across _fan_out's threads

    def _sink_schema():
        # lazy: uniform sinks never compute the merged schema; resolved
        # from the manifests' recorded schemas when available --
        # metadata only, no N-frame union analysis
        nonlocal target_schema
        with _ts_lock:
            if target_schema is None:
                target_schema = _sink_merged_schema(spark, table_path, live)
        return target_schema

    def _dml_one(m: dict, pre_match: "int | None" = None) -> dict:
        src = spark.read.option("mergeSchema", "true").parquet(
            f"{table_path}/{m['dir']}"
        )
        # schema-evolution seam: a predicate (or SET) may reference a
        # column this pre-widening batch lacks.  SQL semantics: the
        # column exists table-wide, old rows hold NULL -- pad missing
        # sink columns as typed NULLs for EVALUATION (pred NULL keeps
        # the row), computed lazily so uniform sinks pay nothing.  A
        # column absent from the whole sink still fails loudly below.
        eval_df = src
        n_match = None
        if pre_match is not None:
            # the batched union probe already counted this batch's
            # matches in ONE job; only the pad decision remains (an
            # analysis-time check, no job).  Pad exactly when the
            # per-batch path would have: a SET column this batch
            # physically lacks, or a predicate that cannot resolve
            need_pad = set_exprs is not None and any(
                c not in src.columns for c in set_exprs
            )
            if not need_pad:
                try:
                    eval_df.filter(hit).columns
                except Exception:
                    need_pad = True
            if need_pad:
                eval_df = _pad_to_schema(src, _sink_schema())
            n_match = pre_match
        elif set_exprs is None or all(
            c in src.columns for c in set_exprs
        ):
            try:
                n_match = eval_df.filter(hit).count()
            except Exception:
                n_match = None  # pred references a widened column
        if n_match is None:
            eval_df = _pad_to_schema(src, _sink_schema())
            n_match = eval_df.filter(hit).count()
        if set_exprs is not None:
            bad = [c for c in set_exprs if c not in eval_df.columns]
            if bad:
                raise ValueError(f"SET columns not in sink schema: {bad}")
        if n_match == 0:
            return {"kind": "clean"}
        total = int(m["rows"]) if "rows" in m else src.count()
        upd_obs = None
        if set_exprs is None:
            if n_match == total:
                # whole batch gone: tombstone, zero data IO
                return {
                    "kind": "dropped", "victim": m["name"],
                    "rows_deleted": total,
                    "new_name": _publish_drop(
                        fs, HPath, table_path, [m["name"]]
                    ),
                }
            # write back the batch's ORIGINAL physical columns/types:
            # a delete must never silently widen a batch's schema
            new_df = eval_df.filter(~hit).select(*src.columns)
        else:
            # SQL UPDATE semantics: every SET expression is evaluated
            # against the ORIGINAL row (one select, no sequencing).
            # SET on a column this batch lacks physically ADDS it to
            # the rewritten batch (NULL where the predicate missed) --
            # managed schema evolution, the merge read handles it.
            out_cols = list(src.columns) + [
                c for c in set_exprs if c not in src.columns
            ]

            def _updated(frame):
                return frame.select(
                    *[
                        (
                            F.when(hit, F.expr(set_exprs[c]))
                            .otherwise(F.col(c))
                            .alias(c)
                            if c in set_exprs
                            else F.col(c)
                        )
                        for c in out_cols
                    ],
                    hit.cast("long").alias("__dml_hit"),
                )

            try:
                new_df = _updated(eval_df)
            except Exception:
                # a SET expression (not its target) references a column
                # this batch lacks: evaluate over the padded frame --
                # the missing input is NULL for every row, SQL semantics
                eval_df = _pad_to_schema(eval_df, _sink_schema())
                new_df = _updated(eval_df)
            # exact updated-row count observed on the WRITE itself: the
            # probe's n_match is a separate evaluation and may disagree
            # under a non-deterministic predicate -- the reported count
            # must describe the committed rewrite, like the rows stat
            from pyspark.sql import Observation

            upd_obs = Observation()
            new_df = new_df.observe(
                upd_obs, F.sum("__dml_hit").alias("n_hit")
            ).drop("__dml_hit")
        return _rewrite_batch(
            spark, fs, HPath, table_path, m, new_df, total,
            set_exprs or (), upd_obs,
        )

    # Batched probe (many candidates): at 10k batches a point predicate
    # leaves ~fpp x N bloom false positives here, and probing each with
    # its own count() job is N driver-scheduled jobs.  One union over
    # recorded-schema frames (cheap construction, SCALE 10h) counts
    # every candidate's matches in ONE job; only matching batches enter
    # the rewrite pool.  Falls back to per-batch probing when any
    # candidate predates recorded schemas, or when the predicate cannot
    # resolve even against the sink-wide schema (the per-batch path
    # raises the loud sink-wide error).
    pre: "dict[str, int] | None" = None
    batched_ok = len(cands) > _PROBE_UNION_MIN and all(
        m.get("schema") for m in cands
    )
    if batched_ok:
        from functools import reduce as _reduce

        from pyspark.sql import types as T

        schema = _sink_schema()
        if set_exprs is not None:
            # skipped-clean batches never reach _dml_one's per-batch
            # check, so the sink-wide SET validation must happen here
            names = {f.name for f in schema.fields}
            bad = [c for c in set_exprs if c not in names]
            if bad:
                raise ValueError(
                    f"SET columns not in sink schema: {bad}"
                )
        try:
            pframes = [
                _pad_to_schema(
                    spark.read.schema(
                        T.StructType.fromJson(m["schema"])
                    ).parquet(f"{table_path}/{m['dir']}"),
                    schema,
                ).select(
                    F.lit(m["name"]).alias("__mname"),
                    hit.cast("long").alias("__h"),
                )
                for m in cands
            ]
            u = _reduce(lambda a, b: a.unionByName(b), pframes)
            pre = {
                r["__mname"]: int(r["n"] or 0)
                for r in u.groupBy("__mname")
                .agg(F.sum("__h").alias("n"))
                .collect()
            }
        except Exception:
            pre = None  # unresolvable pred/SET: per-batch path reports

    # only batches the batched probe saw matching (or every candidate
    # without it) reach _dml_one; the rest are clean
    if pre is not None:
        todo = [m for m in cands if pre.get(m["name"], 0) > 0]
    else:
        todo = cands
    recs = _fan_out(
        spark,
        lambda m: _dml_one(
            m, pre_match=None if pre is None else pre[m["name"]]
        ),
        todo,
    )
    ran = {m["name"]: rec for m, rec in zip(todo, recs)}
    for m in cands:
        rec = ran.get(m["name"], {"kind": "clean"})
        if rec["kind"] == "clean":
            out["probed_clean"] += 1
        elif rec["kind"] == "dropped":
            out["dropped"].append(rec["victim"])
            out["rows_deleted"] += rec["rows_deleted"]
        else:
            out["rewritten"].append(rec["new_name"])
            out["swapped"][rec["victim"]] = rec["new_name"]
            out["rows_deleted"] += rec["rows_deleted"]
            out["rows_updated"] += rec["hits"].get("n_hit", 0)
    return out


def delete_sink_where(
    spark: SparkSession,
    table_path: str,
    where: "str | None" = None,
    eq: "dict[str, object] | None" = None,
    dates: "list[str] | None" = None,
    ranges: "dict[str, tuple[object, object]] | None" = None,
    force: bool = False,
) -> dict:
    """Row-level DELETE on a manifest sink (``DELETE FROM t WHERE
    ...``): remove every row matching the predicate, atomically per
    batch, touching only batches the manifest stats / bloom sidecars
    cannot rule out -- the right-to-erasure shape at 100 TB, where a
    point delete must cost O(matching batches).  The reference
    delegates this surface to ClickHouse (``ALTER TABLE ... DELETE``,
    lightweight-delete mutations); here it is the copy-on-write rewrite
    every manifest-table design uses (Delta/Iceberg DELETE).

    Predicate = AND of the structured specs -- ``eq={col: v_or_list}``,
    ``dates=[...]``, ``ranges={col: (lo, hi)}``, each ALSO used to
    prune candidate batches -- and the free ``where`` SQL expression
    (evaluated per row; NULL keeps the row, SQL DELETE semantics).

    Returns a summary dict: candidate/pruned batch counts, manifests
    rewritten or tombstoned, and ``rows_deleted``.  The maintenance
    window is ENFORCED: a live foreign writer lease raises
    :class:`WriterFenced` (``force=True`` overrides for a quiesced
    writer whose lease has not yet expired); CDF/pin semantics are
    documented on :func:`_dml_sink`."""
    return _dml_sink(
        spark, table_path, where, eq, dates, ranges, None, force=force,
    )


def update_sink_where(
    spark: SparkSession,
    table_path: str,
    set: "dict[str, str]",
    where: "str | None" = None,
    eq: "dict[str, object] | None" = None,
    dates: "list[str] | None" = None,
    ranges: "dict[str, tuple[object, object]] | None" = None,
    force: bool = False,
) -> dict:
    """Row-level UPDATE on a manifest sink (``UPDATE t SET col = expr
    WHERE ...``): ``set`` maps column name -> SQL expression, every
    expression evaluated against the ORIGINAL row (standard UPDATE
    sequencing); rows where the predicate is NULL are untouched.  The
    partition column ``collect_date`` cannot be SET (that is a delete +
    re-append).  Batch pruning, atomic per-batch swap, stats/bloom
    maintenance and the maintenance-window contract are shared with
    :func:`delete_sink_where` (see :func:`_dml_sink`); updated columns'
    min/max stats are dropped from the rewritten manifest rather than
    left stale.  Returns the summary dict with ``rows_updated``."""
    if not set:
        raise ValueError("update_sink_where requires a non-empty set")
    return _dml_sink(
        spark, table_path, where, eq, dates, ranges, set, force=force,
    )


def _scan_key_files(
    spark: SparkSession,
    table_path: str,
    cands: "list[dict]",
    on: "list[str]",
    key_struct,
):
    """Candidate-key discovery as ONE flat job: a DataFrame of the
    candidate batches' (manifest name, file) pairs is mapInPandas-
    scanned -- each task reads ONLY the key columns of its files via
    pyarrow (the no-JVM ``_fsio`` seam, so s3://hdfs:// work exactly as
    in the native source) and emits the file's DISTINCT non-null key
    tuples tagged with the batch name.  Versus a per-candidate frame
    union this reads the same bytes but costs one plan instead of an
    N-child union Catalyst must analyze (measured 185 s at 1491
    candidates, ~10 s flat); eligibility (recorded key types match the
    target) is checked by the caller, so a type surprise cannot reach
    task time."""
    from pyspark.sql import types as T

    files = [
        (m["name"], f) for m in cands for f in (m.get("files") or [])
    ]
    out_schema = T.StructType(
        list(key_struct.fields)
        + [T.StructField("__mname", T.StringType(), False)]
    )
    slots = max(
        1, min(len(files), spark.sparkContext.defaultParallelism * 2)
    )
    fdf = spark.createDataFrame(
        files, "mname string, rel string"
    ).repartition(slots)
    cols = list(on)
    tp = table_path

    def _scan(batches):
        import datetime

        import pyarrow as pa

        from mqtt_message_pump_spark.sources._fsio import fs_for

        fs, root = fs_for(tp)
        for pdf in batches:
            for mname, rel in zip(pdf["mname"], pdf["rel"]):
                tbl = fs.read_parquet_columns(f"{root}/{rel}", cols)
                if (
                    "collect_date" in cols
                    and "collect_date" not in tbl.column_names
                    and "collect_date=" in rel
                ):
                    # the partition column lives in the PATH, not the
                    # file (exactly as read_files_arrow reattaches it)
                    val = rel.split("collect_date=")[1].split("/")[0]
                    try:
                        d = datetime.date.fromisoformat(val)
                    except ValueError:
                        d = None
                    tbl = tbl.append_column(
                        "collect_date",
                        pa.array([d] * len(tbl), type=pa.date32()),
                    )
                if any(c not in tbl.column_names for c in cols):
                    continue  # pre-key file: NULL keys never match
                # null-drop IN ARROW: .to_pandas() on a nullable int64
                # degrades to float64 (precision loss above 2^53) --
                # dropping nulls first keeps integer keys exact
                kdf = (
                    tbl.select(cols)
                    .drop_null()
                    .to_pandas()
                    .drop_duplicates()
                )
                if not len(kdf):
                    continue
                kdf["__mname"] = mname
                yield kdf

    return fdf.mapInPandas(_scan, out_schema)


def _sink_merged_schema(
    spark: SparkSession, table_path: str, live: "list[dict]"
):
    """The sink-wide widened schema WITHOUT building a scan plan: every
    batch manifest records its exact write schema (since the widening
    lattice landed), so folding those through :func:`_widen_struct` is
    pure metadata -- at 1k+ batches this is the difference between
    milliseconds and analyzing a 1k-frame union just to read
    ``.schema`` (the cost :func:`merge_sink` would otherwise pay per
    statement).  Falls back to the plan-derived schema when any live
    manifest predates the recorded-schema field (parquet footers stay
    authoritative there).  Returns None for an empty sink."""
    if not live:
        return None
    from functools import reduce

    from pyspark.sql import types as T

    recorded = [m.get("schema") for m in live]
    if all(s is not None for s in recorded):
        return reduce(
            _widen_struct,
            [T.StructType.fromJson(s) for s in recorded],
        )
    return read_sink(spark, table_path, merge_schema=True).schema


# MERGE candidate discovery.  A source with at most _PROBE_KEYS_LIMIT
# distinct values per ON column is collected and probed through the
# manifest stats / bloom sidecars like read_sink(eq=...); a larger one
# scans the date-pruned batches' key columns.  That scan is a
# per-batch frame union up to _SCAN_UNION_MAX candidates and one flat
# mapInPandas job over the candidates' files past it, where Catalyst's
# analysis of an N-child union dominates (SCALE 10h).
_PROBE_KEYS_LIMIT = 256
_SCAN_UNION_MAX = 64


def merge_sink(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: "list[str]",
    when_matched: "str | dict[str, str] | None" = "update",
    matched_where: "str | None" = None,
    when_not_matched: "str | None" = "insert",
    when_not_matched_by_source: "str | None" = None,
    not_matched_by_source_where: "str | None" = None,
    dates: "list[str] | None" = None,
    store: "StoreConf | None" = None,
    merge_id: "str | None" = None,
    force: bool = False,
) -> dict:
    """``MERGE INTO`` on a manifest sink -- the third leg of the DML
    triad (:func:`delete_sink_where` / :func:`update_sink_where`
    handle the WHERE-driven forms; MERGE is the SOURCE-driven form:
    apply a change set to the target by key).  Same shape as Delta's
    ``MERGE INTO target USING source ON keys``, reduced to this sink's
    manifest protocol; the reference delegates upserts to ClickHouse's
    ReplacingMergeTree (``data_dbstore.go:109-133``), whose lazy
    collapse this sink already mirrors (:func:`collapse_latest`) --
    MERGE is the EAGER alternative: state converges at write time, so
    readers need no FINAL/collapse pass and no version column.

    Clauses (each optional, at least one required):

    - ``when_matched="update"`` -- matched target rows take the source
      row's value for every shared non-key column (``collect_date``
      excluded: the partition column is immutable under in-place DML,
      as in :func:`update_sink_where`).
    - ``when_matched="delete"`` -- matched target rows are removed.
    - ``when_matched={col: sql_expr}`` -- explicit SET; expressions see
      target columns by name and source columns as ``s_<name>``
      (``{"value": "value + s_delta"}``).  Keys/partition column cannot
      be SET.
    - ``matched_where`` -- extra SQL predicate gating the matched
      clause (sees the same namespace); a matched row failing it is
      left unchanged but still counts as matched for insert purposes
      (the ON condition alone decides NOT MATCHED, as in SQL MERGE).
    - ``when_not_matched="insert"`` -- source rows matching no target
      key are appended as ONE new batch (columns aligned by name to
      the sink schema, missing columns NULL-filled; source columns
      absent from the sink are rejected loudly -- widen the sink by a
      managed append first).
    - ``when_not_matched_by_source="delete"`` or ``{col: sql_expr}``
      (+ optional ``not_matched_by_source_where``, both over TARGET
      columns only -- an unmatched row has no source side) -- target
      rows matching no source key are removed, or SET (the SCD
      stale-marking shape: ``{"active": "false"}``); either makes
      EVERY live batch a rewrite candidate, so expect a full-table
      pass.

    Scale shape (the Delta/Iceberg MERGE plan, at manifest
    granularity):

    1. the source is materialized ONCE (``localCheckpoint``) so every
       phase sees identical rows even for non-deterministic sources --
       the same reason Delta materializes its merge source;
    2. candidate discovery scans ONLY the key columns of batches the
       manifest stats / bloom sidecars cannot rule out (when the
       source's distinct key values fit ``_PROBE_KEYS_LIMIT`` they are
       collected and probed exactly like ``read_sink(eq=...)``; a
       larger change set falls back to scanning all date-pruned
       batches' key columns -- one column-pruned join, no data columns
       read);  the join is EXACT, so bloom false positives never cause
       a rewrite (``probed_clean`` reports them);
    3. each touched batch is rewritten and atomically swapped via a
       fresh supersede manifest (:func:`_swap_batch_manifest` -- the
       identical move the other DML forms use: concurrent readers see
       old rows or new, never half), all-matched DELETEs degrade to
       drop tombstones, stats for SET columns are dropped and
       bloom sidecars rebuilt (:func:`_rewrite_batch`, shared with the
       other DML forms); rewrites run CONCURRENTLY (:func:`_fan_out`,
       each an independent job + fresh-name publish -- per-batch
       atomicity is unchanged);
    4. inserts append LAST as one ordinary batch whose key derives
       from ``merge_id`` (``epoch="mrg"+md5(merge_id)``), so a re-run
       of the SAME logical merge republish-swaps rather than
       duplicates -- with ``when_matched="update"`` (or SET
       expressions reading only ``s_`` columns) the whole statement is
       idempotent under re-run: updates re-apply to the same values
       and previously-inserted keys are matched, leaving the insert
       batch untouched.  Give each DISTINCT logical merge its own
       ``merge_id``.

    ``dates`` scopes the WHOLE statement to those partitions (the
    Delta partition-scoped-merge idiom of putting partition predicates
    in ON): batches outside are neither read nor rewritten, and keys
    living only outside the scope are treated as absent -- asserting
    that is the caller's contract, exactly as with a partition
    predicate in a SQL MERGE's ON clause.

    A target row matched by MULTIPLE source rows raises (the SQL MERGE
    cardinality rule -- the rewrite would be non-deterministic);
    duplicate source keys that match nothing insert as-is.  The
    maintenance-window contract, CDF/tail ride-through of the swaps,
    pinned-read and erasure-horizon semantics are all shared with
    :func:`_dml_sink`.  Returns a summary dict (batch counts, per-kind
    row counts, the swap map and the insert manifest key)."""
    import uuid
    from functools import reduce

    from pyspark.sql import functions as F

    on = list(on)
    if not on:
        raise ValueError("merge_sink requires at least one ON key column")
    missing_src = [c for c in on if c not in source.columns]
    if missing_src:
        raise ValueError(f"ON columns not in source: {missing_src}")
    set_map: "dict[str, str] | None" = None
    if isinstance(when_matched, dict):
        if not when_matched:
            raise ValueError("when_matched dict must be non-empty")
        set_map = dict(when_matched)
    elif when_matched not in ("update", "delete", None):
        raise ValueError(
            "when_matched must be 'update', 'delete', a {col: expr} "
            f"dict or None, got {when_matched!r}"
        )
    if when_not_matched not in ("insert", None):
        raise ValueError(
            f"when_not_matched must be 'insert' or None, got "
            f"{when_not_matched!r}"
        )
    bs_set: "dict[str, str] | None" = None
    if isinstance(when_not_matched_by_source, dict):
        if not when_not_matched_by_source:
            raise ValueError(
                "when_not_matched_by_source dict must be non-empty"
            )
        bs_set = dict(when_not_matched_by_source)
    elif when_not_matched_by_source not in ("delete", None):
        raise ValueError(
            "when_not_matched_by_source must be 'delete', a {col: expr} "
            f"dict or None, got {when_not_matched_by_source!r}"
        )
    if when_matched is None and when_not_matched is None and (
        when_not_matched_by_source is None
    ):
        raise ValueError("merge_sink: no clause given, nothing to do")
    if matched_where is not None and when_matched is None:
        raise ValueError("matched_where requires a when_matched clause")
    if (
        not_matched_by_source_where is not None
        and when_not_matched_by_source is None
    ):
        raise ValueError(
            "not_matched_by_source_where requires "
            "when_not_matched_by_source"
        )
    if when_not_matched == "insert" and (
        "collect_date" not in source.columns
    ):
        raise ValueError(
            "insert source must carry the collect_date partition "
            "column (or pass when_not_matched=None)"
        )
    bad_set = [
        c
        for c in list(set_map or {}) + list(bs_set or {})
        if c in on or c == "collect_date"
    ]
    if bad_set:
        raise ValueError(
            f"cannot SET key/partition columns: {bad_set}; keys are "
            "equal by the join and collect_date moves are delete + "
            "re-append"
        )
    fs, HPath = _hadoop_fs(spark, table_path)
    if not fs.exists(HPath(f"{table_path}/_manifests")):
        # a path holding DATA without manifests is some other layout
        # (rename-protocol sink, plain parquet) -- refuse; an absent
        # path, or one holding only underscore/dot artifacts (a writer
        # lease published ahead of the first batch), is a fresh target
        # the insert clause bootstraps (the CDC-apply first micro-batch)
        if fs.exists(HPath(table_path)) and any(
            not e.getPath().getName().startswith(("_", "."))
            for e in fs.listStatus(HPath(table_path))
        ):
            raise ValueError(
                f"{table_path} is not a manifest sink; MERGE requires "
                "the manifest commit protocol"
            )
        if when_not_matched != "insert":
            raise ValueError(
                f"{table_path} has no committed batches and "
                "when_not_matched is not 'insert'; nothing to merge into"
            )
    if not force:
        _require_maintenance_window(fs, HPath, table_path, "MERGE")
    # materialize the source ONCE: discovery, per-batch rewrites and the
    # insert anti-join must all see the same rows (Delta's
    # materializeSource rationale)
    src = source.localCheckpoint(eager=True)
    live = [
        m for m in _read_manifests(fs, HPath, table_path) if "dir" in m
    ]
    out = {
        "live_batches": len(live),
        "candidate_batches": 0,
        "touched_batches": 0,
        "probed_clean": 0,
        "unchanged_batches": 0,
        "rewritten": [],
        "dropped": [],
        "swapped": {},
        "rows_updated": 0,
        "rows_updated_by_source": 0,
        "rows_deleted": 0,
        "rows_inserted": 0,
        "insert_manifest": None,
    }
    reader = spark.read.option("mergeSchema", "true")
    target_schema = _sink_merged_schema(spark, table_path, live)
    target_names = (
        {f.name for f in target_schema.fields} if target_schema else set()
    )
    if live:
        bad_on = [c for c in on if c not in target_names]
        if bad_on:
            raise ValueError(f"ON columns not in sink schema: {bad_on}")
        if set_map:
            bad = [c for c in set_map if c not in target_names]
            if bad:
                raise ValueError(f"SET columns not in sink schema: {bad}")
        if bs_set:
            bad = [c for c in bs_set if c not in target_names]
            if bad:
                raise ValueError(
                    f"by-source SET columns not in sink schema: {bad}"
                )
        # a string-vs-non-string ON key would let the engine coerce the
        # JOIN while the stringified bloom/stat probes silently disagree
        # with it -- matched rows would look unmatched and re-insert.
        # Numeric-width differences stringify identically; only the
        # cross-family case is unsafe, so only it is rejected.
        from pyspark.sql import types as T

        t_by_name = {f.name: f.dataType for f in target_schema.fields}
        s_by_name = {f.name: f.dataType for f in src.schema.fields}
        for c in on:
            ts, ss = t_by_name[c], s_by_name[c]
            if isinstance(ts, T.StringType) != isinstance(
                ss, T.StringType
            ):
                raise ValueError(
                    f"ON column {c!r} is {ss.simpleString()} in the "
                    f"source but {ts.simpleString()} in the sink; cast "
                    "the source key to the sink's type (a coerced join "
                    "would disagree with the manifest stat/bloom probes)"
                )
    # the per-batch rewrite join carries source VALUES (s_<col> columns)
    # only when a clause consumes them -- SET expressions or a
    # matched_where; a delete/by-source-only merge joins on DISTINCT
    # KEYS, so duplicate source keys cannot fan matched rows out and no
    # s_ namespace exists to clash with
    needs_source_values = (
        set_map is not None
        or when_matched == "update"
        or matched_where is not None
    )
    s_names = {f"s_{c}" for c in src.columns if c not in on}
    clash = sorted(s_names & target_names)
    if clash and needs_source_values:
        raise ValueError(
            f"target columns {clash} collide with the s_<col> source "
            "namespace the matched clauses use; rename one side"
        )

    # --- candidate discovery -------------------------------------------
    cands = _prune_batches(live, dates=dates)
    eq_probe: "dict[str, object] | None" = None
    if cands:
        probes: "dict[str, object]" = {}
        for c in on:
            vals = [
                r[0]
                for r in src.select(c)
                .where(F.col(c).isNotNull())
                .distinct()
                .limit(_PROBE_KEYS_LIMIT + 1)
                .collect()
            ]
            if len(vals) > _PROBE_KEYS_LIMIT:
                probes = {}
                break
            probes[c] = vals
        if probes:
            eq_probe = probes
    if eq_probe is not None:
        cands = _prune_batches(
            cands,
            eq=eq_probe,
            jfs=_JvmFsReader(fs, HPath),
            table_path=table_path,
        )
    out["candidate_batches"] = len(cands)
    by_name = {m["name"]: m for m in live}
    matched_keys = None
    touched_names: "list[str]" = []
    if cands:
        from pyspark.sql import types as T

        by_target = (
            {f.name: f for f in target_schema.fields}
            if target_schema is not None
            else {}
        )
        key_struct = T.StructType(
            [
                T.StructField(c, by_target[c].dataType, True)
                for c in on
                if c in by_target
            ]
        )

        def _keys_match_target(m: dict) -> bool:
            # explicit-schema reads skip per-frame footer inference (a
            # Spark JOB per candidate under mergeSchema -- the dominant
            # discovery cost at 1k batches) but fail at TASK time on a
            # physical type mismatch; the recorded write schema decides
            # eligibility as pure metadata.  A key column the batch
            # lacks NULL-fills (never matches) -- safe.
            rs = m.get("schema")
            if rs is None or len(key_struct) != len(on):
                return False
            rec = {f["name"]: f for f in rs.get("fields", [])}
            for c in on:
                f = rec.get(c)
                if f is not None and (
                    T.StructField.fromJson(f).dataType
                    != by_target[c].dataType
                ):
                    return False
            return True

        scan = None
        if len(cands) > _SCAN_UNION_MAX and all(
            _keys_match_target(m) and m.get("files") for m in cands
        ):
            # MANY candidates (a 10k-batch sink puts ~keys x fpp x N
            # bloom false positives here): a per-batch frame union
            # makes Catalyst analyze an N-child plan (~60 ms/frame +
            # superlinear analysis -- measured 185 s at 1491
            # candidates).  Instead, ONE mapInPandas job over the
            # candidates' FILE LIST reads key columns via pyarrow and
            # emits distinct (keys, batch) pairs: same rows read, one
            # flat plan, and the small source side broadcasts into the
            # join so the big scan side never shuffles.
            scan = _scan_key_files(
                spark, table_path, cands, on, key_struct
            )
        else:
            key_frames = []
            for m in cands:
                if _keys_match_target(m):
                    f = spark.read.schema(key_struct).parquet(
                        f"{table_path}/{m['dir']}"
                    )
                else:
                    f = reader.parquet(f"{table_path}/{m['dir']}")
                    if not all(c in f.columns for c in on):
                        # a batch predating the key column holds only
                        # NULL keys: nothing can match, leave it out
                        continue
                # key columns only -- the scan stays column-pruned
                key_frames.append(
                    f.select(*on).withColumn("__mname", F.lit(m["name"]))
                )
            if key_frames:
                scan = reduce(lambda a, b: a.unionByName(b), key_frames)
        if scan is not None:
            # one discovery scan, materialized: matched keys AND the
            # touched-batch set both derive from it (a second pass
            # would re-read every candidate's key columns)
            hits = scan.join(
                src.select(*on).distinct(), on, "inner"
            ).localCheckpoint(eager=True)
            matched_keys = hits.select(*on).distinct()
            touched_names = [
                r[0]
                for r in hits.select("__mname").distinct().collect()
            ]
    if matched_keys is not None and needs_source_values:
        # SQL MERGE cardinality rule: a target row matched by multiple
        # source rows would make the rewrite non-deterministic.  Checked
        # exactly when source VALUES are consumed -- key-only joins
        # (delete / by-source) are dedup-safe by construction.
        dup = (
            src.join(matched_keys, on, "inner")
            .groupBy(*on)
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            key = {c: dup[0][c] for c in on}
            raise ValueError(
                f"source has {dup[0]['count']} rows for target-matched "
                f"key {key}; MERGE requires at most one source row per "
                "matched target row (pre-aggregate the source)"
            )
    if when_matched is None and matched_where is None:
        touched_names = []  # insert-only: matched rows stay untouched
    # counted AFTER the insert-only reset so candidate batches holding
    # matched-but-untouched keys surface as probed_clean -- the summary
    # invariant candidate_batches == probed_clean + touched + unchanged
    # holds for every clause shape
    out["probed_clean"] = len(cands) - len(touched_names)
    rewrite = set(touched_names)
    if when_not_matched_by_source is not None:
        # unmatched-by-source rows live anywhere: full-table pass
        rewrite = {m["name"] for m in _prune_batches(live, dates=dates)}

    # --- per-batch rewrite ----------------------------------------------
    if when_matched == "update":
        # SQL MERGE UPDATE SET <every shared column>: shared, non-key,
        # non-partition source columns the SINK schema knows -- a
        # pre-widening batch gets the column physically ADDED by its
        # rewrite (managed evolution, same as update_sink_where)
        set_map = {
            c: f"s_{c}"
            for c in src.columns
            if c not in on
            and c != "collect_date"
            and (not live or c in target_names)
        }
        if not set_map:
            raise ValueError(
                "when_matched='update' found no shared non-key source "
                "columns to SET; pass an explicit {col: expr} dict"
            )
    s_hit = "__s_hit"
    if s_hit in target_names or s_hit in src.columns:
        raise ValueError(f"column name {s_hit} is reserved by merge_sink")
    if needs_source_values:
        s_sel = [F.col(c) for c in on] + [
            F.col(c).alias(f"s_{c}") for c in src.columns if c not in on
        ]
        s_join = src.select(*s_sel).withColumn(s_hit, F.lit(1))
    else:
        # keys only, deduped: a duplicate source key must not fan a
        # matched target row out into the rewrite
        s_join = src.select(*on).distinct().withColumn(s_hit, F.lit(1))
    set_cols = [*(set_map or {}), *(bs_set or {})]

    def _rewrite_one(name: str) -> dict:
        m = by_name[name]
        t_df = reader.parquet(f"{table_path}/{m['dir']}")
        phys = list(t_df.columns)
        # matched_where / not_matched_by_source_where may name ANY
        # sink-schema column (start_cdc_apply's version guard does
        # exactly that): pad every column the batch physically lacks so
        # a pre-widening batch evaluates the predicate with NULLs -- the
        # documented IS-NULL arm -- instead of raising UNRESOLVED_COLUMN
        # and wedging the stream
        eval_df = _pad_to_schema(t_df, target_schema)
        joined = eval_df.join(s_join, on, "left")
        matched = F.col(s_hit).isNotNull()
        if matched_where is not None:
            matched = matched & F.coalesce(
                F.expr(matched_where), F.lit(False)
            )
        unmatched = F.col(s_hit).isNull()
        if not_matched_by_source_where is not None:
            unmatched = unmatched & F.coalesce(
                F.expr(not_matched_by_source_where), F.lit(False)
            )
        del_cond = F.lit(False)
        if when_matched == "delete":
            del_cond = del_cond | matched
        if when_not_matched_by_source == "delete":
            del_cond = del_cond | unmatched
        kept = joined.filter(~del_cond)
        # dedupe while keeping order (a column SET by both clauses)
        out_cols = list(dict.fromkeys(phys + set_cols))
        total = int(m["rows"]) if "rows" in m else t_df.count()
        upd_obs = None
        if set_cols:

            def _out_col(c):
                expr = None
                if set_map and c in set_map:
                    expr = F.when(matched, F.expr(set_map[c]))
                if bs_set and c in bs_set:
                    arm = (expr if expr is not None else F)
                    expr = arm.when(unmatched, F.expr(bs_set[c]))
                if expr is None:
                    return F.col(c)
                return expr.otherwise(F.col(c)).alias(c)

            new_df = kept.select(
                *[_out_col(c) for c in out_cols],
                (matched if set_map else F.lit(False))
                .cast("long")
                .alias("__dml_hit"),
                (unmatched if bs_set else F.lit(False))
                .cast("long")
                .alias("__bs_hit"),
            )
            from pyspark.sql import Observation

            upd_obs = Observation()
            new_df = new_df.observe(
                upd_obs,
                F.sum("__dml_hit").alias("n_hit"),
                F.sum("__bs_hit").alias("n_bs"),
            ).drop("__dml_hit", "__bs_hit")
        else:
            new_df = kept.select(*phys)
        # a rewrite that neither removed nor updated a row (a
        # matched_where miss, or a full-sync pass over a batch whose
        # rows all matched) comes back clean, never a churned swap
        return _rewrite_batch(
            spark, fs, HPath, table_path, m, new_df, total, set_cols,
            upd_obs,
        )

    # touched batches rewrite CONCURRENTLY (_fan_out), folded in
    # deterministic name order so the summary is stable regardless of
    # completion order
    todo = sorted(rewrite)
    for rec in _fan_out(spark, _rewrite_one, todo):
        if rec["kind"] == "dropped":
            out["dropped"].append(rec["victim"])
            out["rows_deleted"] += rec["rows_deleted"]
            out["touched_batches"] += 1
        elif rec["kind"] == "clean":
            # byte-equivalent rewrite skipped: its OWN counter --
            # probed_clean stays the discovery metric, so the two can
            # never double-count one batch
            out["unchanged_batches"] += 1
        else:
            out["rewritten"].append(rec["new_name"])
            out["swapped"][rec["victim"]] = rec["new_name"]
            out["touched_batches"] += 1
            out["rows_deleted"] += rec["rows_deleted"]
            out["rows_updated"] += rec["hits"].get("n_hit", 0)
            out["rows_updated_by_source"] += rec["hits"].get("n_bs", 0)

    # --- insert (last, so a crash mid-rewrite never half-inserts) -------
    if when_not_matched == "insert":
        ins = (
            src.join(matched_keys, on, "left_anti")
            if matched_keys is not None
            else src
        )
        if target_schema is not None:
            extra = sorted(set(ins.columns) - target_names)
            if extra:
                raise ValueError(
                    f"source columns not in sink schema: {extra}; MERGE "
                    "does not widen the sink -- append a widening batch "
                    "first (StoreConf.schema_evolution)"
                )
            ins = ins.select(
                *[
                    F.col(f.name)
                    if f.name in ins.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in target_schema.fields
                ]
            )
        n_ins = ins.count()
        if n_ins:
            mid = merge_id or uuid.uuid4().hex
            import hashlib

            h = hashlib.md5(mid.encode("utf-8")).hexdigest()
            epoch = "mrg" + h[:10]
            batch_id = int(h[10:22], 16)
            append_batch_manifest(
                ins, store or StoreConf(), table_path, batch_id,
                epoch=epoch,
            )
            out["rows_inserted"] = int(n_ins)
            out["insert_manifest"] = f"{_batch_key(batch_id, epoch)}.json"
    return out


def restore_sink(
    spark: SparkSession,
    table_path: str,
    as_of: int | None = None,
    as_of_ts: "float | str | object | None" = None,
    force: bool = False,
) -> dict:
    """ROLL BACK a manifest sink's live state to one retained snapshot
    (Delta ``RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF``): after
    this, a plain :func:`read_sink` serves exactly what
    ``read_sink(as_of=seq)`` serves -- the undo button for a bad
    backfill, a wrong DML pass, or a poisoned ingest window.

    ONE atomic metadata publish, zero data IO (the snapshot's attempt
    dirs are still on disk, verified loudly up front -- restorability
    shares the vacuum-retention horizon with pinned reads): the whole
    restored state is folded into a single NEW snapshot object that
    embeds

    - every still-live batch the target set also names (verbatim),
    - fresh swap entries (the :func:`_swap_batch_manifest` naming) for
      target batches superseded since the snapshot, pointing at their
      ORIGINAL attempt dirs and superseding their original names, and
    - one multi-victim ``drop`` tombstone retiring every live batch
      NOT in the target set (post-snapshot appends, compactions, DML
      swaps).

    Because the publish is one object, there is NO window in which a
    concurrent reader sees neither the pre-restore nor the restored
    state, and a crash either restored everything or nothing --
    exactly the batch-commit guarantee, applied to the whole rollback.

    Change-data-feed: rows a caught-up tail already saw are NOT
    retracted (append-only CDF); resurrected swaps are marked via the
    same-rows-replacement rule, retired batches via the drop rule --
    a caught-up cursor rides through with nothing re-delivered, a
    fresh consumer bootstraps on the restored state.  Run from the
    maintenance window (enforced like the DML surface; ``force=True``
    overrides); after restoring, restart any writer from a fresh
    checkpoint lineage -- its old checkpoint counts batches the
    restore just retired."""
    import json
    import uuid

    fs, HPath = _hadoop_fs(spark, table_path)
    if not fs.exists(HPath(f"{table_path}/_manifests")):
        raise SnapshotUnreadable(
            f"{table_path} is not a manifest sink; restore requires "
            "the manifest commit protocol"
        )
    if (as_of is None) == (as_of_ts is None):
        raise ValueError("pass exactly one of as_of / as_of_ts")
    if as_of_ts is not None:
        as_of = _resolve_as_of_ts(spark, table_path, as_of_ts)
    if not force:
        _require_maintenance_window(fs, HPath, table_path, "restore")
    import hashlib

    target = {
        m["name"]: m
        for m in _pinned_manifest_set(fs, HPath, spark, table_path, as_of)
    }
    state = _load_manifest_state(fs, HPath, table_path)
    live = {m["name"]: m for m in state["live"] if "dir" in m}
    now_ms = _fs_now_ms(fs, HPath, table_path)
    embedded, dropped, resurrected = [], [], []
    # identity by ATTEMPT DIR, not manifest name: a prior restore (or a
    # DML swap) serves the same batch under a fresh name -- matching by
    # name would re-swap it on every restore instead of converging
    target_dirs = {t["dir"] for t in target.values()}
    live_dirs = {m["dir"] for m in live.values()}
    for name, m in live.items():
        if m["dir"] in target_dirs:
            embedded.append(dict(m))  # batch present in both states
        else:
            dropped.append(name)  # post-snapshot history: retire
    for name, t in target.items():
        if t["dir"] in live_dirs:
            continue
        e = dict(t)
        e.pop("ts", None)
        new_name, e = _swap_entry(t, e)
        e["name"] = new_name
        e["ts"] = now_ms
        embedded.append(e)
        resurrected.append(new_name)
    if not dropped and not resurrected:
        return {
            "restored_to": as_of,
            "dropped": [],
            "resurrected": [],
            "snapshot": None,  # live state already equals the target
        }
    if dropped:
        embedded.append(
            {
                "kind": "drop",
                "supersedes": sorted(dropped),
                "name": f"d-{uuid.uuid4().hex[:12]}.json",
                "ts": now_ms,
            }
        )
    # carry still-live dir-less tombstones forward (their victims may
    # only be reachable embedded; the inert-tombstone rule expires them)
    for m in state["live"]:
        if "dir" not in m:
            embedded.append(dict(m))
    seq = state["latest_snap_seq"] + 1
    names = sorted(e["name"] for e in embedded)
    sname = (
        f"s-{seq:08d}-"
        + hashlib.md5(("restore|" + "|".join(names)).encode()).hexdigest()[
            :12
        ]
        + ".json"
    )
    _publish_manifest(
        fs, HPath, f"{table_path}/_manifests", sname,
        json.dumps(
            {"kind": "snapshot", "seq": seq, "manifests": embedded},
            sort_keys=True,
        ).encode("utf-8"),
    )
    return {
        "restored_to": as_of,
        "dropped": dropped,
        "resurrected": resurrected,
        "snapshot": sname,
    }


def write_training_shards(
    docs: DataFrame,
    out_dir: str,
    budget: int = 512,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Write a packed training corpus: shard-local greedy sequence packing
    (:func:`plans.llm.pack_sequences`) materialized as one directory per
    shard, rows sorted by (seq_id, doc id) within files so a sequential
    reader streams whole training sequences.

    Scale shape: packing is an n_shards-way partition-local window (never
    a global sort) and the text payload rides THROUGH the pack via its
    ``carry`` columns, so the job has exactly ONE shuffle -- the pack
    window's shard exchange -- after which rows are already clustered and
    ordered per shard; the write adds no repartition and each task writes
    whole shards.  At 100 TB n_shards tracks the write parallelism.
    """
    from pyspark.sql import functions as F

    from mqtt_message_pump_spark.functions.text import token_count
    from mqtt_message_pump_spark.plans.llm import pack_sequences

    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        token_count(F.col(text_col)).cast("bigint").alias("n_tok"),
    )
    packed = pack_sequences(tok, budget, n_shards, carry=("text",))
    # shard leads the sort so the dynamic-partition writer's required
    # ordering is already satisfied (it would otherwise insert its own
    # sort on the partition column and scramble the sequence order)
    (
        packed.sortWithinPartitions("shard", "seq_id", "doc_id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
