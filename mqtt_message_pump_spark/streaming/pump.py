"""The pump pipeline: the reference's whole steady-state dataflow
(SURVEY.md SS3.1) as one Structured Streaming job, plus a batch-mode twin
used by tests and the benchmark.

Reference topology (mqtt.go / pump_pipe.go / data_processor.go /
data_adapter.go / data_dbstore.go):

  MQTT source -> fan-in -> +mid -> DUAL PATH
    raw:  (mid, topic, payload, collect_datetime) -> batched INSERT
    flat: JSON parse -> top-level explode (key_id) -> recursive flatten
          -> batched INSERT
  both tables date-partitioned; 64-row/5-s flush; monitor counts per stage.

Spark-first mapping -- and why it is STRONGER at scale:

- one ``foreachBatch`` per trigger persists the enriched micro-batch once
  and writes both paths from it (the reference's dual-channel multicast,
  ``data_processor.go:78-79``, without double-parsing);
- sinks are date-partitioned parquet (the MergeTree date partition,
  ``data_dbstore.go:133``); at scale swap for Delta + OPTIMIZE/Z-ORDER on
  (mid, topic) to recover the sort-key locality;
- the 64-row/5-s flush trigger becomes ``trigger(processingTime)`` + source
  rate limits -- backpressure is pull-based, no bounded channels to tune;
- checkpointing + idempotent-by-batch-id writes give effectively-once,
  strictly stronger than the reference's none (a crash there loses every
  record buffered in channels/deques, SURVEY.md SS2.6);
- per-stage counters come from ``observe()`` metrics on the streaming
  DataFrame -- no atomic-counter plumbing, no extra pass.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mqtt_message_pump_spark.functions.flatten import explode_records, flatten_struct
from mqtt_message_pump_spark.functions.ids import with_message_id
from mqtt_message_pump_spark.plans.registry import table

# Set by drain_and_stop for the duration of query.stop(): write_both only
# rewraps a batch error as the clean "write cancelled" marker while a stop
# WE initiated is actually in progress -- any other failure mentioning
# "cancelled" (context shutdown after an executor OOM, a stage failure)
# keeps its full cause.  stop() joins the stream-execution thread, so the
# rewrap (which runs on that thread's foreachBatch callback) always sees
# the flag set.  Process-wide by design: foreachBatch has no handle to its
# own query; concurrent queries stopping simultaneously share the flag.
_stop_in_progress = threading.Event()

# Wire-format message schema (pump_pipe.go:15-19): topic + payload + arrival.
MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType()),
        T.StructField("payload", T.StringType()),
        T.StructField("received_time", T.TimestampType()),
    ]
)


def events_as_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the events fixture into the MQTT wire shape: topic from the
    event type (the reference's per-group topics), payload = a two-record
    JSON body (the "multi-record" format), arrival = event ts.

    The scan is split so the downstream JSON parse runs on every core (the
    fixture is one row group = one scan partition; a real ingest has many
    source partitions and needs no help)."""
    events = table(spark, sf_dir, "events", split=True)
    payload = F.concat(
        F.lit('{"r1":'), F.col("props"), F.lit(',"r2":'), F.col("props"), F.lit("}")
    )
    return events.select(
        F.concat(F.lit("pump/"), "event_type").alias("topic"),
        payload.alias("payload"),
        F.col("ts").alias("received_time"),
    )


def payload_map_schema() -> T.MapType:
    return T.MapType(
        T.StringType(), T.StructType([T.StructField("k", T.LongType())])
    )


def build_dual_path(
    messages: DataFrame, map_schema: T.MapType
) -> tuple[DataFrame, DataFrame]:
    """From enriched messages (with ``mid``), derive the two sink tables.

    raw  -- (mid, topic, payload, collect_datetime, collect_date): the raw
            projection P3 + derived date P10.
    flat -- parse P4 -> explode P5 -> flatten P6, carrying mid + dates.
    """
    enriched = messages.withColumn(
        "collect_datetime", F.col("received_time")
    ).withColumn("collect_date", F.to_date("collect_datetime"))

    extra = ["event_time"] if "event_time" in messages.columns else []
    raw = enriched.select(
        "mid", "topic", "payload", "collect_datetime", "collect_date", *extra
    )

    parsed = enriched.select(
        "mid",
        "collect_datetime",
        "collect_date",
        *extra,
        F.from_json("payload", map_schema).alias("records"),
    )
    exploded = explode_records(parsed, "records")
    flat = flatten_struct(exploded, ["record"], sort_columns=True)
    return raw, flat


def run_batch_pump(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Batch-mode pump: the full dual-path dataflow over the events fixture,
    writing date-partitioned parquet.  Returns row counts per path.

    Writes OVERWRITE: this is a whole-job entry point, so re-running into
    an existing ``out_dir`` replaces it (append would silently duplicate
    sink rows, and the returned counts would no longer describe the sink).
    Append semantics belong to the streaming ``foreachBatch`` path, where
    the commit log makes them idempotent per batch.
    """
    from pyspark.sql import Observation

    from mqtt_message_pump_spark.config import StoreConf
    from mqtt_message_pump_spark.sinks import write_table

    messages = with_message_id(events_as_messages(spark, sf_dir), "mid", 8)
    # ONE clustering shuffle for both sinks: repartition the enriched
    # batch by its sink partition key (arrival date) up front, persist,
    # and fan both paths off it with cluster=False -- each task then
    # writes whole date partitions (one file per date, not tasks x dates
    # small files; at 100 TB the small-files problem is the difference
    # between a usable table and a dead one).  Shuffling before the JSON
    # parse also means the parse runs once per row instead of once per
    # sink job, and the (random) mids are materialized once, so both
    # sinks agree -- exactly the streaming foreachBatch contract.
    messages = messages.repartition(F.to_date("received_time")).persist()
    try:
        raw, flat = build_dual_path(messages, payload_map_schema())
        # Counters ride the write jobs via observe() (the monitor's
        # per-stage counts, monitor.go:191-260) -- no second sink read.
        obs_raw, obs_flat = Observation("raw"), Observation("flat")
        raw = raw.observe(obs_raw, F.count(F.lit(1)).alias("n"))
        flat = flat.observe(obs_flat, F.count(F.lit(1)).alias("n"))
        # rows arrive pre-clustered; files stay sorted (mid, topic) for
        # the MergeTree ORDER BY locality
        store = StoreConf()
        # r15 (guide SS2.6): the two sink writes are independent jobs over
        # the same persisted input -- submit them from a 2-thread pool so
        # the flat path's JSON parse back-fills executors freed by the raw
        # write's tail instead of waiting for it.  Cache correctness under
        # concurrency is the BlockManager's per-block lock (one job
        # computes a missing partition, the other blocks then reads).
        with ThreadPoolExecutor(max_workers=2) as pool:
            done = [
                pool.submit(
                    write_table, raw, store, f"{out_dir}/raw_message",
                    store.raw_table_name, mode="overwrite", cluster=False,
                ),
                pool.submit(
                    write_table, flat, store, f"{out_dir}/json_message",
                    store.adapter_table_name, mode="overwrite", cluster=False,
                ),
            ]
            for f in done:
                f.result()
        return {"raw_rows": obs_raw.get["n"], "flat_rows": obs_flat.get["n"]}
    finally:
        messages.unpersist()


def dedupe_redeliveries(
    messages: DataFrame,
    watermark: str = "30 seconds",
    mid_length: int = 16,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Effectively-once over an at-least-once source (MQTT QoS 1).

    The reference's QoS-1 path re-randomizes the mid on redelivery, so
    broker retries become silent duplicate rows (SURVEY.md SS2.6).  Here
    the mid is CONTENT-DERIVED, so a redelivered message reproduces its
    id, and ``dropDuplicatesWithinWatermark`` removes the replay with
    bounded state: dedup keys older than the watermark are evicted, which
    is exactly the MQTT redelivery window.  Works on batch frames too
    (plain dropDuplicates on the mid).

    Key choice matters: the real MQTT source stamps ``received_time`` at
    RECEIPT (``sources/mqtt.py``), so a broker redelivery arrives at a
    different instant -- arrival time must NOT be in the key or the replay
    gets a fresh mid and is never dropped.  The broker packet id must not
    be in it either: packet ids are CONNECTION-scoped, and the pump opens
    a fresh client per micro-batch, so a redelivery that crosses a batch
    boundary (requeue after an unacked poll, a restart) arrives under a
    NEW packet id -- a key containing it would wave exactly the
    redeliveries it exists to drop straight through (observed as
    duplicate sink rows in the r9 soak).  The default key is therefore
    (topic, payload).  The trade-off: two GENUINE identical publishes
    inside the watermark collapse to one row -- QoS-1 cannot distinguish
    that case from a redelivery without an upstream id.  Sources that
    embed a stable id or event timestamp in the record should pass it
    via ``key_cols``.
    """
    if key_cols is None:
        key_cols = ["topic", "payload"]
    keyed = with_message_id(
        messages,
        "mid",
        mid_length,
        deterministic_from=key_cols,
    )
    if not keyed.isStreaming:
        return keyed.dropDuplicates(["mid"])
    return keyed.withWatermark(
        "received_time", watermark
    ).dropDuplicatesWithinWatermark(["mid"])


def with_event_time(
    messages: DataFrame,
    event_time_field: str,
    out_col: str = "event_time",
) -> DataFrame:
    """Opt-in event time for the pump (SURVEY.md SS1.1 upgrade): parse
    ``event_time_field`` (a dotted path inside EACH payload record, e.g.
    ``params.ts`` in the reference's jsonsample -- which the reference
    keeps opaque, ``readme.txt:37-40``) and take the EARLIEST record
    timestamp as the message's event time, falling back to
    ``received_time`` for records without a parseable value.

    All JVM-side: a lenient ``map<string,string>`` parse stringifies each
    record (no typed schema needed, so this works for any adapter sample),
    ``get_json_object`` pulls the field, ``to_timestamp`` parses ISO-8601,
    ``array_min`` skips nulls.  One narrow projection -- no shuffle, no
    Python.
    """
    path = "$." + event_time_field
    vals = F.map_values(F.from_json("payload", "map<string,string>"))
    times = F.transform(
        vals, lambda r: F.to_timestamp(F.get_json_object(r, path))
    )
    return messages.withColumn(
        out_col, F.coalesce(F.array_min(times), F.col("received_time"))
    )


def windowed_rates(
    messages: DataFrame,
    interval_secs: int = 5,
    watermark: str = "10 seconds",
    time_col: str = "received_time",
) -> DataFrame:
    """The monitor's per-interval throughput (``monitor.go:151-173``,
    msgs + bytes per 5-s tick) as an event-time tumbling window with a
    watermark -- the upgrade the reference cannot express: its ticker is
    processing-time only, so replayed/late data lands in the wrong
    interval (SURVEY.md SS1.1).  Here late rows join their true window
    until the watermark closes it, then are dropped (bounded state).

    Works on both streaming and batch frames (batch ignores the
    watermark), so the same definition serves the pump and the oracle-
    checked q_tumbling_window.

    ``time_col`` selects the windowing clock: ``received_time``
    (processing-time arrival, reference parity) or an
    :func:`with_event_time` column -- then late rows join their TRUE
    interval until the watermark closes it (the event-time upgrade the
    reference cannot express; oracle-checked as q_event_time_window).
    """
    sized = messages.withColumn(
        "msg_bytes", F.length("topic") + F.length("payload") + F.lit(4)
    )
    if sized.isStreaming:
        sized = sized.withWatermark(time_col, watermark)
    return (
        sized.groupBy(
            F.window(time_col, f"{interval_secs} seconds").alias("w"),
            "topic",
        )
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.sum("msg_bytes").alias("n_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "topic",
            "n_msgs",
            "n_bytes",
            (F.col("n_msgs").cast("double") / interval_secs).alias(
                "msgs_per_sec"
            ),
            (F.col("n_bytes").cast("double") / interval_secs).alias(
                "bytes_per_sec"
            ),
        )
    )


def lease_owner_for(checkpoint_dir: str) -> str:
    """Deterministic writer-lease identity of one checkpoint lineage.

    Hashes a RESOLVED path, not the raw config string: two pumps on
    different hosts both configured with a relative ``ckpt`` onto one
    shared table_path would otherwise hash to the same owner and
    silently defeat the writer fence they were meant to trip (ADVICE
    r12).  URIs are already absolute and pass through unchanged."""
    import hashlib as _h
    import os.path as _osp

    cp = (
        checkpoint_dir
        if "://" in checkpoint_dir
        else _osp.abspath(checkpoint_dir)
    )
    return "cp-" + _h.md5(cp.encode()).hexdigest()[:12]


def start_stream_pump(
    spark: SparkSession,
    messages: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    map_schema: T.MapType | None = None,
    trigger_secs: int = 5,
    mid_length: int = 8,
    dedupe_watermark: str | None = None,
    counters=None,
    event_time_field: str | None = None,
    store=None,
):
    """Start the streaming pump on a streaming messages DataFrame.

    ``store`` (a ``config.StoreConf``) selects sink format and the
    batch-commit protocol -- ``commit_protocol="manifest"`` is the
    object-store-safe variant (:func:`sinks.append_batch_manifest`);
    default is a fresh ``StoreConf()`` (parquet, rename protocol).

    One query, one persist per micro-batch, two partitioned sinks; the
    checkpoint makes restarts effectively-once: a replayed micro-batch
    re-appends through :func:`sinks.append_batch_idempotent`, which
    sweeps the prior attempt's files first (the streaming commit log only
    decides WHICH batch replays -- the sink itself must be idempotent,
    and a flat parquet append is not).

    ``dedupe_watermark`` (e.g. ``"30 seconds"``) additionally drops
    at-least-once source redeliveries via a content-derived mid +
    ``dropDuplicatesWithinWatermark`` -- see :func:`dedupe_redeliveries`.
    Without it, mids are random (reference parity).

    ``counters`` (a ``streaming.monitor.PumpCounters``) receives per-stage
    lifetime counts from each micro-batch commit -- the reference's queue
    lag / raw-vs-adapter gap surface (``monitor.go:120-136``); pass the
    same object to ``PumpMonitorListener`` to publish the stage deltas.

    ``event_time_field`` (e.g. ``"params.ts"``) opts into event time: the
    payload field is parsed per record (:func:`with_event_time`) and the
    resulting ``event_time`` column rides through BOTH sink tables, so
    downstream windowed/sessionized analytics can run on when the data
    was generated instead of when the pump saw it.  ``collect_datetime``
    stays processing-time (reference parity, ``data_processor.go``).
    """
    map_schema = map_schema or payload_map_schema()
    if event_time_field is not None:
        messages = with_event_time(messages, event_time_field)
    if dedupe_watermark is not None:
        enriched = dedupe_redeliveries(
            messages, dedupe_watermark, max(16, mid_length)
        )
    else:
        enriched = with_message_id(messages, "mid", mid_length)
    enriched = enriched.observe(
        "pump_metrics",
        F.count(F.lit(1)).alias("msg_count"),
        F.sum(F.length("payload") + F.length("topic") + 4).alias("bytes"),
    )

    def write_both(batch_df: DataFrame, batch_id: int) -> None:
        # one clustering shuffle for both sink writes (see run_batch_pump)
        batch_df = batch_df.repartition(F.to_date("received_time"))
        batch_df.persist()
        try:
            _write_both_inner(batch_df, batch_id)
        except Exception as e:  # noqa: BLE001 - rewrap, never swallow
            # A stop() mid-batch cancels the write jobs; the resulting
            # Py4JJavaError carries the FULL nested Java stack as one
            # giant string, and Spark's error-classification regex
            # catastrophically backtracks on it (observed: the stream
            # thread dies with StackOverflowError spam while stopping).
            # Re-raise the cancellation as a short message -- the batch
            # still fails (no commit), just without the pathology.
            # SCOPED to an actual drain_and_stop in progress: a genuine
            # mid-run failure that merely mentions "cancelled" (executor
            # OOM tearing down the context, a stage failure killing
            # tasks) must surface with its full cause, never dressed up
            # as a clean stop (r9 review finding).
            msg = str(e)
            if _stop_in_progress.is_set() and (
                "cancelled" in msg.lower()
                or "InterruptedException" in msg
            ):
                raise RuntimeError(
                    "micro-batch write cancelled (query stopping)"
                ) from None
            raise
        finally:
            try:
                batch_df.unpersist()
            except Exception:
                pass  # session already tearing down

    _epoch_cache: dict[str, str | None] = {}

    def _write_both_inner(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Observation

        from mqtt_message_pump_spark.config import StoreConf
        from mqtt_message_pump_spark.sinks import checkpoint_epoch, write_append

        batch_store = store if store is not None else StoreConf()
        # file prefixes are scoped to this checkpoint lineage so a
        # checkpoint reset over a kept sink can never sweep the old
        # run's committed batches (sinks.append_batch_idempotent).
        # Only a SUCCESSFUL read is cached: permanently caching a
        # transient None would leave the whole run writing unscoped
        # prefixes that can't sweep a prior epoch-scoped attempt
        # (r9 review finding) -- retry each batch until the metadata
        # file is readable.
        epoch = _epoch_cache.get("epoch")
        if epoch is None:
            # brief retry: the metadata file is written by Spark at query
            # start, so an unreadable read here is a races-the-first-
            # batch transient -- two short retries close it in practice
            # and keep every batch key epoch-scoped (ADVICE r11)
            import time as _t

            for _ in range(3):
                epoch = checkpoint_epoch(batch_df.sparkSession, checkpoint_dir)
                if epoch is not None:
                    _epoch_cache["epoch"] = epoch
                    break
                _t.sleep(0.1)
        # lease identity must be stable across restarts AND across epoch
        # readability (a random fallback made a restarted pump fence
        # itself -- ADVICE r11); the checkpoint dir path is both: one
        # lineage keeps it, a different pump has a different one
        lease_owner = lease_owner_for(checkpoint_dir)
        raw, flat = build_dual_path(batch_df, map_schema)
        obs_raw, obs_flat = Observation(), Observation()
        raw = raw.observe(obs_raw, F.count(F.lit(1)).alias("n"))
        flat = flat.observe(obs_flat, F.count(F.lit(1)).alias("n"))
        # batch_id makes both parquet appends replay-idempotent (a stop
        # between sink write and checkpoint commit re-runs the batch --
        # sinks.append_batch_idempotent sweeps the prior attempt's files)
        write_append(
            raw, batch_store, f"{out_dir}/raw_message",
            batch_store.raw_table_name, cluster=False, batch_id=batch_id,
            epoch=epoch, lease_owner=lease_owner,
        )
        raw_n = obs_raw.get["n"]
        import os as _os

        if _os.environ.get("MQTT_WAL_TRACE"):
            from mqtt_message_pump_spark.sources.mqtt import MqttStreamReader

            MqttStreamReader._wal_trace(
                "BATCHRAW", f"batch_id={batch_id} epoch={epoch} n={raw_n}"
            )
        if counters is not None:
            # the write returned -> raw rows are received AND committed
            # (parquet commit protocol finishes inside the write job)
            counters.dp_succeed += raw_n
            counters.rdo_receive_succeed += raw_n
            counters.rdo_commit_succeed += raw_n
        write_append(
            flat, batch_store, f"{out_dir}/json_message",
            batch_store.adapter_table_name, cluster=False,
            batch_id=batch_id, epoch=epoch, lease_owner=lease_owner,
        )
        if counters is not None:
            flat_n = obs_flat.get["n"]
            # adapter stage consumed the same enriched rows; the
            # flattened fan-out count is the PDO/ADO row volume
            counters.da_succeed += raw_n
            counters.da_pdo_succeed += flat_n
            counters.ado_receive_succeed += flat_n
            counters.ado_commit_succeed += flat_n
        snap_every = getattr(batch_store, "snapshot_every", 0)
        if (
            snap_every
            and getattr(batch_store, "commit_protocol", "rename") == "manifest"
            and batch_id > 0
            and batch_id % snap_every == 0
        ):
            # metadata-only maintenance: fold the live manifest set into
            # one snapshot object so the reader's listing stays O(1) in
            # batch count (sinks.snapshot_sink).  Safe in-line for the
            # same reason as compaction (foreachBatch IS the single
            # writer); unlike compaction it rewrites no data, so a much
            # tighter cadence costs only one small-object publish.
            from mqtt_message_pump_spark.sinks import snapshot_sink

            spark_ = batch_df.sparkSession
            for sub in ("raw_message", "json_message"):
                try:
                    snapshot_sink(spark_, f"{out_dir}/{sub}")
                except Exception as e:  # noqa: BLE001 - maintenance only
                    print(
                        f"[pump] sink snapshot skipped for {sub}: {e}",
                        flush=True,
                    )
        every = getattr(batch_store, "compact_every", 0)
        if (
            every
            and getattr(batch_store, "commit_protocol", "rename") == "manifest"
            and batch_id > 0
            and batch_id % every == 0
        ):
            # in-line maintenance: safe HERE because foreachBatch IS the
            # single writer and batches are strictly serial -- the
            # maintenance-window contract of compact/vacuum holds by
            # construction.  keep_last=2 protects the replayable tail
            # (this batch + its predecessor); a crash mid-compaction
            # leaves only an unreferenced attempt dir, reclaimed by the
            # next cycle's vacuum.  Failures must not fail the batch:
            # the data writes above are already committed.
            from mqtt_message_pump_spark.sinks import compact_sink, vacuum_sink

            spark_ = batch_df.sparkSession
            for sub in ("raw_message", "json_message"):
                try:
                    compact_sink(spark_, f"{out_dir}/{sub}", keep_last=2)
                    # retention >> batch duration: a lingering maintenance
                    # thread of a stopped query (query.stop() interrupts
                    # the JVM side; this Python callback keeps running)
                    # must never vacuum an attempt dir a RESTARTED query
                    # just published -- young dirs are off-limits, age
                    # reclaims true orphans on later cycles
                    vacuum_sink(
                        spark_, f"{out_dir}/{sub}", retention_secs=600
                    )
                except Exception as e:  # noqa: BLE001 - maintenance only
                    print(
                        f"[pump] sink maintenance skipped for {sub}: {e}",
                        flush=True,
                    )

    return (
        enriched.writeStream.foreachBatch(write_both)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_secs} seconds")
        .start()
    )


def start_cdc_apply(
    spark: SparkSession,
    changes: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    on: "list[str]",
    version_col: str,
    delete_when: "str | None" = None,
    drop_cols: "list[str] | None" = None,
    trigger_secs: float = 1.0,
    store=None,
):
    """Apply a STREAM of change rows to a manifest sink as per-batch
    MERGEs (the Delta streaming-merge / CDC-apply idiom): each
    micro-batch is collapsed to its last write per key
    (:func:`sinks.collapse_latest` on ``version_col`` -- real CDC
    batches carry several changes per key, and SQL MERGE's cardinality
    rule forbids feeding them raw), split into deletes and upserts by
    the optional ``delete_when`` marker predicate, and applied through
    :func:`sinks.merge_sink`.

    Exactly-once without retractions: every merge's ``merge_id``
    derives from the checkpoint lineage + micro-batch id, so a crash
    between the sink write and the checkpoint commit replays the batch
    into the SAME logical merges -- updates re-apply to equal values,
    deletes are no-ops, and the insert batch republish-swaps its own
    manifest key instead of duplicating (the exact property
    :func:`sinks.append_batch_manifest` gives the plain pump).  The
    stream holds the sink's writer lease (one owner per checkpoint
    lineage, :func:`lease_owner_for`), which is also what lets the
    merges run OUTSIDE the maintenance window: this stream IS the
    writer.

    Out-of-order protection: when the sink already stores
    ``version_col``, BOTH the update and the delete merges are gated
    with ``<version> IS NULL OR s_<version> >= <version>`` -- a
    late-arriving OLDER change (update or delete) never overwrites or
    removes newer applied state; ``>=`` keeps replays convergent, and
    the IS NULL arm lets changes land on rows from batches predating
    the version column (they would otherwise be frozen forever).  Keys
    whose latest change is a delete are removed; a subsequent re-insert
    arrives as a later change and merges as NOT MATCHED.

    ``drop_cols`` removes marker columns (the ``op`` flag
    ``delete_when`` inspects) before the upsert merge, since MERGE
    rejects source columns the sink schema lacks.  Composes directly
    with the native tail: ``spark.readStream.format("sink_tail")`` of
    an upstream sink as ``changes`` gives a fully streaming
    sink-to-sink MERGE pipeline."""
    from pyspark.sql import functions as F

    from mqtt_message_pump_spark.sinks import (
        checkpoint_epoch,
        collapse_latest,
        ensure_writer_lease,
        merge_sink,
    )

    on = list(on)
    owner = lease_owner_for(checkpoint_dir)
    _epoch_cache: dict[str, str] = {}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        ensure_writer_lease(sess, table_path, owner=owner)
        epoch = _epoch_cache.get("epoch")
        if epoch is None:
            epoch = checkpoint_epoch(sess, checkpoint_dir) or "noepoch"
            _epoch_cache["epoch"] = epoch
        latest = collapse_latest(batch_df, on, version_col)
        if not _epoch_cache.get("sink_live"):
            from mqtt_message_pump_spark.sinks import _hadoop_fs

            fs, HPath = _hadoop_fs(sess, table_path)
            _epoch_cache["sink_live"] = fs.exists(
                HPath(f"{table_path}/_manifests")
            )
        # gate late older changes once the sink can compare versions
        # (cached after it first holds: a column never un-widens).
        # Resolved from the manifests' RECORDED schemas
        # (sinks._sink_merged_schema) -- pure metadata, never the
        # N-frame union analysis.  A NULL target version (a batch
        # predating the column) must LOSE to any change, or the key
        # would be frozen forever -- hence the IS NULL arm.
        guard = _epoch_cache.get("guard")
        if (
            guard is None
            and version_col in batch_df.columns
            and _epoch_cache.get("sink_live")
        ):
            from mqtt_message_pump_spark.sinks import (
                _hadoop_fs,
                _read_manifests,
                _sink_merged_schema,
            )

            fs, HPath = _hadoop_fs(sess, table_path)
            live = [
                m
                for m in _read_manifests(fs, HPath, table_path)
                if "dir" in m
            ]
            schema = _sink_merged_schema(sess, table_path, live)
            if schema is not None and version_col in {
                f.name for f in schema.fields
            }:
                guard = (
                    f"({version_col} IS NULL) OR "
                    f"(s_{version_col} >= {version_col})"
                )
                _epoch_cache["guard"] = guard
        if delete_when is not None:
            marker = F.coalesce(F.expr(delete_when), F.lit(False))
            # the delete carries the version column so the SAME
            # out-of-order guard applies: a late OLDER delete must not
            # remove newer applied state
            dels = latest.filter(marker).select(
                *on,
                *([version_col] if version_col not in on else []),
            )
            ups = latest.filter(~marker)
            # a delete for a key the sink never held is a no-op; on a
            # sink that does not EXIST yet (first micro-batch of a
            # bootstrap) skip the whole delete merge
            if _epoch_cache.get("sink_live"):
                # force stays False: the maintenance-window check passes
                # on OUR OWN live lease (this stream is the writer) but
                # still fences a genuinely foreign writer
                merge_sink(
                    sess, table_path, dels, on=on,
                    when_matched="delete", matched_where=guard,
                    when_not_matched=None,
                    merge_id=f"cdc-{epoch}-{batch_id}-d",
                    store=store,
                )
        else:
            ups = latest
        if drop_cols:
            ups = ups.drop(*drop_cols)
        merge_sink(
            sess, table_path, ups, on=on,
            when_matched="update", matched_where=guard,
            when_not_matched="insert",
            merge_id=f"cdc-{epoch}-{batch_id}-u",
            store=store,
        )

    return (
        changes.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_secs} seconds")
        .start()
    )


def drain_and_stop(
    query, timeout_secs: float = 60.0, until_idle: bool = True
) -> None:
    """Stop a streaming query without cancelling an in-flight trigger.

    ``query.stop()`` interrupts the stream-execution thread and cancels its
    active jobs; if a ``foreachBatch`` sink write is mid-flight, that kills
    the write half-way (observed failure mode: the cancelled append's file
    listing resolves empty and the writer dies with UNABLE_TO_INFER_SCHEMA
    on a loaded host).  For timed runs, first wait -- bounded -- until the
    query reports no active trigger and (``until_idle``) no unprocessed
    data, then stop.  ``processAllAvailable()`` is not used because on a
    live (MQTT) source it can block forever; status polling drains without
    that hazard.

    The live MQTT source's offsets are SCHEDULING offsets that advance
    every trigger (``sources/mqtt.py:latestOffset``), so its queries NEVER
    report ``isDataAvailable == False``, and because every batch opens a
    real poll window they are essentially ALWAYS inside a trigger --
    waiting for the idle status alone burns the whole timeout on every
    stop (the r8 soak spent 4 x 60 s doing exactly that).  Two
    progress-based escapes close it:

    - ``until_idle=True`` (default): stop once a batch COMPLETED AFTER
      ENTRY read ZERO rows -- for a live source an empty poll window IS
      the drained state.  The batch must postdate entry because a stale
      zero-row progress from an idle spell would otherwise trigger an
      instant stop that cancels a data-bearing batch already in flight
      (r9 review finding).  File/rate sources still exit through the
      ``isDataAvailable`` fast path before ever reaching this.
    - ``until_idle=False``: stop at the first BATCH BOUNDARY after entry
      (``lastProgress.batchId`` advances, or a trigger-idle gap is
      caught).  This is the mid-stream restart case: new rows keep
      arriving, "drained" never happens, but a just-completed batch means
      every row the pump received so far is committed.  The stop then
      lands in the next batch's poll phase, where the source has acked
      nothing yet (``sources/mqtt.py:read`` defers PUBACKs to poll end),
      so the broker requeues and redelivers -- no loss, no dup.
    """
    deadline = time.monotonic() + timeout_secs
    progress = query.lastProgress
    entry_batch = progress.get("batchId", -1) if progress is not None else -1
    while query.isActive and time.monotonic() < deadline:
        status = query.status
        if not status.get("isTriggerActive") and not status.get(
            "isDataAvailable"
        ):
            break
        progress = query.lastProgress
        if progress is not None and progress.get("batchId", -1) > entry_batch:
            if not until_idle:
                break
            if progress.get("numInputRows", 1) == 0:
                break
        time.sleep(0.3)
    _stop_in_progress.set()
    try:
        query.stop()
    finally:
        _stop_in_progress.clear()
    # A stop can still cancel a just-started batch; write_both rewraps
    # that cancellation with a marker message (short, so Spark's error
    # formatter survives it), but Spark records the query as FAILED, and
    # the next awaitTermination would re-throw it.  A failure WE caused
    # by stopping is a clean shutdown -- the cancelled batch is
    # uncommitted and replays next start (WAL + idempotent appends make
    # that exactly-once).  Swallow only the marker; real errors re-raise.
    try:
        query.awaitTermination(30)
    except Exception as e:
        if "micro-batch write cancelled" not in str(e):
            raise
