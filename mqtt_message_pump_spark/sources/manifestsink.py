"""Native batch read of a manifest sink: ``spark.read.format(
"manifest_sink").option("path", <table_path>).load()``.

Why this exists (VERDICT r12 #1): correct reads of a manifest sink used
to require the Python helper (:func:`sinks.read_sink`) with explicit
``dates=``/``ranges=``/``as_of=`` arguments -- a plain
``spark.read.parquet(table_path)`` silently includes superseded and
compacted batches, and SQL users got no manifest pruning at all.  This
Spark 4 Python DataSource puts every reader on the pruned,
snapshot-consistent path BY DEFAULT:

- **manifest resolution**: only the attempt directories the LIVE
  manifests name are scanned -- uncommitted attempts, replay-superseded
  twins, and compaction victims are invisible by construction, exactly
  :func:`sinks.read_sink`'s guarantee;
- **filter pushdown** (``pushFilters``): ``collect_date`` predicates
  prune batches via the manifest ``dates`` stat, and ``mid``/``topic``/
  ``collect_datetime`` predicates prune via the per-batch min/max
  ``stats`` (and the per-batch bloom sidecars for equality probes) --
  the Delta/Iceberg file-skipping idea at manifest granularity, now
  driven by ordinary ``df.filter(...)`` / SQL WHERE clauses instead of
  helper kwargs.  Every filter is ALSO returned to Spark as residual,
  so row-level semantics are always exact; the pushdown only shrinks
  the planned scan (batch-count reduction is observable as the scan's
  partition count, one per data file);
- **time travel**: ``.option("as_of", <seq>)`` pins the read to one
  snapshot's embedded batch set, bit-identical to
  ``read_sink(as_of=...)``, with the same loud
  :class:`sinks.SnapshotUnreadable` past retention;
- **schema evolution**: the schema is the merged (newest-first,
  permissively promoted) union of the live batches' file schemas;
  pre-widening batches NULL-fill and narrower numeric files cast up --
  the ``merge_schema`` read semantics as the default.

Requires ``spark.sql.python.filterPushdown.enabled=true`` (in
:data:`session.SESSION_CONF`; Spark refuses a pushdown-capable Python
source loudly otherwise).  IO goes through the pluggable Python-native
filesystem seam (:mod:`sources._fsio`), so the same source reads local
paths and s3://hdfs:// URIs.  Reference anchor: the delegated SELECT
surface, ``data_dbstore.go:229``.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)


from mqtt_message_pump_spark.session import ensure_session
from mqtt_message_pump_spark.sinks import _check_epoch_namespace, _stat_str
from mqtt_message_pump_spark.sources._fsio import fs_for
from mqtt_message_pump_spark.sources.manifestio import (
    infer_sink_schema,
    live_set,
    manifest_files,
    read_files_arrow,
    resolve_as_of_ts,
    snapshot_set,
)

# columns with write-side min/max manifest stats (append_batch_manifest)
_STAT_COLS = ("mid", "topic", "collect_datetime")


def _as_of_opt(options, fs, path) -> "int | None":
    """Resolve the ``as_of`` / ``as_of_ts`` read options to a snapshot
    seq (``as_of_ts`` = Delta's ``timestampAsOf``: epoch seconds or an
    ISO instant, newest snapshot at-or-before it); both set is an
    error, neither is None."""
    as_of, as_of_ts = options.get("as_of"), options.get("as_of_ts")
    if as_of is not None and as_of_ts is not None:
        raise ValueError("pass as_of OR as_of_ts, not both")
    if as_of is not None:
        return int(as_of)
    if as_of_ts is not None:
        return resolve_as_of_ts(fs, path, as_of_ts)
    return None


def _prefix_upper(prefix: str) -> "str | None":
    """Exclusive upper bound of the set of strings starting with
    ``prefix``: the prefix with its last non-maximal character
    incremented (every string with the prefix sorts in
    ``[prefix, upper)``).  None when no finite bound exists."""
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp < 0x10FFFF:
            return prefix[:i] + chr(cp + 1)
    return None


def _keep_by_dates(m: dict, constraints: "list[tuple[str, object]]") -> bool:
    """Does any of the batch's recorded partition dates satisfy ALL
    collect_date constraints?  Stat-less manifests are kept."""
    mdates = m.get("dates")
    if mdates is None or not constraints:
        return True
    for d in mdates:
        ok = True
        for op, val in constraints:
            if (
                (op == "eq" and d != val)
                or (op == "in" and d not in val)
                or (op == "gt" and not d > val)
                or (op == "gte" and not d >= val)
                or (op == "lt" and not d < val)
                or (op == "lte" and not d <= val)
            ):
                ok = False
                break
        if ok:
            return True
    return False


def _keep_by_stats(
    m: dict, col_constraints: "dict[str, list[tuple[str, str]]]"
) -> bool:
    """Keep unless a recorded [min, max] interval PROVABLY excludes a
    constraint (conservative: missing stats keep the batch)."""
    stats = m.get("stats") or {}
    for col, constraints in col_constraints.items():
        st = stats.get(col)
        if st is None:
            continue
        lo, hi = st
        for op, v in constraints:
            if (
                (op == "eq" and (v < lo or v > hi))
                or (op == "gt" and hi <= v)
                or (op == "gte" and hi < v)
                or (op == "lt" and lo >= v)
                or (op == "lte" and lo > v)
            ):
                return False
    return True


def _keep_by_blooms(
    fs, table_path: str, m: dict, eq_probes: "dict[str, list[str]]",
    idx: "dict | None" = None,
) -> bool:
    """Per-batch bloom-filter point-lookup skip (VERDICT r12 #2): a
    batch whose bloom says a probed ``mid``/``topic`` value is ABSENT
    cannot contain matching rows -- skip the whole batch.  Sidecar
    absent or column not covered: keep (conservative).  ``idx`` is the
    snapshot-folded bloom index (one object for all covered batches,
    VERDICT r13 #2); batches it does not cover fall back to their own
    sidecar."""
    if not eq_probes:
        return True
    from mqtt_message_pump_spark.functions.bloom import (
        bloom_might_contain,
        index_blooms_for,
        load_bloom_sidecar,
    )

    blooms = index_blooms_for(idx, m)
    if blooms is None:
        blooms = load_bloom_sidecar(fs, table_path, m)
    if not blooms:
        return True
    for col, values in eq_probes.items():
        spec = blooms.get(col)
        if spec is None:
            continue
        if not any(bloom_might_contain(spec, v) for v in values):
            return False
    return True


class ManifestSinkDataSource(DataSource):
    """``format("manifest_sink")``.  Options:

    - ``path`` (required): the sink's table_path (local or URI);
    - ``as_of`` (optional int): pin to one snapshot seq (time travel);
    - ``as_of_ts`` (optional): time travel by wall clock (Delta's
      ``timestampAsOf``) -- epoch seconds or an ISO instant; resolves
      to the newest snapshot published at-or-before it;
    - ``schema`` (optional DDL): override the inferred merged schema;
    - ``pushdown`` (optional, ``auto``/``off``, default ``auto``):
      ``off`` disables manifest-level filter pruning so the planned
      read is IDENTICAL for every filter set.  Use ``off`` for
      LONG-LIVED frames/views that will serve queries with VARYING
      filters: Spark 4.1's Python-data-source layer caches one
      ``readInfo`` per relation and a filtered scan OVERWRITES it
      (``PythonScanBuilder.pushFilters`` -> ``ds.setReadInfo``), so a
      later scan with no pushable filters on the SAME relation silently
      reuses the pruned plan and loses rows (upstream defect, repro in
      ``tests/test_sqlstmt.py::TestUpstreamReadInfoPoisoning``).  With
      ``off`` the cached info is always the full live set, making the
      reuse harmless; all filters are applied row-level by Spark
      either way.  ``auto`` keeps full pruning and is safe for
      one-shot loads (every ``load()`` gets a fresh relation) and for
      frames whose every query carries pushable filters.

    Upsert / ReplacingMergeTree FINAL reads: a collapse needs a
    key-shuffle, which a leaf source cannot express -- compose
    ``sinks.collapse_latest(df, keys, version_col)`` over the loaded
    frame (or use ``sinks.read_sink(collapse_keys=...)``); Catalyst
    still pushes the batch-pruning predicates into this source below
    the collapse.
    """

    @classmethod
    def name(cls) -> str:
        return "manifest_sink"

    def schema(self):
        ddl = self.options.get("schema")
        if ddl:
            return ddl
        fs, path = fs_for(
            self.options["path"], impl=self.options.get("fs_impl")
        )
        if not fs.isdir(f"{path}/_manifests"):
            raise ValueError(
                f"{path} is not a manifest sink (no _manifests/ log); "
                "rename-protocol sinks are plain date-partitioned "
                "parquet -- read them with spark.read.parquet(path)"
            )
        as_of = self._pin(fs, path)
        live = (
            snapshot_set(fs, path, as_of)
            if as_of is not None
            else live_set(fs, path)
        )
        return infer_sink_schema(fs, path, live)

    def _pin(self, fs=None, path=None) -> "int | None":
        """Resolve as_of/as_of_ts ONCE per DataSource instance: schema
        inference and the reader must pin the SAME snapshot -- two
        independent as_of_ts resolutions could straddle a concurrent
        snapshot publish and serve seq-N columns over seq-N+1 rows."""
        if not hasattr(self, "_pinned_seq"):
            if fs is None:
                fs, path = fs_for(
                    self.options["path"], impl=self.options.get("fs_impl")
                )
            self._pinned_seq = _as_of_opt(self.options, fs, path)
        return self._pinned_seq

    def reader(self, schema):
        return ManifestSinkReader(self.options, schema, pinned=self._pin())

    def writer(self, schema, overwrite: bool):
        return ManifestSinkBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return ManifestSinkStreamWriter(self.options, schema, overwrite)


class _SinkPartition(InputPartition):
    def __init__(
        self, fs, table_path: str, files: "list[str]",
        filters: "tuple" = (),
    ) -> None:
        self.fs = fs
        self.table_path = table_path
        self.files = files
        # (col, op, value) tuples for row-group pruning inside the
        # file (primitives, not Expression objects: partitions pickle)
        self.filters = filters


class ManifestSinkReader(DataSourceReader):
    """Batch reader: resolves the live (or pinned) manifest set once in
    ``partitions()``, prunes it with whatever ``pushFilters`` collected,
    and plans one input partition PER DATA FILE so executor-side read
    parallelism scales with data, not batch count."""

    _UNPINNED = object()

    def __init__(self, options, schema, pinned=_UNPINNED) -> None:
        self._fs, self.path = fs_for(
            options["path"], impl=options.get("fs_impl")
        )
        self._schema = schema
        # `pinned` carries the DataSource's one-shot as_of/as_of_ts
        # resolution (see ManifestSinkDataSource._pin); the fallback
        # self-resolution only serves direct construction in tests
        self._as_of = (
            _as_of_opt(options, self._fs, self.path)
            if pinned is ManifestSinkReader._UNPINNED
            else pinned
        )
        self._date_constraints: "list[tuple[str, object]]" = []
        self._stat_constraints: "dict[str, list[tuple[str, str]]]" = {}
        self._eq_probes: "dict[str, list[str]]" = {}
        self._pushdown = str(options.get("pushdown", "auto")).lower()
        if self._pushdown not in ("auto", "off"):
            raise ValueError(
                f"pushdown must be 'auto' or 'off', got {self._pushdown!r}"
            )

    def pushFilters(self, filters):
        """Collect manifest-level pruning info; EVERY filter is returned
        as residual (Spark re-applies it row-level), so pushdown here
        can only shrink the scan, never change results.  Supported
        shapes: =, <, <=, >, >=, IN on ``collect_date`` (prunes via the
        manifest ``dates`` stat) and on the stats columns (prunes via
        min/max intervals; equality additionally probes the per-batch
        bloom sidecars).  ``pushdown=off`` collects nothing, keeping
        the planned partition set filter-independent (see the
        DataSource docstring for the upstream readInfo-reuse defect
        this guards against)."""
        if self._pushdown == "off":
            return filters
        ops = {
            EqualTo: "eq",
            In: "in",
            GreaterThan: "gt",
            GreaterThanOrEqual: "gte",
            LessThan: "lt",
            LessThanOrEqual: "lte",
        }
        for f in filters:
            if (
                isinstance(f, StringStartsWith)
                and len(f.attribute) == 1
                and f.attribute[0] in _STAT_COLS
            ):
                # prefix predicate (the MQTT topic-filter shape) as a
                # half-open range on the min/max stats: matches live in
                # [prefix, prefix-with-last-char-incremented)
                col, p = f.attribute[0], str(f.value)
                self._stat_constraints.setdefault(col, []).append(
                    ("gte", p)
                )
                upper = _prefix_upper(p)
                if upper is not None:
                    self._stat_constraints.setdefault(col, []).append(
                        ("lt", upper)
                    )
                continue
            op = ops.get(type(f))
            if op is None or len(getattr(f, "attribute", ())) != 1:
                continue
            col = f.attribute[0]
            if col == "collect_date":
                if op == "in":
                    self._date_constraints.append(
                        ("in", {_stat_str(v) for v in f.value})
                    )
                else:
                    self._date_constraints.append((op, _stat_str(f.value)))
            elif col in _STAT_COLS:
                if op == "in":
                    # IN = union of equalities: min/max can only prune
                    # when EVERY member misses the interval; model as
                    # eq-probes for the bloom and skip min/max pruning
                    self._eq_probes.setdefault(col, []).extend(
                        _stat_str(v) for v in f.value
                    )
                else:
                    self._stat_constraints.setdefault(col, []).append(
                        (op, _stat_str(f.value))
                    )
                    if op == "eq":
                        self._eq_probes.setdefault(col, []).append(
                            _stat_str(f.value)
                        )
        return filters  # all residual: Spark re-applies row-level

    def partitions(self):
        live = (
            snapshot_set(self._fs, self.path, self._as_of)
            if self._as_of is not None
            else live_set(self._fs, self.path)
        )
        idx = None
        if self._eq_probes:
            from mqtt_message_pump_spark.functions.bloom import (
                load_bloom_index,
            )

            idx = load_bloom_index(self._fs, self.path)
        kept = [
            m
            for m in live
            if "dir" in m
            and _keep_by_dates(m, self._date_constraints)
            and _keep_by_stats(m, self._stat_constraints)
            and _keep_by_blooms(
                self._fs, self.path, m, self._eq_probes, idx
            )
        ]
        if not kept and not live:
            raise ValueError(
                f"manifest sink {self.path} has no committed batches"
            )
        # the same constraints that pruned batches ride into each
        # partition for row-group pruning WITHIN surviving files
        # (string-typed stat columns only -- _arrow_filter_expr guards)
        row_filters = tuple(
            (col, op, v)
            for col, cons in self._stat_constraints.items()
            for op, v in cons
        ) + tuple(
            (col, "in", tuple(vals))
            for col, vals in self._eq_probes.items()
        )
        parts = [
            _SinkPartition(self._fs, self.path, [f], row_filters)
            for m in kept
            for f in manifest_files(self._fs, self.path, m)
        ]
        # every batch pruned: one no-op partition (zero rows)
        return parts or [_SinkPartition(self._fs, self.path, [])]

    def read(self, partition):
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self._schema)
        yield from read_files_arrow(
            partition.fs, partition.table_path, partition.files, target,
            filters=getattr(partition, "filters", ()),
        )


def register_manifest_sink_source(spark) -> None:
    """Register ``format("manifest_sink")`` on this session, with the
    engine's session settings (its pushFilters needs Python filter
    pushdown on; :func:`session.ensure_session`)."""
    ensure_session(spark)
    spark.dataSource.register(ManifestSinkDataSource)


# --------------------------------------------------------------------------
# Native WRITE path: df.write / df.writeStream .format("manifest_sink")
# --------------------------------------------------------------------------

from dataclasses import dataclass, field  # noqa: E402

from pyspark.sql.datasource import (  # noqa: E402
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

from mqtt_message_pump_spark.sources.manifestio import (  # noqa: E402
    ensure_writer_lease_py,
    publish_object,
)


@dataclass
class _SinkWriteMessage(WriterCommitMessage):
    """Per-task result: files written (sink-relative, with their date),
    row count, and stringified min/max stats -- folded by the driver's
    ``commit`` into ONE manifest."""

    files: "list[tuple[str, str]]" = field(default_factory=list)
    rows: int = 0
    stats: "dict[str, list[str]]" = field(default_factory=dict)


_WRITE_STAT_COLS = ("mid", "topic", "collect_datetime")


def _write_task_files(fs, table_path: str, dest_dir: str, batches):
    """Task-side body shared by the batch and streaming writers: split
    incoming Arrow batches by ``collect_date`` into hive-partition
    parquet files under ``dest_dir`` (one file per date per task,
    rows sorted by (mid, topic) per Arrow batch -- the MergeTree
    ORDER BY locality at batch granularity), tracking rows and
    min/max stats."""
    import uuid

    import pyarrow as pa
    import pyarrow.compute as pc

    from mqtt_message_pump_spark.sinks import _stat_str

    task_id = uuid.uuid4().hex[:8]
    writers: dict = {}
    msg = _SinkWriteMessage()
    lo: dict = {}
    hi: dict = {}
    try:
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            if "collect_date" not in tbl.column_names:
                raise ValueError(
                    "manifest_sink writer requires a collect_date column "
                    "(the sink layout is date-partitioned)"
                )
            if len(tbl) == 0:
                continue
            sort_keys = [
                (c, "ascending")
                for c in ("mid", "topic")
                if c in tbl.column_names
            ]
            if sort_keys:
                tbl = tbl.sort_by(sort_keys)
            msg.rows += len(tbl)
            for c in _WRITE_STAT_COLS:
                if c not in tbl.column_names:
                    continue
                mm = pc.min_max(tbl.column(c))
                mn, mx = mm["min"].as_py(), mm["max"].as_py()
                if mn is None or mx is None:
                    continue
                mn, mx = _stat_str(mn), _stat_str(mx)
                if c not in lo or mn < lo[c]:
                    lo[c] = mn
                if c not in hi or mx > hi[c]:
                    hi[c] = mx
            dcol = tbl.column("collect_date")
            for d in pc.unique(dcol):
                dval = d.as_py()
                if dval is None:
                    dstr = "__HIVE_DEFAULT_PARTITION__"
                    mask = pc.is_null(dcol)
                else:
                    dstr = dval.isoformat()
                    mask = pc.equal(dcol, d)
                sub = tbl.filter(mask).drop_columns(["collect_date"])
                if dstr not in writers:
                    pdir = f"{dest_dir}/collect_date={dstr}"
                    fs.mkdirs(f"{table_path}/{pdir}")
                    rel = f"{pdir}/part-{task_id}.parquet"
                    writers[dstr] = (
                        rel,
                        fs.parquet_writer(f"{table_path}/{rel}", sub.schema),
                    )
                    msg.files.append((rel, dstr))
                writers[dstr][1].write_table(sub)
    finally:
        for _rel, w in writers.values():
            w.close()
    msg.stats = {c: [lo[c], hi[c]] for c in lo if c in hi}
    return msg


def _fold_messages(messages):
    files, dates, rows = [], set(), 0
    stats: dict = {}
    for m in messages:
        if m is None:
            continue
        rows += m.rows
        for rel, dstr in m.files:
            files.append(rel)
            dates.add(dstr)
        for c, (mn, mx) in m.stats.items():
            if c not in stats:
                stats[c] = [mn, mx]
            else:
                stats[c][0] = min(stats[c][0], mn)
                stats[c][1] = max(stats[c][1], mx)
    return sorted(files), sorted(dates), rows, stats


def _driver_bloom(fs, table_path: str, files, rows: int, schema) -> "dict | None":
    """Bloom sidecar specs for a just-committed batch, built by the
    driver-side pyarrow pass under the size guard (the commit runs in a
    plain Python worker -- no SparkSession to fan the build out, so
    above the guard the batch ships without a bloom: conservative,
    never wrong)."""
    from mqtt_message_pump_spark.functions import bloom as B

    cols = [c for c in ("mid", "topic") if c in schema.fieldNames()]
    if not cols or rows == 0 or rows > B.DRIVER_BUILD_MAX_ROWS:
        return None
    try:
        return B.bloom_build_arrow(fs, table_path, files, cols, rows)
    except Exception:
        return None


def _publish_batch_manifest(
    fs, table_path: str, name: str, manifest: dict, bloom_specs,
) -> None:
    import json as _json

    from mqtt_message_pump_spark.functions import bloom as B

    if bloom_specs:
        publish_object(
            fs,
            f"{table_path}/{manifest['dir']}",
            B.BLOOM_SIDECAR,
            _json.dumps(
                {"fpp": B.DEFAULT_FPP, "cols": bloom_specs}, sort_keys=True
            ).encode(),
        )
    publish_object(
        fs,
        f"{table_path}/_manifests",
        name,
        _json.dumps(manifest, sort_keys=True).encode("utf-8"),
    )


class ManifestSinkBatchWriter(DataSourceArrowWriter):
    """``df.write.format("manifest_sink").option("path", p).save()``:
    every task writes its rows ONCE into a unique attempt dir (never
    renamed), and the driver-side ``commit`` publishes ONE per-batch
    manifest -- the exact commit protocol of
    :func:`sinks.append_batch_manifest`, expressed natively through
    Spark's writer API (task writes -> commit messages -> atomic
    driver publish).  A task failure or job abort leaves only an
    unreferenced attempt dir (vacuum reclaims it); readers never see a
    partial batch.

    Options: ``path`` (required); ``epoch``/``batch_id`` to place the
    batch in an existing lineage (idempotent republish semantics);
    default is a fresh single-batch lineage per save.
    ``mode("overwrite")`` publishes a consolidated manifest that
    supersedes every live batch -- an atomic replace-table; a
    concurrent tail that had not fully drained the old contents fails
    loudly with ``TailLost``, exactly the compaction contract."""

    def __init__(self, options, schema, overwrite: bool) -> None:
        import uuid

        self._fs, self.path = fs_for(
            options["path"], impl=options.get("fs_impl")
        )
        self._schema = schema
        self._overwrite = overwrite
        self._epoch = (
            _check_epoch_namespace(options.get("epoch"))
            or f"w{uuid.uuid4().hex[:8]}"
        )
        self._batch_id = int(options.get("batch_id", "0"))
        key = f"b{self._epoch}-{self._batch_id}"
        self._attempt = f"_data/{key}-a{uuid.uuid4().hex[:8]}"
        self._fencing = options.get("writer_fencing", "false").lower() == "true"
        self._lease_secs = float(options.get("writer_lease_secs", "120"))
        self._lease = None

    def write(self, iterator):
        return _write_task_files(
            self._fs, self.path, self._attempt, iterator
        )

    def commit(self, messages) -> None:
        import json as _json
        import uuid

        files, dates, rows, stats = _fold_messages(messages)
        if not files:
            return  # empty frame: nothing to commit
        if self._fencing:
            # same _writer.json object as sinks.ensure_writer_lease, so
            # native and JVM-side writers fence each other symmetrically
            self._lease = ensure_writer_lease_py(
                self._fs, self.path, owner=self._epoch,
                lease_secs=self._lease_secs, held=self._lease,
            )
        manifest = {
            "batch_id": self._batch_id,
            "epoch": self._epoch,
            "dir": self._attempt,
            "files": files,
            "dates": dates,
            "rows": rows,
            "schema": _json.loads(self._schema.json()),
        }
        if stats:
            manifest["stats"] = stats
        name = f"b{self._epoch}-{self._batch_id}.json"
        if self._overwrite:
            live = live_set(self._fs, self.path)
            victims = sorted(
                {m["name"] for m in live}
                | {v for m in live for v in m.get("supersedes", [])}
            )
            if victims:
                # atomic replace-table: ONE consolidated manifest whose
                # unconditional supersedes retires every live batch
                manifest["kind"] = "compact"
                manifest["supersedes"] = victims
                name = f"c-ow-{uuid.uuid4().hex[:12]}.json"
                manifest.pop("batch_id")
                manifest.pop("epoch")
        bloom = _driver_bloom(
            self._fs, self.path, files, rows, self._schema
        )
        _publish_batch_manifest(self._fs, self.path, name, manifest, bloom)

    def abort(self, messages) -> None:
        self._fs.delete(f"{self.path}/{self._attempt}", recursive=True)


class ManifestSinkStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("manifest_sink")``: replay-idempotent
    exactly-once streaming appends WITHOUT ``foreachBatch`` -- tasks
    stage each micro-batch's files once, and the driver-side
    ``commit(messages, batchId)`` moves them into a per-batch attempt
    dir and publishes the ``b<epoch>-<batchId>`` manifest atomically.
    A replayed micro-batch republishes the same key pointing at its new
    attempt; the old attempt is unreferenced and vacuumed -- identical
    semantics to :func:`sinks.write_append` under the manifest
    protocol.

    The lineage ``epoch`` comes from ``.option("epoch", ...)`` or is
    derived from ``checkpointLocation``, so a restart of the same
    checkpoint keeps its batch keys and a different query gets its own
    lineage.  The file moves happen BEFORE the manifest publish and are
    invisible until it (visibility is controlled solely by the
    manifest), so multi-file rename atomicity is not relied upon."""

    def __init__(self, options, schema, overwrite: bool) -> None:
        import hashlib

        self._fs, self.path = fs_for(
            options["path"], impl=options.get("fs_impl")
        )
        self._schema = schema
        ck = options.get("checkpointlocation") or options.get(
            "checkpointLocation"
        )
        self._epoch = _check_epoch_namespace(options.get("epoch")) or (
            "sw" + hashlib.md5(ck.encode()).hexdigest()[:8]
            if ck
            else "sw-default"
        )
        self._fencing = options.get("writer_fencing", "false").lower() == "true"
        self._lease_secs = float(options.get("writer_lease_secs", "120"))
        self._lease = None

    def write(self, iterator):
        import uuid

        stage = f"_data/.stage-{self._epoch}-{uuid.uuid4().hex[:8]}"
        return _write_task_files(self._fs, self.path, stage, iterator)

    def _stage_dirs(self, messages) -> "set[str]":
        return {
            rel.split("/collect_date=")[0]
            for m in messages
            if m is not None
            for rel, _d in m.files
        }

    def commit(self, messages, batchId: int) -> None:
        import json as _json
        import uuid

        files, dates, rows, stats = _fold_messages(messages)
        if not files:
            return
        if self._fencing:
            # owner = the checkpoint-derived epoch: a restart of the
            # same checkpoint resumes its own lease instantly, a second
            # query onto this path raises WriterFenced on first commit
            self._lease = ensure_writer_lease_py(
                self._fs, self.path, owner=self._epoch,
                lease_secs=self._lease_secs, held=self._lease,
            )
        key = f"b{self._epoch}-{batchId}"
        attempt = f"_data/{key}-a{uuid.uuid4().hex[:8]}"
        moved = []
        for rel in files:
            dpart = rel.split("/")[-2]  # collect_date=<d>
            fname = rel.split("/")[-1]
            dest_rel = f"{attempt}/{dpart}/{fname}"
            self._fs.mkdirs(f"{self.path}/{attempt}/{dpart}")
            self._fs.rename(
                f"{self.path}/{rel}", f"{self.path}/{dest_rel}"
            )
            moved.append(dest_rel)
        for sd in self._stage_dirs(messages):
            self._fs.delete(f"{self.path}/{sd}", recursive=True)
        manifest = {
            "batch_id": batchId,
            "epoch": self._epoch,
            "dir": attempt,
            "files": sorted(moved),
            "dates": dates,
            "rows": rows,
            "schema": _json.loads(self._schema.json()),
        }
        if stats:
            manifest["stats"] = stats
        bloom = _driver_bloom(
            self._fs, self.path, sorted(moved), rows, self._schema
        )
        _publish_batch_manifest(
            self._fs, self.path, f"{key}.json", manifest, bloom
        )

    def abort(self, messages, batchId: int) -> None:
        for sd in self._stage_dirs(messages):
            self._fs.delete(f"{self.path}/{sd}", recursive=True)
