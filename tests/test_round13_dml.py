"""Round-13 DML + upsert surface on manifest sinks.

1. Row-level DELETE (``delete_sink_where``): copy-on-write at batch
   granularity, candidates pruned by the same manifest stats / bloom
   sidecars the read path uses -- a point delete on N batches rewrites
   O(matching batches), the right-to-erasure shape at 100 TB.  The
   reference delegates this surface to ClickHouse mutations
   (``ALTER TABLE ... DELETE``); our sink owns it.
2. Row-level UPDATE (``update_sink_where``): SET expressions evaluated
   against the ORIGINAL row, partition column immutable, stale min/max
   stats dropped rather than served wrong.
3. ReplacingMergeTree parity for the manifest protocol: the upsert
   FINAL read (``read_sink(collapse_keys=...)``, ``collapse_latest``)
   and the background-merge analog
   (``compact_sink(collapse_keys=...)``).  Reference anchor: the
   ``replacingengine`` INI option / ``_mergetree_engine``
   (``data_dbstore.go:109-133``) whose jdbc twin is
   ``replay_collapse_sql``.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from mqtt_message_pump_spark import sinks as S
from mqtt_message_pump_spark.config import StoreConf
from mqtt_message_pump_spark.sinks import (
    restore_sink,
    append_batch_manifest,
    collapse_latest,
    compact_sink,
    count_sink,
    delete_sink_where,
    read_sink,
    read_sink_since,
    snapshot_sink,
    update_sink_where,
    vacuum_sink,
)


def _frame(spark, rows):
    """rows: (mid, topic, payload, 'YYYY-MM-DD[ HH:MM:SS]')"""
    return (
        spark.createDataFrame(
            rows, ["mid", "topic", "payload", "d"]
        ).select(
            "mid", "topic", "payload",
            F.to_timestamp("d").alias("collect_datetime"),
            F.to_date(F.substring("d", 1, 10)).alias("collect_date"),
        )
    )


def _store():
    return StoreConf(commit_protocol="manifest")


def _manifests(table_path):
    out = {}
    mdir = os.path.join(table_path, "_manifests")
    for n in os.listdir(mdir):
        if n.endswith(".json"):
            with open(os.path.join(mdir, n)) as fh:
                out[n] = json.load(fh)
    return out


def _mk_sink(spark, tmp_path, n_batches=3, per=20):
    """n_batches batches of ``per`` rows each; batch b holds mids
    m<b*100>..m<b*100+per-1> over two dates -- disjoint mid ranges so
    stats/bloom pruning is decidable per batch."""
    tp = str(tmp_path / "sink")
    for b in range(n_batches):
        rows = [
            (
                f"m{b * 100 + i:04d}",
                f"t/{b}",
                f"p{b * 100 + i}",
                f"2024-01-0{1 + i % 2} 00:00:{i % 60:02d}",
            )
            for i in range(per)
        ]
        append_batch_manifest(_frame(spark, rows), _store(), tp, b)
    return tp


# ------------------------------------------------------------- DELETE ---


class TestDeleteSink:
    def test_point_delete_prunes_to_one_batch(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path)
        before = _manifests(tp)
        res = delete_sink_where(spark, tp, eq={"mid": "m0105"})
        # stats (disjoint mid ranges) prune batches 0 and 2 before any IO
        assert res["live_batches"] == 3
        assert res["candidate_batches"] == 1
        assert res["rows_deleted"] == 1
        assert len(res["rewritten"]) == 1
        after = _manifests(tp)
        # untouched batches: byte-identical manifests on disk
        for n, m in before.items():
            if n not in res["swapped"]:
                assert after[n] == m
        # rewritten batch: published under a FRESH name superseding the
        # victim (atomic swap -- no same-name delete->rename gap), fresh
        # attempt dir, rows decremented
        assert res["swapped"] == {"b1.json": res["rewritten"][0]}
        name = res["rewritten"][0]
        assert name != "b1.json"
        assert "b1.json" in after[name]["supersedes"]
        assert after[name]["dir"] != before["b1.json"]["dir"]
        assert after[name]["rows"] == before["b1.json"]["rows"] - 1
        assert read_sink(spark, tp).filter("mid = 'm0105'").count() == 0
        assert read_sink(spark, tp).count() == 59

    def test_bloom_rebuilt_probe_skips_batch(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path)
        delete_sink_where(spark, tp, eq={"mid": "m0105"})
        # read_sink(eq=) does NOT row-filter: rows coming back would mean
        # the rewritten batch was scanned.  Empty = whole-batch skip, i.e.
        # the rebuilt bloom (or narrowed interval) excludes the deleted key.
        assert read_sink(spark, tp, eq={"mid": "m0105"}).count() == 0
        # and the rewritten attempt carries a fresh sidecar
        ms = _manifests(tp)
        d = next(
            m["dir"] for m in ms.values()
            if "dir" in m and m["dir"].startswith("_data/u-")
        )
        assert os.path.exists(os.path.join(tp, d, "_bloom.json"))

    def test_full_batch_delete_is_tombstone(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path)
        res = delete_sink_where(spark, tp, where="topic = 't/1'")
        assert res["dropped"] == ["b1.json"]
        assert res["rewritten"] == []  # zero data IO for the full batch
        assert res["rows_deleted"] == 20
        ms = _manifests(tp)
        assert any(m.get("kind") == "drop" for m in ms.values())
        assert read_sink(spark, tp).count() == 40

    def test_null_predicate_keeps_row(self, spark, tmp_path):
        tp = str(tmp_path / "s")
        rows = [
            ("m1", "t", "keep-null", "2024-01-01"),
            ("m2", "t", "aaa", "2024-01-01"),
            ("m3", "t", "zzz", "2024-01-01"),
        ]
        df = _frame(spark, rows).withColumn(
            "payload",
            F.when(F.col("payload") == "keep-null", F.lit(None)).otherwise(
                F.col("payload")
            ),
        )
        append_batch_manifest(df, _store(), tp, 0)
        res = delete_sink_where(spark, tp, where="payload > 'x'")
        assert res["rows_deleted"] == 1  # only 'zzz'; NULL row survives
        left = {r.mid for r in read_sink(spark, tp).collect()}
        assert left == {"m1", "m2"}

    def test_probed_clean_on_bloom_false_positive_shape(
        self, spark, tmp_path
    ):
        # a predicate whose structured hints can't prune (no eq/ranges)
        # but which matches nothing: every batch is probed, none rewritten
        tp = _mk_sink(spark, tmp_path)
        before = _manifests(tp)
        res = delete_sink_where(spark, tp, where="payload = 'absent'")
        assert res["candidate_batches"] == 3
        assert res["probed_clean"] == 3
        assert res["rewritten"] == [] and res["dropped"] == []
        assert _manifests(tp) == before

    def test_time_travel_pin_sees_predml_rows(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path)
        snapshot_sink(spark, tp, min_uncovered=1)
        seq = S.list_snapshots(spark, tp)[-1]["seq"]
        delete_sink_where(spark, tp, eq={"mid": "m0105"})
        pinned = read_sink(spark, tp, as_of=seq)
        assert pinned.filter("mid = 'm0105'").count() == 1
        assert pinned.count() == 60
        # vacuum with retention makes the erasure physical; the pin then
        # fails LOUDLY rather than serving a partial corpus
        vacuum_sink(spark, tp, retention_secs=0.0)
        with pytest.raises(S.SnapshotUnreadable):
            read_sink(spark, tp, as_of=seq).count()

    def test_tail_never_redelivers_rewritten_batch(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path)
        df, cur = read_sink_since(spark, tp, None)
        assert df.count() == 60
        delete_sink_where(spark, tp, eq={"mid": "m0105"})
        df2, cur2 = read_sink_since(spark, tp, cur)
        assert df2 is None or df2.count() == 0

    def test_count_sink_tracks_deletes(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path)
        delete_sink_where(spark, tp, eq={"mid": ["m0105", "m0201"]})
        assert count_sink(spark, tp) == 58

    def test_requires_predicate_and_manifest_protocol(
        self, spark, tmp_path
    ):
        tp = _mk_sink(spark, tmp_path)
        with pytest.raises(ValueError, match="at least one"):
            delete_sink_where(spark, tp)
        plain = str(tmp_path / "plain")
        _frame(spark, [("m1", "t", "p", "2024-01-01")]).write.parquet(plain)
        with pytest.raises(ValueError, match="manifest"):
            delete_sink_where(spark, plain, where="true")

    def test_dates_hint_prunes_and_filters(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path)
        # every batch straddles both dates: dates can't batch-prune, but
        # rows are exactly filtered (unlike read_sink's prune-only arg)
        res = delete_sink_where(spark, tp, dates=["2024-01-02"])
        assert res["candidate_batches"] == 3
        assert res["rows_deleted"] == 30
        left = read_sink(spark, tp)
        assert left.count() == 30
        assert (
            left.filter(F.col("collect_date") == "2024-01-02").count() == 0
        )
        # manifest dates stat narrowed on every LIVE batch (superseded
        # victims' stale files remain on disk until vacuum)
        live_names = set(res["rewritten"])
        assert all(
            m["dates"] == ["2024-01-01"]
            for n, m in _manifests(tp).items()
            if "dir" in m and n in live_names
        ) and len(live_names) == 3

    def test_delete_from_compacted_batch(self, spark, tmp_path):
        # a compact manifest is a batch like any other to DML: same-name
        # republish keeps kind/supersedes, tail cursors ride through
        tp = _mk_sink(spark, tmp_path)
        cname = compact_sink(spark, tp, keep_last=1)
        assert cname is not None
        df, cur = read_sink_since(spark, tp, None)
        assert df.count() == 60
        res = delete_sink_where(spark, tp, eq={"mid": "m0001"})
        assert res["rows_deleted"] == 1
        new_name = res["swapped"][cname]
        assert new_name != cname and res["rewritten"] == [new_name]
        after = _manifests(tp)[new_name]
        assert after["kind"] == "compact"
        # transitive fold: the old compact AND its victims stay retired
        assert cname in after["supersedes"]
        assert len(after["supersedes"]) > 1
        assert read_sink(spark, tp).count() == 59
        df2, _ = read_sink_since(spark, tp, cur)
        assert df2 is None or df2.count() == 0

    def test_vacuum_reclaims_predml_attempts(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path)
        before_dirs = {
            m["dir"] for m in _manifests(tp).values() if "dir" in m
        }
        delete_sink_where(spark, tp, eq={"mid": "m0105"})
        vacuum_sink(spark, tp, retention_secs=0.0)
        victim = next(d for d in before_dirs if d.startswith("_data/b1"))
        assert not os.path.exists(os.path.join(tp, victim))
        assert read_sink(spark, tp).count() == 59


# ------------------------------------------------------------- UPDATE ---


class TestUpdateSink:
    def test_update_set_from_original_row(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path)
        res = update_sink_where(
            spark, tp,
            set={"payload": "concat(topic, ':', payload)"},
            eq={"mid": "m0105"},
        )
        assert res["rows_updated"] == 1
        assert res["candidate_batches"] == 1  # stat/bloom pruned
        got = (
            read_sink(spark, tp)
            .filter("mid = 'm0105'")
            .select("payload")
            .collect()
        )
        assert got == [("t/1:p105",)]
        # untouched rows keep their payloads
        assert (
            read_sink(spark, tp)
            .filter("payload like 't/%'")
            .count() == 1
        )

    def test_rows_stat_preserved_stale_stats_dropped(
        self, spark, tmp_path
    ):
        tp = _mk_sink(spark, tmp_path)
        before = _manifests(tp)["b1.json"]
        assert "topic" in before["stats"]
        res = update_sink_where(
            spark, tp, set={"topic": "'moved/topic'"}, eq={"mid": "m0105"}
        )
        after = _manifests(tp)[res["swapped"]["b1.json"]]
        assert after["rows"] == before["rows"]
        # updated column's interval no longer bounds the data: dropped,
        # not served stale (stat-less = conservatively unprunable)
        assert "topic" not in after.get("stats", {})
        assert "mid" in after.get("stats", {})

    def test_partition_column_immutable(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path)
        with pytest.raises(ValueError, match="collect_date"):
            update_sink_where(
                spark, tp, set={"collect_date": "'2030-01-01'"},
                eq={"mid": "m0105"},
            )
        with pytest.raises(ValueError, match="SET columns"):
            update_sink_where(
                spark, tp, set={"nope": "'x'"}, eq={"mid": "m0105"}
            )
        with pytest.raises(ValueError, match="non-empty"):
            update_sink_where(spark, tp, set={}, where="true")

    def test_update_then_point_read_still_pruned(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path)
        update_sink_where(
            spark, tp, set={"payload": "'X'"}, eq={"mid": "m0105"}
        )
        # the rewritten attempt regrew its bloom: point reads on OTHER
        # batches' keys still skip the rewritten batch
        got = read_sink(spark, tp, eq={"mid": "m0001"})
        assert got.count() == 20  # exactly batch 0, not batch 1


class TestDmlConcurrentReaders:
    def test_reader_never_sees_a_missing_batch(self, spark, tmp_path):
        """The atomic-swap claim under load: UPDATEs keep the row count
        constant, so a reader racing the rewrites must count 60 every
        time -- under a same-name republish the delete->rename gap
        would intermittently drop a whole batch (40)."""
        import threading

        tp = _mk_sink(spark, tmp_path)
        counts, stop = [], threading.Event()

        def _read_loop():
            while not stop.is_set():
                counts.append(read_sink(spark, tp).count())

        t = threading.Thread(target=_read_loop)
        t.start()
        try:
            for i in range(5):
                update_sink_where(
                    spark, tp, set={"payload": f"'pass-{i}'"},
                    eq={"mid": "m0105"},
                )
        finally:
            stop.set()
            t.join()
        assert counts, "reader loop never completed a read"
        assert set(counts) == {60}, sorted(set(counts))


class TestDmlWriterFence:
    def test_live_foreign_lease_blocks_dml(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=2)
        S.ensure_writer_lease(spark, tp, owner="foreign", lease_secs=300)
        S._WRITER_LEASES.pop(tp, None)  # make the lease look foreign
        with pytest.raises(S.WriterFenced, match="maintenance window"):
            delete_sink_where(spark, tp, eq={"mid": "m0001"})
        with pytest.raises(S.WriterFenced):
            update_sink_where(
                spark, tp, set={"payload": "'x'"}, eq={"mid": "m0001"}
            )
        # operator knows the writer is quiesced: force overrides
        res = delete_sink_where(
            spark, tp, eq={"mid": "m0001"}, force=True
        )
        assert res["rows_deleted"] == 1

    def test_own_or_expired_lease_passes(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=2)
        # our own in-process lease (in-line maintenance) passes
        S.ensure_writer_lease(spark, tp, owner="me", lease_secs=300)
        assert delete_sink_where(
            spark, tp, eq={"mid": "m0001"}
        )["rows_deleted"] == 1
        S.release_writer_lease(spark, tp)
        # an expired foreign lease (crashed writer) passes too
        S.ensure_writer_lease(spark, tp, owner="dead", lease_secs=0.0)
        S._WRITER_LEASES.pop(tp, None)
        import time

        time.sleep(0.05)
        assert delete_sink_where(
            spark, tp, eq={"mid": "m0002"}
        )["rows_deleted"] == 1


class TestDmlSchemaEvolutionSeam:
    def _widened_sink(self, spark, tmp_path):
        """batch 0 without the ``extra`` column, batch 1 with it."""
        tp = str(tmp_path / "w")
        append_batch_manifest(
            _frame(spark, [("a1", "t", "p", "2024-01-01"),
                           ("a2", "t", "p", "2024-01-01")]),
            _store(), tp, 0,
        )
        append_batch_manifest(
            _frame(spark, [("b1", "t", "p", "2024-01-01"),
                           ("b2", "t", "p", "2024-01-01")]).withColumn(
                "extra", F.concat(F.lit("x-"), "mid")
            ),
            _store(), tp, 1,
        )
        return tp

    def test_delete_predicate_on_widened_column(self, spark, tmp_path):
        # SQL semantics: pre-widening rows hold NULL in `extra`, so the
        # predicate is NULL there and KEEPS them -- not an AnalysisException
        tp = self._widened_sink(spark, tmp_path)
        res = delete_sink_where(spark, tp, where="extra = 'x-b1'")
        assert res["rows_deleted"] == 1
        left = read_sink(spark, tp, merge_schema=True)
        assert {r.mid for r in left.collect()} == {"a1", "a2", "b2"}
        # batch 0's physical schema unchanged (no silent widening)
        ms = _manifests(tp)
        d0 = ms["b0.json"]["dir"]
        import pyarrow.parquet as pq

        f0 = next(
            f for f in os.listdir(
                os.path.join(tp, d0, "collect_date=2024-01-01")
            )
            if f.endswith(".parquet")
        )
        cols = pq.read_schema(
            os.path.join(tp, d0, "collect_date=2024-01-01", f0)
        ).names
        assert "extra" not in cols

    def test_update_set_widened_column_adds_it(self, spark, tmp_path):
        tp = self._widened_sink(spark, tmp_path)
        res = update_sink_where(
            spark, tp, set={"extra": "'filled'"}, eq={"mid": "a1"}
        )
        assert res["rows_updated"] == 1
        got = {
            r.mid: r.extra
            for r in read_sink(spark, tp, merge_schema=True).collect()
        }
        assert got["a1"] == "filled"
        assert got["a2"] is None  # predicate missed: NULL, not garbage
        assert got["b1"] == "x-b1"

    def test_set_expression_reading_widened_column(self, spark, tmp_path):
        # the SET *input* (not target) is the widened column: NULL on
        # pre-widening batches, real values on post-widening ones
        tp = self._widened_sink(spark, tmp_path)
        res = update_sink_where(
            spark, tp,
            set={"payload": "coalesce(extra, 'no-extra')"},
            where="mid in ('a1', 'b1')",
        )
        assert res["rows_updated"] == 2
        got = {
            r.mid: r.payload
            for r in read_sink(spark, tp, merge_schema=True).collect()
        }
        assert got["a1"] == "no-extra"
        assert got["b1"] == "x-b1"
        assert got["a2"] == "p" and got["b2"] == "p"

    def test_truly_absent_column_still_loud(self, spark, tmp_path):
        tp = self._widened_sink(spark, tmp_path)
        with pytest.raises(Exception, match="nope|NOPE|resolve"):
            delete_sink_where(spark, tp, where="nope = 1")
        with pytest.raises(ValueError, match="SET columns"):
            update_sink_where(
                spark, tp, set={"nope": "'x'"}, where="mid = 'a1'"
            )


class TestRestoreSink:
    """``restore_sink`` -- Delta RESTORE: roll the LIVE state back to a
    retained snapshot, pure metadata."""

    def _grown_sink(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=2)  # 40 rows
        snapshot_sink(spark, tp, min_uncovered=1)
        seq = S.list_snapshots(spark, tp)[-1]["seq"]
        # post-snapshot history: an append, a DML pass, a compaction
        append_batch_manifest(
            _frame(spark, [("post", "t/9", "p", "2024-03-01")]),
            _store(), tp, 2,
        )
        delete_sink_where(spark, tp, eq={"mid": "m0105"})
        compact_sink(spark, tp, keep_last=1)
        assert read_sink(spark, tp).count() == 40  # 40 +1 -1
        return tp, seq

    def test_plain_read_equals_pin_after_restore(self, spark, tmp_path):
        tp, seq = self._grown_sink(spark, tmp_path)
        pinned = sorted(map(str, read_sink(spark, tp, as_of=seq).collect()))
        res = restore_sink(spark, tp, as_of=seq)
        assert res["restored_to"] == seq
        now = sorted(map(str, read_sink(spark, tp).collect()))
        assert now == pinned
        got = read_sink(spark, tp)
        assert got.count() == 40
        assert got.filter("mid = 'm0105'").count() == 1  # delete undone
        assert got.filter("mid = 'post'").count() == 0  # append undone

    def test_restore_is_tail_safe_and_vacuumable(self, spark, tmp_path):
        tp, seq = self._grown_sink(spark, tmp_path)
        df, cur = read_sink_since(spark, tp, None)
        n_before = df.count()
        restore_sink(spark, tp, as_of=seq)
        # caught-up cursor rides through: nothing re-delivered
        df2, _ = read_sink_since(spark, tp, cur)
        assert df2 is None or df2.count() == 0
        # fresh consumer bootstraps on the restored state
        df3, _ = read_sink_since(spark, tp, None)
        assert df3.count() == 40
        # the retired post-snapshot history is reclaimable
        vacuum_sink(spark, tp, retention_secs=0.0)
        assert read_sink(spark, tp).count() == 40
        assert n_before == 40  # pre-restore live state (40 +1 -1)

    def test_restore_is_one_object(self, spark, tmp_path):
        # the whole rollback is ONE snapshot publish: no window where a
        # reader sees neither state, and a crash restores all or nothing
        tp, seq = self._grown_sink(spark, tmp_path)

        def _listing():
            return {
                n
                for n in os.listdir(os.path.join(tp, "_manifests"))
                if n.endswith(".json") and not n.startswith(".")
            }

        before = _listing()
        res = restore_sink(spark, tp, as_of=seq)
        assert _listing() - before == {res["snapshot"]}
        assert res["snapshot"].startswith("s-")
        # idempotent: a second restore to the same seq is a no-op
        res2 = restore_sink(spark, tp, as_of=seq)
        assert res2["snapshot"] is None
        assert res2["dropped"] == [] and res2["resurrected"] == []

    def test_tail_rides_through_swap_then_compact(self, spark, tmp_path):
        # a DML swap compacted away before the tail's next poll: the
        # cursor never marked the swap key, but it saw the ORIGINAL key
        # of that id's replacement lineage -- the fold must ride
        # through, not raise TailLost
        tp = _mk_sink(spark, tmp_path)
        df, cur = read_sink_since(spark, tp, None)
        assert df.count() == 60
        delete_sink_where(spark, tp, eq={"mid": "m0105"})
        compact_sink(spark, tp, keep_last=0)
        df2, _ = read_sink_since(spark, tp, cur)  # no TailLost
        assert df2 is None or df2.count() == 0
        # restore swaps behave the same under a later compaction
        snapshot_sink(spark, tp, min_uncovered=1)
        seq = S.list_snapshots(spark, tp)[-1]["seq"]
        append_batch_manifest(
            _frame(spark, [("late", "t", "p", "2024-05-01")]),
            _store(), tp, 7,
        )
        df3, cur3 = read_sink_since(spark, tp, cur)
        assert df3.count() == 1
        restore_sink(spark, tp, as_of=seq)
        compact_sink(spark, tp, keep_last=0)
        df4, _ = read_sink_since(spark, tp, cur3)  # no TailLost either
        assert df4 is None or df4.count() == 0

    def test_native_stream_reader_rides_swap_compaction(
        self, spark, tmp_path
    ):
        # the sink_tail source's partitions() has its own fold-loss
        # check: give it a caught-up cursor, then DML-swap + compact
        # between "triggers" -- must plan zero data, not raise TailLost
        from mqtt_message_pump_spark.sources.sinktail import (
            SinkTailStreamReader,
        )

        tp = _mk_sink(spark, tmp_path)
        reader = SinkTailStreamReader({"path": tp}, None)
        start = reader.latestOffset()  # caught up through b0..b2
        delete_sink_where(spark, tp, eq={"mid": "m0105"})
        compact_sink(spark, tp, keep_last=0)
        end = reader.latestOffset()
        parts = reader.partitions(start, end)
        planned = [f for p in parts for f in p.files]
        assert planned == []  # nothing re-delivered, no TailLost

    def test_epoch_namespace_reserved_for_swaps(self, spark, tmp_path):
        # STRICT shape only ("u" + 10 hex): a colliding user epoch is
        # rejected on every write path, while u-prefixed but
        # non-colliding epochs ("urgent1", "us-east-1") stay usable
        # AND are never treated as swap lineages by the fold coverage
        tp = _mk_sink(spark, tmp_path, n_batches=1)
        with pytest.raises(ValueError, match="reserved swap"):
            append_batch_manifest(
                _frame(spark, [("x", "t", "p", "2024-01-01")]),
                _store(), tp, 5, epoch="u0123456789",
            )
        from mqtt_message_pump_spark.sources.manifestsink import (
            _check_epoch_namespace,
        )

        with pytest.raises(ValueError, match="reserved"):
            _check_epoch_namespace("uabcdef0123")
        assert _check_epoch_namespace("urgent1") == "urgent1"
        assert _check_epoch_namespace("us-east-1") == "us-east-1"
        assert _check_epoch_namespace("w123") == "w123"
        assert _check_epoch_namespace(None) is None
        assert S._is_swap_epoch("u" + "a" * 10)
        assert not S._is_swap_epoch("urgent1")
        assert not S._is_swap_epoch("user-12345")

    def test_legacy_u_epoch_not_silently_covered(self, spark, tmp_path):
        # a pre-guard user lineage whose epoch merely STARTS with "u"
        # must still raise TailLost when its undelivered batch is
        # folded -- only the exact swap shape rides through
        tp = str(tmp_path / "legacy")
        append_batch_manifest(
            _frame(spark, [("a", "t", "p", "2024-01-01")]),
            _store(), tp, 0, epoch="w1",
        )
        df, cur = read_sink_since(spark, tp, None)
        assert df.count() == 1
        # same batch id, different (legacy-style) lineage, undelivered
        import json

        attempt = next(
            m["dir"] for m in _manifests(tp).values() if "dir" in m
        )
        with open(os.path.join(tp, "_manifests", "buser1-0.json"), "w") as f:
            json.dump({"batch_id": 0, "epoch": "user1", "dir": attempt,
                       "rows": 1}, f)
        compact = {
            "kind": "compact", "dir": attempt, "rows": 2,
            "supersedes": ["bw1-0.json", "buser1-0.json"],
        }
        with open(
            os.path.join(tp, "_manifests", "c-deadbeef0001.json"), "w"
        ) as f:
            json.dump(compact, f)
        os.remove(os.path.join(tp, "_manifests", "bw1-0.json"))
        os.remove(os.path.join(tp, "_manifests", "buser1-0.json"))
        with pytest.raises(S.TailLost):
            read_sink_since(spark, tp, cur)

    def test_as_of_ts_accepts_epoch_second_strings(self):
        # CLI flags / DataSource options arrive as strings
        assert S._as_of_ts_ms("123.5") == 123500.0
        assert S._as_of_ts_ms("2024-01-01T00:00:00+00:00") == 1704067200000.0

    def test_restore_by_timestamp_and_errors(self, spark, tmp_path):
        import time

        tp, seq = self._grown_sink(spark, tmp_path)
        with pytest.raises(ValueError, match="exactly one"):
            restore_sink(spark, tp)
        with pytest.raises(ValueError, match="exactly one"):
            restore_sink(spark, tp, as_of=seq, as_of_ts=time.time())
        with pytest.raises(S.SnapshotUnreadable):
            restore_sink(spark, tp, as_of=99999)
        res = restore_sink(spark, tp, as_of_ts=time.time() + 5)
        # newest snapshot at-or-before now is the CURRENT state (the
        # compaction published no snapshot; _grown_sink's is newest
        # only if compact/DML published none) -- just assert it ran
        assert "restored_to" in res

    def test_restore_blocked_by_live_writer(self, spark, tmp_path):
        tp, seq = self._grown_sink(spark, tmp_path)
        S.ensure_writer_lease(spark, tp, owner="foreign", lease_secs=300)
        S._WRITER_LEASES.pop(tp, None)
        with pytest.raises(S.WriterFenced, match="restore"):
            restore_sink(spark, tp, as_of=seq)
        assert restore_sink(spark, tp, as_of=seq, force=True)[
            "restored_to"
        ] == seq


class TestTimestampTravel:
    """``as_of_ts`` -- time travel by wall clock (Delta's
    ``timestampAsOf``), resolved to the newest snapshot published
    at-or-before the instant, on both the helper and the native
    source."""

    def _two_epoch_sink(self, spark, tmp_path):
        import time

        tp = str(tmp_path / "tt")
        append_batch_manifest(
            _frame(spark, [("a", "t", "p", "2024-01-01")]), _store(), tp, 0
        )
        snapshot_sink(spark, tp, min_uncovered=1)
        time.sleep(1.1)  # separate the two snapshot mtimes clearly
        t_mid = time.time()
        time.sleep(1.1)
        append_batch_manifest(
            _frame(spark, [("b", "t", "p", "2024-01-01")]), _store(), tp, 1
        )
        snapshot_sink(spark, tp, min_uncovered=1)
        return tp, t_mid

    def test_read_sink_as_of_ts(self, spark, tmp_path):
        import time

        tp, t_mid = self._two_epoch_sink(spark, tmp_path)
        assert read_sink(spark, tp, as_of_ts=t_mid).count() == 1
        assert read_sink(spark, tp, as_of_ts=time.time() + 5).count() == 2
        with pytest.raises(S.SnapshotUnreadable, match="at or before"):
            read_sink(spark, tp, as_of_ts=t_mid - 3600)
        with pytest.raises(ValueError, match="not both"):
            read_sink(spark, tp, as_of=1, as_of_ts=t_mid)
        # ISO instant accepted too (UTC)
        import datetime

        iso = datetime.datetime.fromtimestamp(
            t_mid, datetime.timezone.utc
        ).isoformat()
        assert read_sink(spark, tp, as_of_ts=iso).count() == 1

    def test_native_source_as_of_ts(self, spark, tmp_path):
        import time

        from mqtt_message_pump_spark.sources.manifestsink import (
            register_manifest_sink_source,
        )

        tp, t_mid = self._two_epoch_sink(spark, tmp_path)
        register_manifest_sink_source(spark)
        got = (
            spark.read.format("manifest_sink")
            .option("path", tp)
            .option("as_of_ts", str(t_mid))
            .load()
        )
        assert got.count() == 1
        # bit-identity with the seq-pinned read it resolves to
        seq = S.list_snapshots(spark, tp)[0]["seq"]
        pinned = read_sink(spark, tp, as_of=seq)
        assert sorted(map(str, got.collect())) == sorted(
            map(str, pinned.collect())
        )
        now = (
            spark.read.format("manifest_sink")
            .option("path", tp)
            .option("as_of_ts", str(time.time() + 5))
            .load()
        )
        assert now.count() == 2


# ---------------------------------------------------- REPLACING / upsert ---


class TestCollapseLatest:
    def test_version_wins_and_null_loses(self, spark):
        df = spark.createDataFrame(
            [
                ("k1", "old", "2024-01-01 00:00:00"),
                ("k1", "new", "2024-01-02 00:00:00"),
                ("k1", "unversioned", None),
                ("k2", "only", None),
            ],
            ["mid", "payload", "v"],
        ).withColumn("v", F.to_timestamp("v"))
        out = collapse_latest(df, ["mid"], "v").collect()
        got = {r.mid: r.payload for r in out}
        assert got == {"k1": "new", "k2": "only"}

    def test_tie_breaks_deterministically(self, spark):
        df = spark.createDataFrame(
            [("k", 1, "a"), ("k", 1, "b")], ["mid", "v", "payload"]
        )
        for _ in range(3):
            assert collapse_latest(df, ["mid"], "v").collect() == [
                ("k", 1, "b")
            ]

    def test_column_order_and_errors(self, spark):
        df = spark.createDataFrame([("k", 1, "a")], ["mid", "v", "p"])
        assert collapse_latest(df, ["mid"], "v").columns == ["mid", "v", "p"]
        with pytest.raises(ValueError, match="collapse keys"):
            collapse_latest(df, ["absent"])
        with pytest.raises(ValueError, match="version column"):
            collapse_latest(df, ["mid"], "absent")

    def test_map_payload_not_ordered_but_kept(self, spark):
        df = spark.createDataFrame(
            [("k", 2, {"a": "1"}), ("k", 1, {"b": "2"})],
            ["mid", "v", "m"],
        )
        out = collapse_latest(df, ["mid"], "v").collect()
        assert out[0].v == 2 and out[0].m == {"a": "1"}

    def test_plan_is_partial_aggregate(self, spark):
        # map-side combine, not a window over every version: the physical
        # plan must be a two-phase HashAggregate, no Window node
        df = spark.createDataFrame(
            [("k", 1, "a")], ["mid", "v", "p"]
        )
        plan = (
            collapse_latest(df, ["mid"], "v")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Window" not in plan
        # partial_max_by BELOW the exchange = map-side combine: each map
        # task ships at most one candidate row per key, not every version
        assert "partial_max_by" in plan


class TestReadSinkCollapse:
    def test_upsert_final_read(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=2)
        # append a new VERSION of an existing key (upsert = plain append)
        append_batch_manifest(
            _frame(
                spark, [("m0001", "t/0", "v2", "2024-02-01 00:00:00")]
            ),
            _store(), tp, 2,
        )
        final = read_sink(
            spark, tp, collapse_keys=["mid"],
            version_col="collect_datetime",
        )
        assert final.count() == 40  # 41 physical rows, 40 keys
        assert final.filter("mid = 'm0001'").select(
            "payload"
        ).collect() == [("v2",)]
        # plain read still sees both versions (append-only history)
        assert read_sink(spark, tp).count() == 41

    def test_collapse_composes_with_point_prune(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=2)
        append_batch_manifest(
            _frame(
                spark, [("m0001", "t/0", "v2", "2024-02-01 00:00:00")]
            ),
            _store(), tp, 2,
        )
        got = read_sink(
            spark, tp, eq={"mid": "m0001"}, collapse_keys=["mid"],
            version_col="collect_datetime",
        ).filter("mid = 'm0001'")
        assert got.select("payload").collect() == [("v2",)]

    def test_rename_protocol_path_collapses_too(self, spark, tmp_path):
        tp = str(tmp_path / "plain")
        _frame(
            spark,
            [
                ("k", "t", "old", "2024-01-01 00:00:00"),
                ("k", "t", "new", "2024-01-02 00:00:00"),
            ],
        ).write.partitionBy("collect_date").parquet(tp)
        out = read_sink(
            spark, tp, collapse_keys=["mid"],
            version_col="collect_datetime",
        )
        assert out.select("payload").collect() == [("new",)]


class TestFaninCollapse:
    def test_collapse_is_global_across_paths(self, spark, tmp_path):
        # two writers' paths hold different VERSIONS of one key: the
        # FINAL collapse must run over the union, never per path
        a, b = str(tmp_path / "a"), str(tmp_path / "b")
        append_batch_manifest(
            _frame(spark, [("k", "t", "old", "2024-01-01 00:00:00"),
                           ("a-only", "t", "p", "2024-01-01 00:00:00")]),
            _store(), a, 0,
        )
        append_batch_manifest(
            _frame(spark, [("k", "t", "new", "2024-01-02 00:00:00")]),
            _store(), b, 0,
        )
        out = S.read_sink_fanin(
            spark, [a, b], collapse_keys=["mid"],
            version_col="collect_datetime",
        )
        got = {r.mid: r.payload for r in out.collect()}
        assert got == {"k": "new", "a-only": "p"}


class TestCompactCollapse:
    def test_physical_merge_drops_old_versions(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=2)
        append_batch_manifest(
            _frame(
                spark, [("m0001", "t/0", "v2", "2024-02-01 00:00:00")]
            ),
            _store(), tp, 2,
        )
        name = compact_sink(
            spark, tp, keep_last=0, collapse_keys=["mid"],
            version_col="collect_datetime",
        )
        assert name is not None
        # old versions PHYSICALLY gone: plain read is already final
        plain = read_sink(spark, tp)
        assert plain.count() == 40
        assert plain.filter("mid = 'm0001'").select(
            "payload"
        ).collect() == [("v2",)]
        m = _manifests(tp)[name]
        assert m["rows"] == 40  # recounted, not summed
        assert m["collapsed"]["keys"] == ["mid"]
        assert m["collapsed"]["version_col"] == "collect_datetime"

    def test_versionless_physical_merge_refused(self, spark, tmp_path):
        # content-max is not last-write-wins: a version-less collapse
        # may only run at READ time (non-destructive), never physically
        tp = _mk_sink(spark, tmp_path, n_batches=2)
        with pytest.raises(ValueError, match="requires version_col"):
            compact_sink(spark, tp, keep_last=0, collapse_keys=["mid"])

    def test_collapsed_and_plain_compactions_distinct_identity(
        self, spark, tmp_path
    ):
        tp = _mk_sink(spark, tmp_path, n_batches=2)
        import hashlib

        n1 = compact_sink(spark, tp, keep_last=0)
        # recompacting the compacted sink needs >=2 victims; just check
        # the naming rule directly instead of a second run
        ident = "|".join(["a", "b"])
        plain = hashlib.md5(ident.encode()).hexdigest()[:12]
        coll = hashlib.md5(
            (ident + "#collapse=mid@v").encode()
        ).hexdigest()[:12]
        assert n1 is not None and plain != coll

    def test_tail_contract_through_collapse_compact(self, spark, tmp_path):
        # a collapse compaction is a compaction to the CDF: caught-up
        # cursors ride through silently (collapsed-away versions are not
        # retracted), a lagging cursor fails LOUDLY with TailLost
        tp = _mk_sink(spark, tmp_path, n_batches=2)
        df, cur = read_sink_since(spark, tp, None)
        assert df.count() == 40
        append_batch_manifest(
            _frame(
                spark, [("m0001", "t/0", "v2", "2024-02-01 00:00:00")]
            ),
            _store(), tp, 2,
        )
        df2, cur2 = read_sink_since(spark, tp, cur)
        assert df2.count() == 1  # the new version, delivered once
        compact_sink(
            spark, tp, keep_last=0, collapse_keys=["mid"],
            version_col="collect_datetime",
        )
        df3, _ = read_sink_since(spark, tp, cur2)
        assert df3 is None or df3.count() == 0  # nothing re-delivered
        # a cursor that had NOT yet seen batch 2 lost it to the merge
        with pytest.raises(S.TailLost):
            read_sink_since(spark, tp, cur)
        # a fresh consumer bootstraps on the merged state only
        df4, _ = read_sink_since(spark, tp, None)
        assert df4.count() == 40

    def test_merge_vs_final_contract_with_keep_last(self, spark, tmp_path):
        # keep_last leaves the newest version OUT of the merge: physical
        # collapse alone is partial (exactly ClickHouse merges), the
        # FINAL read over the compacted sink is still exact
        tp = _mk_sink(spark, tmp_path, n_batches=2)
        append_batch_manifest(
            _frame(
                spark, [("m0001", "t/0", "v2", "2024-02-01 00:00:00")]
            ),
            _store(), tp, 2,
        )
        compact_sink(
            spark, tp, keep_last=1, collapse_keys=["mid"],
            version_col="collect_datetime",
        )
        assert read_sink(spark, tp).count() == 41  # both versions live
        final = read_sink(
            spark, tp, collapse_keys=["mid"],
            version_col="collect_datetime",
        )
        assert final.count() == 40
        assert final.filter("mid = 'm0001'").select(
            "payload"
        ).collect() == [("v2",)]


class TestBatchedProbe:
    """The one-job union probe (engaged above 16 candidates): same
    results and counters as the per-batch path, with clean candidates
    never entering the rewrite pool."""

    def test_point_delete_over_many_candidates(self, spark, tmp_path):
        # payload has no stats/bloom coverage, so every batch is a
        # candidate -- 20 > the batched-probe gate
        tp = _mk_sink(spark, tmp_path, n_batches=20, per=3)
        res = delete_sink_where(spark, tp, where="payload = 'p501'")
        assert res["candidate_batches"] == 20
        assert res["rows_deleted"] == 1
        assert len(res["rewritten"]) + len(res["dropped"]) == 1
        assert res["probed_clean"] == 19
        assert read_sink(spark, tp).count() == 59
        assert (
            read_sink(spark, tp).filter("payload = 'p501'").count() == 0
        )

    def test_update_with_widened_set_over_many(self, spark, tmp_path):
        tp = str(tmp_path / "sink")
        legacy = spark.createDataFrame(
            [("k-legacy", "p0")], ["mid", "payload"]
        ).withColumn("collect_date", F.to_date(F.lit("2024-01-01")))
        append_batch_manifest(legacy, _store(), tp, 99, epoch="old")
        for b in range(19):
            rows = [
                (f"m{b * 100 + i:04d}", f"t/{b}", f"p{b * 100 + i}",
                 "2024-01-01 00:00:01")
                for i in range(2)
            ]
            append_batch_manifest(_frame(spark, rows), _store(), tp, b)
        # topic is widened relative to the legacy batch; predicate
        # references it, SET writes it -- the batched probe must pad
        res = update_sink_where(
            spark, tp,
            set={"topic": "'FIXED'"},
            where="topic IS NULL OR mid = 'm0001'",
        )
        assert res["candidate_batches"] == 20
        assert res["rows_updated"] == 2  # k-legacy (NULL topic) + m0001
        got = {
            r["mid"]: r["topic"]
            for r in read_sink(spark, tp, merge_schema=True)
            .filter("topic = 'FIXED'")
            .collect()
        }
        assert set(got) == {"k-legacy", "m0001"}

    def test_bad_set_column_still_raises(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=20, per=2)
        with pytest.raises(ValueError, match="SET columns not in sink"):
            update_sink_where(
                spark, tp, set={"nope": "'x'"}, where="payload = 'zz'"
            )

    def test_all_clean_touches_nothing(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=20, per=2)
        res = delete_sink_where(
            spark, tp, where="payload = 'absent-value'"
        )
        assert res["candidate_batches"] == 20
        assert res["probed_clean"] == 20
        assert res["rewritten"] == [] and res["dropped"] == []
        assert res["rows_deleted"] == 0
        assert read_sink(spark, tp).count() == 40


class TestBatchedProbePadRegression:
    def test_set_on_missing_column_with_resolvable_pred(
        self, spark, tmp_path, monkeypatch
    ):
        """Regression (review): under the batched probe, an UPDATE
        whose predicate RESOLVES on a pre-widening batch but whose SET
        column it lacks must pad (managed evolution), not raise 'SET
        columns not in sink schema'."""
        tp = str(tmp_path / "sink")
        legacy = spark.createDataFrame(
            [("k-legacy", "p0")], ["mid", "payload"]
        ).withColumn("collect_date", F.to_date(F.lit("2024-01-01")))
        append_batch_manifest(legacy, _store(), tp, 99, epoch="old")
        for b in range(19):
            rows = [
                (f"m{b * 100 + i:04d}", f"t/{b}", f"p{b * 100 + i}",
                 "2024-01-01 00:00:01")
                for i in range(2)
            ]
            append_batch_manifest(_frame(spark, rows), _store(), tp, b)
        res = update_sink_where(
            spark, tp, set={"topic": "'FIXED'"},
            where="mid = 'k-legacy'",
        )
        assert res["rows_updated"] == 1
        got = read_sink(spark, tp, merge_schema=True).filter(
            "mid = 'k-legacy'"
        ).collect()[0]
        assert got["topic"] == "FIXED"
        # and under the batched probe at any candidate count
        monkeypatch.setattr(S, "_PROBE_UNION_MIN", 0)
        res2 = delete_sink_where(
            spark, tp, where="payload = 'p101'",
        )
        assert res2["rows_deleted"] == 1
