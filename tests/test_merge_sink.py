"""MERGE INTO on manifest sinks (``sinks.merge_sink``) -- the third leg
of the DML triad: the SOURCE-driven upsert (Delta ``MERGE INTO target
USING source ON keys``), reduced to the manifest protocol.  The
reference's upsert story is ReplacingMergeTree's lazy collapse
(``data_dbstore.go:109-133``), already mirrored by
``read_sink(collapse_keys=...)``; MERGE is the EAGER twin -- state
converges at write time, readers need no FINAL pass.

Covered here: update/insert/delete clause semantics vs a hand-computed
expected state, exact candidate pruning (stats + blooms, false
positives never rewrite), the SQL MERGE cardinality rule, idempotent
re-run under a pinned ``merge_id``, full-sync
``when_not_matched_by_source``, schema alignment + widened-column SET,
writer fencing, and CDF/tail ride-through of the swaps.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from mqtt_message_pump_spark import sinks as S
from mqtt_message_pump_spark.config import StoreConf
from mqtt_message_pump_spark.sinks import (
    WriterFenced,
    append_batch_manifest,
    merge_sink,
    read_sink,
    read_sink_since,
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
    """Disjoint mid ranges per batch (m<b*100>..) so pruning is exact."""
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


def _rows(spark, tp, **kw):
    return {
        (r["mid"], r["topic"], r["payload"])
        for r in read_sink(spark, tp, **kw).collect()
    }


class TestMergeUpdateInsert:
    def test_update_and_insert(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path)
        before = _manifests(tp)
        src = _frame(
            spark,
            [
                # source carries a DIFFERENT collect_date for m0105 --
                # the partition column must stay immutable under MERGE
                ("m0105", "t/new", "UPDATED-105", "2024-01-09 00:00:05"),
                ("m0112", "t/new", "UPDATED-112", "2024-01-01 00:00:12"),
                ("m9999", "t/new", "INSERTED", "2024-01-03 00:00:00"),
            ],
        )
        res = merge_sink(spark, tp, src, on=["mid"], merge_id="merge-a")
        assert res["live_batches"] == 3
        # disjoint mid stats prune batches 0 and 2 up front
        assert res["candidate_batches"] == 1
        assert res["touched_batches"] == 1
        assert res["rows_updated"] == 2
        assert res["rows_inserted"] == 1
        assert res["rows_deleted"] == 0
        got = _rows(spark, tp)
        assert ("m0105", "t/new", "UPDATED-105") in got
        assert ("m0112", "t/new", "UPDATED-112") in got
        assert ("m9999", "t/new", "INSERTED") in got
        assert not any(m == "m0105" and p == "p105" for m, _, p in got)
        assert read_sink(spark, tp).count() == 61
        after = _manifests(tp)
        # untouched batches byte-identical; victim atomically swapped
        for n, m in before.items():
            if n not in res["swapped"]:
                assert after[n] == m
        (victim,) = res["swapped"]
        assert victim == "b1.json"
        new_name = res["swapped"][victim]
        assert victim in after[new_name]["supersedes"]
        # updated columns' stale min/max stats dropped, mid's kept
        assert "mid" in after[new_name].get("stats", {})
        assert "topic" not in after[new_name].get("stats", {})
        # insert appended under the merge_id-derived key
        assert res["insert_manifest"] in after
        assert after[res["insert_manifest"]]["rows"] == 1
        # collect_date is NEVER updated in place (partition immutable):
        # the source row says 01-09, the target row keeps its 01-02
        d = (
            read_sink(spark, tp)
            .filter("mid = 'm0105'")
            .select("collect_date")
            .collect()[0][0]
        )
        assert str(d) == "2024-01-02"

    def test_update_expected_state_full(self, spark, tmp_path):
        """Whole-table expected-state check against a hand-built model."""
        tp = _mk_sink(spark, tmp_path, n_batches=2, per=10)
        model = {
            f"m{b * 100 + i:04d}": (f"t/{b}", f"p{b * 100 + i}")
            for b in range(2)
            for i in range(10)
        }
        src_rows = [
            ("m0003", "T", "U3", "2024-01-01"),
            ("m0107", "T", "U7", "2024-01-01"),
            ("mZZ01", "T", "I1", "2024-01-05"),
            ("mZZ02", "T", "I2", "2024-01-05"),
        ]
        merge_sink(spark, tp, _frame(spark, src_rows), on=["mid"])
        for mid, t, p, _ in src_rows:
            model[mid] = (t, p)
        got = {
            r["mid"]: (r["topic"], r["payload"])
            for r in read_sink(spark, tp).collect()
        }
        assert got == model

    def test_bloom_false_positive_never_rewrites(self, spark, tmp_path):
        """In-range absent keys reach candidates via stats but the exact
        discovery join filters them: probed_clean, no rewrite."""
        tp = _mk_sink(spark, tmp_path)
        # in batch-1's mid interval but absent (odd suffix not written)
        src = _frame(spark, [("m0150x", "t", "nope", "2024-01-01")])
        res = merge_sink(
            spark, tp, src, on=["mid"], when_not_matched=None
        )
        assert res["touched_batches"] == 0
        assert res["rewritten"] == [] and res["dropped"] == []
        assert res["probed_clean"] == res["candidate_batches"]
        assert read_sink(spark, tp).count() == 60

    def test_set_exprs_see_target_and_source(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=1, per=5)
        src = _frame(spark, [("m0002", "SRC", "x", "2024-01-01")])
        res = merge_sink(
            spark, tp, src, on=["mid"],
            when_matched={
                "payload": "concat(payload, '+', s_payload)",
                "topic": "s_topic",
            },
            when_not_matched=None,
        )
        assert res["rows_updated"] == 1
        row = (
            read_sink(spark, tp).filter("mid = 'm0002'").collect()[0]
        )
        assert row["payload"] == "p2+x"
        assert row["topic"] == "SRC"

    def test_matched_where_gates_update_not_insert(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=1, per=5)
        src = _frame(
            spark,
            [
                ("m0001", "t", "U1", "2024-01-01"),
                ("m0002", "t", "U2", "2024-01-01"),
            ],
        )
        res = merge_sink(
            spark, tp, src, on=["mid"],
            matched_where="payload = 'p1'",
        )
        # only m0001 passes the gate; m0002 stays unchanged but is
        # MATCHED, so it must not insert (ON alone decides NOT MATCHED)
        assert res["rows_updated"] == 1
        assert res["rows_inserted"] == 0
        got = _rows(spark, tp)
        assert ("m0001", "t", "U1") in got
        assert ("m0002", "t/0", "p2") in got
        assert read_sink(spark, tp).count() == 5


class TestMergeDelete:
    def test_delete_matched_and_whole_batch_tombstone(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path)
        before = _manifests(tp)
        # all 20 mids of batch 2 + one mid of batch 0
        rows = [
            (f"m{200 + i:04d}", "t", "x", "2024-01-01") for i in range(20)
        ] + [("m0007", "t", "x", "2024-01-01")]
        res = merge_sink(
            spark, tp, _frame(spark, rows), on=["mid"],
            when_matched="delete", when_not_matched=None,
        )
        assert res["rows_deleted"] == 21
        # batch 2 fully matched -> zero-IO drop tombstone, not a rewrite
        assert res["dropped"] == ["b2.json"]
        assert len(res["rewritten"]) == 1
        after = _manifests(tp)
        assert after[res["rewritten"][0]]["rows"] == 19
        assert "b2.json" in before  # victim existed before the merge
        assert read_sink(spark, tp).count() == 39
        assert read_sink(spark, tp).filter("mid = 'm0007'").count() == 0

    def test_not_matched_by_source_full_sync(self, spark, tmp_path):
        """Target converges to exactly the source's key set."""
        tp = _mk_sink(spark, tmp_path, n_batches=2, per=4)
        src = _frame(
            spark,
            [
                ("m0001", "S", "s1", "2024-01-01"),
                ("m0102", "S", "s2", "2024-01-01"),
                ("mNEW1", "S", "s3", "2024-01-04"),
            ],
        )
        res = merge_sink(
            spark, tp, src, on=["mid"],
            when_not_matched_by_source="delete",
        )
        assert res["rows_inserted"] == 1
        assert res["rows_updated"] == 2
        assert res["rows_deleted"] == 6
        got = {r["mid"] for r in read_sink(spark, tp).collect()}
        assert got == {"m0001", "m0102", "mNEW1"}

    def test_not_matched_by_source_where(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=1, per=6)
        src = _frame(spark, [("m0000", "t", "u", "2024-01-01")])
        res = merge_sink(
            spark, tp, src, on=["mid"],
            when_matched=None, when_not_matched=None,
            when_not_matched_by_source="delete",
            not_matched_by_source_where="payload = 'p3'",
        )
        assert res["rows_deleted"] == 1
        got = {r["mid"] for r in read_sink(spark, tp).collect()}
        assert got == {"m0000", "m0001", "m0002", "m0004", "m0005"}


class TestMergeCardinalityAndValidation:
    def test_duplicate_matched_source_key_raises(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=1, per=5)
        src = _frame(
            spark,
            [
                ("m0001", "t", "a", "2024-01-01"),
                ("m0001", "t", "b", "2024-01-01"),
            ],
        )
        with pytest.raises(ValueError, match="at most one source row"):
            merge_sink(spark, tp, src, on=["mid"])

    def test_duplicate_unmatched_keys_insert_both(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=1, per=5)
        src = _frame(
            spark,
            [
                ("mNEW", "t", "a", "2024-01-01"),
                ("mNEW", "t", "b", "2024-01-01"),
            ],
        )
        res = merge_sink(spark, tp, src, on=["mid"])
        assert res["rows_inserted"] == 2
        assert read_sink(spark, tp).filter("mid = 'mNEW'").count() == 2

    def test_validation_errors(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=1, per=3)
        src = _frame(spark, [("m0001", "t", "x", "2024-01-01")])
        with pytest.raises(ValueError, match="no clause"):
            merge_sink(
                spark, tp, src, on=["mid"],
                when_matched=None, when_not_matched=None,
            )
        with pytest.raises(ValueError, match="key/partition"):
            merge_sink(
                spark, tp, src, on=["mid"],
                when_matched={"collect_date": "s_collect_date"},
            )
        with pytest.raises(ValueError, match="ON columns not in source"):
            merge_sink(spark, tp, src.drop("mid"), on=["mid"])
        with pytest.raises(ValueError, match="matched_where requires"):
            merge_sink(
                spark, tp, src, on=["mid"], when_matched=None,
                matched_where="1=1",
            )
        with pytest.raises(ValueError, match="not in sink schema"):
            merge_sink(
                spark, tp,
                src.withColumn("brand_new", F.lit(1)),
                on=["mid"],
            )

    def test_insert_only_leaves_matched_untouched(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=2, per=5)
        before = _manifests(tp)
        src = _frame(
            spark,
            [
                ("m0002", "t", "SHOULD-NOT-APPLY", "2024-01-01"),
                ("mNEW", "t", "INS", "2024-01-04"),
            ],
        )
        res = merge_sink(
            spark, tp, src, on=["mid"], when_matched=None,
        )
        assert res["rows_updated"] == 0 and res["rows_inserted"] == 1
        after = _manifests(tp)
        for n, m in before.items():
            assert after[n] == m  # every pre-existing manifest untouched
        got = _rows(spark, tp)
        assert ("m0002", "t/0", "p2") in got
        assert ("mNEW", "t", "INS") in got


class TestMergeIdempotence:
    def test_rerun_same_merge_id_converges(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path)
        src = _frame(
            spark,
            [
                ("m0105", "t/x", "U", "2024-01-01"),
                ("mNEW", "t/x", "I", "2024-01-04"),
            ],
        )
        r1 = merge_sink(spark, tp, src, on=["mid"], merge_id="job-7")
        state1 = _rows(spark, tp)
        n1 = read_sink(spark, tp).count()
        r2 = merge_sink(spark, tp, src, on=["mid"], merge_id="job-7")
        # second run: the insert key is now matched -> updated to the
        # same values, nothing inserted, no duplicate rows
        assert r2["rows_inserted"] == 0
        assert read_sink(spark, tp).count() == n1
        assert _rows(spark, tp) == state1
        assert r1["insert_manifest"] in _manifests(tp)


class TestMergeSchema:
    def test_insert_aligns_missing_columns_as_null(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=1, per=3)
        src = (
            spark.createDataFrame([("mNEW", "2024-01-05")], ["mid", "d"])
            .select(
                "mid", F.to_date("d").alias("collect_date")
            )
        )
        res = merge_sink(
            spark, tp, src, on=["mid"], when_matched=None,
        )
        assert res["rows_inserted"] == 1
        row = (
            read_sink(spark, tp, merge_schema=True)
            .filter("mid = 'mNEW'")
            .collect()[0]
        )
        assert row["payload"] is None and row["topic"] is None

    def test_update_adds_widened_column_to_old_batch(self, spark, tmp_path):
        """A column appended later (managed evolution) can be SET on a
        pre-widening batch: the rewrite physically adds it."""
        tp = str(tmp_path / "sink")
        append_batch_manifest(
            _frame(spark, [("m1", "t", "p", "2024-01-01")]),
            _store(), tp, 0,
        )
        widened = _frame(
            spark, [("m2", "t", "p", "2024-01-02")]
        ).withColumn("score", F.lit(0.5))
        append_batch_manifest(widened, _store(), tp, 1)
        src = _frame(
            spark, [("m1", "t", "p", "2024-01-01")]
        ).withColumn("score", F.lit(0.9))
        res = merge_sink(
            spark, tp, src, on=["mid"],
            when_matched={"score": "s_score"}, when_not_matched=None,
        )
        assert res["rows_updated"] == 1
        got = {
            r["mid"]: r["score"]
            for r in read_sink(spark, tp, merge_schema=True).collect()
        }
        assert got == {"m1": 0.9, "m2": 0.5}

    def test_insert_requires_collect_date(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=1, per=3)
        src = spark.createDataFrame([("mNEW",)], ["mid"])
        with pytest.raises(ValueError, match="collect_date"):
            merge_sink(spark, tp, src, on=["mid"], when_matched=None)


class TestMergeConcurrency:
    def test_writer_fence(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=1, per=3)
        lease = dict(
            owner="other-writer", token="tok-1", lease_secs=120.0
        )
        from mqtt_message_pump_spark import sinks as S

        fs, HPath = S._hadoop_fs(spark, tp)
        S._publish_writer_lease(fs, HPath, tp, lease)
        src = _frame(spark, [("m0001", "t", "x", "2024-01-01")])
        with pytest.raises(WriterFenced):
            merge_sink(spark, tp, src, on=["mid"])
        res = merge_sink(spark, tp, src, on=["mid"], force=True)
        assert res["rows_updated"] == 1

    def test_cdf_tail_rides_through_merge_swaps(self, spark, tmp_path):
        """Caught-up cursor: MERGE's swaps are same-key replacements the
        tail marks without re-delivery; only the insert batch flows."""
        tp = _mk_sink(spark, tmp_path)
        df, cur = read_sink_since(spark, tp, None)
        assert df.count() == 60
        src = _frame(
            spark,
            [
                ("m0105", "t/x", "U", "2024-01-01"),
                ("mNEW", "t/x", "I", "2024-01-04"),
            ],
        )
        merge_sink(spark, tp, src, on=["mid"], merge_id="cdc-1")
        df2, cur2 = read_sink_since(spark, tp, cur)
        rows2 = df2.collect()
        assert {r["mid"] for r in rows2} == {"mNEW"}
        df3, _ = read_sink_since(spark, tp, cur2)
        assert df3 is None or df3.count() == 0


class TestMergeNoopSkips:
    def test_full_sync_unchanged_batches_not_swapped(self, spark, tmp_path):
        """A by-source pass over batches whose rows ALL matched (and no
        matched clause applies) is byte-equivalent: no swap published."""
        tp = _mk_sink(spark, tmp_path, n_batches=2, per=4)
        before = _manifests(tp)
        all_mids = [
            (f"m{b * 100 + i:04d}", "t", "x", "2024-01-01")
            for b in range(2)
            for i in range(4)
        ]
        res = merge_sink(
            spark, tp, _frame(spark, all_mids), on=["mid"],
            when_matched=None, when_not_matched=None,
            when_not_matched_by_source="delete",
        )
        assert res["rows_deleted"] == 0
        assert res["rewritten"] == [] and res["dropped"] == []
        assert _manifests(tp) == before

    def test_matched_where_all_miss_no_swap(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=1, per=4)
        before = _manifests(tp)
        src = _frame(spark, [("m0001", "t", "u", "2024-01-01")])
        res = merge_sink(
            spark, tp, src, on=["mid"],
            matched_where="payload = 'never-matches'",
            when_not_matched=None,
        )
        assert res["rows_updated"] == 0
        assert res["rewritten"] == []
        assert _manifests(tp) == before

    def test_cross_family_key_type_rejected(self, spark, tmp_path):
        """A string sink key probed with a numeric source key would let
        the join coerce while the bloom probes disagree -- loud error."""
        tp = _mk_sink(spark, tmp_path, n_batches=1, per=3)
        src = (
            spark.createDataFrame([(1,)], ["mid"])
            .withColumn("payload", F.lit("x"))
            .withColumn("collect_date", F.to_date(F.lit("2024-01-01")))
        )
        with pytest.raises(ValueError, match="cast the source key"):
            merge_sink(spark, tp, src, on=["mid"])


class TestMergeBySourceUpdate:
    def test_by_source_set_marks_stale_rows(self, spark, tmp_path):
        """when_not_matched_by_source as a SET dict: target rows with no
        source match are updated in place (the SCD stale-marking shape),
        matched rows take the source values, nothing is deleted."""
        tp = _mk_sink(spark, tmp_path, n_batches=1, per=4)
        src = _frame(spark, [("m0001", "S", "fresh", "2024-01-01")])
        res = merge_sink(
            spark, tp, src, on=["mid"],
            when_not_matched=None,
            when_not_matched_by_source={"payload": "'STALE'"},
        )
        assert res["rows_updated"] == 1
        assert res["rows_updated_by_source"] == 3
        assert res["rows_deleted"] == 0
        got = {r["mid"]: r["payload"] for r in read_sink(spark, tp).collect()}
        assert got == {
            "m0000": "STALE",
            "m0001": "fresh",
            "m0002": "STALE",
            "m0003": "STALE",
        }

    def test_by_source_set_with_where_and_no_matched_clause(
        self, spark, tmp_path
    ):
        tp = _mk_sink(spark, tmp_path, n_batches=1, per=4)
        src = _frame(spark, [("m0001", "S", "x", "2024-01-01")])
        res = merge_sink(
            spark, tp, src, on=["mid"],
            when_matched=None, when_not_matched=None,
            when_not_matched_by_source={"topic": "'retired'"},
            not_matched_by_source_where="payload = 'p2'",
        )
        assert res["rows_updated"] == 0
        assert res["rows_updated_by_source"] == 1
        got = {r["mid"]: r["topic"] for r in read_sink(spark, tp).collect()}
        assert got == {
            "m0000": "t/0",
            "m0001": "t/0",
            "m0002": "retired",
            "m0003": "t/0",
        }

    def test_by_source_set_validation(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path, n_batches=1, per=2)
        src = _frame(spark, [("m0001", "S", "x", "2024-01-01")])
        with pytest.raises(ValueError, match="by-source SET columns"):
            merge_sink(
                spark, tp, src, on=["mid"], when_not_matched=None,
                when_not_matched_by_source={"nope": "'x'"},
            )
        with pytest.raises(ValueError, match="key/partition"):
            merge_sink(
                spark, tp, src, on=["mid"], when_not_matched=None,
                when_not_matched_by_source={"mid": "'x'"},
            )


class TestMergeScopeAndFallback:
    def test_dates_scope_bounds_statement(self, spark, tmp_path):
        """dates= scopes the WHOLE statement: batches outside are never
        read or rewritten, and a key living only outside the scope is
        treated as absent (the partition-predicate-in-ON contract)."""
        tp = str(tmp_path / "sink")
        # batch 0 entirely on 01-01, batch 1 entirely on 01-05
        append_batch_manifest(
            _frame(spark, [("mA", "t", "p1", "2024-01-01")]),
            _store(), tp, 0,
        )
        append_batch_manifest(
            _frame(spark, [("mB", "t", "p5", "2024-01-05")]),
            _store(), tp, 1,
        )
        before = _manifests(tp)
        src = _frame(
            spark,
            [
                ("mA", "t", "UPD", "2024-01-01"),
                ("mB", "t", "SHADOW", "2024-01-01"),  # exists only outside
            ],
        )
        res = merge_sink(
            spark, tp, src, on=["mid"], dates=["2024-01-01"],
            merge_id="scoped",
        )
        # batch 1 (out of scope) untouched byte-for-byte
        after = _manifests(tp)
        assert after["b1.json"] == before["b1.json"]
        assert res["rows_updated"] == 1
        # mB treated as absent within the scope -> inserted (caller's
        # contract when scoping), original 01-05 row untouched
        assert res["rows_inserted"] == 1
        assert read_sink(spark, tp).filter("mid = 'mB'").count() == 2

    def test_scan_discovery_fallback_matches_probe_path(
        self, spark, tmp_path, monkeypatch
    ):
        """_PROBE_KEYS_LIMIT=0 forces the full key-column scan discovery;
        results must equal the bloom-probe path bit for bit."""
        monkeypatch.setattr(S, "_PROBE_KEYS_LIMIT", 0)
        tp = _mk_sink(spark, tmp_path)
        src = _frame(
            spark,
            [
                ("m0105", "t/x", "U", "2024-01-01"),
                ("mNEW", "t/x", "I", "2024-01-04"),
            ],
        )
        res = merge_sink(
            spark, tp, src, on=["mid"],
            merge_id="scan",
        )
        assert res["candidate_batches"] == 3  # nothing pruned
        assert res["touched_batches"] == 1    # discovery still exact
        assert res["rows_updated"] == 1 and res["rows_inserted"] == 1
        got = _rows(spark, tp)
        assert ("m0105", "t/x", "U") in got
        assert ("mNEW", "t/x", "I") in got
        assert read_sink(spark, tp).count() == 61


class TestMergeLifecycle:
    def test_compact_snapshot_vacuum_after_merge(self, spark, tmp_path):
        """Full maintenance lifecycle over a merged sink: compaction
        folds the merge's swap manifests, the snapshot embeds the
        folded state, vacuum physically reclaims the pre-merge attempt
        dirs (the updated-away values are ERASED, the pin horizon), and
        the state survives unchanged."""
        import os

        from mqtt_message_pump_spark.sinks import (
            compact_sink,
            snapshot_sink,
            vacuum_sink,
        )

        tp = _mk_sink(spark, tmp_path)
        src = _frame(
            spark,
            [
                ("m0105", "t/x", "MERGED", "2024-01-01"),
                ("mNEW", "t/x", "INS", "2024-01-04"),
            ],
        )
        merge_sink(spark, tp, src, on=["mid"], merge_id="life")
        state = _rows(spark, tp)
        compact_sink(spark, tp, keep_last=0)
        snapshot_sink(spark, tp)
        vacuum_sink(spark, tp, retention_secs=0.0)
        assert _rows(spark, tp) == state
        # physical erasure: no parquet under the sink still holds the
        # pre-merge payload of the updated row
        import pyarrow.parquet as pq

        for root, _dirs, files in os.walk(tp):
            for f in files:
                if f.endswith(".parquet"):
                    t = pq.read_table(
                        os.path.join(root, f), columns=["payload"]
                    )
                    assert "p105" not in t["payload"].to_pylist()


class TestMetadataTables:
    def test_files_and_history_surfaces(self, spark, tmp_path):
        """files_sink = the live-batch inventory (Iceberg .files);
        history_sink = the operation log (Delta DESCRIBE HISTORY) with
        operation classes derived from the manifest protocol's naming,
        surviving vacuum via snapshot-embedded entries."""
        from mqtt_message_pump_spark.sinks import (
            compact_sink,
            delete_sink_where,
            files_sink,
            history_sink,
            snapshot_sink,
        )

        tp = _mk_sink(spark, tmp_path)
        merge_sink(
            spark, tp,
            _frame(spark, [
                ("m0105", "t/x", "U", "2024-01-01"),
                ("mNEW", "t/x", "I", "2024-01-04"),
            ]),
            on=["mid"], merge_id="meta",
        )
        delete_sink_where(spark, tp, eq={"mid": list(
            f"m{200 + i:04d}" for i in range(20)
        )})  # whole batch 2 -> drop tombstone
        f = files_sink(spark, tp)
        rows = {r["manifest"]: r for r in f.collect()}
        # live: batch 0, the rewritten batch 1 swap, the merge insert
        assert len(rows) == 3
        kinds = {r["kind"] for r in rows.values()}
        assert kinds == {"append", "rewrite"}
        assert all(r["rows"] is not None for r in rows.values())
        assert all(r["has_bloom"] for r in rows.values())
        # SQL over the metadata surface
        f.createOrReplaceTempView("sink_files")
        small = spark.sql(
            "SELECT count(*) AS n FROM sink_files WHERE rows < 10"
        ).collect()[0]["n"]
        assert small == 1  # the 1-row insert batch

        h = history_sink(spark, tp)
        ops = {
            r["manifest"]: r["operation"] for r in h.collect()
        }
        assert ops["b0.json"] == "append"
        assert ops["b2.json"] == "append"
        assert "drop" in set(ops.values())      # the DELETE tombstone
        assert "rewrite" in set(ops.values())   # the merge swap
        # rewrite rows supersede their victim
        sup = {
            r["manifest"]: r["supersedes"] for r in h.collect()
        }
        assert any("b1.json" in s for s in sup.values())

        # snapshot + vacuum: retired objects survive in history as
        # embedded-only entries; the snapshot itself is an operation
        compact_sink(spark, tp, keep_last=0)
        snapshot_sink(spark, tp)
        from mqtt_message_pump_spark.sinks import vacuum_sink

        vacuum_sink(spark, tp, retention_secs=0.0)
        h2 = history_sink(spark, tp)
        ops2 = {r["operation"] for r in h2.collect()}
        assert "snapshot" in ops2 and "compact" in ops2
        emb = [r for r in h2.collect() if r["embedded_only"]]
        assert all(r["ts"] is not None for r in h2.collect())
        # chronology survives vacuum: embedded-only entries keep their
        # ORIGINAL publish time, never the snapshot's
        snap_ts = max(
            r["ts"] for r in h2.collect() if r["operation"] == "snapshot"
        )
        assert emb and all(r["ts"] <= snap_ts for r in emb)
        assert any(r["ts"] < snap_ts for r in emb)
        # the two metadata surfaces agree on operation classes
        f2 = {r["manifest"]: r["kind"] for r in files_sink(spark, tp).collect()}
        h2ops = {r["manifest"]: r["operation"] for r in h2.collect()}
        for name, kind in f2.items():
            assert h2ops.get(name, kind) == kind
        # the compact manifest is embedded in the snapshot
        assert any(r["operation"] == "compact" for r in emb) or any(
            r["operation"] == "compact" and not r["embedded_only"]
            for r in h2.collect()
        )


class TestClausePredicatesOnMissingColumns:
    """Regression: matched_where / not_matched_by_source_where may name
    sink-schema columns a pre-widening batch physically lacks; the
    rewrite must pad them to NULL (the predicate's IS NULL arm), not
    raise UNRESOLVED_COLUMN (ADVICE r13, high)."""

    def _legacy_plus_widened(self, spark, tmp_path):
        tp = str(tmp_path / "sink")
        legacy = spark.createDataFrame(
            [("k1", "legacy"), ("k2", "legacy2")], ["mid", "payload"]
        ).withColumn("collect_date", F.to_date(F.lit("2024-01-01")))
        append_batch_manifest(legacy, _store(), tp, 0, epoch="seed")
        widened = _frame(
            spark, [("k3", "t", "v3", "2024-01-02 00:00:03")]
        ).drop("topic")
        append_batch_manifest(widened, _store(), tp, 1, epoch="seed")
        return tp

    def test_matched_where_on_missing_column_delete(
        self, spark, tmp_path
    ):
        """The CDC version-guard shape: DELETE guarded by
        ``(v IS NULL) OR (s_v >= v)`` must land on a key living in a
        batch that PREDATES the version column."""
        tp = self._legacy_plus_widened(spark, tmp_path)
        src = _frame(
            spark, [("k1", "t", "", "2024-01-03 00:00:09")]
        ).drop("topic")
        res = merge_sink(
            spark, tp, src, on=["mid"],
            when_matched="delete", when_not_matched=None,
            matched_where=(
                "(collect_datetime IS NULL) OR "
                "(s_collect_datetime >= collect_datetime)"
            ),
        )
        assert res["rows_deleted"] == 1
        got = {r["mid"] for r in read_sink(
            spark, tp, merge_schema=True
        ).collect()}
        assert got == {"k2", "k3"}

    def test_by_source_where_on_missing_column(self, spark, tmp_path):
        """not_matched_by_source_where naming the missing column: the
        NULL arm selects legacy rows for deletion."""
        tp = self._legacy_plus_widened(spark, tmp_path)
        # source names k3 only; by-source delete gated on the rows
        # PREDATING the version column (collect_datetime IS NULL)
        src = _frame(
            spark, [("k3", "t", "keep", "2024-01-05 00:00:00")]
        ).drop("topic")
        res = merge_sink(
            spark, tp, src, on=["mid"],
            when_matched=None, when_not_matched=None,
            when_not_matched_by_source="delete",
            not_matched_by_source_where="collect_datetime IS NULL",
        )
        assert res["rows_deleted"] == 2  # k1, k2 (legacy batch only)
        got = {r["mid"] for r in read_sink(
            spark, tp, merge_schema=True
        ).collect()}
        assert got == {"k3"}

    def test_insert_only_counters_consistent(self, spark, tmp_path):
        """Regression (ADVICE r13, low): insert-only merge over a
        candidate batch holding matched keys must count it under
        probed_clean -- candidate_batches == probed_clean +
        touched_batches + unchanged_batches."""
        tp = _mk_sink(spark, tmp_path, n_batches=1, per=5)
        src = _frame(
            spark,
            [
                ("m0002", "t", "dup", "2024-01-01"),   # matched
                ("mNEW1", "t", "new", "2024-01-01"),   # inserted
            ],
        )
        res = merge_sink(
            spark, tp, src, on=["mid"],
            when_matched=None, when_not_matched="insert",
        )
        assert res["rows_inserted"] == 1
        assert res["touched_batches"] == 0
        assert res["candidate_batches"] == (
            res["probed_clean"]
            + res["touched_batches"]
            + res["unchanged_batches"]
        )
        assert res["probed_clean"] == res["candidate_batches"] == 1
        assert read_sink(spark, tp).count() == 6


class TestDistributedKeyScan:
    """The flat mapInPandas discovery path (_SCAN_UNION_MAX exceeded):
    identical matched/touched results to the per-frame union, engaged
    automatically at high candidate counts."""

    def test_parity_with_union_path(self, spark, tmp_path, monkeypatch):
        u_tp = _mk_sink(spark, tmp_path / "u")
        d_tp = _mk_sink(spark, tmp_path / "d")
        src = _frame(
            spark,
            [
                ("m0105", "t/new", "UPD-105", "2024-01-09 00:00:05"),
                ("m0003", "t/new", "UPD-003", "2024-01-09 00:00:05"),
                ("mNEW9", "t/new", "INS", "2024-01-03 00:00:00"),
            ],
        )
        # force the union path
        monkeypatch.setattr(S, "_SCAN_UNION_MAX", 10_000)
        ref = merge_sink(
            spark, u_tp, src, on=["mid"], merge_id="dks-1",
        )
        # force the distributed file scan
        monkeypatch.setattr(S, "_SCAN_UNION_MAX", 0)
        res = merge_sink(
            spark, d_tp, src, on=["mid"], merge_id="dks-1",
        )
        for k in (
            "candidate_batches", "touched_batches", "rows_updated",
            "rows_inserted", "rows_deleted", "probed_clean",
        ):
            assert res[k] == ref[k], k
        assert _rows(spark, d_tp) == _rows(spark, u_tp)

    def test_timestamp_key_roundtrip(self, spark, tmp_path, monkeypatch):
        """Non-string key types survive the pyarrow->pandas->Arrow
        round trip: merge ON (mid, collect_datetime)."""
        monkeypatch.setattr(S, "_SCAN_UNION_MAX", 0)
        tp = _mk_sink(spark, tmp_path / "s", n_batches=2, per=4)
        row = read_sink(spark, tp).filter("mid = 'm0102'").collect()[0]
        src = spark.createDataFrame(
            [(row["mid"], row["collect_datetime"], "TS-UPD")],
            ["mid", "collect_datetime", "payload"],
        ).withColumn("collect_date", F.lit(row["collect_date"]))
        res = merge_sink(
            spark, tp, src, on=["mid", "collect_datetime"],
            when_not_matched=None,
        )
        assert res["rows_updated"] == 1
        got = read_sink(spark, tp).filter("mid = 'm0102'").collect()[0]
        assert got["payload"] == "TS-UPD"

    def test_widened_key_falls_back_to_union(
        self, spark, tmp_path, monkeypatch
    ):
        """A batch whose recorded key TYPE mismatches the widened
        target (int recorded, long after widening) keeps the per-frame
        union path -- eligibility is metadata-checked, so the flat
        scan can never hit a type surprise at task time."""
        monkeypatch.setattr(S, "_SCAN_UNION_MAX", 0)
        tp = str(tmp_path / "s")
        old = spark.createDataFrame(
            [(1, "p1")], "k int, payload string"
        ).withColumn("collect_date", F.to_date(F.lit("2024-01-01")))
        append_batch_manifest(old, _store(), tp, 0, epoch="seed")
        new = spark.createDataFrame(
            [(2**40, "p2")], "k long, payload string"
        ).withColumn("collect_date", F.to_date(F.lit("2024-01-02")))
        append_batch_manifest(new, _store(), tp, 1, epoch="seed")
        src = spark.createDataFrame(
            [(1, "UPD")], "k long, payload string"
        ).withColumn("collect_date", F.to_date(F.lit("2024-01-05")))
        res = merge_sink(
            spark, tp, src, on=["k"], when_not_matched=None,
        )
        assert res["rows_updated"] == 1
        got = {
            r["k"]: r["payload"]
            for r in read_sink(spark, tp, merge_schema=True).collect()
        }
        assert got[1] == "UPD" and got[2**40] == "p2"

    def test_partition_column_as_merge_key_flat_path(
        self, spark, tmp_path, monkeypatch
    ):
        """Regression (review): collect_date lives in the PATH, not
        the parquet files -- the flat scan must reattach it or every
        file would be skipped and matched rows silently re-inserted."""
        monkeypatch.setattr(S, "_SCAN_UNION_MAX", 0)
        tp = _mk_sink(spark, tmp_path / "s", n_batches=2, per=4)
        row = read_sink(spark, tp).filter("mid = 'm0101'").collect()[0]
        src = _frame(
            spark,
            [("m0101", "t/new", "PD-UPD",
              f"{row['collect_date']} 00:00:59")],
        )
        res = merge_sink(
            spark, tp, src, on=["mid", "collect_date"],
        )
        assert res["rows_updated"] == 1
        assert res["rows_inserted"] == 0  # matched, never duplicated
        assert (
            read_sink(spark, tp).filter("payload = 'PD-UPD'").count()
            == 1
        )

    def test_big_int_key_with_nulls_stays_exact(
        self, spark, tmp_path, monkeypatch
    ):
        """Regression (review): a nullable int64 key column must not
        round through float64 (keys above 2^53 would corrupt) -- nulls
        are dropped in Arrow before the pandas hop."""
        monkeypatch.setattr(S, "_SCAN_UNION_MAX", 0)
        tp = str(tmp_path / "s")
        big = 2**60 + 1
        df = spark.createDataFrame(
            [(big, "keep"), (None, "nullkey"), (7, "small")],
            "k long, payload string",
        ).withColumn("collect_date", F.to_date(F.lit("2024-01-01")))
        append_batch_manifest(df, _store(), tp, 0, epoch="seed")
        src = spark.createDataFrame(
            [(big, "UPD")], "k long, payload string"
        ).withColumn("collect_date", F.to_date(F.lit("2024-01-01")))
        res = merge_sink(
            spark, tp, src, on=["k"], when_not_matched=None,
        )
        assert res["rows_updated"] == 1
        got = {
            r["payload"]
            for r in read_sink(spark, tp).collect()
        }
        assert got == {"UPD", "nullkey", "small"}
