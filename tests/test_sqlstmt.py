"""SQL-*statement* DML (``sqlstmt.execute_sql``) + the session catalog
(``catalog.register_sink``): the write half of the reference's
delegated SQL surface (``data_dbstore.go:56-147``) driven by statement
TEXT and executed on the existing DML cores.

Covered: hint extraction (structured conjuncts -> eq/dates/ranges with
exact semantics preservation), each statement form against a
hand-computed expected state, SQL <-> Python-API parity (identical
sink states from the same seed), pruning parity (a SQL point delete
plans the same candidate set as the eq= call), grammar errors raising
loudly, and the catalog bootstrap (data + metadata views, DML by
registered name, refresh semantics).
"""

import pytest
from pyspark.sql import functions as F

from mqtt_message_pump_spark import catalog
from mqtt_message_pump_spark.config import StoreConf
from mqtt_message_pump_spark.sinks import (
    append_batch_manifest,
    delete_sink_where,
    files_sink,
    list_snapshots,
    merge_sink,
    read_sink,
    snapshot_sink,
    update_sink_where,
)
from mqtt_message_pump_spark.sqlstmt import (
    SqlStatementError,
    _extract_hints,
    execute_sql,
)


def _store():
    return StoreConf(commit_protocol="manifest")


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


def _mk_sink(spark, base, n_batches=3, per=20):
    tp = str(base)
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


def _state(spark, tp):
    """Canonical sink state: full row set + live-batch structure with
    generated names/dirs normalized out -- the parity comparator."""
    rows = sorted(
        tuple(r) for r in read_sink(spark, tp, merge_schema=True)
        .collect()
    )
    batches = sorted(
        (r["kind"], r["rows"], tuple(r["dates"]),
         tuple(sorted((c, tuple(v)) for c, v in r["stats"].items())),
         r["n_files"] > 0, r["has_bloom"])
        for r in files_sink(spark, tp).collect()
    )
    return rows, batches


# ------------------------------ hint extraction ---------------------------


class TestHintExtraction:
    def test_eq_in_range_between(self):
        eq, dates, ranges, res = _extract_hints(
            "mid = 'm1' AND topic IN ('a', 'b') AND s >= 'c' AND "
            "s <= 'k' AND t BETWEEN 'a' AND 'f'"
        )
        assert eq == {"mid": "m1", "topic": ["a", "b"]}
        assert dates is None
        assert ranges == {"s": ("c", "k"), "t": ("a", "f")}
        assert res is None

    def test_numeric_literals_stay_residual(self):
        """Stringified probes diverge from Spark's numeric-cast row
        semantics ('10.0' = 10 matches in Spark, str(10) misses the
        bloom) -- numbers and bools are never lifted into hints."""
        eq, dates, ranges, res = _extract_hints(
            "n = 4 AND k >= 3 AND j BETWEEN 1 AND 5 AND flag = TRUE"
        )
        assert eq is None and ranges is None and dates is None
        assert res == "(n = 4) AND (k >= 3) AND (j BETWEEN 1 AND 5) "             "AND (flag = TRUE)"

    def test_second_collect_date_conjunct_stays_residual(self):
        """Regression (review): two date conjuncts AND together; the
        second folding into the SAME dates list would be a union."""
        eq, dates, ranges, res = _extract_hints(
            "collect_date IN (DATE '2024-01-01', DATE '2024-01-02') "
            "AND collect_date = DATE '2024-01-01'"
        )
        assert dates == ["2024-01-01", "2024-01-02"]
        assert res == "(collect_date = DATE '2024-01-01')"

    def test_collect_date_becomes_dates(self):
        eq, dates, ranges, res = _extract_hints(
            "collect_date = DATE '2024-01-02' AND mid = 'x'"
        )
        assert dates == ["2024-01-02"]
        assert eq == {"mid": "x"}
        assert res is None

    def test_top_level_or_disables_lifting(self):
        eq, dates, ranges, res = _extract_hints(
            "mid = 'a' OR mid = 'b'"
        )
        assert eq is None and dates is None and ranges is None
        assert res == "mid = 'a' OR mid = 'b'"

    def test_parenthesized_or_stays_residual_conjunct(self):
        eq, dates, ranges, res = _extract_hints(
            "mid = 'a' AND (topic = 't1' OR topic = 't2')"
        )
        assert eq == {"mid": "a"}
        assert res == "((topic = 't1' OR topic = 't2'))"

    def test_strict_inequality_stays_residual(self):
        eq, dates, ranges, res = _extract_hints("n > 3 AND mid = 'a'")
        assert ranges is None and eq == {"mid": "a"}
        assert res == "(n > 3)"

    def test_keywords_inside_strings_are_inert(self):
        eq, dates, ranges, res = _extract_hints(
            "payload = 'a AND b OR c' AND topic = 'WHERE''s'"
        )
        assert eq == {"payload": "a AND b OR c", "topic": "WHERE's"}
        assert res is None

    def test_non_literal_rhs_stays_residual(self):
        eq, dates, ranges, res = _extract_hints(
            "mid = upper(topic) AND k = 'v'"
        )
        assert eq == {"k": "v"}
        assert res == "(mid = upper(topic))"

    def test_conflicting_eq_kept_exact(self):
        eq, dates, ranges, res = _extract_hints("mid = 'a' AND mid = 'b'")
        assert eq == {"mid": "a"}
        assert res == "(mid = 'b')"  # contradiction preserved, not merged


# ------------------------------ DELETE / UPDATE ---------------------------


class TestDeleteUpdateStatements:
    def test_delete_parity_with_python_api(self, spark, tmp_path):
        sql_tp = _mk_sink(spark, tmp_path / "sql")
        py_tp = _mk_sink(spark, tmp_path / "py")
        res = execute_sql(
            spark,
            "DELETE FROM `%s` WHERE mid = 'm0105'" % sql_tp,
        )
        ref = delete_sink_where(spark, py_tp, eq={"mid": "m0105"})
        assert res["statement"] == "delete"
        assert res["rows_deleted"] == ref["rows_deleted"] == 1
        # identical pruning: the lifted eq hint plans the same candidates
        assert res["candidate_batches"] == ref["candidate_batches"] == 1
        assert _state(spark, sql_tp) == _state(spark, py_tp)

    def test_delete_without_where_raises(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=3)
        with pytest.raises(SqlStatementError, match="WHERE"):
            execute_sql(spark, f"DELETE FROM `{tp}`")

    def test_delete_where_true_clears(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=3)
        res = execute_sql(spark, f"DELETE FROM `{tp}` WHERE TRUE")
        assert res["rows_deleted"] == 3
        assert files_sink(spark, tp).count() == 0  # all tombstoned

    def test_update_parity_with_python_api(self, spark, tmp_path):
        sql_tp = _mk_sink(spark, tmp_path / "sql")
        py_tp = _mk_sink(spark, tmp_path / "py")
        stmt = (
            "UPDATE `%s` SET payload = upper(payload), "
            "topic = concat(topic, '!') "
            "WHERE mid IN ('m0001', 'm0203') AND collect_date = "
            "DATE '2024-01-02'"
        )
        res = execute_sql(spark, stmt % sql_tp)
        ref = update_sink_where(
            spark, py_tp,
            set={"payload": "upper(payload)",
                 "topic": "concat(topic, '!')"},
            eq={"mid": ["m0001", "m0203"]},
            dates=["2024-01-02"],
        )
        assert res["statement"] == "update"
        assert res["rows_updated"] == ref["rows_updated"] == 2
        assert res["candidate_batches"] == ref["candidate_batches"]
        assert _state(spark, sql_tp) == _state(spark, py_tp)
        got = {
            r["mid"]: r["payload"]
            for r in read_sink(spark, sql_tp)
            .filter("payload != lower(payload)")
            .collect()
        }
        assert got == {"m0001": "P1", "m0203": "P203"}

    def test_update_residual_predicate_rows_exact(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=10)
        # strict > stays residual; rows must still be exact
        res = execute_sql(
            spark,
            f"UPDATE `{tp}` SET payload = 'X' "
            "WHERE substring(mid, 2) > '0007'",
        )
        assert res["rows_updated"] == 2  # m0008, m0009
        assert (
            read_sink(spark, tp).filter("payload = 'X'").count() == 2
        )


# ---------------------------------- MERGE ---------------------------------


class TestMergeStatement:
    def test_merge_update_insert_parity(self, spark, tmp_path):
        sql_tp = _mk_sink(spark, tmp_path / "sql")
        py_tp = _mk_sink(spark, tmp_path / "py")
        src = _frame(
            spark,
            [
                ("m0105", "t/new", "UPD", "2024-01-01 00:00:05"),
                ("m9999", "t/new", "INS", "2024-01-03 00:00:00"),
            ],
        )
        src.createOrReplaceTempView("changes_v")
        res = execute_sql(
            spark,
            f"MERGE INTO `{sql_tp}` AS t USING changes_v AS s "
            "ON t.mid = s.mid "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *",
            merge_id="sql-a",
        )
        ref = merge_sink(
            spark, py_tp, src, on=["mid"], merge_id="sql-a"
        )
        assert res["statement"] == "merge"
        assert res["rows_updated"] == ref["rows_updated"] == 1
        assert res["rows_inserted"] == ref["rows_inserted"] == 1
        assert _state(spark, sql_tp) == _state(spark, py_tp)
        # re-run under the same merge_id: idempotent through SQL too
        again = execute_sql(
            spark,
            f"MERGE INTO `{sql_tp}` AS t USING changes_v AS s "
            "ON t.mid = s.mid "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *",
            merge_id="sql-a",
        )
        # previously-inserted keys are now matched; update re-applies
        # the same values -- the statement is idempotent end to end
        assert again["rows_inserted"] == 0
        merge_sink(spark, py_tp, src, on=["mid"], merge_id="sql-a")
        assert _state(spark, sql_tp) == _state(spark, py_tp)

    def test_merge_explicit_set_and_matched_where(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=5)
        src = _frame(
            spark,
            [
                ("m0002", "S", "newer", "2024-01-09 00:00:00"),
                ("m0003", "S", "older", "2020-01-01 00:00:00"),
            ],
        )
        src.createOrReplaceTempView("chg_v")
        res = execute_sql(
            spark,
            f"MERGE INTO `{tp}` t USING chg_v s ON t.mid = s.mid "
            "WHEN MATCHED AND s.collect_datetime >= t.collect_datetime "
            "THEN UPDATE SET payload = concat(t.payload, '+', s.payload)",
        )
        assert res["rows_updated"] == 1  # the older change is gated out
        got = {
            r["mid"]: r["payload"] for r in read_sink(spark, tp).collect()
        }
        assert got["m0002"] == "p2+newer"
        assert got["m0003"] == "p3"

    def test_merge_delete_and_by_source(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=6)
        src = _frame(spark, [("m0002", "t", "", "2024-01-05")])
        src.createOrReplaceTempView("del_v")
        res = execute_sql(
            spark,
            f"MERGE INTO `{tp}` t USING del_v s ON t.mid = s.mid "
            "WHEN MATCHED THEN DELETE "
            "WHEN NOT MATCHED BY SOURCE AND t.mid = 'm0004' THEN DELETE",
        )
        assert res["rows_deleted"] == 2  # m0002 (matched) + m0004 (scoped)
        got = {r["mid"] for r in read_sink(spark, tp).collect()}
        assert got == {"m0000", "m0001", "m0003", "m0005"}

    def test_merge_by_source_set(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=4)
        src = _frame(spark, [("m0001", "t", "keep", "2024-01-05")])
        src.createOrReplaceTempView("sync_v")
        execute_sql(
            spark,
            f"MERGE INTO `{tp}` t USING sync_v s ON t.mid = s.mid "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET "
            "payload = 'stale'",
        )
        got = {
            r["mid"]: r["payload"] for r in read_sink(spark, tp).collect()
        }
        assert got == {
            "m0000": "stale", "m0001": "p1", "m0002": "stale",
            "m0003": "stale",
        }

    def test_merge_using_subquery_and_date_scope(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s")
        _frame(
            spark, [("m0001", "q", "VIA-SUBQ", "2024-01-02 00:00:01")]
        ).createOrReplaceTempView("raw_chg")
        res = execute_sql(
            spark,
            f"MERGE INTO `{tp}` t "
            "USING (SELECT * FROM raw_chg WHERE topic = 'q') s "
            "ON t.mid = s.mid AND t.collect_date = DATE '2024-01-02' "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *",
        )
        # the date scope prunes discovery to 2024-01-02 batches only
        assert res["rows_updated"] == 1
        assert (
            read_sink(spark, tp).filter("payload = 'VIA-SUBQ'").count()
            == 1
        )

    def test_merge_identity_values_insert(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=2)
        _frame(
            spark, [("mNEW", "t", "n", "2024-01-05")]
        ).createOrReplaceTempView("ins_v")
        cols = (
            "mid, topic, payload, collect_datetime, collect_date"
        )
        vals = ", ".join(f"s.{c.strip()}" for c in cols.split(","))
        res = execute_sql(
            spark,
            f"MERGE INTO `{tp}` t USING ins_v s ON t.mid = s.mid "
            f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})",
        )
        assert res["rows_inserted"] == 1

    def test_merge_grammar_errors(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=2)
        _frame(
            spark, [("m0001", "t", "x", "2024-01-05")]
        ).createOrReplaceTempView("err_v")
        head = f"MERGE INTO `{tp}` t USING err_v s ON t.mid = s.mid "
        for stmt, msg in [
            (head + "WHEN MATCHED THEN UPDATE SET * "
             "WHEN MATCHED THEN DELETE", "duplicate WHEN"),
            (head + "WHEN NOT MATCHED AND s.topic = 't' "
             "THEN INSERT *", "pre-filter the source"),
            (head + "WHEN NOT MATCHED THEN INSERT (mid) "
             "VALUES (upper(s.mid))", "identity INSERT"),
            (head + "WHEN MATCHED THEN UPDATE SET "
             "payload = x.payload", "unknown qualifier"),
            (f"MERGE INTO `{tp}` t USING err_v s "
             "ON t.mid = s.other_key WHEN MATCHED THEN DELETE",
             "share one name"),
            (f"MERGE INTO `{tp}` t USING err_v s "
             "ON t.payload > s.payload WHEN MATCHED THEN DELETE",
             "unsupported ON conjunct"),
        ]:
            with pytest.raises(SqlStatementError, match=msg):
                execute_sql(spark, stmt)

    def test_merge_cardinality_rule_enforced(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=3)
        _frame(
            spark,
            [("m0001", "t", "a", "2024-01-05"),
             ("m0001", "t", "b", "2024-01-05")],
        ).createOrReplaceTempView("dup_v")
        with pytest.raises(ValueError, match="at most one source row"):
            execute_sql(
                spark,
                f"MERGE INTO `{tp}` t USING dup_v s ON t.mid = s.mid "
                "WHEN MATCHED THEN UPDATE SET *",
            )


# --------------------------------- RESTORE --------------------------------


class TestRestoreStatement:
    def test_restore_version_and_timestamp(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=4)
        snapshot_sink(spark, tp, min_uncovered=1)
        seq = list_snapshots(spark, tp)[-1]["seq"]
        execute_sql(spark, f"DELETE FROM `{tp}` WHERE mid = 'm0001'")
        assert read_sink(spark, tp).count() == 3
        res = execute_sql(
            spark, f"RESTORE TABLE `{tp}` TO VERSION AS OF {seq}"
        )
        assert res["statement"] == "restore"
        assert read_sink(spark, tp).count() == 4
        # timestamp form parses and resolves (restore to the same pin)
        import time

        execute_sql(
            spark,
            f"RESTORE TABLE `{tp}` TO TIMESTAMP AS OF "
            f"{time.time() + 60}",
        )
        assert read_sink(spark, tp).count() == 4

    def test_restore_grammar_errors(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=2)
        with pytest.raises(SqlStatementError, match="VERSION AS OF"):
            execute_sql(
                spark, f"RESTORE TABLE `{tp}` TO VERSION AS OF x"
            )
        with pytest.raises(SqlStatementError, match="supported form"):
            execute_sql(spark, f"RESTORE `{tp}`")


# --------------------------------- catalog --------------------------------


class TestCatalog:
    def test_register_views_and_dml_by_name(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s")
        info = catalog.register_sink(spark, tp, "pump_msgs")
        assert info["views"] == [
            "pump_msgs", "pump_msgs_files", "pump_msgs_history",
        ]
        assert spark.sql(
            "SELECT count(*) AS n FROM pump_msgs"
        ).collect()[0]["n"] == 60
        assert spark.sql(
            "SELECT count(*) AS n FROM pump_msgs_files"
        ).collect()[0]["n"] == 3
        ops = {
            r["operation"]
            for r in spark.sql(
                "SELECT operation FROM pump_msgs_history"
            ).collect()
        }
        assert "append" in ops
        # statement targets resolve through the registry
        res = execute_sql(
            spark, "DELETE FROM pump_msgs WHERE mid = 'm0001'"
        )
        assert res["rows_deleted"] == 1
        assert catalog.registered_sinks(spark)["pump_msgs"] == tp

    def test_views_pin_registration_state_and_refresh(
        self, spark, tmp_path
    ):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=5)
        catalog.register_sink(spark, tp, "pinned_v")
        # first query materializes the view's read info -- the pin
        assert spark.sql(
            "SELECT count(*) AS n FROM pinned_v"
        ).collect()[0]["n"] == 5
        execute_sql(spark, "DELETE FROM pinned_v WHERE mid = 'm0002'")
        # the data view serves its pinned snapshot (documented): the
        # sink itself moved, the already-queried view did not
        assert read_sink(spark, tp).count() == 4
        assert spark.sql(
            "SELECT count(*) AS n FROM pinned_v"
        ).collect()[0]["n"] == 5
        catalog.refresh(spark, "pinned_v")
        assert spark.sql(
            "SELECT count(*) AS n FROM pinned_v"
        ).collect()[0]["n"] == 4
        hist = spark.sql(
            "SELECT count(*) AS n FROM pinned_v_history "
            "WHERE operation = 'rewrite'"
        ).collect()[0]["n"]
        assert hist == 1  # refresh re-materialized the metadata twin

    def test_default_view_is_filter_order_safe(self, spark, tmp_path):
        """The landmine the pushdown=off default exists for: a filtered
        query followed by an UNFILTERED one on the same view must see
        every row (Spark 4.1 caches one read plan per relation and a
        filtered scan overwrites it -- see TestUpstreamReadInfoPoisoning
        for the raw upstream behavior)."""
        tp = _mk_sink(spark, tmp_path / "s")
        catalog.register_sink(spark, tp, "safe_v")
        assert spark.sql(
            "SELECT count(*) AS n FROM safe_v WHERE mid = 'm0105'"
        ).collect()[0]["n"] == 1
        assert spark.sql(
            "SELECT count(*) AS n FROM safe_v"
        ).collect()[0]["n"] == 60

    def test_opt_in_pushdown_prunes_through_view(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s")
        catalog.register_sink(spark, tp, "pruned_v", pushdown=True)
        # disjoint per-batch mid ranges: a point predicate through the
        # VIEW plans a subset of the files (one input partition per
        # surviving data file)
        df = spark.sql("SELECT * FROM pruned_v WHERE mid = 'm0105'")
        assert df.count() == 1
        assert df.rdd.getNumPartitions() == 2  # one batch x two dates
        # refresh preserves the opt-in
        catalog.refresh(spark, "pruned_v")
        df2 = spark.sql("SELECT * FROM pruned_v WHERE mid = 'm0105'")
        assert df2.rdd.getNumPartitions() == 2

    def test_register_errors(self, spark, tmp_path):
        with pytest.raises(ValueError, match="not a manifest sink"):
            catalog.register_sink(
                spark, str(tmp_path / "nope"), "bad_path_v"
            )
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=2)
        with pytest.raises(ValueError, match="bare SQL identifier"):
            catalog.register_sink(spark, tp, "has space")
        with pytest.raises(ValueError, match="not a registered sink"):
            catalog.refresh(spark, "never_registered")

    def test_unknown_table_message_names_the_fixes(self, spark):
        with pytest.raises(SqlStatementError, match="register"):
            execute_sql(
                spark, "DELETE FROM unknown_t WHERE mid = 'x'"
            )


class TestUpstreamReadInfoPoisoning:
    """CANARY documenting the upstream Spark 4.1 defect the catalog's
    pushdown=off default guards against: the Python-data-source layer
    caches one readInfo per relation (PythonDataSourceV2.readInfo);
    PythonScanBuilder.pushFilters OVERWRITES it with the filtered
    plan, and a later scan with no pushable filters on the SAME
    relation reuses that pruned plan -- rows silently vanish.

    If these assertions start FAILING, Spark fixed the reuse: flip
    the single constant ``catalog.DEFAULT_PUSHDOWN`` to True (every
    registered view then prunes -- TestPushdownDefaultFlip pins that
    the flip alone suffices) and retire this class."""

    def test_filtered_scan_poisons_unfiltered_reuse(
        self, spark, tmp_path
    ):
        from mqtt_message_pump_spark.sources.manifestsink import (
            register_manifest_sink_source,
        )

        register_manifest_sink_source(spark)
        tp = _mk_sink(spark, tmp_path / "s")
        df = (
            spark.read.format("manifest_sink").option("path", tp).load()
        )
        assert df.count() == 60  # fresh relation, full plan
        assert df.filter("mid = 'm0105'").count() == 1  # pruned plan
        # the pruned plan is now the relation's cached readInfo: the
        # unfiltered re-count on the SAME frame sees only what survived
        # the point query's batch pruning AND row-group filters
        poisoned = df.count()
        assert poisoned < 60  # upstream defect (60 once Spark fixes it)
        # a fresh load is a fresh relation: correct again
        assert (
            spark.read.format("manifest_sink").option("path", tp)
            .load().count() == 60
        )

    def test_pushdown_off_makes_reuse_harmless(self, spark, tmp_path):
        from mqtt_message_pump_spark.sources.manifestsink import (
            register_manifest_sink_source,
        )

        register_manifest_sink_source(spark)
        tp = _mk_sink(spark, tmp_path / "s")
        df = (
            spark.read.format("manifest_sink").option("path", tp)
            .option("pushdown", "off").load()
        )
        assert df.count() == 60
        p = df.filter("mid = 'm0105'")
        assert p.count() == 1
        assert p.rdd.getNumPartitions() == 6  # no pruning, by design
        assert df.count() == 60  # cached plan is the full set

    def test_bad_pushdown_option_raises(self, spark, tmp_path):
        from mqtt_message_pump_spark.sources.manifestsink import (
            register_manifest_sink_source,
        )

        register_manifest_sink_source(spark)
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=2)
        with pytest.raises(Exception, match="auto.*off|off.*auto"):
            (
                spark.read.format("manifest_sink").option("path", tp)
                .option("pushdown", "maybe").load().count()
            )


class TestStatementDispatch:
    def test_unsupported_statement_raises(self, spark):
        # SELECT is served by the statement layer since r15 (fresh
        # pruned relation per statement) -- returns the DataFrame
        assert execute_sql(spark, "SELECT 1 AS x").collect()[0]["x"] == 1
        with pytest.raises(SqlStatementError, match="unsupported"):
            execute_sql(spark, "TRUNCATE TABLE t")

    def test_explicit_tables_mapping(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=3)
        res = execute_sql(
            spark,
            "DELETE FROM msgs WHERE mid = 'm0001'",
            tables={"msgs": tp},
        )
        assert res["rows_deleted"] == 1


class TestR13MatrixThroughSql:
    """The r13 DML matrix shapes re-driven by statement text: widening
    SET on a pre-widening batch, full-batch delete degrading to a drop
    tombstone, date-scoped pruning counters, and the by-source full
    sync -- each against its Python-API twin or a hand-computed
    state."""

    def test_update_adds_widened_column_via_sql(self, spark, tmp_path):
        tp = str(tmp_path / "s")
        legacy = spark.createDataFrame(
            [("k1", "p1")], ["mid", "payload"]
        ).withColumn("collect_date", F.to_date(F.lit("2024-01-01")))
        append_batch_manifest(legacy, _store(), tp, 0, epoch="seed")
        widened = _frame(
            spark, [("k2", "t", "p2", "2024-01-02 00:00:02")]
        )
        append_batch_manifest(widened, _store(), tp, 1, epoch="seed")
        res = execute_sql(
            spark,
            f"UPDATE `{tp}` SET topic = 'fixed' WHERE mid = 'k1'",
        )
        assert res["rows_updated"] == 1
        got = {
            r["mid"]: r["topic"]
            for r in read_sink(spark, tp, merge_schema=True).collect()
        }
        assert got == {"k1": "fixed", "k2": "t"}

    def test_full_batch_delete_tombstones_via_sql(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=2, per=5)
        # batch 0 holds mids m0000..m0004: a whole-batch predicate
        res = execute_sql(
            spark,
            f"DELETE FROM `{tp}` WHERE mid >= 'm0000' AND mid <= 'm0004'",
        )
        assert res["rows_deleted"] == 5
        assert res["dropped"]  # zero-IO drop tombstone, no rewrite
        assert res["rewritten"] == []
        assert read_sink(spark, tp).count() == 5

    def test_date_scope_prunes_candidates_via_sql(self, spark, tmp_path):
        sql_tp = _mk_sink(spark, tmp_path / "sql")
        py_tp = _mk_sink(spark, tmp_path / "py")
        res = execute_sql(
            spark,
            f"DELETE FROM `{sql_tp}` WHERE collect_date = "
            "DATE '2024-01-02' AND payload = 'p1'",
        )
        ref = delete_sink_where(
            spark, py_tp, where="payload = 'p1'",
            dates=["2024-01-02"],
        )
        assert res["rows_deleted"] == ref["rows_deleted"] == 1
        assert res["candidate_batches"] == ref["candidate_batches"]
        assert _state(spark, sql_tp) == _state(spark, py_tp)

    def test_by_source_full_sync_parity(self, spark, tmp_path):
        sql_tp = _mk_sink(spark, tmp_path / "sql", n_batches=1, per=6)
        py_tp = _mk_sink(spark, tmp_path / "py", n_batches=1, per=6)
        src = _frame(
            spark,
            [(f"m{i:04d}", "t", f"sync{i}", "2024-01-03") for i in (1, 3)],
        )
        src.createOrReplaceTempView("full_sync_v")
        res = execute_sql(
            spark,
            f"MERGE INTO `{sql_tp}` t USING full_sync_v s "
            "ON t.mid = s.mid "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT * "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE",
            merge_id="sync-1",
        )
        ref = merge_sink(
            spark, py_tp, src, on=["mid"],
            when_not_matched_by_source="delete", merge_id="sync-1",
        )
        for k in ("rows_updated", "rows_deleted", "rows_inserted"):
            assert res[k] == ref[k]
        assert res["rows_deleted"] == 4
        assert _state(spark, sql_tp) == _state(spark, py_tp)


class TestOperationalStatements:
    def test_vacuum_and_optimize(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=4, per=5)
        res = execute_sql(spark, f"OPTIMIZE `{tp}`")
        assert res["statement"] == "optimize"
        assert res["result"]  # a compact manifest was published
        res = execute_sql(spark, f"VACUUM `{tp}` RETAIN 0 SECONDS")
        assert res["statement"] == "vacuum"
        assert res["removed"]  # compaction victims reclaimed
        assert read_sink(spark, tp).count() == 20  # rows intact
        with pytest.raises(SqlStatementError, match="RETAIN"):
            execute_sql(spark, f"VACUUM `{tp}` RETAIN forever")

    def test_vacuum_retain_units(self, spark, tmp_path):
        from mqtt_message_pump_spark.sqlstmt import _parse_vacuum, _masked

        for text, secs in [
            ("VACUUM t RETAIN 7 HOURS", 7 * 3600.0),
            ("VACUUM t RETAIN 30 MINUTES", 1800.0),
            ("VACUUM t RETAIN 1.5 SECONDS", 1.5),
        ]:
            assert _parse_vacuum(text, _masked(text))[
                "retention_secs"
            ] == secs
        # no silent retention-0 default (reader-safety rule)
        with pytest.raises(SqlStatementError, match="explicit retention"):
            _parse_vacuum("VACUUM t", _masked("VACUUM t"))


class TestReviewRegressions:
    """Regressions from the r14 session review: malformed statement
    heads, source-qualified ON scopes, partial INSERT column lists,
    contradictory date scopes."""

    def test_malformed_heads_raise_grammar_errors(self, spark):
        for stmt, msg in [
            ("DELETE t WHERE x = 'a'", "DELETE FROM t WHERE"),
            ("UPDATE", "UPDATE t SET"),
            ("MERGE t USING s ON t.k = s.k WHEN MATCHED THEN DELETE",
             "MERGE INTO"),
        ]:
            with pytest.raises(SqlStatementError, match=msg):
                execute_sql(spark, stmt)

    def test_source_qualified_on_scope_rejected(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=2)
        _frame(
            spark, [("m0001", "t", "x", "2024-01-05")]
        ).createOrReplaceTempView("srcq_v")
        with pytest.raises(SqlStatementError, match="constrains the SOURCE"):
            execute_sql(
                spark,
                f"MERGE INTO `{tp}` t USING srcq_v s ON t.mid = s.mid "
                "AND s.collect_date = DATE '2024-01-01' "
                "WHEN MATCHED THEN UPDATE SET *",
            )

    def test_partial_insert_column_list_rejected(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=2)
        _frame(
            spark, [("mNEW", "t", "x", "2024-01-05")]
        ).createOrReplaceTempView("partial_v")
        with pytest.raises(SqlStatementError, match="every source column"):
            execute_sql(
                spark,
                f"MERGE INTO `{tp}` t USING partial_v s ON t.mid = s.mid "
                "WHEN NOT MATCHED THEN INSERT (mid, collect_date) "
                "VALUES (s.mid, s.collect_date)",
            )

    def test_contradictory_merge_date_scopes_raise(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=2)
        _frame(
            spark, [("m0001", "t", "x", "2024-01-05")]
        ).createOrReplaceTempView("contra_v")
        with pytest.raises(SqlStatementError, match="contradictory"):
            execute_sql(
                spark,
                f"MERGE INTO `{tp}` t USING contra_v s ON t.mid = s.mid "
                "AND t.collect_date = DATE '2024-01-01' "
                "AND t.collect_date = DATE '2024-01-02' "
                "WHEN MATCHED THEN UPDATE SET *",
            )

    def test_two_date_conjuncts_delete_rows_exact(self, spark, tmp_path):
        """End to end: AND of date predicates must intersect."""
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=4)
        # per=4: dates alternate 01-01 (even i) / 01-02 (odd i)
        res = execute_sql(
            spark,
            f"DELETE FROM `{tp}` WHERE collect_date IN "
            "(DATE '2024-01-01', DATE '2024-01-02') "
            "AND collect_date = DATE '2024-01-01'",
        )
        assert res["rows_deleted"] == 2  # only the 01-01 rows
        left = {
            str(r["collect_date"])
            for r in read_sink(spark, tp).collect()
        }
        assert left == {"2024-01-02"}

    def test_numeric_eq_rows_still_exact(self, spark, tmp_path):
        """A numeric literal never prunes (stays residual) but the
        rows are exact through Spark's own cast semantics."""
        tp = str(tmp_path / "s")
        df = _frame(
            spark,
            [("1", "t", "a", "2024-01-01"), ("2", "t", "b", "2024-01-01")],
        )
        append_batch_manifest(df, _store(), tp, 0)
        res = execute_sql(spark, f"DELETE FROM `{tp}` WHERE mid = 1")
        assert res["rows_deleted"] == 1
        assert {r["mid"] for r in read_sink(spark, tp).collect()} == {"2"}


class TestBloomIndexBudget:
    def test_over_budget_batches_marked_sidecar(self, spark, tmp_path):
        from mqtt_message_pump_spark.functions import bloom as B
        from mqtt_message_pump_spark.sinks import (
            _hadoop_fs,
            _load_manifest_state,
            _publish_bloom_index,
        )

        tp = _mk_sink(spark, tmp_path / "s", n_batches=3, per=20)
        fs, HPath = _hadoop_fs(spark, tp)
        live = _load_manifest_state(fs, HPath, tp)["live"]
        sizes = []
        jfs_specs = {}
        from mqtt_message_pump_spark.sinks import _JvmFsReader

        jfs = _JvmFsReader(fs, HPath)
        for m in live:
            specs = B.load_bloom_sidecar(jfs, tp, m)
            jfs_specs[m["name"]] = specs
            sizes.append(
                sum(len(s["b64"]) for s in specs.values())
            )
        # budget fits exactly the two smallest sidecars
        budget = sorted(sizes)[0] + sorted(sizes)[1]
        _publish_bloom_index(fs, HPath, tp, 1, live, max_bytes=budget)
        B._IDX_CACHE.clear()
        idx = B.load_bloom_index(jfs, tp)
        embedded = sum(
            1 for e in idx["batches"].values() if "cols" in e
        )
        marked = sum(
            1 for e in idx["batches"].values() if e.get("sidecar")
        )
        assert embedded == 2 and marked == 1
        # the marked batch resolves to None -> sidecar fallback
        over = next(
            m for m in live
            if idx["batches"][m["name"]].get("sidecar")
        )
        assert B.index_blooms_for(idx, over) is None
        # lookups stay exact either way
        hit = read_sink(spark, tp, eq={"mid": "m0205"})
        assert hit.filter(hit.mid == "m0205").count() == 1


# ------------------------- ADVICE r14 regressions -------------------------


class TestTimestampLiteralLifting:
    """ADVICE r14 (high): a string literal against ``collect_datetime``
    must be normalized to the manifests' ``str(datetime)`` stat format
    before it may become a pruning hint -- the ISO 'T' separator sorts
    after ' ' and truncated forms shift bounds, so the raw literal's
    lexicographic stat test prunes batches whose rows match."""

    def test_iso_t_literal_normalized(self):
        eq, dates, ranges, res = _extract_hints(
            "collect_datetime >= '2026-01-02T00:00:00'"
        )
        assert ranges == {
            "collect_datetime": ("2026-01-02 00:00:00", None)
        }
        assert res is None

    def test_truncated_literal_normalized(self):
        eq, dates, ranges, res = _extract_hints(
            "collect_datetime <= '2026-01-02 10:00'"
        )
        assert ranges == {
            "collect_datetime": (None, "2026-01-02 10:00:00")
        }
        assert res is None

    def test_eq_in_between_normalized(self):
        eq, dates, ranges, res = _extract_hints(
            "collect_datetime IN ('2026-01-02T10:00:00') AND "
            "collect_datetime BETWEEN '2026-01-01' AND "
            "'2026-01-02T23:59:59'"
        )
        assert eq == {"collect_datetime": ["2026-01-02 10:00:00"]}
        assert ranges == {
            "collect_datetime":
                ("2026-01-01 00:00:00", "2026-01-02 23:59:59")
        }
        assert res is None

    def test_unparseable_or_zoned_stays_residual(self):
        for lit in ("yesterday-ish", "2026-01-02T00:00:00+00:00"):
            eq, dates, ranges, res = _extract_hints(
                f"collect_datetime >= '{lit}'"
            )
            assert ranges is None
            assert res == f"(collect_datetime >= '{lit}')"

    def test_plain_string_columns_lift_verbatim(self):
        eq, _, _, res = _extract_hints("mid = '2026-01-02T00:00:00'")
        assert eq == {"mid": "2026-01-02T00:00:00"}
        assert res is None

    def test_t_separator_delete_rows_exact(self, spark, tmp_path):
        """The ADVICE repro: batch stats span 2026-01-02 in
        ``str(datetime)`` form; the 'T'-separator literal must not
        prune the batch away from a DELETE that matches every row."""
        tp = str(tmp_path / "s")
        rows = [
            ("ma", "t", "p1", "2026-01-02 00:00:00"),
            ("mb", "t", "p2", "2026-01-02 23:59:59"),
        ]
        append_batch_manifest(_frame(spark, rows), _store(), tp, 0)
        res = execute_sql(
            spark,
            f"DELETE FROM `{tp}` WHERE "
            "collect_datetime >= '2026-01-02T00:00:00'",
        )
        assert res["candidate_batches"] == 1  # NOT pruned
        assert res["rows_deleted"] == 2
        assert files_sink(spark, tp).count() == 0  # all tombstoned

    def test_truncated_upper_bound_update_rows_exact(
        self, spark, tmp_path
    ):
        tp = str(tmp_path / "s")
        rows = [
            ("ma", "t", "p1", "2026-01-02 09:59:59"),
            ("mb", "t", "p2", "2026-01-02 10:00:00"),
            ("mc", "t", "p3", "2026-01-02 10:00:01"),
        ]
        append_batch_manifest(_frame(spark, rows), _store(), tp, 0)
        res = execute_sql(
            spark,
            f"UPDATE `{tp}` SET payload = 'X' WHERE "
            "collect_datetime <= '2026-01-02 10:00'",
        )
        assert res["candidate_batches"] == 1
        assert res["rows_updated"] == 2  # 09:59:59 and 10:00:00


class TestCaseExpressionNesting:
    """ADVICE r14 (low): CASE ... END nests like a paren -- its WHEN /
    THEN / AND belong to the expression, not the statement scan."""

    def test_merge_case_in_update_set(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=4)
        _frame(
            spark,
            [("m0001", "t", "zzz", "2024-01-05"),
             ("m0002", "t", "a", "2024-01-05")],
        ).createOrReplaceTempView("case_v")
        res = execute_sql(
            spark,
            f"MERGE INTO `{tp}` t USING case_v s ON t.mid = s.mid "
            "WHEN MATCHED THEN UPDATE SET payload = "
            "CASE WHEN s.payload > t.payload THEN s.payload "
            "ELSE t.payload END",
        )
        assert res["rows_updated"] == 2
        got = {
            r["mid"]: r["payload"]
            for r in read_sink(spark, tp)
            .filter("mid IN ('m0001','m0002')").collect()
        }
        assert got == {"m0001": "zzz", "m0002": "p2"}

    def test_case_with_and_in_where_stays_whole(self):
        eq, dates, ranges, res = _extract_hints(
            "mid = 'ma' AND CASE WHEN topic = 'a' AND payload = 'b' "
            "THEN true ELSE false END"
        )
        assert eq == {"mid": "ma"}
        assert res == (
            "(CASE WHEN topic = 'a' AND payload = 'b' "
            "THEN true ELSE false END)"
        )

    def test_case_in_merge_clause_pred(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=4)
        _frame(
            spark, [("m0001", "t", "x", "2024-01-05")]
        ).createOrReplaceTempView("casep_v")
        res = execute_sql(
            spark,
            f"MERGE INTO `{tp}` t USING casep_v s ON t.mid = s.mid "
            "WHEN MATCHED AND (CASE WHEN s.payload = 'x' THEN true "
            "ELSE false END) THEN DELETE",
        )
        assert res["rows_deleted"] == 1

    def test_update_statement_case_set_expr(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=4)
        res = execute_sql(
            spark,
            f"UPDATE `{tp}` SET payload = CASE WHEN mid = 'm0001' "
            "THEN 'one' ELSE 'other' END WHERE topic = 't/0'",
        )
        assert res["rows_updated"] == 4
        assert (
            read_sink(spark, tp).filter("payload = 'one'").count() == 1
        )


class TestIdentityInsertQualifiers:
    """ADVICE r14 (low): only SOURCE-qualified VALUES entries count as
    identity inserts; a target-qualified entry is a scope error."""

    def test_target_qualified_values_rejected(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=2)
        _frame(
            spark, [("mNEW", "t", "n", "2024-01-05")]
        ).createOrReplaceTempView("tq_v")
        cols = "mid, topic, payload, collect_datetime, collect_date"
        vals = "t.mid, " + ", ".join(
            f"s.{c.strip()}" for c in cols.split(",")[1:]
        )
        with pytest.raises(SqlStatementError, match="target-qualified"):
            execute_sql(
                spark,
                f"MERGE INTO `{tp}` t USING tq_v s ON t.mid = s.mid "
                f"WHEN NOT MATCHED THEN INSERT ({cols}) "
                f"VALUES ({vals})",
            )

    def test_unknown_qualifier_not_identity(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=2)
        _frame(
            spark, [("mNEW", "t", "n", "2024-01-05")]
        ).createOrReplaceTempView("uq_v")
        with pytest.raises(SqlStatementError, match="identity INSERT"):
            execute_sql(
                spark,
                f"MERGE INTO `{tp}` t USING uq_v s ON t.mid = s.mid "
                "WHEN NOT MATCHED THEN INSERT (mid) VALUES (x.mid)",
            )


class TestBatchedProbeSetValidation:
    """ADVICE r14 (low): the batched probe must never swallow the loud
    'SET columns not in sink schema' error -- even when a live batch
    predates recorded schemas while every CANDIDATE has one."""

    def test_bad_set_column_raises_with_prerecorded_batch(
        self, spark, tmp_path, monkeypatch
    ):
        import json

        from mqtt_message_pump_spark import sinks

        tp = _mk_sink(spark, tmp_path / "s", n_batches=3, per=4)
        # age ONE batch back to the pre-recorded-schema era (local FS
        # in tests: edit the manifest json directly)
        victim = tmp_path / "s" / "_manifests" / "b0.json"
        m = json.loads(victim.read_text())
        assert m.pop("schema", None) is not None
        victim.write_text(json.dumps(m, sort_keys=True))
        crc = victim.parent / f".{victim.name}.crc"
        if crc.exists():
            crc.unlink()  # Hadoop LocalFS checksum sidecar
        monkeypatch.setattr(sinks, "_PROBE_UNION_MIN", 1)
        with pytest.raises(ValueError, match="SET columns"):
            update_sink_where(
                spark, tp, set={"nope_col": "'x'"},
                where="true",
            )


# ------------------------------ INSERT INTO -------------------------------


class TestInsertStatement:
    """Statement-text INSERT (the reference's most-executed statement,
    ``data_dbstore.go:67,109-112,336-421``): VALUES and SELECT forms
    onto ``append_batch_manifest``, with the replay-idempotent
    explicit-id republish contract."""

    ROWS = [
        ("m1", "t/a", "p1", "2024-01-01 00:00:01"),
        ("m2", "t/b", "p2", "2024-01-02 00:00:02"),
    ]

    def test_values_parity_with_dataframe_append(self, spark, tmp_path):
        sql_tp = str(tmp_path / "sql")
        py_tp = str(tmp_path / "py")
        res = execute_sql(
            spark,
            f"INSERT INTO `{sql_tp}` "
            "(mid, topic, payload, collect_datetime) VALUES "
            "('m1', 't/a', 'p1', '2024-01-01 00:00:01'), "
            "('m2', 't/b', 'p2', '2024-01-02 00:00:02')",
        )
        append_batch_manifest(
            _frame(spark, self.ROWS), _store(), py_tp, 0
        )
        assert res["statement"] == "insert"
        assert res["rows_inserted"] == 2
        assert res["batch_id"] == 0 and res["created_sink"]
        # identical sink states: rows, batch structure, stats, blooms
        assert _state(spark, sql_tp) == _state(spark, py_tp)
        # and identical types: the string literal landed as TIMESTAMP
        assert (
            read_sink(spark, sql_tp).schema
            == read_sink(spark, py_tp).schema
        )

    def test_no_column_list_maps_all_but_collect_date(
        self, spark, tmp_path
    ):
        tp = str(tmp_path / "s")
        append_batch_manifest(
            _frame(spark, self.ROWS), _store(), tp, 0
        )
        res = execute_sql(
            spark,
            f"INSERT INTO `{tp}` VALUES "
            "('m3', 't/c', 'p3', '2024-01-03 00:00:03')",
        )
        assert res["rows_inserted"] == 1 and res["batch_id"] == 1
        got = (
            read_sink(spark, tp).filter("mid = 'm3'").collect()[0]
        )
        assert str(got["collect_date"]) == "2024-01-03"  # derived

    def test_select_form(self, spark, tmp_path):
        tp = str(tmp_path / "s")
        append_batch_manifest(
            _frame(spark, self.ROWS), _store(), tp, 0
        )
        read_sink(spark, tp).createOrReplaceTempView("ins_src_v")
        res = execute_sql(
            spark,
            f"INSERT INTO `{tp}` "
            "(mid, topic, payload, collect_datetime) "
            "SELECT concat('c-', mid), topic, payload, "
            "collect_datetime FROM ins_src_v WHERE mid = 'm1'",
        )
        assert res["rows_inserted"] == 1
        assert (
            read_sink(spark, tp).filter("mid = 'c-m1'").count() == 1
        )

    def test_explicit_batch_id_replay_swaps(self, spark, tmp_path):
        tp = str(tmp_path / "s")
        stmt = (
            f"INSERT INTO `{tp}` "
            "(mid, topic, payload, collect_datetime) VALUES "
            "('m9', 't/z', '%s', '2024-01-09 00:00:00')"
        )
        execute_sql(spark, stmt % "attempt1", batch_id=7)
        execute_sql(spark, stmt % "attempt2", batch_id=7)
        out = read_sink(spark, tp).collect()
        # the republish SWAPPED batch 7 -- exactly-once, not twice
        assert len(out) == 1 and out[0]["payload"] == "attempt2"

    def test_epoch_scopes_the_key(self, spark, tmp_path):
        tp = str(tmp_path / "s")
        res = execute_sql(
            spark,
            f"INSERT INTO `{tp}` "
            "(mid, topic, payload, collect_datetime) VALUES "
            "('m1', 't', 'p', '2024-01-01 00:00:00')",
            batch_id=0, epoch="e1",
        )
        assert res["key"] == "be1-0.json"
        assert read_sink(spark, tp).count() == 1

    def test_auto_id_never_reuses_a_dropped_id(self, spark, tmp_path):
        """A full-batch DELETE leaves a drop tombstone that retires its
        victim name forever; the next auto-allocated INSERT id must
        skip past it or the new rows would be invisible."""
        tp = _mk_sink(spark, tmp_path / "s", n_batches=2, per=3)
        execute_sql(
            spark, f"DELETE FROM `{tp}` WHERE topic = 't/1'"
        )  # batch 1 fully dropped -> tombstone supersedes b1.json
        res = execute_sql(
            spark,
            f"INSERT INTO `{tp}` "
            "(mid, topic, payload, collect_datetime) VALUES "
            "('mNEW', 't/new', 'p', '2024-01-05 00:00:00')",
        )
        assert res["batch_id"] == 2  # not 1
        assert (
            read_sink(spark, tp).filter("mid = 'mNEW'").count() == 1
        )

    def test_empty_sink_without_columns_raises(self, spark, tmp_path):
        with pytest.raises(SqlStatementError, match="column list"):
            execute_sql(
                spark,
                f"INSERT INTO `{tmp_path / 's'}` VALUES ('m', 't', "
                "'p', '2024-01-01 00:00:00')",
            )

    def test_select_arity_mismatch_raises(self, spark, tmp_path):
        tp = str(tmp_path / "s")
        append_batch_manifest(
            _frame(spark, self.ROWS), _store(), tp, 0
        )
        read_sink(spark, tp).createOrReplaceTempView("arity_v")
        with pytest.raises(SqlStatementError, match="produces"):
            execute_sql(
                spark,
                f"INSERT INTO `{tp}` (mid, topic) "
                "SELECT mid FROM arity_v",
            )

    def test_missing_partition_source_raises(self, spark, tmp_path):
        with pytest.raises(SqlStatementError, match="collect_date"):
            execute_sql(
                spark,
                f"INSERT INTO `{tmp_path / 's'}` (mid, topic) "
                "VALUES ('m', 't')",
            )

    def test_grammar_errors(self, spark, tmp_path):
        for stmt, msg in [
            ("INSERT `x` VALUES (1)", "supported forms"),
            (f"INSERT INTO `{tmp_path / 's'}` (a, a) VALUES (1, 2)",
             "repeats a column"),
            (f"INSERT INTO `{tmp_path / 's'}` () VALUES (1)",
             "column list is empty"),
            (f"INSERT INTO `{tmp_path / 's'}` (a) VALUES x",
             "parenthesized"),
        ]:
            with pytest.raises(SqlStatementError, match=msg):
                execute_sql(spark, stmt)

    def test_non_sink_dir_rejected(self, spark, tmp_path):
        d = tmp_path / "plain"
        d.mkdir()
        (d / "afile.txt").write_text("not a sink")
        with pytest.raises(SqlStatementError, match="not a manifest"):
            execute_sql(
                spark,
                f"INSERT INTO `{d}` (mid, topic, payload, "
                "collect_datetime) VALUES ('m', 't', 'p', "
                "'2024-01-01 00:00:00')",
            )


# ---------------------------- SELECT statements ---------------------------


class TestSelectStatement:
    """SELECT/WITH through ``execute_sql``: a FRESH pruned native
    relation per statement -- full manifest/bloom pruning without the
    readInfo-poisoning hazard the registered views' ``pushdown=off``
    default guards against."""

    def test_point_select_prunes_like_read_sink(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s")
        catalog.register_sink(spark, tp, "sel_p_v")
        df = execute_sql(
            spark, "SELECT * FROM sel_p_v WHERE mid = 'm0105'"
        )
        assert df.count() == 1
        # identical planned partition set to the opt-in pushdown view
        # and to read_sink(eq=): one surviving batch x two date files
        assert df.rdd.getNumPartitions() == 2
        assert len(
            read_sink(spark, tp, eq={"mid": "m0105"}).inputFiles()
        ) == 2

    def test_statement_reads_never_poison_each_other(
        self, spark, tmp_path
    ):
        tp = _mk_sink(spark, tmp_path / "s")
        catalog.register_sink(spark, tp, "sel_s_v")
        assert execute_sql(
            spark,
            "SELECT count(*) AS n FROM sel_s_v WHERE mid = 'm0105'",
        ).collect()[0]["n"] == 1
        # a later unfiltered STATEMENT read is a fresh relation
        assert execute_sql(
            spark, "SELECT count(*) AS n FROM sel_s_v"
        ).collect()[0]["n"] == 60
        # and the long-lived view stays unpoisoned (pushdown=off)
        assert spark.sql(
            "SELECT count(*) AS n FROM sel_s_v"
        ).collect()[0]["n"] == 60

    def test_cte_name_shadows_sink(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=3)
        catalog.register_sink(spark, tp, "cte_clash_v")
        out = execute_sql(
            spark,
            "WITH cte_clash_v AS (SELECT 1 AS x) "
            "SELECT x FROM cte_clash_v",
        ).collect()
        assert [r["x"] for r in out] == [1]

    def test_alias_and_qualified_references(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=3)
        catalog.register_sink(spark, tp, "sel_q_v")
        out = execute_sql(
            spark,
            "SELECT s.mid, sel_q_v2.topic FROM sel_q_v s "
            "JOIN (SELECT * FROM sel_q_v) sel_q_v2 "
            "ON s.mid = sel_q_v2.mid WHERE s.mid = 'm0001'",
        ).collect()
        assert len(out) == 1 and out[0]["mid"] == "m0001"

    def test_tables_mapping_resolves_paths(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=4)
        assert execute_sql(
            spark,
            "SELECT count(*) AS n FROM stmt_t",
            tables={"stmt_t": tp},
        ).collect()[0]["n"] == 4

    def test_one_shot_views_are_dropped(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=2)
        catalog.register_sink(spark, tp, "sel_d_v")
        execute_sql(spark, "SELECT * FROM sel_d_v").count()
        leftover = [
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("__stmt_")
        ]
        assert leftover == []


class TestPushdownDefaultFlip:
    """Pre-wired flip for the day Spark fixes the readInfo reuse
    (VERDICT r14 #5): setting ``catalog.DEFAULT_PUSHDOWN = True`` must
    be the ONLY edit needed for registered views to prune."""

    def test_flipping_the_constant_prunes_views(
        self, spark, tmp_path, monkeypatch
    ):
        monkeypatch.setattr(catalog, "DEFAULT_PUSHDOWN", True)
        tp = _mk_sink(spark, tmp_path / "s")
        catalog.register_sink(spark, tp, "flip_v")
        df = spark.sql("SELECT * FROM flip_v WHERE mid = 'm0105'")
        assert df.count() == 1
        assert df.rdd.getNumPartitions() == 2  # pruned, as the opt-in
        # refresh keeps the resolved setting
        catalog.refresh(spark, "flip_v")
        assert spark.sql(
            "SELECT * FROM flip_v WHERE mid = 'm0105'"
        ).rdd.getNumPartitions() == 2

    def test_default_stays_off_today(self, spark, tmp_path):
        tp = _mk_sink(spark, tmp_path / "s", n_batches=1, per=2)
        assert catalog.DEFAULT_PUSHDOWN is False
        catalog.register_sink(spark, tp, "noflip_v")
        p = spark.sql("SELECT * FROM noflip_v WHERE mid = 'm0000'")
        assert p.count() == 1
        assert p.rdd.getNumPartitions() >= 1  # unpruned full plan
        assert spark.sql(
            "SELECT count(*) AS n FROM noflip_v"
        ).collect()[0]["n"] == 2
