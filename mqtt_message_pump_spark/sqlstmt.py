"""SQL-*statement* DML over manifest sinks: parse the standard text
forms --

- ``INSERT INTO t [(cols)] VALUES (...), ...`` and
  ``INSERT INTO t [(cols)] SELECT ...`` (the reference's
  most-executed statement, ``data_dbstore.go:67,109-112,336-421``;
  explicit ``batch_id``/``epoch`` give the replay-idempotent
  republish contract)
- ``DELETE FROM t WHERE <pred>``
- ``UPDATE t SET col = expr[, ...] WHERE <pred>``
- ``MERGE INTO t [AS a] USING <src> [AS b] ON <cond> WHEN ...``
- ``RESTORE [TABLE] t TO VERSION|TIMESTAMP AS OF <v>``
- ``VACUUM t [RETAIN <n> SECONDS|MINUTES|HOURS]`` (Delta VACUUM ->
  :func:`~mqtt_message_pump_spark.sinks.vacuum_sink`)
- ``OPTIMIZE t`` (Delta OPTIMIZE ->
  :func:`~mqtt_message_pump_spark.sinks.compact_sink`)

-- and execute them on the existing DML cores
(:func:`~mqtt_message_pump_spark.sinks.delete_sink_where`,
:func:`~mqtt_message_pump_spark.sinks.update_sink_where`,
:func:`~mqtt_message_pump_spark.sinks.merge_sink`,
:func:`~mqtt_message_pump_spark.sinks.restore_sink`).  This completes
the subsumption of the reference's delegated SQL surface for the WRITE
half: the reference's whole store layer is SQL text handed to
ClickHouse/SQLite (``data_dbstore.go:56-147``); round 13 made *reads*
SQL-native (the ``manifest_sink`` source + temp views), and this layer
makes the mutating statements SQL too, so an operator can drive the
sink with the exact statements they would send a warehouse.

Design notes (why a parser and not Spark's):

- Spark SQL cannot target a Python-datasource table with DML (no
  catalog write integration for Python sources), so the statement layer
  lives in front of the engine -- the same place Delta's own extension
  parser sits.  The grammar here is the narrow, standard DML subset;
  anything else raises loudly with the supported form in the message.
- Predicates are routed through the SAME structured-hint extraction the
  Python API uses: top-level ``col = lit`` / ``col IN (lits)`` /
  ``col >= lit`` / ``col <= lit`` / ``col BETWEEN a AND b`` conjuncts
  become ``eq`` / ``dates`` / ``ranges`` hints (manifest stat + bloom
  pruning, :func:`~mqtt_message_pump_spark.sinks._dml_predicate`), and
  every other conjunct stays a residual row predicate -- so a SQL
  ``DELETE FROM t WHERE mid = 'x'`` plans the identical point rewrite
  the Python ``eq={"mid": "x"}`` call does.  Extraction is semantics-
  preserving by construction: only exactly-representable conjuncts are
  lifted (strict ``<`` / ``>`` stay residual; a top-level ``OR``
  disables lifting entirely).
- Table names resolve through the session catalog
  (:mod:`~mqtt_message_pump_spark.catalog`), an explicit
  ``tables={name: path}`` mapping, or a backtick-quoted / path-like
  literal -- mirroring Delta's ``delta.`/path/to/table``` convention.

Parity contract (tested): a statement and its Python-API twin produce
identical sink states -- same rows, same live-batch structure, same
recorded stats -- differing only in generated object names.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

__all__ = ["execute_sql", "SqlStatementError"]


class SqlStatementError(ValueError):
    """Raised for statements outside the supported DML grammar; the
    message always names the supported form."""


# --------------------------------------------------------------------------
# lexical helpers: every scan below runs on a MASKED copy of the text
# (string / backtick / double-quote interiors blanked, lengths kept) so
# keywords inside literals can never confuse the parser, while slices
# are always taken from the ORIGINAL text.
# --------------------------------------------------------------------------


def _masked(sql: str) -> str:
    out = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            if j >= n:
                raise SqlStatementError(
                    f"unterminated string literal at offset {i}"
                )
            out.append("'" + " " * (j - i - 1) + "'")
            i = j + 1
        elif c in ("`", '"'):
            j = sql.find(c, i + 1)
            if j == -1:
                raise SqlStatementError(
                    f"unterminated quoted identifier at offset {i}"
                )
            out.append(c + " " * (j - i - 1) + c)
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


_CASE_RE = re.compile(r"\bCASE\b", re.IGNORECASE)
_CASE_END_RE = re.compile(r"\bEND\b", re.IGNORECASE)


def _find_top(masked: str, kw: str, start: int = 0):
    """First match of keyword phrase ``kw`` (words separated by
    whitespace) at paren depth 0, or None.  ``masked`` must come from
    :func:`_masked`.  A ``CASE ... END`` opens a nesting level like a
    paren: its interior WHEN/THEN/AND/ELSE belong to the CASE
    expression, not to the statement being scanned (standard-SQL merge
    actions like ``UPDATE SET v = CASE WHEN s.x > 1 THEN 1 ELSE 0 END``
    must not read as new merge clauses)."""
    pat = re.compile(
        r"\b" + r"\s+".join(re.escape(w) for w in kw.split()) + r"\b",
        re.IGNORECASE,
    )
    depth = 0
    case_depth = 0
    i = start
    n = len(masked)
    while i < n:
        c = masked[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            cm = _CASE_RE.match(masked, i)
            if cm:
                case_depth += 1
                i = cm.end()
                continue
            em = _CASE_END_RE.match(masked, i)
            if em:
                case_depth = max(0, case_depth - 1)
                i = em.end()
                continue
            if case_depth == 0:
                m = pat.match(masked, i)
                if m:
                    return m
        i += 1
    return None


def _find_all_top(masked: str, kw: str, start: int = 0):
    out = []
    pos = start
    while True:
        m = _find_top(masked, kw, pos)
        if m is None:
            return out
        out.append(m)
        pos = m.end()


def _split_top(text: str, sep_kw: str | None = None, comma: bool = False):
    """Split ``text`` on top-level commas (``comma=True``) or a keyword
    (e.g. ``AND``), respecting parens/literals; ``BETWEEN ... AND`` is
    kept whole when splitting on AND."""
    masked = _masked(text)
    parts = []
    last = 0
    depth = 0
    case_depth = 0
    pending_between = 0
    if comma:
        toks = re.finditer(r"[(),]", masked)
    else:
        toks = re.finditer(
            r"\(|\)|\b(AND|BETWEEN|CASE|END)\b", masked, re.IGNORECASE
        )
    for m in toks:
        t = m.group(0)
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0:
            if comma and t == ",":
                parts.append(text[last:m.start()])
                last = m.end()
            elif not comma:
                # CASE ... END nests like a paren: an AND inside a CASE
                # arm is part of that expression, not a conjunction
                # boundary
                if t.upper() == "CASE":
                    case_depth += 1
                elif t.upper() == "END":
                    case_depth = max(0, case_depth - 1)
                elif case_depth:
                    pass
                elif t.upper() == "BETWEEN":
                    pending_between += 1
                elif pending_between:
                    pending_between -= 1
                else:
                    parts.append(text[last:m.start()])
                    last = m.end()
    parts.append(text[last:])
    return [p.strip() for p in parts if p.strip()]


_IDENT = r"(?:`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)"
_NUM_RE = re.compile(r"^[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?$")


def _unquote(ident: str) -> str:
    ident = ident.strip()
    if ident.startswith("`") and ident.endswith("`"):
        return ident[1:-1]
    return ident


def _parse_lit(tok: str):
    """Parse one SQL literal; returns (kind, python_value) or None.
    Only kinds with exactly-matching Spark row semantics are lifted
    into pruning hints -- everything else stays a residual predicate."""
    t = tok.strip()
    m = re.match(r"^DATE\s*'([^']*)'$", t, re.IGNORECASE)
    if m:
        import datetime

        try:
            return ("date", datetime.date.fromisoformat(m.group(1)))
        except ValueError:
            return None
    if t.startswith("'") and t.endswith("'") and len(t) >= 2:
        inner = t[1:-1]
        if "'" in inner.replace("''", ""):
            return None  # not a single literal
        return ("str", inner.replace("''", "'"))
    if _NUM_RE.match(t):
        try:
            return ("num", int(t))
        except ValueError:
            return ("num", float(t))
    if t.upper() in ("TRUE", "FALSE"):
        return ("bool", t.upper() == "TRUE")
    return None


def _extract_hints(where: str):
    """Lift exactly-representable top-level conjuncts of ``where`` into
    (eq, dates, ranges) pruning hints; returns
    ``(eq, dates, ranges, residual_where)``.  Lifting is conservative:
    a top-level OR, a strict inequality, or any conjunct that is not a
    plain ``col <op> literal`` keeps the text as a residual row
    predicate (same rows, just less manifest pruning)."""
    masked = _masked(where)
    if _find_top(masked, "OR") is not None:
        return None, None, None, where
    eq: dict = {}
    dates: list = []
    ranges: dict = {}
    residual: list[str] = []
    for conj in _split_top(where):
        got = _lift_conjunct(conj)
        if got is None:
            residual.append(conj)
            continue
        kind, col, val = got
        if kind == "eq":
            if col == "collect_date":
                # ONE lifted date conjunct only: a second one ANDs with
                # the first, and folding both into the single `dates`
                # list would turn the conjunction into a union (OR) --
                # keep the extras as exact residual predicates
                if dates:
                    residual.append(conj)
                elif isinstance(val, list):
                    dates.extend(str(v) for v in val)
                else:
                    dates.append(str(val))
            elif col in eq:
                residual.append(conj)  # second = on same col: keep exact
            else:
                eq[col] = val
        else:  # range
            lo, hi = ranges.get(col, (None, None))
            nlo, nhi = val
            if (nlo is not None and lo is not None) or (
                nhi is not None and hi is not None
            ):
                residual.append(conj)  # duplicate bound: keep exact
            else:
                ranges[col] = (nlo if nlo is not None else lo,
                               nhi if nhi is not None else hi)
    res = (
        " AND ".join(f"({c})" for c in residual) if residual else None
    )
    return (
        eq or None,
        sorted(set(dates)) or None,
        ranges or None,
        res,
    )


def _liftable(col: str, kind: str) -> bool:
    """Only literal kinds whose STRINGIFIED form matches the engine's
    row semantics exactly may become pruning hints: the stat intervals
    and bloom probes compare stringified values, so a numeric literal
    against a string column (Spark casts and matches '10.0' = 10; our
    probe str(10) != '10.0') or a bool could silently over-prune.
    Strings lift (see :func:`_hint_value` for the collect_datetime
    normalization); DATE literals lift for the partition column
    only (ISO text, the manifests' own `dates` stat format)."""
    if kind == "str":
        return True
    return kind == "date" and col == "collect_date"


_TS_STAT_COLS = frozenset({"collect_datetime"})


def _hint_value(col: str, lit):
    """The exact value to place in a pruning hint for a liftable
    literal, or None to REFUSE the lift (the conjunct stays a residual
    row predicate).  ``mid``/``topic`` stats store the string itself,
    so string literals pass through unchanged; ``collect_datetime`` is
    a TIMESTAMP whose manifest stats store ``str(datetime)``
    ('YYYY-MM-DD HH:MM:SS[.ffffff]'), so a timestamp literal must be
    normalized to that exact form before a lexicographic stat / bloom
    probe is sound: '2026-01-02T00:00:00' sorts AFTER
    '2026-01-02 23:59:59' (' ' < 'T'), and a truncated '... 10:00'
    shifts the compared bound the same way -- either silently prunes
    batches whose rows actually match.  Unparseable or tz-aware
    literals refuse: less pruning, never different rows."""
    kind, val = lit
    if kind != "str" or col not in _TS_STAT_COLS:
        return val
    import datetime

    try:
        dt = datetime.datetime.fromisoformat(val)
    except ValueError:
        return None
    if dt.tzinfo is not None:
        return None  # stats are naive-UTC str(datetime); a zoned
        #             literal's row semantics depend on the session tz
    return str(dt)


def _lift_conjunct(conj: str):
    """One conjunct -> ('eq', col, val_or_list) | ('range', col,
    (lo, hi)) | None."""
    m = re.match(
        rf"^\s*({_IDENT})\s*(=|>=|<=)\s*(.+?)\s*$", conj, re.DOTALL
    )
    if m:
        lit = _parse_lit(m.group(3))
        col = _unquote(m.group(1))
        if lit is None or not _liftable(col, lit[0]):
            return None
        val = _hint_value(col, lit)
        if val is None:
            return None
        op = m.group(2)
        if op == "=":
            return ("eq", col, val)
        if op == ">=":
            return ("range", col, (val, None))
        return ("range", col, (None, val))
    m = re.match(
        rf"^\s*({_IDENT})\s+IN\s*\((.+)\)\s*$",
        conj,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        col = _unquote(m.group(1))
        vals = []
        for item in _split_top(m.group(2), comma=True):
            lit = _parse_lit(item)
            if lit is None or not _liftable(col, lit[0]):
                return None
            val = _hint_value(col, lit)
            if val is None:
                return None
            vals.append(val)
        return ("eq", col, vals) if vals else None
    m = re.match(
        rf"^\s*({_IDENT})\s+BETWEEN\s+(.+?)\s+AND\s+(.+?)\s*$",
        conj,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        col = _unquote(m.group(1))
        lo, hi = _parse_lit(m.group(2)), _parse_lit(m.group(3))
        if (
            lo is None
            or hi is None
            or not _liftable(col, lo[0])
            or not _liftable(col, hi[0])
        ):
            return None
        vlo, vhi = _hint_value(col, lo), _hint_value(col, hi)
        if vlo is None or vhi is None:
            return None
        return ("range", col, (vlo, vhi))
    return None


# --------------------------------------------------------------------------
# qualified-reference rewriting (MERGE namespaces)
# --------------------------------------------------------------------------


def _strip_quals(expr: str, names: set) -> str:
    """Drop known ``alias.`` qualifiers outside literals (used on ON
    scope conjuncts before literal lifting)."""
    masked = _masked(expr)
    pat = re.compile(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*")
    out = []
    last = 0
    for m in pat.finditer(masked):
        if expr[m.start(1):m.end(1)].lower() in names:
            out.append(expr[last:m.start()])
            last = m.end()
    out.append(expr[last:])
    return "".join(out)


def _rewrite_refs(expr: str, t_names: set, s_names: set) -> str:
    """Rewrite alias-qualified references for merge_sink's namespace:
    ``t.col`` -> ``col`` (target columns are bare) and ``s.col`` ->
    ``s_col`` (merge_sink exposes source columns under the ``s_``
    prefix).  Runs outside literals; an unknown qualifier raises."""
    masked = _masked(expr)
    pat = re.compile(rf"\b([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*({_IDENT})")
    out = []
    last = 0
    for m in pat.finditer(masked):
        qual = expr[m.start(1):m.end(1)]
        col_raw = expr[m.start(2):m.end(2)]
        col = _unquote(col_raw)
        out.append(expr[last:m.start()])
        ql = qual.lower()
        if ql in t_names:
            out.append(f"`{col}`" if col_raw.startswith("`") else col)
        elif ql in s_names:
            out.append(
                f"`s_{col}`" if col_raw.startswith("`") else f"s_{col}"
            )
        else:
            raise SqlStatementError(
                f"unknown qualifier {qual!r} in {expr!r} (target/source "
                "aliases only; nested-field access on a qualified column "
                "is not supported in this grammar)"
            )
        last = m.end()
    out.append(expr[last:])
    return "".join(out)


# --------------------------------------------------------------------------
# table / source resolution
# --------------------------------------------------------------------------


def _resolve_table(
    spark: SparkSession, token: str, tables: "dict[str, str] | None"
) -> str:
    tok = token.strip().rstrip(";").strip()
    if tok.startswith("`") and tok.endswith("`"):
        return tok[1:-1]
    if "/" in tok:
        return tok
    if tables and tok in tables:
        return tables[tok]
    from mqtt_message_pump_spark import catalog

    p = catalog.sink_path(spark, tok)
    if p is not None:
        return p
    raise SqlStatementError(
        f"unknown sink table {tok!r}: register it "
        "(catalog.register_sink / `pump register`), pass "
        "tables={name: path}, or backtick-quote the filesystem path"
    )


def _is_manifest_sink(spark: SparkSession, path: str) -> bool:
    from mqtt_message_pump_spark.sinks import _hadoop_fs

    fs, HPath = _hadoop_fs(spark, path)
    return fs.exists(HPath(f"{path}/_manifests"))


def _resolve_source_df(
    spark: SparkSession,
    token: str,
    alias: "str | None",
    tables: "dict[str, str] | None",
) -> DataFrame:
    from mqtt_message_pump_spark.sinks import read_sink

    tok = token.strip()
    if tok.startswith("("):
        return spark.sql(f"SELECT * FROM {tok} AS {alias or '__src'}")
    if not (tok.startswith("`") and tok.endswith("`")) and "/" not in tok:
        if tables and tok in tables:
            tok = f"`{tables[tok]}`"
        else:
            from mqtt_message_pump_spark import catalog

            p = catalog.sink_path(spark, tok)
            if p is not None:
                tok = f"`{p}`"
            elif spark.catalog.tableExists(tok):
                return spark.table(tok)
            else:
                raise SqlStatementError(
                    f"unknown MERGE source {tok!r}: a registered sink, "
                    "an existing view, a (subquery), or a quoted path"
                )
    path = tok[1:-1] if tok.startswith("`") else tok
    if _is_manifest_sink(spark, path):
        return read_sink(spark, path, merge_schema=True)
    return spark.read.parquet(path)


# --------------------------------------------------------------------------
# statement parsers
# --------------------------------------------------------------------------


def _parse_delete(sql: str, masked: str) -> dict:
    m = re.match(r"^\s*DELETE\s+FROM\s+", masked, re.IGNORECASE)
    if m is None:
        raise SqlStatementError(
            "supported form: DELETE FROM t WHERE <pred>"
        )
    w = _find_top(masked, "WHERE", m.end())
    if w is None:
        raise SqlStatementError(
            "DELETE requires a WHERE clause (an unconditional pass is "
            "WHERE TRUE) -- supported form: DELETE FROM t WHERE <pred>"
        )
    target = sql[m.end():w.start()].strip()
    where = sql[w.end():].strip().rstrip(";").strip()
    if not target or not where:
        raise SqlStatementError(
            "supported form: DELETE FROM t WHERE <pred>"
        )
    return {"kind": "delete", "target": target, "where": where}


def _parse_update(sql: str, masked: str) -> dict:
    m = re.match(r"^\s*UPDATE\s+", masked, re.IGNORECASE)
    if m is None:
        raise SqlStatementError(
            "supported form: UPDATE t SET col = expr[, ...] WHERE <pred>"
        )
    s = _find_top(masked, "SET", m.end())
    if s is None:
        raise SqlStatementError(
            "supported form: UPDATE t SET col = expr[, ...] WHERE <pred>"
        )
    w = _find_top(masked, "WHERE", s.end())
    if w is None:
        raise SqlStatementError(
            "UPDATE requires a WHERE clause (an unconditional pass is "
            "WHERE TRUE) -- supported form: UPDATE t SET col = expr"
            "[, ...] WHERE <pred>"
        )
    target = sql[m.end():s.start()].strip()
    set_text = sql[s.end():w.start()].strip()
    where = sql[w.end():].strip().rstrip(";").strip()
    set_map = {}
    for item in _split_top(set_text, comma=True):
        am = re.match(
            rf"^\s*({_IDENT})\s*=\s*(.+?)\s*$", item, re.DOTALL
        )
        if not am:
            raise SqlStatementError(
                f"bad SET assignment {item!r}; expected col = <expr>"
            )
        col = _unquote(am.group(1))
        if col in set_map:
            raise SqlStatementError(f"column {col!r} SET twice")
        set_map[col] = am.group(2)
    if not set_map:
        raise SqlStatementError("UPDATE SET list is empty")
    return {
        "kind": "update", "target": target, "set": set_map,
        "where": where,
    }


def _rewrite_words(sql: str, masked: str, mapping: "dict[str, str]"):
    """Replace whole-word occurrences of the (lowercased) keys of
    ``mapping`` outside literals/quoted identifiers.  A word preceded
    by ``.`` is a column reference (``alias.name``) and is left alone;
    a word FOLLOWED by ``.`` is a table qualifier and is rewritten."""
    pat = re.compile(r"\b[A-Za-z_][A-Za-z0-9_]*\b")
    out = []
    last = 0
    for m in pat.finditer(masked):
        repl = mapping.get(sql[m.start():m.end()].lower())
        if repl is None:
            continue
        j = m.start() - 1
        while j >= 0 and masked[j] in " \t\r\n":
            j -= 1
        if j >= 0 and masked[j] == ".":
            continue  # alias.column
        out.append(sql[last:m.start()])
        out.append(repl)
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def _select_statement_df(
    spark: SparkSession,
    sql: str,
    masked: str,
    tables: "dict[str, str] | None",
) -> DataFrame:
    """SELECT/WITH through the statement layer with FULL manifest
    pruning: every referenced registered-sink name is bound to a FRESH
    native relation (``manifest_sink``, ``pushdown=auto``) created for
    THIS statement only.  The long-lived views from
    :func:`~mqtt_message_pump_spark.catalog.register_sink` default to
    ``pushdown=off`` because Spark 4.1's Python data sources cache one
    read plan per relation (the readInfo-poisoning defect, canary in
    ``tests/test_sqlstmt.py``); a per-statement relation can never be
    reused by a later scan, so pushFilters prunes safely every time --
    a point SELECT plans the same batch set as ``read_sink(eq=...)``.
    CTE names shadow sink names (standard SQL scoping); the one-shot
    views are dropped as soon as the statement is analyzed."""
    import uuid as _uuid

    from mqtt_message_pump_spark import catalog

    lower_paths: "dict[str, str]" = {
        n.lower(): p
        for n, p in catalog.registered_sinks(spark).items()
    }
    for n, p in (tables or {}).items():
        lower_paths[n.lower()] = p
    ctes = {
        m.group(1).lower()
        for m in re.finditer(
            r"\b([A-Za-z_][A-Za-z0-9_]*)\s+AS\s*\(", masked,
            re.IGNORECASE,
        )
    }
    mapping: "dict[str, str]" = {}
    created: "list[str]" = []
    try:
        for nl, path in lower_paths.items():
            if nl in ctes:
                continue
            if re.search(
                rf"\b{re.escape(nl)}\b", masked, re.IGNORECASE
            ) is None:
                continue
            if not _is_manifest_sink(spark, path):
                continue
            from mqtt_message_pump_spark.sources.manifestsink import (
                register_manifest_sink_source,
            )

            register_manifest_sink_source(spark)
            v = f"__stmt_{nl}_{_uuid.uuid4().hex[:8]}"
            (
                spark.read.format("manifest_sink")
                .option("path", path)
                .option("pushdown", "auto")
                .load()
                .createOrReplaceTempView(v)
            )
            created.append(v)
            mapping[nl] = v
        if not mapping:
            return spark.sql(sql)
        return spark.sql(_rewrite_words(sql, masked, mapping))
    finally:
        # spark.sql analyzes eagerly -- the returned frame holds the
        # resolved relations, so the one-shot names can go at once
        for v in created:
            spark.catalog.dropTempView(v)


def _parse_insert(sql: str, masked: str) -> dict:
    _FORMS = (
        "supported forms: INSERT INTO t [(cols)] VALUES (...), ... | "
        "INSERT INTO t [(cols)] SELECT ..."
    )
    m = re.match(r"^\s*INSERT\s+INTO\s+", masked, re.IGNORECASE)
    if m is None:
        raise SqlStatementError(_FORMS)
    vm = _find_top(masked, "VALUES", m.end())
    sm = _find_top(masked, "SELECT", m.end())
    if vm is not None and (sm is None or vm.start() < sm.start()):
        kw, mode = vm, "values"
    elif sm is not None:
        kw, mode = sm, "select"
    else:
        raise SqlStatementError(
            "INSERT requires a VALUES list or a SELECT source -- "
            + _FORMS
        )
    mh = masked[m.end():kw.start()]
    pi = mh.find("(")
    cols = None
    if pi == -1:
        target = sql[m.end():kw.start()].strip()
    else:
        target = sql[m.end():m.end() + pi].strip()
        pe = mh.rfind(")")
        if pe < pi or mh[pe + 1:].strip():
            raise SqlStatementError(
                "cannot parse INSERT column list: "
                f"{sql[m.end():kw.start()].strip()!r}"
            )
        cols = [
            _unquote(c)
            for c in _split_top(
                sql[m.end() + pi + 1:m.end() + pe], comma=True
            )
        ]
        if not cols:
            raise SqlStatementError("INSERT column list is empty")
        if len(set(cols)) != len(cols):
            raise SqlStatementError(
                "INSERT column list repeats a column"
            )
    if not target:
        raise SqlStatementError("INSERT INTO requires a target table")
    body_start = kw.start() if mode == "select" else kw.end()
    body = sql[body_start:].strip().rstrip(";").strip()
    if not body:
        raise SqlStatementError("INSERT VALUES list is empty")
    if mode == "values" and not body.startswith("("):
        raise SqlStatementError(
            f"INSERT VALUES expects parenthesized tuples, got "
            f"{body[:30]!r}"
        )
    return {"kind": "insert", "target": target, "cols": cols,
            "mode": mode, "body": body}


def _execute_insert(
    spark, p, tables, store, batch_id, epoch, force,
) -> dict:
    """Statement-level append: the reference's single most-executed
    statement (``data_dbstore.go:67,109-112``, executed at
    ``:336-421``) as text over the manifest sink.  The VALUES tuples
    are evaluated by Spark's own inline-table parser; an explicit
    ``batch_id`` makes a replay republish idempotent (the manifest
    OVERWRITE swaps the batch atomically, exactly the streaming
    writer's contract), while the default allocates the next id past
    every name the manifest listing has ever seen."""
    from pyspark.sql import functions as F

    from mqtt_message_pump_spark.config import StoreConf
    from mqtt_message_pump_spark.sinks import (
        _batch_key,
        _hadoop_fs,
        _next_batch_id,
        _read_json_object,
        _read_manifests,
        _require_maintenance_window,
        _sink_merged_schema,
        append_batch_manifest,
    )

    path = _resolve_table(spark, p["target"], tables)
    fs, HPath = _hadoop_fs(spark, path)
    is_sink = fs.exists(HPath(f"{path}/_manifests"))
    if (
        not is_sink
        and fs.exists(HPath(path))
        and list(fs.listStatus(HPath(path)))
    ):
        raise SqlStatementError(
            f"{path} exists but is not a manifest sink; statement "
            "INSERT bootstraps NEW sinks or appends to manifest "
            "sinks only"
        )
    live = _read_manifests(fs, HPath, path) if is_sink else []
    target_schema = (
        _sink_merged_schema(spark, path, live) if live else None
    )
    cols = p["cols"]
    if cols is None:
        if target_schema is None:
            raise SqlStatementError(
                "INSERT into an empty sink requires an explicit "
                "column list (no recorded schema to map positional "
                "values onto)"
            )
        # ClickHouse-parity default column set: every sink column
        # except the MATERIALIZED partition derivative collect_date
        # (``data_dbstore.go:165`` -- toDate(collect_datetime))
        cols = [
            f.name for f in target_schema.fields
            if f.name != "collect_date"
        ]
    if p["mode"] == "values":
        collist = ", ".join(f"`{c}`" for c in cols)
        df = spark.sql(
            f"SELECT * FROM VALUES {p['body']} AS __ins({collist})"
        )
    else:
        df = spark.sql(p["body"])
        if len(df.columns) != len(cols):
            raise SqlStatementError(
                f"INSERT column list names {len(cols)} columns but "
                f"the SELECT produces {len(df.columns)}"
            )
        df = df.toDF(*cols)
    # SQL INSERT coercion: provided values cast to the sink's recorded
    # column types (a string timestamp literal lands as TIMESTAMP); on
    # a brand-new sink the raw-message columns get their canonical
    # types (RAW_COLUMNS), anything else keeps its literal type
    tmap = (
        {f.name: f.dataType for f in target_schema.fields}
        if target_schema is not None else {}
    )
    raw_types = {
        "mid": "string", "topic": "string", "payload": "string",
        "collect_datetime": "timestamp", "collect_date": "date",
    }
    df = df.select(
        *[
            F.col(c).cast(tmap[c]).alias(c) if c in tmap
            else (
                F.col(c).cast(raw_types[c]).alias(c)
                if c in raw_types else F.col(c)
            )
            for c in df.columns
        ]
    )
    if "collect_date" not in df.columns:
        if "collect_datetime" not in df.columns:
            raise SqlStatementError(
                "INSERT must provide collect_date or "
                "collect_datetime (the partition column is derived "
                "as toDate(collect_datetime))"
            )
        df = df.withColumn(
            "collect_date", F.to_date("collect_datetime")
        )
    if not force:
        _require_maintenance_window(
            fs, HPath, path, "statement INSERT"
        )
    if batch_id is None:
        batch_id = _next_batch_id(fs, HPath, path)
    append_batch_manifest(
        df,
        store if store is not None
        else StoreConf(commit_protocol="manifest"),
        path, int(batch_id), epoch=epoch,
    )
    key = _batch_key(int(batch_id), epoch)
    m = _read_json_object(
        fs, HPath, f"{path}/_manifests/{key}.json"
    )
    return {
        "statement": "insert",
        "batch_id": int(batch_id),
        "epoch": epoch,
        "key": f"{key}.json",
        "rows_inserted": int(m.get("rows", 0)),
        "created_sink": not is_sink,
    }


def _parse_restore(sql: str, masked: str) -> dict:
    m = re.match(
        r"^\s*RESTORE\s+(?:TABLE\s+)?(`[^`]*`|\S+)\s+(?:TO\s+)?"
        r"(VERSION|TIMESTAMP)\s+AS\s+OF\s+(.+?)\s*;?\s*$",
        masked,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise SqlStatementError(
            "supported form: RESTORE [TABLE] t TO VERSION AS OF <n> | "
            "TO TIMESTAMP AS OF '<instant>'"
        )
    target = sql[m.start(1):m.end(1)]
    vkind = m.group(2).upper()
    vtext = sql[m.start(3):m.end(3)].strip().rstrip(";").strip()
    if vkind == "VERSION":
        if not re.match(r"^\d+$", vtext):
            raise SqlStatementError(
                f"VERSION AS OF takes an integer snapshot seq, got "
                f"{vtext!r}"
            )
        return {"kind": "restore", "target": target, "as_of": int(vtext)}
    lit = _parse_lit(vtext)
    if lit is None or lit[0] not in ("str", "num", "date"):
        raise SqlStatementError(
            f"TIMESTAMP AS OF takes a quoted instant or epoch seconds, "
            f"got {vtext!r}"
        )
    return {"kind": "restore", "target": target, "as_of_ts": lit[1]}


def _parse_vacuum(sql: str, masked: str) -> dict:
    m = re.match(
        r"^\s*VACUUM\s+(`[^`]*`|\S+)\s*(?:RETAIN\s+(\d+(?:\.\d+)?)\s+"
        r"(SECONDS|MINUTES|HOURS)\s*)?;?\s*$",
        masked,
        re.IGNORECASE,
    )
    if not m:
        raise SqlStatementError(
            "supported form: VACUUM t RETAIN <n> SECONDS|MINUTES|HOURS"
        )
    if not m.group(2):
        # no silent retention-0 default: Delta's VACUUM refuses low
        # retention for the same reason -- an instant reclaim deletes
        # attempt dirs concurrent readers / pinned as_of snapshots may
        # still be walking (vacuum_sink's reader-safety rule).  The
        # maintenance-window form is an EXPLICIT `RETAIN 0 SECONDS`.
        raise SqlStatementError(
            "VACUUM requires an explicit retention: RETAIN <n> "
            "SECONDS|MINUTES|HOURS, at least the longest concurrently-"
            "running read (RETAIN 0 SECONDS only inside a maintenance "
            "window)"
        )
    secs = float(m.group(2)) * {
        "SECONDS": 1, "MINUTES": 60, "HOURS": 3600,
    }[m.group(3).upper()]
    return {
        "kind": "vacuum",
        "target": sql[m.start(1):m.end(1)],
        "retention_secs": secs,
    }


def _parse_optimize(sql: str, masked: str) -> dict:
    m = re.match(
        r"^\s*OPTIMIZE\s+(`[^`]*`|\S+)\s*;?\s*$", masked, re.IGNORECASE
    )
    if not m:
        raise SqlStatementError("supported form: OPTIMIZE t")
    return {"kind": "optimize", "target": sql[m.start(1):m.end(1)]}


_CLAUSE_KINDS = ("matched", "not_matched", "not_matched_by_source")


def _parse_merge(sql: str, masked: str) -> dict:
    m = re.match(r"^\s*MERGE\s+INTO\s+", masked, re.IGNORECASE)
    if m is None:
        raise SqlStatementError(
            "supported form: MERGE INTO t [AS a] USING src [AS b] ON "
            "<cond> WHEN ..."
        )
    using = _find_top(masked, "USING", m.end())
    if using is None:
        raise SqlStatementError(
            "supported form: MERGE INTO t [AS a] USING src [AS b] ON "
            "<cond> WHEN ..."
        )
    on = _find_top(masked, "ON", using.end())
    if on is None:
        raise SqlStatementError("MERGE requires an ON clause")
    whens = _find_all_top(masked, "WHEN", on.end())
    if not whens:
        raise SqlStatementError(
            "MERGE requires at least one WHEN clause"
        )

    def _name_alias(text: str, what: str):
        toks = text.strip().split()
        if len(toks) == 3 and toks[1].upper() == "AS":
            return toks[0], toks[2]
        if len(toks) == 2:
            return toks[0], toks[1]
        if len(toks) == 1:
            return toks[0], None
        raise SqlStatementError(f"cannot parse MERGE {what}: {text!r}")

    target, t_alias = _name_alias(sql[m.end():using.start()], "target")
    src_text = sql[using.end():on.start()].strip()
    s_alias = None
    if not src_text.startswith("("):
        src_text, s_alias = _name_alias(src_text, "source")
    else:
        sm = re.match(
            r"^(\(.*\))\s*(?:AS\s+)?([A-Za-z_][A-Za-z0-9_]*)?\s*$",
            src_text,
            re.IGNORECASE | re.DOTALL,
        )
        if sm:
            src_text, s_alias = sm.group(1), sm.group(2)
    on_text = sql[on.end():whens[0].start()].strip()
    clauses = []
    for i, wm in enumerate(whens):
        end = whens[i + 1].start() if i + 1 < len(whens) else len(sql)
        clauses.append(sql[wm.end():end].strip().rstrip(";").strip())
    return {
        "kind": "merge",
        "target": target, "t_alias": t_alias,
        "source": src_text, "s_alias": s_alias,
        "on": on_text, "clauses": clauses,
    }


def _parse_merge_clause(text: str, t_names: set, s_names: set) -> dict:
    """One WHEN clause body (text AFTER the WHEN keyword)."""
    m = re.match(
        r"^\s*(NOT\s+MATCHED\s+BY\s+SOURCE|NOT\s+MATCHED"
        r"(?:\s+BY\s+TARGET)?|MATCHED)\s*(.*)$",
        _masked(text),
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise SqlStatementError(f"cannot parse WHEN clause: WHEN {text}")
    head = re.sub(r"\s+", " ", m.group(1).upper())
    kind = {
        "MATCHED": "matched",
        "NOT MATCHED": "not_matched",
        "NOT MATCHED BY TARGET": "not_matched",
        "NOT MATCHED BY SOURCE": "not_matched_by_source",
    }[head]
    rest = text[m.start(2):]
    rm = _masked(rest)
    then = _find_top(rm, "THEN")
    if then is None:
        raise SqlStatementError(f"WHEN clause missing THEN: WHEN {text}")
    cond = rest[:then.start()].strip()
    pred = None
    if cond:
        am = re.match(r"^AND\s+(.+)$", cond, re.IGNORECASE | re.DOTALL)
        if not am:
            raise SqlStatementError(
                f"unexpected text between WHEN ... and THEN: {cond!r}"
            )
        pred = _rewrite_refs(am.group(1).strip(), t_names, s_names)
    action_text = rest[then.end():].strip()
    amask = _masked(action_text)
    if re.match(r"^\s*DELETE\s*$", amask, re.IGNORECASE):
        return {"kind": kind, "action": "delete", "pred": pred}
    um = re.match(
        r"^\s*UPDATE\s+SET\s+(.+)$", amask, re.IGNORECASE | re.DOTALL
    )
    if um:
        body = action_text[um.start(1):].strip()
        if body == "*":
            return {"kind": kind, "action": "update", "pred": pred}
        set_map = {}
        for item in _split_top(body, comma=True):
            sm = re.match(
                rf"^\s*(?:{_IDENT}\s*\.\s*)?({_IDENT})\s*=\s*(.+?)\s*$",
                item,
                re.DOTALL,
            )
            if not sm:
                raise SqlStatementError(
                    f"bad MERGE SET assignment {item!r}"
                )
            col = _unquote(sm.group(1))
            set_map[col] = _rewrite_refs(
                sm.group(2), t_names, s_names
            )
        return {
            "kind": kind, "action": "set", "set": set_map, "pred": pred,
        }
    im = re.match(
        r"^\s*INSERT\s*(.*)$", amask, re.IGNORECASE | re.DOTALL
    )
    if im:
        body = action_text[im.start(1):].strip()
        if body in ("*", ""):
            return {"kind": kind, "action": "insert", "pred": pred}
        vm = re.match(
            r"^\((?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.*)\)\s*$",
            body,
            re.IGNORECASE | re.DOTALL,
        )
        if vm:
            cols = [
                _unquote(c) for c in _split_top(vm.group("cols"),
                                                comma=True)
            ]
            vals = _split_top(vm.group("vals"), comma=True)

            def _val_col(v: str) -> "str | None":
                # bare column, or a SOURCE-qualified one; a
                # target-qualified entry is a scope error in standard
                # MERGE (target columns are not visible to WHEN NOT
                # MATCHED), not an identity insert -- raise loudly
                # rather than silently reading the source column
                qm = re.match(
                    rf"^\s*({_IDENT})\s*\.\s*({_IDENT})\s*$", v
                )
                if qm:
                    qual = _unquote(qm.group(1)).lower()
                    if qual in t_names:
                        raise SqlStatementError(
                            f"INSERT VALUES entry {v.strip()!r} is "
                            "target-qualified: target columns are not "
                            "in scope for WHEN NOT MATCHED"
                        )
                    if qual not in s_names:
                        return None
                    return _unquote(qm.group(2))
                bm = re.match(rf"^\s*({_IDENT})\s*$", v)
                return _unquote(bm.group(1)) if bm else None

            ident = len(cols) == len(vals) and all(
                _val_col(v) == c for c, v in zip(cols, vals)
            )
            if ident:
                return {
                    "kind": kind, "action": "insert", "pred": pred,
                    "cols": cols,
                }
        raise SqlStatementError(
            "only the identity INSERT is supported -- INSERT * or "
            "INSERT (c1, ...) VALUES (src.c1, ...) with matching names; "
            "pre-project the source (USING (SELECT ...)) for anything "
            "else"
        )
    raise SqlStatementError(
        f"unsupported MERGE action {action_text!r}: expected UPDATE SET "
        "... | DELETE | INSERT"
    )


def _parse_merge_on(
    on_text: str, t_names: set, s_names: set
) -> "tuple[list[str], list[str] | None]":
    """ON conjuncts -> (key columns, dates scope).  Equality conjuncts
    must pair the SAME column name on both sides (merge_sink joins by
    name); ``collect_date = lit`` / ``IN (lits)`` conjuncts on the
    TARGET side become the statement's partition scope (the Delta
    partition-scoped-merge idiom)."""
    keys: list[str] = []
    date_scopes: "list[set[str]]" = []
    for conj in _split_top(on_text):
        cm = re.match(
            rf"^\s*(?:([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*)?({_IDENT})\s*=\s*"
            rf"(?:([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*)?({_IDENT})\s*$",
            _masked(conj),
        )
        # literals that LOOK like idents (TRUE/FALSE) fall through to
        # the scope branch; everything else matching ident = ident is a
        # key pair
        if cm and cm.group(4).upper() not in ("TRUE", "FALSE"):
            lq, l, rq, r = (
                conj[cm.start(g):cm.end(g)] if cm.start(g) >= 0 else None
                for g in (1, 2, 3, 4)
            )
            lcol, rcol = _unquote(l), _unquote(r)
            if lcol != rcol:
                raise SqlStatementError(
                    f"ON conjunct {conj!r}: key columns must share one "
                    "name on both sides (rename in the source subquery)"
                )
            for q in ((lq or "").lower(), (rq or "").lower()):
                if q and q not in t_names | s_names:
                    raise SqlStatementError(
                        f"unknown qualifier {q!r} in ON {conj!r}"
                    )
            keys.append(lcol)
            continue
        qm = re.match(
            r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*\.", _masked(conj)
        )
        if qm and conj[qm.start(1):qm.end(1)].lower() in s_names:
            # a SOURCE-side literal predicate is a row filter on the
            # source, NOT a target partition scope -- treating it as
            # one would turn should-be-INSERTs into UPDATEs
            raise SqlStatementError(
                f"ON conjunct {conj!r} constrains the SOURCE: filter "
                "the source instead (USING (SELECT ... WHERE ...))"
            )
        got = _lift_conjunct(_strip_quals(conj, t_names))
        if got is not None and got[0] == "eq" and got[1] == "collect_date":
            vals = got[2] if isinstance(got[2], list) else [got[2]]
            date_scopes.append({str(v) for v in vals})
            continue
        raise SqlStatementError(
            f"unsupported ON conjunct {conj!r}: equality key pairs and "
            "collect_date partition scopes only (put row predicates in "
            "the WHEN ... AND <pred> position)"
        )
    if not keys:
        raise SqlStatementError("MERGE ON names no key columns")
    dates = None
    if date_scopes:
        # conjunction = INTERSECTION of the scopes (folding them into
        # one list would be a union -- AND turned into OR)
        inter = set.intersection(*date_scopes)
        if not inter:
            raise SqlStatementError(
                "MERGE ON collect_date scopes are contradictory "
                f"(intersection empty): {sorted(map(sorted, date_scopes))}"
            )
        dates = sorted(inter)
    return keys, dates


# --------------------------------------------------------------------------
# executor
# --------------------------------------------------------------------------


def execute_sql(
    spark: SparkSession,
    statement: str,
    tables: "dict[str, str] | None" = None,
    store=None,
    merge_id: "str | None" = None,
    force: bool = False,
    batch_id: "int | None" = None,
    epoch: "str | None" = None,
) -> "dict | DataFrame":
    """Execute one SQL statement against a manifest sink.  Write
    statements return the underlying operation's summary dict plus
    ``"statement"``; ``SELECT``/``WITH`` return the result DataFrame,
    planned over FRESH fully-pruned native relations (one per
    statement, so the registered views' ``pushdown=off`` safety
    default costs reads through this layer nothing -- see
    :func:`_select_statement_df`).

    ``batch_id`` / ``epoch`` apply to INSERT only: an explicit id makes
    a replayed statement swap its own batch atomically instead of
    appending twice (the streaming writer's republish contract); the
    default allocates the next unused id."""
    sql = statement.strip()
    masked = _masked(sql)
    head = re.match(r"^\s*([A-Za-z]+)", masked)
    verb = (head.group(1) if head else "").upper()
    if verb in ("SELECT", "WITH"):
        return _select_statement_df(spark, sql, masked, tables)
    if verb == "INSERT":
        p = _parse_insert(sql, masked)
        return _execute_insert(
            spark, p, tables, store=store, batch_id=batch_id,
            epoch=epoch, force=force,
        )
    if verb == "DELETE":
        p = _parse_delete(sql, masked)
        from mqtt_message_pump_spark.sinks import delete_sink_where

        path = _resolve_table(spark, p["target"], tables)
        eq, dates, ranges, where = _extract_hints(p["where"])
        out = delete_sink_where(
            spark, path, where=where, eq=eq, dates=dates, ranges=ranges,
            force=force,
        )
        out["statement"] = "delete"
        return out
    if verb == "UPDATE":
        p = _parse_update(sql, masked)
        from mqtt_message_pump_spark.sinks import update_sink_where

        path = _resolve_table(spark, p["target"], tables)
        eq, dates, ranges, where = _extract_hints(p["where"])
        out = update_sink_where(
            spark, path, set=p["set"], where=where, eq=eq, dates=dates,
            ranges=ranges, force=force,
        )
        out["statement"] = "update"
        return out
    if verb == "RESTORE":
        p = _parse_restore(sql, masked)
        from mqtt_message_pump_spark.sinks import restore_sink

        path = _resolve_table(spark, p["target"], tables)
        out = restore_sink(
            spark, path, as_of=p.get("as_of"),
            as_of_ts=p.get("as_of_ts"), force=force,
        )
        out["statement"] = "restore"
        return out
    if verb == "MERGE":
        p = _parse_merge(sql, masked)
        return _execute_merge(
            spark, p, tables, store=store, merge_id=merge_id,
            force=force,
        )
    if verb == "VACUUM":
        p = _parse_vacuum(sql, masked)
        from mqtt_message_pump_spark.sinks import vacuum_sink

        path = _resolve_table(spark, p["target"], tables)
        removed = vacuum_sink(
            spark, path, retention_secs=p["retention_secs"]
        )
        return {"statement": "vacuum", "removed": removed}
    if verb == "OPTIMIZE":
        p = _parse_optimize(sql, masked)
        from mqtt_message_pump_spark.sinks import compact_sink

        path = _resolve_table(spark, p["target"], tables)
        out = compact_sink(spark, path)
        return {"statement": "optimize", "result": out}
    raise SqlStatementError(
        f"unsupported statement {verb or sql[:30]!r}: INSERT INTO / "
        "DELETE FROM / UPDATE / MERGE INTO / RESTORE TABLE / VACUUM / "
        "OPTIMIZE are the write surface; SELECT / WITH read through "
        "per-statement pruned relations"
    )


def _execute_merge(spark, p, tables, store, merge_id, force) -> dict:
    from mqtt_message_pump_spark.sinks import merge_sink

    path = _resolve_table(spark, p["target"], tables)
    t_names = {n.lower() for n in (p["t_alias"], _unquote(p["target"]))
               if n}
    s_names = {
        n.lower()
        for n in (p["s_alias"],
                  _unquote(p["source"])
                  if not p["source"].startswith("(") else None)
        if n
    }
    overlap = t_names & s_names
    if overlap:
        raise SqlStatementError(
            f"ambiguous alias(es) {sorted(overlap)}: target and source "
            "must be distinguishable"
        )
    src = _resolve_source_df(spark, p["source"], p["s_alias"], tables)
    on, dates = _parse_merge_on(p["on"], t_names, s_names)
    kw: dict = {
        "when_matched": None, "when_not_matched": None,
        "when_not_matched_by_source": None,
    }
    seen = set()
    for text in p["clauses"]:
        c = _parse_merge_clause(text, t_names, s_names)
        if c["kind"] in seen:
            raise SqlStatementError(
                f"duplicate WHEN {c['kind'].replace('_', ' ').upper()} "
                "clause: merge_sink supports one action per clause type"
            )
        seen.add(c["kind"])
        if c["kind"] == "matched":
            kw["when_matched"] = (
                c["set"] if c["action"] == "set"
                else c["action"]  # 'update' | 'delete'
            )
            if c["pred"] is not None:
                kw["matched_where"] = c["pred"]
        elif c["kind"] == "not_matched":
            if c["action"] != "insert":
                raise SqlStatementError(
                    "WHEN NOT MATCHED supports THEN INSERT only"
                )
            if c["pred"] is not None:
                raise SqlStatementError(
                    "WHEN NOT MATCHED AND <pred> is not supported: "
                    "pre-filter the source (USING (SELECT ... WHERE)) "
                    "instead"
                )
            missing = (
                sorted(set(src.columns) - set(c["cols"]))
                if c.get("cols") is not None
                else []
            )
            if missing:
                # merge_sink inserts whole source rows; a PARTIAL
                # column list would have to NULL-fill the rest, and
                # silently inserting the unnamed columns instead would
                # be different data -- refuse loudly
                raise SqlStatementError(
                    "INSERT column list must name every source column "
                    f"(missing {missing}); pre-project the source "
                    "(USING (SELECT ...)) to insert a subset"
                )
            kw["when_not_matched"] = "insert"
        else:
            if c["action"] == "insert":
                raise SqlStatementError(
                    "WHEN NOT MATCHED BY SOURCE supports DELETE or "
                    "UPDATE SET"
                )
            kw["when_not_matched_by_source"] = (
                c["set"] if c["action"] == "set" else "delete"
            )
            if c["pred"] is not None:
                kw["not_matched_by_source_where"] = c["pred"]
    out = merge_sink(
        spark, path, src, on=on, dates=dates, store=store,
        merge_id=merge_id, force=force, **kw,
    )
    out["statement"] = "merge"
    return out
