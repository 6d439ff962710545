"""Query registry + fixture loading helpers.

Every query is registered under a SURVEY.md SS2 fixture key with an optional
DuckDB oracle (ANSI SQL over the same parquet tables).  Queries without an
oracle get the driver's weaker rows-only check (reserved for genuinely
non-deterministic or non-SQL-expressible operators).

Cross-engine determinism rules used throughout (so the driver's
order-insensitive value-hash matches):

- Money-like sums go through ``DECIMAL(18,2)``: decimal addition is exact
  and order-independent, so Spark's parallel partial aggregation and
  DuckDB's single-threaded sum agree bit-for-bit.  Plain double sums would
  differ in the last ulp depending on reduction order.
- Averages are derived from the exact decimal sum cast to double, divided
  by the exact count -- one double op, identical in IEEE on both engines.
- Every computed column is aliased identically in the DataFrame code and
  the oracle SQL (the driver sorts columns by name before hashing).
- Top-k queries always carry a unique tie-break key in the ordering.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mqtt_message_pump_spark.session import ensure_session, plan_in_clone, rebind

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def finalize_output(df: DataFrame) -> DataFrame:
    """Cast every DECIMAL output column to DOUBLE.

    Internal aggregation stays DECIMAL(18,2) (exact, order-independent —
    that is what makes parallel partial sums reproducible), but a decimal
    in the *output* schema is not hash-stable across engines: one side may
    render ``Decimal('100.00')``, the other ``100.0`` after a float
    round-trip.  The same exact decimal cast to IEEE double yields the
    identical bits — and the identical ``repr`` — on both engines, so every
    registered query's visible schema is decimal-free.  Oracle SQL must
    apply the matching ``CAST(... AS DOUBLE)``.
    """
    from pyspark.sql.types import DecimalType

    dec = {f.name for f in df.schema.fields if isinstance(f.dataType, DecimalType)}
    if not dec:
        return df
    quoted = [
        F.col("`" + c + "`").cast("double").alias(c)
        if c in dec
        else F.col("`" + c + "`")
        for c in df.columns
    ]
    return df.select(*quoted)


def query(
    name: str,
    oracle: str | None = None,
    cast_double: list[str] | None = None,
):
    """Decorator registering a (spark, sf_dir) -> DataFrame under ``name``
    with an optional DuckDB oracle SQL string.

    The registered callable is wrapped with :func:`finalize_output`, so no
    query can leak a DECIMAL column into its visible schema regardless of
    how it aggregates internally.  ``cast_double`` names the oracle's
    decimal output columns; the oracle is wrapped so those columns are
    ``CAST(... AS DOUBLE)`` — the exact-decimal → IEEE-double conversion is
    deterministic and identical on both engines, so the rendered values
    hash-match (``Decimal('100.00')`` would not).
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query key {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            return finalize_output(fn(spark, sf_dir))

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        QUERIES[name] = wrapped
        if oracle is not None:
            sql = oracle
            if cast_double:
                excl = ", ".join(f'"{c}"' for c in cast_double)
                casts = ", ".join(
                    f'CAST("{c}" AS DOUBLE) AS "{c}"' for c in cast_double
                )
                sql = (
                    f"SELECT * EXCLUDE ({excl}), {casts} "
                    f"FROM ({sql}) _cast_double"
                )
            ORACLES[name] = sql
        return fn

    return deco


# Columns that have been observed as parquet TIMESTAMP(NANOS) in some
# driver-generated fixture sets; Spark's reader rejects nanos outright, so
# we read them as raw nanos (legacy conf) and rebuild the timestamp with
# integer division -- truncation toward zero matches DuckDB's
# TIMESTAMP_NS -> TIMESTAMP cast for positive epochs.  Other fixture
# generations write TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4
# would infer as TIMESTAMP_NTZ; ``session.SESSION_CONF`` disables that
# inference (and enables the nanos read) so the column lands as plain
# TIMESTAMP in the pinned-UTC session (identical wall-clock semantics to
# DuckDB's naive read) and every downstream ``unix_micros`` / window
# expression sees one stable type either way.
_NANOS_TS_COLS = {"events": ["ts"]}

# Catalog-style plan memo (r15): the UNMATERIALIZED base DataFrame per
# (application, fixture dir, table).  Re-creating the reader relation per
# query call re-infers the parquet schema from file footers every time
# (~175 ms/table measured; a star query touches 5 tables) -- driver-side
# work a production engine does ONCE at registration, like any catalog.
# This caches a lazy PLAN only: every action still lists, prunes, and
# scans the parquet input -- no rows, files, or results are memoized.
_TABLE_PLANS: dict[tuple[str, str, str], DataFrame] = {}


def materialize_once(df: DataFrame) -> DataFrame:
    """Lazy ``localCheckpoint`` that PRESERVES the frame's partitioning.

    The compute-once boundary for a subframe consumed by several branches
    of ONE query (Catalyst has no common-subplan reuse — docs/SCALE.md
    §5b): blocks materialize at the first consuming job of the current
    execution and are freed with the DataFrame, so a fresh call computes
    from the parquet input every time — nothing persists across runs.

    Why AQE is off in a session clone: under AQE,
    ``Dataset.localCheckpoint`` records the AdaptiveSparkPlan's output
    partitioning as Unknown in the LogicalRDD, so every downstream keyed
    consumer re-plans an ENSURE_REQUIREMENTS exchange over blocks that are
    already correctly hash-partitioned.  Compiling the checkpoint with AQE
    off records the real hashpartitioning (verified: ``groupBy`` over the
    checkpointed frame then plans ZERO exchanges); the caller's session
    keeps AQE on, so consumers still plan adaptively.  The checkpointed
    subtrees here are scan → fixed-N repartition → narrow ops, where AQE
    had nothing to adapt anyway.
    """
    return plan_in_clone(
        df.sparkSession,
        {"spark.sql.adaptive.enabled": "false"},
        lambda clone: rebind(df, clone).localCheckpoint(eager=False),
    )


def table(
    spark: SparkSession, sf_dir: str, name: str, split: bool | str = False
) -> DataFrame:
    """Load one fixture table under the engine's session settings
    (:func:`session.ensure_session`: UTC, so naive parquet timestamps
    mean the same instant in Spark and DuckDB).

    ``split=True`` round-robin-repartitions the scan to the session's
    default parallelism.  Use it for compute-dense per-row work (minhash /
    simhash signatures) when the input cannot split naturally: the local
    fixtures are one parquet file with ONE row group, so the scan yields a
    single partition and per-row CPU work would run on one core.  The
    repartition shuffles only the scanned bytes -- negligible next to the
    digest work it parallelizes.  At production scale the input is many
    files / row groups and the scan splits on its own, so callers should
    treat this as a small-input escape hatch, not a default.

    ``split=<column name>`` HASH-repartitions on that column instead
    (r15, guide SS2.4 "share one exchange"): downstream operations keyed
    on the same column -- ``groupBy(col)``, ``groupBy(col, ...)``
    (clustering on a superset of the partition key is still satisfied),
    windows partitioned by it -- then reuse the established partitioning
    and plan NO further exchange, where the round-robin form pays a full
    hash exchange per keyed operation.  Equally balanced for unique-ish
    keys (doc_id/event_id); also skips round-robin's defensive
    sort-before-repartition pass.  Results are identical either way --
    only the partitioning changes.
    """
    ensure_session(spark)
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _TABLE_PLANS.get(key)
    if df is None:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        for c in _NANOS_TS_COLS.get(name, []):
            field = df.schema[c]
            if field.dataType.simpleString() == "bigint":
                df = df.withColumn(
                    c, F.expr(f"timestamp_micros(`{c}` div 1000)")
                )
        _TABLE_PLANS[key] = df
    if isinstance(split, str):
        df = df.repartition(spark.sparkContext.defaultParallelism, split)
    elif split:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df
