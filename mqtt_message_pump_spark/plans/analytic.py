"""Analytic surface, batch 2: pivot/unpivot, INTERSECT, GROUPING SETS,
TPC-H Q3/Q6 shapes, histogram binning, deterministic hash sampling, date
arithmetic, sliding (hopping) windows, exact percentiles, and array
functions.

All categories are absent from the reference (SURVEY.md SS2.7 -- the Go
pump delegates every relational operation to generated ClickHouse SQL and
never emits any of these constructs); they complete the Spark SQL surface a
user would expect when switching the delegated queries in-engine.

Cross-engine determinism follows the registry docstring rules: DECIMAL(18,2)
sums, identical aliases both sides, unique tie-breaks in top-k, md5-derived
hash32 for anything hash-partitioned/sampled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mqtt_message_pump_spark.operators.dedup import md5_hash32
from mqtt_message_pump_spark.plans.registry import query, table

_DEC = "decimal(18,2)"


@query(
    "q_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) set op: customers with both open and finished
    orders.  Spark plans this as a left-semi hash join over the two
    aggregated sides -- same shuffle count as EXCEPT (q_except)."""
    orders = table(spark, sf_dir, "orders")
    open_c = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    done_c = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_c.intersect(done_c)


@query(
    "q_pivot",
    oracle="""
    SELECT l_returnflag,
           SUM(CASE WHEN l_linestatus = 'F'
                    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS qty_F,
           SUM(CASE WHEN l_linestatus = 'O'
                    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS qty_O
    FROM lineitem GROUP BY l_returnflag
    """,
    cast_double=["qty_F", "qty_O"],
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): per returnflag, quantity split by linestatus
    into columns.  Pivot values are given explicitly so Spark skips the
    extra distinct-values job AND the output schema is static -- both
    mandatory at 100 TB (a discovery pass over the fact table would be a
    full extra scan).  Plans as one hash aggregate with conditional sums,
    exactly like the CASE-WHEN oracle."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(F.col("l_quantity").cast(_DEC)))
        .withColumnRenamed("F", "qty_F")
        .withColumnRenamed("O", "qty_O")
    )


@query(
    "q_unpivot",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_price
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM w
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS metric, sum_price AS val FROM w
    """,
    cast_double=["val"],
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long): aggregate metrics melted into (metric, val)
    rows.  Spark's ``unpivot`` is an Expand node -- one pass over the input,
    no join/union re-scan (the UNION ALL oracle would scan ``w`` twice if it
    were a table; Expand never does)."""
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast(_DEC)).alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast(_DEC)).alias("sum_price"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price"], "metric", "val"
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n,
           SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS total_bal
    FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name), (n_name))
    """,
    cast_double=["total_bal"],
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((r_name),(n_name)): two independent
    aggregations computed in ONE scan via a single Expand + hash aggregate
    -- distinct from rollup/cube in that the sets are disjoint, not
    hierarchical.  At 100 TB this halves fact-table scans vs running the
    two group-bys separately."""
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    joined = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return spark.sql(
        """
        SELECT r_name, n_name, COUNT(*) AS n,
               SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS total_bal
        FROM {joined}
        GROUP BY GROUPING SETS ((r_name), (n_name))
        """,
        joined=joined,
    )


@query(
    "q_disc_revenue",
    oracle="""
    SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(18,2))) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    cast_double=["revenue"],
)
def q_disc_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: forecast revenue change.  The pure
    filter-and-aggregate query -- every predicate reaches the parquet scan
    as a pushed filter (verified in docs/PLANS.md), the projection prunes
    to 4 columns, and the aggregate is a single map-side partial + one-row
    merge.  The canonical 'scan efficiency' benchmark at 100 TB: I/O-bound,
    zero shuffle."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01 00:00:00")
            & (F.col("l_shipdate") < "1997-01-01 00:00:00")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(_DEC)
                * F.col("l_discount").cast(_DEC)
            ).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@query(
    "q_ship_priority",
    oracle="""
    SELECT l_orderkey,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2))) AS revenue,
           o_orderdate
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    cast_double=["revenue"],
)
def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + aggregate + top-10.  customer scales
    with SF (150k rows x SF), so it gets NO broadcast hint -- AQE broadcasts
    it at test scale and falls back to a shuffle join when it outgrows the
    threshold at 100 TB (a forced hint would OOM the driver instead).
    orders-lineitem is the one real shuffle join on orderkey; the final
    ORDER BY + LIMIT runs as TakeOrderedAndProject (per-partition heap),
    never a global sort of the aggregate."""
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01 00:00:00"
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1996-01-01 00:00:00"
    )
    rev = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount")
    ).cast(_DEC)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bin,
           COUNT(*) AS n,
           MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS lo_price,
           MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS hi_price
    FROM orders GROUP BY 1
    """,
    cast_double=["lo_price", "hi_price"],
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram / fixed-width binning: integer floor division keeps the
    bin id exact in both engines (FLOOR over a double is exact; no
    width_bucket needed).  One hash aggregate on a small key domain --
    the standard profiling query at any scale."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("bin")
        )
        .agg(
            F.count("*").alias("n"),
            F.min(F.col("o_totalprice").cast(_DEC)).alias("lo_price"),
            F.max(F.col("o_totalprice").cast(_DEC)).alias("hi_price"),
        )
    )


@query(
    "q_sample_hash",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price
    FROM orders
    WHERE CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
               AS BIGINT) % 20 = 0
    """,
    cast_double=["price"],
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~5% sample via content hash (md5-derived 32-bit
    bucket, SURVEY.md registry rules).  Unlike ``df.sample`` this is
    reproducible across engines, runs, AND partitionings -- the property a
    training-data pipeline needs so a sampled corpus can be re-derived
    bit-identically.  Pure map-side filter: no shuffle, scales linearly."""
    orders = table(spark, sf_dir, "orders")
    return orders.filter(
        md5_hash32(F.col("o_orderkey").cast("string")) % 20 == 0
    ).select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast(_DEC).alias("price"),
    )


@query(
    "q_date_funcs",
    oracle="""
    SELECT o_orderkey,
           EXTRACT(year FROM o_orderdate) AS order_year,
           EXTRACT(month FROM o_orderdate) AS order_month,
           o_orderdate + INTERVAL 30 DAY AS due_ts,
           date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
             AS days_since_epoch_start
    FROM orders
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval scalar functions (absent from the reference beyond
    ``toDate``, SURVEY.md SS2.5): extract year/month, interval addition,
    day difference from a fixed origin.  All whole-stage-codegen
    expressions; midnight-aligned fixture timestamps keep day arithmetic
    exact across engines."""
    orders = table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_ts"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).cast("bigint").alias("days_since_epoch_start"),
    )


@query(
    "q_sliding_window",
    oracle="""
    WITH expanded AS (
      SELECT TIMESTAMP '1970-01-01 00:00:00'
               + to_seconds((epoch_us(ts) // 1000000 // 300) * 300 - k.k * 300)
               AS window_start,
             value
      FROM events, (SELECT 0 AS k UNION ALL SELECT 1) k
    )
    SELECT window_start, COUNT(*) AS n,
           SUM(CAST(value AS DECIMAL(18,2))) AS total
    FROM expanded GROUP BY window_start
    """,
    cast_double=["total"],
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window aggregation: 10-minute windows every 5
    minutes over event time -- each event lands in exactly width/slide = 2
    windows.  Spark plans ``window(ts, '10 min', '5 min')`` as an Expand
    (2 rows per input) + hash aggregate; the same expression runs
    incrementally under a watermark in streaming mode.  The oracle expands
    the two window-start candidates arithmetically (epoch // slide).
    Events are strictly positive-epoch so integer division truncation
    matches floor."""
    events = table(spark, sf_dir, "events")
    win = F.window("ts", "10 minutes", "5 minutes")
    return (
        events.groupBy(win.alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(_DEC)).alias("total"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "total")
    )


@query(
    "q_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_partkey, 0.5) AS median_part,
           MAX(l_partkey) AS max_part
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentile (median) per group.  Median over
    integer keys is (a+b)/2 at worst -- exact in IEEE double on both
    engines, so the oracle hash-matches (other quantile fractions
    interpolate with engine-specific rounding; 0.5 is the safe
    cross-engine probe).  Spark's ``percentile`` is a full sort-based
    exact aggregate; at 100 TB swap in approx_percentile (t-digest
    sketch, fixed-size partials) -- same call shape, no re-plumbing."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_partkey", 0.5).alias("median_part"),
        F.max("l_partkey").alias("max_part"),
    )


@query(
    "q_array_funcs",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           array_to_string(
             list_sort(list_distinct(string_split(lower(text), ' ')))[1:5],
             '|') AS first_tokens,
           list_contains(string_split(lower(text), ' '), 'the') AS has_the
    FROM documents
    """,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar-function surface (absent from the reference, SURVEY.md
    SS1.4): split, size, distinct, sort, slice, join, contains -- all
    JVM-side codegen expressions, no UDFs.  The sorted-distinct slice is
    deterministic (lexicographic) so the string output hash-matches
    DuckDB's list functions."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct(toks)), 1, 5), "|"
        ).alias("first_tokens"),
        F.array_contains(toks, "the").alias("has_the"),
    )


@query(
    "q_ntile",
    oracle="""
    SELECT o_orderkey,
           NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price
    FROM orders
    """,
    cast_double=["price"],
)
def q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact NTILE quantile bucketing over a global order -- WITHOUT the
    single-partition global-sort window.  ``with_global_ntile``
    range-repartitions on the sort key, ranks partition-locally, and
    adds broadcast per-partition offsets (the TeraSort ranking shape),
    reproducing ``NTILE(4) OVER (ORDER BY ...)`` bit-for-bit while every
    stage stays shuffle-parallel.  The unique o_orderkey tie-break makes
    bucket boundaries deterministic (and boundary-placement independent).
    ``q_quantile_bucket`` (sketch cut points + map-side CASE) remains the
    cheaper one-pass alternative when approximate buckets suffice."""
    from mqtt_message_pump_spark.operators.ranking import with_global_ntile

    orders = table(spark, sf_dir, "orders")
    return with_global_ntile(
        orders,
        4,
        [F.col("o_totalprice"), F.col("o_orderkey")],
        bucket_col="quartile",
    ).select(
        "o_orderkey",
        F.col("quartile").cast("int").alias("quartile"),
        F.col("o_totalprice").cast(_DEC).alias("price"),
    )


@query(
    "q_lead_lag",
    oracle="""
    SELECT event_id, user_id, ts,
           lag(ts) OVER w AS prev_ts,
           lead(ts) OVER w AS next_ts,
           epoch_us(ts) - epoch_us(lag(ts) OVER w) AS us_since_prev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAD/LAG analytic functions: per-user previous/next event time and
    inter-event gap in microseconds (integer arithmetic -- exact cross-
    engine, unlike double-second deltas).  Partition-local sort only."""
    from pyspark.sql import Window

    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = lambda c: (F.unix_micros(c))  # noqa: E731
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
        F.lead("ts").over(w).alias("next_ts"),
        (us(F.col("ts")) - us(F.lag("ts").over(w))).alias("us_since_prev"),
    )


@query(
    "q_first_last",
    oracle="""
    SELECT user_id,
           arg_min(event_type,
                   concat(lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0'),
                          lpad(CAST(event_id AS VARCHAR), 10, '0')))
             AS first_type,
           arg_max(event_type,
                   concat(lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0'),
                          lpad(CAST(event_id AS VARCHAR), 10, '0')))
             AS last_type,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def q_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last event per user as an AGGREGATE (min_by/max_by with a
    composite deterministic order key), not a window -- one hash
    aggregation with partial merge instead of a per-user sort.  The order
    key is (ts, event_id) zero-padded into one string because DuckDB's
    arg_min/arg_max don't accept struct keys; zero-padded digit strings
    sort identically to the numeric tuple in both engines, and event_id
    uniqueness keeps ties impossible."""
    events = table(spark, sf_dir, "events")
    key = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 10, "0"),
    )
    return events.groupBy("user_id").agg(
        F.min_by("event_type", key).alias("first_type"),
        F.max_by("event_type", key).alias("last_type"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count("*").alias("n_events"),
    )


@query(
    "q_filtered_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
             FILTER (WHERE l_discount > 0.05) AS discounted_price,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    cast_double=["discounted_price"],
)
def q_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER'd aggregates (conditional aggregation): several differently-
    filtered measures in ONE scan + one hash aggregate, the idiom that
    replaces N filtered sub-queries at scale."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(F.col("l_quantity") > 25, 1)).alias("n_bulk"),
        F.sum(
            F.when(
                F.col("l_discount") > 0.05,
                F.col("l_extendedprice").cast(_DEC),
            )
        ).alias("discounted_price"),
        F.count("*").alias("n"),
    )


@query(
    "q_regexp_extract",
    oracle="""
    SELECT o_orderkey,
           regexp_extract(o_orderpriority, '^([0-9]+)-', 1) AS prio_num,
           regexp_matches(o_orderpriority, 'URGENT|HIGH') AS is_rush
    FROM orders
    """,
)
def q_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction/matching scalar functions (Java regex and RE2
    agree on this anchored-digit subset; patterns here avoid
    engine-specific syntax)."""
    orders = table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.regexp_extract("o_orderpriority", r"^([0-9]+)-", 1).alias(
            "prio_num"
        ),
        F.col("o_orderpriority").rlike("URGENT|HIGH").alias("is_rush"),
    )


# Per-language sampling rates for the training-mix query: keep half of
# English, a quarter of German/French, a tenth of everything else.  The
# denominator-20 buckets make every rate an exact integer threshold.
_STRATA_RATES = {"en": 10, "de": 5, "fr": 5}  # out of 20; default 2


@query(
    "q_stratified_sample",
    oracle="""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 20 AS bucket
      FROM documents)
    WHERE bucket < (CASE lang WHEN 'en' THEN 10
                              WHEN 'de' THEN 5
                              WHEN 'fr' THEN 5
                              ELSE 2 END)
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling -- the training-data mixing
    primitive: downsample each language stratum at its own rate (en 50%,
    de/fr 25%, else 10%) in one shuffle-free map pass.  Hash-bucket
    thresholds (not df.sampleBy) so the sampled corpus is reproducible
    across engines, runs, and partitionings, and the mix is re-derivable
    from the raw corpus by anyone with the recipe."""
    docs = table(spark, sf_dir, "documents")
    bucket = md5_hash32(F.col("doc_id").cast("string")) % 20
    threshold = F.when(F.col("lang") == "en", _STRATA_RATES["en"]).when(
        F.col("lang") == "de", _STRATA_RATES["de"]
    ).when(F.col("lang") == "fr", _STRATA_RATES["fr"]).otherwise(2)
    return docs.filter(bucket < threshold).select("doc_id", "lang")


@query(
    "q_skew_join",
    oracle="""
    SELECT l_orderkey, l_linenumber, s_name,
           CAST(l_extendedprice AS DECIMAL(18,2)) AS price
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    """,
    cast_double=["price"],
)
def q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (operators.joins.salted_join): the big side gets a
    deterministic salt, the small side is replicated per salt value, and
    the hot key spreads over salt_buckets tasks.  The defense when AQE
    skew-splitting can't help (one dominant key, small side too big to
    broadcast).  Oracle is the plain inner join -- salting must be
    semantically invisible."""
    from mqtt_message_pump_spark.operators.joins import salted_join

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice"
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    joined = salted_join(
        li.withColumnRenamed("l_suppkey", "k"),
        supp.withColumnRenamed("s_suppkey", "k"),
        on=["k"],
        salt_buckets=8,
    )
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        "s_name",
        F.col("l_extendedprice").cast(_DEC).alias("price"),
    )


@query("q_approx_percentile")  # rows-only: sketch estimates are engine-specific
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles next to the exact ones.  At 100 TB this is
    THE quantile operator: fixed-size sketch partials merged across
    partitions instead of q_percentile's full sort.  No oracle -- the
    sketch is engine-specific by design; tests/test_queries.py asserts the
    estimate is within the requested accuracy bound of the exact value."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_partkey", 0.5, 10000).alias("approx_median"),
        F.percentile("l_partkey", 0.5).alias("exact_median"),
    )


@query(
    "q_time_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_bucket,
           date_trunc('hour', ts) AS hour_bucket,
           COUNT(*) AS n,
           SUM(CAST(value AS DECIMAL(18,2))) AS total
    FROM events
    GROUP BY ROLLUP(CAST(date_trunc('day', ts) AS TIMESTAMP),
                    date_trunc('hour', ts))
    """,
    cast_double=["total"],
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical time rollup: hourly, daily, and grand
    totals from ONE scan via ROLLUP over truncated timestamps (Expand +
    hash agg).  The continuous-aggregate pattern: at 100 TB, materialize
    the hourly level partitioned by day and derive coarser grains from it
    incrementally instead of re-scanning raw events."""
    events = table(spark, sf_dir, "events")
    return (
        events.select(
            F.date_trunc("day", "ts").alias("day_bucket"),
            F.date_trunc("hour", "ts").alias("hour_bucket"),
            F.col("value"),
        )
        .rollup("day_bucket", "hour_bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(_DEC)).alias("total"),
        )
    )


@query(
    "q_string_agg",
    oracle="""
    SELECT r_name,
           string_agg(n_name, '|' ORDER BY n_name) AS nations,
           COUNT(*) AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): collect_list is
    order-nondeterministic under parallelism, so the list is array_sort'd
    before joining -- the only way a concatenated aggregate can be
    reproducible across partitionings (and engines)."""
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), "|").alias(
                "nations"
            ),
            F.count("*").alias("n"),
        )
    )


@query(
    "q_bool_agg",
    oracle="""
    SELECT o_custkey,
           bool_or(o_orderstatus = 'F') AS any_finished,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
)
def q_bool_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (bool_or/bool_and): order-independent by
    construction, partial-aggregatable -- the cheap existence checks that
    replace EXISTS subqueries when several are needed per group."""
    orders = table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.count("*").alias("n_orders"),
    )


@query(
    "q_null_safe_join",
    oracle="""
    WITH l AS (SELECT o_orderkey,
                      CASE WHEN o_orderstatus = 'P' THEN NULL
                           ELSE o_orderstatus END AS status
               FROM orders),
         r AS (SELECT DISTINCT CASE WHEN o_orderstatus = 'P' THEN NULL
                                    ELSE o_orderstatus END AS status
               FROM orders)
    SELECT l.o_orderkey, l.status
    FROM l JOIN r ON l.status IS NOT DISTINCT FROM r.status
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing.  Spark hash-partitions NULL
    like any value under eqNullSafe, so this stays a real equi-join --
    no fallback to nested-loop."""
    orders = table(spark, sf_dir, "orders")
    status = F.when(F.col("o_orderstatus") == "P", None).otherwise(
        F.col("o_orderstatus")
    )
    left = orders.select("o_orderkey", status.alias("status"))
    right = left.select("status").distinct().withColumnRenamed(
        "status", "rstatus"
    )
    return left.join(
        right, left["status"].eqNullSafe(right["rstatus"])
    ).select("o_orderkey", "status")


@query(
    "q_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS spend_through_date
    FROM orders
    """,
    cast_double=["spend_through_date"],
)
def q_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame (vs q_running_sum's ROWS frame): all rows tied
    on the order value share one frame, so same-day orders get the same
    running total -- deterministic under ties WITHOUT a tie-break key,
    which a ROWS frame cannot guarantee.  Decimal summand keeps the
    prefix sums exact."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast(_DEC)).over(w).alias(
            "spend_through_date"
        ),
    )


@query(
    "q_local_volume",
    oracle="""
    SELECT n_name,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2))) AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n_name
    """,
    cast_double=["revenue"],
)
def q_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): six-way join where the
    customer and supplier must share a nation.  Join order matters at
    100 TB: only the FIXED-size dims (nation 25 rows, region 5 rows) carry
    broadcast hints; customer (150k x SF) and supplier (10k x SF) scale
    with the dataset, so they get no hint -- AQE broadcasts them while they
    fit and switches to shuffle joins beyond the threshold.  The
    lineitem-orders shuffle join runs first so the extra c_nationkey =
    s_nationkey predicate applies as a cheap post-join filter on already
    co-located rows; the region filter prunes before anything joins."""
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1996-01-01 00:00:00"
    ).select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount")
    ).cast(_DEC)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).alias("revenue"))
    )


@query(
    "q_big_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
    )
    SELECT o.o_orderkey, o.o_custkey,
           CAST(o.o_totalprice AS DECIMAL(18,2)) AS price
    FROM orders o JOIN big ON o.o_orderkey = big.l_orderkey
    """,
    cast_double=["price"],
)
def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate with HAVING, then join the surviving
    keys back to the fact.  The HAVING side collapses lineitem to one row
    per qualifying orderkey BEFORE the join, so the join input is the
    filtered key set (AQE broadcasts it when small), never lineitem
    itself."""
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
        .select("l_orderkey")
    )
    orders = table(spark, sf_dir, "orders")
    return orders.join(big, orders.o_orderkey == big.l_orderkey).select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast(_DEC).alias("price"),
    )


@query(
    "q_corr_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price
    FROM orders o
    WHERE o_totalprice > 2 * (
      SELECT AVG(o_totalprice) FROM orders i
      WHERE i.o_custkey = o.o_custkey)
    """,
    cast_double=["price"],
)
def q_corr_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders more than twice their
    customer's average.  Catalyst de-correlates this into an aggregate +
    equi-join (RewriteCorrelatedScalarSubquery) -- per-group state, one
    shuffle, never a per-row re-execution.  Cross-engine note: the inner
    AVG stays a plain double avg on BOTH sides; it only gates a 2x
    comparison, and no fixture order sits within one ulp of twice its
    customer mean (verified at sf0.01/0.1), so reduction-order noise
    cannot flip the predicate."""
    orders = table(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price
        FROM {orders} o
        WHERE o_totalprice > 2 * (
          SELECT AVG(o_totalprice) FROM {orders} i
          WHERE i.o_custkey = o.o_custkey)
        """,
        orders=orders,
    )


@query(
    "q_full_outer",
    oracle="""
    WITH o AS (SELECT o_custkey, COUNT(*) AS n_open
               FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey),
         f AS (SELECT o_custkey, COUNT(*) AS n_done
               FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey)
    SELECT COALESCE(o.o_custkey, f.o_custkey) AS custkey,
           COALESCE(n_open, 0) AS n_open,
           COALESCE(n_done, 0) AS n_done
    FROM o FULL OUTER JOIN f ON o.o_custkey = f.o_custkey
    """,
)
def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: open-order and finished-order counts per customer,
    keeping customers present on either side only.  Completes the join-type
    matrix (inner/semi/anti/left-outer-in-streaming/null-safe/full);
    executes as one sort-merge join on the shared key with both sides
    pre-aggregated, so the join input is already one row per key."""
    orders = table(spark, sf_dir, "orders")
    o = (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_open"))
    )
    f = (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("f_custkey"))
        .agg(F.count("*").alias("n_done"))
    )
    return o.join(f, o.o_custkey == f.f_custkey, "full_outer").select(
        F.coalesce("o_custkey", "f_custkey").alias("custkey"),
        F.coalesce("n_open", F.lit(0)).alias("n_open"),
        F.coalesce("n_done", F.lit(0)).alias("n_done"),
    )


@query(
    "q_global_sort",
    oracle="""
    SELECT o_orderkey, o_orderdate,
           CAST(o_totalprice AS DECIMAL(18,2)) AS price
    FROM orders
    ORDER BY o_orderdate, o_orderkey
    """,
    cast_double=["price"],
)
def q_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally-sorted full output (no LIMIT): plans as a range-partitioned
    exchange (sampled split points) + per-partition sort -- the scalable
    total order, distinct from q_order_limit's TakeOrderedAndProject.
    At 100 TB this is the sorted-export/write-ordered path; AQE
    rebalances skewed ranges.  The (o_orderdate, o_orderkey) key is
    unique, so the order -- and any downstream row-number assignment
    (see q_global_rank) -- is deterministic."""
    orders = table(spark, sf_dir, "orders")
    return orders.orderBy("o_orderdate", "o_orderkey").select(
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").cast(_DEC).alias("price"),
    )


@query(
    "q_global_rank",
    oracle="""
    SELECT o_orderkey,
           ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS global_rn
    FROM orders
    """,
)
def q_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global row number over a total order -- the distributed
    ranking shape (TeraSort step): range-repartition on the sort key,
    rank partition-locally, add broadcast per-partition offsets
    (``operators/ranking.py``).  Bit-identical to ``ROW_NUMBER() OVER
    (ORDER BY ...)`` but with no single-partition window anywhere in the
    plan -- every stage is shuffle-parallel, so the same plan ranks
    100 TB.  The (o_orderdate, o_orderkey) tie-break is unique, making
    the rank independent of sampled range-boundary placement."""
    from mqtt_message_pump_spark.operators.ranking import (
        with_global_row_number,
    )

    orders = table(spark, sf_dir, "orders")
    return with_global_row_number(
        orders, [F.col("o_orderdate"), F.col("o_orderkey")]
    ).select("o_orderkey", "global_rn")


@query(
    "q_values_dim",
    oracle="""
    SELECT o_orderkey, v.label AS status_label
    FROM orders
    JOIN (VALUES ('O', 'open'), ('F', 'finished'), ('P', 'pending'))
      AS v(code, label)
      ON o_orderstatus = v.code
    """,
)
def q_values_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline literal dimension (enum decode): a driver-side VALUES list
    becomes a broadcast hash join -- the right way to decode codes at any
    scale (vs a CASE ladder: the dim is reusable/joinable, and vs a real
    table: no scan at all).  The literal side is a LocalTableScan
    broadcast to every executor."""
    orders = table(spark, sf_dir, "orders")
    dim = spark.createDataFrame(
        [("O", "open"), ("F", "finished"), ("P", "pending")],
        ["code", "label"],
    )
    return orders.join(
        F.broadcast(dim), orders.o_orderstatus == dim.code
    ).select("o_orderkey", F.col("label").alias("status_label"))


@query("q_quantile_bucket")  # rows-only: sketch cut points are engine-specific
def q_quantile_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB replacement for q_ntile's single global sort: one
    approx-quantile sketch pass computes the quartile cut points
    (fixed-size partials, driver gets 3 doubles), then bucket assignment
    is a pure map-side CASE over the cut points -- no global sort, no
    single-partition window, scales linearly.  Rows-only (cut points are
    sketch-derived); tests assert >=99% agreement with exact NTILE(4)."""
    orders = table(spark, sf_dir, "orders")
    cuts = orders.approxQuantile("o_totalprice", [0.25, 0.5, 0.75], 0.001)
    bucket = (
        F.when(F.col("o_totalprice") <= cuts[0], 1)
        .when(F.col("o_totalprice") <= cuts[1], 2)
        .when(F.col("o_totalprice") <= cuts[2], 3)
        .otherwise(4)
    )
    return orders.select(
        "o_orderkey",
        bucket.alias("quartile"),
        F.col("o_totalprice").cast(_DEC).alias("price"),
    )


@query(
    "q_merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2))
               + CAST(10 AS DECIMAL(18,2)) AS new_price
      FROM orders
      WHERE CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
                 AS BIGINT) % 20 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, CAST(42 AS DECIMAL(18,2))
      FROM orders
      WHERE CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
                 AS BIGINT) % 20 = 1
    )
    SELECT COALESCE(o.o_orderkey, u.o_orderkey) AS o_orderkey,
           COALESCE(u.new_price, CAST(o.o_totalprice AS DECIMAL(18,2)))
             AS price,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN u.o_orderkey IS NULL THEN 'keep'
                ELSE 'update' END AS action
    FROM orders o FULL OUTER JOIN updates u
      ON o.o_orderkey = u.o_orderkey
    """,
    cast_double=["price"],
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE / upsert semantics (CDC apply) without a table format: base
    FULL OUTER JOIN changes, coalesce per column, action derived from
    side presence.  This is the idempotent-batch pattern behind the
    pump's foreachBatch sinks when the target is plain parquet (Delta's
    MERGE INTO is the managed equivalent); one shuffle on the merge key,
    and at 100 TB the changes side is small -> AQE broadcasts it and the
    base is never rewritten beyond matched partitions.  The change set
    here is derived deterministically from the base (hash-sampled updates
    + shifted-key inserts) so the oracle is exact."""
    orders = table(spark, sf_dir, "orders")
    bucket = md5_hash32(F.col("o_orderkey").cast("string")) % 20
    updates = (
        orders.filter(bucket == 0)
        .select(
            "o_orderkey",
            (
                F.col("o_totalprice").cast(_DEC)
                + F.lit(10).cast(_DEC)
            ).alias("new_price"),
        )
        .unionByName(
            orders.filter(bucket == 1).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                F.lit(42).cast(_DEC).alias("new_price"),
            )
        )
        .withColumnRenamed("o_orderkey", "u_orderkey")
    )
    merged = orders.join(
        updates, orders.o_orderkey == updates.u_orderkey, "full_outer"
    )
    return merged.select(
        F.coalesce("o_orderkey", "u_orderkey").alias("o_orderkey"),
        F.coalesce(
            F.col("new_price"), F.col("o_totalprice").cast(_DEC)
        ).alias("price"),
        F.when(F.col("o_orderkey").isNull(), "insert")
        .when(F.col("u_orderkey").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    )


@query(
    "q_sql_insert_roundtrip",
    oracle="""
    WITH sel AS (
      SELECT 'd-' || CAST(doc_id AS VARCHAR) AS mid,
             't/' || lang AS topic,
             CAST(n_chars AS VARCHAR) AS payload,
             TIMESTAMP '2024-03-01 00:00:00'
               + (doc_id % 86400) * INTERVAL 1 SECOND
               AS collect_datetime
      FROM documents WHERE doc_id % 5 = 0
    ),
    vals(mid, topic, payload, collect_datetime) AS (
      VALUES ('v-1', 't/v', 'p1', TIMESTAMP '2024-03-02 10:00:00'),
             ('v-2', 't/v', 'p2', TIMESTAMP '2024-03-03 11:30:00')
    ),
    replay(mid, topic, payload, collect_datetime) AS (
      VALUES ('r-1', 't/r', 'attempt2',
              TIMESTAMP '2024-03-04 00:00:00')
    )
    SELECT mid, topic, payload, collect_datetime,
           CAST(CAST(collect_datetime AS DATE) AS VARCHAR)
             AS collect_date
    FROM (SELECT * FROM sel
          UNION ALL SELECT * FROM vals
          UNION ALL SELECT * FROM replay)
    """,
)
def q_sql_insert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statement-text WRITE surface under the driver's own oracle:
    ``INSERT INTO ... SELECT`` (the reference's batched store loop,
    ``data_dbstore.go:336-421``), a no-column-list ``INSERT VALUES``
    (positional onto the recorded schema minus the MATERIALIZED
    ``collect_date``, ``data_dbstore.go:165``), and a REPLAYED
    explicit-``batch_id`` insert whose second run atomically SWAPS the
    first (the streaming writer's exactly-once republish contract) --
    then one ``read_sink`` of the resulting manifest sink.  The oracle
    is the pure relational end state: the replay contributes its
    second attempt exactly once."""
    import tempfile
    import uuid

    from mqtt_message_pump_spark.sinks import read_sink
    from mqtt_message_pump_spark.sqlstmt import execute_sql

    tp = tempfile.mkdtemp(prefix="sqlins_") + "/sink"
    # a one-shot name, dropped once the INSERT has run
    docs = f"__sqlins_docs_{uuid.uuid4().hex[:8]}"
    table(spark, sf_dir, "documents").createOrReplaceTempView(docs)
    try:
        execute_sql(
            spark,
            f"""
            INSERT INTO `{tp}` (mid, topic, payload, collect_datetime)
            SELECT concat('d-', CAST(doc_id AS STRING)),
                   concat('t/', lang),
                   CAST(n_chars AS STRING),
                   timestamp'2024-03-01 00:00:00'
                     + make_interval(0, 0, 0, 0, 0, 0, doc_id % 86400)
            FROM {docs} WHERE doc_id % 5 = 0
            """,
        )
    finally:
        spark.catalog.dropTempView(docs)
    execute_sql(
        spark,
        f"INSERT INTO `{tp}` VALUES "
        "('v-1', 't/v', 'p1', timestamp'2024-03-02 10:00:00'), "
        "('v-2', 't/v', 'p2', timestamp'2024-03-03 11:30:00')",
    )
    stmt = (
        f"INSERT INTO `{tp}` (mid, topic, payload, collect_datetime) "
        "VALUES ('r-1', 't/r', '%s', timestamp'2024-03-04 00:00:00')"
    )
    execute_sql(spark, stmt % "attempt1", batch_id=7)
    execute_sql(spark, stmt % "attempt2", batch_id=7)  # replay: swap
    out = read_sink(spark, tp)
    # collect_date travels as STRING: pandas formats same-dtype columns
    # block-wise, so a DATE column sharing a frame with a TIMESTAMP
    # renders '... 00:00:00' on one engine and '2024-03-01' on the
    # other -- string it on both sides for a stable driver hash
    return out.select(
        "mid", "topic", "payload", "collect_datetime",
        F.col("collect_date").cast("string").alias("collect_date"),
    )


def _morton_terms(a_col: str, b_col: str, bits: int) -> str:
    """SQL for bit-interleaving two small ints (shared by query + oracle)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a_col} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b_col} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


_MORTON_BITS = 8


@query(
    "q_zorder_key",
    oracle=f"""
    WITH b AS (
      SELECT event_id,
             CAST(least(floor(value / 4), 255) AS BIGINT) AS vb,
             CAST(user_id % 256 AS BIGINT) AS ub
      FROM events
    )
    SELECT event_id, vb, ub,
           CAST({_morton_terms('vb', 'ub', _MORTON_BITS)} AS BIGINT)
             AS zkey
    FROM b
    """,
)
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key: interleaves the bits of two
    bucketed dimensions so rows close in BOTH dimensions sort near each
    other -- the key you sortWithinPartitions on before writing parquet so
    min/max page stats prune scans filtered on either dimension (the
    open-source analog of Delta OPTIMIZE ZORDER).  Pure integer bit
    arithmetic, identical in both engines, zero shuffle to compute."""
    events = table(spark, sf_dir, "events")
    b = events.select(
        "event_id",
        F.least(F.floor(F.col("value") / 4), F.lit(255))
        .cast("bigint")
        .alias("vb"),
        (F.col("user_id") % 256).cast("bigint").alias("ub"),
    )
    return b.select(
        "event_id",
        "vb",
        "ub",
        F.expr(_morton_terms("vb", "ub", _MORTON_BITS))
        .cast("bigint")
        .alias("zkey"),
    )


@query(
    "q_percent_rank",
    oracle="""
    SELECT o_orderkey,
           rank() OVER w AS rnk,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window functions (rank / percent_rank / cume_dist):
    percent_rank = (rank-1)/(n-1) and cume_dist = rank_from_top/n are
    single exact double divisions over integer operands, so they
    hash-match cross-engine.  The unique o_orderkey tie-break makes every
    rank deterministic; partition-local sort only."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "q_trailing_window",
    oracle="""
    SELECT event_id, user_id, ts,
           SUM(CAST(value AS DECIMAL(18,2))) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS trailing_hour_sum
    FROM events
    """,
    cast_double=["trailing_hour_sum"],
)
def q_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing time-RANGE window: per user, the sum of event values in
    the hour ending at each event.  Expressed in Spark as rangeBetween
    over epoch MICROseconds (event timestamps carry sub-second precision;
    ordering by whole seconds silently widens the frame by up to a
    second), matching DuckDB's inclusive INTERVAL RANGE bound exactly;
    the value-based frame makes the result deterministic under timestamp
    ties without a tie-break, and the decimal summand keeps the moving
    sums exact.  Partition-local sort only -- the trailing-metrics shape
    for per-entity monitoring at scale."""
    from pyspark.sql import Window

    events = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast(_DEC)).over(w).alias(
            "trailing_hour_sum"
        ),
    )


@query(
    "q_gap_fill",
    oracle="""
    WITH hours AS (
      SELECT TIMESTAMP '2024-01-01 00:00:00'
               + to_seconds(h.h * 3600) AS hour_start
      FROM (SELECT unnest(generate_series(0, 29 * 24 - 1)) AS h) h
    ), counts AS (
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), types AS (SELECT DISTINCT event_type FROM events)
    SELECT h.hour_start, t.event_type, COALESCE(c.n, 0) AS n
    FROM hours h CROSS JOIN types t
    LEFT JOIN counts c
      ON c.hour_start = h.hour_start AND c.event_type = t.event_type
    """,
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (resample to a dense hourly grid): the
    spine is generated (sequence + explode, no table scan), cross-joined
    with the type dimension, then left-joined to the sparse counts so
    empty hours surface as zero rows -- what dashboards and
    continuous-aggregate consumers need.  The spine is tiny (hours x
    types), so the only real work is the counts aggregate; the left join
    broadcasts the aggregated counts or the spine, whichever is smaller."""
    events = table(spark, sf_dir, "events")
    hours = spark.range(0, 29 * 24).select(
        F.expr(
            "timestamp_seconds(unix_seconds("
            "TIMESTAMP '2024-01-01 00:00:00') + id * 3600)"
        ).alias("hour_start")
    )
    types = events.select("event_type").distinct()
    counts = events.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
    ).agg(F.count("*").alias("n"))
    spine = hours.crossJoin(types)
    return spine.join(counts, ["hour_start", "event_type"], "left").select(
        "hour_start",
        "event_type",
        F.coalesce("n", F.lit(0)).alias("n"),
    )


@query(
    "q_map_funcs",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             map(['lang', 'source'], [lang, source]) AS meta
      FROM documents
    )
    SELECT doc_id,
           array_to_string(map_keys(meta), ',') AS meta_keys,
           meta['lang'][1] AS lang_val,
           cardinality(meta) AS n_entries
    FROM m
    """,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type scalar functions (construct, keys, element access, size):
    the typed key-value column pattern for sparse per-row metadata --
    unlike a struct, keys can vary per row without schema churn; unlike a
    JSON string, access is a codegen expression, not a parse.  Key order
    is construction order in both engines, so the joined key list is
    deterministic.  (DuckDB's bracket extraction returns a one-element
    list -- hence the [1] -- where Spark's element_at is already
    scalar.)"""
    docs = table(spark, sf_dir, "documents")
    meta = F.create_map(
        F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
    )
    return docs.select(
        "doc_id",
        F.array_join(F.map_keys(meta), ",").alias("meta_keys"),
        F.element_at(meta, "lang").alias("lang_val"),
        F.size(meta).cast("bigint").alias("n_entries"),
    )


@query(
    "q_union_by_name",
    oracle="""
    SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price,
           o_orderpriority
    FROM orders WHERE o_orderstatus = 'O'
    UNION ALL BY NAME
    SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
    FROM orders WHERE o_orderstatus = 'F'
    """,
    cast_double=["price"],
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-tolerant union (unionByName allowMissingColumns=True): the
    second branch lacks o_orderpriority and gets NULL -- how streams of
    drifting schemas combine without positional-union corruption.  This
    is the managed version of the reference's schema-drift problem
    (data_adapter.go:114-124 only WARNS and keeps the first schema); the
    by-name union lets old- and new-schema batches coexist in one plan."""
    orders = table(spark, sf_dir, "orders")
    wide = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey",
        F.col("o_totalprice").cast(_DEC).alias("price"),
        "o_orderpriority",
    )
    narrow = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", F.col("o_totalprice").cast(_DEC).alias("price")
    )
    return wide.unionByName(narrow, allowMissingColumns=True)


@query(
    "q_json_array",
    oracle="""
    SELECT event_id, g.i AS rec_idx,
           CAST(json_extract(props, '$.k') AS BIGINT) * (g.i + 1) AS k
    FROM events, (SELECT unnest(generate_series(0, 1)) AS i) g
    """,
)
def q_json_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-array ingestion: a payload that is an ARRAY of records parses
    via from_json to array<struct> and posexplode yields (index, record)
    rows -- the wire shape for batched telemetry (vs q_explode_map's
    keyed-object shape).  The array here wraps each event's props twice
    (k, then 2k) so the index is semantically visible and the oracle can
    reconstruct it arithmetically."""
    from pyspark.sql import types as T

    events = table(spark, sf_dir, "events")
    arr_payload = F.concat(
        F.lit("["),
        F.col("props"),
        F.lit(',{"k":'),
        (
            F.get_json_object("props", "$.k").cast("long") * 2
        ).cast("string"),
        F.lit("}]"),
    )
    schema = T.ArrayType(T.StructType([T.StructField("k", T.LongType())]))
    parsed = events.select(
        "event_id", F.from_json(arr_payload, schema).alias("recs")
    )
    return parsed.select(
        "event_id",
        F.posexplode("recs").alias("rec_idx", "rec"),
    ).select(
        "event_id",
        F.col("rec_idx").cast("bigint").alias("rec_idx"),
        F.col("rec.k").alias("k"),
    )


@query(
    "q_grouping_id",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
           COUNT(*) AS n
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def q_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() flags on rollup output: distinguishes 'NULL because
    this row is a subtotal' from 'NULL because the value is NULL' -- the
    disambiguation every rollup consumer needs before NULL-valued group
    keys exist in the data.  Compiles into the same single Expand + hash
    aggregate; the flag is just a bit of the expand's grouping-set id."""
    orders = table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
        F.grouping("o_orderpriority").cast("bigint").alias("g_prio"),
        F.count("*").alias("n"),
    )


@query(
    "q_sliding_topk",
    oracle="""
    WITH expanded AS (
      SELECT TIMESTAMP '1970-01-01 00:00:00'
               + to_seconds((epoch_us(ts) // 1000000 // 300) * 300
                            - k.k * 300) AS window_start,
             user_id, value
      FROM events, (SELECT 0 AS k UNION ALL SELECT 1) k
    ), per_user AS (
      SELECT window_start, user_id,
             SUM(CAST(value AS DECIMAL(18,2))) AS total
      FROM expanded GROUP BY window_start, user_id
    )
    SELECT window_start, user_id, total
    FROM (
      SELECT window_start, user_id, total,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY total DESC, user_id) AS rn
      FROM per_user)
    WHERE rn <= 2
    """,
    cast_double=["total"],
)
def q_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per sliding window (leaderboard shape): hopping-window
    per-user totals, then a window rank INSIDE each time window.  Two
    composable stages -- the Expand+agg from q_sliding_window feeding the
    rank from q_window_rank; the rank partitions by time window, so the
    sort is local to each window's user list, never global.  Decimal
    totals + user_id tie-break keep the top-2 deterministic."""
    from pyspark.sql import Window

    events = table(spark, sf_dir, "events")
    per_user = (
        events.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "user_id"
        )
        .agg(F.sum(F.col("value").cast(_DEC)).alias("total"))
        .select(
            F.col("w.start").alias("window_start"), "user_id", "total"
        )
    )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("total"), F.asc("user_id")
    )
    return (
        per_user.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("window_start", "user_id", "total")
    )


@query(
    "q_asof_tolerance",
    oracle="""
    WITH r AS (
      SELECT user_id, ts, MAX(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id,
           CASE WHEN e.ts - r.ts <= INTERVAL 1 HOUR
                THEN r.purchase_value END AS purchase_value_asof
    FROM events e ASOF LEFT JOIN r
      ON e.user_id = r.user_id AND e.ts >= r.ts
    """,
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with bounded lookback (pandas merge_asof `tolerance`):
    matches older than 1 hour are discarded.  Applied post-hoc on the
    propagated match timestamp, which is correct because as-of keeps the
    LATEST match -- if that one exceeds the tolerance, all others do too.
    Same one-shuffle-per-side sort-based plan as q_asof_join."""
    from mqtt_message_pump_spark.operators.joins import asof_join

    events = table(spark, sf_dir, "events")
    left = events.select("event_id", "user_id", "ts")
    right = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(
        left, right, on=["user_id"], ts_col="ts",
        value_cols=["purchase_value"], tolerance_secs=3600,
    ).select("event_id", "user_id", "purchase_value_asof")


@query(
    "q_iqr_clip",
    oracle="""
    WITH pct AS (
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.25) AS q1,
             quantile_cont(l_quantity, 0.75) AS q3
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_orderkey, l_linenumber, l.l_returnflag, l_quantity,
           GREATEST(q1 - 1.5 * (q3 - q1),
                    LEAST(q3 + 1.5 * (q3 - q1), l_quantity)) AS clipped_qty,
           l_quantity < q1 - 1.5 * (q3 - q1)
             OR l_quantity > q3 + 1.5 * (q3 - q1) AS is_outlier
    FROM lineitem l JOIN pct USING (l_returnflag)
    """,
)
def q_iqr_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group IQR outlier clipping (winsorize to [Q1-1.5*IQR,
    Q3+1.5*IQR]): the standard numeric-cleaning step before a column
    feeds training.  Two-phase shape: exact quartiles per group (3 rows),
    broadcast back, clip map-side -- the row pass never shuffles.  Cross-
    engine determinism: quartile fractions 0.25/0.75 are exact binary
    fractions and l_quantity is integer-valued, so the interpolated
    quantile, the 1.5*IQR arithmetic, and the clip comparisons are all
    exact doubles on both engines (arbitrary fractions would interpolate
    with engine-specific rounding -- see q_percentile).  At 100 TB swap
    percentile for approx_percentile exactly as q_percentile documents."""
    li = table(spark, sf_dir, "lineitem")
    pct = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.25).alias("q1"),
        F.percentile("l_quantity", 0.75).alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return li.join(F.broadcast(pct), "l_returnflag").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
        F.greatest(lo, F.least(hi, F.col("l_quantity"))).alias("clipped_qty"),
        ((F.col("l_quantity") < lo) | (F.col("l_quantity") > hi)).alias(
            "is_outlier"
        ),
    )


@query("q_iqr_clip_approx")  # rows-only: sketch quartiles are engine-specific
def q_iqr_clip_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The executable 100 TB swap q_iqr_clip documents: per-group
    quartiles from the distributed ``approx_percentile`` sketch (KLL-style
    fixed-size partials, no per-group sort) instead of exact
    ``percentile``; the clip itself is the same broadcast-back map-side
    pass.  One fact-table scan + a 3-row broadcast, identical plan shape
    to the exact key -- only the quartile operator changes, so switching
    at scale is a one-line swap.  Rows-only (sketch cut points are
    engine-specific); tests assert >=99% is_outlier agreement and exact
    row identity with q_iqr_clip."""
    li = table(spark, sf_dir, "lineitem")
    pct = li.groupBy("l_returnflag").agg(
        F.expr(
            "approx_percentile(l_quantity, array(0.25, 0.75), 10000)"
        ).alias("qs")
    ).select(
        "l_returnflag",
        F.col("qs")[0].cast("double").alias("q1"),
        F.col("qs")[1].cast("double").alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return li.join(F.broadcast(pct), "l_returnflag").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
        F.greatest(lo, F.least(hi, F.col("l_quantity"))).alias("clipped_qty"),
        ((F.col("l_quantity") < lo) | (F.col("l_quantity") > hi)).alias(
            "is_outlier"
        ),
    )


@query(
    "q_latest_snapshot",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction / latest-state snapshot: one row per key, the most
    recent by (ts, event_id) -- how an append-only change stream collapses
    to current state (the MERGE-free alternative to q_merge_upsert).
    Partition-local window keyed by user_id: one shuffle on the key,
    row_number prunes to a single buffered winner per key via the
    TopK/window pushdown, state bounded by per-key row count.  The unique
    event_id tie-break makes the winner deterministic under equal
    timestamps."""
    from pyspark.sql import Window

    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


@query(
    "q_replacing_collapse",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def q_replacing_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReplacingMergeTree FINAL as an AGGREGATE: the exact kernel the
    manifest sink's upsert read uses (``sinks.collapse_latest`` --
    ``read_sink(collapse_keys=...)`` and the
    ``compact_sink(collapse_keys=...)`` background merge call this
    function), oracle-checked here over the events change stream.
    Same logical result as q_latest_snapshot but a genuinely different
    physical strategy: ``groupBy(key).agg(max_by(row, order))`` carries
    ``partial_max_by`` below the exchange (map-side combine -- each map
    task ships ONE candidate per key), where the window ``row_number``
    twin shuffles every version of every key; at 100 TB of CDC history
    with hot keys that is the difference between shuffling current
    state and shuffling the full history.  Determinism: ordering struct
    is (version, every orderable non-key column) -- ``event_id`` is
    unique, so ties on ``ts`` resolve identically to the oracle's
    two-term ORDER BY.  Reference anchor: ``replacingengine``
    (``data_dbstore.go:109-133``)."""
    from mqtt_message_pump_spark.sinks import collapse_latest

    events = table(spark, sf_dir, "events")
    return collapse_latest(events, ["user_id"], "ts").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@query(
    "q_window_funnel",
    oracle="""
    WITH ev AS (SELECT user_id, ts, event_type FROM events),
    t1 AS (
      SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
      FROM ev GROUP BY user_id),
    t2 AS (
      SELECT ev.user_id, MIN(ts) AS t2
      FROM ev JOIN t1 USING (user_id)
      WHERE event_type = 'click' AND ts > t1.t1
        AND ts <= t1.t1 + INTERVAL 7 DAY
      GROUP BY ev.user_id),
    t3 AS (
      SELECT ev.user_id, MIN(ts) AS t3
      FROM ev JOIN t1 USING (user_id) JOIN t2 USING (user_id)
      WHERE event_type = 'purchase' AND ts > t2.t2
        AND ts <= t1.t1 + INTERVAL 7 DAY
      GROUP BY ev.user_id)
    SELECT t1.user_id,
           CASE WHEN t3.t3 IS NOT NULL THEN 3
                WHEN t2.t2 IS NOT NULL THEN 2
                WHEN t1.t1 IS NOT NULL THEN 1
                ELSE 0 END AS funnel_level,
           t1.t1 AS first_view
    FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
    """,
)
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel (the ClickHouse ``windowFunnel`` shape): per
    user, the deepest view -> click -> purchase chain where each stage
    strictly follows the previous and the whole chain fits in 7 days
    from the first view.  This variant anchors on the FIRST view (each
    stage then takes its earliest qualifying event), which keeps every
    stage a conditional MIN -- no per-user event list, no state machine.

    Scale shape: three conditional-MIN aggregates, all hash-keyed on
    user_id (one shuffle key throughout, AQE-planned joins between
    stage tables whose size never exceeds the user dimension);
    per-group state is one timestamp per stage.  Users with events but
    no view stay at level 0 via the left joins."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    t1 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1")
    )
    win_end = F.col("t1") + F.expr("INTERVAL 7 DAYS")
    t2 = (
        ev.join(t1, "user_id")
        .filter(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= win_end)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.join(t1, "user_id")
        .join(t2, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= win_end)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        t1.join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .when(F.col("t1").isNotNull(), 1)
            .otherwise(0)
            .alias("funnel_level"),
            F.col("t1").alias("first_view"),
        )
    )


@query(
    "q_retention_cohort",
    oracle="""
    WITH weeks AS (
      SELECT user_id, date_trunc('week', ts) AS week
      FROM events GROUP BY user_id, date_trunc('week', ts)),
    cohort AS (
      SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY user_id),
    sizes AS (
      SELECT cohort_week, COUNT(*) AS cohort_size
      FROM cohort GROUP BY cohort_week),
    act AS (
      SELECT c.cohort_week,
             CAST(date_diff('day', c.cohort_week, w.week) / 7 AS BIGINT)
               AS week_offset,
             COUNT(*) AS n_active
      FROM weeks w JOIN cohort c USING (user_id)
      GROUP BY c.cohort_week, week_offset)
    SELECT a.cohort_week, a.week_offset, a.n_active, s.cohort_size,
           CAST(a.n_active AS DOUBLE) / s.cohort_size AS retention
    FROM act a JOIN sizes s USING (cohort_week)
    """,
)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-active week, then
    the fraction of each cohort active again N weeks later -- the
    product-analytics rollup every engagement dashboard runs.

    Scale shape: (user, week) activity first compacts to distinct pairs
    (map-side combined, bounded by users x weeks), cohorts derive from a
    second user-keyed MIN -- the same shuffle key, so no extra exchange
    -- and the final matrix groups by (cohort_week, offset), a
    dimension-sized result.  Offsets divide an exact day count by 7
    (week-truncated timestamps are always whole weeks apart, so the
    division is exact on both engines)."""
    ev = table(spark, sf_dir, "events")
    # cast to DATE: DuckDB's date_trunc('week', ts) yields DATE while
    # Spark's yields TIMESTAMP; week buckets are calendar days anyway
    weeks = ev.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
    ).distinct()
    cohort = weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    act = (
        weeks.join(cohort, "user_id")
        .select(
            "cohort_week",
            (
                F.datediff(F.col("week"), F.col("cohort_week")) / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active"))
    )
    return act.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        (F.col("n_active").cast("double") / F.col("cohort_size")).alias(
            "retention"
        ),
    )


@query(
    "q_event_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events)
    SELECT event_type, next_type, COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY event_type) AS prob
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    counts and row-normalized probabilities of each event_type ->
    next_type step -- the behavioral-modeling statistic under journey
    analysis and synthetic-session generation.

    Scale shape: the LEAD window partitions by user (state bounded by a
    user's own events, millions of independent partitions -- never a
    global sort), the transition count aggregate map-side combines to at
    most |types|^2 rows, and the probability normalization windows over
    that dimension-sized result.  Ordering ties break on event_id so the
    sequence -- and therefore every count -- is deterministic."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    counts = (
        ordered.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    w_row = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w_row)).alias("prob"),
    )


@query(
    "q_scd2_intervals",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    chg AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev IS NULL OR prev <> event_type),
    iv AS (
      SELECT user_id, event_type, ts AS valid_from,
             LEAD(ts) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      FROM chg)
    SELECT user_id, event_type, valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM iv
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 interval build: collapse an append-only change log into
    validity intervals -- per user, keep only rows where the tracked
    attribute (event_type) actually changed, then close each interval at
    the next change's timestamp (NULL valid_to = current row).  The
    standard warehouse pattern for deriving a history dimension from CDC
    events, the interval-producing complement of q_latest_snapshot.

    Scale shape: both window passes share one (user_id) hash partition
    and one (ts, event_id) sort -- Catalyst reuses the exchange and the
    sort for the LAG and the post-filter LEAD, so the log shuffles once;
    per-row state is a single previous value, never a collected history.
    The (ts, event_id) tie-break makes interval boundaries deterministic
    under equal timestamps."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = ev.withColumn(
        "prev", F.lag("event_type").over(w)
    ).filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    return (
        chg.withColumn("valid_to", F.lead("ts").over(w))
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


@query(
    "q_dq_report",
    oracle="""
    SELECT 'orders_custkey_fk' AS check_name, 'orders' AS table_name,
           (SELECT COUNT(*) FROM orders
            WHERE o_custkey IS NULL
               OR o_custkey NOT IN (SELECT c_custkey FROM customer))
             AS n_violations
    UNION ALL
    SELECT 'lineitem_partkey_fk', 'lineitem',
           (SELECT COUNT(*) FROM lineitem
            WHERE l_partkey IS NULL
               OR l_partkey NOT IN (SELECT p_partkey FROM part))
    UNION ALL
    SELECT 'customer_custkey_unique', 'customer',
           (SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer)
    UNION ALL
    SELECT 'lineitem_qty_range', 'lineitem',
           (SELECT COUNT(*) FROM lineitem
            WHERE l_quantity < 1 OR l_quantity > 50)
    UNION ALL
    SELECT 'documents_nchars_consistent', 'documents',
           (SELECT COUNT(*) FROM documents WHERE length(text) <> n_chars)
    UNION ALL
    SELECT 'events_ts_not_null', 'events',
           (SELECT COUNT(*) FROM events WHERE ts IS NULL)
    """,
)
def q_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations report (the dbt-test /
    Great-Expectations shape): each constraint -- referential integrity,
    key uniqueness, value ranges, derived-column consistency, not-null --
    evaluates to a violation count, and the report is the union of the
    1-row results.  A training-data pipeline runs this gate before every
    ingest promotion.

    Scale shape: every check is an independent scan-aggregate with
    constant-size state (the FK probes are broadcast anti joins against
    dimension key sets; the uniqueness check is count minus
    count-distinct, partial-aggregated); the final union concatenates
    six 1-row frames, so the report costs the scans and nothing else.
    Checks over the same table share a scan only if Catalyst caches --
    at 100 TB you group same-table checks into one conditional-count
    pass per table (q_filtered_agg pattern); kept separate here so each
    check stays independently registrable.  A NULL foreign key counts as
    a violation on BOTH engines: the anti join keeps NULL-keyed probe
    rows, and the oracle spells the matching ``IS NULL OR ... NOT IN``
    (bare NOT IN would silently skip NULLs -- the q_anti_join trap)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    docs = table(spark, sf_dir, "documents")
    events = table(spark, sf_dir, "events")

    def report(name: str, tbl: str, cnt: DataFrame) -> DataFrame:
        return cnt.select(
            F.lit(name).alias("check_name"),
            F.lit(tbl).alias("table_name"),
            F.col("n").alias("n_violations"),
        )

    fk_orders = orders.join(
        F.broadcast(cust.select("c_custkey")),
        orders.o_custkey == F.col("c_custkey"),
        "left_anti",
    ).agg(F.count("*").alias("n"))
    fk_li = li.join(
        F.broadcast(part.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
        "left_anti",
    ).agg(F.count("*").alias("n"))
    uniq = cust.agg(
        (F.count("*") - F.countDistinct("c_custkey")).alias("n")
    )
    qty = li.filter(
        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
    ).agg(F.count("*").alias("n"))
    nchars = docs.filter(F.length("text") != F.col("n_chars")).agg(
        F.count("*").alias("n")
    )
    ts_null = events.filter(F.col("ts").isNull()).agg(
        F.count("*").alias("n")
    )
    return (
        report("orders_custkey_fk", "orders", fk_orders)
        .unionAll(report("lineitem_partkey_fk", "lineitem", fk_li))
        .unionAll(report("customer_custkey_unique", "customer", uniq))
        .unionAll(report("lineitem_qty_range", "lineitem", qty))
        .unionAll(
            report("documents_nchars_consistent", "documents", nchars)
        )
        .unionAll(report("events_ts_not_null", "events", ts_null))
    )


@query(
    "q_table_profile",
    oracle="""
    WITH a AS (
      SELECT COUNT(*) AS n,
             COUNT(l_quantity) AS c1, COUNT(DISTINCT l_quantity) AS d1,
             MIN(l_quantity) AS mn1, MAX(l_quantity) AS mx1,
             COUNT(l_extendedprice) AS c2,
             COUNT(DISTINCT l_extendedprice) AS d2,
             MIN(l_extendedprice) AS mn2, MAX(l_extendedprice) AS mx2,
             COUNT(l_discount) AS c3, COUNT(DISTINCT l_discount) AS d3,
             MIN(l_discount) AS mn3, MAX(l_discount) AS mx3
      FROM lineitem)
    SELECT 'l_quantity' AS column_name, n AS n_rows, n - c1 AS n_null,
           d1 AS n_distinct, mn1 AS min_val, mx1 AS max_val FROM a
    UNION ALL
    SELECT 'l_extendedprice', n, n - c2, d2, mn2, mx2 FROM a
    UNION ALL
    SELECT 'l_discount', n, n - c3, d3, mn3, mx3 FROM a
    """,
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling stage (ANALYZE TABLE / ingest data-card shape):
    row count, null count, exact distinct count, and min/max per profiled
    column, computed in ONE scan whose single aggregate row is then
    unpivoted to the long (column_name, stats...) report.  The profiling
    complement of q_dq_report: expectations check known constraints,
    profiling discovers what the data looks like before constraints
    exist.

    Scale shape: one pass over the fact table; the multi-count-distinct
    aggregate plans as an Expand (x3 here -- bounded by the profiled
    column count, chosen per run, never the schema width); min/max/count
    partials are constant-size.  At 100 TB swap exact distinct for
    approx_count_distinct per column exactly as q_approx_distinct
    documents, collapsing the Expand to plain partials.  The unpivot is
    a stack() over one row -- free."""
    li = table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = [F.count("*").alias("n")]
    for i, c in enumerate(cols, 1):
        aggs += [
            F.count(c).alias(f"c{i}"),
            F.countDistinct(c).alias(f"d{i}"),
            F.min(c).alias(f"mn{i}"),
            F.max(c).alias(f"mx{i}"),
        ]
    a = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n - c{i}, d{i}, mn{i}, mx{i}"
        for i, c in enumerate(cols, 1)
    )
    return a.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_null, n_distinct, min_val, max_val)"
        ),
        F.col("n").alias("n_rows"),
    ).select(
        "column_name", "n_rows", "n_null", "n_distinct",
        "min_val", "max_val",
    )


@query("q_table_profile_approx")  # rows-only: HLL estimates are engine-specific
def q_table_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The executable 100 TB swap q_table_profile documents: the same
    one-scan column profile with ``approx_count_distinct`` (HLL++,
    fixed-size sketch partials) replacing exact ``countDistinct``.  The
    multi-count-distinct Expand (x3 input duplication) collapses to plain
    constant-size partials -- at 100 TB that is the difference between
    re-shuffling the fact table per profiled column and a single
    map-combined pass.  Rows-only (HLL estimates are engine-specific);
    tests assert exact agreement on n_rows/n_null/min/max and <2%
    relative error on n_distinct vs the exact profile."""
    li = table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = [F.count("*").alias("n")]
    for i, c in enumerate(cols, 1):
        aggs += [
            F.count(c).alias(f"c{i}"),
            F.approx_count_distinct(c, 0.01).alias(f"d{i}"),
            F.min(c).alias(f"mn{i}"),
            F.max(c).alias(f"mx{i}"),
        ]
    a = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n - c{i}, d{i}, mn{i}, mx{i}"
        for i, c in enumerate(cols, 1)
    )
    return a.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_null, n_distinct, min_val, max_val)"
        ),
        F.col("n").alias("n_rows"),
    ).select(
        "column_name", "n_rows", "n_null", "n_distinct",
        "min_val", "max_val",
    )


@query(
    "q_cooccurrence",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type),
    base AS (SELECT event_type, COUNT(*) AS n_users FROM ut
             GROUP BY event_type)
    SELECT type_a, type_b, COUNT(*) AS n_both,
           CAST(COUNT(*) AS DOUBLE) / na.n_users AS support_a,
           CAST(COUNT(*) AS DOUBLE) / nb.n_users AS support_b
    FROM pairs
    JOIN base na ON na.event_type = type_a
    JOIN base nb ON nb.event_type = type_b
    GROUP BY type_a, type_b, na.n_users, nb.n_users
    ORDER BY type_a, type_b
    """,
)
def q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence matrix (the collaborative-filtering /
    market-basket building block): for each pair of event types, the
    number of distinct users engaging with both, plus conditional
    supports (lift's numerators).  The ``a < b`` ordering emits each
    unordered pair once.

    Scale shape: the raw log first compacts to DISTINCT (user, item) --
    map-side combined, one row per engagement pair -- and the self-join
    runs per user over that compacted frame, so the fan-out is bounded
    by each user's item count (catalog-bounded, never corpus-bounded:
    |items|^2 output cells).  For catalogs where per-user item lists are
    huge, the standard cap is per-user item sampling before the join --
    the max_bucket_size treatment.  Counts are exact integers; supports
    are one double division each."""
    ev = table(spark, sf_dir, "events")
    # The compacted engagement frame feeds BOTH self-join sides and the
    # per-item base counts; without materialization Catalyst re-scans and
    # re-distincts the log once per consumer (no common-subplan reuse --
    # the q_important_parts note).  A production pipeline reads an
    # already-materialized engagement table here.
    ut = ev.select("user_id", "event_type").distinct().localCheckpoint(
        eager=False
    )
    a = ut.select(
        F.col("user_id").alias("ua"), F.col("event_type").alias("type_a")
    )
    b = ut.select(
        F.col("user_id").alias("ub"), F.col("event_type").alias("type_b")
    )
    pairs = a.join(
        b,
        (F.col("ua") == F.col("ub"))
        & (F.col("type_a") < F.col("type_b")),
    )
    base = (
        ut.groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
        .localCheckpoint(eager=False)
    )
    na = base.select(
        F.col("event_type").alias("type_a"),
        F.col("n_users").alias("n_a"),
    )
    nb = base.select(
        F.col("event_type").alias("type_b"),
        F.col("n_users").alias("n_b"),
    )
    return (
        pairs.groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
        .join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            (F.col("n_both").cast("double") / F.col("n_a")).alias(
                "support_a"
            ),
            (F.col("n_both").cast("double") / F.col("n_b")).alias(
                "support_b"
            ),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q_attribution",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             MAX(CASE WHEN event_type IN ('click', 'view')
                      THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_ts
      FROM events)
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           CASE WHEN touch_ts IS NOT NULL
                 AND ts - touch_ts <= INTERVAL 7 DAY
                THEN touch_ts END AS attributed_ts,
           (touch_ts IS NOT NULL
             AND ts - touch_ts <= INTERVAL 7 DAY) AS attributed
    FROM ordered
    WHERE event_type = 'purchase'
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is attributed to
    the user's most recent preceding click/view within a 7-day lookback
    window (NULL if none) -- the conversion-credit operator behind every
    ads/growth pipeline, and the windowed complement of the as-of join
    (same semantics, single self-ordered stream instead of two tables).

    Scale shape: one (user_id) shuffle + one (ts, event_id) sort; the
    running MAX of touch timestamps carries O(1) state per row (ROWS
    UNBOUNDED PRECEDING .. 1 PRECEDING excludes self-attribution when a
    purchase IS the touch type's timestamp peer); the purchase filter
    prunes after the window, so no second scan.  Timestamp comparisons
    are exact; the (ts, event_id) tie-break pins concurrent events."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.max(
        F.when(
            F.col("event_type").isin("click", "view"), F.col("ts")
        )
    ).over(w)
    within = F.col("touch_ts").isNotNull() & (
        F.col("ts")
        <= F.col("touch_ts") + F.expr("INTERVAL 7 DAYS")
    )
    return (
        ev.withColumn("touch_ts", touch)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.when(within, F.col("touch_ts")).alias("attributed_ts"),
            within.alias("attributed"),
        )
    )
