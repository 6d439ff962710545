"""Corpus-preparation operators for LLM training-data pipelines
(SURVEY.md SS2.8 extension set, round 3): repetition scoring, PII
redaction, benchmark decontamination, TF-IDF term ranking, C4-style
filtering, and embedding quantization.

Like the rest of the extension set these are additive over the reference
(which has no text analytics at all -- its only transforms are JSON
flatten + counters, `data_adapter.go:73-134`, `monitor.go:111-189`), and
every operator is designed for the 100 TB shape first: pure codegen
expressions where possible, explode+aggregate (map-side combined) where a
per-token pass is needed, and never an all-pairs join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mqtt_message_pump_spark.functions import text as TX
from mqtt_message_pump_spark.operators import dedup as DD
from mqtt_message_pump_spark.plans.llm import _SQL_SHINGLES
from mqtt_message_pump_spark.plans.registry import materialize_once, query, table

# Non-distinct word bigram list (DuckDB twin of the Spark expression in
# q_repetition_score): i = 1 .. len-1, two-token inclusive slices.
_SQL_BIGRAMS = (
    "list_transform(range(1, greatest(len(string_split(text, ' ')), 2)), "
    "i -> array_to_string((string_split(text, ' '))[i:i+1], ' '))"
)


def _bigrams_col(text: F.Column) -> F.Column:
    toks = F.split(text, " ")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1)))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, 2), " "))


@query(
    "q_repetition_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t, {_SQL_BIGRAMS} AS bg
      FROM documents),
    top AS (
      SELECT doc_id, MAX(c) AS top_cnt
      FROM (SELECT doc_id, b, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(bg) AS b FROM toks) GROUP BY doc_id, b)
      GROUP BY doc_id)
    SELECT s.doc_id,
           CAST(n_tok - n_dist AS DOUBLE) / n_tok AS dup_token_frac,
           CAST(top_cnt AS DOUBLE) / GREATEST(n_tok - 1, 1) AS top_bigram_frac
    FROM (SELECT doc_id, len(t) AS n_tok, len(list_distinct(t)) AS n_dist
          FROM toks) s
    JOIN top ON s.doc_id = top.doc_id
    """,
)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate-token fraction and the
    share of all bigrams taken by the single most repeated bigram.

    The token-level stats are pure array expressions (zero shuffle); the
    top-bigram count uses explode -> count -> max, which partial-aggregates
    map-side so the shuffle carries one row per (doc, distinct bigram) --
    bounded by document length, never corpus size.  Both fractions are one
    double division of exact integers, so the rendered values are
    bit-identical across engines."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stats = docs.select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_dist"),
    )
    top = (
        docs.select("doc_id", F.explode(_bigrams_col(F.col("text"))).alias("b"))
        .groupBy("doc_id", "b")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_cnt"))
    )
    return stats.join(top, "doc_id").select(
        "doc_id",
        (
            (F.col("n_tok") - F.col("n_dist")).cast("double") / F.col("n_tok")
        ).alias("dup_token_frac"),
        (
            F.col("top_cnt").cast("double")
            / F.greatest(F.col("n_tok") - 1, F.lit(1))
        ).alias("top_bigram_frac"),
    )


@query(
    "q_pii_redact",
    oracle="""
    SELECT event_id,
           regexp_replace(props, '[0-9]+', '#', 'g') AS redacted,
           CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_hits
    FROM events
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-redaction shape: mask every digit run in the raw payload and
    count the redactions (the audit column).  Stand-in pattern ``[0-9]+``
    is deliberately in the Java-regex/RE2 common subset; a production
    pipeline swaps in email/phone/SSN alternations the same way.  Pure
    regexp expressions -- a zero-shuffle scan at any scale."""
    events = table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.regexp_replace("props", "[0-9]+", "#").alias("redacted"),
        F.regexp_count("props", F.lit("[0-9]+")).cast("bigint").alias("n_hits"),
    )


_DECONTAM_MAX_DF = 10_000  # stop-shingle training-doc-frequency cap


def decontaminate(
    docs: DataFrame,
    bench_source: str = "src0",
    max_df: int | None = _DECONTAM_MAX_DF,
    shingle_n: int = 3,
    two_pass: bool = False,
    bench_docs: DataFrame | None = None,
) -> DataFrame:
    """Flag training docs sharing a word n-gram with the benchmark set.

    Scale shape -- the training corpus is NEVER shuffled by shingle:

    1. The benchmark shingle set (eval sets: orders of magnitude smaller
       than the corpus) is built from a source-pruned scan and BROADCAST.
    2. One explode over the training side, map-side broadcast-joined
       against it: only matching (doc, shingle) ``hits`` survive --
       normally a sliver of the corpus.  No full-corpus group-by-shingle,
       no per-shingle doc list (a ``collect_set`` formulation
       concentrates a boilerplate shingle's whole doc list in one
       in-memory aggregation buffer -- OOM at corpus scale).
    3. ``max_df`` drops stop-shingles -- benchmark shingles carried by
       more than ``max_df`` training docs are boilerplate, not leakage
       (the ``max_bucket_size`` treatment from
       ``minhash_candidate_pairs``).  Default mode counts them with ONE
       window over ``hits`` keyed by shingle: a single extra shuffle of
       the (small) hit set, spill-safe for hot shingles.  ``two_pass=
       True`` instead pre-aggregates the frequencies (constant-size
       partial counts) and re-explodes the training side against the
       refined broadcast -- no hit-set shuffle at all, at the price of a
       second corpus scan: prefer it when boilerplate contamination is
       expected to be a large corpus fraction.  ``max_df=None`` disables
       the cap (exact mode, single pass, zero shuffle before the final
       per-doc count).

    (doc, shingle) pairs are distinct (``shingles_col`` dedups per doc),
    so ``n_shared`` is the exact count of distinct shared shingles, and
    the final per-doc count partial-aggregates map-side.
    """
    # r15: LEFT SEMI against the broadcast bench set instead of
    # inner-join-after-distinct -- a semi join cannot multiply rows on
    # duplicate build keys, so the bench side needs no distinct pass
    # (one exchange + aggregation removed; the broadcast hash build
    # dedups keys for free).  Hit rows are identical: per-doc shingles
    # are already distinct, so inner x distinct-bench == semi.
    # r16: ``bench_docs`` lets the caller feed the (small, source-pruned)
    # bench branch an UNSPLIT scan -- repartitioning eval-set-sized input
    # just to parallelize an explode that feeds a broadcast build is a
    # whole exchange + AQE stage of pure overhead (guide SS2.4).
    bench_sh = (bench_docs if bench_docs is not None else docs).filter(
        F.col("source") == bench_source
    ).select(
        F.explode(DD.shingles_col(F.col("text"), shingle_n)).alias("s")
    )
    train_sh = docs.filter(F.col("source") != bench_source).select(
        "doc_id",
        F.explode(DD.shingles_col(F.col("text"), shingle_n)).alias("s"),
    )
    hits = train_sh.join(F.broadcast(bench_sh), "s", "left_semi")
    if max_df is not None:
        if two_pass:
            keep = (
                hits.groupBy("s")
                .agg(F.count("*").alias("train_df"))
                .filter(F.col("train_df") <= max_df)
                .select("s")
            )
            hits = train_sh.join(F.broadcast(keep), "s")
        else:
            hits = hits.withColumn(
                "train_df", F.count("*").over(Window.partitionBy("s"))
            ).filter(F.col("train_df") <= max_df)
    return hits.groupBy("doc_id").agg(F.count("*").alias("n_shared"))


@query(
    "q_decontam",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, source, unnest({_SQL_SHINGLES}) AS s FROM documents),
    bench AS (SELECT DISTINCT s FROM sh WHERE source = 'src0')
    SELECT doc_id, COUNT(DISTINCT s) AS n_shared
    FROM sh JOIN bench USING (s)
    WHERE source <> 'src0'
    GROUP BY doc_id
    """,
)
def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (see :func:`decontaminate`): flag
    training documents sharing any word 3-gram with the held-out
    benchmark set (source 'src0' stands in for the benchmark corpus;
    production uses 8-13-grams the same way).  The stop-shingle cap
    defaults ON; fixture document frequencies are far below it, so the
    oracle (uncapped SQL) stays exact at fixture scale.

    r15: ``split="doc_id"`` parallelizes the train-side shingle explode
    (the single-row-group local scan otherwise runs it on one core); the
    semi-join rewrite inside :func:`decontaminate` dropped the bench
    side's distinct exchange.  r16: the BENCH branch reads the unsplit
    scan -- its pushdown-pruned input is eval-set-sized and feeds a
    broadcast build, so its split exchange was pure overhead."""
    docs = table(spark, sf_dir, "documents", split="doc_id")
    return decontaminate(
        docs, bench_docs=table(spark, sf_dir, "documents")
    )


@query(
    "q_tfidf_top",
    oracle="""
    WITH tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, tok AS top_term, score
    FROM (
      SELECT tf.doc_id, tf.tok,
             CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / df.df DESC, tf.tok
             ) AS rn
      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n) ranked
    WHERE rn = 1
    """,
)
def q_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top TF-IDF term per document.  The idf factor is the rational form
    ``N / df`` (one double division of exact integers) rather than
    ``ln(N/df)`` -- log implementations differ in the last ulp across math
    libraries, and argmax/score ordering is identical either way.

    Scale shape: term frequencies partial-aggregate map-side (explode
    never leaves its scan partition un-combined), document frequency
    derives from the already-distinct (doc, term) frame, the corpus-size
    scalar joins as a 1-row broadcast, and the final top-1 is a window
    over each doc's own terms with a deterministic tie-break.

    r15 (guide SS2.4): ``split="doc_id"`` establishes one hash exchange
    on doc_id (also parallelizing the single-row-group local scan) that
    both the (doc, tok) aggregation (clustering on a superset of the
    partition key) and the per-doc top-1 window then REUSE -- before,
    each paid its own full-data exchange and the explode of the corpus
    ran on one core.  The vocab-sized df table is explicitly broadcast
    so the corpus-sized tf stream is never a join build side.

    r16 (guide SS1.2/SS5, the q_source_kl idiom): ``tf`` is materialized
    once (lazy localCheckpoint) -- Catalyst has no common-subplan reuse
    (docs/SCALE.md SS5b), so deriving df from the un-materialized tf
    re-ran the WHOLE scan -> exchange -> explode -> aggregate subtree a
    second time inside the df broadcast branch; at 100 TB that is a
    second full corpus pass for a vocabulary-sized result.  The corpus
    count comes off the raw (unsplit) scan: counting through the split
    frame paid a full hash exchange of the corpus to count its rows."""
    docs = table(spark, sf_dir, "documents", split="doc_id")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
        .transform(materialize_once)
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = table(spark, sf_dir, "documents").agg(F.count("*").alias("n_docs"))
    score = (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(
        score.desc(), F.col("tok").asc()
    )
    return (
        tf.join(F.broadcast(df), "tok")
        .join(F.broadcast(n))
        .withColumn("score", score)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("tok").alias("top_term"), "score")
    )


@query(
    "q_c4_filter",
    oracle=f"""
    SELECT doc_id,
           n_tok < 20 AS too_short,
           CAST(n_stop AS DOUBLE) / n_tok < 0.01 AS low_stop,
           CAST(n_tok - n_dist AS DOUBLE) / n_tok > 0.7 AS repetitive,
           NOT (n_tok < 20
                OR CAST(n_stop AS DOUBLE) / n_tok < 0.01
                OR CAST(n_tok - n_dist AS DOUBLE) / n_tok > 0.7) AS keep
    FROM (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tok,
             len(list_distinct(string_split(text, ' '))) AS n_dist,
             {TX.SQL_STOPWORD_COUNT.format(text='text')} AS n_stop
      FROM documents)
    """,
)
def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style quality gate with an audit trail: per-document boolean
    flags (too short / no stopwords / highly repetitive) plus the final
    keep decision, so downstream can report WHY documents were dropped --
    the pattern behind every production corpus filter.  Single-pass array
    + regex expressions, zero shuffle at any scale."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    base = docs.select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_dist"),
        TX.stopword_count(F.col("text")).alias("n_stop"),
    )
    too_short = F.col("n_tok") < 20
    low_stop = F.col("n_stop").cast("double") / F.col("n_tok") < 0.01
    repetitive = (
        (F.col("n_tok") - F.col("n_dist")).cast("double") / F.col("n_tok")
        > 0.7
    )
    return base.select(
        "doc_id",
        too_short.alias("too_short"),
        low_stop.alias("low_stop"),
        repetitive.alias("repetitive"),
        (~(too_short | low_stop | repetitive)).alias("keep"),
    )


@query(
    "q_vector_quantize",
    oracle="""
    SELECT vec_id, scale,
           CAST(i - 1 AS INTEGER) AS pos,
           CAST(FLOOR(v[i] / scale + 0.5) AS INTEGER) AS code
    FROM (
      SELECT vec_id,
             list_max(list_transform(embedding,
                                     x -> ABS(CAST(x AS DOUBLE)))) / 127.0
               AS scale,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
      LATERAL (SELECT unnest(generate_series(1, len(v))) AS i)
    WHERE scale > 0
    """,
)
def q_vector_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of embeddings (the storage/bandwidth
    optimization every vector store applies before ANN): per-vector scale
    = max|x| / 127, elements rounded to the nearest step.  4x smaller
    vectors change the economics of the 100 TB similarity path; the exact
    reconstruction-error bound is asserted in tests.

    Every arithmetic step is per-element (divide, +0.5, floor) with fixed
    order, so Spark and DuckDB produce identical doubles -> identical
    int codes.  Zero-vectors (scale 0) are excluded rather than special-
    cased -- both engines would otherwise divide by zero differently.

    Registered output is the LONG form (vec_id, scale, pos, code), one
    row per vector element: the driver canonicalizes through pandas,
    which cannot sort/hash array cells, so the packed array<int> form
    (posexplode inverse) stays an internal representation."""
    emb = table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scaled = emb.select(
        "vec_id",
        (F.array_max(F.transform(v, F.abs)) / F.lit(127.0)).alias("scale"),
        v.alias("v"),
    ).filter(F.col("scale") > 0)
    return scaled.select(
        "vec_id",
        "scale",
        F.posexplode(
            F.transform(
                F.col("v"),
                lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast(
                    "int"
                ),
            )
        ).alias("pos", "code"),
    )


# ------------------------------------------------------------- round 4 ---


@query(
    "q_ngram_counts",
    oracle=f"""
    SELECT bg, COUNT(*) AS c
    FROM (SELECT unnest({_SQL_BIGRAMS}) AS bg FROM documents)
    GROUP BY bg
    ORDER BY c DESC, bg
    LIMIT 100
    """,
)
def q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-100 word bigrams: the classic n-gram count job
    (boilerplate detection, stop-shingle candidate lists for q_decontam's
    ``max_df``, LM smoothing tables).  Explode -> count partial-aggregates
    map-side, so the shuffle carries one row per distinct bigram; the
    top-k is TakeOrderedAndProject with the bigram itself as tie-break.
    Reuses the exact bigram builder from q_repetition_score so the DuckDB
    twin stays shared."""
    docs = table(spark, sf_dir, "documents", split=True)
    return (
        docs.select(F.explode(_bigrams_col(F.col("text"))).alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "bg")
        .limit(100)
    )


@query(
    "q_cross_dedup",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source, md5(text) AS fp,
             source || '|' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS pk
      FROM documents)
    SELECT doc_id, source,
           COUNT(*) OVER (PARTITION BY fp) AS group_size,
           pk = MIN(pk) OVER (PARTITION BY fp) AS keep
    FROM keyed
    """,
)
def q_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source priority dedup: exact-duplicate groups (md5 of text)
    keep ONE canonical copy, chosen by source priority then doc id -- the
    curated-over-crawled rule every multi-source training mix applies.
    The priority key is a zero-padded string so lexicographic MIN is the
    (source, doc_id) argmin on both engines.  One shuffle on the content
    fingerprint; group sizes are duplicate-cluster sizes (bounded), so the
    per-partition window state is bounded regardless of corpus size."""
    docs = table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("fp"),
        F.concat(
            F.col("source"),
            F.lit("|"),
            F.lpad(F.col("doc_id").cast("string"), 12, "0"),
        ).alias("pk"),
    )
    w = Window.partitionBy("fp")
    return keyed.select(
        "doc_id",
        "source",
        F.count("*").over(w).alias("group_size"),
        (F.col("pk") == F.min("pk").over(w)).alias("keep"),
    )


@query(
    "q_token_budget",
    oracle=f"""
    WITH per_src AS (
      SELECT source, COUNT(*) AS n_docs,
             SUM({TX.SQL_TOKEN_COUNT.format(text='text')}) AS n_tokens
      FROM documents GROUP BY source)
    SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS share,
           CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, source
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / SUM(n_tokens) OVER () AS cum_share
    FROM per_src
    """,
)
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget accounting per source: doc/token totals, corpus
    share, and cumulative share in descending token order -- the table a
    data-mixing decision starts from.  The global windows here run over
    the ALREADY-AGGREGATED frame (one row per source, dimension
    cardinality, never SF-proportional), so the empty partitionBy is
    bounded by construction.  Integer token sums divide once into double,
    identically on both engines."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(TX.token_count(F.col("text"))).alias("n_tokens"),
    )
    w_tot = W.partitionBy()
    w_cum = (
        W.orderBy(F.col("n_tokens").desc(), "source")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    total = F.sum("n_tokens").over(w_tot)
    return per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / total).alias("share"),
        (F.sum("n_tokens").over(w_cum).cast("double") / total).alias(
            "cum_share"
        ),
    )


_MIX_RES = 10_000  # hash-sampling resolution (0.01%)


@query(
    "q_corpus_mix",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             {TX.SQL_TOKEN_COUNT.format(text='text')} AS n_tok
      FROM documents),
    per_src AS (
      SELECT source, SUM(n_tok) AS src_tokens FROM tok GROUP BY source),
    tot AS (
      SELECT SUM(src_tokens) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_src
      FROM per_src)
    SELECT doc_id, t.source,
           LEAST(1.0, CAST(total AS DOUBLE) / (2.0 * n_src) / src_tokens)
             AS rate
    FROM tok t
    JOIN per_src p ON t.source = p.source
    CROSS JOIN tot
    WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) % {_MIX_RES} * (2 * n_src * src_tokens)
          < {_MIX_RES} * total
    """,
)
def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus mixing: rebalance a multi-source corpus to a
    token budget of HALF the corpus, allocated equally across sources --
    over-represented sources are down-sampled (rate = budget_s /
    src_tokens), small sources kept whole (rate capped at 1).  Doc
    selection is the md5-hash-uniform draw from q_sample_hash, so the mix
    is reproducible across engines, runs, and partitionings.  The keep
    decision is evaluated as one integer cross-multiplication (hash *
    2 * n_src * src_tokens < RES * total): no double rounding at the
    acceptance boundary (int64-safe to ~1e13 tokens/source at RES=1e4;
    swap to DECIMAL(38,0) beyond).  Per-source token totals are
    dimension-cardinality and broadcast back; the filter itself is
    map-side."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        TX.token_count(F.col("text")).cast("bigint").alias("n_tok"),
    )
    per_src = tok.groupBy("source").agg(
        F.sum("n_tok").alias("src_tokens")
    )
    tot = per_src.agg(
        F.sum("src_tokens").alias("total"),
        F.count("*").cast("bigint").alias("n_src"),
    )
    joined = tok.join(F.broadcast(per_src), "source").crossJoin(
        F.broadcast(tot)
    )
    h = DD.md5_hash32(F.col("doc_id").cast("string")) % _MIX_RES
    keep = (
        h * (2 * F.col("n_src") * F.col("src_tokens"))
        < F.lit(_MIX_RES) * F.col("total")
    )
    return joined.filter(keep).select(
        "doc_id",
        "source",
        F.least(
            F.lit(1.0),
            F.col("total").cast("double")
            / (2.0 * F.col("n_src"))
            / F.col("src_tokens"),
        ).alias("rate"),
    )


_BM25_TERMS = ("window", "column", "value")
_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 20


@query(
    "q_bm25_top",
    oracle=f"""
    WITH dl AS (
      SELECT doc_id, CAST({TX.SQL_TOKEN_COUNT.format(text='text')} AS DOUBLE)
               AS dl
      FROM documents),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             SUM(dl) / COUNT(*) AS avgdl
      FROM dl),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok IN ('window', 'column', 'value')
      GROUP BY doc_id, tok),
    idf AS (
      SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok)
    SELECT doc_id, score FROM (
      SELECT tf.doc_id,
             round(SUM(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * ({_BM25_K1} + 1.0))
               / (tf + {_BM25_K1}
                  * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / avgdl))
             ), 6) AS score
      FROM tf
      JOIN idf USING (tok)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
      GROUP BY tf.doc_id)
    ORDER BY score DESC, doc_id
    LIMIT {_BM25_TOPK}
    """,
)
def q_bm25_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance ranking of the corpus against a fixed query -- the
    retrieval scorer behind query-targeted data selection (pull the
    training docs most relevant to an eval domain).  k1=1.2, b=0.75.

    Scale shape: the explode is filtered to query terms map-side, so tf
    carries at most |Q| rows per doc; document frequencies and the
    (n_docs, avgdl) scalars are dimension-sized broadcasts; the per-doc
    score sums <=|Q| weighted terms and the top-k is
    TakeOrderedAndProject.  Cross-engine determinism: ln differs in the
    last ulp between libm implementations, so the score rounds to 6
    digits before ranking with a doc_id tie-break (the q_cosine_topk
    idiom); every other input to the sum is an exact double.

    r15 (guide SS2.4): ``split="doc_id"`` -- the (doc, tok) term
    frequencies, the dl equi-join, and the final per-doc score sum all
    reuse one up-front doc_id exchange (which also parallelizes the
    single-row-group local scan); before, tf and the score aggregation
    each paid their own exchange over a single-core explode.

    r16 (guide SS1.2/SS5, the q_source_kl idiom): ``dl`` and ``tf`` are
    materialized once (lazy localCheckpoint) -- Catalyst has no
    common-subplan reuse (docs/SCALE.md SS5b), so the un-materialized
    frames re-ran their scan -> exchange -> tokenize/explode subtrees
    per consumer: stats re-derived dl, idf re-derived tf -- FOUR full
    corpus scans + doc_id exchanges per execution where two suffice.
    dl is one narrow (id, double) row per doc; tf is <=|query terms|
    rows per doc; both are exactly the frames a 100 TB run would rather
    hold as blocks than re-scan the corpus for."""
    docs = table(spark, sf_dir, "documents", split="doc_id")
    dl = docs.select(
        "doc_id", TX.token_count(F.col("text")).cast("double").alias("dl")
    ).transform(materialize_once)
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl") / F.count("*")).alias("avgdl"),
    )
    tf = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("double").alias("tf"))
        .transform(materialize_once)
    )
    idf = tf.groupBy("tok").agg(F.count("*").cast("double").alias("df"))
    k1, b = _BM25_K1, _BM25_B
    weight = (
        F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * (F.col("tf") * (k1 + 1.0))
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(idf), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(weight), 6).alias("score"))
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(_BM25_TOPK)


@query(
    "q_lm_score",
    oracle=f"""
    WITH bg AS (
      SELECT doc_id, bg FROM (
        SELECT doc_id, unnest({_SQL_BIGRAMS}) AS bg FROM documents)),
    uni AS (
      SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c1
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok),
    bgc AS (
      SELECT bg, CAST(COUNT(*) AS DOUBLE) AS c2 FROM bg GROUP BY bg)
    SELECT doc_id,
           CAST(SUM(CAST(floor(ln(c2 / c1) * 1e6) AS BIGINT)) AS DOUBLE)
             / 1e6 / COUNT(*) AS avg_logprob,
           COUNT(*) AS n_bigrams
    FROM bg
    JOIN bgc USING (bg)
    JOIN uni ON uni.tok = string_split(bg, ' ')[1]
    GROUP BY doc_id
    """,
)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics language-model scoring (the kenlm-perplexity
    quality filter, self-trained): per-doc mean bigram conditional
    log-probability ln(C(w1w2)/C(w1)) under the corpus's own counts --
    low scorers are gibberish/boilerplate outliers.

    Scale shape: bigram and unigram count tables partial-aggregate
    map-side (one row per distinct n-gram); the probability lookup is the
    classic inverted-index equi-join on the n-gram key -- SF-proportional
    both sides, shuffle-joined, AQE-handled.  Determinism: C2/C1 is one
    exact-int division (identical IEEE result), ln is floor-quantized to
    integer micro-units so the per-doc SUM is exact and order-independent
    (the q_label_centroid treatment), and the final mean is two double
    ops.  At 100 TB the count tables prune to top-V vocabulary with an
    OOV floor -- same plan, one extra filter."""
    # r15 (guide SS3.1/SS2.4): the un-hinted join planned the corpus-sized
    # (doc_id, bg) stream as the broadcast BUILD side (the 0.6 MB parquet
    # estimate fools the planner; at 100 TB that build is fatal, locally
    # it hashed millions of exploded rows into one relation).  The
    # explicit broadcast puts the VOCAB-bounded weight table on the build
    # side and streams the corpus.  split="doc_id" parallelizes the
    # single-row-group scan AND pre-clusters by doc_id so the final
    # per-doc aggregation reuses the partitioning -- no post-join
    # exchange of the scored stream at all.
    # r16 (guide SS1.2/SS5, the q_source_kl idiom): ``bg`` is materialized
    # once (lazy localCheckpoint) -- without it the bigram-count branch
    # (bgc) re-ran the whole scan -> doc_id exchange -> bigram explode a
    # second time (Catalyst has no common-subplan reuse, docs/SCALE.md
    # SS5b): three corpus passes per execution where two suffice (the
    # unigram explode is a genuinely different pass and keeps its own).
    docs = table(spark, sf_dir, "documents", split="doc_id")
    bg = docs.select(
        "doc_id", F.explode(_bigrams_col(F.col("text"))).alias("bg")
    ).transform(materialize_once)
    uni = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("double").alias("c1"))
    )
    bgc = bg.groupBy("bg").agg(F.count("*").cast("double").alias("c2"))
    # weight table is VOCAB-sized: fold the unigram join and the log
    # quantization into it once, so the corpus-sized bg stream joins a
    # single precomputed (bg -> weight) table instead of two count tables
    w1 = F.split(F.col("bg"), " ").getItem(0)
    weights = bgc.join(F.broadcast(uni), w1 == F.col("tok")).select(
        "bg",
        F.floor(F.log(F.col("c2") / F.col("c1")) * 1e6)
        .cast("long")
        .alias("lp_u"),
    )
    scored = bg.join(F.broadcast(weights), "bg").select("doc_id", "lp_u")
    return scored.groupBy("doc_id").agg(
        (F.sum("lp_u").cast("double") / 1e6 / F.count("*")).alias(
            "avg_logprob"
        ),
        F.count("*").alias("n_bigrams"),
    )


_SQL_QUALITY_SUBQ = f"""
      SELECT doc_id, source, {TX.SQL_QUALITY_SCORE.format(text='text')} AS quality
      FROM (
        SELECT doc_id, source,
               CAST({TX.SQL_TOKEN_COUNT.format(text='text')} AS DOUBLE) AS n_tok,
               CAST({TX.SQL_STOPWORD_COUNT.format(text='text')} AS DOUBLE) AS n_stop,
               text
        FROM documents)
"""


@query(
    "q_quality_ecdf",
    oracle=f"""
    WITH q AS ({_SQL_QUALITY_SUBQ}),
    d AS (
      SELECT source, quality, COUNT(*) AS c FROM q GROUP BY source, quality),
    e AS (
      SELECT source, quality,
             CAST(SUM(c) OVER (PARTITION BY source ORDER BY quality)
                  AS DOUBLE)
               / SUM(c) OVER (PARTITION BY source) AS ecdf
      FROM d)
    SELECT q.doc_id, q.source, q.quality, e.ecdf
    FROM q JOIN e USING (source, quality)
    """,
)
def q_quality_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-score calibration: each doc's quality mapped to
    its empirical CDF position WITHIN its source -- the cross-domain
    normalization step before a single keep-threshold can be applied to a
    multi-source mix (a raw score cut keeps different fractions of web
    crawl vs curated text; the ECDF cut keeps the same fraction of each).

    Scale shape: deliberately NOT a per-source ``percent_rank`` over the
    raw rows (that is the q_ntile single-task trap, one fat partition per
    source).  Instead the plan aggregates to one row per DISTINCT
    (source, quality) first -- map-side combined, duplicate-factor
    smaller -- runs the cumulative window over that compacted table, and
    broadcast-joins the resulting step function back to the doc stream.
    Ties share one ECDF value (a true right-continuous CDF), so no row
    tie-break is needed and the output is deterministic.  At 100 TB the
    production variant swaps the exact distinct-value table for fixed
    quantile cut points (the q_quantile_bucket sketch path) -- same join
    shape, constant-size calibration table."""
    docs = table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id", "source", TX.quality_score(F.col("text")).alias("quality")
    )
    d = q.groupBy("source", "quality").agg(F.count("*").alias("c"))
    w_cum = Window.partitionBy("source").orderBy("quality")
    w_all = Window.partitionBy("source")
    e = d.select(
        "source",
        "quality",
        (
            F.sum("c").over(w_cum).cast("double") / F.sum("c").over(w_all)
        ).alias("ecdf"),
    )
    return q.join(F.broadcast(e), ["source", "quality"]).select(
        "doc_id", "source", "quality", "ecdf"
    )


@query(
    "q_entropy_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    c AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok),
    s AS (
      SELECT doc_id,
             SUM(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1e6)
                      AS BIGINT)) AS s_int,
             SUM(c) AS n,
             COUNT(*) AS n_distinct
      FROM c GROUP BY doc_id)
    SELECT doc_id,
           (CAST(CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS DOUBLE)
              / 1e6
            - CAST(s_int AS DOUBLE) / 1e6 / n) / 0.6931471805599453
             AS entropy_bits,
           n_distinct
    FROM s
    """,
)
def q_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-unigram Shannon entropy per document (bits) -- the lexical
    diversity gate: near-zero entropy is repeated boilerplate, unusually
    high entropy is random-token noise; both tails get dropped from
    training mixes.  H = log2(n) - (1/n) * sum(c * ln c) / ln 2 over the
    per-doc token counts.

    Scale shape: explode -> (doc, token) counts partial-aggregate
    map-side, then a second (doc)-keyed aggregate -- per-doc state is one
    int64 accumulator, never a token list.  Determinism: each c*ln(c)
    term is floor-quantized to integer micro-units before the SUM (the
    q_lm_score treatment), so the sum is exact and order-independent;
    ln(n) is quantized the same way and the remaining double ops are
    written identically on both engines."""
    docs = table(spark, sf_dir, "documents", split=True)
    counts = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    cd = F.col("c").cast("double")
    per_doc = counts.groupBy("doc_id").agg(
        F.sum(F.floor(cd * F.log(cd) * F.lit(1e6)).cast("long")).alias(
            "s_int"
        ),
        F.sum("c").alias("n"),
        F.count("*").alias("n_distinct"),
    )
    ln_n = F.floor(F.log(F.col("n").cast("double")) * F.lit(1e6)).cast(
        "long"
    )
    return per_doc.select(
        "doc_id",
        (
            (
                ln_n.cast("double") / F.lit(1e6)
                - F.col("s_int").cast("double") / F.lit(1e6) / F.col("n")
            )
            / F.lit(0.6931471805599453)
        ).alias("entropy_bits"),
        "n_distinct",
    )


@query(
    "q_bpe_pairs",
    oracle="""
    WITH w AS (
      SELECT w FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE length(w) >= 2),
    p AS (
      SELECT substr(w, CAST(i.i AS INTEGER), 2) AS pair
      FROM w, LATERAL (SELECT unnest(generate_series(1, length(w) - 1))
                       AS i) i)
    SELECT pair, COUNT(*) AS c
    FROM p GROUP BY pair ORDER BY c DESC, pair LIMIT 100
    """,
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE tokenizer-training inner step: corpus-wide counts of
    adjacent symbol pairs within words (symbols = characters here, i.e.
    the first merge round), top-100 by frequency -- the statistic a BPE
    trainer computes to pick each merge.

    Scale shape: two explodes (words, then in-word positions) feed ONE
    hash aggregate whose map-side partials carry a row per distinct pair
    (bounded by charset^2), so the shuffle is alphabet-sized regardless
    of corpus size; the top-k is TakeOrderedAndProject with the pair as
    tie-break.  Iterating merges re-runs this plan on re-segmented
    symbols -- each round is the same alphabet-bounded shuffle."""
    docs = table(spark, sf_dir, "documents", split=True)
    words = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "pair")
        .limit(100)
    )


_LEXICON: tuple[str, ...] = ("join", "scan", "merge", "filter", "vector")


@query(
    "q_lexicon_hits",
    oracle=f"""
    WITH lex(term) AS (
      VALUES {", ".join(f"('{t}')" for t in _LEXICON)}),
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents)
    SELECT doc_id, COUNT(*) AS n_hits, COUNT(DISTINCT term) AS n_terms
    FROM tok JOIN lex USING (term) GROUP BY doc_id
    """,
)
def q_lexicon_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist / lexicon hit counting via a broadcast token join: total
    hits and distinct terms hit per document -- the safety-filter shape
    (profanity/spam lexicons) for term lists far too large for the regex
    alternation that q_text_stats uses (a codegen'd alternation stops
    scaling around hundreds of terms; a broadcast hash join handles
    100k-term blocklists at scan speed).  Docs with zero hits are absent
    from the output by construction (inner join) -- the caller left-joins
    back if it needs explicit zeros.

    Scale shape: explode -> broadcast semi-shaped join on the token ->
    (doc, term) counts -> per-doc rollup.  Two sequential hash aggs
    (both map-side combined, the second bounded by lexicon size per doc)
    instead of one count-distinct agg -- COUNT(DISTINCT) plans an Expand
    that doubles the exploded token stream, the dominant cost at corpus
    scale.  The lexicon is dimension-sized and never shuffles the
    corpus."""
    docs = table(spark, sf_dir, "documents", split=True)
    lex = spark.createDataFrame([(t,) for t in _LEXICON], "term string")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    per_term = (
        toks.join(F.broadcast(lex), "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("c"))
    )
    return per_term.groupBy("doc_id").agg(
        F.sum("c").alias("n_hits"), F.count("*").alias("n_terms")
    )


@query(
    "q_train_split",
    oracle="""
    SELECT doc_id, source,
           CASE WHEN b < 90 THEN 'train'
                WHEN b < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, source,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 100 AS b
      FROM documents)
    """,
)
def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5) from a content
    hash of the document id -- the split every training pipeline needs to
    be reproducible across engines, runs, AND repartitionings (a
    ``randomSplit`` is none of those).  Pure map-side projection, zero
    shuffle; held-out membership can be re-derived bit-identically by any
    engine that can compute md5."""
    from mqtt_message_pump_spark.operators.dedup import md5_hash32

    docs = table(spark, sf_dir, "documents")
    b = md5_hash32(F.col("doc_id").cast("string")) % 100
    return docs.select(
        "doc_id",
        "source",
        F.when(b < 90, "train").when(b < 95, "val").otherwise("test").alias(
            "split"
        ),
    )


_PMI_MIN_COUNT = 5
_PMI_TOPK = 50


@query(
    "q_bigram_pmi",
    oracle=f"""
    WITH bg AS (
      SELECT unnest({_SQL_BIGRAMS}) AS bg FROM documents),
    uni AS (
      SELECT tok, COUNT(*) AS c1
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok),
    bgc AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
    n1 AS (SELECT CAST(SUM(c1) AS DOUBLE) AS n1 FROM uni),
    n2 AS (SELECT CAST(SUM(c2) AS DOUBLE) AS n2 FROM bgc)
    SELECT bg, c2,
           CAST(CAST(floor(ln(
                 (CAST(c2 AS DOUBLE) / n2)
                 / ((CAST(a.c1 AS DOUBLE) / n1)
                    * (CAST(b.c1 AS DOUBLE) / n1))) * 1e6) AS BIGINT)
                AS DOUBLE) / 1e6 AS pmi
    FROM bgc
    JOIN uni a ON a.tok = string_split(bg, ' ')[1]
    JOIN uni b ON b.tok = string_split(bg, ' ')[2]
    CROSS JOIN n1 CROSS JOIN n2
    WHERE c2 >= {_PMI_MIN_COUNT}
    ORDER BY pmi DESC, bg LIMIT {_PMI_TOPK}
    """,
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: top bigrams by pointwise mutual
    information, PMI = ln(P(ab) / (P(a)P(b))), with a min-count floor --
    the phrase-mining pass that finds multi-word units worth treating as
    single tokens.

    Scale shape: unigram and bigram count tables partial-aggregate
    map-side (one row per distinct n-gram); the vocab-sized unigram table
    broadcasts onto the bigram counts twice (left and right word), the
    corpus totals are 1-row broadcasts, and the top-k is
    TakeOrderedAndProject.  Determinism: probabilities are computed as an
    identical double-op sequence on both engines (ratio-of-ratios, no
    int64 product overflow at any SF), ln is floor-quantized to
    micro-units (the q_lm_score treatment), and the rank tie-breaks on
    the bigram."""
    # r16 (guide SS1.2/SS5, the q_source_kl idiom): the vocab-sized count
    # tables are materialized once (lazy localCheckpoint) -- uni is
    # consumed THREE times (n1 total, left word, right word) and bgc
    # twice (n2 total, scored stream); un-materialized, each reference
    # re-ran its full corpus explode (Catalyst has no common-subplan
    # reuse, docs/SCALE.md SS5b): five corpus passes where two suffice.
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    uni = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c1"))
        .transform(materialize_once)
    )
    bg = docs.select(F.explode(_bigrams_col(F.col("text"))).alias("bg"))
    bgc = (
        bg.groupBy("bg")
        .agg(F.count("*").alias("c2"))
        .transform(materialize_once)
    )
    n1 = uni.agg(F.sum("c1").cast("double").alias("n1"))
    n2 = bgc.agg(F.sum("c2").cast("double").alias("n2"))
    a = uni.select(F.col("tok").alias("tok_a"), F.col("c1").alias("c1a"))
    b = uni.select(F.col("tok").alias("tok_b"), F.col("c1").alias("c1b"))
    ratio = (F.col("c2").cast("double") / F.col("n2")) / (
        (F.col("c1a").cast("double") / F.col("n1"))
        * (F.col("c1b").cast("double") / F.col("n1"))
    )
    pmi = F.floor(F.log(ratio) * F.lit(1e6)).cast("long").cast(
        "double"
    ) / F.lit(1e6)
    return (
        bgc.filter(F.col("c2") >= _PMI_MIN_COUNT)
        .join(
            F.broadcast(a),
            F.split(F.col("bg"), " ").getItem(0) == F.col("tok_a"),
        )
        .join(
            F.broadcast(b),
            F.split(F.col("bg"), " ").getItem(1) == F.col("tok_b"),
        )
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select("bg", "c2", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "bg")
        .limit(_PMI_TOPK)
    )


@query(
    "q_boiler_strip",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    seg AS (
      SELECT doc_id, CAST((s.s - 1) / 3 AS BIGINT) AS idx,
             array_to_string(t[s.s : s.s + 2], ' ') AS seg
      FROM tok,
           LATERAL (SELECT unnest(generate_series(1, len(t), 3)) AS s) s),
    boiler AS (
      SELECT seg
      FROM (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM seg GROUP BY seg)
      WHERE df >= 3),
    clean AS (
      SELECT doc_id, COUNT(*) AS n_clean,
             string_agg(seg, ' ' ORDER BY idx) AS clean_text
      FROM seg WHERE seg NOT IN (SELECT seg FROM boiler)
      GROUP BY doc_id),
    tot AS (SELECT doc_id, COUNT(*) AS n_seg FROM seg GROUP BY doc_id)
    SELECT t.doc_id, t.n_seg,
           t.n_seg - COALESCE(c.n_clean, 0) AS n_boiler,
           COALESCE(c.clean_text, '') AS clean_text
    FROM tot t LEFT JOIN clean c ON t.doc_id = c.doc_id
    """,
)
def q_boiler_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (the CCNet / RefinedWeb cleaning
    step, re-expressed over token segments since the fixture text has no
    newlines): split each doc into consecutive 3-token segments, count
    each distinct segment's document frequency across the corpus, drop
    every occurrence of segments shared by >= 3 docs (site templates,
    navigation chrome), and re-assemble the cleaned text in original
    segment order.

    Scale shape: segmentation is pure codegen array expressions; the df
    count shuffles one row per (segment) with map-side partial combines;
    the boilerplate set (high-df segments only) is far smaller than the
    corpus, so the removal anti-join broadcasts under AQE; re-assembly
    sorts a per-doc struct array whose size is bounded by the doc itself.
    No unbounded state anywhere -- the exact segment-df treatment of the
    decontam/`max_df` family.

    r15 (guide SS2.4): the split is now HASH on doc_id, so the
    distinct-(seg, doc) phase of the df count (clustering on a superset
    of the partition key), the per-doc re-assembly aggregation, and the
    final totals join all reuse the one up-front exchange -- before,
    the countDistinct pre-dedup and the collect_list aggregation each
    re-shuffled the segment stream.  The boilerplate set is explicitly
    broadcast (far smaller than the corpus by construction).

    r16: a ``materialize_once`` checkpoint of ``seg`` was tried here (the
    bm25/lm_score treatment) and REVERTED after interleaved A/B: unlike
    the narrow per-doc count/signature frames that idiom is for, ``seg``
    is the corpus-sized exploded segment STREAM -- materializing it costs
    more than the map-side recomputation it saves (sf0.1: 1.45 vs 1.34 s
    min-of-5; 10x data: 2.59 vs 2.25 s min-of-4, checkpointed slower in
    every rep pair).  SCALE.md SS5b says materialize SMALL frames; the
    per-doc totals therefore stay map-only off the token count (no third
    segmentation pass) and the segment subtree is recomputed per branch
    off the shared doc_id exchange."""
    docs = table(spark, sf_dir, "documents", split="doc_id")
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    seg = (
        toks.select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(F.lit(1), F.size("t"), F.lit(3))
            ).alias("s"),
        )
        .select(
            "doc_id",
            ((F.col("s") - 1) / 3).cast("bigint").alias("idx"),
            F.array_join(F.slice(F.col("t"), F.col("s"), 3), " ").alias(
                "seg"
            ),
        )
    )
    boiler = (
        seg.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 3)
        .select("seg")
    )
    clean = (
        seg.join(F.broadcast(boiler), "seg", "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_clean"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "seg"))),
                    lambda x: x["seg"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    # totals come map-only from the token count (ceil(n/3) segments per
    # doc) -- no third re-segmentation/explode branch of the corpus.
    # Precondition: documents.text is non-NULL.  size(NULL) is NULL, so a
    # NULL-text doc would surface here with n_seg NULL, where the explode
    # path and the DuckDB oracle drop it; tests/test_fixture_guards.py
    # enforces non-NULL text on every fixture scale.
    tot = toks.select(
        "doc_id", F.ceil(F.size("t") / 3).cast("bigint").alias("n_seg")
    )
    return tot.join(clean, "doc_id", "left").select(
        "doc_id",
        "n_seg",
        (F.col("n_seg") - F.coalesce(F.col("n_clean"), F.lit(0))).alias(
            "n_boiler"
        ),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


@query(
    "q_name_matches",
    oracle="""
    WITH names AS (
      SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY p_name),
    e AS (SELECT p_name, unnest(string_split(p_name, ' ')) AS tok
          FROM names),
    cand AS (
      SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b
      FROM e a JOIN e b ON a.tok = b.tok AND a.p_name < b.p_name)
    SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist,
           na.n_parts AS parts_a, nb.n_parts AS parts_b
    FROM cand
    JOIN names na ON na.p_name = name_a
    JOIN names nb ON nb.p_name = name_b
    WHERE levenshtein(name_a, name_b) <= 2
    ORDER BY name_a, name_b
    """,
)
def q_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance similarity join (entity resolution /
    near-duplicate attribute matching): find part-name pairs within
    Levenshtein distance 2, generating candidates by shared-token
    blocking -- the standard record-linkage trick that replaces the
    quadratic all-pairs comparison with per-block joins.

    Scale shape: names first compact to DISTINCT values with counts (the
    attribute vocabulary is orders of magnitude smaller than the row
    count and bounded by language, not SF -- the same dedup-before-
    compare move as q_cross_dedup); blocking keys explode from the tiny
    distinct frame; the pair join runs per token block, never across the
    corpus; levenshtein evaluates only on candidates.  Both engines
    implement classic Levenshtein, so the integer distance compares
    exactly."""
    part = table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count("*").alias("n_parts"))
    e = names.select(
        "p_name", F.explode(F.split("p_name", " ")).alias("tok")
    )
    a, b = e.alias("a"), e.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
        )
        .distinct()
    )
    na = names.select(
        F.col("p_name").alias("name_a"), F.col("n_parts").alias("parts_a")
    )
    nb = names.select(
        F.col("p_name").alias("name_b"), F.col("n_parts").alias("parts_b")
    )
    return (
        cand.withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("bigint")
        )
        .filter(F.col("dist") <= 2)
        .join(na, "name_a")
        .join(nb, "name_b")
        .select("name_a", "name_b", "dist", "parts_a", "parts_b")
        .orderBy("name_a", "name_b")
    )


@query(
    "q_weighted_sample",
    oracle="""
    WITH pri AS (
      SELECT doc_id, source, n_chars,
             CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) AS DOUBLE) / n_chars AS priority
      FROM documents),
    r AS (SELECT *, ROW_NUMBER() OVER
            (PARTITION BY source ORDER BY priority, doc_id) AS rn
          FROM pri)
    SELECT doc_id, source, n_chars, priority
    FROM r WHERE rn <= 10
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (sequential
    Poisson sampling, Ohlsson 1998): per source, keep the k=10 docs with
    the smallest priority u/w, where u is the md5-derived 32-bit content
    hash (the q_sample_hash uniform) and the weight w is document length
    -- longer docs draw proportionally more often, the standard
    length-weighted corpus subsampling step.

    Scale shape: priority is one IEEE division per row (hash/int ->
    double, bit-identical across engines); the per-source top-k is a
    rank-filtered window that Spark 4 rewrites to WindowGroupLimit --
    each partition keeps only its k best rows before the shuffle, so the
    exchange carries k rows per (source, input partition), never the
    corpus.  No transcendental functions: the classic exp(ln(u)/w) key
    would differ across libm implementations; u/w preserves the same
    inclusion ordering for integer weights with none of that risk."""
    docs = table(spark, sf_dir, "documents")
    pri = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (
            DD.md5_hash32(F.col("doc_id").cast("string")).cast("double")
            / F.col("n_chars")
        ).alias("priority"),
    )
    w = Window.partitionBy("source").orderBy("priority", "doc_id")
    return (
        pri.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "source", "n_chars", "priority")
    )


@query(
    "q_source_kl",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    cst AS (
      SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok),
    ct AS (SELECT tok, SUM(c) AS ct FROM cst GROUP BY tok),
    per AS (
      SELECT source,
             SUM(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                            * 1e6) AS BIGINT)) AS a_int,
             SUM(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(ct AS DOUBLE))
                            * 1e6) AS BIGINT)) AS b_int,
             SUM(c) AS n_s
      FROM cst JOIN ct USING (tok) GROUP BY source),
    tot AS (SELECT SUM(n_s) AS n FROM per)
    SELECT source, CAST(n_s AS BIGINT) AS n_tokens,
           ((CAST(a_int AS DOUBLE) - CAST(b_int AS DOUBLE)) / 1e6 / n_s
            - CAST(CAST(floor(ln(CAST(n_s AS DOUBLE)) * 1e6) AS BIGINT)
                   AS DOUBLE) / 1e6
            + CAST(CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
                   AS DOUBLE) / 1e6)
           / 0.6931471805599453 AS kl_bits
    FROM per, tot
    """,
)
def q_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence of token distributions vs the whole
    corpus (bits) -- the distribution-drift monitor for training mixes: a
    source whose unigram distribution diverges sharply from the corpus
    signals contamination, a scraper gone wrong, or a domain shift worth
    rebalancing.  KL(P_s || P) decomposes into exact integer-weighted
    sums: (1/n_s) * [sum c*ln(c) - sum c*ln(c_t)] - ln(n_s) + ln(n).

    Scale shape: one corpus explode -> (source, token) counts with
    map-side combine; corpus token totals derive from that compacted
    vocabulary-sized frame (localCheckpoint, no second corpus scan);
    the per-token join is vocabulary-sized (AQE broadcasts); per-source
    state is two int64 accumulators.  Determinism: every c*ln term is
    floor-quantized to integer micro-units before summing (the
    q_entropy_score treatment), the scalar ln's likewise, and the final
    double expression is written identically on both engines.

    Residual cross-engine risk (documented, accepted): Spark's Math.log
    and DuckDB's libm ln may differ by 1 ulp, so when some
    c*ln(c)*1e6 lands within an ulp of an integer the floor could flip
    between engines for that term.  No fixture value sits on such a
    boundary (both-SF sweeps pass), and a flip would shift kl_bits by
    1e-6/n_s -- far below any consumer's tolerance -- but the hash-match
    oracle would see it; if that ever fires at a new SF, coarsen the
    quantum (1e4) and add a guard band rather than chasing libm."""
    docs = table(spark, sf_dir, "documents", split=True)
    cst = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    ct = cst.groupBy("tok").agg(F.sum("c").alias("ct"))
    cd = F.col("c").cast("double")
    per = (
        cst.join(ct, "tok")
        .groupBy("source")
        .agg(
            F.sum(
                F.floor(cd * F.log(cd) * F.lit(1e6)).cast("long")
            ).alias("a_int"),
            F.sum(
                F.floor(
                    cd * F.log(F.col("ct").cast("double")) * F.lit(1e6)
                ).cast("long")
            ).alias("b_int"),
            F.sum("c").alias("n_s"),
        )
        .localCheckpoint(eager=False)
    )
    tot = per.agg(F.sum("n_s").alias("n"))
    qln = lambda col: F.floor(
        F.log(col.cast("double")) * F.lit(1e6)
    ).cast("long").cast("double") / F.lit(1e6)
    return per.join(F.broadcast(tot)).select(
        "source",
        F.col("n_s").alias("n_tokens"),
        (
            (
                (F.col("a_int").cast("double") - F.col("b_int").cast("double"))
                / F.lit(1e6)
                / F.col("n_s")
                - qln(F.col("n_s"))
                + qln(F.col("n"))
            )
            / F.lit(0.6931471805599453)
        ).alias("kl_bits"),
    )
