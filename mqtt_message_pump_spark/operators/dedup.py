"""Deduplication operators for large-scale training-data pipelines.

All of these are additive scope over the reference (SURVEY.md SS2.8) and
are designed shuffle-light for 100 TB:

- exact dedup: one hash aggregation on the dedup key (map-side combine);
  at scale the key is a digest, never the full document text.
- MinHash + LSH: per-row signature computation is a narrow map (array
  expressions, no UDF); banding turns the quadratic all-pairs problem into
  a groupBy on band buckets, so the only shuffle is on (band, bucket-hash)
  and candidate verification touches only co-bucketed pairs.
- SimHash: 64-bit signature via bit-vote aggregation; near-dup = small
  Hamming distance, banded the same way.
- n-gram Jaccard: verification metric for candidate pairs (array
  intersection over distinct shingles).
- embedding cosine near-dup: LSH over random hyperplane sign bits, exact
  cosine verification within buckets.

Two hash families are provided: ``xxhash64`` (JVM built-in, the fast
production path) and an md5-derived 32-bit hash that DuckDB reproduces
bit-for-bit (the oracle-checkable path used by the registered queries).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Mersenne prime 2^31-1: the classic universal-hash modulus; coefficients
# below are small odd constants so both engines compute identical int64 math.
MINHASH_PRIME = 2147483647
# doubled-edge count up to which connected_components resolves labels by
# a union-find on the driver instead of distributed propagation rounds
DRIVER_THRESHOLD_EDGES = 500_000


def md5_hash32(col: Column) -> Column:
    """Deterministic 32-bit hash reproducible in DuckDB as
    ``CAST('0x' || substring(md5(x), 1, 8) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def tokens_col(text: Column) -> Column:
    return F.split(text, " ")


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a space-tokenized text column.
    Pure array expressions -> whole-stage codegen, no UDF."""
    toks = tokens_col(text)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 3,
    hash32: bool = True,
) -> DataFrame:
    """MinHash signatures ``(id, mh_0..mh_{k-1})``: for each hash function
    i, min over the document's distinct shingles of ``(a_i*h + b_i) mod p``.

    Shape: shingles are EXPLODED to rows, digested once each, then the k
    mins are plain codegen'd MIN aggregates.  An earlier version computed
    the mins as ``array_min(transform(...))`` higher-order functions --
    semantically identical, but HOF lambdas are CodegenFallback (evaluated
    interpretively per element, outside whole-stage codegen), and profiling
    showed hundreds of CPU-seconds with run-to-run JIT deopt swings on a
    5k-doc input.  The explode shape keeps the whole pipeline inside
    codegen, and partial aggregation collapses each doc's shingles map-side
    (a doc's exploded rows never leave its scan partition), so the shuffle
    carries ONE row per document -- at 100 TB the signature stage is a
    narrow map + per-doc combine, never a shingle-wide shuffle.

    A doc with NULL text keeps one NULL-hash row (``explode_outer``), so it
    survives with NULL signatures -- same semantics as the array version.
    """
    # r15: SQL-string construction (one parse per expression) -- the
    # Column-by-Column form cost ~100 py4j round trips per build for the
    # identical tree (see simhash_signatures).
    sh_expr = (
        f"array_distinct(transform("
        f"sequence(1, greatest(size(split(`{text_col}`, ' ')) "
        f"- {shingle_n - 1}, 1)), "
        f"i -> array_join(slice(split(`{text_col}`, ' '), i, {shingle_n}), "
        f"' ')))"
    )
    hexpr = (
        "CAST(conv(substring(md5(__sh), 1, 8), 16, 10) AS BIGINT)"
        if hash32
        else "xxhash64(__sh)"
    )
    hashed = df.selectExpr(
        f"`{id_col}`", f"explode_outer({sh_expr}) AS __sh"
    ).selectExpr(f"`{id_col}`", f"{hexpr} AS __h")
    aggs = []
    for i in range(num_hashes):
        a, b = 2 * i + 1, 1000003 * (i + 1)
        aggs.append(
            F.expr(
                f"min(((__h * {a}) + {b}) % {MINHASH_PRIME}) AS mh_{i}"
            )
        )
    return hashed.groupBy(id_col).agg(*aggs)


def _cap_buckets(
    buckets: DataFrame, max_bucket_size: int | None
) -> DataFrame:
    """Drop (band, bucket) groups larger than ``max_bucket_size`` BEFORE
    any ``collect_list`` touches them.

    Filtering on ``size(ids)`` after the collect would materialize the
    hot bucket's full id list in one aggregation buffer first -- the OOM
    the cap exists to prevent.  Counting is a constant-state partial
    aggregate, and the survivor join shares the (band, bucket) shuffle
    key with the downstream group-by, so the cap costs one bounded count
    pass, not a second corpus shuffle key."""
    if max_bucket_size is None:
        return buckets
    ok = (
        buckets.groupBy("band", "bucket")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") <= max_bucket_size)
        .select("band", "bucket")
    )
    return buckets.join(ok, ["band", "bucket"])


def minhash_band_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    hash32: bool = True,
) -> DataFrame:
    """(id, band, bucket) rows of the MinHash-LSH banding: signatures in
    one scan, one row per (doc, band).  Shared by the all-pairs generator
    (`minhash_candidate_pairs`) and the incremental probe (new batch vs
    existing index), so both sides of any dedup flow band identically."""
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands "
            f"({bands}); trailing hash columns would be silently dropped, "
            "weakening the banding guarantee"
        )
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, hash32
    )
    rows = num_hashes // bands
    band_cols = [
        F.concat_ws(
            "_",
            *[F.col(f"mh_{b * rows + r}").cast("string") for r in range(rows)],
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col), F.posexplode(F.array(*band_cols)).alias("band", "bucket")
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    hash32: bool = True,
    max_bucket_size: int | None = None,
    distinct: bool = True,
) -> DataFrame:
    """Distinct candidate near-dup pairs (id_a < id_b) from MinHash LSH.

    Shape chosen for scale: signatures are computed in ONE scan, buckets
    flattened with posexplode, then pairs are generated by grouping ids
    per (band, bucket) and double-exploding the (small) id list -- one
    shuffle total, no self-join (a bucketed self-join re-evaluates the
    signature subplan on both sides; at 100 TB that's the whole corpus
    hashed twice).  ``max_bucket_size`` drops degenerate buckets (boiler-
    plate shingles shared by thousands of docs) whose pair blowup is
    quadratic -- standard practice in web-scale dedup; None keeps all.

    ``distinct=False`` skips the final dedup exchange and may emit the
    same pair once per shared band (at most ``bands`` copies).  r15 used
    it for connected components (multiplicity-insensitive); r16 measured
    the reverse on data-bound input: CC re-joins the full edge list every
    propagation round, so the ~bands-fold multiplicity taxes d rounds
    while the dedup costs ONE exchange (10x interleaved A/B 11.8 vs
    14.25 s, sf0.1 neutral).  Reserve ``distinct=False`` for one-pass
    multiplicity-insensitive consumers.
    """
    buckets = _cap_buckets(
        minhash_band_buckets(
            df, id_col, text_col, num_hashes, bands, shingle_n, hash32
        ),
        max_bucket_size,
    )
    grouped = (
        buckets.groupBy("band", "bucket")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = (
        grouped.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    return pairs.distinct() if distinct else pairs


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: |A∩B| / |A∪B| over
    distinct shingles.  Joins shingle arrays to the (small) pair list."""
    sh = df.select(
        F.col(id_col), shingles_col(F.col(text_col), shingle_n).alias("sh")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    hash32: bool = True,
) -> DataFrame:
    """SimHash signatures ``(id, simhash)``: per bit, tokens vote +1/-1
    with that bit of their hash; the signature bit is 1 when the vote sum
    is positive.

    Same explode + codegen'd-aggregate shape as
    :func:`minhash_signatures` (the per-bit votes are plain SUM
    aggregates, not HOF folds -- HOF lambdas are CodegenFallback and
    interpreted per element).  Duplicate tokens vote repeatedly, as in the
    classic SimHash formulation; partial aggregation collapses each doc
    map-side, so the shuffle carries one row per document.  NULL text
    yields NULL votes -> all ``when`` branches false -> simhash 0, same
    as the array version.
    """
    # r15: the vote/signature trees are built as SQL STRINGS (one JVM
    # parse each) instead of per-operator Column calls -- the old form
    # cost ~200 py4j round trips per build (~0.5 s of driver latency on
    # this host) for the identical expressions.  Guide SS5: the driver
    # should do almost no work; that includes query CONSTRUCTION.
    hexpr = (
        "CAST(conv(substring(md5(__t), 1, 8), 16, 10) AS BIGINT)"
        if hash32
        else "xxhash64(__t)"
    )
    hashed = df.selectExpr(
        f"`{id_col}`", f"explode_outer(split(`{text_col}`, ' ')) AS __t"
    ).selectExpr(f"`{id_col}`", f"{hexpr} AS __h")
    votes = hashed.groupBy(id_col).agg(
        *[
            F.expr(f"sum(((shiftright(__h, {b}) & 1) * 2) - 1) AS __v{b}")
            for b in range(bits)
        ]
    )
    sig = " + ".join(
        f"(CASE WHEN __v{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return votes.selectExpr(
        f"`{id_col}`", f"CAST(0 + {sig} AS BIGINT) AS simhash"
    )


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    hash32: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """All near-dup pairs within ``max_hamming`` SimHash bits, via banded
    LSH -- never an all-pairs join.

    The signature is split into ``bands`` equal bit-bands; docs sharing
    any band's value meet in one (band, bucket) group, pairs are generated
    inside groups only, then verified against the FULL signature.  By
    pigeonhole, ``max_hamming < bands`` differing bits leave at least one
    band untouched, so banding finds EVERY pair within the radius: the
    output equals brute force exactly while the shuffle key stays
    (band, bucket).  Signatures ride along in each group's struct list, so
    verification needs no join back to the corpus.  ``max_bucket_size``
    optionally drops degenerate buckets (boilerplate-dominated signature
    regions) at a documented recall cost; ``None`` keeps exactness.
    ``hash32=False`` switches the token hash to xxhash64 for production
    64-bit signatures (no DuckDB twin).
    """
    if max_hamming >= bands:
        raise ValueError(
            "exact recall requires max_hamming < bands "
            f"(got max_hamming={max_hamming}, bands={bands})"
        )
    rows = bits // bands
    mask = (1 << rows) - 1
    sigs = simhash_signatures(df, id_col, text_col, bits, hash32)
    band_vals = [
        F.shiftright(F.col("simhash"), b * rows).bitwiseAND(F.lit(mask))
        for b in range(bands)
    ]
    buckets = sigs.select(
        F.struct(F.col(id_col).alias("id"), F.col("simhash")).alias("ds"),
        F.posexplode(F.array(*band_vals)).alias("band", "bucket"),
    )
    buckets = _cap_buckets(buckets, max_bucket_size)
    grouped = (
        buckets.groupBy("band", "bucket")
        .agg(F.collect_list("ds").alias("ds"))
        .filter(F.size("ds") > 1)
    )
    return (
        grouped.select(F.explode("ds").alias("a"), "ds")
        .select("a", F.explode("ds").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _exact_dup_classes(
    df: DataFrame, id_col: str, text_col: str
) -> "tuple[DataFrame, DataFrame]":
    """Exact-duplicate classes for the collapse-aware pair generators:
    returns ``(classed, classes)`` where ``classed`` is (id, __cls) and
    ``classes`` is (__cls, __rep, __mult, text) with one MIN-id
    representative and the class multiplicity.  ``classes`` is
    materialized once (it feeds the signature scan, the weighted cap,
    and the expansion -- Catalyst has no common-subplan reuse)."""
    classed = df.select(
        F.col(id_col),
        # md5(NULL) = NULL; groupBy keys NULLs together, mirroring how
        # NULL signatures co-bucket in the full graph (near_dup_groups)
        F.md5(F.col(text_col)).alias("__cls"),
        F.col(text_col),
    )
    classes = (
        classed.groupBy("__cls")
        .agg(
            F.min(id_col).alias("__rep"),
            F.count(F.lit(1)).alias("__mult"),
            F.first(text_col).alias(text_col),
        )
        .localCheckpoint(eager=False)
    )
    return classed, classes


def _expand_rep_pairs(
    rep_pairs: DataFrame,
    classed: DataFrame,
    classes: DataFrame,
    id_col: str,
    carry: "list[str]" = (),
) -> DataFrame:
    """Expand representative-level pairs (``rep_a``, ``rep_b``,
    ``rep_a <= rep_b``; equal reps = intra-class) through the exact-dup
    class map into id-level pairs (id_a < id_b), exactly the pairs the
    direct generator emits.  Member lists are built ONLY for reps that
    appear in some pair, and every surviving class has multiplicity <=
    the bucket cap (a heavier class alone exceeds any bucket it is in),
    so each ``collect_list`` is cap-bounded.  No final distinct is
    needed: a cross-class id pair arises from exactly one rep pair
    (classes partition ids) and intra-class pairs are emitted oriented.

    ``rep_pairs`` (consumed three times: both sides of ``used`` and the
    expansion join) and ``members`` (both expansion joins) are
    materialized once -- Catalyst has no common-subplan reuse
    (docs/SCALE.md SS5b), and without this the whole banding subplan
    re-runs per consumer.  Both frames are output-scale-bounded (pair
    count, and used-reps x cap).

    r16: the checkpoints are LAZY (``eager=False``) -- the checkpointed
    RDD still computes exactly once (block-cache semantics) and the
    lineage is truncated identically, but the blocks materialize at the
    first consuming job instead of as separate construction-time jobs.
    Constructing or explaining the plan now schedules nothing, which is
    what the registry-wide audits and plan dumps do 182 times per round
    (guide SS7.2: the eager form also paid the banding pipeline's
    whole-stage-codegen compilation at CONSTRUCTION time, ~30 s cold on
    the widest key)."""
    rep_pairs = rep_pairs.localCheckpoint(eager=False)
    used = (
        rep_pairs.select(F.col("rep_a").alias("__rep"))
        .unionByName(rep_pairs.select(F.col("rep_b").alias("__rep")))
        .distinct()
    )
    cls_map = classes.select(
        F.col("__cls").alias("__cls_r"), "__rep"
    )
    with_rep = (
        classed.select(id_col, "__cls")
        .join(cls_map, F.col("__cls").eqNullSafe(F.col("__cls_r")))
        .select(id_col, "__rep")
    )
    members = (
        with_rep.join(used, "__rep")
        .groupBy("__rep")
        .agg(F.collect_list(id_col).alias("__ids"))
        .localCheckpoint(eager=False)
    )
    carry = list(carry)
    return (
        rep_pairs.join(
            members.select(
                F.col("__rep").alias("rep_a"), F.col("__ids").alias("__ids_a")
            ),
            "rep_a",
        )
        .join(
            members.select(
                F.col("__rep").alias("rep_b"), F.col("__ids").alias("__ids_b")
            ),
            "rep_b",
        )
        .select(
            "rep_a", "rep_b", *carry,
            F.explode("__ids_a").alias("__id_a"), "__ids_b",
        )
        .select(
            "rep_a", "rep_b", *carry,
            "__id_a", F.explode("__ids_b").alias("__id_b"),
        )
        # cross-class (rep_a < rep_b): every member combo appears once,
        # orient with least/greatest; intra-class (rep_a == rep_b): the
        # self cross product double-counts, keep the oriented half
        .filter(
            (F.col("rep_a") < F.col("rep_b"))
            | (F.col("__id_a") < F.col("__id_b"))
        )
        .select(
            F.least("__id_a", "__id_b").alias("id_a"),
            F.greatest("__id_a", "__id_b").alias("id_b"),
            *carry,
        )
    )


def minhash_candidate_pairs_collapsed(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    hash32: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """:func:`minhash_candidate_pairs` with the exact-duplicate
    pre-collapse -- OUTPUT-IDENTICAL (same pairs, same cap semantics),
    cost tracking DISTINCT content instead of row count.

    Why: on dup-heavy corpora the direct generator hashes/buckets every
    duplicate row and the cap pass counts them all -- the r11 1000x
    probe's worst row (72x on a uniformly-duplicated corpus) is pure
    duplicate multiplicity.  Identical text means identical signature
    and identical buckets, so banding needs ONE representative per
    distinct text; the only corpus-sized work left is the narrow md5
    class aggregation (the proven ``near_dup_groups`` pre-collapse).

    Exactness of the cap: the direct cap counts id-level rows per
    (band, bucket); here each rep carries its class multiplicity and
    the cap applies to ``sum(__mult)`` -- the same number, so the same
    buckets survive.  Bucket eligibility is weighted too (``>= 2``
    id-level rows: a singleton class of multiplicity 3 alone in a
    bucket must still emit its intra-class pairs).  Surviving pairs
    expand through the class map, bounded by cap^2 per bucket exactly
    like the direct output."""
    classed, classes = _exact_dup_classes(df, id_col, text_col)
    rep_docs = classes.select(F.col("__rep").alias(id_col), text_col)
    buckets = minhash_band_buckets(
        rep_docs, id_col, text_col, num_hashes, bands, shingle_n, hash32
    )
    wb = buckets.join(
        classes.select(F.col("__rep").alias(id_col), "__mult"), id_col
    )
    ok = wb.groupBy("band", "bucket").agg(F.sum("__mult").alias("__n"))
    ok = ok.filter(F.col("__n") >= 2)
    if max_bucket_size is not None:
        ok = ok.filter(F.col("__n") <= max_bucket_size)
    kept = wb.join(ok.select("band", "bucket"), ["band", "bucket"])
    rep_pairs = (
        kept.groupBy("band", "bucket")
        .agg(F.collect_list(id_col).alias("__reps"))
        .select(F.explode("__reps").alias("rep_a"), "__reps")
        .select("rep_a", F.explode("__reps").alias("rep_b"))
        .filter(F.col("rep_a") <= F.col("rep_b"))
        .distinct()
    )
    return _expand_rep_pairs(rep_pairs, classed, classes, id_col)


def simhash_candidate_pairs_collapsed(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    hash32: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """:func:`simhash_candidate_pairs` with the exact-duplicate
    pre-collapse -- output-identical (pairs + hamming), cost tracking
    distinct content (see :func:`minhash_candidate_pairs_collapsed`;
    identical text implies identical simhash, so intra-class pairs have
    hamming 0 and cross-class hamming equals the representatives')."""
    if max_hamming >= bands:
        raise ValueError(
            "exact recall requires max_hamming < bands "
            f"(got max_hamming={max_hamming}, bands={bands})"
        )
    classed, classes = _exact_dup_classes(df, id_col, text_col)
    rep_docs = classes.select(F.col("__rep").alias(id_col), text_col)
    rows = bits // bands
    mask = (1 << rows) - 1
    sigs = simhash_signatures(rep_docs, id_col, text_col, bits, hash32)
    band_vals = [
        F.shiftright(F.col("simhash"), b * rows).bitwiseAND(F.lit(mask))
        for b in range(bands)
    ]
    buckets = sigs.select(
        F.col(id_col), F.col("simhash"),
        F.posexplode(F.array(*band_vals)).alias("band", "bucket"),
    )
    wb = buckets.join(
        classes.select(F.col("__rep").alias(id_col), "__mult"), id_col
    )
    ok = wb.groupBy("band", "bucket").agg(F.sum("__mult").alias("__n"))
    ok = ok.filter(F.col("__n") >= 2)
    if max_bucket_size is not None:
        ok = ok.filter(F.col("__n") <= max_bucket_size)
    kept = wb.join(ok.select("band", "bucket"), ["band", "bucket"])
    rep_pairs = (
        kept.groupBy("band", "bucket")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col("simhash"))
            ).alias("__ds")
        )
        .select(F.explode("__ds").alias("a"), "__ds")
        .select("a", F.explode("__ds").alias("b"))
        .filter(F.col("a.id") <= F.col("b.id"))
        .select(
            F.col("a.id").alias("rep_a"),
            F.col("b.id").alias("rep_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return _expand_rep_pairs(
        rep_pairs, classed, classes, id_col, carry=["hamming"]
    )


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    bits: int = 16,
    hash32: bool = True,
    id_col: str = "doc_id",
) -> DataFrame:
    """Append a ``simhash`` column to ``df`` (requires a unique ``id_col``):
    computes :func:`simhash_signatures` and joins it back on the id."""
    return df.join(simhash_signatures(df, id_col, text_col, bits, hash32), id_col, "left")


def exact_dedup(
    df: DataFrame, dedup_cols: list[str], id_col: str
) -> DataFrame:
    """Exact dedup keeping the minimum id per duplicate group -- a single
    hash aggregation; deterministic (unlike dropDuplicates' arbitrary
    first-seen row)."""
    return df.groupBy(*dedup_cols).agg(F.min(id_col).alias(id_col))


def _union_find_labels(
    rows, id_type, spark, id_col: str
) -> DataFrame:
    """Exact min-label components of a SMALL edge list via driver-side
    union-find with path halving (see :func:`connected_components` for
    when this is the right call).  ``rows`` is the already-collected edge
    list (direction irrelevant: union-find is symmetric).  Returns
    (id_col, group_id) for every vertex that appears in an edge;
    singletons are absent (the caller's left-join coalesce labels them)."""
    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while parent[r] != r:
            parent[r] = parent[parent[r]]  # path halving
            r = parent[r]
        parent[x] = r
        return r

    for row in rows:
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            parent[rb] = ra
    # min member per root = the cluster label the propagation would reach
    min_of_root: dict = {}
    for v in list(parent):
        r = find(v)
        if r not in min_of_root or v < min_of_root[r]:
            min_of_root[r] = v
    out = [(v, min_of_root[find(v)]) for v in parent]
    schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("group_id", id_type),
        ]
    )
    return spark.createDataFrame(out, schema)


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components by min-label propagation (the dedup-grouping
    step: every doc in a near-dup cluster gets the cluster's minimum id).

    Returns (id_col, group_id).  Pregel-style iteration: each vertex
    starts labeled with its own id; every round, labels flow across edges
    and each vertex keeps the minimum seen.  Converges in O(component
    diameter) rounds -- near-dup clusters are shallow (dups of dups of one
    original), so single-digit rounds in practice.

    Scale design: per round one join (edges vs labels, both keyed on the
    propagation key) + one min-aggregation -- all partial-aggregatable,
    nothing driver-side except the scalar convergence check.
    ``localCheckpoint`` truncates the lineage each round so the plan does
    not grow with iteration count (the classic iterative-DataFrame trap).

    Small-graph fast path (the broadcast-join-threshold analogy): after
    LSH banding the candidate EDGE set is orders of magnitude smaller
    than the corpus -- the quadratic blowup lives in the buckets, and the
    capped candidate generators bound it (``minhash_candidate_pairs``
    ``max_bucket_size``).  When the undirected edge list is at most
    ``DRIVER_THRESHOLD_EDGES // 2`` rows (500k doubled, i.e.
    250k undirected edges -- bounding the driver collect itself, the
    quantity that can OOM), a single-pass union-find on the driver
    replaces O(diameter) scheduled rounds.  r15: the probe is ONE
    bounded ``limit(cap+1).collect()`` of the raw edge list (union-find
    is direction-symmetric, so no doubling) -- previously the doubled
    list was localCheckpointed, counted, and collected as three separate
    jobs; now the single job both sizes the graph and delivers the edges.
    This is NOT a collect of the corpus -- vertices never leave the
    cluster; only the (already materialized) edge list does, under an
    explicit cap, exactly like a broadcast-hash-join side.  Above the
    cap the distributed propagation runs unchanged; a threshold of 0
    forces it.
    """
    # Driver fast path, ONE job (r15): collect the UNDIRECTED edge list
    # directly under a limit of cap+1 rows -- union-find needs no doubled
    # edges (it is symmetric), so the previous
    # localCheckpoint(doubled) + count + collect triple (three scheduled
    # jobs, the doubled list materialized once and collected again)
    # collapses into a single bounded collect of the pair pipeline's
    # output.  The limit caps the driver transfer exactly like the old
    # doubled-edge threshold did (threshold/2 undirected edges == the
    # same cap); if the limit row count exceeds the cap the graph is too
    # big and the distributed propagation below runs unchanged.
    # Gate BEFORE collecting: a threshold of 0 forces the distributed
    # path even for an empty edge list (ADVICE r9).
    cap_undirected = DRIVER_THRESHOLD_EDGES // 2
    if DRIVER_THRESHOLD_EDGES:
        head = (
            edges.select(
                F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
            )
            .limit(cap_undirected + 1)
            .collect()
        )
        if len(head) <= cap_undirected:
            id_type = vertices.schema[id_col].dataType
            resolved = _union_find_labels(
                head, id_type, vertices.sparkSession, id_col
            )
            # r15 (guide SS3.1): resolved is driver-built and bounded by
            # the edge cap (<= 2*cap_undirected rows), but createDataFrame
            # gives the planner no size estimate, so the label join-back
            # planned as SortMergeJoin (2 exchanges + 2 sorts of the
            # vertex stream).  Broadcast is exactly the right strategy
            # for a relation this size at ANY scale.
            return (
                vertices.select(id_col)
                .join(F.broadcast(resolved), id_col, "left")
                .select(
                    id_col,
                    F.coalesce(F.col("group_id"), F.col(id_col)).alias(
                        "group_id"
                    ),
                )
            )

    both = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).unionByName(
        edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
    )
    both = both.localCheckpoint(eager=True)

    # Iterate ONLY over vertices that appear in an edge: everything else is
    # a singleton whose label never moves.  In near-dup graphs the paired
    # subgraph is a small fraction of the corpus, so this shrinks every
    # round's join from |corpus| to |paired docs|; singletons rejoin once
    # at the end.
    labels = (
        both.select(F.col("src").alias("vid"))
        .distinct()
        .select("vid", F.col("vid").alias("label"))
        .localCheckpoint(eager=True)
    )

    # Round-structure notes from profiling (~4.4k edges, sf0.1, local[32]):
    # per-round cost is all fixed job overhead, so two cheaper-looking
    # alternatives were measured and REJECTED:
    # - two propagation hops per materialization round (halves rounds but
    #   doubles per-round plan depth): interleaved A/B min 2.4 s vs 1.38 s
    #   for one-hop -- deeper plans cost more than the saved round;
    # - folding the convergence check into the checkpoint job via
    #   ``observe()``: Observation metrics never fire once
    #   ``localCheckpoint`` is called on the observed frame (pyspark
    #   4.1.2 -- ``Observation.get`` returns None even for an action on
    #   the pre-checkpoint frame), so the check must stay a separate
    #   count.  That count scans the just-checkpointed in-memory
    #   partitions; it is scheduling overhead only.
    converged = False
    for it in range(max_iterations):
        msgs = (
            both.join(labels, both.src == labels.vid)
            .groupBy("dst")
            .agg(F.min("label").alias("cand"))
        )
        updated = labels.join(msgs, labels.vid == msgs.dst, "left").select(
            "vid",
            F.least(
                F.col("label"), F.coalesce(F.col("cand"), F.col("label"))
            ).alias("new_label"),
            F.col("label").alias("old_label"),
        ).localCheckpoint(eager=True)
        labels = updated.select("vid", F.col("new_label").alias("label"))
        # Every vertex in the iterated set has an edge, so round 1 always
        # changes labels (some vertex sees a smaller neighbor) -- skip the
        # convergence count until a round COULD be the last one.  Each
        # skipped check saves one Spark job per iteration.
        if it >= 1:
            changed = updated.filter(
                F.col("new_label") < F.col("old_label")
            ).count()
            if changed == 0:
                converged = True
                break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "iterations (a component has diameter above the cap); raising "
            "rather than returning labels that look like, but are not, the "
            "transitive closure -- retry with a higher max_iterations"
        )
    resolved = labels.select(
        F.col("vid").alias(id_col), F.col("label").alias("group_id")
    )
    return vertices.select(id_col).join(resolved, id_col, "left").select(
        id_col,
        F.coalesce(F.col("group_id"), F.col(id_col)).alias("group_id"),
    )


def near_dup_groups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup clustering ``(id, group_id)`` = connected components over
    the MinHash-LSH candidate graph, with an **exact-duplicate
    pre-collapse** that leaves the output bit-identical while making the
    cost track DISTINCT content instead of row count.

    Why: on dup-heavy corpora (crawl data -- the very data dedup exists
    for) the LSH bucket membership grows with duplicate multiplicity and
    the pair graph with its SQUARE: the 100x probe measured 4,361 ->
    68,360,000 edges (~15,700x) on a 100x-duplicated corpus
    (docs/SCALE.md SS10b).  Every row of an exact-dup class has the SAME
    text, hence the same signature, hence the same buckets -- the class
    contributes a clique of redundant edges that CC then walks.

    Collapse is exactness-preserving, not an approximation:

    - identical text => identical signature => co-bucketed (shingles_col
      yields >=1 shingle for ANY text via the greatest(...,1) floor, and
      NULL signatures group as equal), so an exact-dup class is always
      edge-connected in the full graph => one component with its class;
    - every cross-class edge (a, b) implies the same bucket collision
      for the class representatives (same signatures), so the
      representative graph has the same component structure;
    - each representative is its class's MIN id, so the component min
      over representatives IS the component min over all docs -- the
      same ``group_id`` the uncollapsed run labels.

    Components: hash class key (md5 of text -- narrow shuffle rows, no
    full-text keys), min-id representative per class, pairs + CC over
    representatives only, then one broadcast-friendly join maps every
    doc through its class to the group.
    """
    classed = docs.select(
        F.col(id_col),
        # md5(NULL) = NULL, and groupBy keys NULLs together -- exactly
        # mirroring how NULL signatures co-bucket in the full graph (a
        # sentinel string here could collide with real text)
        F.md5(F.col(text_col)).alias("__cls"),
        F.col(text_col),
    )
    reps = classed.groupBy("__cls").agg(
        F.min(id_col).alias("__rep"),
        # classmates share identical text by construction of the key
        F.first(text_col).alias(text_col),
    )
    # materialize ONCE: reps feeds the signature scan, CC's vertex side,
    # and the final mapping join -- Catalyst has no common-subplan reuse
    # (docs/SCALE.md SS5b), so without this the distinct-content groupBy
    # re-runs per consumer.  Size = distinct content, the fundamental
    # working set of dedup (cluster analog: persist/checkpoint).  r16:
    # eager=False -- the checkpoint blocks compute (once) at the first
    # consuming job instead of as a separate construction-time job, so
    # building or explaining the plan schedules nothing (guide SS7.2:
    # the eager form forced whole-stage-codegen compilation of the
    # banding pipeline during query CONSTRUCTION, ~30 s cold).
    reps = reps.localCheckpoint(eager=False)
    rep_docs = reps.select(F.col("__rep").alias(id_col), text_col)
    pairs = minhash_candidate_pairs(
        rep_docs,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        max_bucket_size=max_bucket_size,
        # distinct=True (r16): CC tolerates duplicate edges, but every
        # propagation round re-joins the full edge list -- one dedup
        # exchange beats a ~bands-fold multiplicity tax on d rounds
        # (10x interleaved A/B: 11.8 vs 14.25 s; sf0.1 neutral)
        distinct=True,
    )
    rep_groups = connected_components(rep_docs, pairs, id_col)
    return (
        classed.select(id_col, "__cls")
        .join(reps.select("__cls", "__rep"), "__cls")
        .join(
            rep_groups.select(
                F.col(id_col).alias("__rep"), "group_id"
            ),
            "__rep",
        )
        .select(id_col, "group_id")
    )


def near_dup_groups_auto(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
    distinct_ratio_threshold: float = 0.8,
    distinct_ratio: float | None = None,
) -> DataFrame:
    """Near-dup clustering with the exact-dup pre-collapse chosen
    AUTOMATICALLY by a cheap dup-ratio estimate -- so dup-heavy corpora
    never pay the direct path's cost (the 100x probe measured 34.3x vs
    1.1x when the caller picks wrong, docs/SCALE.md SS10b) and
    mostly-distinct corpora never pay the collapse's fixed overhead
    (~2 s of pure job cost for zero graph shrinkage).

    The estimate is ONE narrow aggregation --
    ``approx_count_distinct(md5(text)) / count`` -- a single scan with a
    partial-aggregated HLL sketch (no shuffle of data rows, ~2% relative
    error: far inside the decision margin, since real corpora sit at
    ratio ~1.0 or <<0.8, never at the threshold).  Both branches return
    bit-identical labels (the collapse is exactness-preserving, see
    :func:`near_dup_groups`), so the choice is purely a physical-plan
    decision -- the operator-level analog of Catalyst's
    broadcast-vs-shuffle join pick, driven by a runtime statistic the
    optimizer cannot see (duplicate multiplicity of a string column).

    ``distinct_ratio`` skips the estimate scan when the caller already
    knows the corpus shape (e.g. from a profiling pass or a previous
    pipeline stage's DQ report)."""
    if distinct_ratio is None:
        row = docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(F.md5(F.col(text_col))).alias("nd"),
        ).first()
        n, nd = row["n"], row["nd"]
        distinct_ratio = (nd / n) if n else 1.0
    if distinct_ratio < distinct_ratio_threshold:
        return near_dup_groups(
            docs, id_col, text_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            max_bucket_size=max_bucket_size,
        )
    pairs = minhash_candidate_pairs(
        docs, id_col, text_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        max_bucket_size=max_bucket_size,
        distinct=True,  # one dedup exchange < d rounds of duplicate edges (r16)
    )
    return connected_components(docs, pairs, id_col)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: list[list[float]] | None = None,
    max_brute_force_rows: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.  With ``planes`` (random
    hyperplanes) candidates are restricted to rows sharing the sign-bit
    bucket -- the production path.  Without planes the comparison is
    all-pairs O(n^2), so the input is counted first and anything above
    ``max_brute_force_rows`` raises: a silent crossJoin on a production
    corpus would be a cluster-killer, and nothing else in this module
    stops one."""
    from mqtt_message_pump_spark.operators.similarity import cosine_expr, sign_bucket

    v = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    if planes is not None:
        v = v.withColumn("bucket", sign_bucket("v", planes))
        a = v.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), "bucket")
        b = v.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), "bucket")
        pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    else:
        n = v.count()
        if n > max_brute_force_rows:
            raise ValueError(
                f"embedding_near_dup_pairs without planes is all-pairs "
                f"O(n^2); input has {n} rows > max_brute_force_rows="
                f"{max_brute_force_rows}. Pass random hyperplanes (planes=) "
                "for the LSH-bucketed path, or raise the cap explicitly."
            )
        a = v.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"))
        b = v.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    cos = cosine_expr(F.col("va"), F.col("vb"))
    return (
        pairs.select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
