"""Invariant tests for the operators that have no SQL oracle: LSH recall
vs brute force, multimodal plumbing, dedup properties.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mqtt_message_pump_spark.operators import dedup as DD
from mqtt_message_pump_spark.operators import multimodal as MM
from mqtt_message_pump_spark.operators import similarity as SIM
from mqtt_message_pump_spark.plans.registry import table


def test_lsh_topk_recall_vs_brute_force(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SIM.brute_force_topk(queries, emb, k=5)
    approx = SIM.lsh_topk(queries, emb, k=5, num_planes=3)
    exact_pairs = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    approx_pairs = {(r["query_id"], r["cand_id"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # 3 planes -> 8 buckets over 500 vecs; bucketed search must still find
    # a meaningful share of true neighbors (cosine-similar vectors tend to
    # share sign buckets -- that's the point of hyperplane LSH)
    assert recall >= 0.3, f"LSH recall too low: {recall}"


def test_lsh_cosines_are_exact_for_found_pairs(spark, sf_dir):
    """The approximate part is candidate generation only; reported cosines
    must equal the brute-force values."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    queries = emb.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["cand_id"]): r["cosine"]
        for r in SIM.brute_force_topk(queries, emb, k=50).collect()
    }
    approx = SIM.lsh_topk(queries, emb, k=5, num_planes=2).collect()
    for r in approx:
        key = (r["query_id"], r["cand_id"])
        if key in exact:
            assert abs(r["cosine"] - exact[key]) < 1e-9


def test_minhash_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "x y z w v u t s")],
        ["doc_id", "text"],
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_candidate_pairs(df, num_hashes=4, bands=2).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_jaccard_identical_is_one(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    out = DD.jaccard_pairs(df, pairs).collect()
    assert out[0]["jaccard"] == 1.0


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words about spark engines"),
        ],
        ["doc_id", "text"],
    )
    sh = {r["doc_id"]: r["simhash"] for r in DD.with_simhash(df).collect()}
    near = bin(sh[1] ^ sh[2]).count("1")
    far = bin(sh[1] ^ sh[3]).count("1")
    assert near < far


def test_exact_dedup_min_representative(spark):
    df = spark.createDataFrame(
        [(5, "dup"), (2, "dup"), (9, "uniq")], ["doc_id", "text"]
    )
    out = {r["text"]: r["doc_id"] for r in DD.exact_dedup(df, ["text"], "doc_id").collect()}
    assert out == {"dup": 2, "uniq": 9}


def test_embedding_near_dup_lsh_subset_of_exact(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    exact = {
        (r["id_a"], r["id_b"])
        for r in DD.embedding_near_dup_pairs(emb, threshold=0.2).collect()
    }
    planes = SIM.random_planes(2, 64)
    bucketed = {
        (r["id_a"], r["id_b"])
        for r in DD.embedding_near_dup_pairs(
            emb, threshold=0.2, planes=planes
        ).collect()
    }
    assert bucketed <= exact


# ------------------------------------------------------------ multimodal


def test_media_decode_plumbing(spark):
    media = MM.synth_media_df(spark, n=24)
    feats = MM.decode_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 24
    assert all(len(r["feature"]) == MM.FEATURE_DIM for r in rows)
    assert all(r["decoded_ok"] for r in rows)
    # deterministic: same content -> same feature across runs
    again = {r["media_id"]: r["feature"] for r in MM.decode_features(media).collect()}
    first = {r["media_id"]: r["feature"] for r in rows}
    assert first == again


def test_media_metadata_pruning(spark, tmp_path):
    """Metadata-only queries must not read the binary column: the parquet
    scan's ReadSchema excludes `content`."""
    media = MM.synth_media_df(spark, n=12)
    path = str(tmp_path / "media")
    media.write.parquet(path)
    stats = MM.metadata_stats(spark.read.parquet(path))
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan
    by_mod = {r["modality"]: r["n"] for r in stats.collect()}
    assert by_mod == {"image": 4, "audio": 4, "video": 4}


def test_frame_sample(spark):
    media = MM.synth_media_df(spark, n=9)
    frames = MM.frame_sample(media, every_ms=1000)
    rows = frames.collect()
    assert all(r["frame_ms"] % 1000 == 0 for r in rows)
    # videos are ids 2,5,8 with durations 2000,5000*... duration_ms = 1000*(i%5)
    # id 2 -> 2000ms -> frames [0,1000]; id 5 -> 0ms -> [0]; id 8 -> 3000 -> [0,1000,2000]
    per_id = {}
    for r in rows:
        per_id.setdefault(r["media_id"], []).append(r["frame_ms"])
    assert sorted(per_id[2]) == [0, 1000]
    assert sorted(per_id[5]) == [0]
    assert sorted(per_id[8]) == [0, 1000, 2000]


def test_connected_components_known_graph(spark, monkeypatch):
    """Two chains and a singleton: labels must converge to the component
    minimum even across multi-hop paths (1-2, 2-3 => {1,2,3} -> 1) --
    identically on BOTH the driver union-find fast path (small edge
    lists) and the distributed min-label propagation (forced via
    ``DRIVER_THRESHOLD_EDGES = 0``)."""
    vertices = spark.createDataFrame([(i,) for i in range(1, 8)], ["doc_id"])
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (6, 7)], ["id_a", "id_b"]
    )
    want = {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 5}
    for threshold in (500_000, 0):
        monkeypatch.setattr(DD, "DRIVER_THRESHOLD_EDGES", threshold)
        got = {
            r["doc_id"]: r["group_id"]
            for r in DD.connected_components(vertices, edges).collect()
        }
        assert got == want, f"threshold={threshold}"


def test_embedding_near_dup_brute_force_guard(spark, sf_dir):
    """The plane-less all-pairs fallback is O(n^2) and must refuse large
    inputs instead of silently crossJoining a production corpus."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    with pytest.raises(ValueError, match="all-pairs"):
        DD.embedding_near_dup_pairs(emb, max_brute_force_rows=10).collect()


def test_connected_components_unconverged_raises(spark, monkeypatch):
    """A chain longer than max_iterations cannot reach its component
    minimum; returning those labels would silently masquerade as the
    transitive closure, so the operator must raise instead."""
    vertices = spark.createDataFrame([(i,) for i in range(1, 9)], ["doc_id"])
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], ["id_a", "id_b"]
    )
    # force the distributed propagation path: the driver union-find has
    # no iteration cap to hit
    monkeypatch.setattr(DD, "DRIVER_THRESHOLD_EDGES", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.connected_components(vertices, chain, max_iterations=2)


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SIM.brute_force_topk(queries, emb, k=5)
    approx = SIM.ivf_topk(queries, emb, k=5, n_centroids=8, n_probe=3)
    exact_pairs = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    approx_pairs = {(r["query_id"], r["cand_id"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # probing 3 of 8 cells must recover most true neighbors (neighbors
    # concentrate in the query's nearest cells -- that's the point of IVF)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def _exact_l2_topk(spark, queries, corpus, k):
    """Exact Euclidean top-k pairs (test-side reference for PQ, whose ADC
    distance approximates L2 -- comparing vs cosine would conflate metric
    mismatch with quantization error)."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = corpus.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    d2 = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cand_id"))
    return (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", d2.alias("d2"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def test_pq_topk_recall_vs_exact_l2(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = _exact_l2_topk(spark, queries, emb, k=5)
    approx = SIM.pq_topk(queries, emb, k=5, m=8, nbits=4, rerank=8)
    exact_pairs = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    approx_pairs = {(r["query_id"], r["cand_id"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # 8 subspaces x 16 centroids over 64 dims, ADC shortlist of k*8
    # exact-reranked: a true neighbor is only lost when quantization
    # pushes it off the 40-deep shortlist (the standard PQ+rerank regime)
    assert recall >= 0.6, f"PQ recall too low: {recall}"

    # re-ranked distances are EXACT L2 for the pairs both sides found
    exact_d = {
        (r["query_id"], r["cand_id"]): r["d2"] for r in exact.collect()
    }
    for r in approx.collect():
        key = (r["query_id"], r["cand_id"])
        if key in exact_d:
            assert abs(r["pq_dist"] - round(exact_d[key], 6)) < 1e-9


def test_pq_codes_cover_and_bound(spark, sf_dir):
    """Every vector gets exactly one code per subspace, codes lie in
    [0, 2^nbits), and encoding is deterministic across runs (seeded
    k-means + deterministic argmin tie-break)."""
    emb = table(spark, sf_dir, "embeddings")
    books = SIM.pq_train_codebooks(emb, "embedding", m=8, nbits=4)
    codes = SIM.pq_encode(emb, books, "vec_id", "embedding", m=8).collect()
    n_vecs = emb.count()
    assert len(codes) == n_vecs * 8
    seen = {}
    for r in codes:
        assert 0 <= r["code"] < 16
        assert 0 <= r["sub_id"] < 8
        key = (r["vec_id"], r["sub_id"])
        assert key not in seen, f"duplicate code row {key}"
        seen[key] = r["code"]
    again = {
        (r["vec_id"], r["sub_id"]): r["code"]
        for r in SIM.pq_encode(
            emb, books, "vec_id", "embedding", m=8
        ).collect()
    }
    assert seen == again


def test_pq_train_rejects_indivisible_dim(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="divide evenly"):
        SIM.pq_train_codebooks(emb, "embedding", m=7, nbits=2)


def test_ivfpq_topk_recall_and_cell_pruning(spark, sf_dir):
    """IVF-PQ with exact re-rank must recover a solid share of true L2
    neighbors, and every returned candidate must come from one of its
    query's probed coarse cells (the sub-linear pruning contract)."""
    import numpy as np

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = _exact_l2_topk(spark, queries, emb, k=5)
    approx = SIM.ivfpq_topk(
        queries, emb, k=5, n_centroids=16, n_probe=3, m=8, nbits=4,
        rerank=8,
    )
    exact_pairs = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    approx_rows = approx.collect()
    approx_pairs = {(r["query_id"], r["cand_id"]) for r in approx_rows}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.4, f"IVF-PQ recall too low: {recall}"

    # pruning contract: rebuild the same coarse quantizer and check every
    # returned candidate sits in one of its query's 3 probed cells
    X = SIM._collect_sample(emb, "embedding", 100_000)
    coarse = SIM._lloyd(X, 16, 42 - 1, 20)
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }

    def cell_of(v):
        return int(((coarse - v[None, :]) ** 2).sum(-1).argmin())

    for r in approx_rows:
        qv = vecs[r["query_id"]]
        probed = set(
            np.argsort(((coarse - qv[None, :]) ** 2).sum(-1), kind="stable")[
                :3
            ].tolist()
        )
        assert cell_of(vecs[r["cand_id"]]) in probed


def test_ivfpq_encode_covers_every_vector(spark, sf_dir):
    import numpy as np

    emb = table(spark, sf_dir, "embeddings")
    X = SIM._collect_sample(emb, "embedding", 100_000)
    coarse = SIM._lloyd(X, 16, 41, 10)
    books = SIM.pq_train_codebooks(emb, "embedding", m=8, nbits=4)
    rows = SIM.ivfpq_encode(emb, coarse, books).collect()
    n = emb.count()
    assert len(rows) == n * 8
    for r in rows:
        assert 0 <= r["cell"] < 16
        assert 0 <= r["code"] < 16
    # one cell per vector, consistent across its 8 sub rows
    cells = {}
    for r in rows:
        cells.setdefault(r["vec_id"], set()).add(r["cell"])
    assert all(len(s) == 1 for s in cells.values())
