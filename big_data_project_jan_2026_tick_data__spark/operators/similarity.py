"""Embedding similarity search (ANN) over an array<float> column.

Baseline: brute-force cosine top-k — all math in built-in higher-order
functions (zip_with + aggregate), JVM-side. Scale path: random-hyperplane
LSH bucketing so each query only scores its candidate buckets, and an
IVF-style coarse quantizer (kmeans-lite via seeded random centroids) for
cluster-pruned search.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import half_up, q6
from .dedup import _bucket_pairs, _drop_hot


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _to_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, score JVM-side, per-query top-k via window row_number.

    At 100 TB the corpus side stays partitioned and is scanned once; the
    query side is broadcast — no corpus shuffle at all until the final
    per-query top-k (tiny after the rank filter's pushed-down limit)."""
    c = corpus.select(
        F.col(corpus_id), _to_double(F.col(vec_col)).alias("cvec")
    ).withColumn("cnorm", norm(F.col("cvec")))
    q = queries.select(
        F.col(query_id), _to_double(F.col(vec_col)).alias("qvec")
    ).withColumn("qnorm", norm(F.col("qvec")))
    scored = c.join(F.broadcast(q)).withColumn(
        "cosine",
        F.round(dot(F.col("cvec"), F.col("qvec")) / (F.col("cnorm") * F.col("qnorm")), 6),
    )
    return _topk_by_cosine(scored, k, query_id, corpus_id)


def _topk_by_cosine(scored: DataFrame, k: int, query_id: str, corpus_id: str) -> DataFrame:
    """Per-query top-k of ``scored`` by ``cosine`` (ties by ascending
    corpus id) as ``(query_id, corpus_id, cosine, rank)``: the exact
    rerank of ``brute_force_topk``, ``lsh_bucket_topk`` and ``ivf_topk``."""
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(corpus_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def _sql_arr(vals) -> str:
    """Render a python float list as a SQL double-array literal.

    Rejects NaN/Inf up front: repr() would render them as 'nan'/'inf',
    which either fails SQL parsing or resolves as a column reference —
    a cryptic analysis error far from the cause (centroids are computed
    from data, so a poisoned embedding CAN reach here)."""
    vals = _check_finite(vals)
    return "array(" + ", ".join(f"{v!r}D" for v in vals) + ")"


def _folded_arr2_sql(vals) -> str:
    """SQL text of an ``array<array<double>>`` literal as ``from_json``
    over ONE embedded json string (float json contains no quotes, so it
    embeds in a SQL ``''`` literal verbatim). Catalyst constant-folds
    JsonToStructs-of-a-literal to a single opaque ArrayType Literal
    (pinned in tests/test_similarity.py), so the plan carries ONE node
    instead of n×dim scalar Literals — and the driver pays a ~2 ms
    parse instead of either a ~12 KB scalar-literal parse whose
    ~1 100-node tree every later analysis/optimizer pass re-walks
    (~180 ms per withColumn measured at 8×64), or ~100-220 ms of py4j
    lambda/Column-builder round trips for the equivalent HOF built via
    the Column API. Values are bit-identical: repr-based json doubles
    round-trip exactly; NaN/Inf rejected up front."""
    vals = [_check_finite(v) for v in vals]
    return f"from_json('{json.dumps(vals)}', 'array<array<double>>')"


def _folded_arr1_sql(vals) -> str:
    """``array<double>`` twin of :func:`_folded_arr2_sql`."""
    vals = _check_finite(vals)
    return f"from_json('{json.dumps(vals)}', 'array<double>')"


def _centroid_dsq_sql(vec_expr: str, cents) -> str:
    """SQL ``array<struct<dsq, cid>>``: the squared L2 distance from
    ``vec_expr`` to every centroid of the folded ``cents`` literal, cid
    the centroid's INT position. ``array_min`` of it is the nearest
    centroid with ties broken by the lowest cid; ``array_sort`` ranks
    them. Typed even for an empty ``cents``."""
    return (
        f"transform({_folded_arr2_sql(cents)}, (c, i) -> struct("
        f"aggregate(zip_with({vec_expr}, c, (x, y) -> (x - y) * (x - y)), "
        f"0D, (a, x) -> a + x) AS dsq, i AS cid))"
    )


def _check_finite(vals) -> list[float]:
    """Reject NaN/Inf in a vector destined for a literal (see _sql_arr:
    centroids are computed from data, so a poisoned embedding CAN reach
    here — fail with a pointed message, not a cryptic analysis error)."""
    import math

    vals = [float(v) for v in vals]
    for v in vals:
        if not math.isfinite(v):
            raise ValueError(
                f"non-finite value {v!r} in vector {vals!r} — cannot build "
                "a SQL array literal; scrub NaN/Inf from embeddings before "
                "LSH/IVF (e.g. filter on aggregate(v, true, (a,x) -> a AND "
                "NOT isnan(x) AND NOT x IN (double('inf'), double('-inf'))))"
            )
    return vals


def _dot_sql(vec_expr: str, arr_expr: str) -> str:
    return (
        f"aggregate(zip_with({vec_expr}, {arr_expr}, (x, y) -> x * y), "
        f"0D, (a, v) -> a + v)"
    )


def _norm_sql(vec_expr: str) -> str:
    return f"sqrt(aggregate({vec_expr}, 0D, (a, v) -> a + v * v))"


# ---------------------------------------------------------------------------
# RAW-input fold twins: same HOF folds as dot/norm above, but the
# double-widening happens INSIDE the lambda (CAST per element) instead of
# materializing a transform()-casted copy of the vector per row. Values
# are bit-identical (same seed, same add order, each term cast before
# multiply exactly as the casted-array element was).
#
# r12 negative result, kept on record: unrolling these folds to fixed-dim
# straight-line `CAST(a[i] AS DOUBLE) * CAST(b[i] AS DOUBLE)` terms was
# measured both ways and REJECTED — at nlist×dim = 16×64 the 1024-term
# expression exceeds janino's 64 KB method limit, codegen aborts, and the
# giant tree runs interpreted (cell assignment 2.9 s vs 0.43 s for the
# fold at sf0.1); at dim 64 the codegen-safe pairwise unroll was
# bench-neutral for emb_lsh_topk (1.066 -> 1.059 s) and its extra plan
# text made emb_ivf_topk ~0.3 s slower end-to-end (plan parse/analyze/
# codegen cost on a 2 000-row table). The folds keep plans small, which
# is what the fixed-cost-dominated bench actually measures.
# ---------------------------------------------------------------------------


def _dot_sql_raw(a_expr: str, b_expr: str) -> str:
    """``a . b`` for two RAW array columns (cast-per-element in-lambda)."""
    return (
        f"aggregate(zip_with({a_expr}, {b_expr}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0D, (a, v) -> a + v)"
    )


def _dot_lit_sql(vec_expr: str, arr_expr: str) -> str:
    """``raw-vec . double-literal-array`` (cast-per-element in-lambda)."""
    return (
        f"aggregate(zip_with({vec_expr}, {arr_expr}, "
        f"(x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, v) -> a + v)"
    )


def _norm_sql_raw(vec_expr: str) -> str:
    """L2 norm of a RAW array column (cast-per-element in-lambda)."""
    return (
        f"sqrt(aggregate({vec_expr}, 0D, "
        f"(a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )


def _signature_expr(
    vec_expr: str, dim: int, num_planes: int, seed: int
) -> Column:
    """Sign-bit LSH signature as ONE parsed SQL expression.

    Building this with nested Column constructors costs num_planes×dim
    py4j round-trips just to assemble the literal plane arrays (~1 s of
    driver latency per call at dim 64); a single F.expr string is parsed
    JVM-side in one hop. Same lesson as dedup.shingle_hashes.
    """
    # Flat sum-of-IFs twin of the historical
    #   aggregate(transform(planes, (p, i) ->
    #       IF(<fold dot> >= 0D, shiftleft(1, i), 0)), 0, +)
    # — same per-plane fold-dot value (see _dot_lit_sql: cast-in-lambda,
    # no casted vector copy), same bit weights (1 << p = the shiftleft
    # literal), same integer sum — without the outer transform/aggregate
    # pair wrapping the per-plane work in two more interpreted HOFs.
    bits = " + ".join(
        f"IF({_dot_lit_sql(vec_expr, _sql_arr(_hyperplane(dim, p, seed)))}"
        f" >= 0D, {1 << p}, 0)"
        for p in range(num_planes)
    )
    return F.expr(f"({bits})")


def _lsh_bucket_sql(dim: int, num_planes: int, seed: int) -> str:
    """DuckDB twin of :func:`_signature_expr` over a ``vec`` column: the
    same hyperplanes and bit weights as a sum of ``CASE`` terms, one per
    plane (the LSH bucket of the oracles)."""
    bucket_terms = []
    for p in range(num_planes):
        plane = ", ".join(repr(v) for v in _hyperplane(dim, p, seed))
        bucket_terms.append(
            f"(CASE WHEN list_dot_product(vec, [{plane}]) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return "\n        + ".join(bucket_terms)


def _hyperplane(dim: int, plane_idx: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane (pure function of
    (plane_idx, seed) — same plane on every executor, no driver state).

    Components are quantized to 6dp: a sign-hash direction doesn't care
    about the 7th decimal, and full-precision repr() doubles the literal
    text every signature expression (and every DuckDB oracle that
    re-derives the planes through this same function) has to parse —
    quantizing HERE keeps Spark and oracle bit-identical by
    construction."""
    import math

    vals = []
    for d in range(dim):
        # xorshift-style integer mix → [-1, 1)
        x = (plane_idx * 1_000_003 + d * 7919 + seed * 104_729) & 0xFFFFFFFF
        x ^= (x << 13) & 0xFFFFFFFF
        x ^= x >> 17
        x ^= (x << 5) & 0xFFFFFFFF
        vals.append((x / 2**31) - 1.0)
    n = math.sqrt(sum(v * v for v in vals)) or 1.0
    return [_q6(v / n) for v in vals]


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 8,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """ANN top-k via random-hyperplane LSH: sign-bit signature over
    ``num_planes`` hyperplanes → equi-join on the bucket → exact cosine
    rerank within buckets. Recall < 1 by design; the bucket join replaces
    the full cross product (corpus shuffles on a 1-int key).
    """
    # cvec/qvec stay the RAW arrays; the folds cast per element in-lambda
    # (see _dot_sql_raw) instead of materializing a transform()-casted
    # copy of every vector per row.
    c = corpus.select(F.col(corpus_id), F.col(vec_col).alias("cvec"))
    c = c.withColumn(
        "bucket", _signature_expr("cvec", dim, num_planes, seed)
    ).withColumn("cnorm", F.expr(_norm_sql_raw("cvec")))
    q = queries.select(F.col(query_id), F.col(vec_col).alias("qvec"))
    q = q.withColumn(
        "bucket", _signature_expr("qvec", dim, num_planes, seed)
    ).withColumn("qnorm", F.expr(_norm_sql_raw("qvec")))
    scored = c.join(F.broadcast(q), "bucket").withColumn(
        "cosine",
        F.round(
            F.expr(_dot_sql_raw("cvec", "qvec"))
            / (F.col("cnorm") * F.col("qnorm")),
            6,
        ),
    )
    return _topk_by_cosine(scored, k, query_id, corpus_id)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
    sample: str = "hash",
) -> DataFrame:
    """IVF-style ANN top-k: coarse quantizer (``nlist`` centroids sampled
    deterministically from the corpus) → corpus partitioned by nearest
    centroid → each query probes its ``nprobe`` nearest cells → exact
    cosine rerank inside the probed cells.

    ``nprobe == nlist`` degrades to exhaustive search (exactly matches
    ``brute_force_topk`` — property-tested). The centroid collect is
    metadata-scale (nlist × dim floats) regardless of corpus size; at
    100 TB the corpus is scanned once to assign cells (narrow, no
    shuffle), and the candidate join shuffles only on a 1-int cell key.

    ``sample``: how the ``nlist`` seed vectors are drawn — 'hash' (the
    nlist smallest ``xxhash64(id)``, a uniform pseudo-random sample),
    'lowest_id' (the nlist smallest ids — the emb_ivfpq_topk recipe,
    re-derivable by any SQL engine via ``ORDER BY id LIMIT nlist``, so
    the whole index becomes value-oracle-able), or 'kmeansparallel'
    (:func:`kmeans_parallel_init` k-means‖ seeds — spread-out,
    density-weighted cells; the quantizer for IVF-scale nlist in the
    10²–10⁴ range, O(log nlist) extra corpus passes). All are stable
    across runs/partitionings with no RNG state; the cheap samplers'
    quality is equivalent only when ids are assignment-order ints
    uncorrelated with embedding geometry."""
    # RAW array kept end-to-end (same reason as lsh_bucket_topk); the
    # centroid collect widens in Python — float(x) of a float/int element
    # is the same exact value CAST AS DOUBLE produced.
    c = corpus.select(F.col(corpus_id), F.col(vec_col).alias("cvec"))
    if sample in ("hash", "lowest_id"):
        seed_key = (
            F.xxhash64(F.col(corpus_id)) if sample == "hash" else F.col(corpus_id)
        )
        cent_rows = (
            c.withColumn("h", seed_key)
            .orderBy("h")
            .limit(nlist)
            .select("cvec")
            .collect()
        )
    elif sample == "kmeansparallel":
        seeds = kmeans_parallel_init(
            corpus, k=nlist, id_col=corpus_id, vec_col=vec_col
        ).collect()
        seed_ids = [r[corpus_id] for r in sorted(seeds, key=lambda r: r["sel_step"])]
        by_id = {
            r[corpus_id]: r
            for r in c.filter(F.col(corpus_id).isin(seed_ids)).collect()
        }
        cent_rows = [by_id[i] for i in seed_ids]
    else:
        raise ValueError(
            f"sample must be hash|lowest_id|kmeansparallel, got {sample!r}"
        )
    import math

    # Centroid literals are quantized to 6dp before rendering: a coarse
    # quantizer's cell boundaries don't care about the 7th decimal
    # (nlist×dim literals are the plan-build cost here). Exactness at
    # nprobe == nlist is untouched (every cell probed, and the cosine
    # rerank always uses the REAL vectors, never centroids).
    centroids = [
        _check_finite([_q6(float(x)) for x in r.cvec]) for r in cent_rows
    ]
    cnorms = [math.sqrt(sum(v * v for v in cent)) or 1.0 for cent in centroids]

    # r13: the centroid matrix rides a constant-folded from_json literal
    # embedded in the parsed SQL text (see _folded_arr2_sql — measured
    # on this exact shape: ~2 ms parse + a single ArrayType Literal in
    # the plan, vs 12 KB of scalar literals whose tree every analysis
    # pass re-walked, vs 100-220 ms of py4j round trips for the
    # Column-API build). emb_ivf_topk 1.294 -> ~1.05 s at sf0.1.
    cents_sql = _folded_arr2_sql(centroids)
    cnorms_sql = _folded_arr1_sql(cnorms)

    def cell_scores(vec_expr: str, norm_col: str) -> str:
        """array<struct<score,cid>> of cosine-to-centroid, one per cell.
        Deliberately the HOF fold, NOT the unrolled form: nlist×dim
        unrolled terms (1024 at 16×64) in a single expression exceed
        janino's 64 KB method limit, so codegen aborts and the giant
        tree runs interpreted — measured 2.9 s vs 0.43 s for this fold
        on the same input. Two fold improvements kept: the cast happens
        inside the zip_with lambda (no casted copy of the vector
        materialized per row) and the row's norm is hoisted into
        ``norm_col`` — the historical form recomputed the identical
        dim-step norm fold once per cell."""
        return (
            f"transform({cents_sql}, (c, i) -> struct("
            f"aggregate(zip_with({vec_expr}, c, "
            f"(x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, v) -> a + v) / "
            f"(element_at({cnorms_sql}, i + 1) * {norm_col}) "
            f"AS score, i AS cid))"
        )

    c = c.withColumn("cnorm", F.expr(_norm_sql_raw("cvec")))
    c = c.withColumn(
        "cell", F.expr(f"array_max({cell_scores('cvec', 'cnorm')}).cid")
    )

    q = queries.select(F.col(query_id), F.col(vec_col).alias("qvec"))
    q = q.withColumn("qnorm", F.expr(_norm_sql_raw("qvec")))
    probes = F.expr(
        f"transform(slice(reverse(array_sort({cell_scores('qvec', 'qnorm')})), "
        f"1, {nprobe}), s -> s.cid)"
    )
    q = q.withColumn("cell", F.explode(probes))
    scored = c.join(F.broadcast(q), "cell").withColumn(
        "cosine",
        F.round(
            F.expr(_dot_sql_raw("cvec", "qvec"))
            / (F.col("cnorm") * F.col("qnorm")),
            6,
        ),
    )
    return _topk_by_cosine(scored, k, query_id, corpus_id)


def _q6(v: float) -> float:
    """floor-based half-up quantization to 6 decimals — the same IEEE-754
    formula the SQL oracles use (``floor(x*1e6 + 0.5)/1e6``), so both
    engines quantize the *same* binary double to the same value."""
    import math

    return math.floor(v * 1e6 + 0.5) / 1e6


def kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_vec: bool = False,
    init: str = "lowest_id",
    return_centroids: bool = False,
):
    """Distributed Lloyd's k-means over an embedding column — the
    curation primitive behind topic bucketing / per-cluster sampling of
    training corpora (and the honest version of :func:`ivf_topk`'s coarse
    quantizer).

    Deterministic by construction (no RNG, no partition-order
    sensitivity), so two independent engines reproduce it exactly:

    - **init**: ``init='lowest_id'`` — the ``k`` vectors with the
      smallest ``id_col`` (collect is k×dim metadata, corpus-size-
      independent); ``init='kmeanspp'`` — the :func:`kmeanspp_init`
      farthest-point seeds (k−1 extra corpus passes, spread-out
      starting cells on clustered corpora, equally deterministic;
      small k only); ``init='kmeansparallel'`` — the
      :func:`kmeans_parallel_init` k-means‖ seeds (O(log k) corpus
      passes — the IVF-scale path for k in the hundreds-to-thousands).
      For the seeded inits, the initial cluster index is the seeder's
      SELECTION order (seed 1 → cluster 0);
    - **assign**: argmin of squared L2 distance over the ``k`` broadcast
      centroid literals — pure map-side expression, zero shuffle, ties
      broken by lowest cluster id (array_min over struct<dist,cid>);
    - **update**: per-(cluster, dim) mean via ``posexplode`` + hash agg —
      ONE shuffle of k×dim partial aggregates per iteration (map-side
      combine collapses each partition to ≤ k×dim rows), then a k×dim
      collect. Centroids are quantized to 1e-6 each update so
      cross-engine float-sum ordering differences can't drift.

    At 100 TB: per iteration the corpus is scanned once, the only
    shuffle is the tiny partial-agg exchange, and nothing larger than
    k×dim ever reaches the driver. Empty clusters keep their previous
    centroid. With fewer than ``k`` vectors, ``k`` shrinks to the
    vector count (an empty input yields an empty assignment and no
    centroids). Assign and update are :func:`_lloyd` with one subspace.

    Returns (id_col, cluster, dist_sq) for the final assignment.
    """
    v = df.select(F.col(id_col), _to_double(F.col(vec_col)).alias("vec"))
    if init == "lowest_id":
        init_rows = v.orderBy(id_col).limit(k).collect()
    elif init in ("kmeanspp", "kmeansparallel"):
        seeder = kmeanspp_init if init == "kmeanspp" else kmeans_parallel_init
        seed_ids = [
            r[id_col]
            for r in sorted(
                seeder(df, k, id_col, vec_col).collect(),
                key=lambda r: r["sel_step"],
            )
        ]
        # initial cluster index = SEED-SELECTION order (advisor r8: a
        # re-sort by id made cluster numbering follow id order, which
        # was deterministic but surprising) — fetch the k rows in one
        # filter, then restore the seeder's pick order driver-side
        by_id = {
            r[id_col]: r
            for r in v.filter(F.col(id_col).isin(seed_ids)).collect()
        }
        init_rows = [by_id[i] for i in seed_ids]
    else:
        raise ValueError(
            f"init must be lowest_id|kmeanspp|kmeansparallel, got {init!r}"
        )
    (nearest,), (centroids,) = _lloyd(v, init_rows, iters)

    final = v.withColumn("a", nearest)
    cols = [
        F.col(id_col),
        F.col("a").getField("cid").alias("cluster"),
        q6(F.col("a").getField("dsq")).alias("dist_sq"),
    ]
    if return_vec:
        # downstream consumers (semantic_dedup) keep the vector next to
        # its assignment so no corpus-sized re-join is needed
        cols.append(F.col("vec"))
    out = final.select(*cols)
    if return_centroids:
        # cluster-quality consumers (Davies-Bouldin) need the q6
        # centroid literals the final assignment ran against
        return out, centroids
    return out


def _lloyd(v: DataFrame, init_rows: list, iters: int, m: int = 1):
    """Lloyd's k-means over the ``vec`` (array<double>) column of ``v``,
    run independently in each of ``m`` contiguous subspaces: ``m=1`` is
    :func:`kmeans`, ``m>1`` trains product-quantization codebooks
    (:func:`pq_codes`). ``k`` is ``len(init_rows)``; row ``cid``'s
    ``vec`` seeds centroid ``cid`` of every subspace.

    Per iteration the corpus is scanned once: ONE projection computes
    all ``m`` assignments (lowest-cid argmin over each subspace's folded
    centroid literal), then ONE ``posexplode("vec")`` is grouped by
    (the cluster of subspace ``pos div dsub``, ``pos``). Each mean sums
    1e-9-grid integer snaps as BIGINT (the raw float avg is
    partial-agg-order sensitive, and a q6 boundary flip in an early
    iteration cascades into different assignments — the cross-engine
    hash-FAIL class) and is snapped to q6. Empty clusters keep their
    previous centroid.

    Returns ``(nearest, books)``: ``nearest[s]`` the struct<dsq, cid>
    Column of subspace ``s`` against the final centroids, ``books[s]``
    those ``k`` q6 centroids."""
    dim = len(init_rows[0].vec) if init_rows else 0
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = [
        [[float(x) for x in r.vec[s * dsub : (s + 1) * dsub]] for r in init_rows]
        for s in range(m)
    ]

    subs = (
        ["vec"]
        if m == 1
        else [f"slice(vec, {s * dsub + 1}, {dsub})" for s in range(m)]
    )

    def nearest() -> list[Column]:
        return [
            F.expr(f"array_min({_centroid_dsq_sql(sub, book)})")
            for sub, book in zip(subs, books)
        ]

    for _ in range(iters):
        cids = [a.getField("cid") for a in nearest()]
        # m=1 groups by the bare cluster column: the plain k-means plan
        # carries no per-element array lookup
        cl, key = (
            (cids[0], "cl") if m == 1 else (F.array(*cids), f"cl[pos div {dsub}]")
        )
        upd = (
            v.select("vec", cl.alias("cl"))
            .select("cl", F.posexplode("vec").alias("pos", "x"))
            .groupBy(F.expr(key).alias("cl"), "pos")
            .agg(
                F.sum(half_up(F.col("x") * 1e9)).alias("s9"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        fresh: dict[tuple[int, int], dict[int, float]] = {}
        for r in upd:
            s, p = divmod(r.pos, dsub)
            fresh.setdefault((s, r.cl), {})[p] = _q6((r.s9 / 1e9) / r.n)
        books = [
            [
                [fresh[(s, cid)][p] for p in range(dsub)]
                if (s, cid) in fresh
                else cent
                for cid, cent in enumerate(book)
            ]
            for s, book in enumerate(books)
        ]
    return nearest(), books


def kmeanspp_init(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic k-means++-style seeding by farthest-point traversal
    (greedy k-center, Gonzalez 1985 — the derandomized D² seeding):
    start from the lowest-id vector, then repeatedly pick the vector
    with the LARGEST squared L2 distance to its nearest already-chosen
    seed (snapped to a 1e-6 integer grid; ties → lowest id). Spread-out
    seeds fix the pathological same-neighborhood inits the lowest-id
    rule of :func:`kmeans` can produce on clustered corpora.

    Inherently sequential in k (each pick depends on all previous), so
    the shape is k−1 corpus passes with the chosen seeds as broadcast
    6dp literals — no shuffle at all (each pass is a map + top-1
    TakeOrdered); driver state is k×dim floats. SMALL-k ONLY: the
    sequential shape is k−1 corpus passes, and the ``least()``-of-k
    literal distance expression hits the janino 64 KB codegen wall as k
    approaches the hundreds — IVF-scale nlist (10²–10⁴) goes through
    :func:`kmeans_parallel_init` (O(log k) passes, no per-seed codegen).
    This function stays as the exact small-k oracle path. Chosen vectors
    are quantized to 6dp when they become literals (the IVF/centroid
    rendering convention) — distances are computed against the snapped
    seeds in BOTH engines, so the traversal is bit-reproducible.

    Returns (sel_step 1..k, id_col, dmin_q6) — dmin_q6 is the picked
    vector's min-distance-to-prior-seeds (NULL for step 1)."""
    v = df.select(F.col(id_col), _to_double(F.col(vec_col)).alias("vec"))
    # an empty corpus has no first seed and returns no rows
    head = v.orderBy(id_col).limit(1).collect()
    chosen: list[tuple[int, object, float | None]] = [(1, r[id_col], None) for r in head]
    seeds = [[_q6(float(x)) for x in r.vec] for r in head]
    for step in range(2, k + 1 if head else 2):
        dmins = ", ".join(
            f"aggregate(zip_with(vec, {_sql_arr(s)}, "
            f"(x, c) -> (x - c) * (x - c)), 0D, (a, x) -> a + x)"
            for s in seeds
        )
        dq = F.expr(
            f"cast(floor(least({dmins}) * 1e6 + 0.5) as bigint)"
            if len(seeds) > 1
            else f"cast(floor(({dmins}) * 1e6 + 0.5) as bigint)"
        )
        pick = (
            v.filter(~F.col(id_col).isin([c[1] for c in chosen]))
            .withColumn("__dq", dq)
            .orderBy(F.col("__dq").desc(), F.col(id_col).asc())
            .limit(1)
            .collect()
        )
        if not pick:
            break
        r = pick[0]
        chosen.append((step, r[id_col], r["__dq"] / 1e6))
        seeds.append([_q6(float(x)) for x in r.vec])
    spark = df.sparkSession
    # id field type follows the input schema (advisor r8: a hardcoded
    # 'long' failed createDataFrame for string/int id corpora)
    id_t = dict(df.dtypes)[id_col]
    return spark.createDataFrame(
        chosen, f"sel_step int, {id_col} {id_t}, dmin_q6 double"
    )


def kmeans_parallel_init(
    df: DataFrame,
    k: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    oversample: int | None = None,
    rounds: int | None = None,
) -> DataFrame:
    """Deterministic k-means‖ seeding (Bahmani et al., "Scalable
    k-means++", VLDB 2012) — the LARGE-k replacement for
    :func:`kmeanspp_init`'s sequential farthest-point traversal: an IVF
    coarse quantizer at 100 TB needs nlist ≈ 10³–10⁴, where k−1
    sequential corpus passes (and a ``least()``-of-thousands literal
    expression, the janino 64 KB codegen wall) are non-starters.

    Derandomized: where the paper samples each point with probability
    ℓ·d²/φ, each round here picks the ℓ points with the LARGEST
    min-squared-distance to the current candidate set (ties → lowest
    id) — the same derandomization-by-extremal-pick as
    :func:`kmeanspp_init`, so the result is reproducible run-to-run
    with no RNG.

    Shape per round (``rounds`` = ceil(log2 k) by default, the paper's
    O(log n·φ) bound collapsed to its practical 5-8): one corpus map
    computing distance to the ~ℓ NEW candidates only (Arrow-batched
    pandas UDF over a broadcast ℓ×dim numpy matrix — BLAS, not an
    interpreted HOF over thousands of literals), a ``least()`` merge
    with the running min (1e-6-grid longs, so the merge is exact), one
    localCheckpoint to cut lineage, and a top-ℓ TakeOrdered (ℓ×dim to
    the driver). Total: O(log k) corpus scans, zero shuffles, driver
    state ≤ (ℓ·rounds)×dim ≈ 2k·log₂k×dim floats.

    Finish (paper §3.3): weight every candidate by the number of corpus
    points nearest to it (one more scan + a candidate-count agg), then
    run derandomized WEIGHTED k-means++ on the driver-sized candidate
    set with numpy — pick argmax weight·d²(min over chosen), ties →
    lowest id; first seed = max weight.

    Returns (sel_step 1..k, id_col, weight) — weight is the candidate's
    attraction count from the weighting pass (the k chosen seeds are a
    subset of the ~ℓ·rounds candidates).
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType

    from ..engine import CheckpointTracker

    ell = oversample if oversample is not None else max(2 * k, 8)
    # the paper's O(log ψ) bound collapses to ~5 rounds in practice
    # (Bahmani §5); below 5 a single all-extremal round can exhaust its
    # picks on one far region and never see another
    n_rounds = (
        rounds
        if rounds is not None
        else max(5, min(10, int(math.ceil(math.log2(max(k, 2))))))
    )

    v = df.select(F.col(id_col), _to_double(F.col(vec_col)).alias("vec"))
    first = v.orderBy(id_col).limit(1).collect()
    if not first:
        id_t = dict(df.dtypes)[id_col]
        return df.sparkSession.createDataFrame(
            [], f"sel_step int, {id_col} {id_t}, weight long"
        )
    cand_ids: list = [first[0][id_col]]
    cand_vecs: list[list[float]] = [[_q6(float(x)) for x in first[0].vec]]
    cand_seen: set = {cand_ids[0]}

    def dmin6_to(new_mat: np.ndarray):
        """Scalar pandas UDF: min squared L2 distance from each vector
        to the rows of ``new_mat``, snapped to the 1e-6 grid as int64.
        |x|²+|c|²−2x·c via one BLAS matmul per Arrow batch — the only
        shape that stays fast at ℓ in the thousands (an interpreted
        higher-order function over per-seed literals is 10-100× slower
        and re-opens the codegen wall)."""
        cn = (new_mat * new_mat).sum(axis=1)  # (ℓ,)

        def _f(vecs):
            x = np.stack(vecs.to_numpy())  # (b, dim)
            d = (
                (x * x).sum(axis=1)[:, None]
                + cn[None, :]
                - 2.0 * (x @ new_mat.T)
            )
            dmin = np.maximum(d.min(axis=1), 0.0)  # clamp BLAS −ε
            return pd.Series(np.floor(dmin * 1e6 + 0.5).astype(np.int64))

        # explicit returnType form: `from __future__ import annotations`
        # stringifies hints, which breaks pandas_udf hint inference
        return F.pandas_udf(_f, LongType())

    tracker = CheckpointTracker(df.sparkSession)
    try:
        state = tracker.ckpt(
            v.withColumn(
                "__dmin6", dmin6_to(np.array(cand_vecs, dtype=np.float64))("vec")
            )
        )
        for _ in range(n_rounds - 1):
            # pool = top-2ℓ by distance-to-current-candidates; the ℓ
            # actual picks are then spread WITHIN the pool by driver-side
            # greedy farthest-point (intra-round dmin updates in numpy) —
            # ℓ all-extremal picks land in one far region otherwise
            pool = (
                state.filter(F.col("__dmin6") > 0)
                .orderBy(F.col("__dmin6").desc(), F.col(id_col).asc())
                .limit(2 * ell)
                .collect()
            )
            pool = [r for r in pool if r[id_col] not in cand_seen]
            if not pool:
                break  # corpus exhausted / all remaining points coincide
            pmat = np.array(
                [[_q6(float(x)) for x in r.vec] for r in pool], dtype=np.float64
            )
            pdmin = np.array([float(r["__dmin6"]) for r in pool])
            pool_id_order = sorted(range(len(pool)), key=lambda j: pool[j][id_col])
            picked: list[int] = []
            pset: set[int] = set()
            for _pick in range(min(ell, len(pool))):
                best = pdmin.max()
                if best <= 0:
                    break
                j = next(
                    j for j in pool_id_order
                    if j not in pset and pdmin[j] == best
                )
                picked.append(j)
                pset.add(j)
                dnew = np.floor(
                    np.maximum(((pmat - pmat[j]) ** 2).sum(axis=1), 0.0) * 1e6
                    + 0.5
                )
                pdmin = np.minimum(pdmin, dnew)
            if not picked:
                break
            new = [pool[j] for j in picked]
            new_mat = pmat[picked]
            for r, q in zip(new, new_mat):
                cand_ids.append(r[id_col])
                cand_vecs.append([float(x) for x in q])
                cand_seen.add(r[id_col])
            state = tracker.ckpt(
                state.withColumn(
                    "__dmin6",
                    F.least(F.col("__dmin6"), dmin6_to(new_mat)("vec")),
                )
            )
            tracker.release_superseded()

        # weighting pass: nearest-candidate index per point (ties →
        # lowest candidate index), then a tiny candidate-count agg
        cmat = np.array(cand_vecs, dtype=np.float64)
        cn_all = (cmat * cmat).sum(axis=1)

        def _nearest(vecs):
            x = np.stack(vecs.to_numpy())
            d = (x * x).sum(axis=1)[:, None] + cn_all[None, :] - 2.0 * (x @ cmat.T)
            d6 = np.floor(np.maximum(d, 0.0) * 1e6 + 0.5)
            return pd.Series(np.argmin(d6, axis=1).astype(np.int64))

        nearest_idx = F.pandas_udf(_nearest, LongType())

        wrows = (
            state.select(nearest_idx("vec").alias("__ci"))
            .groupBy("__ci")
            .agg(F.count(F.lit(1)).alias("__w"))
            .collect()
        )
    finally:
        tracker.release_all()
    weights = np.zeros(len(cand_ids), dtype=np.int64)
    for r in wrows:
        weights[r["__ci"]] = r["__w"]

    # driver finish: derandomized weighted k-means++ over the candidate
    # set (≤ ℓ·rounds rows — numpy, microseconds at IVF scale)
    ids_arr = np.array(cand_ids)
    order = np.argsort(ids_arr, kind="stable")  # lowest-id tie-break helper
    chosen_idx: list[int] = []
    # first seed: max weight, ties → lowest id
    best_w = weights.max()
    tied = [i for i in order if weights[i] == best_w]
    chosen_idx.append(int(tied[0]))
    dmin = np.floor(
        np.maximum(((cmat - cmat[chosen_idx[0]]) ** 2).sum(axis=1), 0.0) * 1e6
        + 0.5
    )
    while len(chosen_idx) < min(k, len(cand_ids)):
        score = weights * dmin  # int64 × grid-long: exact
        best = score.max()
        if best <= 0:
            # remaining candidates coincide with chosen seeds (or carry
            # zero weight AND zero distance) — fill by lowest id
            rest = [i for i in order if i not in chosen_idx]
            chosen_idx.extend(int(i) for i in rest[: k - len(chosen_idx)])
            break
        tied = [i for i in order if score[i] == best]
        nxt = int(tied[0])
        chosen_idx.append(nxt)
        dnew = np.floor(
            np.maximum(((cmat - cmat[nxt]) ** 2).sum(axis=1), 0.0) * 1e6 + 0.5
        )
        dmin = np.minimum(dmin, dnew)

    id_t = dict(df.dtypes)[id_col]
    out = [
        (step + 1, cand_ids[i], int(weights[i]))
        for step, i in enumerate(chosen_idx)
    ]
    return df.sparkSession.createDataFrame(
        out, f"sel_step int, {id_col} {id_t}, weight long"
    )


def kmeans_parallel_init_numpy(
    ids,
    X,
    k: int = 256,
    oversample: int | None = None,
    rounds: int | None = None,
) -> list[tuple[int, object, int]]:
    """Driver-local numpy twin of :func:`kmeans_parallel_init` —
    bit-identical by shared-formula construction (the frozen-weight
    oracle pattern of ``autoencoder.fit_autoencoder_numpy``): every
    distance uses the SAME numpy expression as the distributed pandas
    UDF (|x|²+|c|²−2x·c for corpus scans, direct Σ(a−b)² for the
    intra-pool greedy), snapped to the same 1e-6 integer grid, with the
    same pool/limit/tie rules — and all of those ops are per-row, so
    Arrow batching in the distributed path cannot change a bit. Parity
    is asserted in tests/test_similarity.py; the
    ``emb_ivf_kmeanspar`` ★ oracle freezes this twin's seed ids per
    testdata scale factor.

    ``ids``: sequence of ids; ``X``: (n, dim) float64 matrix (the
    doubles of the vector column). Returns the same
    (sel_step, id, weight) rows as the distributed operator."""
    import math

    import numpy as np

    ids = list(ids)
    X = np.asarray(X, dtype=np.float64)
    n = len(ids)
    if n == 0:
        return []
    ell = oversample if oversample is not None else max(2 * k, 8)
    n_rounds = (
        rounds
        if rounds is not None
        else max(5, min(10, int(math.ceil(math.log2(max(k, 2))))))
    )

    def q6m(M: "np.ndarray") -> "np.ndarray":
        return np.floor(M * 1e6 + 0.5) / 1e6

    first_i = min(range(n), key=lambda i: ids[i])
    cand_rows: list[int] = [first_i]
    cand_vecs: list[list[float]] = [[float(x) for x in q6m(X[first_i])]]
    cand_seen: set = {ids[first_i]}

    xsq = (X * X).sum(axis=1)

    def dmin6_to(new_mat: "np.ndarray") -> "np.ndarray":
        cn = (new_mat * new_mat).sum(axis=1)
        d = xsq[:, None] + cn[None, :] - 2.0 * (X @ new_mat.T)
        dmin = np.maximum(d.min(axis=1), 0.0)
        return np.floor(dmin * 1e6 + 0.5).astype(np.int64)

    state = dmin6_to(np.array(cand_vecs, dtype=np.float64))
    for _ in range(n_rounds - 1):
        live = [int(i) for i in np.where(state > 0)[0]]
        live.sort(key=lambda i: (-int(state[i]), ids[i]))
        pool_i = [i for i in live[: 2 * ell] if ids[i] not in cand_seen]
        if not pool_i:
            break
        pmat = q6m(X[np.array(pool_i)])
        pdmin = state[np.array(pool_i)].astype(np.float64)
        pool_id_order = sorted(range(len(pool_i)), key=lambda j: ids[pool_i[j]])
        picked: list[int] = []
        pset: set[int] = set()
        for _pick in range(min(ell, len(pool_i))):
            best = pdmin.max()
            if best <= 0:
                break
            j = next(
                j for j in pool_id_order if j not in pset and pdmin[j] == best
            )
            picked.append(j)
            pset.add(j)
            dnew = np.floor(
                np.maximum(((pmat - pmat[j]) ** 2).sum(axis=1), 0.0) * 1e6
                + 0.5
            )
            pdmin = np.minimum(pdmin, dnew)
        if not picked:
            break
        new_mat = pmat[picked]
        for j, q in zip(picked, new_mat):
            cand_rows.append(pool_i[j])
            cand_vecs.append([float(x) for x in q])
            cand_seen.add(ids[pool_i[j]])
        state = np.minimum(state, dmin6_to(new_mat))

    cmat = np.array(cand_vecs, dtype=np.float64)
    cn_all = (cmat * cmat).sum(axis=1)
    d = xsq[:, None] + cn_all[None, :] - 2.0 * (X @ cmat.T)
    d6 = np.floor(np.maximum(d, 0.0) * 1e6 + 0.5)
    ci = np.argmin(d6, axis=1)
    weights = np.bincount(ci, minlength=len(cand_rows)).astype(np.int64)

    ids_arr = np.array([ids[i] for i in cand_rows])
    order = np.argsort(ids_arr, kind="stable")
    chosen_idx: list[int] = []
    best_w = weights.max()
    tied = [i for i in order if weights[i] == best_w]
    chosen_idx.append(int(tied[0]))
    dmin = np.floor(
        np.maximum(((cmat - cmat[chosen_idx[0]]) ** 2).sum(axis=1), 0.0) * 1e6
        + 0.5
    )
    while len(chosen_idx) < min(k, len(cand_rows)):
        score = weights * dmin
        best = score.max()
        if best <= 0:
            rest = [i for i in order if i not in chosen_idx]
            chosen_idx.extend(int(i) for i in rest[: k - len(chosen_idx)])
            break
        tied = [i for i in order if score[i] == best]
        nxt = int(tied[0])
        chosen_idx.append(nxt)
        dnew = np.floor(
            np.maximum(((cmat - cmat[nxt]) ** 2).sum(axis=1), 0.0) * 1e6 + 0.5
        )
        dmin = np.minimum(dmin, dnew)

    return [
        (step + 1, ids[cand_rows[i]], int(weights[i]))
        for step, i in enumerate(chosen_idx)
    ]


def _whitening_finish(n: int, s1, s2, top: int, eps: float):
    """Shared driver finish for :func:`whitening_matrix` and its numpy
    twin: exact 1e-9-grid integer sums → population covariance → eigh →
    canonicalized (eigenvalue-descending; each eigenvector's largest-
    |component| entry made positive, ties to the lowest index) →
    top-``top`` whitening rows u_kᵀ/√λ_k, snapped to 6dp exactly like
    IVF centroid literals. Returns (rows, eigenvalues)."""
    import numpy as np

    s1 = np.asarray(s1, dtype=np.float64)
    s2 = np.asarray(s2, dtype=np.float64)
    mu = (s1 / 1e9) / n
    cov = (s2 / 1e9) / n - np.outer(mu, mu)
    w, u = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]
    w = w[order]
    u = u[:, order]
    for k in range(u.shape[1]):
        col = u[:, k]
        j = int(np.argmax(np.abs(col)))  # first max on ties
        if col[j] < 0:
            u[:, k] = -col
    rows = []
    for k in range(top):
        lam = max(float(w[k]), eps)
        rows.append([_q6(float(x)) for x in (u[:, k] / math_sqrt(lam))])
    return rows, [float(x) for x in w[:top]]


def math_sqrt(x: float) -> float:
    import math

    return math.sqrt(x)


def _exact_term_sums(v: DataFrame, terms: Column) -> list:
    """Collected ``(k, s, cnt)`` rows: for each moment term ``k`` of the
    exploded ``terms`` structs, the exact sum of its values on the 1e-9
    grid (``decimal(38,0)``, so the sum is order-independent) and the
    row count. The moment sums of ``whitening_matrix`` and
    ``procrustes_drift``."""
    return (
        v.select(F.explode(terms).alias("e"))
        .select(F.col("e.k").alias("k"), F.col("e.val").alias("val"))
        .groupBy("k")
        .agg(
            F.sum(
                half_up(F.col("val") * 1e9).cast("decimal(38,0)")
            ).alias("s"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
        .collect()
    )


def whitening_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    top: int = 3,
    eps: float = 1e-9,
) -> tuple[list[list[float]], list[float]]:
    """PCA whitening rows (Λ^{-1/2}Uᵀ, top ``top`` components) of the
    vector corpus — the isotropy post-processing step ("all-but-the-top",
    Mu & Viswanath 2018; whitening also conditions PQ codebooks). ONE
    corpus pass: each row explodes to its 64 per-dim values and 2080
    upper-triangle pair products keyed by a flat index, every term
    snapped to a 1e-9 integer grid and hash-aggregated with map-side
    combine (the shuffle is 2144 keys regardless of corpus size) — so
    the covariance is an EXACT integer statistic, layout-independent,
    and the driver's eigh (64×64 — metadata) sees bit-identical input
    from any partitioning. The numpy twin
    :func:`whitening_matrix_numpy` replays the same snapped sums for
    the frozen-rotation oracle (the kmeans_parallel_init_numpy /
    fit_autoencoder_numpy pattern)."""
    v = df.select(_to_double(F.col(vec_col)).alias("v"))
    d = dim
    terms = F.expr(
        f"""flatten(array(
          transform(sequence(0, {d - 1}),
                    i -> struct(i AS k, element_at(v, i + 1) AS val)),
          flatten(transform(sequence(0, {d - 1}), i ->
            transform(sequence(i, {d - 1}), j ->
              struct({d} + i * {d} + j AS k,
                     element_at(v, i + 1) * element_at(v, j + 1) AS val))))
        ))"""
    )
    agg = _exact_term_sums(v, terms)
    if not agg:  # empty corpus: no covariance, so the zero transform
        return [[0.0] * d for _ in range(top)], [0.0] * top
    by_k = {r["k"]: (int(r["s"]), int(r["cnt"])) for r in agg}
    n = by_k[0][1]
    import numpy as np

    s1 = np.array([by_k[k][0] for k in range(d)], dtype=np.float64)
    s2 = np.zeros((d, d), dtype=np.float64)
    for i in range(d):
        for j in range(i, d):
            val = by_k[d + i * d + j][0]
            s2[i, j] = val
            s2[j, i] = val
    return _whitening_finish(n, s1, s2, top, eps)


def whitening_matrix_numpy(
    X, top: int = 3, eps: float = 1e-9
) -> tuple[list[list[float]], list[float]]:
    """Driver-local twin of :func:`whitening_matrix` — bit-identical by
    shared-formula construction: the same per-term doubles, the same
    1e-9 floor snap, integer sums, and the SAME ``_whitening_finish``.
    Parity asserted in tests/test_similarity.py; the
    ``emb_whitening_digest`` ★ oracle freezes this twin's rows per sf."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    n, d = X.shape
    s1 = np.floor(X * 1e9 + 0.5).astype(np.int64).sum(axis=0)
    # row-by-row snapped outer products accumulated as PYTHON ints
    # (numpy object dtype) — the distributed pass sums decimal(38,0),
    # so an int64 accumulator here would silently wrap past ~9.2e18
    # (large n × large-magnitude embeddings) and break the bit-identity
    # the emb_whitening_digest frozen-rotation oracle rests on (advisor
    # r10 #2). Per-TERM snaps stay int64 (each |x_i*x_j|*1e9 is far
    # below 2^63 for unit-scale embeddings); only the SUM is unbounded.
    acc = np.zeros((d, d), dtype=object)
    for r in range(n):
        acc += np.floor(np.outer(X[r], X[r]) * 1e9 + 0.5).astype(np.int64)
    # exact-int → float64 conversion rounds once, identically to the
    # distributed decimal(38,0) → double cast
    s2 = acc.astype(np.float64)
    return _whitening_finish(int(n), s1.astype(np.float64), s2, top, eps)


def semantic_dedup(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    max_cluster_size: int | None = 1000,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023):
    cluster the embedding space with the deterministic distributed
    :func:`kmeans`, then compare vectors ONLY within their cluster and
    emit pairs with cosine ≥ ``threshold`` — the curation step that
    removes semantically redundant training examples that no exact/
    MinHash text dedup can see.

    Scale shape: the k-means assignment is map-side (broadcast centroid
    literals, zero shuffle) and keeps the vector attached
    (``return_vec``) so there is NO corpus re-join; the pair join is an
    equi-join on cluster id — never an all-pairs cross product — and a
    ``max_cluster_size`` cap drops degenerate clusters before the
    quadratic blow-up (same guard as the text/LSH dedup family; at real
    scale you also grow ``k`` with the corpus so expected cluster sizes
    stay bounded). Returns (id_a < id_b, cluster, cosine) with the
    lower id the canonical keep candidate.
    """
    asn = kmeans(
        df, k=k, iters=iters, id_col=id_col, vec_col=vec_col, return_vec=True
    ).select(F.col(id_col), "cluster", "vec")
    (asn,) = _drop_hot([asn], ["cluster"], max_cluster_size)
    asn = asn.withColumn("n", norm(F.col("vec")))
    return _cosine_pairs([asn], "cluster", id_col, threshold, ("cluster",)).select(
        "id_a", "id_b", F.col("cluster_a").alias("cluster"), "cosine"
    )


def _lsh_buckets(
    df: DataFrame, id_col: str, vec_col: str, dim: int, num_planes: int, seed: int
) -> DataFrame:
    """(id, vec, bucket, n): the hyperplane-signature bucket and norm of
    each vector. The hyperplanes are a pure function of (plane_idx,
    seed), so a stored corpus's buckets stay valid for every later
    batch."""
    v = df.select(F.col(id_col), _to_double(F.col(vec_col)).alias("vec"))
    return v.withColumn(
        "bucket", _signature_expr("vec", dim, num_planes, seed)
    ).withColumn("n", norm(F.col("vec")))


def _cosine_pairs(
    sides: list[DataFrame],
    key: str,
    id_col: str,
    threshold: float,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Pairs sharing ``key`` (one side: self-join, two: existing × new)
    whose cosine, from the ``vec`` and norm ``n`` columns, reaches
    ``threshold``: (id_a, id_b, <carry>_a/_b, …, cosine)."""
    pairs = _bucket_pairs(sides, [key], id_col, carry=(*carry, "vec", "n"))
    cosine = dot(F.col("vec_a"), F.col("vec_b")) / (F.col("n_a") * F.col("n_b"))
    return pairs.withColumn("cosine", F.round(cosine, 6)).filter(
        F.col("cosine") >= threshold
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 16,
    threshold: float = 0.95,
    num_planes: int = 6,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold, LSH-bucketed
    (same hyperplane signature ⇒ candidate) then exact-filtered.
    ``max_bucket_size`` drops degenerate buckets (e.g. a corpus full of
    zero/identical vectors) before the quadratic self-join — same guard
    as the text-dedup operators; oracles mirror the cap in SQL."""
    v = _lsh_buckets(df, id_col, vec_col, dim, num_planes, seed)
    return _cosine_pairs(
        _drop_hot([v], ["bucket"], max_bucket_size), "bucket", id_col, threshold
    ).select("id_a", "id_b", "cosine")


def incremental_embedding_near_dup(
    existing: DataFrame,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 16,
    threshold: float = 0.95,
    num_planes: int = 6,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs between an arriving embedding batch and the
    existing corpus — the embedding twin of
    ``dedup.incremental_minhash_pairs``. The hyperplanes are a pure
    function of (plane_idx, seed), so the existing side's
    (id, bucket, norm) columns can be PERSISTED once and reused for
    every future batch: ingestion then buckets only the new vectors and
    equi-joins against the stored buckets — no corpus-side recompute, no
    self-join. The hot-bucket cap counts entries across both generations
    (union), mirroring the one-shot operator's guard. Returns
    (id_existing, id_new, cosine ≥ threshold)."""
    sides = [
        _lsh_buckets(side, id_col, vec_col, dim, num_planes, seed)
        for side in (existing, batch)
    ]
    return _cosine_pairs(
        _drop_hot(sides, ["bucket"], max_bucket_size), "bucket", id_col, threshold
    ).select(F.col("id_a").alias("id_existing"), F.col("id_b").alias("id_new"), "cosine")


def _exploded_dims(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, pos, __v double) — the one explode shared by the dim-stats
    aggregation and the quantizer."""
    return df.select(F.col(id_col), F.posexplode(vec_col).alias("pos", "__v")).select(
        F.col(id_col), "pos", F.col("__v").cast("double").alias("__v")
    )


def embedding_dim_stats(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-dimension (pos, dmin, dmax) over the corpus — one explode +
    map-side-combined agg keyed by dimension index (shuffle = d rows)."""
    return _exploded_dims(df, vec_col, id_col).groupBy("pos").agg(
        F.min("__v").alias("dmin"), F.max("__v").alias("dmax")
    )


def _reassemble(rows: DataFrame, id_col: str, val_col: str, out_col: str):
    """(id, pos, val) scalar rows -> per-id array ordered by pos (the
    shared id-keyed rebuild used by quantize and dequantize)."""
    return F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col(val_col)))),
        lambda s: s.getField(val_col),
    ).alias(out_col)


def quantize_embeddings_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    as_rows: bool = False,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Affine per-dimension int8 quantization of an embedding column —
    the 4x memory lever that makes billion-vector ANN shards fit
    executor memory: q = floor((v - dmin)/scale + 0.5) - 128 with
    scale = (dmax - dmin)/255 (constant dimensions quantize to 0).
    All arithmetic is double-precision IEEE on exact float32 inputs, so
    any engine reproduces the codes bit-for-bit (the driver oracle
    does). Reconstruction error is bounded by scale/2 per dimension —
    asserted per-value in ``within_bound``.

    ``as_rows=True`` returns scalar rows (id, pos, q, within_bound);
    default rebuilds arrays per id (one id-keyed shuffle). The stats
    join is a broadcast of d rows — corpus-size-independent; pass a
    precomputed ``stats`` (embedding_dim_stats) when quantize and
    dequantize share one pipeline, so the corpus is not re-aggregated.
    """
    ex = _exploded_dims(df, vec_col, id_col)
    if stats is None:
        stats = embedding_dim_stats(df, vec_col, id_col)
    scale = (F.col("dmax") - F.col("dmin")) / F.lit(255.0)
    q = F.when(F.col("dmax") == F.col("dmin"), F.lit(0)).otherwise(
        half_up((F.col("__v") - F.col("dmin")) / scale).cast("int") - F.lit(128)
    )
    rows = ex.join(F.broadcast(stats), "pos").select(
        F.col(id_col),
        "pos",
        q.alias("q"),
        (
            F.abs(
                F.col("__v")
                - (F.col("dmin") + (q + F.lit(128)) * scale)
            )
            <= scale / 2 + F.lit(1e-12)
        ).alias("within_bound"),
    )
    if as_rows:
        return rows
    return rows.groupBy(id_col).agg(
        _reassemble(rows, id_col, "q", "qvec"),
        F.min(F.col("within_bound").cast("int")).cast("boolean").alias("all_within"),
    )


def dequantize_int8(
    rows: DataFrame, stats: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Reconstruct double vectors from int8 code rows + per-dim stats
    (the read path of a quantized ANN shard): v' = dmin + (q+128)*scale.
    Broadcast d-row stats join, one id-keyed shuffle to rebuild arrays.
    Exact IEEE arithmetic — codes plus stats reproduce the SAME doubles
    in any engine, so downstream similarity scores stay oracle-checkable.
    """
    scale = (F.col("dmax") - F.col("dmin")) / F.lit(255.0)
    dq = rows.join(F.broadcast(stats), "pos").select(
        F.col(id_col),
        "pos",
        (F.col("dmin") + (F.col("q") + F.lit(128)) * scale).alias("__dq"),
    )
    return dq.groupBy(id_col).agg(_reassemble(dq, id_col, "__dq", vec_col))


def rrf_fuse(
    rankings: list[DataFrame],
    query_col: str = "query_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
    k: int = 60,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N retrieval
    systems: score(q, d) = Σ_systems 1/(k + rank) over the systems that
    returned d for q — the standard way to ensemble lexical + semantic
    (or several ANN) result lists without score calibration.

    Input rankings are already top-k-per-query (slim: n_queries × k
    rows each), so everything here is metadata-scale regardless of
    corpus size: one union, one (query, id) hash agg, one per-query rank
    window over ≤ N·k candidates. Ties (identical fused scores) break on
    the candidate id. Returns (query, id, rrf_q6, n_systems, fused_rank
    ≤ ``top_k``).
    """
    from functools import reduce

    from pyspark.sql import Window

    slim = [
        r.select(F.col(query_col), F.col(id_col), F.col(rank_col)) for r in rankings
    ]
    u = reduce(lambda a, b: a.unionByName(b), slim)
    scored = u.groupBy(query_col, id_col).agg(
        q6(F.sum(1.0 / (F.lit(float(k)) + F.col(rank_col)))).alias("rrf_q6"),
        F.count(F.lit(1)).alias("n_systems"),
    )
    w = Window.partitionBy(query_col).orderBy(
        F.col("rrf_q6").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= top_k)
    )


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k evaluation of an approximate retrieval run against the
    exact ranking — the quality gauge every ANN deployment needs next to
    its latency numbers (pairs with lsh_bucket_topk/ivf_topk vs
    brute_force_topk on a sampled query set).

    Both inputs are top-k lists (n_queries × k rows — metadata-scale),
    so this is a slim (query, id) semi-join + per-query count: recall =
    |approx ∩ exact| / |exact|. Returns (query, n_exact, n_hit,
    recall_q6).
    """
    a = approx.select(F.col(query_col), F.col(id_col))
    e = exact.select(F.col(query_col), F.col(id_col))
    hit = e.join(a, [query_col, id_col], "left_semi")
    n_e = e.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_exact"))
    n_h = hit.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_e.join(n_h, query_col, "left")
        .select(
            query_col,
            "n_exact",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            q6(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact")
            ).alias("recall_q6"),
        )
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    n_candidates: int = 20,
    n_select: int = 5,
    lam: float = 0.7,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from each query's exact top-``n_candidates``, greedily pick
    ``n_select`` maximizing λ·sim(q, c) − (1−λ)·max_{s∈S} sim(c, s) —
    the diversity step between retrieval and a RAG/context window.

    Scale shape: candidate generation is the existing broadcast-query
    retrieval; the greedy loop is inherently sequential but bounded by
    ``n_candidates`` PER QUERY, so it runs as one Arrow-batched
    ``applyInPandas`` per query group (parallel across queries, k²
    numpy work inside — never a driver loop, never corpus-sized).
    Similarities are q6-quantized BEFORE the greedy arithmetic and ties
    break on the candidate id, so any engine replays the identical
    selection. Returns (query, id, relevance (q6 cosine to the query),
    mmr_score_q6, select_rank).
    """
    import math

    import numpy as np
    import pandas as pd

    cand = brute_force_topk(
        corpus, queries, k=n_candidates,
        corpus_id=corpus_id, query_id=query_id, vec_col=vec_col,
    )
    v = corpus.select(F.col(corpus_id), _to_double(F.col(vec_col)).alias("vec"))
    # the candidate list is n_queries × k rows: broadcast it so the
    # corpus vector table is never shuffled for this attach
    withv = v.join(F.broadcast(cand), corpus_id)

    qid_t = dict(queries.dtypes).get(query_id, "bigint")
    cid_t = dict(corpus.dtypes).get(corpus_id, "bigint")
    out_schema = (
        f"{query_id} {qid_t}, {corpus_id} {cid_t}, relevance double, "
        "mmr_score_q6 double, select_rank int"
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rank").reset_index(drop=True)
        qid = pdf[query_id].iloc[0]
        ids = pdf[corpus_id].to_numpy()
        rel = pdf["cosine"].to_numpy()  # already q6 from brute_force_topk
        mat = np.stack(pdf["vec"].to_numpy())
        # Sequential left-to-right accumulation over components — NOT
        # `mat @ mat.T` / axis-sum: BLAS blocked and numpy pairwise
        # summation orders differ from the oracle engine's per-pair
        # sequential fold, and q6 quantization after the fact cannot
        # undo a boundary flip. k x k x d work on <= n_candidates rows.
        n_rows, d = mat.shape
        dots = np.zeros((n_rows, n_rows))
        nrm2 = np.zeros(n_rows)
        for t in range(d):
            col = mat[:, t]
            dots += np.outer(col, col)
            nrm2 += col * col
        norms = np.sqrt(nrm2)
        sims = dots / np.outer(norms, norms)
        sims = np.floor(sims * 1e6 + 0.5) / 1e6
        n = len(ids)
        chosen: list[int] = []
        rows = []
        for step in range(min(n_select, n)):
            best_i, best_score = -1, None
            for i in range(n):
                if i in chosen:
                    continue
                div = max(sims[i, j] for j in chosen) if chosen else 0.0
                score = lam * rel[i] - (1 - lam) * div
                if (
                    best_score is None
                    or score > best_score
                    or (score == best_score and ids[i] < ids[best_i])
                ):
                    best_i, best_score = i, score
            chosen.append(best_i)
            rows.append(
                {
                    query_id: qid,
                    corpus_id: ids[best_i],
                    "relevance": rel[best_i],
                    "mmr_score_q6": math.floor(best_score * 1e6 + 0.5) / 1e6,
                    "select_rank": step + 1,
                }
            )
        return pd.DataFrame(rows)

    return withv.groupBy(query_id).applyInPandas(greedy, schema=out_schema)


def _empty_topk(v: DataFrame, id_col: str) -> DataFrame:
    """The empty, schema-stable (query_id, id_col, adist_q6, rank)
    result of :func:`pq_topk` / :func:`ivfpq_topk` on an empty corpus."""
    return v.select(
        F.col(id_col).alias("query_id"),
        F.col(id_col),
        F.lit(0.0).alias("adist_q6"),
        F.lit(0).alias("rank"),
    ).limit(0)


def _pq_train(
    v: DataFrame, init_rows: list, m: int, iters: int
) -> tuple[DataFrame, list]:
    """Shared PQ trainer behind :func:`pq_codes` / :func:`pq_topk` /
    :func:`ivfpq_topk`: :func:`_lloyd` over the ``m`` subspaces of
    ``v.vec``, seeded by ``init_rows`` (the ``ksub`` lowest-id rows, so
    a corpus smaller than ``ksub`` trains a shorter codebook and every
    vector still gets an exact centroid).

    Returns ``(codes, codebooks)`` explicitly: ``codes`` has one row per
    (vector, subspace) — every column of ``v`` but ``vec``, then
    (subspace, code, dist_q6) — from ONE posexplode of the ``m``
    assignments; ``codebooks[s][code]`` is a q6 centroid.  Body
    documented at :func:`pq_codes`."""
    nearest, books = _lloyd(v, init_rows, iters, m)
    keep = [c for c in v.columns if c != "vec"]
    codes = v.select(
        *keep, F.posexplode(F.array(*nearest)).alias("subspace", "a")
    ).select(
        *keep,
        "subspace",
        F.col("a.cid").alias("code"),
        q6(F.col("a.dsq")).alias("dist_q6"),
    )
    return codes, books


def pq_codes(
    df: DataFrame,
    m: int = 2,
    ksub: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codes (Jégou et al. 2011): split each vector
    into ``m`` contiguous subspaces, run the :func:`kmeans` recipe per
    subspace (deterministic lowest-id init, argmin over broadcast
    centroid literals, q6-snapped mean updates), and emit one row per
    (vector, subspace) with the assigned codebook entry — the memory
    side of IVF-PQ: ``m * log2(ksub)`` bits per vector instead of
    ``dim * 32``.

    Scale shape: all ``m`` subspace assignments are map-side expressions
    in the SAME projection, and each update iteration is ONE shuffle of
    (cluster, dim) partial means (≤ ksub·dim rows after map-side
    combine) + a metadata-scale collect — the corpus is scanned once
    per iteration regardless of m, never joined.

    Returns (id_col, subspace, code, dist_q6) — long/scalar form so the
    value oracle hashes it directly.  ADC consumers needing the trained
    codebooks use :func:`_pq_train` directly (explicit tuple return).
    """
    v = df.select(F.col(id_col), _to_double(F.col(vec_col)).alias("vec"))
    codes, _ = _pq_train(v, v.orderBy(id_col).limit(ksub).collect(), m, iters)
    return codes


def pq_topk(
    df: DataFrame,
    m: int = 2,
    ksub: int = 8,
    iters: int = 2,
    n_queries: int = 5,
    top_k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: queries are the
    ``n_queries`` lowest-id vectors (the registry's deterministic query
    convention); per query the m×ksub distance table is computed once
    driver-side from the trained codebooks (metadata-scale, q6-snapped)
    and the corpus-side cost is ONE scan of the codes with per-row
    table lookups — the approximate-search shape that scales to 100 TB
    because the scan touches `m` small ints per vector, never the
    original floats.

    Returns (query_id, id_col, adist_q6, rank), query excluded.
    """
    v = df.select(F.col(id_col), _to_double(F.col(vec_col)).alias("vec"))
    # one collect of the lowest-id rows seeds the codebooks AND
    # serves the queries
    rows = v.orderBy(id_col).limit(max(ksub, n_queries)).collect()
    if not rows:
        return _empty_topk(v, id_col)
    codes, cents = _pq_train(v, rows[:ksub], m, iters)
    dsub = len(cents[0][0])
    # the wide code table is consumed once PER QUERY branch below —
    # materialize it once (m ints per vector; the at-rest form a real
    # deployment persists anyway) instead of re-encoding the corpus
    # n_queries times via lineage recompute (scan-audit finding)
    wide = (
        codes.groupBy(id_col)
        .pivot("subspace", list(range(m)))
        .agg(F.first("code"))
    ).localCheckpoint()
    id_type = v.schema[id_col].dataType
    out = None
    for qr in rows[:n_queries]:
        qid = qr[id_col]
        adist = None
        for s in range(m):
            qsub = [float(x) for x in qr.vec[s * dsub : (s + 1) * dsub]]
            # per-centroid squared L2, same sequential fold as the SQL
            # oracle's list_sum, snapped to q6 so a fold-order ulp can't
            # leak into the ranking
            tbl = [
                _q6(sum((qx - cx) * (qx - cx) for qx, cx in zip(qsub, cent)))
                for cent in cents[s]
            ]
            term = F.expr(f"element_at({_sql_arr(tbl)}, `{s}` + 1)")
            adist = term if adist is None else adist + term
        part = wide.select(
            F.lit(qid).cast(id_type).alias("query_id"),
            F.col(id_col),
            adist.alias("adist_q6"),
        ).filter(F.col(id_col) != qid)
        out = part if out is None else out.unionByName(part)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist_q6").asc(), F.col(id_col).asc()
    )
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )


def ivfpq_topk(
    df: DataFrame,
    nlist: int = 8,
    nprobe: int = 3,
    m: int = 2,
    ksub: int = 8,
    iters: int = 2,
    n_queries: int = 5,
    top_k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ ANN search (Jégou et al. 2011, the FAISS `IVFxx,PQyy`
    architecture): a coarse quantizer partitions the corpus into
    ``nlist`` cells, each vector stores only its cell id plus the PQ
    codes of its RESIDUAL (vector − cell centroid), and a query scans
    just its ``nprobe`` nearest cells with asymmetric-distance table
    lookups — the memory/IO shape that actually serves billion-vector
    (100 TB) indexes: ``log2(nlist) + m·log2(ksub)`` bits per vector,
    one int-keyed cell join, no raw floats on the search path.

    Deterministic recipe (every stage re-derivable in SQL by the
    registry oracle):
    - coarse centroids = the ``nlist`` lowest-id vectors verbatim
      (full-precision literals, so residuals are bit-identical);
    - residual PQ codebooks = the :func:`pq_codes` k-means recipe run
      on the residual vectors (lowest-id init, q6-snapped mean
      updates), codebooks SHARED across cells (classic IVF-PQ);
    - per query: the ``nprobe`` nearest cells (ties → cell id), one
      m×ksub distance table per probed cell built driver-side from
      (query − centroid) against the residual codebooks, each entry
      snapped to a 1e-6 INTEGER grid;
    - search = codes ⋈ broadcast(distance-table rows) on
      (cell, subspace, code), then an exact BIGINT sum per
      (query, vector) — integer arithmetic end-to-end, so the ranking
      cannot move with partial-agg order.

    Scale shape: the distance table is queries × nprobe × m × ksub
    rows (metadata — broadcast), the corpus-side cost is ONE scan of
    the code table; the ADC aggregate shuffles (query, vector) pairs
    only for vectors inside probed cells. Returns
    (query_id, id_col, adist_q6, rank), the query itself excluded.
    """
    import math as _math

    v = df.select(F.col(id_col), _to_double(F.col(vec_col)).alias("vec"))
    # one collect of the lowest-id rows serves the coarse centroids AND
    # the queries
    rows = v.orderBy(id_col).limit(max(nlist, n_queries)).collect()
    if not rows:
        return _empty_topk(v, id_col)

    # --- coarse quantizer: nlist lowest-id vectors, full precision ---
    coarse = [[float(x) for x in r.vec] for r in rows[:nlist]]
    asn = v.withColumn(
        "cell", F.expr(f"array_min({_centroid_dsq_sql('vec', coarse)}).cid")
    )
    # materialize the residual once, the one checkpoint per call: the
    # codebook init collect, every Lloyd pass and the final codes read
    # this column instead of re-deriving the coarse argmin and the
    # subtraction through lineage. Checkpointing the code table instead
    # (the slim at-rest index) measured emb_ivfpq_topk build 3.28 s vs
    # 1.86 s at sf0.1 (4-core host, 8 alternating pairs, 8/8); the
    # codes and the ADC join below stay lazy over the residual
    resid = asn.select(
        F.col(id_col),
        F.expr(
            f"zip_with(vec, element_at({_folded_arr2_sql(coarse)}, cell + 1), "
            f"(x, y) -> x - y)"
        ).alias("vec"),
        "cell",
    ).localCheckpoint()

    # --- residual PQ codebooks + codes (shared across cells); codes
    # keep the cell column, so the index needs no join back ---
    codes, cb = _pq_train(
        resid, resid.orderBy(id_col).limit(ksub).collect(), m, iters
    )
    dsub = len(cb[0][0])

    # --- queries: n_queries lowest-id vectors; probe + distance table
    # built driver-side (metadata-scale), snapped to the 1e-6 grid ---
    dt_rows = []
    for qr in rows[:n_queries]:
        qid = qr[id_col]
        qv = [float(x) for x in qr.vec]
        cd = sorted(
            (
                (sum((a - b) * (a - b) for a, b in zip(qv, c)), cid)
                for cid, c in enumerate(coarse)
            )
        )[:nprobe]
        for _, cid in cd:
            t = [a - b for a, b in zip(qv, coarse[cid])]
            for s in range(m):
                ts = t[s * dsub : (s + 1) * dsub]
                for code, cent in enumerate(cb[s]):
                    d6i = _math.floor(
                        sum((a - b) * (a - b) for a, b in zip(ts, cent)) * 1e6
                        + 0.5
                    )
                    dt_rows.append((qid, cid, s, code, d6i))
    spark = df.sparkSession
    dt = spark.createDataFrame(
        dt_rows, "query_id long, cell int, subspace int, code int, d6i long"
    )

    ad = (
        codes.join(F.broadcast(dt), ["cell", "subspace", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.sum("d6i").alias("ai"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("ai").asc(), F.col(id_col).asc()
    )
    return (
        ad.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            "query_id",
            id_col,
            (F.col("ai").cast("double") / 1e6).alias("adist_q6"),
            "rank",
        )
    )


def procrustes_drift(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    c: float = 0.8,
    s: float = 0.6,
) -> dict:
    """Orthogonal-Procrustes drift digest between an embedding corpus
    and its deterministically drifted twin v2 (v2_j = c·v1_j +
    s·v1_{(j+1) mod d} — a fixed non-orthogonal mixing, so the best
    rotation leaves a genuine residual): the embedding-VERSION
    alignment check a training pipeline runs before mixing vectors
    produced by two encoder checkpoints (Schönemann 1966; the
    min_{RᵀR=I} ‖X₁R − X₂‖²F closed form is ‖X₁‖² + ‖X₂‖² − 2Σσᵢ(M),
    M = X₁ᵀX₂ — no rotation matrix ever needs to leave the driver).

    ONE corpus pass: each row explodes to d + d + d² flat-keyed terms
    (‖v1‖² dims, ‖v2‖² dims, the M cross products), every term snapped
    to the 1e-9 grid and hash-aggregated (map-side combine; the
    shuffle is 2d + d² keys regardless of corpus size), so M and both
    norms are EXACT integer statistics and the driver SVD (d×d —
    metadata) sees bit-identical input from any partitioning. Returns
    {n, sigmas, sq1, sq2} (ints exact, sigmas from numpy SVD on the
    shared-construction matrix — :func:`procrustes_drift_numpy` is the
    frozen-oracle twin)."""
    import numpy as np

    from ..functions.detmath import dlit

    d = dim
    v = df.select(_to_double(F.col(vec_col)).alias("v")).withColumn(
        "w",
        F.expr(
            f"transform(sequence(0, {d - 1}), j -> "
            f"{dlit(c)} * element_at(v, j + 1)"
            f" + {dlit(s)} * element_at(v, ((j + 1) % {d}) + 1))"
        ),
    )
    terms = F.expr(
        f"""flatten(array(
          transform(sequence(0, {d - 1}),
                    i -> struct(i AS k,
                                element_at(v, i + 1) * element_at(v, i + 1)
                                  AS val)),
          transform(sequence(0, {d - 1}),
                    i -> struct({d} + i AS k,
                                element_at(w, i + 1) * element_at(w, i + 1)
                                  AS val)),
          flatten(transform(sequence(0, {d - 1}), i ->
            transform(sequence(0, {d - 1}), j ->
              struct({2 * d} + i * {d} + j AS k,
                     element_at(v, i + 1) * element_at(w, j + 1) AS val))))
        ))"""
    )
    agg = _exact_term_sums(v, terms)
    if not agg:
        raise ValueError("procrustes_drift: empty corpus (no vectors of the requested dim)")
    by_k = {r["k"]: int(r["s"]) for r in agg}
    n = next(int(r["cnt"]) for r in agg)
    sq1 = sum(by_k[k] for k in range(d))
    sq2 = sum(by_k[d + k] for k in range(d))
    m = np.zeros((d, d), dtype=np.float64)
    for i in range(d):
        for j in range(d):
            m[i, j] = float(by_k[2 * d + i * d + j])
    m /= 1e9
    sigmas = [float(x) for x in np.linalg.svd(m, compute_uv=False)]
    return {"n": n, "sigmas": sigmas, "sq1": sq1, "sq2": sq2}


def procrustes_drift_numpy(
    X, c: float = 0.8, s: float = 0.6
) -> dict:
    """Driver-local twin of :func:`procrustes_drift` — bit-identical by
    shared-formula construction: the same drifted v2, the same per-term
    1e-9 snaps, PYTHON-int accumulation (the advisor-r10 whitening
    lesson: an int64 accumulator wraps where decimal(38,0) doesn't),
    the same int→float64 conversion, /1e9, and the same numpy SVD.
    Parity asserted in tests/test_similarity.py; the
    ``emb_procrustes_drift`` ★ oracle freezes this twin's outputs."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    n, d = X.shape
    W = c * X + s * np.roll(X, -1, axis=1)
    sq1 = int(np.floor(X * X * 1e9 + 0.5).astype(np.int64).astype(object).sum())
    sq2 = int(np.floor(W * W * 1e9 + 0.5).astype(np.int64).astype(object).sum())
    acc = np.zeros((d, d), dtype=object)
    for r in range(n):
        acc += np.floor(np.outer(X[r], W[r]) * 1e9 + 0.5).astype(np.int64)
    m = acc.astype(np.float64) / 1e9
    sigmas = [float(x) for x in np.linalg.svd(m, compute_uv=False)]
    return {"n": int(n), "sigmas": sigmas, "sq1": sq1, "sq2": sq2}
