"""Hot-key safety valves in the dedup operators: a degenerate shingle or
LSH band bucket shared by m documents costs O(m²) candidate pairs, so the
frequency caps must drop it *before* the self-join (the 100 TB scale
guard — VERDICT r1 scale-killer #2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_project_jan_2026_tick_data__spark.operators import dedup

BOILER = "the quick brown fox jumps over the lazy dog again and again"


def _stopword_corpus(spark, n=30):
    """Every doc shares the same boilerplate phrase; unique tail content."""
    rows = [(i, f"{BOILER} unique token{i} payload{i} content{i}") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_cap_drops_hot_shingles(spark):
    docs = _stopword_corpus(spark, 30)
    # Uncapped: boilerplate 3-grams co-occur in all 30 docs -> every doc
    # pairs with every other (30*29/2 pairs), the quadratic blowup.
    uncapped = dedup.ngram_jaccard_pairs(docs, max_shingle_df=None)
    assert uncapped.count() == 30 * 29 // 2
    # Capped below the corpus size: hot shingles (df=30) are excluded from
    # both the intersection and the set sizes, so unrelated docs no longer
    # intersect at all.
    capped = dedup.ngram_jaccard_pairs(docs, max_shingle_df=5)
    assert capped.count() == 0


def test_ngram_cap_keeps_real_duplicates(spark):
    # Two genuine near-duplicates among boilerplate-heavy noise: their
    # shared *rare* shingles (df=2 <= cap) survive the cap.
    rows = [(i, f"{BOILER} unique token{i} payload{i}") for i in range(20)]
    rows += [
        (100, "alpha beta gamma delta epsilon zeta eta theta"),
        (101, "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.3, max_shingle_df=5)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(100, 101)}


def test_minhash_bucket_cap_drops_degenerate_bucket(spark):
    # 40 identical documents: every band bucket holds all 40 entries.
    docs = spark.createDataFrame(
        [(i, BOILER) for i in range(40)], "doc_id long, text string"
    )
    uncapped = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4, max_bucket_size=None)
    assert uncapped.count() == 40 * 39 // 2
    capped = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4, max_bucket_size=10)
    assert capped.count() == 0


def test_minhash_bucket_cap_preserves_small_buckets(spark):
    # A pair of identical docs (bucket size 2) plus distinct noise docs:
    # the cap leaves small buckets untouched.
    rows = [(1, "alpha beta gamma delta epsilon zeta"), (2, "alpha beta gamma delta epsilon zeta")]
    rows += [(10 + i, f"wholly distinct document number {i} about topic{i}") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4, max_bucket_size=10)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 2) in pairs
    est = {(r.id_a, r.id_b): r.est_jaccard for r in out.collect()}[(1, 2)]
    assert est == 1.0


def test_minhash_ansi_safe(spark):
    """Signature math must not raise under ANSI mode (Spark 4 default in
    external sessions) — regression for the r1 ARITHMETIC_OVERFLOW."""
    prev = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        docs = spark.createDataFrame(
            [(1, "some document text here"), (2, "some document text here")],
            "doc_id long, text string",
        )
        out = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4)
        assert out.count() == 1
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_dup_clusters_path_graph_and_isolated_node(spark):
    """A 7-node path graph needs multiple propagation rounds (diameter 6)
    — exercises the every-2nd-iteration convergence check including the
    overshoot-is-a-no-op property — and an isolated node must keep its
    own id as cluster label."""
    docs = spark.createDataFrame([(i,) for i in [*range(7), 100]], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.cluster_id for r in dedup.dup_clusters(docs, pairs).collect()}
    assert got == {**{i: 0 for i in range(7)}, 100: 100}


def test_incremental_minhash_equals_one_shot_cross_pairs(spark, sf_dir):
    """Invariant: pairing a batch against the committed corpus's stored
    signatures yields EXACTLY the one-shot pipeline's pairs that straddle
    the split (same band keys, same cap semantics over the union, same
    similarity estimates) — incremental ingestion loses nothing."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = docs.filter("doc_id % 5 = 4")
    existing = docs.filter("doc_id % 5 <> 4")
    inc = {
        (r.id_existing, r.id_new, r.est_jaccard)
        for r in dedup.incremental_minhash_pairs(
            dedup.md5_minhash_signatures(existing),
            dedup.md5_minhash_signatures(batch),
        ).collect()
    }
    one_shot = dedup.md5_minhash_lsh_pairs(docs).collect()
    cross = {
        (r.id_a, r.id_b, r.est_jaccard) if r.id_b % 5 == 4 else (r.id_b, r.id_a, r.est_jaccard)
        for r in one_shot
        if (r.id_a % 5 == 4) != (r.id_b % 5 == 4)
    }
    assert inc == cross


def test_incremental_simhash_equals_one_shot_cross_pairs(spark, sf_dir):
    """Same invariant as the MinHash twin: batch-vs-stored-fingerprints
    pairing reproduces exactly the one-shot pigeonhole pairs that
    straddle the split."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = docs.filter("doc_id % 5 = 4")
    existing = docs.filter("doc_id % 5 <> 4")
    inc = {
        (r.id_existing, r.id_new, r.hamming)
        for r in dedup.incremental_hamming_pairs(
            dedup.md5_simhash(existing),
            dedup.md5_simhash(batch),
            fp_col="simhash",
            id_col="doc_id",
            max_hamming=6,
        ).collect()
    }
    one_shot = dedup.hamming_pairs(
        dedup.md5_simhash(docs), fp_col="simhash", id_col="doc_id", max_hamming=6
    ).collect()
    cross = {
        (r.id_a, r.id_b, r.hamming) if r.id_b % 5 == 4 else (r.id_b, r.id_a, r.hamming)
        for r in one_shot
        if (r.id_a % 5 == 4) != (r.id_b % 5 == 4)
    }
    assert inc == cross


def test_minhash_signatures_survive_parquet_roundtrip(spark, sf_dir, tmp_path):
    """The persistence contract behind incremental ingestion: signatures
    written to parquet and read back must pair identically to in-memory
    ones (array<long> fidelity through the sink/scan)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = docs.filter("doc_id % 5 = 4")
    existing = docs.filter("doc_id % 5 <> 4")
    esig = dedup.md5_minhash_signatures(existing)
    path = str(tmp_path / "sigs")
    esig.write.parquet(path)
    stored = spark.read.parquet(path)
    bsig = dedup.md5_minhash_signatures(batch)
    mem = {
        (r.id_existing, r.id_new, r.est_jaccard)
        for r in dedup.incremental_minhash_pairs(esig, bsig).collect()
    }
    disk = {
        (r.id_existing, r.id_new, r.est_jaccard)
        for r in dedup.incremental_minhash_pairs(stored, bsig).collect()
    }
    assert mem == disk


# ---------------------------------------------------------------------------
# corpus-wide line/paragraph dedup


def _line_docs(spark):
    return spark.createDataFrame(
        [
            (1, "alpha beta\ncommon line\nx"),
            (2, "common line\ngamma delta\nx"),
            (3, "unique only\n\ncommon line"),
        ],
        "doc_id long, text string",
    )


def test_line_dedup_keep_first(spark):
    out = {
        r["doc_id"]: r
        for r in dedup.line_dedup(_line_docs(spark), keep="first").collect()
    }
    # doc 1 holds the first occurrence of every duplicated line
    assert out[1]["text"] == "alpha beta\ncommon line\nx"
    assert out[1]["n_lines"] == 3 and out[1]["n_kept"] == 3
    # doc 2 loses 'common line' and 'x' to doc 1
    assert out[2]["text"] == "gamma delta"
    assert out[2]["n_kept"] == 1
    # blank line is exempt (min_chars); 'common line' dropped
    assert out[3]["text"] == "unique only\n"
    assert out[3]["n_kept"] == 2


def test_line_dedup_keep_unique_drops_all_occurrences(spark):
    out = {
        r["doc_id"]: r["text"]
        for r in dedup.line_dedup(_line_docs(spark), keep="unique").collect()
    }
    assert out[1] == "alpha beta"
    assert out[2] == "gamma delta"
    assert out[3] == "unique only\n"


def test_line_dedup_idempotent_and_portable_parity(spark):
    docs = _line_docs(spark)
    once = dedup.line_dedup(docs, keep="first")
    twice = dedup.line_dedup(once.select("doc_id", "text"), keep="first")
    t1 = {r["doc_id"]: r["text"] for r in once.collect()}
    t2 = {r["doc_id"]: r["text"] for r in twice.collect()}
    assert t1 == t2  # after dedup every eligible line is globally unique
    via_md5 = {
        r["doc_id"]: r["text"]
        for r in dedup.line_dedup(docs, keep="first", portable=True).collect()
    }
    assert via_md5 == t1


def test_line_dedup_on_corpus_preserves_doc_count(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup.line_dedup(docs, sep=" ", min_chars=1, keep="first")
    assert out.count() == docs.count()
    stats = out.agg(
        F.sum("n_lines").alias("nl"), F.sum("n_kept").alias("nk")
    ).first()
    assert 0 < stats["nk"] < stats["nl"]  # word-soup corpus must collide


# ---------------------------------------------------------------------------
# cross-doc overlap + TF-IDF invariants


def test_cross_doc_overlap_bounds(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),  # exact dup of 1
            (3, "zeta eta theta iota kappa"),  # fully unique
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.cross_doc_overlap(docs).collect()}
    assert out[1]["overlap_frac"] == 1.0 and out[2]["overlap_frac"] == 1.0
    assert out[3]["overlap_frac"] == 0.0 and out[3]["n_shared"] == 0
    assert out[1]["n_shingles"] == 3  # 5 tokens -> 3 trigrams


def test_tfidf_rare_term_outranks_common(spark):
    from big_data_project_jan_2026_tick_data__spark.operators import text as t

    docs = spark.createDataFrame(
        [
            (1, "shared rareword"),
            (2, "shared shared shared"),
            (3, "shared other other"),
        ],
        "doc_id long, text string",
    )
    top = {
        r["doc_id"]: r["term"]
        for r in t.tfidf_top_terms(docs, k=1).collect()
    }
    # at equal tf, the rare term (df=1, idf ln(2)+1) beats the
    # corpus-wide one (df=3, idf exactly 1)
    assert top[1] == "rareword"
    assert top[3] == "other"
    full = t.tfidf_top_terms(docs, k=10)
    assert full.filter("rank > 10").count() == 0
    # ranks are dense 1..k per doc
    import collections

    ranks = collections.defaultdict(list)
    for r in full.collect():
        ranks[r["doc_id"]].append(r["rank"])
    for v in ranks.values():
        assert sorted(v) == list(range(1, len(v) + 1))


def test_chunk_windows_contract(spark):
    from big_data_project_jan_2026_tick_data__spark.operators import text as t

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    rows = t.chunk_windows(docs, chunk_tokens=4, overlap=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 10 tokens, window 4, stride 2 -> 1 + ceil(6/2) = 4 chunks
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk_text"] for r in c1] == [
        "w0 w1 w2 w3", "w2 w3 w4 w5", "w4 w5 w6 w7", "w6 w7 w8 w9",
    ]
    assert all(r["n_tokens"] == 4 for r in c1)
    # consecutive chunks overlap by exactly `overlap` tokens
    for prev, nxt in zip(c1, c1[1:]):
        assert prev["chunk_text"].split()[-2:] == nxt["chunk_text"].split()[:2]
    assert by_doc[2][0]["chunk_text"] == "a b" and by_doc[2][0]["n_tokens"] == 2
    assert by_doc[3][0]["n_tokens"] == 0


def test_symbol_correlation_known_values(spark):
    from big_data_project_jan_2026_tick_data__spark.operators import stats as s

    rows = []
    for b in range(20):
        v = float(b)
        rows.append(("A", b * 3600, v))          # identity series
        rows.append(("B", b * 3600, 2 * v + 5))  # affine of A -> corr 1
        rows.append(("C", b * 3600, -v))         # negated -> corr -1
    df = spark.createDataFrame(rows, "symbol string, ts long, value double")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r["sym_a"], r["sym_b"]): r
        for r in s.symbol_correlation(df, interval_sec=3600).collect()
    }
    assert out[("A", "B")]["corr"] == 1.0
    assert out[("A", "C")]["corr"] == -1.0
    assert out[("B", "C")]["corr"] == -1.0
    assert all(r["n_buckets"] == 20 for r in out.values())


def test_funnel_ordered_semantics(spark):
    from big_data_project_jan_2026_tick_data__spark.operators import stats as s

    rows = [
        # u1 completes in order
        (1, 10, "view"), (1, 20, "click"), (1, 30, "purchase"),
        # u2 clicks BEFORE viewing: click doesn't count, purchase after a
        # later click does not exist -> reaches only 'view'
        (2, 20, "click"), (2, 30, "view"), (2, 25, "purchase"),
        # u3 never views -> reaches nothing
        (3, 10, "click"), (3, 20, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["step"]: r for r in s.funnel(df, ("view", "click", "purchase")).collect()}
    assert out["view"]["users"] == 2
    assert out["click"]["users"] == 1  # only u1's post-view click
    assert out["purchase"]["users"] == 1
    assert out["view"]["conversion_q6"] == 1.0
    assert out["click"]["conversion_q6"] == 0.5


def test_retention_cohorts_contract(spark):
    from big_data_project_jan_2026_tick_data__spark.operators import stats as s

    day = 86400
    rows = [
        (1, 0), (1, 7 * day),            # week0 cohort, active w0+w1
        (2, 0),                           # week0 cohort, only w0
        (3, 7 * day), (3, 21 * day),      # week1 cohort, active w1+w3
    ]
    df = spark.createDataFrame(rows, "user_id long, ts long").withColumn(
        "ts", (F.col("ts") + 4 * day).cast("timestamp")  # 1970-01-05 is a Monday
    )
    out = {
        (str(r["cohort_week"]), r["week_offset"]): r
        for r in s.retention_cohorts(df).collect()
    }
    w0, w1 = "1970-01-05", "1970-01-12"
    assert out[(w0, 0)]["active_users"] == 2 and out[(w0, 0)]["retention_q6"] == 1.0
    assert out[(w0, 1)]["active_users"] == 1 and out[(w0, 1)]["retention_q6"] == 0.5
    assert out[(w1, 0)]["active_users"] == 1
    assert out[(w1, 2)]["active_users"] == 1 and out[(w1, 2)]["retention_q6"] == 1.0
    assert (w1, 1) not in out  # inactive cells are absent, not zero


def test_line_dedup_literal_separator_and_null_text(spark):
    """sep is a LITERAL separator even when it is a regex metachar, and a
    NULL text still yields the contractual one output row (review
    findings: '|' used to split between every character; NULL docs
    vanished entirely)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta|common x|gamma"), (2, "common x|delta"), (3, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.line_dedup(docs, sep="|").collect()}
    assert len(out) == 3
    assert out[1]["text"] == "alpha beta|common x|gamma"
    assert out[2]["text"] == "delta"  # 'common x' kept only in doc 1
    assert out[3]["text"] == "" and out[3]["n_lines"] == 1


def test_lead_lag_correlation_detects_shifted_series(spark):
    """B = A shifted one bucket later → the (A leads B, k=1) diff
    correlation is exactly 1; the reverse direction is not — the scan
    must be directional."""
    from big_data_project_jan_2026_tick_data__spark.operators import stats as s

    sig = [0.0, 5.0, 1.0, 8.0, 2.0, 9.0, 3.0, 7.0, 4.0, 6.0, 0.0, 8.0]
    rows = []
    for b, v in enumerate(sig):
        rows.append(("A", b * 3600, v))
        rows.append(("B", (b + 1) * 3600, v))  # B lags A by one bucket
    df = spark.createDataFrame(rows, "symbol string, ts long, value double")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r["sym_lead"], r["sym_lag"], r["lag_buckets"]): r
        for r in s.lead_lag_correlation(df, interval_sec=3600, max_lag=2).collect()
    }
    assert out[("A", "B", 1)]["corr_q6"] == 1.0
    assert out[("B", "A", 1)]["corr_q6"] < 1.0
    # diffs span buckets 1..11 for A, 2..12 for B; k=1 aligns all 11
    assert out[("A", "B", 1)]["n_buckets"] == 11


def test_symbol_correlation_drops_zero_variance_series(spark):
    from big_data_project_jan_2026_tick_data__spark.operators import stats as s

    rows = []
    for b in range(10):
        rows.append(("A", b * 3600, float(b)))
        rows.append(("FLAT", b * 3600, 7.0))  # halted ticker: constant
    df = spark.createDataFrame(rows, "symbol string, ts long, value double")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    out = s.symbol_correlation(df, interval_sec=3600).collect()
    assert out == []  # the only pair involves the flat series -> dropped


def test_lm_cross_entropy_matches_python_oracle(spark):
    from big_data_project_jan_2026_tick_data__spark.operators import text as t
    import math
    from collections import Counter

    corpus = {
        1: "the cat sat on the mat",
        2: "the dog sat on the rug",
        3: "zx qq vv zx qq",
    }
    docs = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    got = {r["doc_id"]: r for r in t.lm_cross_entropy(docs).collect()}

    toks = {k: v.split() for k, v in corpus.items()}
    uni = Counter(w for ws in toks.values() for w in ws)
    big = Counter(
        (ws[i], ws[i + 1]) for ws in toks.values() for i in range(len(ws) - 1)
    )
    V, N = len(uni), sum(uni.values())
    for k, ws in toks.items():
        lps = [math.log2((uni[ws[0]] + 1) / (N + V))]
        for i in range(1, len(ws)):
            lps.append(
                math.log2((big[(ws[i - 1], ws[i])] + 1) / (uni[ws[i - 1]] + V))
            )
        h = -sum(lps) / len(lps)
        assert got[k]["n_tokens"] == len(ws)
        assert got[k]["cross_entropy"] == math.floor(h * 1e6 + 0.5) / 1e6
        assert got[k]["perplexity"] == math.floor(2**h * 1e6 + 0.5) / 1e6


def test_lm_perplexity_flags_out_of_distribution(spark):
    from big_data_project_jan_2026_tick_data__spark.operators import text as t

    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)]
    rows.append((100, "qzx wvk jjq pzn mmv tkk"))  # garbled outlier
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["perplexity"] for r in t.lm_cross_entropy(docs).collect()}
    in_dist = max(v for k, v in out.items() if k != 100)
    assert out[100] > 3 * in_dist  # the outlier is clearly separable


def test_transition_matrix_hand_case(spark):
    import pytest

    from big_data_project_jan_2026_tick_data__spark.operators import stats as s

    rows = [
        (1, 0, 10, "a"), (1, 1, 20, "b"), (1, 2, 30, "a"), (1, 3, 40, "b"),
        (2, 4, 10, "a"), (2, 5, 20, "a"),
    ]
    df = spark.createDataFrame(rows, "user_id long, eid long, ts long, event_type string")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r["state"], r["next_state"]): r
        for r in s.transition_matrix(df, tiebreak_cols=("eid",)).collect()
    }
    # user1: a->b, b->a, a->b ; user2: a->a
    assert out[("a", "b")]["n"] == 2
    assert out[("b", "a")]["n"] == 1
    assert out[("a", "a")]["n"] == 1
    assert out[("a", "b")]["prob_q6"] == pytest.approx(2 / 3, abs=1e-6)
    assert out[("b", "a")]["prob_q6"] == 1.0
    # last event of each user emits no transition
    assert sum(r["n"] for r in out.values()) == 4


def test_survivorship_keeps_best_per_cluster(spark):
    from big_data_project_jan_2026_tick_data__spark.operators import dedup

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5)], "doc_id long, cluster_id long"
    )
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1), (5, 0.7)],
        "doc_id long, quality double",
    )
    out = {r["doc_id"]: r for r in dedup.survivorship(clusters, scores).collect()}
    # cluster 1: docs 2 and 3 tie at 0.9 -> lowest id (2) survives
    assert out[2]["is_kept"] and not out[3]["is_kept"] and not out[1]["is_kept"]
    assert out[2]["n_in_cluster"] == 3
    # singletons always survive
    assert out[4]["is_kept"] and out[5]["is_kept"]


# ---------------------------------------------------------------------------
# the shared capped bucket join behind the near-dup family


def _pairs(df):
    return sorted((r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect())


def test_drop_hot_counts_over_the_union_of_both_sides(spark):
    """A bucket within the cap on each side but above it in the union
    is as quadratic as a one-shot hot bucket: it leaves BOTH sides."""
    existing = spark.createDataFrame(
        [(i, "hot") for i in range(3)] + [(10, "cold")], "id long, k string"
    )
    new = spark.createDataFrame(
        [(i, "hot") for i in range(3, 6)] + [(11, "cold")], "id long, k string"
    )
    kept_e, kept_n = dedup._drop_hot([existing, new], ["k"], 4)
    assert [(r.id, r.k) for r in kept_e.collect()] == [(10, "cold")]
    assert [(r.id, r.k) for r in kept_n.collect()] == [(11, "cold")]
    # each side alone stays within the cap
    assert dedup._drop_hot([existing], ["k"], 4)[0].count() == 4


def test_drop_hot_without_cap_keeps_every_bucket(spark):
    sides = [
        spark.createDataFrame([(i, "hot") for i in range(50)], "id long, k string"),
        spark.createDataFrame([(99, "hot")], "id long, k string"),
    ]
    kept = dedup._drop_hot(sides, ["k"], None)
    assert [side.count() for side in kept] == [50, 1]
    # a cap of zero drops every bucket
    assert [side.count() for side in dedup._drop_hot(sides, ["k"], 0)] == [0, 0]


def test_bucket_pairs_multi_bucket_pair_once(spark):
    """Rows 1 and 2 share three bands (and row 3 shares one with 2): with
    ``multi_bucket`` each pair comes out once, not once per band."""
    entries = spark.createDataFrame(
        [(1, 0, "x"), (1, 1, "y"), (1, 2, "z"),
         (2, 0, "x"), (2, 1, "y"), (2, 2, "z"), (2, 3, "w"),
         (3, 3, "w")],
        "doc_id long, band_idx int, band string",
    )
    key = ["band_idx", "band"]
    once = dedup._bucket_pairs([entries], key, "doc_id", multi_bucket=True)
    assert _pairs(once) == [(1, 2), (2, 3)]
    # the same for the two-sided (existing × new) join
    new = entries.filter("doc_id = 2")
    old = entries.filter("doc_id <> 2")
    cross = dedup._bucket_pairs([old, new], key, "doc_id", multi_bucket=True)
    assert _pairs(cross) == [(1, 2), (3, 2)]
    # and through the public pigeonhole join: identical fingerprints
    # share all four segments yet pair once
    fps = spark.createDataFrame(
        [(1, 0x123456789ABCDEF), (2, 0x123456789ABCDEF)], "id long, fp long"
    )
    ham = dedup.hamming_pairs(fps, fp_col="fp", id_col="id")
    assert [tuple(r) for r in ham.collect()] == [(1, 2, 0)]


def test_bucket_pairs_self_join_is_ordered_and_irreflexive(spark):
    """A self-join emits each unordered pair once as (lower, higher):
    never (x, x), never (b, a)."""
    rows = spark.createDataFrame(
        [(3, "k", 30.0), (1, "k", 10.0), (2, "k", 20.0), (4, "other", 40.0)],
        "id long, bucket string, v double",
    )
    pairs = dedup._bucket_pairs([rows], ["bucket"], "id", carry=("v",))
    got = sorted(tuple(r) for r in pairs.collect())
    assert got == [(1, 2, 10.0, 20.0), (1, 3, 10.0, 30.0), (2, 3, 20.0, 30.0)]
    assert pairs.columns == ["id_a", "id_b", "v_a", "v_b"]
