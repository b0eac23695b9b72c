"""Deduplication operators (exact + near-dup) for training-data pipelines.

Design for 100 TB: every variant is shuffle-minimal —
- exact: one hash-partition on the content hash (no sort of full text);
- MinHash/LSH: signatures via explode+groupBy (one shuffle), candidate
  generation via band-bucket equi-join (hash join on small keys), never an
  O(n²) cross join;
- SimHash: per-doc bit arithmetic, candidates via rotated-prefix buckets.

All signature math is built-in expressions (xxhash64 family) — JVM-side,
no Python in the hot path.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import q6
from .text import normalize_text


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    portable: bool = False,
) -> DataFrame:
    """Exact dedup: keep the lowest-id document per identical (normalized)
    content. Shuffles on the content hash, not the text itself.
    ``portable=True`` keys on md5 instead of xxhash64 — slower, but
    reproducible by any external engine (export manifests, oracles)."""
    content = normalize_text(F.col(text_col)) if normalize else F.col(text_col)
    h = F.md5(content) if portable else F.xxhash64(content)
    w = Window.partitionBy(h).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


_MAX_TOKENS = 1 << 20


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle set of a normalized text column (distinct).

    Built as a chain of ``zip_with(toks, slice(toks, k+1, …), concat)`` —
    lambda arguments are array *elements*, so the token array is computed
    once per row. (The obvious ``transform(sequence, i -> slice(toks,
    i+1, n))`` re-evaluates the whole split-normalize expression per
    element — ~10× slower.) Shorter-than-n docs yield one partial gram,
    matching the index-based semantics.
    """
    toks = F.split(normalize_text(col), " ")
    g = toks
    for k in range(1, n):
        g = F.zip_with(
            g, F.slice(toks, k + 1, _MAX_TOKENS), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    full = F.filter(g, lambda x: x.isNotNull())
    partial = F.array(F.array_join(toks, " "))
    return F.array_distinct(F.when(F.size(toks) < n, partial).otherwise(full))


_P31 = (1 << 31) - 1  # Mersenne prime: 31-bit operands keep products < 2^62


def shingle_hashes(
    col_name: str, n: int = 3, token_hash: str = "xxhash64"
) -> Column:
    """Distinct 31-bit hashes of the word n-gram shingles of a text
    column — WITHOUT materializing shingle strings. Per-token xxhash64
    (one string hash per token, not per n-gram), then n-grams combine
    the n token hashes with modular polynomial mixing (`h*K + h' mod p`,
    all long arithmetic, ANSI-safe). ~2× cheaper than building the
    concatenated n-gram string and hashing it, which is the dominant
    per-shingle cost in MinHash signatures.

    Built as ONE ``F.expr`` SQL string rather than nested higher-order
    ``Column`` builders: each pyspark lambda/operator crosses py4j, and
    the chatter adds ~1 s of driver-side DataFrame-construction latency
    per query — a parsed SQL string is a single round trip. Takes the
    column NAME for that reason. The token-hash array appears several
    times in the tree; whole-stage codegen's common-subexpression
    elimination evaluates it once per row.

    ``token_hash``: 'xxhash64' (default — fastest JVM intrinsic, but no
    SQL twin outside Spark) or 'md5' (28-bit md5 hex prefix — any SQL
    engine recomputes it, the hash the value-oracled registry queries
    use). Everything downstream of the token hash (polynomial n-gram
    combine, Carter-Wegman permutations, banding) is engine-portable
    long arithmetic either way."""
    return F.expr(_shingle_hashes_sql(col_name, n, token_hash))


def _token_hash_sql(token_hash: str) -> str:
    """Per-token 31-bit-ranged hash expression (Spark SQL) for lambda
    variable ``t``.  'md5' takes the first 7 hex digits (28 bits < p) —
    bit-identical to DuckDB's ``CAST(concat('0x', substr(md5(t), 1, 7))
    AS BIGINT)``."""
    if token_hash == "xxhash64":
        return f"pmod(xxhash64(t), {_P31}L)"
    if token_hash == "md5":
        return "cast(conv(substr(md5(t), 1, 7), 16, 10) as bigint)"
    raise ValueError(f"token_hash must be xxhash64|md5, got {token_hash!r}")


def _token_hashes_sql(col_name: str, token_hash: str = "xxhash64") -> str:
    """array<long> of per-token 31-bit hashes over the normalized text —
    the ONE place the per-token hash (md5 on the portable path) runs."""
    from .text import normalize_sql

    norm = normalize_sql(col_name)
    return f"transform(split({norm}, ' '), t -> {_token_hash_sql(token_hash)})"


def _shingles_from_tokens_sql(th: str, n: int) -> str:
    """Shingle-hash array from a token-hash array expression ``th`` by
    modular polynomial mixing.  ``th`` appears ~2n times in the output
    tree and higher-order functions get no common-subexpression
    elimination, so CALLERS ON THE BATCH PATH must pass a COLUMN
    REFERENCE to a pre-projected token-hash array (advisor r8: the
    md5-portable headline was paying per-occurrence md5 several times
    over) — a raw ``transform(...)`` argument re-hashes every token at
    every occurrence."""
    g = th
    for k in range(1, n):
        g = (
            f"zip_with({g}, slice({th}, {k + 1}, {_MAX_TOKENS}), "
            f"(a, b) -> pmod(a * 1000003L + b, {_P31}L))"
        )
    partial = (
        f"array(aggregate({th}, 0L, (acc, h) -> pmod(acc * 1000003L + h, {_P31}L)))"
    )
    return (
        f"array_distinct(CASE WHEN size({th}) < {n} THEN {partial} "
        f"ELSE filter({g}, x -> x IS NOT NULL) END)"
    )


def _shingle_hashes_sql(
    col_name: str, n: int, token_hash: str = "xxhash64"
) -> str:
    """The SQL text behind :func:`shingle_hashes` (reused verbatim by
    per-row signature builders). Single-expression form — fine for the
    cheap xxhash64 default; the batch md5 path goes through
    :func:`_token_hashes_sql` + a materializing projection instead."""
    return _shingles_from_tokens_sql(_token_hashes_sql(col_name, token_hash), n)


def _mh_consts(i: int) -> tuple[int, int]:
    """Deterministic 31-bit Carter-Wegman multiplier/offset for
    permutation ``i`` (splitmix-style constants) — shared by the batch
    (explode+agg) and per-row (HOF) signature builders so the two
    formulations are bit-identical."""
    p = _P31
    a = ((0x9E3779B97F4A7C15 * (2 * i + 1)) >> 33) % (p - 1) + 1  # 1..p-1
    b = (0xBF58476D1CE4E5B9 * (i + 1)) % p
    return a, b


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of a
    Carter-Wegman universal hash ``(a_i·h + b_i) mod p``.

    Strategy: 31-bit shingle hashes straight from token hashes (see
    :func:`shingle_hashes` — no shingle strings materialized), then
    ``num_hashes`` modular linear permutations — 31-bit operands keep
    every product under 2^62, so the math cannot overflow and is safe
    under ``spark.sql.ansi.enabled=true`` (Spark 4 default, where
    signed-64 wraparound raises ARITHMETIC_OVERFLOW; the previous
    ``a·h + b`` over wrapping int64 relied on exactly that wraparound
    for mixing). Each permutation is mul+add+mod — cheaper than
    re-hashing with xxhash64 per permutation.
    Partial (map-side) aggregation collapses each partition to one
    num_hashes-long row per doc before the shuffle, so shuffle volume is
    O(#docs), not O(#shingles).

    The token-hash array is projected in its OWN select so each token is
    hashed exactly once: the shingle expression references the array
    ~2·shingle_n times, HOFs get no subexpression elimination, and
    Catalyst's CollapseProject keeps a non-cheap multiply-referenced
    alias un-inlined — without the split the md5-portable path re-hashed
    every token occurrence per reference (advisor r8 headline cost).
    """
    tokens = df.select(
        F.col(id_col),
        F.expr(_token_hashes_sql(text_col, token_hash)).alias("__th"),
    )
    sh = tokens.select(
        F.col(id_col),
        F.explode(F.expr(_shingles_from_tokens_sql("__th", shingle_n))).alias("__h"),
    )
    return _signatures_from_hashes(sh, id_col, num_hashes)


def _signatures_from_hashes(sh: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """(id, __h) exploded shingle hashes → (id, sig array) via the shared
    Carter-Wegman permutations; one map-side-combined groupBy."""
    p = _P31
    aggs = []
    for i in range(num_hashes):
        a, b = _mh_consts(i)
        aggs.append(
            F.expr(f"min(pmod(__h * {a}L + {b}L, {p}L))").alias(f"h{i}")
        )
    sigs = sh.groupBy(id_col).agg(*aggs)
    return sigs.select(
        F.col(id_col),
        F.expr(f"array({', '.join(f'h{i}' for i in range(num_hashes))})").alias("sig"),
    )


def minhash_signature_col(
    text_col: str = "text", num_hashes: int = 8, shingle_n: int = 3
) -> Column:
    """Per-ROW MinHash signature (array<long>) — ``array_min`` over the
    permuted shingle hashes, entirely map-side. ~2× slower than
    :func:`minhash_signatures`'s explode + codegen'd hash-agg on batch
    data (measured at sf0.1), but it needs NO aggregation, which makes
    it the only formulation usable upstream of stateful streaming
    operators (``dropDuplicatesWithinWatermark`` cannot follow a
    streaming agg) and as a derived column inside any other plan."""
    return F.expr(minhash_sig_sql(text_col, num_hashes, shingle_n))


def minhash_sig_sql(
    text_col: str, num_hashes: int = 8, shingle_n: int = 3
) -> str:
    """The SQL text behind :func:`minhash_signature_col` — also the body
    of the ``minhash_sig8`` SQL macro (`functions/sql_macros.py`), so the
    DataFrame and plain-SQL surfaces cannot drift."""
    p = _P31
    sh = _shingle_hashes_sql(text_col, shingle_n)
    terms = ", ".join(
        f"array_min(transform(__mh_sh, h -> pmod(h * {a}L + {b}L, {p}L)))"
        for a, b in (_mh_consts(i) for i in range(num_hashes))
    )
    # bind the shingle array to a lambda variable (transform over a
    # 1-element array) so the shingle expression is evaluated once per
    # row, not once per permutation
    return f"transform(array({sh}), __mh_sh -> array({terms}))[0]"


def _drop_hot(
    sides: list[DataFrame], key_cols: list[str], cap: int | None
) -> list[DataFrame]:
    """The near-dup family's hot-key safety valve. A key (band bucket,
    fingerprint segment, shingle, cluster) held by m entries yields m²/2
    candidate pairs, so one degenerate key (boilerplate, empty docs,
    identical vectors) turns the pair join quadratic at corpus scale.
    Keys with more than ``cap`` entries are dropped from every side
    before that join; with two sides (existing, new) the count runs over
    their union — a key degenerate in the union is exactly as quadratic
    as in a one-shot pass. Hot keys are few (≤ entries/cap), so they are
    found with a map-side-combined count and broadcast-anti-joined away:
    no sort and no extra shuffle of the entries. ``cap=None`` returns the
    sides unchanged."""
    if cap is None:
        return sides
    keys = sides[0].select(*key_cols)
    for side in sides[1:]:
        keys = keys.unionAll(side.select(*key_cols))
    hot = (
        keys.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > cap)
        .select(*key_cols)
    )
    return [side.join(F.broadcast(hot), key_cols, "left_anti") for side in sides]


def _bucket_pairs(
    sides: list[DataFrame],
    key_cols: list[str],
    id_col: str,
    carry: tuple[str, ...] = (),
    multi_bucket: bool = False,
) -> DataFrame:
    """Candidate pairs by an equi-join on the bucket key — never a cross
    product. One side self-joins with ``id_a < id_b`` (each unordered
    pair once, never ``(x, x)``); two sides pair each existing row
    (``id_a``) with each new row (``id_b``). ``carry`` columns come
    through as ``<c>_a`` / ``<c>_b``. ``multi_bucket``: a row sits in
    several buckets (LSH bands, pigeonhole segments), so a pair can meet
    more than once and is deduplicated on ``(id_a, id_b)``; single-bucket
    joins skip that shuffle."""
    a, b = sides[0].alias("a"), sides[-1].alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in key_cols]
    if len(sides) == 1:
        on.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    pairs = a.join(b, on).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
    )
    return pairs.dropDuplicates(["id_a", "id_b"]) if multi_bucket else pairs


def _set_overlap(sides: list[DataFrame], cap: int | None) -> DataFrame:
    """``(id_a, id_b, inter, sz_a, sz_b)`` for every pair of sets sharing
    an element: ``sides`` are ``(id, g)`` frames with distinct elements
    per id. Elements in more than ``cap`` sets are dropped from both the
    intersections and the set sizes (the overlap is then exact over the
    reduced universe — hot elements carry no similarity signal). Each
    pruned side feeds its sizes and the element join, so it is
    materialized once: one row per distinct element occurrence, the
    volume the join shuffles anyway, instead of re-running the source
    explode per branch."""
    sides = [side.localCheckpoint() for side in _drop_hot(sides, ["g"], cap)]
    sizes = [side.groupBy("id").agg(F.count(F.lit(1)).alias("sz")) for side in sides]
    inter = (
        _bucket_pairs(sides, ["g"], "id")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return inter.join(
        sizes[0].select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a"
    ).join(sizes[-1].select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")


def _band_entries(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int, portable: bool
) -> DataFrame:
    """(id, band_idx, band) LSH band entries of a signature column: each
    band's signature slice as one xxhash64 (fixed width, no string per
    band), or as its '-'-joined string (``portable`` — any SQL engine
    re-derives the key). One SQL string, not bands × rows py4j calls."""
    rows = num_hashes // bands
    key = "concat_ws('-', {})" if portable else "xxhash64({})"
    band_arr = ", ".join(
        key.format(", ".join(f"sig[{b * rows + r}]" for r in range(rows)))
        for b in range(bands)
    )
    return sigs.select(
        F.col(id_col),
        F.posexplode(F.expr(f"array({band_arr})")).alias("band_idx", "band"),
    )


def _lsh_pairs(
    sigs: list[DataFrame],
    id_col: str,
    num_hashes: int,
    bands: int,
    cap: int | None,
    portable: bool,
) -> DataFrame:
    """(id_a, id_b, est_jaccard) from one signature table (self-join) or
    two (existing × new). The band join runs on SLIM entries (id, band
    only): carrying the num_hashes-long signature through both sides
    would multiply its width ~8×. Signatures are joined back only for the
    far fewer candidate pairs — and a signature groupBy's output is
    already hash-partitioned by id, so the join-back needs no new
    exchange of the signature table."""
    key = ["band_idx", "band"]
    entries = [_band_entries(s, id_col, num_hashes, bands, portable) for s in sigs]
    pairs = _bucket_pairs(
        _drop_hot(entries, key, cap), key, id_col, multi_bucket=True
    )
    sa = sigs[0].select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs[-1].select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    # divisor must be an explicit DOUBLE: a bare `64.0` literal parses as
    # DECIMAL in Spark SQL and would silently decimal-ize the estimate
    est = F.expr(
        "round(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))"
        f" / cast({num_hashes} as double), 6)"
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = 1000,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH: split the signature
    into ``bands`` bands of ``num_hashes//bands`` rows, hash each band,
    self-join on (band_idx, band_hash). Output: (id_a, id_b) with a < b,
    plus the estimated Jaccard from full-signature agreement.

    ``token_hash='md5'`` makes the ENTIRE pair set re-derivable by any
    SQL engine (the registry oracle banding buckets on the signature
    slice TUPLE, which partitions docs identically to the xxhash64 band
    key here short of a 2^-64 collision); 'xxhash64' is the fastest
    non-portable path.

    ``max_bucket_size`` is the hot-bucket safety valve for real corpora
    (:func:`_drop_hot`): band buckets larger than the cap are dropped
    *before* the self-join. Near-dup semantics degrade gracefully —
    docs in a dropped bucket still pair through their other bands.
    ``None`` disables the cap."""
    # Materialize signatures once: they feed five plan branches (both
    # band-join sides, the hot-bucket count, and both signature
    # join-backs), and lineage recompute would re-run the corpus-sized
    # shingle explode + 64-way agg per branch (scan-audit finding; no
    # ReusedExchange fires because the branch projections differ). The
    # signature table is #docs × num_hashes longs — tiny next to text.
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n, token_hash
    ).localCheckpoint()
    return _lsh_pairs(
        [sigs], id_col, num_hashes, bands, max_bucket_size, portable=False
    )


def md5_minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig) engine-reproducible MinHash signatures — the column you
    PERSIST: num_hashes int64s per document replace the text for all
    future near-dup work, and any SQL engine can recompute them (md5
    shingle hashes + shared Carter-Wegman permutations)."""
    sh = df.select(
        F.col(id_col),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("__s"),
    ).select(
        id_col,
        F.expr("cast(conv(substr(md5(__s), 1, 7), 16, 10) as bigint)").alias("__h"),
    )
    return _signatures_from_hashes(sh, id_col, num_hashes)


def incremental_minhash_pairs(
    existing_sigs: DataFrame,
    batch_sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs between an arriving batch and an ALREADY-SIGNED
    corpus — the incremental twin of :func:`md5_minhash_lsh_pairs`, and
    the reason :func:`md5_minhash_signatures` exists as a persistable
    column: at 100 TB the corpus text is never re-read and its signatures
    never recomputed — the stored (id, sig) table (num_hashes int64s per
    doc) is banded and equi-joined against the new batch's bands.
    Batch-internal pairs are ``md5_minhash_lsh_pairs`` on the batch
    alone; this function covers the cross generation.

    The hot-bucket cap counts entries across BOTH sides (a bucket
    degenerate in the union is exactly as quadratic as in the one-shot
    pipeline) and drops them before the join, same safety valve as the
    one-shot path. Returns (id_existing, id_new, est_jaccard)."""
    return _lsh_pairs(
        [existing_sigs, batch_sigs], id_col, num_hashes, bands, max_bucket_size,
        portable=True,
    ).select(
        F.col("id_a").alias("id_existing"), F.col("id_b").alias("id_new"), "est_jaccard"
    )


def md5_minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Engine-reproducible MinHash+LSH: shingle hashes come from md5 of
    the shingle STRING (28 bits from the first 7 hex chars — any SQL
    engine recomputes them), signatures use the shared Carter-Wegman
    permutations, and band keys are the plain '-'-joined signature
    slices. ~2-3× the cost of :func:`minhash_lsh_pairs` (string shingles
    + md5 vs token-hash mixing; portable band strings vs xxhash64) —
    exists so the FULL LSH pipeline (signature → band → candidate pair →
    similarity estimate) gets an independent value-hash oracle, not a
    rows-only check. Same hot-bucket cap and slim-join shape."""
    # same five-branch reuse as minhash_lsh_pairs — materialize once
    sigs = md5_minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n
    ).localCheckpoint()
    return _lsh_pairs(
        [sigs], id_col, num_hashes, bands, max_bucket_size, portable=True
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.0,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs, computed distributively:
    explode shingles, self-join on shingle (co-occurrence count = |A∩B|),
    join per-doc sizes for |A∪B|. No cross join — the shuffle key is the
    shingle, so common shingles dominate cost.

    ``max_shingle_df`` caps that cost: a stopword shingle appearing in d
    documents yields d²/2 co-occurrence rows, so one hot 3-gram ("of the
    and"-class boilerplate) is quadratic at corpus scale. Shingles whose
    document frequency exceeds the cap are excluded from BOTH the
    intersection join and the per-doc set sizes, i.e. the result is the
    exact Jaccard over the reduced shingle universe (the standard
    df-filtered similarity; hot shingles carry no similarity signal
    anyway). ``None`` disables the cap."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("g"),
    )
    jaccard = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    out = (
        _set_overlap([sh], max_shingle_df)
        .withColumn("jaccard", F.round(jaccard, 6))
        .select("id_a", "id_b", "jaccard")
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 4,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share at
    least one word ``shingle_n``-gram with any benchmark document (the
    standard eval-leakage check run before training; cf. GPT-3 §C /
    Llama-style 8-to-13-gram overlap, shortened here so small corpora
    still collide).

    Distributed shape: both sides explode to distinct shingles, hashed
    to 64-bit keys (``xxhash64``) so the join shuffles 8-byte keys, never
    n-gram strings. The benchmark side (eval suites — tiny next to a
    training corpus) is broadcast by default, making the whole check a
    map-side hash join: the 100 TB corpus is scanned once with zero
    shuffle before the final per-doc count agg. Set
    ``broadcast_benchmark=False`` for benchmark sets beyond broadcast
    size (falls back to a shuffle hash join on the 8-byte key).

    Returns one row per contaminated corpus doc:
    (id_col, n_hit_shingles, n_bench_docs).
    """
    def sh(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(shingles(F.col(text_col), shingle_n)).alias("__s"),
        ).select(out_id, F.xxhash64("__s").alias("__h"))

    c = sh(corpus, "__cid")
    b = sh(benchmark, "__bid").distinct()
    if broadcast_benchmark:
        b = F.broadcast(b)
    return (
        c.join(b, "__h")
        .groupBy(F.col("__cid").alias(id_col))
        .agg(
            F.countDistinct("__h").alias("n_hit_shingles"),
            F.countDistinct("__bid").alias("n_bench_docs"),
        )
    )


def dup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-duplicate pairs: the step after
    pair generation in a real dedup pipeline — transitively group pairs
    into clusters and tag every document with its cluster's minimum id
    (the canonical representative; ``doc_id == cluster_id`` rows are the
    keepers).

    Min-label propagation: every node starts labeled with its own id and
    repeatedly takes the min of its label and its neighbors' labels —
    converges in O(component diameter) joins, which for near-dup graphs
    (tiny, dense components) is a handful of iterations. Each iteration
    is one shuffle on the edge key; ``localCheckpoint`` truncates the
    growing lineage, and superseded checkpoints are unpersisted as the
    loop advances (engine.CheckpointTracker — ``Dataset.unpersist``
    cannot free checkpoint blocks, so without this a long-lived driver
    leaks one label-frame copy per iteration per call). The
    driver-side convergence ``count()`` runs every
    SECOND iteration only (it exists purely to stop the loop; propagation
    itself is label-monotone, so overshooting by one iteration is a no-op
    on the result) — halves the scheduler-job overhead on deep
    components. At web scale the same loop applies (GraphFrames'
    alternating large/small-star halves the iteration count but the
    per-iteration plan is identical).
    """
    from ..engine import CheckpointTracker

    ckpts = CheckpointTracker(df.sparkSession)
    # Materialize the PAIR PIPELINE once (pinned for the whole loop):
    # every iteration joins against `edges`, and the convergence count
    # doubles the consumers — without this the upstream pair generation
    # (LSH bucket join + cosine rerank on the embedding path) re-executed
    # in FULL on every consumer of every iteration (measured 11.1 s ->
    # 2.8 s steady-state for emb_dup_clusters at sf0.01). The checkpoint is edge-set
    # sized, the same O(pairs) the loop shuffles anyway.
    cp = ckpts.ckpt(pairs.select("id_a", "id_b"), pin=True)
    e_fwd = cp.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e_rev = cp.select(F.col("id_b").alias("a"), F.col("id_a").alias("b"))
    edges = e_fwd.union(e_rev)
    labels = df.select(F.col(id_col).alias("id"), F.col(id_col).alias("label"))
    for it in range(max_iter):
        nbr = (
            edges.join(labels, edges.b == labels.id)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = ckpts.ckpt(
            labels.join(nbr, labels.id == nbr.a, "left").select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        check_now = it % 2 == 1 or it == max_iter - 1
        if check_now:
            changed = (
                new_labels.withColumnRenamed("label", "new_label")
                .join(labels, "id")
                .filter(F.col("new_label") != F.col("label"))
                .count()
            )
        labels = new_labels
        ckpts.release_superseded()
        if check_now and changed == 0:
            break
    ckpts.release_all_but_last()
    return labels.select(
        F.col("id").alias(id_col), F.col("label").alias("cluster_id")
    )


def md5_simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60
) -> DataFrame:
    """Engine-reproducible SimHash: per-token 60-bit hashes from md5 hex
    prefixes (any SQL engine recomputes them) instead of xxhash64 —
    otherwise identical to :func:`simhash` (per-bit ±1 sums, sign
    fingerprint). The portable twin that lets the SimHash pipeline carry
    a value-hash oracle."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).withColumn(
        "h", F.expr("cast(conv(substr(md5(tok), 1, 15), 16, 10) as bigint)")
    )
    aggs = [
        F.expr(
            f"sum(CASE WHEN (h & {1 << i}L) != 0 THEN 1 ELSE -1 END)"
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    sums = toks.groupBy(id_col).agg(*aggs)
    fp = " | ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i}L ELSE 0L END)" for i in range(bits)
    )
    return sums.select(F.col(id_col), F.expr(fp).alias("simhash"))


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    id_col: str = "doc_id",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: near-duplicate documents
    must land in the SAME split (else held-out examples leak into
    training through their near-copies). Components over the near-dup
    ``pairs`` graph (:func:`dup_clusters`) become the split unit; each
    cluster is assigned by an engine-portable md5 bucket of its
    cluster_id — deterministic, re-derivable in plain SQL, stable when
    the corpus grows (a cluster's id is its min member id, so adding
    unrelated docs never flips an existing cluster's split).

    Shuffle profile = dup_clusters (the label-propagation joins) plus
    one map-side bucket assignment; the split itself adds no shuffle.
    """
    clusters = dup_clusters(df, pairs, id_col=id_col)
    test_hi = format(min(int(test_frac * 65536), 65536), "04x")
    val_hi = format(min(int((test_frac + val_frac) * 65536), 65536), "04x")
    bucket = F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 4)
    return clusters.withColumn(
        "split",
        F.when(bucket < test_hi, "test")
        .when(bucket < val_hi, "val")
        .otherwise("train"),
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """64-bit SimHash per document: for each token hash, each bit
    contributes +1/-1; the sign of the per-bit sum forms the fingerprint.

    Pure Spark: explode tokens → for each bit position, sum the signed
    contribution ((hash >> bit) & 1 → ±1) — one groupBy(id) with ``bits``
    conditional sums, then assemble the integer. One shuffle."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    # single F.expr per bit (and one for the assembly) — nested Column
    # builders would cost ~6 py4j round trips per bit × 64 bits of pure
    # driver latency (see shingle_hashes)
    aggs = [
        F.expr(
            f"sum(CASE WHEN (h & shiftleft(1L, {i})) != 0 THEN 1 ELSE -1 END)"
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    sums = toks.groupBy(id_col).agg(*aggs)
    fp = " | ".join(
        f"(CASE WHEN b{i} > 0 THEN shiftleft(1L, {i}) ELSE 0L END)"
        for i in range(bits)
    )
    return sums.select(F.col(id_col), F.expr(fp).alias("simhash"))


def hamming_pairs(
    fps: DataFrame,
    fp_col: str,
    id_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket_size: int | None = 1000,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Pairs of rows whose 64-bit fingerprints differ by at most
    ``max_hamming`` bits — the pigeonhole segment join shared by SimHash
    text dedup and perceptual (dHash) media dedup: split the 64 bits into
    ``blocks`` segments; any pair within ``max_hamming`` (< blocks)
    shares at least one identical segment → equi-join per segment, then
    exact Hamming filter via ``bit_count(xor)``. ``max_bucket_size``
    drops degenerate segment buckets before the quadratic self-join
    (same hot-bucket guard as :func:`minhash_lsh_pairs`).

    ``group_cols`` joins the segments *within groups only* — required
    when fingerprints from different spaces share one table (media kinds,
    languages): the group columns become part of the bucket key, so
    cross-group coincidences are never even generated."""
    # Materialize the fingerprint table INSIDE the operator: the segment
    # explode has three consumers (hot-bucket count + both self-join
    # sides), and an un-materialized fps lineage re-executes per branch —
    # harmless for a cheap projection, 3× the whole decode pipeline for
    # pandas-UDF upstreams (the multimodal perceptual-hash path paid it
    # until the r12 sweep). #rows × 1-long — the cheapest frame in the
    # plan; callers no longer need their own call-site checkpoint.
    return _hamming_pairs(
        [fps.localCheckpoint()], fp_col, id_col, max_hamming, blocks,
        max_bucket_size, group_cols,
    )


def _hamming_pairs(
    sides: list[DataFrame],
    fp_col: str,
    id_col: str,
    max_hamming: int,
    blocks: int,
    cap: int | None,
    group_cols: tuple[str, ...],
) -> DataFrame:
    """(id_a, id_b, hamming) of the pigeonhole segment join over one
    fingerprint table (self-join) or two (existing × new)."""
    seg_bits = 64 // blocks
    mask = F.lit((1 << seg_bits) - 1).cast("long")
    segs = [
        side.select(
            F.col(id_col),
            F.col(fp_col),
            *[F.col(g) for g in group_cols],
            F.posexplode(
                F.array(
                    *[
                        F.shiftrightunsigned(F.col(fp_col), i * seg_bits).bitwiseAND(mask)
                        for i in range(blocks)
                    ]
                )
            ).alias("seg_idx", "seg"),
        )
        for side in sides
    ]
    key = [*group_cols, "seg_idx", "seg"]
    pairs = _bucket_pairs(
        _drop_hot(segs, key, cap), key, id_col, carry=(fp_col,), multi_bucket=True
    )
    hamming = F.bit_count(F.col(f"{fp_col}_a").bitwiseXOR(F.col(f"{fp_col}_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def incremental_hamming_pairs(
    existing_fps: DataFrame,
    batch_fps: DataFrame,
    fp_col: str,
    id_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket_size: int | None = 1000,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Fingerprint pairs between an arriving batch and the existing
    corpus — the Hamming twin of :func:`incremental_minhash_pairs`,
    shared by incremental SimHash text ingestion AND incremental
    perceptual media dedup (any 64-bit fingerprint space). The existing
    side is just its (id, fp[, group]) columns — 8 bytes per row,
    persisted once, never recomputed; a batch explodes its own segments
    and equi-joins the stored ones. The hot-bucket cap counts segment
    entries across BOTH generations. Returns
    (id_existing, id_new, hamming ≤ max_hamming)."""
    return _hamming_pairs(
        [existing_fps, batch_fps], fp_col, id_col, max_hamming, blocks,
        max_bucket_size, group_cols,
    ).select(
        F.col("id_a").alias("id_existing"), F.col("id_b").alias("id_new"), "hamming"
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket_size: int | None = 1000,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash — :func:`hamming_pairs` over
    :func:`simhash` fingerprints (``portable=True``: the 60-bit
    :func:`md5_simhash` fingerprints instead, so any SQL engine
    re-derives the identical pair set — the registry/oracle path)."""
    fps = (
        md5_simhash(df, text_col, id_col)
        if portable
        else simhash(df, text_col, id_col)
    )
    return hamming_pairs(
        # hamming_pairs materializes the #docs × 1-long fps table itself
        fps,
        fp_col="simhash",
        id_col=id_col,
        max_hamming=max_hamming,
        blocks=blocks,
        max_bucket_size=max_bucket_size,
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    keep: str = "first",
    min_chars: int = 1,
    portable: bool = False,
) -> DataFrame:
    """Corpus-wide line/paragraph dedup (the C4 / CCNet text-cleaning
    step the reference's corpus tooling lacks): split every document on
    ``sep``, and across the WHOLE corpus either keep only the first
    occurrence of each repeated line (``keep='first'``, C4-style — first
    = lowest ``(doc_id, position)``) or drop every occurrence of any
    line that appears more than once (``keep='unique'``, CCNet-style
    boilerplate removal). Documents are reassembled with surviving lines
    in their original order.

    Lines shorter than ``min_chars`` are exempt (always kept) — they
    carry structure, not content, and would otherwise all collide.

    Scale shape: two shuffles of the line corpus — one by line hash
    (window count / row_number; the full-text line rides along so there
    is no second join back to fetch it), one by ``id_col`` for
    reassembly. Never a self-join, never a cross product; skew on a
    viral line is bounded because the hash partition only carries that
    line's occurrences, and only slim (hash, id, pos) state feeds the
    window rank. ``portable=True`` keys on md5 instead of xxhash64 so
    any engine can re-derive the drop-set (oracle checks).

    Returns ``(id_col, text_col, n_lines, n_kept)`` — one row per input
    document (documents whose every line was dropped survive with empty
    text, so downstream length filters make the removal decision
    explicitly).
    """
    if keep not in ("first", "unique"):
        raise ValueError(f"keep must be 'first' or 'unique', got {keep!r}")
    line = F.col("__line")
    key = F.md5(line) if portable else F.xxhash64(line).cast("string")
    eligible = F.length(line) >= min_chars
    # exempt lines get a per-occurrence synthetic key: they rank 1 in a
    # singleton partition instead of piling into one skewed null-key
    # partition (a corpus is mostly short/blank lines)
    exempt_key = F.concat_ws("#", F.lit("__x"), F.col(id_col).cast("string"), F.col("__pos").cast("string"))
    # sep is a LITERAL separator: F.split takes a Java regex, so escape
    # every char (re.escape is Java-compatible here — it never escapes
    # alphanumerics, and \<punct> is the char itself in Java regex).
    # NULL text must still yield the contractual one output row — treat
    # it as empty (split(NULL) is NULL and posexplode(NULL) emits no
    # rows, which would silently drop the document).
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), re.escape(sep))
        ).alias("__pos", "__line"),
    ).withColumn("__key", F.when(eligible, key).otherwise(exempt_key))
    w = Window.partitionBy("__key").orderBy(F.col(id_col).asc(), F.col("__pos").asc())
    if keep == "first":
        survives = F.row_number().over(w) == 1
    else:
        survives = F.count(F.lit(1)).over(Window.partitionBy("__key")) == 1
    kept = lines.withColumn("__keep", survives)
    out = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"),
                            F.struct(F.col("__pos"), F.col("__line")),
                        )
                    )
                ),
                lambda s: s.getField("__line"),
            ),
            sep,
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("__keep").cast("int")).alias("n_kept"),
    )
    return out


def cross_doc_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document cross-corpus overlap: the fraction of a document's
    distinct word n-gram shingles that also occur in at least one OTHER
    document — the template/boilerplate/contamination signal behind
    span-level dedup decisions (the per-doc aggregate of what
    `decontaminate` and `ngram_jaccard_pairs` consume pairwise).

    Keys on md5 of the shingle STRING (collision-free in practice —
    the 31-bit mixed hashes of `shingle_hashes` would produce expected
    birthday collisions at corpus scale and break exact counts). The
    hash only groups equal shingles, so any engine can re-derive the
    counts by grouping on the shingle text itself. One explode, one
    count-over-shingle window (no pair materialization — a shingle in
    10^6 docs costs a count, not 10^12 pairs), one per-doc agg.
    """
    sh = df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), shingle_n)).alias("__s")
    ).select(F.col(id_col), F.md5("__s").alias("__k"))
    # shingles() is distinct per doc, so rows per __k partition == docs
    # containing the shingle — a plain window count, never a collect_set
    # (which would be O(df²) memory on a hot shingle)
    w = Window.partitionBy("__k")
    per = sh.withColumn("__docs", F.count(F.lit(1)).over(w))
    return per.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum((F.col("__docs") >= 2).cast("long")).alias("n_shared"),
        (
            F.floor(
                F.sum((F.col("__docs") >= 2).cast("long"))
                / F.count(F.lit(1))
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("overlap_frac"),
    )


def survivorship(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "quality",
) -> DataFrame:
    """Canonical-record selection over a near-dup clustering: per
    cluster keep the highest-``score_col`` member (ties → lowest id),
    flag the rest as drops — the survivorship policy step between
    clustering (``dup_clusters``) and corpus export, so dedup removes
    the WORST copy, not an arbitrary one.

    One narrow id-keyed join of (id, cluster) with (id, score) slim
    frames, then a rank window partitioned by cluster — cluster sizes
    are bounded upstream by the pair-generation caps, so no window
    partition can degenerate. Returns (id, cluster, score, is_kept,
    n_in_cluster).
    """
    from pyspark.sql import Window

    j = clusters.join(scores, id_col)
    w = Window.partitionBy(cluster_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        j.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "n_in_cluster", F.count(F.lit(1)).over(Window.partitionBy(cluster_col))
        )
        .select(
            id_col,
            cluster_col,
            score_col,
            (F.col("__rn") == 1).alias("is_kept"),
            "n_in_cluster",
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Asymmetric n-gram SET containment C(A→B) = |A∩B| / |A| — the
    near-SUPERSET detector Jaccard misses: a short document quoted
    whole inside a long one has tiny Jaccard (the union is huge) but
    containment ≈ 1 for the short side. The standard quote/wrapper/
    boilerplate-envelope signal (Broder's containment, the other half
    of the resemblance/containment pair).

    Same distributed shape as :func:`ngram_jaccard_pairs` — DISTINCT
    shingles per doc (containment is set semantics), hot-shingle cap
    with broadcast anti-join, one materialized shingle stream feeding
    the sizes and both intersection sides, shingle-keyed equi-join —
    and a pair survives when EITHER direction reaches ``threshold``.
    Returns (id_a, id_b, inter, sz_a, sz_b, cont_a_q6, cont_b_q6) with
    id_a < id_b; cont_a is the fraction of A's shingles found in B.
    """
    # shingles() is already DISTINCT per document, so the exploded
    # stream is set-semantic without an extra shuffle
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("g"),
    )
    out = (
        _set_overlap([sh], max_shingle_df)
        .withColumn("cont_a_q6", q6(F.col("inter") / F.col("sz_a")))
        .withColumn("cont_b_q6", q6(F.col("inter") / F.col("sz_b")))
    )
    return out.filter(
        (F.col("cont_a_q6") >= threshold) | (F.col("cont_b_q6") >= threshold)
    ).select("id_a", "id_b", "inter", "sz_a", "sz_b", "cont_a_q6", "cont_b_q6")
