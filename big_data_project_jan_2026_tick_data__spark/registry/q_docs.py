"""Document-corpus registry queries (training-data pipeline over the `documents` table): dedup family (exact, MinHash/SimHash md5 twins, n-gram Jaccard, clustering, decontamination), quality/language/PII/boilerplate scoring, sampling, packing, sharded export, and the end-to-end curation pipeline."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import detmath
from ..functions.scalars import q6
from ..engine import to_local
from ..operators import (  # noqa: F401
    dedup,
    joins,
    mlfeat,
    multimodal,
    similarity,
    stats,
    text,
    ticks,
)
from ._base import _register, _td


# ---------------------------------------------------------------------------
# Text / dedup / similarity (training-data pipeline surface).
# ---------------------------------------------------------------------------


# Shared DuckDB SQL for the document quality formula and content
# normalization — mirrors text.with_quality_score / text.normalize_text
# term by term. THREE oracles reuse these (doc_quality_scores,
# doc_curation_pipeline, doc_export_shards): change them only in lockstep
# with the Spark implementation, never fork a per-oracle copy.


def _doc_metrics_cte(extra_cols: str = "") -> str:
    """The quality-metrics CTE; ``extra_cols`` (e.g. ``", text"``) is
    appended to the select list — an explicit parameter instead of
    string surgery on the rendered SQL."""
    return rf"""m AS (
      SELECT doc_id,
             length(txt) AS n_chars,
             len(regexp_extract_all(txt, '[A-Za-z0-9]+')) AS words,
             len(regexp_extract_all(txt, '[^\w\s]')) AS n_punct,
             len(regexp_extract_all(txt, '[A-Za-z0-9]')) AS word_chars,
             len(regexp_extract_all(txt, '\bthe\b'))
               + len(regexp_extract_all(txt, '\band\b'))
               + len(regexp_extract_all(txt, '\bof\b'))
               + len(regexp_extract_all(txt, '\bto\b'))
               + len(regexp_extract_all(txt, '\bis\b'))
               + len(regexp_extract_all(txt, '\bthat\b'))
               + len(regexp_extract_all(txt, '\bwith\b')) AS stop_hits{extra_cols}
      FROM base)"""


_DOC_METRICS_CTE = _doc_metrics_cte()


_QUALITY_EXPR = """FLOOR((0.35 * LEAST(n_chars / 2000.0, 1.0)
                 + 0.25 * (1.0 - LEAST(n_punct / GREATEST(n_chars, 1) * 4.0, 1.0))
                 + 0.25 * LEAST(LEAST(stop_hits / GREATEST(words, 1), 1.0) * 5.0, 1.0)
                 + 0.15 * (CASE WHEN word_chars / GREATEST(words, 1) >= 3.0
                                 AND word_chars / GREATEST(words, 1) <= 10.0
                           THEN 1.0 ELSE 0.5 END)) * 1e6 + 0.5) / 1e6"""


def _norm_sql(col: str) -> str:
    """DuckDB mirror of text.normalize_text: lowercase, strip
    punctuation, collapse whitespace, trim."""
    return (
        f"trim(regexp_replace(regexp_replace(lower({col}), "
        f"'[^\\w\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
    )


@_register(
    "doc_dataset_card",
    rf"""
    WITH base AS (
      SELECT doc_id, lower(text) AS txt FROM documents),
    {_DOC_METRICS_CTE},
    q AS (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM m),
    t AS (
      SELECT doc_id, source, nrm,
             CASE WHEN length(nrm) > 0
                  THEN len(string_split(nrm, ' ')) ELSE 0 END AS n_tok
      FROM (SELECT doc_id, source, {_norm_sql('text')} AS nrm
            FROM documents) x),
    scored AS (
      SELECT doc_id,
        GREATEST(len(regexp_extract_all(lower(text), '[A-Za-z0-9]+')), 1) AS nw,
        len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|that|with)\b')) AS h_en,
        len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht|mit)\b')) AS h_de,
        len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|que|pour)\b')) AS h_fr,
        len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|para|como)\b')) AS h_es
      FROM documents),
    pred AS (
      SELECT doc_id,
             CASE WHEN best <= 0 THEN 'und'
                  WHEN s_fr = best THEN 'fr'
                  WHEN s_es = best THEN 'es'
                  WHEN s_en = best THEN 'en'
                  ELSE 'de' END AS lang_pred
      FROM (
        SELECT doc_id,
               CAST(h_en AS DOUBLE)/nw AS s_en, CAST(h_de AS DOUBLE)/nw AS s_de,
               CAST(h_fr AS DOUBLE)/nw AS s_fr, CAST(h_es AS DOUBLE)/nw AS s_es,
               GREATEST(CAST(h_en AS DOUBLE)/nw, CAST(h_de AS DOUBLE)/nw,
                        CAST(h_fr AS DOUBLE)/nw, CAST(h_es AS DOUBLE)/nw) AS best
        FROM scored) s2),
    agg AS (
      SELECT t.source,
             count(*) AS n_docs,
             CAST(sum(t.n_tok) AS BIGINT) AS n_tokens,
             count(DISTINCT md5(t.nrm)) AS n_unique_md5,
             CAST(sum(CAST(FLOOR(q.quality * 1e9 + 0.5) AS BIGINT))
                  AS BIGINT) AS sq9,
             CAST(sum(CASE WHEN p.lang_pred = 'en' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_en
      FROM t JOIN q USING (doc_id) JOIN pred p USING (doc_id)
      GROUP BY 1)
    SELECT source, n_docs, n_tokens, n_unique_md5,
           FLOOR(CAST(n_docs - n_unique_md5 AS DOUBLE) / n_docs * 1e6 + 0.5)
             / 1e6 AS dup_frac_q6,
           FLOOR(CAST(n_en AS DOUBLE) / n_docs * 1e6 + 0.5) / 1e6
             AS en_frac_q6,
           FLOOR((CAST(sq9 AS DOUBLE) / n_docs) / 1e9 * 1e6 + 0.5) / 1e6
             AS mean_quality_q6
    FROM agg
    """,
)
def doc_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card: the per-source release summary a training-data
    drop ships with — doc/token counts, exact-dup rate (portable md5
    of the normalized text, the exact_dedup key), language mix
    (marker-based lang-ID), and mean quality (per-doc q6 scores summed
    on a 1e-9 integer grid — the mixture_weights discipline). One
    corpus pass per signal joined on doc_id, one source-sized agg;
    every fraction is an exact-count division, q6 before the hash."""
    from ..operators.text import normalize_text

    docs = _td(spark, sf_dir, "documents")
    # every signal is ROW-LOCAL (quality, lang-ID, token count, md5 of
    # the normalized text), so the whole card is ONE corpus scan with
    # zero joins — with_quality_score / with_lang_id chain as added
    # columns on the same frame (scan-audit discipline)
    scored = text.with_lang_id(text.with_quality_score(docs))
    nrm = normalize_text(F.col("text"))
    t = scored.select(
        "source",
        "quality",
        "lang_pred",
        nrm.alias("nrm"),
        F.when(F.length(nrm) > 0, F.size(F.split(nrm, " ")))
        .otherwise(0)
        .alias("n_tok"),
    )
    agg = (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.countDistinct(F.md5("nrm")).alias("n_unique_md5"),
            F.sum(
                F.floor(F.col("quality") * 1e9 + F.lit(0.5)).cast("bigint")
            ).alias("sq9"),
            F.sum((F.col("lang_pred") == "en").cast("bigint")).alias("n_en"),
        )
    )
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_unique_md5",
        q6(
            (F.col("n_docs") - F.col("n_unique_md5")).cast("double")
            / F.col("n_docs")
        ).alias("dup_frac_q6"),
        q6(F.col("n_en").cast("double") / F.col("n_docs")).alias("en_frac_q6"),
        q6(
            (F.col("sq9").cast("double") / F.col("n_docs")) / F.lit(1e9)
        ).alias("mean_quality_q6"),
    )


@_register(
    "doc_length_histogram",
    """
    WITH b AS (
      SELECT source,
             CASE WHEN length(text) = 0 THEN 0
                  ELSE length(bin(CAST(length(text) AS BIGINT))) END
               AS bucket,
             length(text) AS n_chars
      FROM documents),
    g AS (
      SELECT source, CAST(bucket AS INT) AS log2_bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(min(n_chars) AS BIGINT) AS min_chars,
             CAST(max(n_chars) AS BIGINT) AS max_chars
      FROM b GROUP BY 1, 2),
    t AS (SELECT source, sum(n_docs) AS tot FROM g GROUP BY 1)
    SELECT g.source, g.log2_bucket, g.n_docs, g.sum_chars,
           g.min_chars, g.max_chars,
           FLOOR(CAST(g.n_docs AS DOUBLE) / t.tot * 1e6 + 0.5) / 1e6
             AS doc_frac_q6
    FROM g JOIN t USING (source)
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed document-length histogram per source (bucket =
    bit length of the char count — EXACT integer bucketing via
    length(bin(n)), the detmath exponent trick, so the same shape the
    chunking/packing operators consume is value-hashable with no float
    anywhere). The dataset-card companion that shows whether a source
    is boilerplate-short or book-long; one hash agg + one
    alphabet-sized share join."""
    from pyspark.sql import Window

    docs = _td(spark, sf_dir, "documents")
    n = F.length("text")
    bucket = F.when(n == 0, 0).otherwise(
        F.length(F.bin(n.cast("bigint")))
    )
    g = (
        docs.select(
            "source", bucket.cast("int").alias("log2_bucket"), n.alias("n_chars")
        )
        .groupBy("source", "log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )
    w = Window.partitionBy("source")
    return g.select(
        "source",
        "log2_bucket",
        "n_docs",
        "sum_chars",
        "min_chars",
        "max_chars",
        (
            F.floor(
                F.col("n_docs").cast("double") / F.sum("n_docs").over(w) * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("doc_frac_q6"),
    )


@_register(
    "doc_token_stats",
    r"""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS word_tokens
    FROM documents
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + word-regex) per document."""
    docs = _td(spark, sf_dir, "documents")
    return text.with_token_count(docs).select("doc_id", "ws_tokens", "word_tokens")


@_register(
    "doc_exact_dedup",
    r"""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source, row_number() OVER (
        PARTITION BY trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g'))
        ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1
    """,
)
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized content (hash-partitioned, keep lowest id)."""
    docs = _td(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).select("doc_id", "lang", "source")


@_register(
    "doc_lang_id",
    r"""
    WITH scored AS (
      SELECT doc_id, lang,
        GREATEST(len(regexp_extract_all(lower(text), '[A-Za-z0-9]+')), 1) AS nw,
        len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|that|with)\b')) AS h_en,
        len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht|mit)\b')) AS h_de,
        len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|que|pour)\b')) AS h_fr,
        len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|para|como)\b')) AS h_es
      FROM documents),
    s2 AS (
      SELECT doc_id, lang,
             CAST(h_en AS DOUBLE)/nw AS s_en, CAST(h_de AS DOUBLE)/nw AS s_de,
             CAST(h_fr AS DOUBLE)/nw AS s_fr, CAST(h_es AS DOUBLE)/nw AS s_es,
             GREATEST(CAST(h_en AS DOUBLE)/nw, CAST(h_de AS DOUBLE)/nw,
                      CAST(h_fr AS DOUBLE)/nw, CAST(h_es AS DOUBLE)/nw) AS best
      FROM scored)
    SELECT doc_id, lang,
           CASE WHEN best <= 0 THEN 'und'
                WHEN s_fr = best THEN 'fr'
                WHEN s_es = best THEN 'es'
                WHEN s_en = best THEN 'en'
                ELSE 'de' END AS lang_pred,
           ROUND(best, 6) AS lang_score
    FROM s2
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by stopword-marker scoring (argmax with (score, lang)
    tuple tie-break — mirrored exactly in the oracle's CASE order)."""
    docs = _td(spark, sf_dir, "documents")
    return text.with_lang_id(docs).select("doc_id", "lang", "lang_pred", "lang_score")


def _md5_simhash_oracle(bits: int = 60, max_hamming: int = 3, cap: int = 1000) -> str:
    """Full SimHash re-derivation in DuckDB: md5-derived 60-bit token
    hashes → per-bit ±1 sums → sign fingerprint → 16-bit pigeonhole
    segments (the same scheme as dedup.hamming_pairs) → capped self-join
    → exact bit_count(xor) Hamming filter."""
    sums = ",\n             ".join(
        f"SUM(CASE WHEN (h & {1 << i}) != 0 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    fp = "\n             | ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    return rf"""
    WITH norm AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents),
    h AS (
      SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
      FROM norm, UNNEST(toks) AS u(t)),
    b AS (
      SELECT doc_id,
             {sums}
      FROM h GROUP BY doc_id),
    fp AS (
      SELECT doc_id,
             {fp} AS fp
      FROM b),
    segs0 AS (
      SELECT doc_id, fp, s AS seg_idx, (fp >> (s * 16)) & 65535 AS seg
      FROM fp, UNNEST([0, 1, 2, 3]) AS t(s)),
    segs AS (
      SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY seg_idx, seg) AS bsz
        FROM segs0) WHERE bsz <= {cap})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
    FROM segs a JOIN segs b
      ON a.seg_idx = b.seg_idx AND a.seg = b.seg AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
    """


def _portable_minhash_oracle(
    num_hashes: int = 32, bands: int = 8, cap: int = 1000
) -> str:
    """Full re-derivation of the FAST-PATH MinHash pipeline in DuckDB:
    per-TOKEN 28-bit md5-prefix hashes combined into word-3-gram hashes
    by modular polynomial mixing (h*1000003 + h' mod p — dedup's
    ``_shingle_hashes_sql`` with token_hash='md5', NO shingle strings
    materialized), the shared Carter-Wegman signature mins, banding on
    the signature slice TUPLE (the same doc partition the Spark side's
    variadic xxhash64 band key induces, short of a 2^-64 collision),
    the hot-bucket cap, and the fraction-of-equal-minima estimate.
    (Body factored into ``_portable_minhash_ctes``, shared with the
    calibration roll-up — this wrapper only adds the final SELECT.)"""
    return rf"""
    WITH {_portable_minhash_ctes(num_hashes, bands, cap)}
    SELECT id_a, id_b, est_jaccard FROM mh_pairs
    """


def _minhash_sql_lists(num_hashes: int, bands: int) -> tuple[str, str, str]:
    """The three generated lists of the MinHash oracles: ``mins``, the
    Carter-Wegman signature minima over the shingle hashes ``h`` (the
    engine's own constants, ``dedup._mh_consts``); ``band_rows``, one
    ``UNION ALL`` branch per band over ``sigs`` with its '-'-joined key
    and the whole signature; ``eq``, the count of equal minima between
    ``a.sig`` and ``b.sig``."""
    from ..operators.dedup import _P31, _mh_consts

    rows = num_hashes // bands
    mins = ", ".join(
        f"MIN((h * {a} + {b}) % {_P31}) AS h{i}"
        for i, (a, b) in ((i, _mh_consts(i)) for i in range(num_hashes))
    )
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, {idx} AS band_idx, concat_ws('-', {cols}) AS band_key, "
        "[{allc}] AS sig FROM sigs".format(
            idx=b,
            cols=", ".join(f"h{b * rows + r}" for r in range(rows)),
            allc=", ".join(f"h{i}" for i in range(num_hashes)),
        )
        for b in range(bands)
    )
    eq = " + ".join(
        f"(CASE WHEN a.sig[{i + 1}] = b.sig[{i + 1}] THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return mins, band_rows, eq


def _portable_minhash_ctes(
    num_hashes: int = 32, bands: int = 8, cap: int = 1000
) -> str:
    """The WITH-body of the portable MinHash re-derivation up through
    the candidate-pair CTE ``mh_pairs`` (and the per-doc shingle-hash
    CTE ``sh``) — shared by the doc_minhash_pairs oracle and the
    calibration roll-up, which extends it with exact Jaccard."""
    from ..operators.dedup import _P31

    mins, band_rows, eq = _minhash_sql_lists(num_hashes, bands)
    K = 1000003
    return rf"""norm AS (
      SELECT doc_id,
             regexp_split_to_array({_norm_sql('text')}, ' ') AS toks
      FROM documents),
    th AS (
      SELECT doc_id,
             list_transform(toks,
               t -> CAST(concat('0x', substr(md5(t), 1, 7)) AS BIGINT)) AS th
      FROM norm),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id, h FROM (
        SELECT doc_id,
               CASE WHEN len(th) < 3
                    THEN [list_reduce(th, (a, b) -> (a * {K} + b) % {_P31})]
                    ELSE list_transform(range(1, len(th) - 1),
                      i -> ((th[i] * {K} + th[i + 1]) % {_P31} * {K}
                            + th[i + 2]) % {_P31})
               END AS hs
        FROM th) t, UNNEST(t.hs) AS u(h)),
    sigs AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands0 AS (
      {band_rows}),
    bands AS (
      SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_key) AS bsz
        FROM bands0) WHERE bsz <= {cap})
    , mh_pairs AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             ROUND(({eq}) / CAST({num_hashes} AS DOUBLE), 6) AS est_jaccard
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id)"""


@_register("doc_minhash_pairs", _portable_minhash_oracle)
def doc_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fast-path MinHash+LSH near-dup pairs — the headline-bench dedup
    slot, VALUE-ORACLED since r8: per-token hashes + polynomial 3-gram
    mixing (no shingle strings materialized), 32 Carter-Wegman
    permutations × 8 bands, hot-bucket cap. ``token_hash='md5'`` swaps
    only the per-token hash (28-bit md5 prefix, bit-identical in any
    SQL engine) for the default xxhash64 — everything else (the actual
    fast-path machinery) is engine-portable long arithmetic that the
    oracle re-derives end to end, pairs included."""
    docs = _td(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, num_hashes=32, bands=8, token_hash="md5"
    )


def _minhash_calibration_oracle(
    num_hashes: int = 32, bands: int = 8, cap: int = 1000
) -> str:
    """Calibration roll-up over the portable MinHash CTEs: exact 3-gram
    Jaccard per candidate pair (intersection via the shared shingle-hash
    CTE, |A∪B| = |A|+|B|−|A∩B|), est-vs-true bucketed at eighths, all
    means/MAE from 1e-6 integer snaps."""
    return rf"""
    WITH {_portable_minhash_ctes(num_hashes, bands, cap)},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.id_a, p.id_b, COUNT(*) AS i
      FROM mh_pairs p
      JOIN sh a ON a.doc_id = p.id_a
      JOIN sh b ON b.doc_id = p.id_b AND b.h = a.h
      GROUP BY p.id_a, p.id_b),
    pp AS (
      SELECT CAST(LEAST(CAST(FLOOR(p.est_jaccard * 8) AS INT), 7) AS INT)
               AS bucket,
             CAST(FLOOR(p.est_jaccard * 1e6 + 0.5) AS BIGINT) AS est6,
             CAST(FLOOR(COALESCE(i.i, 0)
                        / (sa.sz + sb.sz - COALESCE(i.i, 0)) * 1e6 + 0.5)
                  AS BIGINT) AS true6
      FROM mh_pairs p
      JOIN sizes sa ON sa.doc_id = p.id_a
      JOIN sizes sb ON sb.doc_id = p.id_b
      LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(CAST(SUM(est6) AS DOUBLE) / 1e6 / COUNT(*) * 1e6 + 0.5) / 1e6
             AS mean_est_q6,
           FLOOR(CAST(SUM(true6) AS DOUBLE) / 1e6 / COUNT(*) * 1e6 + 0.5) / 1e6
             AS mean_true_q6,
           FLOOR(CAST(SUM(ABS(est6 - true6)) AS DOUBLE) / 1e6 / COUNT(*)
                 * 1e6 + 0.5) / 1e6 AS mae_q6
    FROM pp GROUP BY bucket
    """


@_register("doc_minhash_calibration", _minhash_calibration_oracle)
def doc_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy audit of the headline MinHash estimator (r8): for every
    LSH candidate pair, the EXACT word-3-gram Jaccard (intersection via
    one shingle-hash equi-join, union by inclusion-exclusion) next to
    the signature estimate, rolled up into eighth-buckets of the
    estimate — per bucket the pair count, mean estimate, mean true
    Jaccard, and mean absolute error. The reliability diagram for the
    dedup estimator itself: it shows how trustworthy est_jaccard
    thresholds are before anyone tunes a dedup cutoff on them.

    Scale shape: the exact-Jaccard join touches only CANDIDATE pairs
    (LSH-bounded, not all pairs) and the shingle stream is the same
    hash-slim (doc_id, 31-bit) table the signatures were built from —
    one extra shingle-keyed equi-join and a fixed-8-bucket roll-up on
    top of the headline plan."""
    docs = _td(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=32, bands=8, token_hash="md5"
    ).localCheckpoint()  # feeds sizes-join, inter-join, and the roll-up
    sh = (
        docs.select(
            "doc_id",
            F.explode(dedup.shingle_hashes("text", 3, "md5")).alias("h"),
        )
    ).localCheckpoint()  # consumed by sizes AND both sides of inter
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        pairs.select("id_a", "id_b")
        .join(sh.select(F.col("doc_id").alias("id_a"), "h"), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), "h"), ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    pp = (
        pairs.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sa")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sb")),
            "id_b",
        )
        .join(inter, ["id_a", "id_b"], "left")
        .select(
            F.least(F.floor(F.col("est_jaccard") * 8).cast("int"), F.lit(7))
            .cast("int")
            .alias("bucket"),
            F.floor(F.col("est_jaccard") * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("est6"),
            F.floor(
                F.coalesce(F.col("i"), F.lit(0))
                / (F.col("sa") + F.col("sb") - F.coalesce(F.col("i"), F.lit(0)))
                * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("true6"),
        )
    )
    q6m = lambda s, n: (  # noqa: E731
        F.floor(s.cast("double") / 1e6 / n * 1e6 + F.lit(0.5)) / 1e6
    )
    n = F.count(F.lit(1))
    return pp.groupBy("bucket").agg(
        n.cast("long").alias("n_pairs"),
        q6m(F.sum("est6"), n).alias("mean_est_q6"),
        q6m(F.sum("true6"), n).alias("mean_true_q6"),
        q6m(F.sum(F.abs(F.col("est6") - F.col("true6"))), n).alias("mae_q6"),
    )


@_register("doc_simhash_pairs", _md5_simhash_oracle(max_hamming=8))
def doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at the WIDE Hamming radius (≤ 8 over a
    4-block pigeonhole join — recall by blocking, not guarantee, the
    production dedup setting), VALUE-ORACLED since r8 via the portable
    60-bit md5-prefix token hashes (the narrow-radius md5 twin
    doc_md5_simhash_pairs proves Hamming ≤ 6 independently)."""
    docs = _td(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(
        docs, max_hamming=8, blocks=4, portable=True
    )


@_register(
    "doc_fingerprints",
    r"""
    WITH norm AS (
      SELECT doc_id,
             regexp_replace(lower(text), '\s+', ' ', 'g') AS n
      FROM documents)
    SELECT doc_id,
           CAST(concat('0x', substr(md5(n), 1, 15)) AS BIGINT)
             AS fingerprint,
           list_min(list_transform(
             range(0, GREATEST(length(n) - 8, 0) + 1),
             i -> CAST(concat('0x', substr(md5(substr(n, i + 1, 8)), 1, 15))
                       AS BIGINT))) AS shingle_min_fp
    FROM norm
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fingerprints (full-text content key + min char-8-gram
    fingerprint — the cheap identity keys incremental dedup persists),
    VALUE-ORACLED since r8: portable 60-bit md5-prefix hashes replace
    xxhash64; the whitespace-only normalization, sliding char windows,
    and array_min are re-derived verbatim in SQL. Zero shuffle — one
    per-row projection."""
    docs = _td(spark, sf_dir, "documents")
    return text.with_fingerprint(docs, portable=True).select(
        "doc_id", "fingerprint", "shingle_min_fp"
    )


def _hybrid_near_dup_oracle(
    dim: int = 64, num_planes: int = 4, seed: int = 42
) -> str:
    """Compose the emb_near_dup_pairs oracle (hyperplane LSH buckets +
    cosine filter over embeddings) with the doc_ngram_jaccard oracle
    restricted to the candidate documents — the staged
    ANN-prefilter → exact-text-verify pipeline re-derived end to end in
    SQL."""
    bucket = similarity._lsh_bucket_sql(dim, num_planes, seed)
    return rf"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
    b0 AS (
      SELECT vec_id, vec,
        {bucket} AS bucket
      FROM v),
    b AS (
      SELECT vec_id, vec, bucket FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY bucket) AS bsz FROM b0)
      WHERE bsz <= 1000),
    cand AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
             ROUND(list_cosine_similarity(a.vec, b2.vec), 6) AS cosine
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
      WHERE ROUND(list_cosine_similarity(a.vec, b2.vec), 6) >= 0.2),
    cids AS (
      SELECT id_a AS doc_id FROM cand UNION SELECT id_b FROM cand),
    norm AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents JOIN cids USING (doc_id)),
    sh0 AS (
      SELECT DISTINCT doc_id AS id, g AS sh FROM norm,
        UNNEST(list_transform(range(1, GREATEST(len(toks) - 2, 1) + 1),
                              i -> array_to_string(toks[i:i+2], ' '))) AS t(g)),
    sh AS (
      SELECT id, sh FROM (
        SELECT id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM sh0)
      WHERE df <= 1000),
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
      GROUP BY a.id, b.id),
    j AS (
      SELECT id_a, id_b,
             ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
      FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id)
    SELECT c.id_a, c.id_b, c.cosine,
           COALESCE(j.jaccard, 0.0) AS jaccard,
           COALESCE(j.jaccard, 0.0) >= 0.2 AS text_confirmed
    FROM cand c LEFT JOIN j ON j.id_a = c.id_a AND j.id_b = c.id_b
    """


@_register("doc_hybrid_near_dup", _hybrid_near_dup_oracle)
def doc_hybrid_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged cross-modal near-dup: the embedding LSH+cosine candidate
    pairs (cheap semantic prefilter, emb_near_dup_pairs' exact recipe)
    verified by exact word-3-gram Jaccard on the candidate documents'
    TEXT — the two-stage shape production dedup actually runs (ANN
    recall stage, exact precision stage), here value-proving the
    composition end to end. The Jaccard stage only ever tokenizes the
    candidate id set (broadcast semi-join), so its cost scales with
    candidates, not the corpus; pairs sharing no shingle verify at
    jaccard 0."""
    emb = _td(spark, sf_dir, "embeddings")
    docs = _td(spark, sf_dir, "documents")
    # Materialize the candidate set once: it feeds THREE consumers (two
    # id projections + the final join) and recomputing the LSH
    # self-join per consumer re-scanned the corpus 70+ times via
    # lineage (caught by the scan audit). Candidates are the SMALL
    # stage-1 output by design, so one localCheckpoint is bounded.
    cands = similarity.embedding_near_dup_pairs(
        emb, dim=64, threshold=0.2, num_planes=4
    ).localCheckpoint()
    cand_ids = (
        cands.select(F.col("id_a").alias("doc_id"))
        .unionByName(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # candidate docs are the small verify set — materialize them so the
    # Jaccard machinery's four lineage branches (hot-shingle prune,
    # sizes, both self-join sides) re-read the checkpoint, not the
    # corpus (a broadcast-semi filter does not prune the parquet scan)
    sub = docs.join(
        F.broadcast(cand_ids), "doc_id", "left_semi"
    ).localCheckpoint()
    jac = dedup.ngram_jaccard_pairs(
        sub, shingle_n=3, threshold=0.0
    ).withColumnsRenamed({"id_a": "j_a", "id_b": "j_b"})
    return (
        cands.join(
            jac,
            (F.col("id_a") == F.col("j_a")) & (F.col("id_b") == F.col("j_b")),
            "left",
        )
        .select(
            "id_a",
            "id_b",
            "cosine",
            F.coalesce("jaccard", F.lit(0.0)).alias("jaccard"),
            (F.coalesce("jaccard", F.lit(0.0)) >= 0.2).alias("text_confirmed"),
        )
    )


@_register(
    "doc_containment_pairs",
    r"""
    WITH norm AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents),
    sh0 AS (
      SELECT DISTINCT doc_id AS id, g AS sh FROM norm,
        UNNEST(list_transform(range(1, GREATEST(len(toks) - 2, 1) + 1),
                              i -> array_to_string(toks[i:i+2], ' '))) AS t(g)),
    sh AS (
      SELECT id, sh FROM (
        SELECT id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM sh0)
      WHERE df <= 1000),
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
      GROUP BY a.id, b.id),
    sc AS (
      SELECT id_a, id_b, CAST(i AS BIGINT) AS inter,
             CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
             FLOOR(CAST(i AS DOUBLE) / sa.sz * 1e6 + 0.5) / 1e6 AS cont_a_q6,
             FLOOR(CAST(i AS DOUBLE) / sb.sz * 1e6 + 0.5) / 1e6 AS cont_b_q6
      FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id)
    SELECT * FROM sc WHERE cont_a_q6 >= 0.8 OR cont_b_q6 >= 0.8
    """,
)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric 3-gram set-containment pairs ≥ 0.8 in either
    direction (dedup.containment_pairs) — the near-SUPERSET detector
    Jaccard misses: a short doc quoted whole inside a long one has
    tiny Jaccard but containment ≈ 1 for the short side (Broder's
    resemblance/containment pair, the quote/wrapper/boilerplate-envelope
    dedup signal). Same scale shape as the Jaccard operator: hot-shingle
    cap, materialized shingle stream, shingle-keyed equi-join only."""
    docs = _td(spark, sf_dir, "documents")
    return dedup.containment_pairs(docs, shingle_n=3, threshold=0.8)


@_register(
    "doc_ngram_jaccard",
    r"""
    WITH norm AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents),
    sh0 AS (
      SELECT DISTINCT doc_id AS id, g AS sh FROM norm,
        UNNEST(list_transform(range(1, GREATEST(len(toks) - 2, 1) + 1),
                              i -> array_to_string(toks[i:i+2], ' '))) AS t(g)),
    sh AS (
      SELECT id, sh FROM (
        SELECT id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM sh0)
      WHERE df <= 1000),
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
      GROUP BY a.id, b.id)
    SELECT id_a, id_b,
           ROUND(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
    WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.2
    """,
)
def doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs ≥ 0.2 via shingle co-occurrence
    join (no cross product)."""
    docs = _td(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.2)


# Spark-side deterministic re-lining for the line-dedup query: the
# testdata documents are single-line word soup, so lines are synthesized
# as 8-token chunks of the normalized text (lambda-bound so the token
# split evaluates once per row).
_RELINE_SQL = r"""
transform(array(split(trim(regexp_replace(regexp_replace(lower(text),
    '[^\\w\\s]', ' '), '\\s+', ' ')), ' ')),
  tk -> array_join(transform(
          sequence(0, greatest(cast(ceil(size(tk) / 8.0) AS INT), 1) - 1),
          i -> array_join(slice(tk, i * 8 + 1, 8), ' ')), '\n'))[0]
"""


@_register(
    "doc_line_dedup",
    r"""
    WITH relined AS (
      SELECT doc_id,
             array_to_string(list_transform(
               range(0, GREATEST(CAST(ceil(len(toks) / 8.0) AS INT), 1)),
               i -> array_to_string(toks[i*8+1 : i*8+8], ' ')), chr(10)) AS text
      FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS toks
            FROM documents)),
    lines AS (
      SELECT doc_id, i - 1 AS pos, l[i] AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM relined),
           UNNEST(range(1, len(l) + 1)) AS t(i)),
    ranked AS (
      SELECT doc_id, pos, line,
             CASE WHEN length(line) >= 1
                  THEN row_number() OVER (
                         PARTITION BY (CASE WHEN length(line) >= 1 THEN line END)
                         ORDER BY doc_id, pos)
                  ELSE 1 END AS rn
      FROM lines)
    SELECT doc_id,
           COALESCE(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE rn = 1), '') AS text,
           count(*) AS n_lines,
           count(*) FILTER (WHERE rn = 1) AS n_kept
    FROM ranked GROUP BY doc_id
    """,
)
def doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line dedup (C4-style keep-first): documents re-lined
    into 8-token chunks, every repeated line dropped except its first
    ``(doc_id, pos)`` occurrence, texts reassembled in order. The hash
    only GROUPS equal lines (survivor choice is the deterministic
    (doc_id, pos) rank), so the xxhash64 fast path is fully
    value-oracled — the oracle partitions by the line text itself."""
    docs = _td(spark, sf_dir, "documents")
    relined = docs.select("doc_id", F.expr(_RELINE_SQL).alias("text"))
    return dedup.line_dedup(relined, keep="first").select(
        "doc_id", "text", "n_lines", "n_kept"
    )


@_register(
    "doc_chunk_windows",
    r"""
    WITH norm AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS tk
      FROM documents),
    nc AS (
      SELECT doc_id, tk,
             CASE WHEN len(tk) <= 32 THEN 1
                  ELSE 1 + CAST(ceil((len(tk) - 32) / 24.0) AS INT) END AS n
      FROM norm),
    chunks AS (
      SELECT doc_id, CAST(i AS INT) AS chunk_idx,
             array_to_string(tk[i*24+1 : i*24+32], ' ') AS chunk_text
      FROM nc, UNNEST(range(0, n)) AS t(i))
    SELECT doc_id, chunk_idx, chunk_text,
           CASE WHEN length(chunk_text) = 0 THEN 0
                ELSE len(string_split(chunk_text, ' ')) END AS n_tokens
    FROM chunks
    """,
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (RAG / context-window prep): 32-token
    windows every 24 tokens (8-token overlap), final window truncated —
    per-row array arithmetic + posexplode, zero shuffle."""
    docs = _td(spark, sf_dir, "documents")
    return text.chunk_windows(docs, chunk_tokens=32, overlap=8)


@_register(
    "doc_tfidf_top_terms",
    rf"""
    WITH toks AS (
      SELECT doc_id, t AS term
      FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS tk
            FROM documents), UNNEST(tk) AS u(t)
      WHERE length(t) > 0),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    staged AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             {detmath.dlit(1.0)} + n.n AS nn,
             {detmath.dlit(1.0)} + dfreq.df AS dd
      FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
    scored AS (
      SELECT doc_id, term, tf, df,
             FLOOR(tf * (({detmath.det_ln_pos_sql('nn', 'duckdb', assume_ge_1=True)}
                          - {detmath.det_ln_pos_sql('dd', 'duckdb', assume_ge_1=True)})
                         + 1.0) * 1e6 + 0.5) / 1e6 AS tfidf
      FROM staged),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      FROM scored)
    SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (keyword extraction) — tf / df /
    scalar-N aggs + one term equi-join; q6-quantized score ranking so
    both engines rank identical values."""
    docs = _td(spark, sf_dir, "documents")
    return text.tfidf_top_terms(docs, k=5).withColumnRenamed("rank", "rnk")


@_register(
    "doc_cross_overlap",
    r"""
    WITH norm AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id AS id, g AS s FROM norm,
        UNNEST(list_transform(range(1, GREATEST(len(toks) - 2, 1) + 1),
                              i -> array_to_string(toks[i:i+2], ' '))) AS t(g)),
    cnt AS (SELECT s, count(*) AS docs FROM sh GROUP BY s)
    SELECT id AS doc_id, count(*) AS n_shingles,
           CAST(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           FLOOR(CAST(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) * 1e6 + 0.5) / 1e6 AS overlap_frac
    FROM sh JOIN cnt USING (s) GROUP BY id
    """,
)
def doc_cross_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-corpus shingle overlap fraction (template /
    contamination signal): count-over-shingle window, no pair
    materialization; md5 keys group equal shingles so the oracle can
    group on the shingle text itself."""
    docs = _td(spark, sf_dir, "documents")
    return dedup.cross_doc_overlap(docs)




@_register(
    "doc_quality_scores",
    f"""
    WITH base AS (
      SELECT doc_id, lower(text) AS txt FROM documents),
    {_DOC_METRICS_CTE}
    SELECT doc_id, words AS n_words,
           ROUND(n_punct / GREATEST(n_chars, 1), 6) AS punct_ratio,
           ROUND(LEAST(stop_hits / GREATEST(words, 1), 1.0), 6) AS stop_ratio,
           {_QUALITY_EXPR} AS quality
    FROM m
    """,
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality scoring (north-star text analysis) —
    pure Catalyst regexp-count arithmetic, oracle-checked term by term."""
    docs = _td(spark, sf_dir, "documents")
    return text.with_quality_score(docs).select(
        "doc_id", "n_words", "punct_ratio", "stop_ratio", "quality"
    )


@_register(
    "doc_domain_caps",
    f"""
    WITH base AS (
      SELECT doc_id, source, lower(text) AS txt FROM documents),
    {_DOC_METRICS_CTE},
    q AS (
      SELECT b.doc_id, b.source, {_QUALITY_EXPR} AS quality
      FROM m JOIN base b USING (doc_id)),
    r AS (
      SELECT doc_id, source, quality,
             row_number() OVER (PARTITION BY source
                                ORDER BY quality DESC, doc_id ASC)
               AS source_rank
      FROM q)
    SELECT doc_id, source, quality, CAST(source_rank AS INT) AS source_rank,
           source_rank <= 10 AS kept
    FROM r
    """,
)
def doc_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document caps (the RefinedWeb/C4 anti-domination
    step): rank every document within its source by quality (ties →
    lowest doc_id) and keep the top 10 per source, so no single domain
    floods the training mix regardless of its crawl volume. One
    source-keyed window over the one-pass quality projection — a single
    narrow shuffle at any corpus size, and the per-domain cap bounds
    every domain's contribution by construction (hot domains cost the
    same as cold ones downstream)."""
    from pyspark.sql import Window

    docs = _td(spark, sf_dir, "documents")
    q = text.with_quality_score(docs).select("doc_id", "source", "quality")
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    ranked = q.withColumn("source_rank", F.row_number().over(w).cast("int"))
    return ranked.select(
        "doc_id",
        "source",
        "quality",
        "source_rank",
        (F.col("source_rank") <= 10).alias("kept"),
    )


_SQL_SURFACE_QUERY = """
    SELECT doc_id,
           token_count(text) AS ws_tokens,
           word_count(text) AS word_tokens,
           quality_score(text) AS quality,
           lang_id(text) AS lang_pred,
           content_key(text) AS content_key,
           md5_keep(CAST(doc_id AS STRING), 0.25) AS keep_25
    FROM documents
"""


@_register(
    "sql_function_surface",
    r"""
    WITH base AS (
      SELECT doc_id, text, lower(text) AS txt FROM documents),
    """
    + _doc_metrics_cte(", text")
    + r""",
    lang AS (
      SELECT doc_id,
        GREATEST(len(regexp_extract_all(lower(text), '[A-Za-z0-9]+')), 1) AS nw,
        CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|that|with)\b')) AS DOUBLE) AS h_en,
        CAST(len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht|mit)\b')) AS DOUBLE) AS h_de,
        CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|que|pour)\b')) AS DOUBLE) AS h_fr,
        CAST(len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|para|como)\b')) AS DOUBLE) AS h_es
      FROM base)
    SELECT m.doc_id,
           CAST(CASE WHEN length(trim(m.text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(m.text), '\s+')) END AS INT) AS ws_tokens,
           CAST(m.words AS INT) AS word_tokens,
           """
    + _QUALITY_EXPR
    + r""" AS quality,
           CASE WHEN GREATEST(h_en, h_de, h_fr, h_es) <= 0 THEN 'und'
                WHEN h_fr/nw = GREATEST(h_en, h_de, h_fr, h_es)/nw THEN 'fr'
                WHEN h_es/nw = GREATEST(h_en, h_de, h_fr, h_es)/nw THEN 'es'
                WHEN h_en/nw = GREATEST(h_en, h_de, h_fr, h_es)/nw THEN 'en'
                ELSE 'de' END AS lang_pred,
           md5(trim(regexp_replace(regexp_replace(lower(m.text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS content_key,
           substring(md5(CAST(m.doc_id AS VARCHAR)), 1, 4) < '4000' AS keep_25
    FROM m JOIN lang ON m.doc_id = lang.doc_id
    """,
)
def sql_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's scalar operators reached ENTIRELY through SQL: temp
    views + `functions/sql_macros.py` SQL UDFs (expression macros that
    inline into codegen — the reference's SQL-first Trino workflow,
    `Apache Iceberg/metadata_layer.py`), one spark.sql string, zero
    DataFrame API. The oracle re-derives every macro term-for-term in
    DuckDB (quality/normalization CTEs shared with doc_quality_scores)."""
    from ..functions.sql_macros import register_sql_functions
    from ..sources.catalog import register_testdata_views

    register_testdata_views(spark, sf_dir)
    register_sql_functions(spark)
    return spark.sql(_SQL_SURFACE_QUERY)




def _scrub_pii_oracle() -> str:
    """Interpolate the module's PII regexes so Spark and the oracle run
    the same patterns (DuckDB needs the 'g' flag; Spark's regexp_replace
    is global by default)."""
    from ..operators.text import PII_EMAIL_RE, PII_IP_RE, PII_PHONE_RE

    return (
        "SELECT doc_id,\n"
        "       regexp_replace(regexp_replace(regexp_replace(text,\n"
        "         '" + PII_EMAIL_RE + "', '<EMAIL>', 'g'),\n"
        "         '" + PII_IP_RE + "', '<IP>', 'g'),\n"
        "         '" + PII_PHONE_RE + "', '<PHONE>', 'g') AS scrubbed,\n"
        "       text <> regexp_replace(regexp_replace(regexp_replace(text,\n"
        "         '" + PII_EMAIL_RE + "', '<EMAIL>', 'g'),\n"
        "         '" + PII_IP_RE + "', '<IP>', 'g'),\n"
        "         '" + PII_PHONE_RE + "', '<PHONE>', 'g') AS pii_found\n"
        "FROM documents"
    )


@_register("doc_scrub_pii", _scrub_pii_oracle)
def doc_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails/IPs/phone runs -> typed placeholders) —
    chained codegen regexp_replace, no UDF."""
    docs = _td(spark, sf_dir, "documents")
    return text.scrub_pii(docs).select("doc_id", "scrubbed", "pii_found")


@_register(
    "doc_strip_boilerplate",
    r"""
    WITH t AS (
      SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents),
    k AS (
      SELECT doc_id, lines,
             list_filter(lines,
               ln -> len(regexp_split_to_array(trim(ln), '\s+')) >= 3) AS kept
      FROM t)
    SELECT doc_id,
           array_to_string(kept, chr(10)) AS clean_text,
           len(lines) - len(kept) AS lines_dropped
    FROM k
    """,
)
def doc_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-line removal (drop lines with < 3 words) via
    higher-order filter over split — no UDF, no explode round-trip."""
    docs = _td(spark, sf_dir, "documents")
    return text.strip_boilerplate(docs, min_line_words=3).select(
        "doc_id", "clean_text", "lines_dropped"
    )


@_register(
    "doc_pack_sequences",
    r"""
    WITH t AS (
      SELECT doc_id, source,
             len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS word_tokens
      FROM documents)
    SELECT doc_id, source, word_tokens,
           CAST(FLOOR(COALESCE(SUM(word_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0)
             AS BIGINT) AS seq_bucket
    FROM t
    """,
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: per-source prefix-sum binning
    of documents into ~256-token buckets (no doc split; deterministic
    doc_id order)."""
    docs = _td(spark, sf_dir, "documents")
    packed = text.pack_sequences(
        text.with_token_count(docs), budget=256, shard_cols=("source",)
    )
    return packed.select("doc_id", "source", "word_tokens", "seq_bucket")


# rate 0.2 → keep md5-hex-prefix buckets below int(0.2*65536)=0x3333,
# compared as fixed-width lowercase hex (lexicographic ≡ numeric) —
# the exact predicate text.md5_sample builds.
@_register(
    "doc_hash_sample",
    """
    SELECT doc_id, source, lang FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '3333'
    """,
)
def doc_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic key-hash sampling via the engine-portable md5
    bucket (text.md5_sample) — a pure function of the key, so the
    sampling decision is re-derivable by ANY engine (the oracle
    re-applies the identical predicate in DuckDB). The xxhash64 fast
    path (text.hash_sample, one JVM hash per row, no md5 cost) keeps
    the same keep/drop contract and stays property-tested in
    tests/test_text.py — it can't be driver-adjudicated because no
    other engine reproduces xxhash64."""
    docs = _td(spark, sf_dir, "documents")
    return text.md5_sample(docs, rate=0.2).select("doc_id", "source", "lang")


@_register(
    "doc_dup_clusters",
    r"""
    WITH RECURSIVE norm AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents),
    sh0 AS (
      SELECT DISTINCT doc_id AS id, g AS sh FROM norm,
        UNNEST(list_transform(range(1, GREATEST(len(toks) - 2, 1) + 1),
                              i -> array_to_string(toks[i:i+2], ' '))) AS t(g)),
    sh AS (
      SELECT id, sh FROM (
        SELECT id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM sh0)
      WHERE df <= 1000),
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
      GROUP BY a.id, b.id),
    pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
      WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.2),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM documents
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
    SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
    """,
)
def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components (min-label propagation)
    over exact word-3-gram Jaccard >= 0.2 pairs; every doc tagged with
    its component's min doc_id. Oracle recomputes the components with a
    recursive reachability CTE — an independent algorithm on the same
    edge set."""
    docs = _td(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.2)
    return dedup.dup_clusters(docs, pairs)


@_register(
    "doc_leakage_safe_split",
    r"""
    WITH RECURSIVE norm AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents),
    sh0 AS (
      SELECT DISTINCT doc_id AS id, g AS sh FROM norm,
        UNNEST(list_transform(range(1, GREATEST(len(toks) - 2, 1) + 1),
                              i -> array_to_string(toks[i:i+2], ' '))) AS t(g)),
    sh AS (
      SELECT id, sh FROM (
        SELECT id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM sh0)
      WHERE df <= 1000),
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
      GROUP BY a.id, b.id),
    pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
      WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.2),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM documents
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
    comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
    SELECT doc_id, cluster_id,
           CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4) < '1999' THEN 'test'
                WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4) < '3333' THEN 'val'
                ELSE 'train' END AS split
    FROM comp
    """,
)
def doc_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-dup components (word-3-gram
    Jaccard >= 0.2 graph) are the split unit, assigned by an md5 bucket of
    the component's min doc_id — no near-duplicate pair ever straddles a
    split. 10% test / 10% val thresholds."""
    docs = _td(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.2)
    return dedup.leakage_safe_split(docs, pairs, val_frac=0.1, test_frac=0.1)


# One SQL text, two engines: this string runs verbatim as the Spark
# query (over register_testdata_views) AND as its own DuckDB oracle —
# the cleanest demonstration that the SQL surface is ANSI-portable.


def _md5_minhash_oracle(
    num_hashes: int = 16, bands: int = 4, cap: int = 1000
) -> str:
    """Full LSH re-derivation in DuckDB: md5-derived 28-bit shingle
    hashes → the same Carter-Wegman signature mins (constants imported
    from the engine) → '-'-joined band keys → capped band self-join →
    fraction-of-equal-minima similarity estimate."""
    mins, band_rows, eq = _minhash_sql_lists(num_hashes, bands)
    return rf"""
    WITH norm AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             CAST(concat('0x', substr(md5(g), 1, 7)) AS BIGINT) AS h
      FROM norm,
        UNNEST(list_transform(range(1, GREATEST(len(toks) - 2, 1) + 1),
                              i -> array_to_string(toks[i:i+2], ' '))) AS t(g)),
    sigs AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands0 AS (
      {band_rows}),
    bands AS (
      SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_key) AS bsz
        FROM bands0) WHERE bsz <= {cap})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(({eq}) / CAST({num_hashes} AS DOUBLE), 6) AS est_jaccard
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    """


@_register("doc_md5_simhash_pairs", _md5_simhash_oracle(max_hamming=6))
def doc_md5_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs under an independent value-hash oracle:
    md5-portable 60-bit fingerprints through the shared Hamming
    pigeonhole join (doc_simhash_pairs' xxhash64 fast path stays
    rows-only by nature)."""
    docs = _td(spark, sf_dir, "documents")
    # hamming_pairs materializes the #docs × 1-long fps table itself
    # (scan-audit rule: the segment join's branches must not re-run the
    # corpus md5-simhash)
    fps = dedup.md5_simhash(docs)
    return dedup.hamming_pairs(
        fps, fp_col="simhash", id_col="doc_id", max_hamming=6, blocks=4
    )


@_register("doc_md5_minhash_pairs", _md5_minhash_oracle)
def doc_md5_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL MinHash+LSH pipeline under an independent value-hash
    oracle: md5-derived shingle hashes (engine-portable, unlike the
    xxhash64 fast path of ``doc_minhash_pairs``), shared Carter-Wegman
    permutations, plain band-slice keys, hot-bucket cap mirrored in
    SQL."""
    docs = _td(spark, sf_dir, "documents")
    return dedup.md5_minhash_lsh_pairs(docs, num_hashes=16, bands=4, shingle_n=3)


@_register(
    "doc_md5_fingerprints",
    r"""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')) AS n,
             regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, g FROM norm,
        UNNEST(list_transform(range(1, GREATEST(len(toks) - 2, 1) + 1),
                              i -> array_to_string(toks[i:i+2], ' '))) AS t(g))
    SELECT n.doc_id,
           md5(n.n) AS exact_fp,
           MIN(md5(s.g)) AS shingle_min_fp
    FROM norm n JOIN sh s USING (doc_id)
    GROUP BY n.doc_id, n.n
    """,
)
def doc_md5_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable document fingerprints: md5 of the normalized text
    (exact content key) + the lexicographic MIN over per-shingle md5s (a
    1-hash winnowing sketch, robust to small edits) — the oracle-able
    twin of the xxhash64 ``doc_fingerprints`` (same plan shape, portable
    hash). Explode+min is one map-side-combined agg; nothing but
    (doc_id, 32-byte hex) pairs shuffle."""
    docs = _td(spark, sf_dir, "documents")
    norm = text.normalize_text(F.col("text"))
    sh = docs.select(
        F.col("doc_id"),
        F.md5(norm).alias("exact_fp"),
        F.explode(dedup.shingles(F.col("text"), 3)).alias("__g"),
    )
    return sh.groupBy("doc_id", "exact_fp").agg(
        F.min(F.md5("__g")).alias("shingle_min_fp")
    )


@_register(
    "doc_source_report",
    r"""
    WITH base AS (
      SELECT doc_id, source, lang, lower(text) AS txt,
             trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
      FROM documents),
    m AS (
      SELECT doc_id, source, lang,
             len(regexp_extract_all(txt, '[A-Za-z0-9]+')) AS words,
             COUNT(*) OVER (PARTITION BY norm) >= 2 AS is_dup
      FROM base)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(words) AS BIGINT) AS total_words,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs
    FROM m GROUP BY source
    """,
)
def doc_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation report — the domain-level stats a corpus
    curator filters on (RefinedWeb-style per-domain decisions): doc and
    language counts, token totals, and how many docs have an exact
    duplicate anywhere in the corpus (window count over the content
    hash, no self-join)."""
    docs = _td(spark, sf_dir, "documents")
    from pyspark.sql import Window

    norm = text.normalize_text(F.col("text"))
    d = text.with_token_count(docs).withColumn(
        "is_dup", F.count(F.lit(1)).over(Window.partitionBy(F.xxhash64(norm))) >= 2
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("word_tokens").alias("total_words"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("dup_docs"),
    )


@_register(
    "doc_repetition_signals",
    r"""
    WITH norm AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents),
    bg AS (
      SELECT doc_id, toks,
             list_transform(range(1, GREATEST(len(toks) - 1, 0) + 1),
                            i -> toks[i] || ' ' || toks[i + 1]) AS grams
      FROM norm),
    top AS (
      SELECT doc_id, MAX(c) AS top_bigram_cnt FROM (
        SELECT doc_id, g, COUNT(*) AS c
        FROM bg, UNNEST(grams) AS t(g) GROUP BY doc_id, g)
      GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(len(b.toks) AS INT) AS n_tokens,
           floor((len(b.toks) - len(list_distinct(b.toks)))
                 / GREATEST(len(b.toks), 1) * 1e6 + 0.5) / 1e6 AS dup_token_frac,
           floor((len(b.grams) - len(list_distinct(b.grams)))
                 / GREATEST(len(b.grams), 1) * 1e6 + 0.5) / 1e6 AS dup_bigram_frac,
           CAST(COALESCE(t.top_bigram_cnt, 0) AS BIGINT) AS top_bigram_cnt,
           floor(COALESCE(t.top_bigram_cnt, 0)
                 / GREATEST(len(b.grams), 1) * 1e6 + 0.5) / 1e6 AS top_bigram_frac
    FROM bg b LEFT JOIN top t USING (doc_id)
    """,
)
def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (duplicate-token/bigram fractions,
    top-bigram share) over the documents table — the within-document
    twin of the cross-document dedup family."""
    docs = _td(spark, sf_dir, "documents")
    return text.repetition_signals(docs)


@_register(
    "doc_decontaminate",
    r"""
    WITH norm AS (
      SELECT doc_id, source,
             regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, source, g FROM norm,
        UNNEST(list_transform(range(1, GREATEST(len(toks) - 3, 1) + 1),
                              i -> array_to_string(toks[i:i+3], ' '))) AS t(g))
    SELECT a.doc_id,
           CAST(COUNT(DISTINCT a.g) AS BIGINT) AS n_hit_shingles,
           CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs
    FROM sh a JOIN sh b ON a.g = b.g
    WHERE a.source != 'src0' AND b.source = 'src0'
    GROUP BY a.doc_id
    """,
)
def doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (source != 'src0') sharing
    any word 4-gram with the benchmark split (source = 'src0'); the
    benchmark shingle set is broadcast, so the corpus scan is
    shuffle-free. Oracle joins the shingle *strings* — an independent
    check of the hashed join."""
    docs = _td(spark, sf_dir, "documents")
    return dedup.decontaminate(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        shingle_n=4,
    )


@_register(
    "doc_export_shards",
    f"""
    WITH base AS (
      SELECT doc_id, text, lower(text) AS txt FROM documents),
    {_DOC_METRICS_CTE},
    q AS (
      SELECT doc_id, {_QUALITY_EXPR} AS quality
      FROM m),
    ded AS (
      SELECT doc_id, text FROM (
        SELECT b.doc_id, b.text, row_number() OVER (
          PARTITION BY md5({_norm_sql('b.text')})
          ORDER BY b.doc_id) AS rn
        FROM base b JOIN q USING (doc_id) WHERE q.quality >= 0.4)
      WHERE rn = 1),
    tok AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS word_tokens,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
                  AS BIGINT) % 4 AS shard_id
      FROM ded),
    packed AS (
      SELECT *, CAST(FLOOR(COALESCE(SUM(word_tokens) OVER (
               PARTITION BY shard_id ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0)
             AS BIGINT) AS seq_bucket
      FROM tok)
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT seq_bucket) AS BIGINT) AS n_seqs,
           CAST(SUM(word_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))
                AS BIGINT) % 1000000000) AS BIGINT) AS content_fp
    FROM packed GROUP BY shard_id
    """,
)
def doc_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-of-pipeline SINK round-trip: quality gate → portable md5
    dedup → token budget → deterministic shard assignment → per-shard
    packing → partitioned parquet WRITE → manifest aggregated from the
    READ-BACK files. The oracle recomputes the manifest purely in SQL —
    agreement proves the written shards carry exactly the curated rows
    (plans/export.py; sink semantics S5/S6, reference naming
    spark_session_window_tick_cleaner.py:173-182 replaced by
    partitioned-output discipline)."""
    import shutil
    import tempfile

    from ..plans.export import export_training_shards

    docs = _td(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="shards_")
    try:
        manifest = export_training_shards(
            spark, docs, d, min_quality=0.4, budget=256, num_shards=4
        )
        return to_local(manifest)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@_register(
    "doc_curation_pipeline",
    f"""
    WITH base AS (
      SELECT doc_id, lower(text) AS txt FROM documents),
    {_DOC_METRICS_CTE},
    q AS (
      SELECT doc_id, {_QUALITY_EXPR} AS quality
      FROM m),
    scr AS (
      SELECT d.doc_id, d.source, q.quality,
             regexp_replace(regexp_replace(regexp_replace(d.text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
               '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '<IP>', 'g'),
               '\\+?\\d[\\d\\s()-]{{7,}}\\d', '<PHONE>', 'g') AS scrubbed
      FROM documents d JOIN q USING (doc_id)
      WHERE q.quality >= 0.48),
    ded AS (
      SELECT doc_id, source, quality, scrubbed FROM (
        SELECT *, row_number() OVER (
          PARTITION BY {_norm_sql('scrubbed')}
          ORDER BY doc_id) AS rn
        FROM scr) WHERE rn = 1),
    tok AS (
      SELECT doc_id, source, quality,
             len(regexp_extract_all(scrubbed, '[A-Za-z0-9]+')) AS word_tokens
      FROM ded)
    SELECT doc_id, source, quality,
           CAST(word_tokens AS INT) AS word_tokens,
           CAST(FLOOR(COALESCE(SUM(word_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0)
             AS BIGINT) AS seq_bucket
    FROM tok
    """,
)
def doc_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation flow in ONE Catalyst plan:
    quality scoring → threshold filter → PII scrub → exact dedup of the
    scrubbed text → token budgeting → per-source sequence packing.
    Every stage is an already-verified operator; this query proves they
    compose (the filter pushes below the scrub, the dedup window keys on
    the scrubbed hash, the pack window shards by source) — the shape a
    real 100 TB corpus run would use. Oracle re-derives all five stages
    in one DuckDB CTE chain."""
    docs = _td(spark, sf_dir, "documents")
    q = text.with_quality_score(docs).filter(F.col("quality") >= 0.48)
    s = text.scrub_pii(q)
    d = dedup.exact_dedup(s, text_col="scrubbed")
    t = text.with_token_count(d, text_col="scrubbed")
    p = text.pack_sequences(t, budget=256)
    return p.select("doc_id", "source", "quality", "word_tokens", "seq_bucket")


@_register(
    "doc_stratified_sample",
    """
    SELECT doc_id, source FROM documents
    WHERE (source = 'src0' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
       OR (source = 'src1' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000')
       OR (source NOT IN ('src0', 'src1')
           AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '0ccc')
    """,
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing via per-stratum deterministic sampling: 50% of
    src0, 25% of src1, 5% of everything else — md5-bucket thresholds, so
    the exact keep-set is re-derivable by any engine (the oracle applies
    the same thresholds in SQL)."""
    docs = _td(spark, sf_dir, "documents")
    return text.stratified_md5_sample(
        docs, {"src0": 0.5, "src1": 0.25}, default_rate=0.05
    ).select("doc_id", "source")


def _md5_incr_minhash_oracle(
    num_hashes: int = 16, bands: int = 4, cap: int = 1000
) -> str:
    """Cross-generation re-derivation in DuckDB: identical signature/band
    machinery as _md5_minhash_oracle, but pairs must straddle the batch
    split (doc_id % 5 = 4 is the 'arriving' generation) — the oracle for
    the incremental ingestion path."""
    mins, band_rows, eq = _minhash_sql_lists(num_hashes, bands)
    return rf"""
    WITH norm AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             CAST(concat('0x', substr(md5(g), 1, 7)) AS BIGINT) AS h
      FROM norm,
        UNNEST(list_transform(range(1, GREATEST(len(toks) - 2, 1) + 1),
                              i -> array_to_string(toks[i:i+2], ' '))) AS t(g)),
    sigs AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands0 AS (
      {band_rows}),
    bands AS (
      SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_key) AS bsz
        FROM bands0) WHERE bsz <= {cap})
    SELECT DISTINCT a.doc_id AS id_existing, b.doc_id AS id_new,
           ROUND(({eq}) / CAST({num_hashes} AS DOUBLE), 6) AS est_jaccard
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id % 5 <> 4 AND b.doc_id % 5 = 4
    """


@_register("doc_incremental_minhash", _md5_incr_minhash_oracle)
def doc_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingestion (the MinHash twin of
    incremental_dedup's exact path): the committed corpus is represented
    only by its persisted md5-MinHash signatures
    (dedup.md5_minhash_signatures — num_hashes int64s per doc, text never
    re-read), and an arriving batch (doc_id % 5 = 4 here) is signed and
    band-joined against them (dedup.incremental_minhash_pairs, shared
    hot-bucket cap across both generations). The oracle re-derives both
    generations' signatures in DuckDB and enumerates exactly the
    cross-generation candidate pairs with their similarity estimates."""
    docs = _td(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 4)
    existing = docs.filter(F.col("doc_id") % 5 != 4)
    esig = dedup.md5_minhash_signatures(existing)
    bsig = dedup.md5_minhash_signatures(batch)
    return dedup.incremental_minhash_pairs(esig, bsig)


def _md5_incr_simhash_oracle(
    bits: int = 60, max_hamming: int = 6, cap: int = 1000
) -> str:
    """Cross-generation twin of _md5_simhash_oracle: same fingerprints
    and pigeonhole segments, cap over the union, pairs restricted to
    existing × batch (doc_id % 5 = 4 arriving)."""
    sums = ",\n             ".join(
        f"SUM(CASE WHEN (h & {1 << i}) != 0 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    fp = "\n             | ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    return rf"""
    WITH norm AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents),
    h AS (
      SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
      FROM norm, UNNEST(toks) AS u(t)),
    b AS (
      SELECT doc_id,
             {sums}
      FROM h GROUP BY doc_id),
    fp AS (
      SELECT doc_id,
             {fp} AS fp
      FROM b),
    segs0 AS (
      SELECT doc_id, fp, s AS seg_idx, (fp >> (s * 16)) & 65535 AS seg
      FROM fp, UNNEST([0, 1, 2, 3]) AS t(s)),
    segs AS (
      SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY seg_idx, seg) AS bsz
        FROM segs0) WHERE bsz <= {cap})
    SELECT DISTINCT a.doc_id AS id_existing, b.doc_id AS id_new,
           CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
    FROM segs a JOIN segs b
      ON a.seg_idx = b.seg_idx AND a.seg = b.seg
     AND a.doc_id % 5 <> 4 AND b.doc_id % 5 = 4
    WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
    """


@_register("doc_incremental_simhash", _md5_incr_simhash_oracle)
def doc_incremental_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SimHash ingestion: the committed corpus is its stored
    8-byte fingerprints (dedup.md5_simhash — never recomputed), and the
    arriving batch (doc_id % 5 = 4) is fingerprinted and pigeonhole-
    joined against them (dedup.incremental_hamming_pairs — the same
    operator serves incremental perceptual media dedup). Oracle
    re-derives both generations' fingerprints and enumerates the
    cross-generation pairs."""
    docs = _td(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 4)
    existing = docs.filter(F.col("doc_id") % 5 != 4)
    return dedup.incremental_hamming_pairs(
        dedup.md5_simhash(existing),
        dedup.md5_simhash(batch),
        fp_col="simhash",
        id_col="doc_id",
        max_hamming=6,
        blocks=4,
    )


# Shared CTE chain for the bigram-LM family: corpus tokenization,
# Laplace-smoothed unigram/bigram training, per-position detmath
# log-probs, and the per-doc entropy reduction. doc_lm_perplexity and
# doc_ccnet_buckets render it identically — change only in lockstep
# with text.lm_cross_entropy.
_LM_CTES = rf"""norm AS (
      SELECT doc_id,
             string_split({_norm_sql('text')}, ' ') AS tk
      FROM documents),
    tok AS (
      SELECT doc_id, i - 1 AS pos, tk[i] AS w,
             CASE WHEN i >= 2 THEN tk[i-1] END AS w_prev
      FROM norm, UNNEST(range(1, len(tk) + 1)) AS t(i)
      WHERE length(tk[i]) > 0),
    uni AS (SELECT w, count(*) AS c1 FROM tok GROUP BY w),
    big AS (SELECT w_prev, w, count(*) AS c12 FROM tok
            WHERE w_prev IS NOT NULL AND length(w_prev) > 0 GROUP BY w_prev, w),
    tot AS (SELECT count(*) AS v, sum(c1) AS n FROM uni),
    sc0 AS (
      SELECT t.doc_id,
             CASE WHEN t.w_prev IS NULL THEN COALESCE(u.c1, 0) + 1
                  ELSE COALESCE(b.c12, 0) + 1 END AS pnum,
             CASE WHEN t.w_prev IS NULL THEN tot.n + tot.v
                  ELSE COALESCE(up.c1, 0) + tot.v END AS pden
      FROM tok t
      LEFT JOIN uni u ON t.w = u.w
      LEFT JOIN uni up ON t.w_prev = up.w
      LEFT JOIN big b ON t.w_prev = b.w_prev AND t.w = b.w
      CROSS JOIN tot),
    sc AS (
      SELECT doc_id,
             ({detmath.det_log2_int_sql('pnum', 'duckdb')}
              - {detmath.det_log2_int_sql('pden', 'duckdb')}) AS lp
      FROM sc0),
    agg AS (
      SELECT doc_id, count(*) AS n_tokens,
             sum(CAST(FLOOR(lp * 1e9 + 0.5) AS BIGINT)) AS s9
      FROM sc GROUP BY doc_id),
    h AS (
      SELECT doc_id, n_tokens,
             -(CAST(s9 AS DOUBLE) / 1e9) / CAST(n_tokens AS DOUBLE) AS hh
      FROM agg)"""


@_register(
    "doc_lm_perplexity",
    rf"""
    WITH {_LM_CTES}
    SELECT doc_id, n_tokens,
           FLOOR(hh * 1e6 + 0.5) / 1e6 AS cross_entropy,
           FLOOR({detmath.det_exp2_sql('hh', 'duckdb')} * 1e6 + 0.5) / 1e6
             AS perplexity
    FROM h
    """,
)
def doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: Laplace-smoothed bigram LM
    trained distributively on the corpus itself, per-doc cross-entropy
    and perplexity — the oracle retrains the identical LM and rescores
    every document in SQL."""
    docs = _td(spark, sf_dir, "documents")
    return text.lm_cross_entropy(docs)


def _dsir_oracle(target_where: str = "lang = 'en'") -> str:
    """Generated oracle for doc_dsir_weights: the _LM_CTES recipe twice
    — one bigram LM trained on the full corpus (source) and one on the
    target slice — scoring EVERY document under both, then the per-token
    log2 ratio h_source − h_target (positive = closer to target)."""
    chains = []
    for sfx, flt in (("s", ""), ("t", f"WHERE {target_where}")):
        chains.append(
            rf"""uni_{sfx} AS (
      SELECT w, count(*) AS c1 FROM tok {flt} GROUP BY w),
    big_{sfx} AS (
      SELECT w_prev, w, count(*) AS c12 FROM tok
      {flt + (' AND' if flt else 'WHERE')} w_prev IS NOT NULL
        AND length(w_prev) > 0
      GROUP BY w_prev, w),
    tot_{sfx} AS (SELECT count(*) AS v, sum(c1) AS n FROM uni_{sfx}),
    sc0_{sfx} AS (
      SELECT t.doc_id,
             CASE WHEN t.w_prev IS NULL THEN COALESCE(u.c1, 0) + 1
                  ELSE COALESCE(b.c12, 0) + 1 END AS pnum,
             CASE WHEN t.w_prev IS NULL THEN tot.n + tot.v
                  ELSE COALESCE(up.c1, 0) + tot.v END AS pden
      FROM tok t
      LEFT JOIN uni_{sfx} u ON t.w = u.w
      LEFT JOIN uni_{sfx} up ON t.w_prev = up.w
      LEFT JOIN big_{sfx} b ON t.w_prev = b.w_prev AND t.w = b.w
      CROSS JOIN tot_{sfx} tot),
    sc_{sfx} AS (
      SELECT doc_id,
             ({detmath.det_log2_int_sql('pnum', 'duckdb')}
              - {detmath.det_log2_int_sql('pden', 'duckdb')}) AS lp
      FROM sc0_{sfx}),
    agg_{sfx} AS (
      SELECT doc_id, count(*) AS n_tokens,
             sum(CAST(FLOOR(lp * 1e9 + 0.5) AS BIGINT)) AS s9
      FROM sc_{sfx} GROUP BY doc_id),
    h_{sfx} AS (
      SELECT doc_id, n_tokens,
             -(CAST(s9 AS DOUBLE) / 1e9) / CAST(n_tokens AS DOUBLE) AS hh
      FROM agg_{sfx})"""
        )
    chain_sql = ",\n    ".join(chains)
    return rf"""
    WITH norm AS (
      SELECT doc_id, lang,
             string_split({_norm_sql('text')}, ' ') AS tk
      FROM documents),
    tok AS MATERIALIZED (
      SELECT doc_id, lang, i - 1 AS pos, tk[i] AS w,
             CASE WHEN i >= 2 THEN tk[i-1] END AS w_prev
      FROM norm, UNNEST(range(1, len(tk) + 1)) AS t(i)
      WHERE length(tk[i]) > 0),
    {chain_sql}
    SELECT s.doc_id,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           FLOOR(s.hh * 1e6 + 0.5) / 1e6 AS h_source_q6,
           FLOOR(t.hh * 1e6 + 0.5) / 1e6 AS h_target_q6,
           FLOOR((FLOOR(s.hh * 1e6 + 0.5) / 1e6
                  - FLOOR(t.hh * 1e6 + 0.5) / 1e6) * 1e6 + 0.5) / 1e6
             AS dsir_logratio_q6,
           (FLOOR(s.hh * 1e6 + 0.5) / 1e6
            - FLOOR(t.hh * 1e6 + 0.5) / 1e6) > 0 AS keep
    FROM h_s s JOIN h_t t USING (doc_id)
    """


@_register("doc_dsir_weights", _dsir_oracle)
def doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023, Data Selection
    via Importance Resampling, adapted to the engine's bigram LMs):
    train one LM on the TARGET slice (lang='en' — the distribution you
    want more of) and one on the full SOURCE corpus, score every
    document under both, and report the per-token log2 likelihood
    ratio h_source − h_target (positive = the target model explains
    the document better than the source average — upweight it). The
    resampling knob of a pretraining-mix pipeline, on the same
    oracle-proven LM machinery as doc_lm_perplexity.

    Scale shape: two runs of the tokenize-once LM chain (each: two
    vocab-sized hash aggs to train, token-keyed joins to score, exact
    1e-9-grid per-doc reductions) joined on doc_id — corpus text never
    shuffles, and both LMs' tables are token-vocabulary-sized."""
    docs = _td(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    src = text.lm_cross_entropy(docs).select(
        "doc_id",
        "n_tokens",
        F.col("cross_entropy").alias("h_source_q6"),
    )
    tgt = text.lm_cross_entropy(docs, lm_corpus=target).select(
        "doc_id", F.col("cross_entropy").alias("h_target_q6")
    )
    ratio = F.col("h_source_q6") - F.col("h_target_q6")
    return (
        src.join(tgt, "doc_id")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "h_source_q6",
            "h_target_q6",
            q6(ratio).alias("dsir_logratio_q6"),
            (ratio > 0).alias("keep"),
        )
    )


@_register(
    "doc_ccnet_buckets",
    rf"""
    WITH {_LM_CTES},
    p AS (
      SELECT doc_id, n_tokens,
             FLOOR({detmath.det_exp2_sql('hh', 'duckdb')} * 1e6 + 0.5) / 1e6
               AS ppl
      FROM h),
    b AS (
      SELECT *, ntile(3) OVER (ORDER BY ppl, doc_id) AS bucket FROM p)
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           min(ppl) AS min_ppl_q6,
           max(ppl) AS max_ppl_q6
    FROM b GROUP BY bucket
    """,
)
def doc_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail partition: documents ntile(3)-bucketed by
    bigram-LM perplexity (bucket 1 = lowest perplexity = 'head', the
    slice CCNet keeps for training) — the corpus-filtering decision the
    LM score exists to drive. Deterministic: perplexity is q6-quantized
    BEFORE ranking (playbook rule) with doc_id tiebreak, and ntile over
    a total order is identical across engines. One bucket-sized agg on
    top of the shared LM chain."""
    from pyspark.sql import Window

    docs = _td(spark, sf_dir, "documents")
    scored = text.lm_cross_entropy(docs).select(
        "doc_id", "n_tokens", "perplexity"
    )
    b = scored.withColumn(
        "bucket",
        F.ntile(3).over(Window.orderBy(F.col("perplexity"), F.col("doc_id"))),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("perplexity").alias("min_ppl_q6"),
        F.max("perplexity").alias("max_ppl_q6"),
    )


@_register(
    "doc_vocab_coverage",
    rf"""
    WITH tok AS (
      SELECT doc_id, w FROM (
        SELECT doc_id,
               UNNEST(string_split({_norm_sql('text')}, ' ')) AS w
        FROM documents) t
      WHERE length(w) > 0),
    freq AS (SELECT w, count(*) AS f FROM tok GROUP BY w),
    vocab AS (SELECT w FROM freq ORDER BY f DESC, w ASC LIMIT 256),
    tagged AS (
      SELECT t.doc_id, (v.w IS NOT NULL) AS iv
      FROM tok t LEFT JOIN vocab v USING (w))
    SELECT doc_id,
           count(*) AS n_tokens,
           count(*) FILTER (WHERE NOT iv) AS n_oov,
           FLOOR(count(*) FILTER (WHERE NOT iv) * 1.0 / count(*) * 1e6 + 0.5) / 1e6
             AS oov_rate_q6
    FROM tagged GROUP BY doc_id
    """,
)
def doc_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit diagnostic: fit a top-256 corpus vocabulary
    (frequency-ranked, term tie-break) and score every document's
    out-of-vocabulary token rate — TakeOrderedAndProject vocab cut +
    broadcast join back; the corpus token stream never shuffles."""
    docs = _td(spark, sf_dir, "documents")
    return text.vocab_coverage(docs, vocab_size=256)


def _quality_classifier_oracle(
    iters: int = 12, lr: float = 1.0, calibration: bool = False,
    auc: bool = False, shap: bool = False, pr: bool = False,
    brier: bool = False, conformal: bool = False,
) -> str:
    """Generated chained-CTE oracle for doc_quality_classifier: re-runs
    the IDENTICAL full-batch logistic-regression recipe in DuckDB — same
    features, same weak label, one gradient CTE + one weight CTE per
    iteration, weights quantized floor-half-up at 1e-9 exactly like the
    driver loop (classifier.train_logreg).  The sigmoid is detmath exp
    (bit-identical across engines) over a ±40-clamped margin, and each
    per-row gradient term is snapped to a 1e-9 integer grid and summed
    as BIGINT — so neither float-sum order nor libm can move a weight.

    ``calibration=True`` swaps the per-doc final SELECT for the
    reliability-diagram roll-up (doc_classifier_calibration): decile
    buckets of the 1e-6-snapped score, per-bucket exact mean score /
    empirical positive rate / gap.  ``auc=True`` swaps it for the
    ranking-quality roll-up (doc_classifier_auc): per-s6-bucket
    positive/negative counts, a cumulative-negative sweep, and the
    exact midrank AUC numerator 2·num = Σ pos·(2·cum_neg_below + neg)
    — all BIGINT until one double division."""
    z = "w.w0 * f.bias + w.w1 * f.tokens_x + w.w2 * f.tok_len_x + w.w3 * f.digit_x"
    sig = f"1.0 / (1.0 + {detmath.det_exp_sql('mz', 'duckdb')})"
    clamp = (
        f"CASE WHEN ({z}) > 40.0 THEN 40.0 "
        f"WHEN ({z}) < -40.0 THEN -40.0 ELSE ({z}) END"
    )
    parts = [
        rf"""
    WITH feat AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             1.0 AS bias,
             least(CASE WHEN length(nrm) > 0
                        THEN len(string_split(nrm, ' ')) ELSE 0 END,
                   500) / 100.0 AS tokens_x,
             length(replace(nrm, ' ', '')) * 1.0
               / greatest(CASE WHEN length(nrm) > 0
                               THEN len(string_split(nrm, ' ')) ELSE 0 END, 1)
               / 10.0 AS tok_len_x,
             length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
               / greatest(length(text), 1) AS digit_x
      FROM (SELECT doc_id, lang, text, {_norm_sql('text')} AS nrm
            FROM documents) d),
    it0 AS (SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1,
                   CAST(0 AS DOUBLE) AS w2, CAST(0 AS DOUBLE) AS w3)"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f"""
    , g{i} AS MATERIALIZED (
      SELECT count(*) AS n,
             sum(CAST(FLOOR(e.bias * e.e * 1e9 + 0.5) AS BIGINT)) AS gb,
             sum(CAST(FLOOR(e.tokens_x * e.e * 1e9 + 0.5) AS BIGINT)) AS gt,
             sum(CAST(FLOOR(e.tok_len_x * e.e * 1e9 + 0.5) AS BIGINT)) AS gl,
             sum(CAST(FLOOR(e.digit_x * e.e * 1e9 + 0.5) AS BIGINT)) AS gd
      FROM (SELECT t.*, {sig} - t.y AS e
            FROM (SELECT f.*, 0.0 - ({clamp}) AS mz
                  FROM feat f CROSS JOIN it{p} w) t) e),
    it{i} AS MATERIALIZED (
      SELECT floor((w.w0 - {detmath.dlit(lr)} * (CAST(g.gb AS DOUBLE) / 1e9)
                    / g.n) * 1e9 + 0.5) / 1e9 AS w0,
             floor((w.w1 - {detmath.dlit(lr)} * (CAST(g.gt AS DOUBLE) / 1e9)
                    / g.n) * 1e9 + 0.5) / 1e9 AS w1,
             floor((w.w2 - {detmath.dlit(lr)} * (CAST(g.gl AS DOUBLE) / 1e9)
                    / g.n) * 1e9 + 0.5) / 1e9 AS w2,
             floor((w.w3 - {detmath.dlit(lr)} * (CAST(g.gd AS DOUBLE) / 1e9)
                    / g.n) * 1e9 + 0.5) / 1e9 AS w3
      FROM it{p} w CROSS JOIN g{i} g)"""
        )
    if auc:
        sig_expr = f"1.0 / (1.0 + {detmath.det_exp_sql('mz', 'duckdb')})"
        parts.append(
            f"""
    , scored AS (
      SELECT doc_id, y,
             CAST(FLOOR(sig * 1e6 + 0.5) AS BIGINT) AS s6,
             CAST(sig >= 0.5 AS INT) AS pred
      FROM (SELECT t.doc_id, t.y, {sig_expr} AS sig
            FROM (SELECT f.doc_id, f.y, 0.0 - ({clamp}) AS mz
                  FROM feat f CROSS JOIN it{iters} w) t) s),
    g AS (
      SELECT s6,
             CAST(count(*) FILTER (y = 1.0) AS BIGINT) AS pos_c,
             CAST(count(*) FILTER (y = 0.0) AS BIGINT) AS neg_c
      FROM scored GROUP BY s6),
    sw AS (
      SELECT s6, pos_c, neg_c,
             CAST(sum(neg_c) OVER (ORDER BY s6) AS BIGINT) - neg_c
               AS neg_below
      FROM g),
    num AS (
      SELECT CAST(sum(pos_c * (2 * neg_below + neg_c)) AS DOUBLE)
               AS two_num
      FROM sw),
    cm AS (
      SELECT CAST(count(*) FILTER (y = 1.0) AS BIGINT) AS n_pos,
             CAST(count(*) FILTER (y = 0.0) AS BIGINT) AS n_neg,
             CAST(count(*) FILTER (y = 1.0 AND pred = 1) AS BIGINT) AS tp,
             CAST(count(*) FILTER (y = 0.0 AND pred = 1) AS BIGINT) AS fp,
             CAST(count(*) FILTER (y = 1.0 AND pred = 0) AS BIGINT) AS fn,
             CAST(count(*) FILTER (y = 0.0 AND pred = 0) AS BIGINT) AS tn
      FROM scored)
    SELECT n_pos, n_neg, tp, fp, fn, tn,
           FLOOR(num.two_num
                 / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS auc_q6,
           FLOOR(CAST(tp + tn AS DOUBLE) / CAST(n_pos + n_neg AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS accuracy_q6
    FROM cm, num WHERE n_pos > 0 AND n_neg > 0"""
        )
    elif pr:
        # average precision (step-interpolated PR-AUC, the sklearn
        # convention) over the same s6 buckets: sweep thresholds from
        # the TOP, tied scores enter together; each bucket contributes
        # ΔR·P = (pos_c/n_pos)·(cum_pos_ge/cum_tot_ge), snapped to the
        # 1e-12 grid and summed exactly
        sig_expr = f"1.0 / (1.0 + {detmath.det_exp_sql('mz', 'duckdb')})"
        parts.append(
            f"""
    , scored AS (
      SELECT doc_id, y,
             CAST(FLOOR(sig * 1e6 + 0.5) AS BIGINT) AS s6
      FROM (SELECT t.doc_id, t.y, {sig_expr} AS sig
            FROM (SELECT f.doc_id, f.y, 0.0 - ({clamp}) AS mz
                  FROM feat f CROSS JOIN it{iters} w) t) s),
    g AS (
      SELECT s6,
             CAST(count(*) FILTER (y = 1.0) AS BIGINT) AS pos_c,
             CAST(count(*) FILTER (y = 0.0) AS BIGINT) AS neg_c
      FROM scored GROUP BY s6),
    tt AS (SELECT CAST(SUM(pos_c) AS BIGINT) AS n_pos,
                  CAST(SUM(neg_c) AS BIGINT) AS n_neg FROM g),
    sw AS (
      SELECT s6, pos_c, neg_c,
             CAST(sum(pos_c) OVER (ORDER BY s6) AS BIGINT) AS cum_pos,
             CAST(sum(neg_c) OVER (ORDER BY s6) AS BIGINT) AS cum_neg
      FROM g),
    terms AS (
      SELECT CAST(FLOOR(
               (CAST(pos_c AS DOUBLE) / CAST(tt.n_pos AS DOUBLE))
               * (CAST(tt.n_pos - cum_pos + pos_c AS DOUBLE)
                  / CAST((tt.n_pos - cum_pos + pos_c)
                         + (tt.n_neg - cum_neg + neg_c) AS DOUBLE))
               * 1e12 + 0.5) AS BIGINT) AS t12
      FROM sw CROSS JOIN tt
      WHERE pos_c > 0 AND tt.n_pos > 0),
    ap AS (SELECT CAST(SUM(t12) AS BIGINT) AS s12 FROM terms)
    SELECT tt.n_pos, tt.n_neg,
           FLOOR(CAST(ap.s12 AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6 AS ap_q6,
           FLOOR(CAST(tt.n_pos AS DOUBLE)
                 / CAST(tt.n_pos + tt.n_neg AS DOUBLE) * 1e6 + 0.5) / 1e6
             AS prevalence_q6
    FROM tt CROSS JOIN ap WHERE tt.n_pos > 0 AND tt.n_neg > 0"""
        )
    elif conformal:
        # split-conformal (Vovk; Angelopoulos & Bates 2023 tutorial
        # form): md5-even docs calibrate, the rest test. Binary
        # nonconformity lives EXACTLY on the s6 integer grid
        # (a6 = 1e6 - s6 for positives, s6 for negatives); q-hat is the
        # ceil((n_c+1)(1-alpha))-th order statistic of calib a6 via a
        # histogram cum sweep; coverage and prediction-set size on the
        # test split are exact integer comparisons against q-hat.
        sig_expr = f"1.0 / (1.0 + {detmath.det_exp_sql('mz', 'duckdb')})"
        parts.append(
            f"""
    , scored AS (
      SELECT doc_id, y,
             CAST(FLOOR(sig * 1e6 + 0.5) AS BIGINT) AS s6,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                                1, 7)) AS BIGINT) % 2 = 0
                  THEN 1 ELSE 0 END AS is_cal
      FROM (SELECT t.doc_id, t.y, {sig_expr} AS sig
            FROM (SELECT f.doc_id, f.y, 0.0 - ({clamp}) AS mz
                  FROM feat f CROSS JOIN it{iters} w) t) s),
    a AS (
      SELECT is_cal,
             CASE WHEN y = 1.0 THEN 1000000 - s6 ELSE s6 END AS a6, s6
      FROM scored),
    nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM a WHERE is_cal = 1),
    hist AS (
      SELECT a6, CAST(count(*) AS BIGINT) AS cnt
      FROM a WHERE is_cal = 1 GROUP BY a6),
    cum AS (
      SELECT a6, CAST(SUM(cnt) OVER (ORDER BY a6) AS BIGINT) AS cum_cnt
      FROM hist),
    k AS (
      SELECT nc.n_cal,
             LEAST(CAST(CEIL((CAST(nc.n_cal AS DOUBLE) + 1.0) * 0.9e0)
                        AS BIGINT), nc.n_cal) AS kth
      FROM nc),
    qh AS (
      SELECT k.n_cal, CAST(MIN(cum.a6) AS BIGINT) AS qhat6
      FROM cum CROSS JOIN k WHERE cum.cum_cnt >= k.kth GROUP BY k.n_cal),
    tst AS (
      SELECT CAST(count(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN a.a6 <= qh.qhat6 THEN 1 ELSE 0 END)
                  AS BIGINT) AS covered,
             CAST(SUM((CASE WHEN 1000000 - a.s6 <= qh.qhat6
                            THEN 1 ELSE 0 END)
                      + (CASE WHEN a.s6 <= qh.qhat6 THEN 1 ELSE 0 END))
                  AS BIGINT) AS set_cells
      FROM a CROSS JOIN qh WHERE a.is_cal = 0)
    SELECT qh.n_cal AS n_calib, tst.n_test,
           CAST(qh.qhat6 AS DOUBLE) / 1e6 AS qhat_q6,
           FLOOR(CAST(tst.covered AS DOUBLE) / CAST(tst.n_test AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS coverage_q6,
           FLOOR(CAST(tst.set_cells AS DOUBLE) / CAST(tst.n_test AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS avg_set_size_q6
    FROM qh CROSS JOIN tst WHERE tst.n_test > 0"""
        )
    elif brier:
        # Murphy (1973) decomposition over the calibration deciles with
        # the BINNED forecast s̄_k (the convention under which
        # brier = REL − RES + UNC holds as an identity): per-bucket
        # exact integer sums, per-bucket double terms snapped to the
        # 1e-12 grid, ≤10-bucket exact roll-up, one fixed-order tail.
        sig_expr = f"1.0 / (1.0 + {detmath.det_exp_sql('mz', 'duckdb')})"
        parts.append(
            f"""
    , scored AS (
      SELECT doc_id, y, floor(sig * 1e6 + 0.5) / 1e6 AS sq,
             CAST(FLOOR(sig * 1e6 + 0.5) AS BIGINT) AS s6
      FROM (SELECT t.doc_id, t.y, {sig_expr} AS sig
            FROM (SELECT f.doc_id, f.y, 0.0 - ({clamp}) AS mz
                  FROM feat f CROSS JOIN it{iters} w) t) s),
    bk AS (
      SELECT CAST(LEAST(CAST(FLOOR(sq * 10) AS INT), 9) AS INT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_k,
             CAST(SUM(s6) AS BIGINT) AS s_sum6,
             CAST(SUM(y) AS BIGINT) AS y_sum
      FROM scored GROUP BY 1),
    tt AS (SELECT CAST(SUM(n_k) AS BIGINT) AS n,
                  CAST(SUM(y_sum) AS BIGINT) AS y_tot FROM bk),
    terms AS (
      SELECT CAST(FLOOR(CAST(n_k AS DOUBLE)
               * (CAST(s_sum6 AS DOUBLE) / CAST(n_k AS DOUBLE) / 1e6
                  - CAST(y_sum AS DOUBLE) / CAST(n_k AS DOUBLE))
               * (CAST(s_sum6 AS DOUBLE) / CAST(n_k AS DOUBLE) / 1e6
                  - CAST(y_sum AS DOUBLE) / CAST(n_k AS DOUBLE))
               * 1e12 + 0.5) AS BIGINT) AS rel12,
             CAST(FLOOR(CAST(n_k AS DOUBLE)
               * (CAST(y_sum AS DOUBLE) / CAST(n_k AS DOUBLE)
                  - CAST(tt.y_tot AS DOUBLE) / CAST(tt.n AS DOUBLE))
               * (CAST(y_sum AS DOUBLE) / CAST(n_k AS DOUBLE)
                  - CAST(tt.y_tot AS DOUBLE) / CAST(tt.n AS DOUBLE))
               * 1e12 + 0.5) AS BIGINT) AS res12
      FROM bk CROSS JOIN tt),
    s AS (SELECT CAST(SUM(rel12) AS BIGINT) AS srel12,
                 CAST(SUM(res12) AS BIGINT) AS sres12 FROM terms),
    o AS (
      SELECT tt.n,
             CAST(s.srel12 AS DOUBLE) / 1e12 / CAST(tt.n AS DOUBLE) AS rel,
             CAST(s.sres12 AS DOUBLE) / 1e12 / CAST(tt.n AS DOUBLE) AS res,
             (CAST(tt.y_tot AS DOUBLE) / CAST(tt.n AS DOUBLE))
               * (1.0 - CAST(tt.y_tot AS DOUBLE) / CAST(tt.n AS DOUBLE))
               AS unc
      FROM tt CROSS JOIN s WHERE tt.n > 0)
    SELECT n,
           FLOOR(rel * 1e6 + 0.5) / 1e6 AS reliability_q6,
           FLOOR(res * 1e6 + 0.5) / 1e6 AS resolution_q6,
           FLOOR(unc * 1e6 + 0.5) / 1e6 AS uncertainty_q6,
           FLOOR((rel - res + unc) * 1e6 + 0.5) / 1e6 AS brier_binned_q6
    FROM o"""
        )
    elif calibration:
        parts.append(
            f"""
    , scored AS (
      SELECT doc_id, y, floor(sig * 1e6 + 0.5) / 1e6 AS sq,
             CAST(FLOOR(sig * 1e6 + 0.5) AS BIGINT) AS s6
      FROM (SELECT t.doc_id, t.y, {sig} AS sig
            FROM (SELECT f.doc_id, f.y, 0.0 - ({clamp}) AS mz
                  FROM feat f CROSS JOIN it{iters} w) t) s)
    SELECT CAST(LEAST(CAST(FLOOR(sq * 10) AS INT), 9) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           FLOOR(CAST(SUM(s6) AS DOUBLE) / 1e6 / COUNT(*) * 1e6 + 0.5) / 1e6
             AS mean_score_q6,
           FLOOR(CAST(SUM(y) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6
             AS pos_rate_q6,
           FLOOR(ABS(CAST(SUM(s6) AS DOUBLE) / 1e6 / COUNT(*)
                     - CAST(SUM(y) AS DOUBLE) / COUNT(*)) * 1e6 + 0.5) / 1e6
             AS gap_q6
    FROM scored GROUP BY 1"""
        )
    elif shap:
        # exact linear-SHAP for the trained weights: for a linear model
        # phi_j = w_j * (x_j - mean(x_j)); means ride 1e-9-grid integer
        # sums so phi is ONE fixed-order double per (doc, feature)
        def dphi(wcol: str, fcol: str, scol: str) -> str:
            x9 = f"CAST(FLOOR(f.{fcol} * 1e9 + 0.5) AS HUGEINT)"
            return (
                f"w.{wcol} * (CAST({x9} * m.n - m.{scol} AS DOUBLE)"
                " / (CAST(m.n AS DOUBLE) * 1e9))"
            )

        parts.append(
            f"""
    , m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             SUM(CAST(FLOOR(tokens_x * 1e9 + 0.5) AS BIGINT)) AS s_t,
             SUM(CAST(FLOOR(tok_len_x * 1e9 + 0.5) AS BIGINT)) AS s_l,
             SUM(CAST(FLOOR(digit_x * 1e9 + 0.5) AS BIGINT)) AS s_d
      FROM feat),
    p AS (
      SELECT f.doc_id,
             FLOOR(({dphi('w1', 'tokens_x', 's_t')}) * 1e6 + 0.5) / 1e6
               AS phi_t,
             FLOOR(({dphi('w2', 'tok_len_x', 's_l')}) * 1e6 + 0.5) / 1e6
               AS phi_l,
             FLOOR(({dphi('w3', 'digit_x', 's_d')}) * 1e6 + 0.5) / 1e6
               AS phi_d
      FROM feat f CROSS JOIN it{iters} w CROSS JOIN m),
    e AS (
      SELECT doc_id, 'tokens_x' AS feature, phi_t AS phi_q6 FROM p
      UNION ALL SELECT doc_id, 'tok_len_x', phi_l FROM p
      UNION ALL SELECT doc_id, 'digit_x', phi_d FROM p),
    r AS (
      SELECT doc_id, feature, phi_q6,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY abs(phi_q6) DESC, feature DESC)
               AS rn
      FROM e)
    SELECT doc_id, feature, phi_q6 FROM r WHERE rn = 1"""
        )
    else:
        parts.append(
            f"""
    SELECT doc_id, CAST(y AS INT) AS y,
           floor(sig * 1e6 + 0.5) / 1e6 AS score_q6,
           CAST(sig >= 0.5 AS INT) AS pred
    FROM (SELECT t.doc_id, t.y, {sig} AS sig
          FROM (SELECT f.doc_id, f.y, 0.0 - ({clamp}) AS mz
                FROM feat f CROSS JOIN it{iters} w) t) s"""
        )
    return "".join(parts)


@_register("doc_quality_classifier", _quality_classifier_oracle)
def doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style corpus quality classifier, trained AND applied
    in-engine: weak label = (lang == 'en'), three codegen features
    (token count, mean token length, digit ratio), 12 full-batch GD
    iterations — each ONE scalar-sized gradient aggregate — weights
    q9-quantized per step; the oracle re-trains the identical recipe as
    a generated CTE chain (classifier.py; discriminative sibling of
    doc_lm_perplexity)."""
    from ..operators import classifier

    docs = _td(spark, sf_dir, "documents")
    return classifier.quality_classifier(docs, iters=12, lr=1.0)


@_register(
    "doc_classifier_calibration",
    _quality_classifier_oracle(calibration=True),
)
def doc_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the in-engine quality classifier
    (doc_quality_classifier's model, r8): decile buckets of the
    1e-6-snapped predicted probability vs the empirical positive rate
    per bucket — the calibration check that decides whether classifier
    scores can gate a corpus directly or need temperature scaling
    first. One extra hash agg over the scored frame (bucket count is
    fixed at 10 regardless of corpus size); the oracle re-trains the
    identical 12-step recipe and rolls up the same snapped scores."""
    from ..operators import classifier

    docs = _td(spark, sf_dir, "documents")
    scored = classifier.quality_classifier(docs, iters=12, lr=1.0)
    s6 = F.floor(F.col("score_q6") * 1e6 + F.lit(0.5)).cast("long")
    b = F.least(F.floor(F.col("score_q6") * 10).cast("int"), F.lit(9))
    agg = (
        scored.select(b.alias("bucket"), s6.alias("s6"), "y")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("s6").alias("ss"),
            F.sum("y").alias("sy"),
        )
    )
    mean_score = F.col("ss").cast("double") / 1e6 / F.col("n")
    pos_rate = F.col("sy").cast("double") / F.col("n")
    return agg.select(
        F.col("bucket").cast("int").alias("bucket"),
        F.col("n").cast("long").alias("n_docs"),
        q6(mean_score).alias("mean_score_q6"),
        q6(pos_rate).alias("pos_rate_q6"),
        q6(F.abs(mean_score - pos_rate)).alias("gap_q6"),
    )


@_register(
    "doc_bm25_search",
    rf"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, w FROM (
        SELECT doc_id,
               UNNEST(string_split({_norm_sql('text')}, ' ')) AS w
        FROM documents) t
      WHERE length(w) > 0),
    tf AS MATERIALIZED (
      SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
    st AS (SELECT count(*) AS n_docs, avg(dl) AS avg_dl FROM dl),
    dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    q AS (
      SELECT w, df FROM (
        SELECT w, df, row_number() OVER (ORDER BY df DESC, w ASC) AS r
        FROM dfq) WHERE r BETWEEN 10 AND 12),
    sc0 AS (
      SELECT t.doc_id, t.tf, dl.dl, st.avg_dl,
             (st.n_docs - q.df + {detmath.dlit(0.5)})
               / (q.df + {detmath.dlit(0.5)}) + {detmath.dlit(1.0)} AS qa
      FROM tf t JOIN q ON t.w = q.w JOIN dl ON t.doc_id = dl.doc_id
      CROSS JOIN st),
    sc AS (
      SELECT doc_id,
             CAST(FLOOR({detmath.det_ln_pos_sql('qa', 'duckdb', assume_ge_1=True)}
               * tf * {detmath.dlit(2.2)}
               / (tf + {detmath.dlit(1.2)} * ({detmath.dlit(0.25)}
                  + {detmath.dlit(0.75)} * dl / avg_dl))
               * 1e9 + 0.5) AS BIGINT) AS s9
      FROM sc0),
    agg AS (
      SELECT doc_id,
             FLOOR((CAST(sum(s9) AS DOUBLE) / 1e9) * 1e6 + 0.5) / 1e6 AS bm25_q6,
             count(*) AS n_terms_hit
      FROM sc GROUP BY doc_id)
    SELECT doc_id, bm25_q6, n_terms_hit, rank FROM (
      SELECT *, row_number() OVER (ORDER BY bm25_q6 DESC, doc_id ASC) AS rank
      FROM agg) WHERE rank <= 20
    """,
)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (k1=1.2, b=0.75) against a deterministic
    corpus-derived query (document-frequency ranks 10-12): tf/df hash
    aggs, broadcast query terms, TakeOrderedAndProject top-20 — the
    lexical half of a hybrid search stack (text.bm25_search; TF-IDF's
    ranked sibling)."""
    docs = _td(spark, sf_dir, "documents")
    return text.bm25_search(docs)


@_register(
    "doc_survivorship",
    rf"""
    WITH RECURSIVE nrm AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents),
    sh0 AS (
      SELECT DISTINCT doc_id AS id, g AS sh FROM nrm,
        UNNEST(list_transform(range(1, GREATEST(len(toks) - 2, 1) + 1),
                              i -> array_to_string(toks[i:i+2], ' '))) AS t(g)),
    sh AS (
      SELECT id, sh FROM (
        SELECT id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM sh0)
      WHERE df <= 1000),
    sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
      GROUP BY a.id, b.id),
    prs AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
      WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.2),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM prs
      UNION ALL SELECT id_b, id_a FROM prs),
    reach AS (
      SELECT doc_id AS src, doc_id AS dst FROM documents
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
    cl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
    base AS (
      SELECT doc_id, lower(text) AS txt FROM documents),
    {_DOC_METRICS_CTE},
    q AS (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM m),
    j AS (SELECT cl.doc_id, cl.cluster_id, q.quality
          FROM cl JOIN q USING (doc_id)),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY quality DESC, doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_in_cluster
      FROM j)
    SELECT doc_id, cluster_id, quality, (rn = 1) AS is_kept, n_in_cluster
    FROM r
    """,
)
def doc_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based survivorship over the near-dup clustering: the
    3-gram-Jaccard connected components (doc_dup_clusters' edge set)
    joined with the heuristic quality score; per cluster the best-
    quality member is kept (ties → lowest doc_id) — dedup that drops
    the WORST copies (dedup.survivorship)."""
    docs = _td(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.2)
    clusters = dedup.dup_clusters(docs, pairs)
    quality = text.with_quality_score(docs).select("doc_id", "quality")
    return dedup.survivorship(clusters, quality)


@_register(
    "doc_dup_spans",
    rf"""
    WITH tk AS (
      SELECT doc_id, list_filter(string_split({_norm_sql('text')}, ' '),
                                 w -> length(w) > 0) AS toks
      FROM documents),
    g AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             md5(array_to_string(toks[i + 1:i + 8], ' ')) AS gh
      FROM tk, UNNEST(range(0, GREATEST(len(toks) - 7, 0))) t(i)),
    c AS (
      SELECT doc_id, pos,
             COUNT(*) OVER (PARTITION BY gh) > 1 AS dup
      FROM g),
    sp AS (
      SELECT doc_id, pos, dup,
             MAX(CASE WHEN dup THEN pos END) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_dup
      FROM c)
    SELECT doc_id,
           CAST(COUNT(*) + 7 AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_grams,
           CAST(SUM(CASE WHEN dup
                    THEN LEAST(8, pos - COALESCE(prev_dup, pos - 8))
                    ELSE 0 END) AS BIGINT) AS dup_tokens,
           FLOOR(SUM(CASE WHEN dup
                     THEN LEAST(8, pos - COALESCE(prev_dup, pos - 8))
                     ELSE 0 END) * 1.0 / (COUNT(*) + 7) * 1e6 + 0.5) / 1e6
             AS dup_token_frac_q6
    FROM sp GROUP BY doc_id
    """,
)
def doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring coverage (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    8-token gram occurring more than once ANYWHERE in the corpus marks
    its 8-token span, and each document reports how much of its text
    the union of those spans covers — the signal behind
    exact-substring dedup, which catches boilerplate repeated INSIDE
    otherwise-unique pages that doc/line-level dedup misses. Docs
    shorter than one gram are out of the trained domain and excluded
    (the oracle applies the same cut).

    Scale shape: one corpus scan explodes positional grams (md5 keys —
    the 128-bit shuffle-slim convention), ONE gram-key shuffle for the
    corpus-wide window count (no count-table join-back — the window
    avoids re-deriving the stream), one doc-key shuffle for the span
    union, whose per-doc window MAX(dup pos) algebra turns greedy
    interval merging into exact integer arithmetic: covered +=
    min(8, pos − prev_dup_pos). Integer outputs + one exact-count
    division."""
    docs = _td(spark, sf_dir, "documents")
    return text.dup_span_coverage(docs, gram_tokens=8)


@_register(
    "doc_mixture_weights",
    rf"""
    WITH base AS (
      SELECT doc_id, lower(text) AS txt FROM documents),
    {_DOC_METRICS_CTE},
    q AS (SELECT doc_id, {_QUALITY_EXPR} AS quality FROM m),
    nt AS (
      SELECT doc_id,
             CASE WHEN length(nrm) > 0
                  THEN len(string_split(nrm, ' ')) ELSE 0 END AS n_tok
      FROM (SELECT doc_id, {_norm_sql('text')} AS nrm FROM documents) x),
    s AS (
      SELECT d.source, count(*) AS n_docs,
             sum(nt.n_tok) AS n_tokens,
             sum(CAST(FLOOR(q.quality * 1e9 + 0.5) AS BIGINT)) AS sq9
      FROM documents d JOIN q USING (doc_id) JOIN nt USING (doc_id)
      GROUP BY d.source),
    s2 AS (
      SELECT source, n_docs, n_tokens,
             (CAST(sq9 AS DOUBLE) / n_docs) / 1e9 AS mq
      FROM s),
    s3 AS (
      SELECT *,
             CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * mq * 1e6 + 0.5)
                  AS BIGINT) AS w6
      FROM s2),
    t AS (SELECT sum(w6) AS tw6 FROM s3)
    SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
           FLOOR(mq * 1e6 + 0.5) / 1e6 AS mean_quality_q6,
           FLOOR((CAST(w6 AS DOUBLE) / 1e6) / (CAST(tw6 AS DOUBLE) / 1e6)
                 * 1e6 + 0.5) / 1e6 AS weight_q6,
           FLOOR(LEAST(100000.0 * ((CAST(w6 AS DOUBLE) / 1e6)
                                   / (CAST(tw6 AS DOUBLE) / 1e6)) / n_tokens, 1.0)
                 * 1e6 + 0.5) / 1e6 AS sample_rate_q6
    FROM s3 CROSS JOIN t
    """,
)
def doc_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static data-mixture weights per source (power-law tempering,
    alpha=0.5, quality-weighted) plus the per-source sampling rate for a
    100k-token budget — the corpus-mixing decision step
    (text.mixture_weights); everything after the one corpus pass is
    alphabet-sized.  r4–r6 hash-FAIL root cause (found r7): ``n_tokens``
    emitted as un-cast SUM(BIGINT) → HUGEINT → decimal128 rendering
    mismatch, now CAST AS BIGINT (see doc_token_entropy)."""
    docs = _td(spark, sf_dir, "documents")
    return text.mixture_weights(docs, alpha=0.5, token_budget=100_000)


@_register(
    "doc_distinctive_terms",
    rf"""
    WITH tok AS MATERIALIZED (
      SELECT source AS grp, w AS term FROM (
        SELECT source,
               UNNEST(string_split({_norm_sql('text')}, ' ')) AS w
        FROM documents) t
      WHERE length(w) > 0),
    gt AS (SELECT grp, term, count(*) AS y_st FROM tok GROUP BY 1, 2),
    tm AS (SELECT term, sum(y_st) AS y_t FROM gt GROUP BY 1),
    gm AS (SELECT grp, sum(y_st) AS n_s FROM gt GROUP BY 1),
    tt AS (SELECT sum(y_st) AS n, count(DISTINCT term) AS v FROM gt),
    sc0 AS (
      SELECT gt.grp, gt.term, gt.y_st, tm.y_t,
             gt.y_st + {detmath.dlit(0.01)} AS na,
             gm.n_s + {detmath.dlit(0.01)} * tt.v
               - gt.y_st - {detmath.dlit(0.01)} AS da,
             (tm.y_t - gt.y_st) + {detmath.dlit(0.01)} AS nb,
             (tt.n - gm.n_s) + {detmath.dlit(0.01)} * tt.v
               - (tm.y_t - gt.y_st) - {detmath.dlit(0.01)} AS db,
             1.0 / (gt.y_st + {detmath.dlit(0.01)})
               + 1.0 / ((tm.y_t - gt.y_st) + {detmath.dlit(0.01)}) AS var
      FROM gt JOIN tm USING (term) JOIN gm USING (grp) CROSS JOIN tt),
    sc AS (
      SELECT grp, term, y_st, y_t,
             (({detmath.det_ln_pos_sql('na', 'duckdb', assume_ge_1=True)}
               - {detmath.det_ln_pos_sql('da', 'duckdb')})
              - ({detmath.det_ln_pos_sql('nb', 'duckdb')}
                 - {detmath.det_ln_pos_sql('db', 'duckdb')})) AS delta,
             var
      FROM sc0)
    SELECT grp AS source, term, y_st, CAST(y_t AS BIGINT) AS y_t, z_q4, rank
    FROM (
      SELECT grp, term, y_st, y_t,
             FLOOR(delta / sqrt(var) * 1e4 + 0.5) / 1e4 AS z_q4,
             row_number() OVER (
               PARTITION BY grp
               ORDER BY FLOOR(delta / sqrt(var) * 1e4 + 0.5) / 1e4 DESC,
                        term ASC) AS rank
      FROM sc) r WHERE rank <= 5
    """,
)
def doc_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive vocabulary: informative-Dirichlet-prior
    log-odds z-scores (Monroe et al. 2008), top-5 per source — the
    corpus-comparison statistic behind 'what makes this slice different'
    (text.distinctive_terms).  All ln() via functions.detmath, ln args
    staged as double columns — bit-identical across engines.  Actual
    r4–r6 hash-FAIL root cause (found r7): ``y_t`` emitted as un-cast
    SUM(BIGINT) → HUGEINT → decimal128 rendering mismatch, now CAST AS
    BIGINT (see doc_token_entropy's docstring for the full account)."""
    docs = _td(spark, sf_dir, "documents")
    return text.distinctive_terms(docs, group_col="source", top_k=5)


@_register(
    "doc_lang_confusion",
    r"""
    WITH scored AS (
      SELECT doc_id, lang,
        GREATEST(len(regexp_extract_all(lower(text), '[A-Za-z0-9]+')), 1) AS nw,
        len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|that|with)\b')) AS h_en,
        len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht|mit)\b')) AS h_de,
        len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|que|pour)\b')) AS h_fr,
        len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|para|como)\b')) AS h_es
      FROM documents),
    s2 AS (
      SELECT doc_id, lang,
             CAST(h_en AS DOUBLE)/nw AS s_en, CAST(h_de AS DOUBLE)/nw AS s_de,
             CAST(h_fr AS DOUBLE)/nw AS s_fr, CAST(h_es AS DOUBLE)/nw AS s_es,
             GREATEST(CAST(h_en AS DOUBLE)/nw, CAST(h_de AS DOUBLE)/nw,
                      CAST(h_fr AS DOUBLE)/nw, CAST(h_es AS DOUBLE)/nw) AS best
      FROM scored),
    pred AS (
      SELECT lang,
             CASE WHEN best <= 0 THEN 'und'
                  WHEN s_fr = best THEN 'fr'
                  WHEN s_es = best THEN 'es'
                  WHEN s_en = best THEN 'en'
                  ELSE 'de' END AS lang_pred
      FROM s2),
    cm AS (SELECT lang, lang_pred, count(*) AS n FROM pred GROUP BY 1, 2),
    tot AS (SELECT lang, sum(n) AS row_n FROM cm GROUP BY 1)
    SELECT cm.lang, cm.lang_pred, cm.n,
           FLOOR(cm.n * 1.0 / tot.row_n * 1e6 + 0.5) / 1e6 AS row_frac_q6,
           (cm.lang = cm.lang_pred) AS is_correct
    FROM cm JOIN tot USING (lang)
    """,
)
def doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID evaluation: confusion matrix of predicted
    vs labeled language with per-true-label row fractions — the model-
    quality report for the marker-based classifier (text.with_lang_id);
    one prediction pass + one alphabet²-sized agg."""
    docs = _td(spark, sf_dir, "documents")
    pred = text.with_lang_id(docs).select("lang", "lang_pred")
    cm = pred.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window

    tot = Window.partitionBy("lang")
    return cm.select(
        "lang",
        "lang_pred",
        "n",
        (F.floor(F.col("n") / F.sum("n").over(tot) * 1e6 + F.lit(0.5)) / 1e6).alias(
            "row_frac_q6"
        ),
        (F.col("lang") == F.col("lang_pred")).alias("is_correct"),
    )


@_register(
    "doc_token_entropy",
    rf"""
    WITH tok AS (
      SELECT doc_id, w FROM (
        SELECT doc_id,
               UNNEST(string_split({_norm_sql('text')}, ' ')) AS w
        FROM documents) t
      WHERE length(w) > 0),
    tf AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
    l AS (SELECT doc_id, c, {detmath.det_log2_int_sql('c', 'duckdb')} AS l2c
          FROM tf),
    agg AS (
      SELECT doc_id,
             sum(c) AS nt,
             count(*) AS n_distinct,
             sum(CAST(FLOOR(CAST(c AS DOUBLE) * l2c * 1e9 + 0.5) AS BIGINT)) AS s9
      FROM l GROUP BY 1),
    h AS (
      SELECT doc_id, nt, n_distinct, s9,
             {detmath.det_log2_int_sql('nt', 'duckdb')} AS l2nt,
             {detmath.det_log2_int_sql('n_distinct', 'duckdb')} AS l2nd
      FROM agg),
    h2 AS (
      SELECT doc_id, nt, n_distinct, l2nd,
             l2nt - (CAST(s9 AS DOUBLE) / 1e9) / CAST(nt AS DOUBLE) AS ent
      FROM h)
    SELECT doc_id,
           CAST(nt AS BIGINT) AS n_tokens,
           n_distinct,
           FLOOR(ent * 1e6 + 0.5) / 1e6 AS entropy_q6,
           FLOOR((CASE WHEN n_distinct > 1 THEN ent / l2nd
                  ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS entropy_norm_q6
    FROM h2
    """,
)
def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy (+ normalized by
    log2 of the distinct-token count) — the gibberish/template detector
    that complements the repetition signals: low entropy = repetitive or
    templated text, ~1 normalized = uniform word soup. One (doc, term)
    hash agg, one per-doc agg — the text never shuffles twice.

    Determinism: H = log2(nt) − (Σ c·log2 c)/nt with every log2 taken
    from functions.detmath (bit-identical across Spark and DuckDB),
    each per-term contribution snapped to a 1e-9 integer grid, and the
    per-doc total summed as BIGINT — exact and partial-agg-order
    independent.

    r4–r6 hash-FAIL root cause (found r7): the oracle emitted
    ``sum(c) AS n_tokens`` un-cast — DuckDB types SUM(BIGINT) as
    HUGEINT (int128), which converts through Arrow as decimal128, so a
    comparator that renders Decimal("59") differently from int 59
    hash-mismatches on values that are numerically identical. Exactly
    the 4 persistently-failing queries (and only those, out of 227
    oracles) had a HUGEINT output column; every oracle now casts
    integer sums to BIGINT (guarded by
    tests/test_queries_oracle.py::test_no_hugeint_oracle_outputs)."""
    from ..operators.text import normalize_text

    docs = _td(spark, sf_dir, "documents")
    toks = F.split(normalize_text(F.col("text")), " ")
    stream = docs.select("doc_id", F.explode(toks).alias("w")).filter(
        F.length("w") > 0
    )
    tf = stream.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    lg = tf.withColumn("l2c", detmath.det_log2_int("c"))
    contrib9 = F.floor(F.col("c").cast("double") * F.col("l2c") * 1e9 + F.lit(0.5))
    agg = lg.groupBy("doc_id").agg(
        F.sum("c").alias("nt"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(contrib9).alias("s9"),
    )
    h = agg.withColumn("l2nt", detmath.det_log2_int("nt")).withColumn(
        "l2nd", detmath.det_log2_int("n_distinct")
    )
    ent = (
        F.col("l2nt")
        - (F.col("s9").cast("double") / F.lit(1e9)) / F.col("nt").cast("double")
    )
    return h.select(
        "doc_id",
        F.col("nt").alias("n_tokens"),
        "n_distinct",
        q6(ent).alias("entropy_q6"),
        q6(
            F.when(F.col("n_distinct") > 1, ent / F.col("l2nd")).otherwise(0.0)
        ).alias("entropy_norm_q6"),
    )


@_register(
    "doc_source_divergence",
    rf"""
    WITH tok AS MATERIALIZED (
      SELECT source AS grp, w AS term FROM (
        SELECT source,
               UNNEST(string_split({_norm_sql('text')}, ' ')) AS w
        FROM documents) t
      WHERE length(w) > 0),
    freq AS (SELECT term, count(*) AS f FROM tok GROUP BY 1),
    vocab AS (SELECT term FROM freq ORDER BY f DESC, term ASC LIMIT 64),
    bk AS (
      SELECT grp,
             CASE WHEN v.term IS NOT NULL THEN tok.term ELSE '<oov>' END AS term
      FROM tok LEFT JOIN vocab v USING (term)),
    gt AS (SELECT grp, term, count(*) AS c FROM bk GROUP BY 1, 2),
    gtot AS (SELECT grp, sum(c) AS nt FROM gt GROUP BY 1),
    probs AS (
      SELECT gt.grp, gt.term,
             floor(gt.c * 1.0 / gtot.nt * 1e9 + 0.5) / 1e9 AS p
      FROM gt JOIN gtot USING (grp)),
    prs AS (
      SELECT a.grp AS ga, b.grp AS gb
      FROM (SELECT DISTINCT grp FROM probs) a
      JOIN (SELECT DISTINCT grp FROM probs) b ON a.grp < b.grp),
    trm AS (SELECT DISTINCT term FROM probs),
    cells AS (
      SELECT s.ga, s.gb,
             COALESCE(pa.p, 0.0) AS p, COALESCE(pb.p, 0.0) AS q
      FROM (SELECT * FROM prs CROSS JOIN trm) s
      LEFT JOIN probs pa ON pa.grp = s.ga AND pa.term = s.term
      LEFT JOIN probs pb ON pb.grp = s.gb AND pb.term = s.term),
    rat AS (
      SELECT ga, gb, p, q,
             CASE WHEN p > 0 THEN p / ((p + q) / 2) ELSE 1.0 END AS rp,
             CASE WHEN q > 0 THEN q / ((p + q) / 2) ELSE 1.0 END AS rq
      FROM cells)
    SELECT ga AS source_a, gb AS source_b,
           FLOOR(CAST(sum(CAST(FLOOR((
             CASE WHEN p > 0
               THEN p * {detmath.det_log2_pos_sql('rp', 'duckdb')} ELSE 0.0 END
             + CASE WHEN q > 0
               THEN q * {detmath.det_log2_pos_sql('rq', 'duckdb')} ELSE 0.0 END
           ) * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 / 2 * 1e6 + 0.5) / 1e6
             AS jsd_q6
    FROM rat GROUP BY ga, gb
    """,
)
def doc_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions over a fixed top-64 + OOV vocabulary — the corpus-
    drift matrix (text.source_js_divergence); everything after the
    token agg is alphabet-sized."""
    docs = _td(spark, sf_dir, "documents")
    return text.source_js_divergence(docs, vocab_size=64)


@_register(
    "doc_pmi_collocations",
    rf"""
    WITH norm AS (
      SELECT doc_id, string_split({_norm_sql('text')}, ' ') AS tk
      FROM documents),
    tok AS (
      SELECT doc_id, i, tk[i] AS w
      FROM norm, UNNEST(range(1, len(tk) + 1)) AS t(i)
      WHERE length(tk[i]) > 0),
    big AS (
      SELECT a.w AS wa, b.w AS wb, count(*) AS c_ab
      FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      GROUP BY 1, 2),
    uni AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    tot AS (
      SELECT (SELECT sum(c) FROM uni) AS n_uni,
             (SELECT sum(c_ab) FROM big) AS n_big),
    rat AS (
      SELECT big.wa, big.wb, big.c_ab,
             (big.c_ab / tot.n_big)
               / ((ua.c / tot.n_uni) * (ub.c / tot.n_uni)) AS pr
      FROM big
      JOIN uni ua ON big.wa = ua.w
      JOIN uni ub ON big.wb = ub.w
      CROSS JOIN tot
      WHERE big.c_ab >= 5)
    SELECT wa, wb, c_ab, pmi_q6, rank FROM (
      SELECT wa, wb, c_ab,
             FLOOR({detmath.det_log2_pos_sql('pr', 'duckdb')}
                   * 1e6 + 0.5) / 1e6 AS pmi_q6,
             row_number() OVER (
               ORDER BY FLOOR({detmath.det_log2_pos_sql('pr', 'duckdb')}
                   * 1e6 + 0.5) / 1e6 DESC, wa ASC, wb ASC) AS rank
      FROM rat) r
    WHERE rank <= 20
    """,
)
def doc_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 word bigrams by pointwise mutual
    information (min count 5) — the phrase-detection primitive behind
    tokenizer merges and stop-phrase lists. Bigrams derived row-locally
    (zip_with on the shifted token array — no position self-join in the
    engine; the ORACLE uses the position join as the independent
    formulation), then unigram-margin broadcast joins and a top-k cut
    over the filtered candidate set."""
    from pyspark.sql import Window

    from ..operators.text import normalize_text

    docs = _td(spark, sf_dir, "documents")
    toks = F.split(normalize_text(F.col("text")), " ")
    # row-local bigrams over non-empty tokens (mirror: oracle filters
    # empty tokens BEFORE pairing, so filter the array first too)
    clean = F.filter(toks, lambda x: F.length(x) > 0)
    bigrams = F.filter(
        F.zip_with(
            clean,
            F.slice(clean, 2, 1 << 20),
            lambda a, b: F.struct(a.alias("wa"), b.alias("wb")),
        ),
        lambda s: s.getField("wb").isNotNull(),
    )
    big = (
        docs.select(F.explode(bigrams).alias("bg"))
        .select(F.col("bg.wa").alias("wa"), F.col("bg.wb").alias("wb"))
        .groupBy("wa", "wb")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    uni = (
        docs.select(F.explode(clean).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot_uni = uni.agg(F.sum("c").alias("n_uni"))
    tot_big = (
        docs.select(F.size(bigrams).alias("nb")).agg(F.sum("nb").alias("n_big"))
    )
    j = (
        big.join(F.broadcast(uni.withColumnRenamed("w", "wa").withColumnRenamed("c", "ca")), "wa")
        .join(F.broadcast(uni.withColumnRenamed("w", "wb").withColumnRenamed("c", "cb")), "wb")
        .crossJoin(F.broadcast(tot_uni))
        .crossJoin(F.broadcast(tot_big))
    )
    j = j.withColumn(
        "__pr",
        (F.col("c_ab") / F.col("n_big"))
        / ((F.col("ca") / F.col("n_uni")) * (F.col("cb") / F.col("n_uni"))),
    )
    pmi = F.floor(detmath.det_log2_pos("__pr") * 1e6 + F.lit(0.5)) / 1e6
    w = Window.orderBy(F.col("pmi_q6").desc(), F.col("wa").asc(), F.col("wb").asc())
    return (
        j.withColumn("pmi_q6", pmi)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("wa", "wb", "c_ab", "pmi_q6", "rank")
    )


@_register(
    "doc_jsonl_roundtrip",
    """
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS distinct_md5
    FROM documents GROUP BY lang, source
    """,
)
def doc_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus sink + source through the driver contract
    (`sources/io.py::write_jsonl/read_jsonl`): the documents table is
    written as gzip JSONL shards and read back with an explicit DDL
    schema (inference would double the scan at corpus scale), then
    digested per (lang, source) — row counts, character mass, and the
    count of distinct md5(text). The oracle computes the same digest
    from the ORIGINAL parquet, so any text mangled by the JSON
    encode/decode (escapes, unicode, embedded newlines) or any dropped
    row breaks the hash. Read-back is materialized before the temp dir
    is removed."""
    import shutil
    import tempfile

    from ..sources.io import read_jsonl, write_jsonl

    docs = _td(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="jsonl_roundtrip_")
    try:
        write_jsonl(docs, d)
        back = read_jsonl(
            spark,
            d,
            schema="doc_id bigint, text string, lang string, source string, n_chars bigint",
        )
        out = back.groupBy("lang", "source").agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("sum_chars"),
            F.count_distinct(F.md5("text")).alias("distinct_md5"),
        )
        return to_local(out)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@_register(
    "doc_weighted_sample",
    """
    WITH base AS (
      SELECT doc_id, lang, source, n_chars
      FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
    ),
    tot AS (SELECT SUM(n_chars) AS W FROM base),
    c AS (
      SELECT b.*, SUM(n_chars) OVER (ORDER BY doc_id) AS cum FROM base b
    )
    SELECT doc_id, lang, source, n_chars
    FROM c, tot
    WHERE (60 * cum - (W * 1) // 2 + W) // W
        > (60 * (cum - n_chars) - (W * 1) // 2 + W) // W
    """,
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted PPS systematic sample of the corpus
    (`text.pps_systematic_sample`, ~60 docs with inclusion probability
    ∝ n_chars): the weighted counterpart of `doc_hash_sample` for
    mixture construction. Every selection decision is BIGINT
    arithmetic over a `stats.global_cumsum` line — no float and no
    libm anywhere (the Efraimidis-Spirakis exp-trick alternative rides
    on cross-engine pow/log ulps), so the drawn SET is identical under
    any layout and any engine, which is what lets a sample be
    hash-adjudicated at all."""
    docs = _td(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return text.pps_systematic_sample(docs, "n_chars", 60)


def _bpe_oracle(num_merges: int = 8) -> str:
    """Generated chained-CTE oracle for doc_bpe_merges: re-learns the
    identical merge sequence in DuckDB — per step one pair-count CTE,
    one argmax CTE (count desc, left asc, right asc), and the
    closed-form greedy-left merge application (equal-symbol runs merge
    at even offsets) — every value an exact integer/string, nothing to
    drift."""
    parts = [
        rf"""
    WITH tok AS (
      SELECT w AS word FROM (
        SELECT UNNEST(string_split({_norm_sql('text')}, ' ')) AS w
        FROM documents) t
      WHERE regexp_matches(w, '^[a-z0-9]+$')),
    wf AS (SELECT word, count(*) AS freq FROM tok GROUP BY word),
    ch AS (SELECT word, freq, regexp_extract_all(word, '.') AS cs FROM wf),
    st0 AS (
      SELECT word, freq, CAST(i AS INT) AS pos, cs[i] AS sym
      FROM ch, UNNEST(range(1, len(cs) + 1)) t(i))"""
    ]
    for i in range(1, num_merges + 1):
        p = i - 1
        parts.append(
            f"""
    , p{i} AS (
      SELECT sym AS a, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS b,
             freq
      FROM st{p}),
    c{i} AS (SELECT a, b, sum(freq) AS c FROM p{i}
             WHERE b IS NOT NULL GROUP BY a, b),
    b{i} AS (SELECT a, b, c FROM c{i} ORDER BY c DESC, a ASC, b ASC LIMIT 1),
    m{i} AS (
      SELECT word, freq, pos, sym,
             lead(sym) OVER wo AS nxt,
             CASE WHEN lag(sym) OVER wo IS NULL OR sym != lag(sym) OVER wo
                  THEN 1 ELSE 0 END AS chg
      FROM st{p} WINDOW wo AS (PARTITION BY word ORDER BY pos)),
    r{i} AS (SELECT *, sum(chg) OVER (PARTITION BY word ORDER BY pos) AS run_id
             FROM m{i}),
    o{i} AS (SELECT *, row_number() OVER (
               PARTITION BY word, run_id ORDER BY pos) - 1 AS off FROM r{i}),
    f{i} AS (
      SELECT o.*, b.a AS ba, b.b AS bb,
             COALESCE(o.sym = b.a AND o.nxt = b.b
                      AND (b.a != b.b OR o.off % 2 = 0), false) AS m
      FROM o{i} o CROSS JOIN b{i} b),
    g{i} AS (SELECT *, COALESCE(lag(m) OVER (PARTITION BY word ORDER BY pos),
                                false) AS consumed FROM f{i}),
    st{i} AS (
      SELECT word, freq,
             CAST(row_number() OVER (PARTITION BY word ORDER BY pos) AS INT)
               AS pos,
             CASE WHEN m THEN ba || bb ELSE sym END AS sym
      FROM g{i} WHERE NOT consumed)"""
        )
    unions = "\n      UNION ALL ".join(
        f"SELECT {i} AS step, a AS left_sym, b AS right_sym, "
        f"a || b AS merged, CAST(c AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, num_merges + 1)
    )
    parts.append(f"\n    {unions}")
    return "".join(parts)


def _bpe_token_counts_oracle(num_merges: int = 8) -> str:
    """doc_bpe_token_counts oracle: the shared training chain, then one
    word→symbol-count agg and the document join — integer sums only."""
    chain = _bpe_oracle(num_merges)
    # cut the merge-table UNION tail off the shared generator, keep CTEs
    tail = chain.rindex("\n    SELECT 1 AS step")
    ctes = chain[:tail]
    return (
        ctes
        + rf"""
    , wsym AS (SELECT word, count(*) AS n_sym FROM st{num_merges}
               GROUP BY word),
    dw AS (
      SELECT doc_id, w AS word FROM (
        SELECT doc_id, UNNEST(string_split({_norm_sql('text')}, ' ')) AS w
        FROM documents) t
      WHERE regexp_matches(w, '^[a-z0-9]+$'))
    SELECT doc_id, count(*) AS n_words,
           CAST(sum(n_sym) AS BIGINT) AS bpe_tokens
    FROM dw JOIN wsym USING (word) GROUP BY doc_id
    """
    )


def _bpe_fertility_oracle(num_merges: int = 8) -> str:
    """doc_bpe_fertility oracle: the shared BPE training chain, the
    per-doc token counts, then one source-sized fertility agg."""
    chain = _bpe_oracle(num_merges)
    tail = chain.rindex("\n    SELECT 1 AS step")
    ctes = chain[:tail]
    return (
        ctes
        + rf"""
    , wsym AS (SELECT word, count(*) AS n_sym FROM st{num_merges}
               GROUP BY word),
    dw AS (
      SELECT doc_id, source, w AS word FROM (
        SELECT doc_id, source,
               UNNEST(string_split({_norm_sql('text')}, ' ')) AS w
        FROM documents) t
      WHERE regexp_matches(w, '^[a-z0-9]+$')),
    pd AS (
      SELECT doc_id, source, count(*) AS n_words,
             CAST(sum(n_sym) AS BIGINT) AS bpe_tokens
      FROM dw JOIN wsym USING (word) GROUP BY 1, 2)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(bpe_tokens) AS BIGINT) AS bpe_tokens,
           FLOOR(CAST(sum(bpe_tokens) AS DOUBLE) / sum(n_words) * 1e6 + 0.5)
             / 1e6 AS fertility_q6
    FROM pd GROUP BY source
    """
    )


@_register("doc_bpe_fertility", _bpe_fertility_oracle)
def doc_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by source (BPE tokens per word under the
    learned 8-merge vocabulary) — THE tokenizer-fit metric: fertility
    near 1 means the vocab compresses the slice well, high fertility
    flags a slice the tokenizer fragments (and whose token budget
    explodes). Rides the trained-BPE chain; exact integer sums, one
    source-sized division."""
    docs = _td(spark, sf_dir, "documents")
    tc = text.bpe_token_counts(docs, num_merges=8)
    j = tc.join(docs.select("doc_id", "source"), "doc_id")
    agg = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("bpe_tokens").alias("bpe_tokens"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_words",
        "bpe_tokens",
        (
            F.floor(
                F.col("bpe_tokens").cast("double") / F.col("n_words") * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("fertility_q6"),
    )


@_register("doc_bpe_merges", _bpe_oracle)
def doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (text.bpe_merges): the first
    8 merge rules learned from the corpus — classic BPE shape where ONE
    corpus pass builds the word-frequency table and every merge step
    runs on that vocab-sized table (corpus-size-independent training);
    overlapping self-pairs resolved with the closed-form
    even-offset-in-run rule so the greedy-left scan is expressible as
    window arithmetic in both engines. The oracle re-learns the
    identical merge sequence as a generated CTE chain.

    r6 hash-FAIL root cause (found r7): ``pair_count`` was emitted as
    raw ``sum(freq)`` — HUGEINT in DuckDB (decimal128 via Arrow) vs
    Spark's BIGINT; integer/string-only output proving the failure was
    value *rendering*, never math. Now CAST AS BIGINT (the passing
    sibling doc_bpe_token_counts always had this cast — the
    counter-diagnostic that localized the bug)."""
    docs = _td(spark, sf_dir, "documents")
    return text.bpe_merges(docs, num_merges=8)


@_register("doc_bpe_token_counts", _bpe_token_counts_oracle)
def doc_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the LEARNED 8-merge BPE
    vocabulary (text.bpe_token_counts) — the budget estimate a pipeline
    runs with its actual tokenizer rather than the whitespace
    heuristic; word→symbol-count table broadcast onto one document word
    explosion, integer sums only. The oracle re-trains the identical
    merge sequence and re-counts in SQL."""
    docs = _td(spark, sf_dir, "documents")
    return text.bpe_token_counts(docs, num_merges=8)


def _ngram_novelty_oracle(n: int = 3, ref_cut: int = 100) -> str:
    """Generated oracle for doc_ngram_novelty: the portable md5-prefix
    token hashes + polynomial 3-gram mixing (the shared minhash CTE
    recipe) build each doc's DISTINCT shingle-hash set; the reference
    set is the union over doc_id < ref_cut; novelty = fraction of a
    doc's distinct shingles absent from the reference (exact integer
    counts, one division)."""
    from ..operators.dedup import _P31

    K = 1000003
    return rf"""
    WITH norm AS (
      SELECT doc_id,
             regexp_split_to_array({_norm_sql('text')}, ' ') AS toks
      FROM documents),
    th AS (
      SELECT doc_id,
             list_transform(toks,
               t -> CAST(concat('0x', substr(md5(t), 1, 7)) AS BIGINT)) AS th
      FROM norm),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id, h FROM (
        SELECT doc_id,
               CASE WHEN len(th) < {n}
                    THEN [list_reduce(th, (a, b) -> (a * {K} + b) % {_P31})]
                    ELSE list_transform(range(1, len(th) - 1),
                      i -> ((th[i] * {K} + th[i + 1]) % {_P31} * {K}
                            + th[i + 2]) % {_P31})
               END AS hs
        FROM th) t, UNNEST(t.hs) AS u(h)),
    ref AS MATERIALIZED (
      SELECT DISTINCT h FROM sh WHERE doc_id < {ref_cut}),
    scored AS (
      SELECT s.doc_id,
             count(*) AS n_shingles,
             CAST(sum(CASE WHEN r.h IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel
      FROM sh s LEFT JOIN ref r ON s.h = r.h
      WHERE s.doc_id >= {ref_cut}
      GROUP BY s.doc_id)
    SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles, n_novel,
           FLOOR(n_novel * 1.0 / n_shingles * 1e6 + 0.5) / 1e6
             AS novelty_q6
    FROM scored
    """


@_register("doc_ngram_novelty", _ngram_novelty_oracle)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY against a reference corpus — the
    pretraining-data metric behind memorization/contamination audits
    (fraction of a doc's distinct word-3-grams never seen in the
    reference slice; low novelty = near-boilerplate or leaked reference
    content). Reference = docs with doc_id < 100 (in production: the
    already-trained-on corpus). Shingles ride the shared portable
    md5-token + polynomial-mixing path (no shingle strings
    materialized); the reference set is distinct-deduped BEFORE the
    join and the strategy is left to AQE — it broadcasts while the
    reference fits and falls back to a shuffle hash join on the shingle
    key when a 100 TB reference doesn't (a forced broadcast hint would
    OOM the driver there); novelty is an exact integer ratio."""
    docs = _td(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(dedup.shingle_hashes("text", 3, token_hash="md5")).alias("h"),
    ).distinct()
    ref = (
        sh.filter(F.col("doc_id") < 100).select("h").distinct()
        .withColumn("__seen", F.lit(1))
    )
    scored = (
        sh.filter(F.col("doc_id") >= 100)
        .join(ref, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return scored.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        (
            F.floor(F.col("n_novel") * 1.0 / F.col("n_shingles") * 1e6 + F.lit(0.5))
            / 1e6
        ).alias("novelty_q6"),
    )


def _ngram_coverage_oracle(n: int = 3) -> str:
    """Generated oracle for doc_ngram_coverage: each distinct shingle
    hash is attributed to its FIRST document (min doc_id), per-doc new
    counts, plain window cumsum (DuckDB is single-node — the Spark side
    uses the range-partitioned global_cumsum, same values), Heaps-law
    coverage ratio as an exact integer division."""
    from ..operators.dedup import _P31

    K = 1000003
    return rf"""
    WITH norm AS (
      SELECT doc_id,
             regexp_split_to_array({_norm_sql('text')}, ' ') AS toks
      FROM documents),
    th AS (
      SELECT doc_id,
             list_transform(toks,
               t -> CAST(concat('0x', substr(md5(t), 1, 7)) AS BIGINT)) AS th
      FROM norm),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id, h FROM (
        SELECT doc_id,
               CASE WHEN len(th) < {n}
                    THEN [list_reduce(th, (a, b) -> (a * {K} + b) % {_P31})]
                    ELSE list_transform(range(1, len(th) - 1),
                      i -> ((th[i] * {K} + th[i + 1]) % {_P31} * {K}
                            + th[i + 2]) % {_P31})
               END AS hs
        FROM th) t, UNNEST(t.hs) AS u(h)),
    firsts AS (
      SELECT h, min(doc_id) AS doc_id FROM sh GROUP BY h),
    per_doc AS (
      SELECT s.doc_id,
             count(*) AS n_shingles,
             CAST(sum(CASE WHEN f.doc_id = s.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new
      FROM sh s JOIN firsts f ON s.h = f.h
      GROUP BY s.doc_id),
    cum AS (
      SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles, n_new,
             CAST(sum(n_new) OVER (ORDER BY doc_id) AS BIGINT)
               AS cum_distinct,
             CAST(sum(n_shingles) OVER (ORDER BY doc_id) AS BIGINT)
               AS cum_total
      FROM per_doc)
    SELECT doc_id, n_shingles, n_new, cum_distinct,
           FLOOR(cum_distinct * 1.0 / cum_total * 1e6 + 0.5) / 1e6
             AS coverage_q6
    FROM cum
    """


@_register("doc_ngram_coverage", _ngram_coverage_oracle)
def doc_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve over the corpus in doc_id
    order: per document, how many of its distinct word-3-grams are NEW
    to the corpus so far, the running distinct total, and the
    distinct/total coverage ratio — the scaling-law diagnostic behind
    dedup planning (a flattening curve says additional data is mostly
    repeats) and tokenizer-vocab sizing. First-occurrence attribution is
    one min-aggregate over the shared portable shingle-hash stream; the
    running totals use ``stats.global_cumsum`` (range-partitioned prefix
    sums + driver-side offsets — NEVER a single-partition window over
    the corpus-sized per-doc table); the ratio is an exact integer
    division."""
    from ..operators import stats as stats_ops

    docs = _td(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(dedup.shingle_hashes("text", 3, token_hash="md5")).alias("h"),
    ).distinct()
    firsts = sh.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
        )
    )
    cum1 = stats_ops.global_cumsum(per_doc, ["doc_id"], "n_new")
    cum2 = stats_ops.global_cumsum(cum1, ["doc_id"], "n_shingles")
    return cum2.select(
        "doc_id",
        "n_shingles",
        "n_new",
        F.col("cum_n_new").cast("long").alias("cum_distinct"),
        (
            F.floor(
                F.col("cum_n_new") * 1.0 / F.col("cum_n_shingles") * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("coverage_q6"),
    )


@_register(
    "doc_flesch_reading_ease",
    r"""
    WITH c AS (
      SELECT doc_id,
             GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS sentences,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS words,
             GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
               AS syllables
      FROM documents),
    ok AS (SELECT * FROM c WHERE words > 0)
    SELECT doc_id,
           CAST(sentences AS BIGINT) AS sentences,
           CAST(words AS BIGINT) AS words,
           CAST(syllables AS BIGINT) AS syllables,
           FLOOR((206.835e0
                  - 1.015e0 * (CAST(words AS DOUBLE) / sentences)
                  - 84.6e0 * (CAST(syllables AS DOUBLE) / words))
                 * 1e4 + 0.5) / 1e4 AS flesch_q4
    FROM ok
    """,
)
def doc_flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease score per document — the readability half of
    a quality-filter stack (very low scores flag legalese/garbled text,
    implausibly high ones flag word-soup): sentences = [.!?]+ groups,
    words = [a-z0-9]+ tokens, syllables ≈ vowel-group count (the
    standard regex approximation), 206.835 − 1.015·W/S − 84.6·Y/W. All
    three counts are exact integers from ONE regexp pass each (no
    tokenizer state), so the q4 score is a fixed-order float chain on
    identical values — zero-sentence docs floor at 1 sentence, and the
    (negative-capable) score quantizes at q4 per the magnitude rule."""
    docs = _td(spark, sf_dir, "documents")
    sentences = F.greatest(
        F.size(F.expr(r"regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    )
    words = F.size(F.expr(r"regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
    syllables = F.greatest(
        F.size(F.expr(r"regexp_extract_all(lower(text), '[aeiouy]+', 0)")),
        F.lit(1),
    )
    c = docs.select(
        "doc_id",
        sentences.cast("long").alias("sentences"),
        words.cast("long").alias("words"),
        syllables.cast("long").alias("syllables"),
    ).filter(F.col("words") > 0)
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("words").cast("double") / F.col("sentences"))
        - F.lit(84.6) * (F.col("syllables").cast("double") / F.col("words"))
    )
    return c.select(
        "doc_id",
        "sentences",
        "words",
        "syllables",
        (F.floor(score * 1e4 + F.lit(0.5)) / 1e4).alias("flesch_q4"),
    )


_RAKE_STOPS = (
    "a", "an", "and", "as", "at", "by", "for", "in", "is",
    "it", "of", "on", "the", "to", "with",
)


def _rake_oracle() -> str:
    stops = ", ".join(f"'{s}'" for s in _RAKE_STOPS)
    return rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS l
      FROM documents),
    words AS (
      SELECT t.doc_id, p.pos, t.l[p.pos + 1] AS w,
             CASE WHEN t.l[p.pos + 1] IN ({stops}) THEN 1 ELSE 0 END
               AS is_stop
      FROM toks t,
           LATERAL (SELECT unnest(range(len(t.l))) AS pos) p),
    wp AS (
      SELECT doc_id, pos, w, is_stop,
             CAST(sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos)
                  AS BIGINT) AS pid
      FROM words),
    occ AS (
      SELECT doc_id, pid, pos, w FROM wp WHERE is_stop = 0 AND w <> ''),
    ph AS (
      SELECT doc_id, pid,
             CAST(count(*) AS BIGINT) AS n_words,
             string_agg(w, ' ' ORDER BY pos) AS phrase
      FROM occ GROUP BY doc_id, pid
      HAVING count(*) BETWEEN 1 AND 4),
    wstats AS (
      SELECT o.w,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(p.n_words) AS BIGINT) AS deg
      FROM occ o JOIN ph p ON p.doc_id = o.doc_id AND p.pid = o.pid
      GROUP BY o.w),
    ws AS (SELECT w, (deg * 1000000) // freq AS s6 FROM wstats),
    scored AS (
      SELECT o.doc_id, o.pid, p.phrase,
             CAST(sum(ws.s6) AS BIGINT) AS score6
      FROM occ o
      JOIN ph p ON p.doc_id = o.doc_id AND p.pid = o.pid
      JOIN ws ON ws.w = o.w
      GROUP BY o.doc_id, o.pid, p.phrase),
    dedup AS (
      SELECT DISTINCT doc_id, phrase, score6 FROM scored),
    ranked AS (
      SELECT doc_id, phrase, score6,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score6 DESC, phrase) AS rank
      FROM dedup)
    SELECT doc_id, CAST(rank AS BIGINT) AS rank, phrase,
           CAST(score6 AS DOUBLE) / 1e6 AS rake_q6
    FROM ranked WHERE rank <= 2
    """


@_register("doc_rake_keywords", _rake_oracle)
def doc_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — the stopword-
    delimited phrase scorer that needs no model: candidate phrases are
    maximal stopword-free word runs (capped at 4 words), each word
    scores deg(w)/freq(w) over the whole corpus (deg = summed length of
    the phrases its occurrences sit in — rewards words that co-occur in
    long multiword terms), and a phrase scores the sum of its word
    scores.  Top-2 phrases per document, ties broken by phrase text.

    Determinism: phrase segmentation is positional (posexplode + a
    per-doc running stopword count — bounded windows), word scores are
    EXACT integer division (deg·10⁶ div freq), so phrase scores are
    exact BIGINT sums — no float ordering anywhere; the phrase string
    itself is position-sorted on both engines.  Scale: one corpus
    tokenize feeding phrase table + word stats (both checkpointed),
    everything else is hash aggs/joins keyed by word or (doc, phrase).

    No counterpart in the reference; the unsupervised-keyword
    complement to doc_tfidf_top_terms (tf-idf needs document frequency
    only; RAKE sees multiword structure)."""
    from pyspark.sql import Window

    docs = _td(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias(
            "pos", "w"
        ),
    ).withColumn(
        "is_stop",
        F.when(F.col("w").isin(*_RAKE_STOPS), F.lit(1)).otherwise(F.lit(0)),
    )
    wp = words.withColumn(
        "pid",
        F.sum("is_stop")
        .over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long"),
    )
    occ = (
        wp.filter((F.col("is_stop") == 0) & (F.col("w") != ""))
        .select("doc_id", "pid", "pos", "w")
        .localCheckpoint()  # feeds ph, wstats, and the scorer
    )
    ph = (
        occ.groupBy("doc_id", "pid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x["w"],
                ),
                " ",
            ).alias("phrase"),
        )
        .filter((F.col("n_words") >= 1) & (F.col("n_words") <= 4))
        .localCheckpoint()  # feeds wstats and the scorer
    )
    wstats = (
        occ.join(ph.select("doc_id", "pid", "n_words"), ["doc_id", "pid"])
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("n_words").cast("long").alias("deg"),
        )
    )
    ws = wstats.select("w", F.expr("(deg * 1000000) div freq").alias("s6"))
    scored = (
        occ.join(ph.select("doc_id", "pid", "phrase"), ["doc_id", "pid"])
        .join(ws, "w")
        .groupBy("doc_id", "pid", "phrase")
        .agg(F.sum("s6").cast("long").alias("score6"))
    )
    dedup = scored.select("doc_id", "phrase", "score6").distinct()
    ranked = dedup.withColumn(
        "rank",
        F.row_number()
        .over(
            Window.partitionBy("doc_id").orderBy(
                F.col("score6").desc(), F.col("phrase")
            )
        )
        .cast("long"),
    )
    return ranked.filter(F.col("rank") <= 2).select(
        "doc_id",
        "rank",
        "phrase",
        (F.col("score6").cast("double") / 1e6).alias("rake_q6"),
    )


_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _gopher_oracle() -> str:
    stops = ", ".join(f"'{s}'" for s in _GOPHER_STOPS)
    return rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS l
      FROM documents),
    w AS (
      SELECT t.doc_id, t.l[p.pos + 1] AS word
      FROM toks t,
           LATERAL (SELECT unnest(range(len(t.l))) AS pos) p
      WHERE t.l[p.pos + 1] <> ''),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(length(word)) AS BIGINT) AS n_chars,
             CAST(sum(CASE WHEN regexp_matches(word, '[a-z]')
                           THEN 1 ELSE 0 END) AS BIGINT) AS alpha_words,
             CAST(count(DISTINCT CASE WHEN word IN ({stops})
                                      THEN word END) AS BIGINT)
               AS n_stop_distinct
      FROM w GROUP BY doc_id)
    SELECT doc_id, n_words,
           FLOOR(CAST(n_chars AS DOUBLE) / n_words * 1e4 + 0.5) / 1e4
             AS mean_wlen_q4,
           n_words BETWEEN 50 AND 100000 AS pass_word_count,
           n_chars >= 3 * n_words AND n_chars <= 10 * n_words
             AS pass_word_length,
           alpha_words * 5 >= n_words * 4 AS pass_alpha,
           n_stop_distinct,
           n_stop_distinct >= 2 AS pass_stopwords,
           (n_words BETWEEN 50 AND 100000)
             AND n_chars >= 3 * n_words AND n_chars <= 10 * n_words
             AND alpha_words * 5 >= n_words * 4
             AND n_stop_distinct >= 2 AS pass_gopher
    FROM agg
    """


@_register("doc_gopher_rules", _gopher_oracle)
def doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule table (Rae et al. 2021, App. A — the named
    rule battery most open-data pipelines start from), restricted to
    the rules meaningful on a single-line corpus: word count in
    [50, 100k], mean word length in [3, 10], ≥80% alphabetic words, and
    ≥2 distinct frozen stopwords present.  Emits the per-doc signals,
    each rule's verdict, and the conjunction.

    Determinism: every threshold compares CROSS-MULTIPLIED exact
    integers (chars ≥ 3·words, alpha·5 ≥ words·4) — no float ever
    decides a verdict; the reported mean word length is display-only
    (one identical double division + q4 snap).  Scale: one tokenize →
    one hash agg.  Complements doc_quality_scores (continuous score)
    with the named-rule boolean surface a curation audit wants."""
    docs = _td(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("word"),
    ).filter(F.col("word") != "")
    agg = w.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.length("word")).cast("long").alias("n_chars"),
        F.sum(
            F.when(F.col("word").rlike("[a-z]"), F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("alpha_words"),
        F.countDistinct(
            F.when(F.col("word").isin(*_GOPHER_STOPS), F.col("word"))
        )
        .cast("long")
        .alias("n_stop_distinct"),
    )
    pass_wc = (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
    pass_wl = (F.col("n_chars") >= 3 * F.col("n_words")) & (
        F.col("n_chars") <= 10 * F.col("n_words")
    )
    pass_al = F.col("alpha_words") * 5 >= F.col("n_words") * 4
    pass_st = F.col("n_stop_distinct") >= 2
    return agg.select(
        "doc_id",
        "n_words",
        (
            F.floor(
                F.col("n_chars").cast("double") / F.col("n_words") * 1e4
                + F.lit(0.5)
            )
            / 1e4
        ).alias("mean_wlen_q4"),
        pass_wc.alias("pass_word_count"),
        pass_wl.alias("pass_word_length"),
        pass_al.alias("pass_alpha"),
        "n_stop_distinct",
        pass_st.alias("pass_stopwords"),
        (pass_wc & pass_wl & pass_al & pass_st).alias("pass_gopher"),
    )


def _score_buckets(scored: DataFrame) -> DataFrame:
    """``(s6, pos_c, neg_c)``: positives and negatives per 1e-6 score
    bucket, the histogram doc_classifier_auc and doc_classifier_pr_auc
    sweep."""
    return scored.groupBy("s6").agg(
        F.count(F.when(F.col("y") == 1.0, F.lit(1))).cast("long").alias("pos_c"),
        F.count(F.when(F.col("y") == 0.0, F.lit(1))).cast("long").alias("neg_c"),
    )


@_register("doc_classifier_auc", _quality_classifier_oracle(auc=True))
def doc_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking quality of the in-engine classifier: exact AUC plus the
    0.5-threshold confusion matrix and accuracy — the evaluation row
    the reference's ML loop reports (ML Model/Scripts/train.py prints
    accuracy only; AUC is the threshold-free upgrade).

    AUC is computed in its SCALABLE shape, not by globally ranking
    rows: scores are already on the 1e-6 grid, so group by the s6
    bucket (≤ 1e6 + 1 distinct), sweep cumulative negatives below each
    bucket via ``stats.global_cumsum`` (range-exchange prefix sums),
    and the midrank-tie numerator is the exact integer
    2·num = Σ pos(s)·(2·neg_below(s) + neg(s)) — decimal(38,0)/HUGEINT
    accumulated, one double division at the end.  This equals
    rank-based AUC with midrank ties by construction.  The oracle
    re-trains the identical 12-step chain and runs the same sweep."""
    from ..operators import classifier

    docs = _td(spark, sf_dir, "documents")
    scored = classifier.quality_classifier(docs, iters=12, lr=1.0).select(
        F.floor(F.col("score_q6") * 1e6 + F.lit(0.5)).cast("long").alias("s6"),
        F.col("y").cast("double").alias("y"),
        F.col("pred").cast("int").alias("pred"),
    ).localCheckpoint()  # feeds the bucket sweep and the confusion matrix
    g = _score_buckets(scored)
    sw = stats.global_cumsum(g, ["s6"], "neg_c").select(
        "s6",
        "pos_c",
        "neg_c",
        (F.col("cum_neg_c") - F.col("neg_c")).alias("neg_below"),
    )
    num = sw.agg(
        F.sum(
            (
                F.col("pos_c") * (2 * F.col("neg_below") + F.col("neg_c"))
            ).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("two_num")
    )
    cm = scored.agg(
        F.count(F.when(F.col("y") == 1.0, F.lit(1))).cast("long").alias("n_pos"),
        F.count(F.when(F.col("y") == 0.0, F.lit(1))).cast("long").alias("n_neg"),
        F.count(F.when((F.col("y") == 1.0) & (F.col("pred") == 1), F.lit(1)))
        .cast("long")
        .alias("tp"),
        F.count(F.when((F.col("y") == 0.0) & (F.col("pred") == 1), F.lit(1)))
        .cast("long")
        .alias("fp"),
        F.count(F.when((F.col("y") == 1.0) & (F.col("pred") == 0), F.lit(1)))
        .cast("long")
        .alias("fn"),
        F.count(F.when((F.col("y") == 0.0) & (F.col("pred") == 0), F.lit(1)))
        .cast("long")
        .alias("tn"),
    )
    return (
        cm.crossJoin(F.broadcast(num))
        .filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .select(
            "n_pos",
            "n_neg",
            "tp",
            "fp",
            "fn",
            "tn",
            (
                F.floor(
                    F.col("two_num")
                    / (
                        F.lit(2.0)
                        * F.col("n_pos").cast("double")
                        * F.col("n_neg").cast("double")
                    )
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("auc_q6"),
            (
                F.floor(
                    (F.col("tp") + F.col("tn")).cast("double")
                    / (F.col("n_pos") + F.col("n_neg")).cast("double")
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("accuracy_q6"),
        )
    )


@_register("doc_shap_linear", _quality_classifier_oracle(shap=True))
def doc_shap_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-document SHAP attribution for the in-engine quality
    classifier — for a linear model the Shapley value has the closed
    form phi_j = w_j·(x_j − E[x_j]) (Lundberg & Lee 2017, "Linear
    SHAP"), so the interpretability layer every classifier-gated
    curation pipeline owes its users ("WHY was this document scored
    down?") costs one feature-means aggregate, no sampling, no
    approximation. Emits each doc's dominant attribution (argmax |phi|,
    feature-name tie-break).

    Exactness: weights come from the q9-quantized trainer proven
    bit-identical cross-engine by doc_quality_classifier ★; feature
    means ride 1e-9-grid integer sums (a raw float AVG is
    partial-agg-order-sensitive — the r4 hash-fail class), so each phi
    is w_j·((x9·n − S_j)/(n·1e9)) — decimal-exact numerator, ONE
    fixed-order double, snapped to q6 BEFORE the argmax (rank compares
    grid values). Scale: training is the existing 12-pass recipe over a
    localCheckpointed feature frame; the attribution adds one means agg
    + a broadcast join + a 3-row-per-doc window. No counterpart in the
    reference (its model ships with no attribution surface)."""
    from pyspark.sql import Window

    from ..operators import classifier

    docs = _td(spark, sf_dir, "documents")
    feats = classifier.quality_features(docs).localCheckpoint()
    w = classifier.train_logreg(feats, iters=12, lr=1.0)

    def x9(col: str):
        return F.floor(F.col(col) * 1e9 + F.lit(0.5)).cast("long")

    m = feats.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x9("tokens_x")).cast("long").alias("s_t"),
        F.sum(x9("tok_len_x")).cast("long").alias("s_l"),
        F.sum(x9("digit_x")).cast("long").alias("s_d"),
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731

    def phi(wj: float, fcol: str, scol: str):
        d = d19(x9(fcol)) * d19(F.col("n")) - d19(F.col(scol))
        raw = F.lit(wj) * (
            d.cast("double") / (F.col("n").cast("double") * F.lit(1e9))
        )
        return q6(raw)

    p = feats.crossJoin(F.broadcast(m)).select(
        "doc_id",
        phi(w[1], "tokens_x", "s_t").alias("phi_t"),
        phi(w[2], "tok_len_x", "s_l").alias("phi_l"),
        phi(w[3], "digit_x", "s_d").alias("phi_d"),
    )
    e = p.select(
        "doc_id",
        F.expr(
            "stack(3, 'tokens_x', phi_t, 'tok_len_x', phi_l,"
            " 'digit_x', phi_d) as (feature, phi_q6)"
        ),
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.abs(F.col("phi_q6")).desc(), F.col("feature").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("doc_id", "feature", "phi_q6")
    )


@_register(
    "doc_yule_k",
    rf"""
    WITH norm AS (
      SELECT doc_id, {_norm_sql('text')} AS nrm FROM documents),
    tok AS (
      SELECT doc_id, unnest(string_split(nrm, ' ')) AS w
      FROM norm WHERE length(nrm) > 0),
    wc AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, w),
    d AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(SUM(c * c) AS HUGEINT) AS s2
      FROM wc GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_types,
           FLOOR(1e4 * (CAST(s2 AS DOUBLE) - CAST(n_tokens AS DOUBLE))
                 / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS yule_k_q6
    FROM d WHERE n_tokens >= 2
    """,
)
def doc_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K characteristic per document (Yule 1944) — the classic
    repetitiveness/vocabulary-richness statistic
    K = 10⁴·(Σ_w c_w² − N)/N², length-invariant in expectation (unlike
    raw type-token ratio) and a standard quality signal next to
    doc_repetition_signals' n-gram ratios: boilerplate and
    template-spam score high-K, natural prose low. Also the stylometric
    workhorse for author/source drift.

    Exactness: per-(doc, word) counts, N, and Σc² are exact
    BIGINT/decimal from one tokenize + two hash aggs; K is ONE
    fixed-order double formula snapped to q6. Tokens ride the canonical
    normalize_text convention shared by the whole doc family. Scale:
    shuffles on (doc_id, word) then doc_id — O(tokens), no corpus
    self-join. No counterpart in the reference."""
    docs = _td(spark, sf_dir, "documents")
    nrm = docs.select(
        "doc_id", text.normalize_text(F.col("text")).alias("nrm")
    ).filter(F.length("nrm") > 0)
    tok = nrm.select("doc_id", F.explode(F.split(F.col("nrm"), " ")).alias("w"))
    wc = tok.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    d = wc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(d19(F.col("c")) * d19(F.col("c"))).alias("s2"),
    )
    nd = F.col("n_tokens").cast("double")
    k = (
        F.lit(1e4)
        * (F.col("s2").cast("double") - nd)
        / (nd * nd)
    )
    return d.filter(F.col("n_tokens") >= 2).select(
        "doc_id",
        "n_tokens",
        "n_types",
        (F.floor(k * 1e6 + F.lit(0.5)) / 1e6).alias("yule_k_q6"),
    )


@_register(
    "doc_rater_agreement",
    r"""
    WITH m AS (
      SELECT doc_id,
             CASE WHEN length(text) >= 300 THEN 1 ELSE 0 END AS ra,
             CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 55
                  THEN 1 ELSE 0 END AS rb
      FROM documents),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(ra * rb) AS BIGINT) AS n11,
             CAST(SUM(ra * (1 - rb)) AS BIGINT) AS n10,
             CAST(SUM((1 - ra) * rb) AS BIGINT) AS n01,
             CAST(SUM((1 - ra) * (1 - rb)) AS BIGINT) AS n00
      FROM m),
    k AS (
      SELECT *,
             CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
             (CAST((n11 + n10) * (n11 + n01) AS DOUBLE)
              + CAST((n01 + n00) * (n10 + n00) AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
      FROM t WHERE n > 0)
    SELECT n, n11, n10, n01, n00,
           FLOOR(po * 1e6 + 0.5) / 1e6 AS po_q6,
           FLOOR(pe * 1e6 + 0.5) / 1e6 AS pe_q6,
           FLOOR((po - pe) / (1.0 - pe) * 1e6 + 0.5) / 1e6 AS kappa_q6
    FROM k WHERE pe < 1.0
    """,
)
def doc_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic document raters — the
    inter-annotator-agreement statistic every labeling/curation loop
    reports before trusting a rubric (raw percent agreement flatters
    raters who both say 'keep' to everything; kappa discounts the
    agreement chance predicts from the marginals). Rater A: long-form
    (≥300 chars). Rater B: wordy (≥55 word tokens) — both near the
    corpus median so the 2x2 table is informative, not degenerate. κ = (p_o −
    p_e)/(1 − p_e) over the 2×2 confusion table; the same machinery
    scores a trained quality classifier against a heuristic rubric.

    Exactness: the four confusion cells are exact BIGINT counts from
    one pass (the word regex is the with_quality_score token class,
    lowercased so both engines tokenize identical text); p_o and p_e
    are fixed-order double formulas over exact integer cross-products
    (the marginal products stay in BIGINT before the ONE cast);
    outputs snap q6. Degenerate corpora where chance agreement is
    total (p_e = 1: every doc in one cell) emit no row rather than
    0/0. Scale: one corpus pass, one-row output — per-row codegen
    expressions, zero shuffles beyond the scalar agg.
    No counterpart in the reference."""
    docs = _td(spark, sf_dir, "documents")
    txt = F.lower(F.col("text"))
    ra = F.when(F.length("text") >= 300, F.lit(1)).otherwise(F.lit(0))
    rb = F.when(
        F.size(F.regexp_extract_all(txt, F.lit(r"[a-z0-9]+"), F.lit(0))) >= 55,
        F.lit(1),
    ).otherwise(F.lit(0))
    m = docs.select(ra.alias("ra"), rb.alias("rb"))
    t = m.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("ra") * F.col("rb")).cast("long").alias("n11"),
        F.sum(F.col("ra") * (1 - F.col("rb"))).cast("long").alias("n10"),
        F.sum((1 - F.col("ra")) * F.col("rb")).cast("long").alias("n01"),
        F.sum((1 - F.col("ra")) * (1 - F.col("rb"))).cast("long").alias("n00"),
    ).filter(F.col("n") > 0)
    po = (F.col("n11") + F.col("n00")).cast("double") / F.col("n").cast("double")
    pe = (
        ((F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))).cast(
            "double"
        )
        + ((F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))).cast(
            "double"
        )
    ) / (F.col("n").cast("double") * F.col("n").cast("double"))
    k = t.select(
        "n", "n11", "n10", "n01", "n00", po.alias("po"), pe.alias("pe")
    ).filter(F.col("pe") < 1.0)
    return k.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        (F.floor(F.col("po") * 1e6 + F.lit(0.5)) / 1e6).alias("po_q6"),
        (F.floor(F.col("pe") * 1e6 + F.lit(0.5)) / 1e6).alias("pe_q6"),
        (
            F.floor(
                (F.col("po") - F.col("pe")) / (F.lit(1.0) - F.col("pe")) * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("kappa_q6"),
    )


@_register("doc_classifier_pr_auc", _quality_classifier_oracle(pr=True))
def doc_classifier_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (step-interpolated PR-AUC) for the in-engine
    quality classifier — the ranking metric that matters when the
    positive class is rare: ROC-AUC (doc_classifier_auc) flatters a
    classifier on imbalanced data because false positives barely dent
    the FPR, while precision collapses; curation pipelines gate on PR.
    AP = Σ_k ΔR_k·P_k sweeping thresholds from the top, tied scores
    entering together (the sklearn convention); prevalence n⁺/n is the
    random-classifier baseline AP is read against.

    Exactness: the trained weights are the q9-quantized cross-engine
    trainer (doc_quality_classifier ★); scores land on the 1e-6 grid
    so the threshold sweep is a ≤1e6+1-bucket histogram; cumulative
    counts from the top are exact integers via stats.global_cumsum
    (range-exchange prefix sums, never a single-partition window);
    each bucket's ΔR·P is ONE fixed-order double over exact integers
    snapped to the 1e-12 grid and summed exactly. Scale: the
    classifier's one-agg-per-iteration training plus two histogram
    aggs and the bucket sweep — corpus text is read once.
    No counterpart in the reference."""
    from ..operators import classifier

    docs = _td(spark, sf_dir, "documents")
    scored = classifier.quality_classifier(docs, iters=12, lr=1.0).select(
        F.floor(F.col("score_q6") * 1e6 + F.lit(0.5)).cast("long").alias("s6"),
        F.col("y").cast("double").alias("y"),
    )
    g = _score_buckets(scored)
    c1 = stats.global_cumsum(g, ["s6"], "pos_c").withColumnRenamed(
        "cum_pos_c", "cum_pos"
    )
    c2 = stats.global_cumsum(c1, ["s6"], "neg_c").withColumnRenamed(
        "cum_neg_c", "cum_neg"
    )
    tt = g.agg(
        F.sum("pos_c").cast("long").alias("n_pos"),
        F.sum("neg_c").cast("long").alias("n_neg"),
    )
    pos_ge = F.col("n_pos") - F.col("cum_pos") + F.col("pos_c")
    tot_ge = pos_ge + (F.col("n_neg") - F.col("cum_neg") + F.col("neg_c"))
    t12 = F.floor(
        (F.col("pos_c").cast("double") / F.col("n_pos").cast("double"))
        * (pos_ge.cast("double") / tot_ge.cast("double"))
        * 1e12
        + F.lit(0.5)
    ).cast("long")
    terms = (
        c2.crossJoin(F.broadcast(tt))
        .filter((F.col("pos_c") > 0) & (F.col("n_pos") > 0))
        .select(t12.alias("t12"))
    )
    ap = terms.agg(F.sum("t12").cast("long").alias("s12"))
    return (
        tt.crossJoin(F.broadcast(ap))
        .filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .select(
            "n_pos",
            "n_neg",
            (
                F.floor(F.col("s12").cast("double") / F.lit(1e12) * 1e6 + F.lit(0.5))
                / 1e6
            ).alias("ap_q6"),
            (
                F.floor(
                    F.col("n_pos").cast("double")
                    / (F.col("n_pos") + F.col("n_neg")).cast("double")
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("prevalence_q6"),
        )
    )


@_register("doc_brier_decomposition", _quality_classifier_oracle(brier=True))
def doc_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the quality classifier's Brier score —
    the calibration report's executive summary: reliability (how far
    the decile forecasts sit from their realized rates — lower is
    better), resolution (how much the forecasts separate outcomes —
    higher is better), and uncertainty (the outcome base-rate variance
    no classifier can remove). Uses the BINNED forecast s̄_k per
    calibration decile, under which brier = REL − RES + UNC is an
    identity (Murphy 1973) — the number a curation gate reads next to
    doc_classifier_calibration's per-bucket table.

    Exactness: per-decile n/Σscore6/Σy are exact integers from one
    pass over the q9-trained q6-snapped scores; each bucket's REL/RES
    term is a fixed-order double snapped to the 1e-12 grid and the
    ≤10-bucket roll-up is exact; the tail is one fixed-order double
    chain snapped q6. Scale: the classifier's one-agg-per-iteration
    training plus one decile hash agg — corpus text read once.
    No counterpart in the reference."""
    from ..operators import classifier

    docs = _td(spark, sf_dir, "documents")
    scored = classifier.quality_classifier(docs, iters=12, lr=1.0).select(
        F.least(F.floor(F.col("score_q6") * 10).cast("int"), F.lit(9)).alias(
            "bucket"
        ),
        F.floor(F.col("score_q6") * 1e6 + F.lit(0.5)).cast("long").alias("s6"),
        F.col("y").cast("long").alias("y"),
    )
    bk = scored.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_k"),
        F.sum("s6").cast("long").alias("s_sum6"),
        F.sum("y").cast("long").alias("y_sum"),
    )
    tt = bk.agg(
        F.sum("n_k").cast("long").alias("n"),
        F.sum("y_sum").cast("long").alias("y_tot"),
    )
    nkd = F.col("n_k").cast("double")
    sbar = F.col("s_sum6").cast("double") / nkd / F.lit(1e6)
    ybar = F.col("y_sum").cast("double") / nkd
    ybart = F.col("y_tot").cast("double") / F.col("n").cast("double")
    rel12 = F.floor(nkd * (sbar - ybar) * (sbar - ybar) * 1e12 + F.lit(0.5)).cast(
        "long"
    )
    res12 = F.floor(
        nkd * (ybar - ybart) * (ybar - ybart) * 1e12 + F.lit(0.5)
    ).cast("long")
    terms = bk.crossJoin(F.broadcast(tt)).select(
        rel12.alias("rel12"), res12.alias("res12")
    )
    s = terms.agg(
        F.sum("rel12").cast("long").alias("srel12"),
        F.sum("res12").cast("long").alias("sres12"),
    )
    nd = F.col("n").cast("double")
    rel = F.col("srel12").cast("double") / F.lit(1e12) / nd
    res = F.col("sres12").cast("double") / F.lit(1e12) / nd
    unc = (F.col("y_tot").cast("double") / nd) * (
        F.lit(1.0) - F.col("y_tot").cast("double") / nd
    )
    o = (
        tt.crossJoin(F.broadcast(s))
        .filter(F.col("n") > 0)
        .select("n", rel.alias("rel"), res.alias("res"), unc.alias("unc"))
    )
    return o.select(
        "n",
        q6(F.col("rel")).alias("reliability_q6"),
        q6(F.col("res")).alias("resolution_q6"),
        q6(F.col("unc")).alias("uncertainty_q6"),
        q6(F.col("rel") - F.col("res") + F.col("unc")).alias("brier_binned_q6"),
    )


@_register("doc_conformal_coverage", _quality_classifier_oracle(conformal=True))
def doc_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction for the quality classifier — the
    distribution-free coverage guarantee (Vovk et al.; the Angelopoulos
    & Bates split-conformal recipe) a curation gate quotes instead of
    hoping the classifier is calibrated: calibrate the nonconformity
    threshold q̂ on the md5-even half at α = 0.1 (the
    ⌈(n+1)·0.9⌉-th order statistic), then the prediction set
    {classes whose score clears q̂} contains the true class with
    probability ≥ 90% on exchangeable data. Emits q̂, the empirical
    test-split coverage, and the mean prediction-set size (the price
    of the guarantee — sets near size 2 mean the classifier abstains).

    Exactness: binary nonconformity lives EXACTLY on the s6 integer
    grid (1e6 − s6 for positives, s6 for negatives — no new floats);
    q̂ is an exact order statistic from a histogram cum sweep over
    DISTINCT grid values (stats.global_cumsum, never a global sort);
    coverage and set size are exact integer comparisons. Scale: the
    classifier's one-agg-per-iteration training plus two histogram
    aggs and one test-split agg. No counterpart in the reference."""
    from ..operators import classifier

    docs = _td(spark, sf_dir, "documents")
    is_cal = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7), 16, 10)
        .cast("long")
        % 2
        == 0
    )
    scored = classifier.quality_classifier(docs, iters=12, lr=1.0).select(
        F.floor(F.col("score_q6") * 1e6 + F.lit(0.5)).cast("long").alias("s6"),
        F.col("y").cast("double").alias("y"),
        F.when(is_cal, F.lit(1)).otherwise(F.lit(0)).alias("is_cal"),
    )
    a = scored.select(
        "is_cal",
        "s6",
        F.when(F.col("y") == 1.0, F.lit(1000000) - F.col("s6"))
        .otherwise(F.col("s6"))
        .alias("a6"),
    ).localCheckpoint()  # feeds the calib sweep AND the test agg
    cal = a.filter(F.col("is_cal") == 1)
    nc = cal.agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
    hist = cal.groupBy("a6").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cum = stats.global_cumsum(hist, ["a6"], "cnt").withColumnRenamed(
        "cum_cnt", "cum_cnt"
    )
    k = nc.select(
        "n_cal",
        F.least(
            F.ceil((F.col("n_cal").cast("double") + F.lit(1.0)) * F.lit(0.9)).cast(
                "long"
            ),
            F.col("n_cal"),
        ).alias("kth"),
    )
    qh = (
        cum.crossJoin(F.broadcast(k))
        .filter(F.col("cum_cnt") >= F.col("kth"))
        .groupBy("n_cal")
        .agg(F.min("a6").cast("long").alias("qhat6"))
    )
    tst = (
        a.filter(F.col("is_cal") == 0)
        .crossJoin(F.broadcast(qh))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(F.col("a6") <= F.col("qhat6"), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("covered"),
            F.sum(
                F.when(F.lit(1000000) - F.col("s6") <= F.col("qhat6"), F.lit(1))
                .otherwise(F.lit(0))
                + F.when(F.col("s6") <= F.col("qhat6"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("set_cells"),
            F.max("qhat6").alias("qhat6"),
            F.max("n_cal").alias("n_cal"),
        )
    )
    return tst.filter(F.col("n_test") > 0).select(
        F.col("n_cal").alias("n_calib"),
        "n_test",
        (F.col("qhat6").cast("double") / F.lit(1e6)).alias("qhat_q6"),
        (
            F.floor(
                F.col("covered").cast("double") / F.col("n_test").cast("double")
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("coverage_q6"),
        (
            F.floor(
                F.col("set_cells").cast("double")
                / F.col("n_test").cast("double")
                * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("avg_set_size_q6"),
    )
