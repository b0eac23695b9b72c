"""Diagnostic probe queries (round 7): single-purpose registry rows
whose driver pass/fail verdicts LOCALIZE an environment divergence,
per the r6 verdict's instruction ("stop guessing and instrument").

Context: doc_token_entropy / doc_mixture_weights / doc_distinctive_terms
(r4-r6) and doc_bpe_merges (r6) hash-failed on the driver while matching
their oracles bit-for-bit locally.  The r7 audit found the discriminator:
those 4 queries — and ONLY those 4, out of 227 oracles — emitted a raw
``SUM(<integer>)`` output column, which DuckDB types as HUGEINT (int128).
HUGEINT survives ``fetchall()`` as a Python int (so the local mirror in
tests/test_queries_oracle.py matched) but converts through Arrow/pandas
as decimal128/object, so a driver-side canonicalization renders it
differently from an int64 — hash mismatch with rows/schema-names green.
The passing sibling ``doc_bpe_token_counts`` (same BPE training chain,
explicit ``CAST(sum(..) AS BIGINT)``) was the counter-diagnostic.

The four originals now cast every integer-sum output to BIGINT.  These
probes prove (or refute) the mechanism *in the driver environment*:

- ``probe_hugeint_render`` (retired, removed) — the deliberate
  instrument whose oracle emitted a raw HUGEINT sum: a driver hash-FAIL
  there with a PASS on its BIGINT twin confirmed the mechanism, and
  the r7 driver run delivered exactly that.  The standing protection
  is the guard test ``test_no_hugeint_oracle_outputs``.
- ``probe_bigint_render`` — identical values with the BIGINT cast; must
  be green under any theory (control row).
- ``probe_norm_wordfreq`` — top-200 normalized word frequencies; tests
  normalization/regex/string_split agreement (judge probe (b)).
- ``probe_detmath_log2`` — det_log2 of n=1..5000 on a 1e-9 integer
  grid; tests functions.detmath bit-identity on the driver's DuckDB
  (judge probe (a)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import detmath
from ..operators.text import normalize_text
from ._base import _pin_session, _register, _td
from .q_docs import _norm_sql


@_register(
    "probe_bigint_render",
    """
    SELECT n_regionkey, CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation GROUP BY n_regionkey
    """,
)
def probe_bigint_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Control twin of the retired probe_hugeint_render: identical
    values, oracle sum cast to BIGINT.  Green under any theory; a FAIL
    here would falsify the rendering hypothesis entirely and point at
    the data itself."""
    nation = _td(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.sum("n_nationkey").cast("long").alias("key_sum")
    )


@_register(
    "probe_norm_wordfreq",
    rf"""
    WITH tok AS (
      SELECT w FROM (
        SELECT UNNEST(string_split({_norm_sql('text')}, ' ')) AS w
        FROM documents) t
      WHERE length(w) > 0),
    wf AS (SELECT w AS word, count(*) AS cnt FROM tok GROUP BY w)
    SELECT word, cnt FROM wf ORDER BY cnt DESC, word ASC LIMIT 200
    """,
)
def probe_norm_wordfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic (judge probe b): top-200 ``(word, count)`` from
    normalize_text — isolates normalization / regexp_replace /
    string_split agreement between Spark and the driver's DuckDB.
    count(*) is BIGINT on both sides (no sums), total order
    (cnt DESC, word ASC) is unique, so only the tokenization itself can
    diverge here."""
    docs = _td(spark, sf_dir, "documents")
    toks = F.split(normalize_text(F.col("text")), " ")
    wf = (
        docs.select(F.explode(toks).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return wf.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(200)


@_register(
    "probe_detmath_log2",
    f"""
    SELECT CAST(i AS BIGINT) AS n,
           CAST(FLOOR({detmath.det_log2_int_sql('i', 'duckdb')} * 1e9 + 0.5)
                AS BIGINT) AS l2_q9
    FROM (SELECT UNNEST(range(1, 5001)) AS i) t
    """,
)
def probe_detmath_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic (judge probe a): ``floor(det_log2(n)*1e9+0.5)`` as
    BIGINT for n = 1..5000 — bit-identity of functions.detmath on the
    driver's DuckDB build, with zero float output columns.  Covers every
    exponent/mantissa bucket the text-family queries hit (token counts
    at sf0.01 are < 5000)."""
    # every other registry query pins session conf via _td; this one
    # reads no table, so pin through the same shared helper (advisor r7:
    # the convention lives in one place, registry/_base._pin_session)
    _pin_session(spark)
    n = spark.range(1, 5001).select(F.col("id").alias("n"))
    l2 = detmath.det_log2_int("n")
    return n.select(
        "n",
        F.floor(l2 * F.lit(1e9) + F.lit(0.5)).cast("long").alias("l2_q9"),
    )
