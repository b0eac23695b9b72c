"""Training-shard export: the end-of-pipeline sink a corpus-curation job
actually ships.

Composes already-verified operators — quality gate → engine-portable
exact dedup (md5 of normalized text) → token counting → deterministic
md5 shard assignment → per-shard prefix-sum sequence packing — then
writes partitioned parquet (one directory per shard,
``maxRecordsPerFile`` bounded) and derives a MANIFEST from the
**read-back** files, proving the sink round-trip, not just the plan.

Scale shape: one shuffle for the dedup (on the content md5), one window
per shard for packing (parallelism = #shards), one partitioned write.
The manifest aggregate is map-side-combined per shard; its content
fingerprint is an order-independent SUM of bounded per-row md5 ints, so
any engine (and the DuckDB oracle) reproduces it without seeing the
files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text as T
from ..sources import io


def export_training_shards(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    min_quality: float = 0.4,
    budget: int = 256,
    num_shards: int = 4,
    max_records_per_file: int = 1000,
) -> DataFrame:
    """Curate ``docs`` into packed training shards under ``out_dir`` and
    return the per-shard manifest computed from the written files."""
    from ..operators.dedup import exact_dedup

    base = T.with_quality_score(docs).filter(F.col("quality") >= min_quality)
    # portable=True: manifest fingerprints must be reproducible by an
    # external engine, so the dedup key is md5, not xxhash64
    base = exact_dedup(base, portable=True)
    base = T.with_token_count(base)
    base = base.withColumn(
        "shard_id",
        F.expr(
            "pmod(cast(conv(substr(md5(cast(doc_id as string)), 1, 7), 16, 10) "
            f"as bigint), {num_shards})"
        ),
    )
    packed = T.pack_sequences(
        base, budget=budget, token_col="word_tokens",
        order_col="doc_id", shard_cols=("shard_id",),
    )
    out = packed.select("doc_id", "shard_id", "seq_bucket", "word_tokens")
    io.write_parquet(
        out, out_dir,
        partition_by=("shard_id",),
        max_records_per_file=max_records_per_file,
    )
    # read back with the written frame's schema: no inference job, and an
    # empty export, which writes no shard directory, still reads back
    return shard_manifest(spark.read.schema(out.schema).parquet(out_dir))


def shard_manifest(shards: DataFrame) -> DataFrame:
    """Per-shard manifest: doc/sequence/token counts plus an
    order-independent content fingerprint (sum of bounded md5 ints —
    commutative, so partitioning and file order can't change it)."""
    row_fp = F.expr(
        "pmod(cast(conv(substr(md5(cast(doc_id as string)), 1, 14), 16, 10) "
        "as bigint), 1000000000)"
    )
    return (
        shards.groupBy(F.col("shard_id").cast("long").alias("shard_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("seq_bucket").alias("n_seqs"),
            F.sum("word_tokens").alias("n_tokens"),
            F.sum(row_fp).alias("content_fp"),
        )
    )
