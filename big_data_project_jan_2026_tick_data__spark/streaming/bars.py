"""Streaming bar aggregation: watermarked per-(symbol, window) VWAP —
the live twin of the batch ``operators/ticks.py::vwap_twap_bars``
(reference's live tick source, SURVEY §2.9, feeding the same per-window
stats its batch chain computes).

Pure built-in windowed aggregation — no stateful UDF: Structured
Streaming's window state holds three integers per open bar (count,
Σsize, Σprice·size), late ticks inside the watermark fold into their
bar exactly like on-time ones, and bars emit once the watermark passes
(append mode → each bar exactly once, making the sink idempotent).

Determinism is the same exact-integer-sum argument as the batch
operator: grid-snapped prices × integer sizes sum as BIGINTs, so a
replay — any replay, at any parallelism or batch slicing — produces
bit-identical bars. That is what the registry query proves: an
availableNow file replay hash-matches the batch SQL oracle. TWAP is
deliberately absent here: holding times need the NEXT tick (a lead),
which a streaming windowed agg cannot see; the batch operator covers
it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import half_up, q6


def vwap_bars_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    symbol_col: str = "symbol",
    price_col: str = "value",
    size_col: str = "size",
    interval: str = "1 minute",
    watermark: str = "10 minutes",
    price_grid: float = 1e4,
) -> DataFrame:
    """Watermarked streaming VWAP bars. Returns a streaming DataFrame
    (symbol, bar_start, n_ticks, volume, vwap) suitable for an
    append-mode sink."""
    p4 = half_up(F.col(price_col) * F.lit(price_grid)).cast("bigint")
    sz = F.col(size_col).cast("bigint")
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(symbol_col), F.window(F.col(ts_col), interval))
        .agg(
            F.count("*").alias("n_ticks"),
            F.sum(sz).alias("__sv"),
            F.sum(p4 * sz).alias("__spv"),
        )
    )
    return agg.select(
        symbol_col,
        F.col("window.start").alias("bar_start"),
        "n_ticks",
        F.col("__sv").alias("volume"),
        q6(
            (F.col("__spv").cast("double") / F.col("__sv"))
            / F.lit(price_grid)
        ).alias("vwap"),
    )
