"""Query registry package: every implemented operator exposed as a
``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible) a
DuckDB oracle SQL string over the same parquet tables — the engine's
correctness contract (driver contract in ``__spark_entry__.py``).

Split by domain for reviewability (each submodule registers into the
shared ``_base.QUERIES`` / ``_base.ORACLE`` dicts on import):

- ``q_events_ticks``  — tick/event-stream operators (SURVEY §2.2-§2.4)
- ``q_relational``    — TPC-H all-22, joins, windows, SQL surface
- ``q_docs``          — document corpus: dedup/quality/sampling/export
- ``q_embeddings``    — ANN, k-means, embedding near-dup
- ``q_multimodal``    — media decode/featurize/frame-sample/phash dedup
- ``q_ml_streaming``  — window tensors, anomaly scoring, streaming
- ``q_lakehouse``     — snapshots, MERGE, incremental ingest, tracking

Tick feeds: the reference keeps one tick table per symbol (PAPER.md
§1.1); the registry stands the ``events`` table in for it. ``_base``
derives two tables from ``events``, read through ``_td`` like any
other: ``ticks`` adds the 4-symbol feed's ``symbol = 'S' || user_id %
4`` and trade size ``sz = event_id % 100 + 1`` (``value`` is the
price), and ``quotes`` is the one-symbol quote feed ``(symbol, ts, bid,
ask)`` with ``symbol = 'EVENTS'``, ``bid = value`` and ``ask = value *
1.01``. Streaming queries apply the same ``_ticks`` / ``_quotes`` to
the replayed events stream, and ``_cent_returns`` is the per-symbol
cent return over ``_tick_order()``. The DuckDB oracles spell the same
feeds out in their own SQL text (``'S' || CAST(user_id % 4 AS
VARCHAR)``, ``value * 1.01``), so each side stays an independent check
of the other.

Prices and experiments: the exactness rule snaps prices to an integer
grid so that Spark and the oracle agree bit for bit. Whole cents are
``functions.scalars.cents`` (``CAST(FLOOR(value * 100 + 0.5) AS
BIGINT)`` in the oracles). The A/B family splits users by the portable
md5 hash in ``_base``: ``_user_bucket(n)`` is the first 28 bits of
``md5(user_id)`` modulo ``n``, and ``_arm(a, b)`` labels the even half
``a`` and the odd half ``b``; the oracles spell it ``CAST(concat('0x',
substr(md5(CAST(user_id AS VARCHAR)), 1, 7)) AS BIGINT) % 2 = 0``.
``_event_key()`` orders events by epoch millisecond, then
``event_id``, as the padded string the oracles build with ``lpad``.

Oracle/aliasing discipline (shared by every submodule): the driver
hash-compares values order-insensitively with columns sorted by name, so
every computed column is aliased identically on both sides, floats are
quantized identically (floor-half-up), and every row_number has a total
order. Adjudication ORDER is owned by ``__spark_entry__.py``, which
re-sorts these dicts — registration order here carries no meaning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import stats, ticks
from ._base import ORACLE, QUERIES, QueryFn, _register, _td  # noqa: F401
from . import (  # noqa: E402, F401  (side-effect registration)
    q_docs,
    q_embeddings,
    q_events_ticks,
    q_lakehouse,
    q_ml_streaming,
    q_multimodal,
    q_probes,
    q_relational,
)


def entry_query(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """Flagship: the reference's end-to-end stats pipeline on the events
    stream — session filter → deterministic 1-min downsample → daily
    window counts (scan→filter→window-dedup→agg→sort in one plan)."""
    ev = _td(spark, sf_dir, "events")
    ds = ticks.downsample_1s(
        ev, ts_col="ts", partition_cols=("user_id",), tiebreak_cols=("event_id",)
    )
    return stats.daily_window_counts(
        ds, ts_col="ts", partition_cols=(), windows=((7, 0, 12, 0), (13, 0, 18, 0))
    )
