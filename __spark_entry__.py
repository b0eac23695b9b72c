"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The driver adjudicates a bounded window (the first ~50 names) per
round, so the order of ``queries()`` is derived from the committed
``CORRECTNESS_r{N}.json`` ledgers beside this file. A query's standing
verdict is its entry in the highest-numbered ledger that names it, and
the order is:

1. a failing standing verdict (``rows_match``, ``schema_match`` or
   ``hash_match`` false, or ``err`` set);
2. no verdict yet;
3. the oldest standing verdict round first;
4. alphabetical within each of the above.

With no ledger beside this file the order is alphabetical.
``oracle_sql()`` follows the same order.

Implementation lives in ``big_data_project_jan_2026_tick_data__spark.registry``.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from big_data_project_jan_2026_tick_data__spark import registry

_HERE = Path(__file__).resolve().parent


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return registry.entry_query(spark, "/root/testdata/sf0.001")


def _standing_verdicts(ledger_dir: Path) -> dict[str, tuple[int, dict]]:
    """name → (round, verdict) from the highest-numbered ledger naming it."""
    ledgers = {
        int(m.group(1)): p
        for p in ledger_dir.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    }
    standing = {}
    for rnd in sorted(ledgers):
        for name, verdict in json.loads(ledgers[rnd].read_text()).items():
            standing[name] = (rnd, verdict)
    return standing


def _failed(verdict: dict) -> bool:
    return bool(verdict.get("err")) or not all(
        verdict.get(k) for k in ("rows_match", "schema_match", "hash_match")
    )


def _ordered(mapping: dict, ledger_dir: Path = _HERE) -> dict:
    standing = _standing_verdicts(ledger_dir)

    def rank(name: str) -> tuple[int, int, str]:
        if name not in standing:
            return (1, 0, name)
        rnd, verdict = standing[name]
        return (0 if _failed(verdict) else 2, rnd, name)

    return {n: mapping[n] for n in sorted(mapping, key=rank)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(dict(registry.QUERIES))


def oracle_sql() -> dict[str, str]:
    return _ordered(dict(registry.ORACLE))
