"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

``test_smoke`` runs every workload through ``run.py --smoke`` (a few
minutes on 4 cores); the others take seconds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import layers  # noqa: E402
import spec  # noqa: E402


def test_every_workload_query_has_an_oracle():
    from big_data_project_jan_2026_tick_data__spark.registry import ORACLE

    for w in spec.WORKLOADS.values():
        assert [q for q in w["queries"] if q not in ORACLE] == []


@pytest.mark.parametrize("files", [1, 3])
def test_inputs_follow_the_seed(tmp_path, files):
    rows = spec.ROWS["smoke"]
    tables = ["embeddings", "events"]
    for d, seed in (("a", 7), ("b", 7), ("c", 8)):
        inputs.write_inputs(str(tmp_path / d), seed, rows, tables, files)
    for t in tables:
        a, b, c = (pq.read_table(inputs.table_path(str(tmp_path / d), t)) for d in "abc")
        assert a.num_rows == rows[t]
        assert a.equals(b)
        assert not a.equals(c)
    if files > 1:
        assert len(os.listdir(inputs.table_path(str(tmp_path / "a"), "events"))) == files


def test_self_time_subtracts_children():
    tr = layers.Tracer()
    with tr.span("outer"):
        with tr.span("child"):
            pass
        with tr.span("child"):
            pass
    (outer, outer_self), *children = tr.self_times()
    covered = sum(s["end"] - s["start"] for s, _ in children)
    assert outer_self == pytest.approx(outer["end"] - outer["start"] - covered)
    assert all(s["parent"] == outer["id"] for s, _ in children)


@pytest.mark.parametrize(
    "text, value",
    [("2.4 s", 2400.0), ("695 ms", 695.0), ("60.5 KiB", 60.5 * 1024),
     ("total (min, med, max (stageId: taskId))\n1.3 s (0.1 s, 0.2 s, 0.5 s (stage 3.0: task 9))", 1300.0)],
)
def test_metric_value_parses_totals(text, value):
    assert layers._metric_value(text) == pytest.approx(value)


def test_smoke():
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    assert len(lines) == 2 * len(spec.WORKLOADS)
    for untraced, traced in zip(lines[::2], lines[1::2]):
        assert untraced["correct"] and traced["correct"]
        assert set(untraced["metrics"]) == set(spec.END_TO_END)
        assert set(traced["metrics"]) == set(spec.PER_LAYER)


def test_oracle_compare_is_an_exact_multiset_compare():
    import pyarrow as pa

    import oracle

    con = oracle.connect(HERE, [])
    sql = (
        "SELECT k::INTEGER AS k, v::DOUBLE AS v, s "
        "FROM (VALUES (1, 0.5, 'a'), (2, NULL, 'b'), (2, 0.25, 'b')) t(k, v, s)"
    )

    def table(k, v, s, ktype=pa.int32()):
        return pa.table({"s": pa.array(s), "k": pa.array(k, ktype), "v": pa.array(v, pa.float64())})

    same = table([2, 1, 2], [0.25, 0.5, None], ["b", "a", "b"], pa.int64())
    assert oracle.mismatch(con, sql, same) is None
    assert "rows" in oracle.mismatch(con, sql, same.slice(0, 2))
    changed = table([2, 1, 2], [0.25, 0.5000001, None], ["b", "a", "b"])
    assert "first differing row" in oracle.mismatch(con, sql, changed)
    as_float = pa.table({"s": same["s"], "k": pa.array([2.0, 1.0, 2.0]), "v": same["v"]})
    assert "first differing row" in oracle.mismatch(con, sql, as_float)
