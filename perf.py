#!/usr/bin/env python
"""Ad-hoc performance tools over the registry: one session setup, one
noop sink (the whole query is computed, nothing is collected) and one
best-of-N timer.

    python perf.py plans [--label L] [names...]   formatted plans -> plans/<L>/<name>.txt
    python perf.py micro [--runs N] names...      best-of-N build + noop write
    python perf.py sweep [--top N]                cold and warm time of every registry query
    python perf.py scaling                        operator pipelines on a replicated corpus
    python perf.py bpe [--merges N] [--batch B]   sequential vs batched BPE training
    python perf.py reach FUNC...                  registry queries whose build + write enter FUNC

Queries read ``$SPARK_GRAFT_SF_DIR`` (default sf0.1, as ``bench.py``);
the session runs on ``local[$SPARK_GRAFT_CPUS]``. ``plans`` defaults to the
headline suite, ``bench.HEADLINE``; the files it writes number expression
ids (``#123``) by first appearance and replace ``plan_id=``, temp paths,
UUIDs and JVM object hashes, so ``diff -r plans/A plans/B`` between two
checkouts is empty when their plans are the same. ``micro`` and
``scaling`` warm up at sf0.001 first, as ``bench.py`` does, so JIT and
codegen compile outside the timed runs. For a core-count scaling curve,
run ``scaling`` once per ``SPARK_GRAFT_CPUS`` value. ``reach`` always
runs at sf0.001: it lists the queries whose build + noop write calls any
of the named package functions (``module.Qualname`` suffixes such as
``SnapshotTable.write`` or ``stats._bucket_means6``), traced with
``sys.setprofile`` in the driver's Python threads.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import tempfile
import threading
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import HEADLINE  # noqa: E402
from big_data_project_jan_2026_tick_data__spark import get_spark  # noqa: E402
from big_data_project_jan_2026_tick_data__spark.registry import QUERIES  # noqa: E402

ROOT = os.path.dirname(os.path.abspath(__file__))
WARM_DIR = "/root/testdata/sf0.001"
SCALING_REPL = 10


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _best_of(runs: int, build: Callable[[], DataFrame]) -> tuple[float, list[float]]:
    """Best and all wall times of ``runs`` (build + noop write) calls."""
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        _noop(build())
        times.append(round(time.perf_counter() - t0, 3))
    return min(times), times


_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
_TMP = re.compile(re.escape(tempfile.gettempdir()) + r"/[^\s,\]\)\}'\"]*")


def _normalize_plan(plan: str) -> str:
    """``plan`` without what differs from run to run: expression ids
    renumbered by first appearance, ``plan_id=`` tags dropped, temp
    paths, UUIDs and JVM object hashes replaced."""
    ids: dict[str, int] = {}
    plan = re.sub(r"#(\d+)", lambda m: f"#{ids.setdefault(m.group(1), len(ids))}", plan)
    plan = re.sub(r",? ?\[plan_id=\d+\]", "", plan)
    plan = _TMP.sub("<tmp>", _UUID.sub("<uuid>", plan))
    return re.sub(r"@[0-9a-f]{5,}\b", "@<hash>", plan)


def plans(spark: SparkSession, sf_dir: str, args) -> None:
    out = os.path.join(ROOT, "plans", args.label)
    os.makedirs(out, exist_ok=True)
    for name in args.names or HEADLINE:
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR: {type(exc).__name__}: {exc}"
        with open(os.path.join(out, f"{name}.txt"), "w") as fh:
            fh.write(_normalize_plan(plan))
        print(f"{name}: {len(plan)} chars -> {os.path.relpath(out, ROOT)}")


def micro(spark: SparkSession, sf_dir: str, args) -> None:
    for name in args.names:
        _noop(QUERIES[name](spark, WARM_DIR))
    timings = {}
    for name in args.names:
        best, times = _best_of(args.runs, lambda: QUERIES[name](spark, sf_dir))
        timings[name] = {"best": best, "runs": times}
    print(json.dumps(timings, indent=1))


def sweep(spark: SparkSession, sf_dir: str, args) -> None:
    """Twice per query: a warm time far below the cold one is plan/JIT
    amortization; a warm time near a large cold one is recomputation."""
    out = {}
    for name in sorted(QUERIES):
        try:
            _, out[name] = _best_of(2, lambda: QUERIES[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            out[name] = f"ERROR:{type(exc).__name__}"
        print(f"{name}: {out[name]}", flush=True)
    ranked = sorted(
        ((v[-1], k) for k, v in out.items() if isinstance(v, list)), reverse=True
    )[: args.top]
    print("\n== top by warm time ==")
    for warm, name in ranked:
        print(f"{warm:8.3f}  {name}  cold={out[name][0]}")
    print(json.dumps({k: out[k] for _, k in ranked}))


def scaling(spark: SparkSession, sf_dir: str, args) -> None:
    """Executor-bound operator pipelines on the documents corpus
    replicated ``SCALING_REPL`` times (doc_ids remapped, 32 parquet
    files), so the data path, not per-query fixed cost, sets the wall
    time."""
    from big_data_project_jan_2026_tick_data__spark.operators import dedup, text

    pipelines = {
        "minhash sig32 md5 (map+agg)": lambda d: dedup.minhash_signatures(
            d, num_hashes=32, token_hash="md5"
        ),
        "lm_cross_entropy (agg+joins)": text.lm_cross_entropy,
        "ngram_jaccard pairs (shuffle join)": lambda d: dedup.ngram_jaccard_pairs(
            d, shingle_n=3, threshold=0.2
        ),
    }
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    small = spark.read.parquet(f"{WARM_DIR}/documents.parquet")
    for build in pipelines.values():
        _noop(build(small))
    with tempfile.TemporaryDirectory(prefix="perf_scaling_") as tmp:
        src = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n = src.count()
        (
            src.crossJoin(spark.range(SCALING_REPL).select(F.col("id").alias("__r")))
            .withColumn("doc_id", F.col("doc_id") + F.col("__r") * n)
            .drop("__r")
            .repartition(32)
            .write.parquet(f"{tmp}/docs")
        )
        docs = spark.read.parquet(f"{tmp}/docs")
        print(f"cpus={cpus} docs={docs.count()}")
        for label, build in pipelines.items():
            best, _ = _best_of(2, lambda: build(docs))
            print(f"{label:36s} cpus={cpus} best={best:.2f}s")


def bpe(spark: SparkSession, sf_dir: str, args) -> None:
    """``_bpe_train(batch_size=1)`` is exact sequential greedy BPE, the
    registry and oracle semantics (one collect and one checkpoint per
    merge). ``batch_size=m`` applies up to m symbol-disjoint merges per
    pass, a different training schedule for vocabulary-scale merge
    counts. Prints merges, Spark jobs and wall time for each."""
    from big_data_project_jan_2026_tick_data__spark.operators import text
    from big_data_project_jan_2026_tick_data__spark.registry._base import _td

    docs = _td(spark, sf_dir, "documents")
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    pairs = {}
    for label, bs in (("sequential", 1), (f"batch[{args.batch}]", args.batch)):
        j0, t0 = dag.nextJobId(), time.perf_counter()
        merges, _words, _state, ckpts = text._bpe_train(
            docs, "text", args.merges, batch_size=bs
        )
        dt, jobs = time.perf_counter() - t0, dag.nextJobId() - j0
        ckpts.release_all()
        pairs[label] = [(a, b) for _, a, b, _, _ in merges]
        print(f"{label:14s} merges={len(merges)} spark_jobs={jobs} wall={dt:.1f}s")
    seq, bat = pairs.values()
    print("merge multiset identical:", sorted(seq) == sorted(bat))
    print("merge sequence identical:", seq == bat)


def reach(spark: SparkSession, sf_dir: str, args) -> None:
    pkg = os.path.join(ROOT, "big_data_project_jan_2026_tick_data__spark")
    names: dict = {}  # code object -> dotted "module.qualname"

    def dotted(code) -> str | None:
        if code not in names:
            path = code.co_filename
            names[code] = None
            if path.startswith(pkg + os.sep):
                mod = os.path.relpath(path, pkg)[: -len(".py")].replace(os.sep, ".")
                names[code] = f"{mod}.{code.co_qualname}"
        return names[code]

    entered: set[str] = set()

    def hook(frame, event, _arg):
        if event == "call":
            name = dotted(frame.f_code)
            if name is not None:
                entered.add(name)

    def matches(spec: str, name: str) -> bool:
        return name == spec or name.endswith("." + spec)

    hits: dict[str, list[str]] = {f: [] for f in args.funcs}
    errors = {}
    for q in sorted(QUERIES):
        entered.clear()
        sys.setprofile(hook)
        threading.setprofile(hook)
        try:
            _noop(QUERIES[q](spark, WARM_DIR))
        except Exception as exc:  # noqa: BLE001
            errors[q] = f"{type(exc).__name__}: {str(exc)[:200]}"
        finally:
            sys.setprofile(None)
            threading.setprofile(None)
        for f in args.funcs:
            if any(matches(f, name) for name in entered):
                hits[f].append(q)
    reached = sorted({q for qs in hits.values() for q in qs})
    print(json.dumps({"queries": reached, "by_function": hits, "errors": errors}, indent=1))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(required=True)
    p = sub.add_parser("plans", help="write formatted plans to plans/<label>/")
    p.add_argument("--label", default="current")
    p.add_argument("names", nargs="*")
    p.set_defaults(run=plans)
    p = sub.add_parser("micro", help="best-of-N build + noop write")
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("names", nargs="+")
    p.set_defaults(run=micro)
    p = sub.add_parser("sweep", help="cold and warm time of every query")
    p.add_argument("--top", type=int, default=40)
    p.set_defaults(run=sweep)
    p = sub.add_parser("scaling", help="operator pipelines on a replicated corpus")
    p.set_defaults(run=scaling)
    p = sub.add_parser("bpe", help="sequential vs batched BPE training")
    p.add_argument("--merges", type=int, default=64)
    p.add_argument("--batch", type=int, default=16)
    p.set_defaults(run=bpe)
    p = sub.add_parser("reach", help="registry queries that enter the named functions")
    p.add_argument("funcs", nargs="+")
    p.set_defaults(run=reach)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"perf-{args.run.__name__}")
    try:
        args.run(spark, sf_dir, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
