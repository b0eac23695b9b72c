"""The measured process: one engine session running one workload.

Started by ``run.py`` with the inputs already written. It times set-up
(session start, registry import, one cold pass over the workload that
also fetches every result, and the workload's untimed warm-up passes),
then timed passes until the given seconds are used and the workload's
``min_passes`` are done, then checks the fetched results against their
DuckDB oracles. It writes one JSON result file.

Each query run builds the query (``QUERIES[name](spark, data)``), plans
it (``queryExecution().executedPlan()``) and runs it to a ``noop`` sink.
With ``--trace 1`` every warm pass runs each query twice, untraced and
traced, in alternating order, so the traced-minus-untraced difference is
the tracing overhead (wrapping the layers, labelling jobs, draining the
listener bus) rather than the warm-up between passes. A traced run
labels its jobs with a group per (workload, pass, query, phase) and wraps
the engine's layers in spans.
"""

from __future__ import annotations

import argparse
import collections
import json
import statistics
import time

import spec


def _run_query(fn, spark, data: str):
    df = fn(spark, data)
    df._jdf.queryExecution().executedPlan()
    df.write.format("noop").mode("overwrite").save()
    return df


class Traced:
    """Per-layer recording for the traced query runs of one process."""

    def __init__(self, spark, workload: str) -> None:
        import layers

        self.layers = layers
        self.spark = spark
        self.workload = workload
        self.tracer = layers.Tracer()
        self.counters = {"plans.snapshots.commits": 0, "plans.snapshots.bytes_written": 0}
        self.groups: list[tuple[str, str]] = []  # (job group, phase)
        self.listener = layers.StreamProgress()
        spark.streams.addListener(self.listener)

    def run(self, fn, data: str, n: int, q: str) -> None:
        """One traced run of query ``q`` in pass ``n``."""
        sc = self.spark.sparkContext
        tracer = self.tracer
        tracer.qid = f"{self.workload}/{n}/{q}"
        group = f"{self.workload}|{n}|{q}|"
        restore = self.layers.install(tracer, self.counters)

        def phase(name: str) -> None:
            sc.setJobGroup(group + name, tracer.qid)
            self.listener.phase = name

        try:
            with tracer.span("query"):
                phase("build")
                with tracer.span("registry.build"):
                    df = fn(self.spark, data)
                phase("plan")
                with tracer.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
                phase("exec")
                with tracer.span("exec"):
                    df.write.format("noop").mode("overwrite").save()
        finally:
            sc._jsc.clearJobGroup()
            restore()
            self.groups.extend((group + p, p) for p in ("build", "plan", "exec"))
            self.layers.drain_listeners(self.spark)
            self.listener.phase = None
            tracer.qid = None

    def metrics(self, passes: int) -> dict[str, float]:
        """Per-layer metrics per traced pass. A layer that only one
        workload reaches reports its self time as a share (of build time,
        or of executor run time for Python workers), so that no time reads
        a constant 0 on the workload that skips it."""
        layers, spark = self.layers, self.spark
        layers.drain_listeners(spark)
        spark.streams.removeListener(self.listener)
        spans = collections.Counter()
        for s, self_s in self.tracer.self_times():
            name = s["name"]
            if name in ("registry.build", "catalyst.plan", "exec"):
                spans[name] += s["end"] - s["start"]
            else:  # "<layer>.<function>": self time and calls per layer
                layer = name.rsplit(".", 1)[0]
                spans[layer] += self_s
                spans[layer + ".calls"] += 1
        jobs = {"build": [], "plan": [], "exec": []}
        tracker = spark.sparkContext.statusTracker()
        for g, p in self.groups + self.listener.run_groups:
            jobs[p].extend(tracker.getJobIdsForGroup(g))
        build = spans["registry.build"]
        m = {
            "registry.build_s": build,
            "registry.build_jobs": len(jobs["build"]),
            "registry.build_driver_s": build - layers.job_seconds(spark, jobs["build"]),
            "operators.self_s": sum(spans[f"operators.{op}"] for op in spec.OPERATORS),
            "sources.read_s": spans["sources"],
            "catalyst.plan_s": spans["catalyst.plan"],
            "exec.s": spans["exec"],
            "exec.jobs": len(jobs["exec"]),
            **{f"operators.{op}.calls": spans[f"operators.{op}.calls"] for op in spec.OPERATORS},
            **{f"exec.{k}": v for k, v in layers.read_stages(spark, jobs["exec"]).items()},
            **layers.read_python(spark, set(jobs["exec"])),
            **self.counters,
            "streaming.batches": len(self.listener.batch_ms),
        }
        m = {k: v / passes for k, v in m.items()}

        def share(part: float, whole: float) -> float:
            return part / whole if whole else 0.0

        for op in spec.OPERATORS:
            m[f"operators.{op}.self_frac"] = share(spans[f"operators.{op}"], build)
        m["plans.snapshots.self_frac"] = share(spans["plans.snapshots"], build)
        m["streaming.run_frac"] = share(sum(self.listener.batch_ms) / 1000.0, build)
        run_ms = m["exec.run_ms"]
        m["exec.gc_frac"] = share(m.pop("exec.gc_ms"), run_ms)
        m["exec.busy_frac"] = share(run_ms, m["exec.s"] * 1000.0 * spec.slots(self.workload))
        m["python.init_frac"] = share(m.pop("python.start_ms") + m.pop("python.init_ms"), run_ms)
        m["python.run_frac"] = share(m.pop("python.run_ms"), run_ms)
        return m


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True, help="time.monotonic() at launch")
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans-out", required=True)
    args = ap.parse_args()
    w = spec.WORKLOADS[args.workload]
    queries = w["queries"]

    t = time.monotonic()
    from big_data_project_jan_2026_tick_data__spark.engine import get_spark

    spark = get_spark(app_name="perfbench")
    session_s = time.monotonic() - t
    t = time.monotonic()
    from big_data_project_jan_2026_tick_data__spark.registry import ORACLE, QUERIES

    import_s = time.monotonic() - t
    fns = {q: QUERIES[q] for q in queries}
    failures: dict[str, str] = {}

    # set-up: one cold pass that also fetches each result for the oracle
    # check, then the untimed warm-up passes
    results = {}
    cold_s: dict[str, float] = {}
    for q in queries:
        t = time.monotonic()
        try:
            df = fns[q](spark, args.data)
            df._jdf.queryExecution().executedPlan()
            results[q] = df.toArrow()
            del df
        except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
            failures.setdefault(q, f"{type(exc).__name__}: {exc}"[:300])
        cold_s[q] = time.monotonic() - t
    for _ in range(w["warmup_passes"]):
        for q in queries:
            try:
                _run_query(fns[q], spark, args.data)
            except Exception as exc:  # noqa: BLE001
                failures.setdefault(q, f"{type(exc).__name__}: {exc}"[:300])
    setup_s = time.monotonic() - args.t0

    traced = Traced(spark, args.workload) if args.trace else None
    plain_s: dict[str, list[float]] = {q: [] for q in queries}
    traced_s: dict[str, list[float]] = {q: [] for q in queries}
    t_end = time.monotonic() + args.seconds
    n = 0
    while n < w["min_passes"] or time.monotonic() < t_end:
        for i, q in enumerate(queries):
            order = [False, True] if traced else [False]
            if (i + n) % 2:
                order.reverse()
            for is_traced in order:
                t = time.perf_counter()
                try:
                    if is_traced:
                        traced.run(fns[q], args.data, n, q)
                    else:
                        _run_query(fns[q], spark, args.data)
                except Exception as exc:  # noqa: BLE001
                    failures.setdefault(q, f"{type(exc).__name__}: {exc}"[:300])
                (traced_s if is_traced else plain_s)[q].append(time.perf_counter() - t)
        n += 1

    def pass_s(times: dict[str, list[float]]) -> float:
        """One pass: the sum over queries of each query's median run."""
        return sum(statistics.median(v) for v in times.values())

    metrics = {"setup_s": setup_s, "pass_s": pass_s(plain_s)}
    layer: dict[str, float] = {}
    if traced:
        layer = traced.metrics(n)
        layer.update(traced.layers.read_memory(spark))
        layer["engine.session_s"] = session_s
        layer["registry.import_s"] = import_s
        layer["trace.pass_s"] = pass_s(traced_s)
        layer["trace.overhead_s"] = layer["trace.pass_s"] - metrics["pass_s"]
        with open(args.spans_out, "w") as f:
            json.dump(traced.tracer.spans, f)

    spark.stop()

    import oracle

    t = time.monotonic()
    con = oracle.connect(args.data, w["tables"])
    for q, table in results.items():
        try:
            reason = oracle.mismatch(con, ORACLE[q], table)
        except Exception as exc:  # noqa: BLE001
            reason = f"oracle raised {type(exc).__name__}: {exc}"[:300]
        if reason:
            failures.setdefault(q, reason)
    con.close()

    with open(args.out, "w") as f:
        json.dump(
            {
                "attempted": len(queries),
                "failed": len(failures),
                "failures": failures,
                "metrics": metrics,
                "layers": layer,
                "passes": n,
                "cold_s": cold_s,
                "query_s": plain_s,
                "session_s": session_s,
                "import_s": import_s,
                "oracle_s": time.monotonic() - t,
            },
            f,
        )


if __name__ == "__main__":
    main()
