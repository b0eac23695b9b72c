"""Lakehouse / ops registry queries: snapshot time travel, MERGE upsert, incremental dedup ingestion, experiment tracking."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import to_local
from ..functions.scalars import half_up
from ._base import _register, _td


# ---------------------------------------------------------------------------
# Run tracking (reference mlflow_utils.py:48-113 → parquet run tables).
# The simulated training loop is deterministic, and the same Python
# formula computes the expected values at oracle-build time — so the
# whole write→flush→read-back→window-query path is value-checked.
# ---------------------------------------------------------------------------


_TRACK_SYMBOLS = ("US30", "US2000", "BTCUSD")


_TRACK_EPOCHS = 5


def _track_loss(sym_i: int, epoch: int) -> float:
    return round(1.0 / (epoch + 2) + sym_i * 0.05, 6)


def _tracking_oracle() -> str:
    rows = []
    for sym_i in range(len(_TRACK_SYMBOLS)):
        run_id = f"bench/train/{2 * sym_i + 2:04d}"
        final = _track_loss(sym_i, _TRACK_EPOCHS - 1)
        rows.append((run_id, "train", "FINISHED", final))
    best = min(rows, key=lambda r: (r[3], r[0]))[0]
    vals = ", ".join(
        f"('{r}', '{p}', '{s}', {v!r}, {str(r == best).lower()})"
        for r, p, s, v in rows
    )
    return (
        "SELECT run_id, phase, status, CAST(final_loss AS DOUBLE) AS final_loss, "
        f"is_best FROM (VALUES {vals}) AS t(run_id, phase, status, final_loss, is_best)"
    )


@_register("tracking_best_run", _tracking_oracle)
def tracking_best_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment tracking surface (reference mlflow_utils.py phase
    runs/params/metrics/artifacts → parquet tables): simulate a
    deterministic 3-symbol training pipeline, flush to parquet, then
    answer 'final loss per run + which run is best' with one window
    query over the read-back tables."""
    import shutil
    import tempfile

    from ..plans.tracking import RunTracker

    d = tempfile.mkdtemp(prefix="tracking_")
    try:
        tr = RunTracker(spark, d, "bench")
        parent = tr.start_run("pipeline")
        for sym_i, symbol in enumerate(_TRACK_SYMBOLS):
            rid = tr.start_run("train", parent_run_id=parent)
            tr.log_params(rid, {"symbol": symbol, "batch": 168, "lr": 5e-4})
            for epoch in range(_TRACK_EPOCHS):
                tr.log_metrics(rid, {"loss": _track_loss(sym_i, epoch)}, step=epoch)
            tr.log_artifact(rid, f"/models/{symbol}.pt", "model")
            tr.end_run(rid)
        tr.end_run(parent)

        best = tr.best_run("loss", mode="min").select("run_id").limit(1)
        out = (
            tr.runs()
            .filter(F.col("phase") == "train")
            .join(tr.last_metric("loss"), "run_id")
            .join(
                best.withColumn("is_best", F.lit(True)), "run_id", "left"
            )
            .select(
                "run_id",
                "phase",
                "status",
                F.col("value").alias("final_loss"),
                F.coalesce("is_best", F.lit(False)).alias("is_best"),
            )
        )
        return to_local(out)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@_register(
    "snapshot_time_travel",
    """
    WITH c AS (
      SELECT
        CAST(SUM(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        CAST(SUM(CASE WHEN event_id % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        CAST(SUM(CASE WHEN event_id % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM events)
    SELECT CAST(1 AS BIGINT) AS snapshot_id,
           CAST(NULL AS BIGINT) AS parent_snapshot_id,
           'append' AS operation, c0 AS added_records, c0 AS total_records
    FROM c
    UNION ALL SELECT 2, 1, 'append', c1, c0 + c1 FROM c
    UNION ALL SELECT 3, 2, 'overwrite', c2, c2 FROM c
    UNION ALL SELECT 4, 3, 'rollback', CAST(0 AS BIGINT), c0 + c1 FROM c
    """,
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """St-ops end-to-end: 2 appends + overwrite + rollback-to-2 on a temp
    snapshot table; returns the $snapshots lineage. The oracle recomputes
    the expected lineage (ids, parents, operations, added/total record
    counts) from the events table — cross-checking the engine's
    footer-count bookkeeping and rollback-as-new-snapshot semantics."""
    import tempfile

    from ..plans.snapshots import SnapshotTable

    ev = _td(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory() as d:
        t = SnapshotTable(spark, f"{d}/tbl")
        t.write(ev.filter(F.col("event_id") % 3 == 0), mode="append")
        t.write(ev.filter(F.col("event_id") % 3 == 1), mode="append")
        t.write(ev.filter(F.col("event_id") % 3 == 2), mode="overwrite")
        t.rollback_to(2)
        out = t.snapshots().select(
            "snapshot_id",
            "parent_snapshot_id",
            "operation",
            F.element_at("summary", "added-records").cast("bigint").alias("added_records"),
            F.element_at("summary", "total-records").cast("bigint").alias("total_records"),
        )
        return to_local(out)  # materialize before tmpdir cleanup


@_register(
    "snapshot_merge_upsert",
    """
    SELECT event_id,
           CASE WHEN event_id % 4 = 0 THEN value * 2 ELSE value END AS value
    FROM events WHERE event_id % 2 = 0
    """,
)
def snapshot_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert) on the snapshot table: seed with the even
    event_ids, then merge an update batch (every 4th id, doubled value)
    keyed on event_id — updates replace, the rest survive, committed
    copy-on-write with history intact. The oracle is the last-writer-
    wins CASE over the raw events table."""
    import tempfile

    from ..plans.snapshots import SnapshotTable

    ev = _td(spark, sf_dir, "events").select("event_id", "value")
    with tempfile.TemporaryDirectory() as d:
        t = SnapshotTable(spark, f"{d}/tbl")
        t.write(ev.filter(F.col("event_id") % 2 == 0), mode="append")
        t.merge(
            ev.filter(F.col("event_id") % 4 == 0).withColumn(
                "value", F.col("value") * 2
            ),
            key_cols=["event_id"],
        )
        out = t.read().select("event_id", "value")
        return to_local(out)  # materialize before tmpdir cleanup


@_register(
    "events_k_anonymity",
    """
    WITH cl AS (
      SELECT event_type,
             user_id % 10 AS user_bucket,
             CAST(ts AS DATE) AS day,
             count(*) AS n
      FROM events WHERE user_id IS NOT NULL
      GROUP BY 1, 2, 3)
    SELECT event_type,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_risky_classes,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS n_risky_rows,
           FLOOR(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) * 1.0
                 / SUM(n) * 1e6 + 0.5) / 1e6 AS risky_row_frac_q6,
           SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) = 0 AS k_anonymous
    FROM cl GROUP BY event_type
    """,
)
def events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (expectations.k_anonymity_report, k=5) over
    the (user bucket, day) quasi-identifier pair, reported per event
    type — the re-identification-risk gate before a governed release,
    completing the privacy lifecycle next to the PII scrub and the
    GDPR delete+purge. Two hash aggs, exact integer counts."""
    from ..plans.expectations import k_anonymity_report

    ev = (
        _td(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_type",
            (F.col("user_id") % 10).alias("user_bucket"),
            F.to_date("ts").alias("day"),
        )
    )
    return k_anonymity_report(
        ev, quasi_cols=("user_bucket", "day"), k=5, by=("event_type",)
    )


@_register(
    "events_l_diversity",
    """
    WITH cl AS (
      SELECT user_id % 10 AS user_bucket,
             CAST(ts AS DATE) AS day,
             count(*) AS n,
             count(DISTINCT event_type) AS d
      FROM events WHERE user_id IS NOT NULL
      GROUP BY 1, 2)
    SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(CASE WHEN d < 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_risky_classes,
           CAST(SUM(CASE WHEN d < 2 THEN n ELSE 0 END) AS BIGINT)
             AS n_risky_rows,
           FLOOR(SUM(CASE WHEN d < 2 THEN n ELSE 0 END) * 1.0
                 / SUM(n) * 1e6 + 0.5) / 1e6 AS risky_row_frac_q6,
           SUM(CASE WHEN d < 2 THEN 1 ELSE 0 END) = 0 AS l_diverse
    FROM cl
    """,
)
def events_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity audit (expectations.l_diversity_report,
    l=2) over the same (user bucket, day) quasi-identifiers with
    event_type as the sensitive attribute — the homogeneity-attack
    check k-anonymity misses: a large class whose rows all share one
    sensitive value still leaks it. Two hash aggs (class agg carries a
    count-distinct), exact integers."""
    from ..plans.expectations import l_diversity_report

    ev = (
        _td(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_type",
            (F.col("user_id") % 10).alias("user_bucket"),
            F.to_date("ts").alias("day"),
        )
    )
    return l_diversity_report(
        ev, quasi_cols=("user_bucket", "day"), sensitive_col="event_type", l=2
    )


@_register(
    "events_t_closeness",
    """
    WITH cv AS (
      SELECT user_id % 10 AS user_bucket, CAST(ts AS DATE) AS day,
             event_type, count(*) AS n_cv
      FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2, 3),
    cls AS (SELECT user_bucket, day, SUM(n_cv) AS n_c FROM cv GROUP BY 1, 2),
    gv AS (SELECT event_type, SUM(n_cv) AS n_v FROM cv GROUP BY 1),
    g AS (SELECT SUM(n_v) AS n_tot FROM gv),
    grid AS (
      SELECT c.user_bucket, c.day, c.n_c, v.event_type, v.n_v, g.n_tot,
             COALESCE(x.n_cv, 0) AS n_cv
      FROM cls c CROSS JOIN gv v CROSS JOIN g
      LEFT JOIN cv x ON x.user_bucket = c.user_bucket AND x.day = c.day
                    AND x.event_type = v.event_type),
    cl AS (
      SELECT user_bucket, day, MIN(n_c) AS n,
             FLOOR((CAST(SUM(CAST(FLOOR(ABS(n_cv * 1.0 / n_c
                                           - n_v * 1.0 / n_tot)
                                       * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
                    / 1e12) / 2 * 1e6 + 0.5) / 1e6 AS tvd_q6
      FROM grid GROUP BY 1, 2)
    SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           MAX(tvd_q6) AS max_tvd_q6,
           CAST(SUM(CASE WHEN tvd_q6 > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_risky_classes,
           CAST(SUM(CASE WHEN tvd_q6 > 0.2 THEN n ELSE 0 END) AS BIGINT)
             AS n_risky_rows,
           FLOOR(SUM(CASE WHEN tvd_q6 > 0.2 THEN n ELSE 0 END) * 1.0
                 / SUM(n) * 1e6 + 0.5) / 1e6 AS risky_row_frac_q6,
           SUM(CASE WHEN tvd_q6 > 0.2 THEN 1 ELSE 0 END) = 0 AS t_close
    FROM cl
    """,
)
def events_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (expectations.t_closeness_report, t=0.2,
    total-variation distance) over the same (user bucket, day)
    quasi-identifiers with event_type sensitive — the skewness-attack
    check l-diversity misses: a class can be l-diverse yet leak by
    DISTRIBUTION (90% of one rare value). Completes the governance trio
    (k-anonymity → l-diversity → t-closeness). One corpus hash agg to
    the materialized (class, value) table; the support grid (missing
    combinations count as n_cv = 0) is class-list ⋈ broadcast global
    distribution; per-value |p_c − p_g| terms snap to a 1e-12 grid,
    per-class TVD is q6-quantized before the threshold/max."""
    from ..plans.expectations import t_closeness_report

    ev = (
        _td(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_type",
            (F.col("user_id") % 10).alias("user_bucket"),
            F.to_date("ts").alias("day"),
        )
    )
    return t_closeness_report(
        ev, quasi_cols=("user_bucket", "day"), sensitive_col="event_type", t=0.2
    )


@_register(
    "snapshot_wap_publish",
    """
    WITH pub AS (
      SELECT event_id, event_type, value FROM events
      WHERE event_id % 3 IN (0, 1) AND value IS NOT NULL)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           CAST(SUM(CAST(FLOOR(value * 1e4 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_i4_sum,
           TRUE AS staged_invisible,
           TRUE AS published_via_wap,
           TRUE AS abandoned_invisible
    FROM pub GROUP BY event_type
    """,
)
def snapshot_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish lifecycle end to end (SnapshotTable.wap_*,
    the Iceberg/Netflix staging pattern): a good batch is staged,
    audited on its actual files (data-contract: no null values), and
    published by metadata rename; a poisoned batch (nulls injected)
    is staged, FAILS the audit, and is abandoned without ever being
    visible. The value hash pins the final table content (= base ∪
    published batch, exactly) and three audited invariants ride as
    boolean columns the oracle asserts TRUE: staged batches invisible
    before publish, the publish recorded as a wap-publish snapshot
    carrying its audit id, the abandoned batch absent from the final
    state."""
    import tempfile

    from ..plans.snapshots import SnapshotTable

    ev = _td(spark, sf_dir, "events").filter(F.col("value").isNotNull()).select(
        "event_id", "event_type", "value"
    )
    with tempfile.TemporaryDirectory() as d:
        t = SnapshotTable(spark, f"{d}/tbl")
        t.write(ev.filter(F.col("event_id") % 3 == 0), mode="append")
        n_base = t.read().count()
        # good batch: stage -> audit (no nulls) -> publish
        t.wap_stage(ev.filter(F.col("event_id") % 3 == 1), "good")
        staged_invisible = t.read().count() == n_base
        audit_ok = (
            t.wap_read("good").filter(F.col("value").isNull()).count() == 0
        )
        snap = t.wap_publish("good") if audit_ok else None
        published_via_wap = (
            snap is not None
            and snap.operation == "wap-publish"
            and snap.summary.get("wap-id") == "good"
        )
        n_published = t.read().count()
        # poisoned batch: stage -> audit fails -> abandon
        bad = ev.filter(F.col("event_id") % 3 == 2).withColumn(
            "value",
            F.when(F.col("event_id") % 5 == 0, F.lit(None)).otherwise(
                F.col("value")
            ),
        )
        t.wap_stage(bad, "bad")
        bad_audit_ok = (
            t.wap_read("bad").filter(F.col("value").isNull()).count() == 0
        )
        if not bad_audit_ok:
            t.wap_abandon("bad")
        abandoned_invisible = t.read().count() == n_published
        out = (
            t.read()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("event_id").cast("long").alias("id_sum"),
                F.sum(
                    half_up(F.col("value") * 1e4).cast("long")
                )
                .cast("long")
                .alias("value_i4_sum"),
            )
            .select(
                "event_type",
                "n_events",
                "id_sum",
                "value_i4_sum",
                F.lit(bool(staged_invisible)).alias("staged_invisible"),
                F.lit(bool(published_via_wap)).alias("published_via_wap"),
                F.lit(bool(abandoned_invisible)).alias("abandoned_invisible"),
            )
        )
        return to_local(out)  # materialize before tmpdir cleanup


@_register(
    "snapshot_compact_roundtrip",
    """
    -- per-type aggregate must survive compaction bit-for-bit; the
    -- lifecycle invariants ride as value-hashed columns
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 1e4 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_i4,
           3 AS compacted_dirs,
           TRUE AS manifest_is_single_dir,
           TRUE AS history_still_readable
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
    """,
)
def snapshot_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end to end: three append commits (three
    data dirs — the long-append-history shape that fragments tasks at
    scale), one `compact()` rewriting the manifest to a single dir, and
    the value hash pins (a) the per-type aggregate unchanged through
    the rewrite, (b) the compacted-dirs count from the commit summary,
    (c) the new manifest being one dir, and (d) the PRE-compaction
    snapshot still readable with identical row count (data dirs are
    immutable; the log only grows)."""
    import tempfile

    from ..plans.snapshots import SnapshotTable

    ev = _td(spark, sf_dir, "events").filter(F.col("value").isNotNull()).select(
        "event_id", "event_type", "value"
    )
    with tempfile.TemporaryDirectory() as d:
        t = SnapshotTable(spark, f"{d}/tbl")
        for i in range(3):
            t.write(ev.filter(F.col("event_id") % 3 == i), mode="append")
        pre = t.current_snapshot_id()
        n_pre = t.read().count()
        snap = t.compact()
        single = len(snap.manifest) == 1
        readable = t.read(version=pre).count() == n_pre == t.read().count()
        out = (
            t.read()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(
                    half_up(F.col("value") * 1e4).cast("bigint")
                ).alias("value_i4"),
            )
            .withColumn(
                "compacted_dirs",
                F.lit(int(snap.summary["compacted-dirs"])),
            )
            .withColumn("manifest_is_single_dir", F.lit(bool(single)))
            .withColumn("history_still_readable", F.lit(bool(readable)))
        )
        return to_local(out)  # materialize before tmpdir cleanup


@_register(
    "incremental_ohlc_view",
    r"""
    -- invariant: any batch slicing of the feed refreshes to the same
    -- view as one-shot aggregation (mergeable partials)
    WITH t AS (
      SELECT 'S' || CAST(user_id % 4 AS VARCHAR) AS symbol,
             CAST(floor(epoch(ts)) AS BIGINT) AS es, event_id,
             CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT) AS p6,
             (event_id % 100 + 1) AS sz
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
    g AS (
      SELECT symbol, es // 86400 AS day,
             arg_min(p6, lpad(CAST(es AS VARCHAR), 12, '0')
                         || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS o6,
             max(p6) AS h6, min(p6) AS l6,
             arg_max(p6, lpad(CAST(es AS VARCHAR), 12, '0')
                         || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS c6,
             CAST(sum(sz) AS BIGINT) AS volume,
             CAST(count(*) AS BIGINT) AS n_ticks
      FROM t GROUP BY 1, 2)
    SELECT symbol, day,
           o6 / 1e6 AS open, h6 / 1e6 AS high, l6 / 1e6 AS low,
           c6 / 1e6 AS close, volume, n_ticks,
           3 AS n_snapshots
    FROM g
    """,
)
def incremental_ohlc_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance
    (plans/incremental.py::refresh_ohlc_view): the tick feed arrives as
    THREE interleaved batches (event_id mod 3 — every batch touches
    every (symbol, day) key, the hard case), each refresh reduces ONLY
    its batch to mergeable OHLC partials (struct-min/max opens/closes,
    exact integer sums) and MERGEs the touched keys — history is never
    re-read, and each refresh is one time-travelable snapshot. The
    oracle is the one-shot aggregation over the whole feed: the
    value-hash proves refresh ≡ recompute under batch slicing, plus the
    3-snapshot commit trail."""
    import tempfile

    from ..plans.incremental import finalize_ohlc_view, refresh_ohlc_view
    from ..plans.snapshots import SnapshotTable

    ev = _td(spark, sf_dir, "ticks").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    # the snapshot table stores every column it is given
    t = ev.select(
        "symbol",
        F.col("ts").cast("long").alias("es"),
        "event_id",
        half_up(F.col("value") * 1e6).cast("bigint").alias("p6"),
        "sz",
    )
    with tempfile.TemporaryDirectory() as d:
        tbl = SnapshotTable(spark, f"{d}/view")
        for i in range(3):
            refresh_ohlc_view(tbl, t.filter(F.col("event_id") % 3 == i))
        n_snaps = tbl.snapshots().count()
        out = finalize_ohlc_view(tbl.read()).withColumn(
            "n_snapshots", F.lit(int(n_snaps))
        )
        return to_local(out)  # materialize before tmpdir cleanup


@_register(
    "snapshot_schema_evolution",
    """
    -- rows committed before the column existed surface NULL for it
    SELECT event_id, value,
           CASE WHEN event_id % 2 = 1
                THEN CAST(FLOOR(value * 1e4 + 0.5) AS BIGINT)
           END AS value_i4
    FROM events WHERE value IS NOT NULL
    """,
)
def snapshot_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the snapshot-log table (the Iceberg
    capability SURVEY §1.3 notes the reference had but never used):
    the first commit carries (event_id, value), a later commit ADDS a
    value_i4 column, and the unified read (mergeSchema) surfaces NULL
    for pre-evolution rows — value-hashed so the NULL fill, the new
    column's values, and the union are all pinned. Time travel to the
    first snapshot still serves the narrow schema."""
    import tempfile

    from ..plans.snapshots import SnapshotTable

    ev = _td(spark, sf_dir, "events").filter(F.col("value").isNotNull()).select(
        "event_id", "value"
    )
    with tempfile.TemporaryDirectory() as d:
        t = SnapshotTable(spark, f"{d}/tbl")
        t.write(ev.filter(F.col("event_id") % 2 == 0), mode="append")
        v1 = t.current_snapshot_id()
        t.write(
            ev.filter(F.col("event_id") % 2 == 1).withColumn(
                "value_i4",
                half_up(F.col("value") * 1e4).cast("bigint"),
            ),
            mode="append",
        )
        # pre-evolution snapshot still serves the narrow schema
        assert t.read(version=v1).columns == ["event_id", "value"]
        out = t.read().select("event_id", "value", "value_i4")
        return to_local(out)  # materialize before tmpdir cleanup


@_register(
    "snapshot_delete_purge",
    """
    -- surviving per-user aggregate after the row-level DELETE, plus
    -- the purge invariants (single surviving snapshot, history gone)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 1e4 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_i4,
           1 AS snapshots_remaining,
           TRUE AS history_purged
    FROM events
    WHERE user_id IS NOT NULL AND user_id % 10 <> 3
    GROUP BY user_id
    """,
)
def snapshot_delete_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR right-to-be-forgotten on the snapshot-log table
    (SnapshotTable.delete_where + expire_snapshots): seed with the
    events feed, row-level DELETE every user with ``user_id % 10 = 3``
    (copy-on-write — the pre-delete snapshot stays time-travelable),
    then expire history down to the surviving snapshot so the data
    files holding the purged rows are physically removed. The output
    is the surviving per-user aggregate plus two value-hashed
    invariants: exactly one snapshot remains, and time travel to the
    pre-delete version now FAILS (history_purged) — deleted rows can
    not resurface through any read path."""
    import tempfile

    from ..plans.snapshots import SnapshotTable

    ev = _td(spark, sf_dir, "events").filter(F.col("user_id").isNotNull()).select(
        "user_id", "event_id", "value"
    )
    with tempfile.TemporaryDirectory() as d:
        t = SnapshotTable(spark, f"{d}/tbl")
        t.write(ev, mode="append")
        pre_delete_version = t.current_snapshot_id()
        t.delete_where("user_id % 10 = 3")
        t.expire_snapshots(keep_last=1)
        try:
            t.read(version=pre_delete_version).collect()
            purged = False  # old files still readable — purge failed
        except Exception:
            purged = True
        n_snaps = t.snapshots().count()
        out = (
            t.read()
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(
                    half_up(F.col("value") * 1e4).cast("bigint")
                ).alias("value_i4"),
            )
            .withColumn("snapshots_remaining", F.lit(int(n_snaps)))
            .withColumn("history_purged", F.lit(bool(purged)))
        )
        return to_local(out)  # materialize before tmpdir cleanup


@_register(
    "incremental_dedup",
    """
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source, row_number() OVER (
        PARTITION BY trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', ' ', 'g'), '\\s+', ' ', 'g'))
        ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1
    """,
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: the documents table arrives as three
    contiguous doc_id-range batches, each deduped within itself and
    against the already-committed snapshot table (anti-join on the
    persisted content_hash column — a one-int-column scan of the
    existing data). The invariant IS the oracle: ordered-range
    incremental ingestion must equal one-shot exact dedup of the whole
    corpus (plain keep-lowest-doc_id SQL)."""
    import tempfile

    from ..plans.incremental import dedup_append
    from ..plans.snapshots import SnapshotTable

    docs = _td(spark, sf_dir, "documents")
    # contiguous range thresholds: 2 scalars collected, batch bounds are
    # data-independent of partitioning
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None:  # empty corpus: nothing to ingest
        return docs.select("doc_id", "lang", "source")
    t1 = lo + (hi - lo) // 3
    t2 = lo + 2 * (hi - lo) // 3
    with tempfile.TemporaryDirectory() as d:
        t = SnapshotTable(spark, f"{d}/corpus")
        dedup_append(t, docs.filter(F.col("doc_id") <= t1))
        dedup_append(t, docs.filter((F.col("doc_id") > t1) & (F.col("doc_id") <= t2)))
        dedup_append(t, docs.filter(F.col("doc_id") > t2))
        out = t.read().select("doc_id", "lang", "source")
        return to_local(out)  # materialize before tmpdir cleanup


@_register(
    "events_data_contract",
    r"""
    WITH t AS (
      SELECT count(*) AS total,
        CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ts,
        CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_eid,
        CAST(sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
             ('view','click','purchase','signup','error') THEN 1 ELSE 0 END) AS BIGINT) AS v_set,
        CAST(sum(CASE WHEN value IS NOT NULL AND (value < 0 OR value > 500) THEN 1 ELSE 0 END) AS BIGINT) AS v_rng,
        CAST(sum(CASE WHEN event_type IS NOT NULL
             AND NOT regexp_matches(event_type, '^[a-z]+$') THEN 1 ELSE 0 END) AS BIGINT) AS v_re,
        CAST(sum(CASE WHEN value IS NOT NULL AND NOT (value >= 0) THEN 1 ELSE 0 END) AS BIGINT) AS v_pos,
        CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT) AS v_uq
      FROM events)
    SELECT 'not_null:ts' AS rule, v_ts AS violations, total AS total_rows, v_ts = 0 AS passed FROM t
    UNION ALL SELECT 'not_null:event_id', v_eid, total, v_eid = 0 FROM t
    UNION ALL SELECT 'in_set:event_type', v_set, total, v_set = 0 FROM t
    UNION ALL SELECT 'in_range:value', v_rng, total, v_rng = 0 FROM t
    UNION ALL SELECT 'matches:event_type', v_re, total, v_re = 0 FROM t
    UNION ALL SELECT 'expr:value_nonneg', v_pos, total, v_pos = 0 FROM t
    UNION ALL SELECT 'unique:event_id', v_uq, total, v_uq = 0 FROM t
    """,
)
def events_data_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative ingestion contract over the events stream — seven
    rules (nullability, set/range/regex membership, a free predicate,
    uniqueness) compiled into two aggregation passes by
    `plans/expectations.py::validate`; the oracle recomputes every
    rule's violation count in one SQL aggregate."""
    from ..plans.expectations import validate

    ev = _td(spark, sf_dir, "events")
    rules = [
        {"rule": "not_null", "col": "ts"},
        {"rule": "not_null", "col": "event_id"},
        {"rule": "in_set", "col": "event_type",
         "values": ["view", "click", "purchase", "signup", "error"]},
        {"rule": "in_range", "col": "value", "lo": 0.0, "hi": 500.0},
        {"rule": "matches", "col": "event_type", "pattern": "^[a-z]+$"},
        {"rule": "expr", "name": "value_nonneg", "predicate": "value >= 0"},
        {"rule": "unique", "col": "event_id"},
    ]
    return validate(ev, rules)


# Shared oracle: type-2 history of each customer's order priority from
# the orders change log (reference keeps only current state — SURVEY
# §4.4; this is the standard warehouse history the lakehouse layer
# needs next to MERGE/time-travel). Rank logic only — no float sums,
# so partition-layout-independent by construction.
_SCD2_ORACLE = """
    WITH ordered AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER w AS prev,
             row_number() OVER w AS rn
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    runs AS (
      -- rn = 1 keeps a key's first row even when its attribute is NULL
      -- (NULL IS DISTINCT FROM NULL = false) — matches scd2_history's
      -- explicit first-row clause; o_orderpriority happens to be
      -- non-null in this data, but the shared-oracle pattern must not
      -- depend on that
      SELECT * FROM ordered WHERE rn = 1 OR prev IS DISTINCT FROM o_orderpriority
    )
    SELECT o_custkey, o_orderpriority,
           o_orderdate AS effective_from,
           lead(o_orderdate) OVER w2 AS effective_to,
           (lead(o_orderdate) OVER w2 IS NULL) AS is_current,
           CAST(row_number() OVER w2 AS INT) AS version
    FROM runs
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """


@_register("orders_scd2_priority", _SCD2_ORACLE)
def orders_scd2_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 build (`plans/scd.py::scd2_history`): collapse the
    orders change log into validity intervals of o_orderpriority per
    customer — one shuffle, two shared-sort window passes; per-key
    history is bounded so no window sees unbounded rows."""
    from ..plans.scd import scd2_history

    orders = _td(spark, sf_dir, "orders")
    return scd2_history(
        orders,
        key_cols=("o_custkey",),
        attr_cols=("o_orderpriority",),
        ts_col="o_orderdate",
        tiebreak_cols=("o_orderkey",),
    )


@_register("orders_scd2_apply", _SCD2_ORACLE)
def orders_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 (`plans/scd.py::scd2_apply`): build the dimension
    from pre-1995 orders, then merge the 1995+ orders as an update batch
    — closing current rows, continuing version numbers, passing closed
    history through untouched (the append-cheap path on a 100 TB
    dimension). The oracle is the ONE-SHOT history over all orders: the
    driver-checked invariant is incremental-apply ≡ one-shot rebuild."""
    from ..plans.scd import scd2_apply, scd2_history

    orders = _td(spark, sf_dir, "orders")
    cutoff = F.lit("1995-01-01").cast("timestamp")
    hist0 = scd2_history(
        orders.filter(F.col("o_orderdate") < cutoff),
        key_cols=("o_custkey",),
        attr_cols=("o_orderpriority",),
        ts_col="o_orderdate",
        tiebreak_cols=("o_orderkey",),
    )
    return scd2_apply(
        hist0,
        orders.filter(F.col("o_orderdate") >= cutoff),
        key_cols=("o_custkey",),
        attr_cols=("o_orderpriority",),
        ts_col="o_orderdate",
        tiebreak_cols=("o_orderkey",),
    )


@_register(
    "orders_scd2_asof_state",
    """
    WITH ordered AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER w AS prev,
             row_number() OVER w AS rn
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    runs AS (
      -- rn = 1 keeps a key's first row even when its attribute is NULL
      -- (NULL IS DISTINCT FROM NULL = false) — matches scd2_history's
      -- explicit first-row clause; o_orderpriority happens to be
      -- non-null in this data, but the shared-oracle pattern must not
      -- depend on that
      SELECT * FROM ordered WHERE rn = 1 OR prev IS DISTINCT FROM o_orderpriority
    ),
    hist AS (
      SELECT o_custkey, o_orderpriority,
             o_orderdate AS effective_from,
             lead(o_orderdate) OVER w2 AS effective_to,
             CAST(row_number() OVER w2 AS INT) AS version
      FROM runs
      WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT o_custkey, o_orderpriority, effective_from, version
    FROM hist
    WHERE effective_from <= TIMESTAMP '1996-06-30 00:00:00'
      AND (effective_to IS NULL OR TIMESTAMP '1996-06-30 00:00:00' < effective_to)
    """,
)
def orders_scd2_asof_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension reconstruction (`plans/scd.py::scd2_as_of`):
    the one covering interval per customer at a literal timestamp — a
    pure filter over the history table (partition-prunable, shuffle-free
    beyond the history build). Exactly one row per customer active by
    the as-of date; the oracle re-derives the same interval algebra."""
    from ..plans.scd import scd2_as_of, scd2_history

    orders = _td(spark, sf_dir, "orders")
    hist = scd2_history(
        orders,
        key_cols=("o_custkey",),
        attr_cols=("o_orderpriority",),
        ts_col="o_orderdate",
        tiebreak_cols=("o_orderkey",),
    )
    return scd2_as_of(hist, "1996-06-30 00:00:00").select(
        "o_custkey", "o_orderpriority", "effective_from", "version"
    )


@_register(
    "snapshot_branching",
    """
    WITH m AS (
      SELECT count(*) AS n, CAST(sum(event_id) AS BIGINT) AS key_sum
      FROM events WHERE event_id % 3 IN (0, 1)),
    b AS (
      SELECT count(*) AS n, CAST(sum(event_id) AS BIGINT) AS key_sum
      FROM events WHERE event_id % 3 IN (0, 1, 2)),
    t AS (
      SELECT count(*) AS n, CAST(sum(event_id) AS BIGINT) AS key_sum
      FROM events WHERE event_id % 3 = 0)
    SELECT 'main' AS scope, n, key_sum FROM m
    UNION ALL SELECT 'branch' AS scope, n, key_sum FROM b
    UNION ALL SELECT 'tag' AS scope, n, key_sum FROM t
    """,
)
def snapshot_branching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch/tag refs on the snapshot table (Iceberg `CREATE BRANCH` /
    `CREATE TAG` semantics, r9): seed main with the %3==0 slice, tag it,
    append the %3==1 slice to main, fork a branch and commit the %3==2
    slice there. Main must read the two main slices, the branch its
    fork point plus the branch commit, the tag the frozen first slice —
    the oracle recomputes all three (count, key sum) straight from the
    events table. Proves branch isolation (a branch write never leaks
    into main's lineage), fork-point inheritance, and tag immutability
    bookkeeping end to end through the real commit protocol."""
    import tempfile

    from ..plans.snapshots import SnapshotTable

    ev = _td(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory() as d:
        t = SnapshotTable(spark, f"{d}/tbl")
        t.write(ev.filter(F.col("event_id") % 3 == 0), mode="append")
        t.create_tag("v1")
        t.write(ev.filter(F.col("event_id") % 3 == 1), mode="append")
        t.create_branch("exp", at_snapshot_id=2)
        t.write_to_branch(ev.filter(F.col("event_id") % 3 == 2), "exp")

        def digest(df: DataFrame, scope: str) -> DataFrame:
            return df.agg(
                F.lit(scope).alias("scope"),
                F.count(F.lit(1)).alias("n"),
                F.sum("event_id").cast("long").alias("key_sum"),
            )

        out = (
            digest(t.read(), "main")
            .unionByName(digest(t.read(ref="exp"), "branch"))
            .unionByName(digest(t.read(ref="v1"), "tag"))
        )
        return to_local(out)  # materialize before tmpdir cleanup


@_register(
    "snapshot_incremental_read",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(event_id) AS BIGINT) AS key_sum
    FROM events WHERE event_id % 3 IN (1, 2)
    GROUP BY event_type
    """,
)
def snapshot_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (append-diff) consumption (r9): three appends of the
    %3-slices of events, then ``read_incremental(snap1, snap3)`` must
    surface EXACTLY the rows of appends 2 and 3 — the CDC-lite contract
    a downstream job relies on to avoid re-reading the whole table. The
    oracle recomputes the expected slice digest straight from events;
    any manifest-diff bug (missing dir, double-counted dir, parent-walk
    error) breaks the hash."""
    import tempfile

    from ..plans.snapshots import SnapshotTable

    ev = _td(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory() as d:
        t = SnapshotTable(spark, f"{d}/tbl")
        s1 = t.write(ev.filter(F.col("event_id") % 3 == 0), mode="append")
        t.write(ev.filter(F.col("event_id") % 3 == 1), mode="append")
        s3 = t.write(ev.filter(F.col("event_id") % 3 == 2), mode="append")
        inc = t.read_incremental(s1.snapshot_id, s3.snapshot_id)
        out = inc.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").cast("long").alias("key_sum"),
        )
        return to_local(out)  # materialize before tmpdir cleanup
