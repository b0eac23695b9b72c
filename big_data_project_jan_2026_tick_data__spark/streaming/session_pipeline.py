"""Structured Streaming session-window pipeline.

Re-expresses the reference's (spec-only) live endpoint — MT5 ticks pulled
in a loop, buffered per fixed daily session window, scored when the
window closes (PDF LiveEndpointManager/TickProcessor; windows per
``main.py:184``: 07:50-08:00 and 13:50-14:00) — as an event-time
Structured Streaming job:

- source: any streaming DataFrame (file/rate/kafka; tests replay parquet
  through a file source — the MT5 feed is broker-specific and
  missing-by-design in the reference too, ``WARNINGS.md:1-9``);
- session membership: the same canonical ``session_filter`` predicate as
  batch (one definition, batch/stream parity);
- accumulation: watermark + fixed ``window()`` aggregation — late data
  beyond the watermark is dropped (an upgrade over the reference, which
  assumes an in-order feed);
- window-close scoring: the windowed aggregate emits in append mode only
  when the watermark passes window end — i.e. exactly the reference's
  "_check_window_transitions → score when window completes" semantics.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import half_up
from ..operators.ticks import SESSION_WINDOWS, session_filter


def session_window_aggregate(
    stream: DataFrame,
    ts_col: str = "ts",
    value_cols: Sequence[str] = ("bid", "ask"),
    key_cols: Sequence[str] = ("symbol",),
    windows=SESSION_WINDOWS,
    watermark: str = "10 minutes",
    bucket: str = "10 minutes",
) -> DataFrame:
    """Per (key, 10-min event-time window) aggregate over session-window
    ticks: count + first/last/min/max of each value column.

    In append output mode a row is emitted once, when the watermark passes
    the window end — the streaming analog of the reference's window-close
    model trigger. Works identically on a batch DataFrame (Spark's
    unified semantics), which is how the oracle checks it.
    """
    ts = F.col(ts_col)
    filtered = session_filter(stream, ts_col, windows, closed="left")
    if stream.isStreaming:
        filtered = filtered.withWatermark(ts_col, watermark)

    aggs = [F.count(F.lit(1)).alias("n_ticks")]
    for c in value_cols:
        # mean over 1e-6-grid integer snaps summed as decimal(38,0):
        # the feed's values are exact at <= 6 dp, so this is the same
        # mean — but order-independent (a float AVG differs between
        # engines/partitionings in the last ulp, the q6 flip class)
        s6 = F.sum(
            half_up(F.col(c) * F.lit(1e6)).cast("decimal(38,0)")
        ).cast("double")
        aggs.extend(
            [
                F.min(c).alias(f"min_{c}"),
                F.max(c).alias(f"max_{c}"),
                ((s6 / F.lit(1e6)) / F.count(F.col(c))).alias(f"avg_{c}"),
            ]
        )
    return (
        filtered.groupBy(*key_cols, F.window(ts, bucket).alias("w"))
        .agg(*aggs)
        .select(
            *key_cols,
            F.col("w").getField("start").alias("window_start"),
            F.col("w").getField("end").alias("window_end"),
            *[c for c in ("n_ticks",)],
            *[
                F.col(f"{fn}_{c}")
                for c in value_cols
                for fn in ("min", "max", "avg")
            ],
        )
    )


def gap_session_windows(
    stream: DataFrame,
    ts_col: str = "ts",
    key_cols: Sequence[str] = ("symbol",),
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Dynamic-gap sessionization via ``session_window`` (the streaming
    built-in; batch analog = ticks_sessionize's lag+cumsum)."""
    src = stream
    if stream.isStreaming:
        src = stream.withWatermark(ts_col, watermark)
    return (
        src.groupBy(*key_cols, F.session_window(F.col(ts_col), gap).alias("s"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *key_cols,
            F.col("s").getField("start").alias("session_start"),
            F.col("s").getField("end").alias("session_end"),
            "n_events",
        )
    )


def stateful_window_scorer(
    stream: DataFrame,
    ts_col: str = "ts",
    value_cols: Sequence[str] = ("bid", "ask"),
    key_cols: Sequence[str] = ("symbol",),
    watermark: str = "10 minutes",
    bucket_minutes: int = 10,
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): accumulate ticks
    per (key, session-window bucket) in incremental state, emit ONE scored
    row when the event-time timeout fires (watermark passes window end).

    This is the faithful analog of the reference's TickProcessor /
    LiveEndpointManager._check_window_transitions (PDF spec): buffer per
    window, score on transition. Unlike the built-in windowed aggregate it
    keeps arbitrary Python state (here: count/sum/min/max per value col —
    stand-in for an online scoring model) and controls emission timing
    explicitly. State is O(1) per open window, not O(ticks).
    """
    import pandas as pd  # local: executor-side import parity

    from pyspark.sql.streaming.state import GroupStateTimeout

    n_vals = list(value_cols)
    bucket_ms = bucket_minutes * 60 * 1000

    ts = F.col(ts_col)
    src = (
        session_filter(stream, ts_col, closed="left")
        .withWatermark(ts_col, watermark)
        .withColumn(
            "w_start", F.window(ts, f"{bucket_minutes} minutes").getField("start")
        )
    )

    key_fields = ", ".join(f"{k} string" for k in key_cols)
    out_schema = (
        f"{key_fields}, window_start timestamp, n_ticks long, "
        + ", ".join(
            f"sum_{c} double, min_{c} double, max_{c} double" for c in n_vals
        )
    )
    state_schema = "n long, " + ", ".join(
        f"s_{c} double, mn_{c} double, mx_{c} double" for c in n_vals
    )

    def score(key, pdfs, state):
        if state.hasTimedOut:
            vals = state.get
            state.remove()
            n = vals[0]
            row = {k: key[i] for i, k in enumerate(key_cols)}
            row["window_start"] = pd.Timestamp(key[len(key_cols)])
            row["n_ticks"] = n
            for j, c in enumerate(n_vals):
                row[f"sum_{c}"] = vals[1 + 3 * j]
                row[f"min_{c}"] = vals[2 + 3 * j]
                row[f"max_{c}"] = vals[3 + 3 * j]
            yield pd.DataFrame([row])
        else:
            n = 0
            acc = {c: [0.0, float("inf"), float("-inf")] for c in n_vals}
            if state.exists:
                prev = state.get
                n = prev[0]
                for j, c in enumerate(n_vals):
                    acc[c] = [prev[1 + 3 * j], prev[2 + 3 * j], prev[3 + 3 * j]]
            for pdf in pdfs:
                n += len(pdf)
                for c in n_vals:
                    col = pdf[c].astype(float)
                    acc[c][0] += float(col.sum())
                    acc[c][1] = min(acc[c][1], float(col.min()))
                    acc[c][2] = max(acc[c][2], float(col.max()))
            flat = [n]
            for c in n_vals:
                flat.extend(acc[c])
            state.update(tuple(flat))
            # fire when the watermark passes this bucket's end
            w_start = key[len(key_cols)]
            end_ms = int(pd.Timestamp(w_start).value // 1_000_000) + bucket_ms
            state.setTimeoutTimestamp(end_ms)
            yield pd.DataFrame()

    return src.groupBy(*key_cols, "w_start").applyInPandasWithState(
        score,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_dedup(
    stream: DataFrame,
    id_cols: Sequence[str] = ("symbol", "ts"),
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exact streaming deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps per-key state only for the
    watermark horizon, so state size is O(arrival rate × watermark) —
    viable on an unbounded 100-TB/day feed, where plain
    ``dropDuplicates`` on a stream would grow state forever.

    On a batch DataFrame this degrades to ``dropDuplicates`` (unified
    semantics; that is also the oracle for the streaming path)."""
    if stream.isStreaming:
        return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(id_cols)
        )
    return stream.dropDuplicates(list(id_cols))


def streaming_near_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """NEAR-duplicate streaming dedup with bounded state: each document
    gets a single LSH band key — ``xxhash64`` of its per-row MinHash
    signature (:func:`…operators.dedup.minhash_signature_col`, the
    map-side formulation: stateful dedup cannot follow a streaming
    agg) — and ``dropDuplicatesWithinWatermark`` on that key collapses
    near-identical arrivals to the first one within the watermark
    horizon.

    One band of ``num_hashes`` rows ⇒ a pair with Jaccard j collides
    with probability j^num_hashes — precision-leaning by design (false
    merges need j ≈ 1); a multi-band recall-leaning variant needs
    cross-row state beyond per-key dedup and belongs in the batch
    :func:`…operators.dedup.minhash_lsh_pairs` backfill pass. State is
    one 8-byte key per surviving doc per watermark horizon.

    On a batch frame this degrades to keep-first-by-``ts_col`` per band
    key — the oracle for the streaming path.
    """
    from ..operators.dedup import minhash_signature_col

    from pyspark.sql import functions as F

    keyed = stream.withColumn(
        "band_key",
        F.xxhash64(minhash_signature_col(text_col, num_hashes, shingle_n).cast("string")),
    )
    if stream.isStreaming:
        return keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["band_key"]
        )
    from pyspark.sql import Window

    w = Window.partitionBy("band_key").orderBy(ts_col)
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "symbol",
    left_ts: str = "ts",
    right_ts: str = "r_ts",
    lookback: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join on key + event-time interval: each left
    row matches right rows with ``l.ts - lookback <= r.ts <= l.ts``
    (e.g. a trade joined to the quotes that preceded it).

    Both sides carry watermarks and the time condition is two-sided, so
    Spark can expire join state — the requirements for unbounded
    stream-stream joins. Right-side columns must be pre-renamed to avoid
    collisions (key column excepted)."""
    l_src = left
    r_src = right
    if left.isStreaming:
        l_src = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        r_src = right.withWatermark(right_ts, watermark)
    r_key = f"r_{key}"
    r_src = r_src.withColumnRenamed(key, r_key)
    cond = (
        (F.col(key) == F.col(r_key))
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {lookback}"))
        & (F.col(right_ts) <= F.col(left_ts))
    )
    return l_src.join(r_src, cond, "inner").drop(r_key)


def stream_append_snapshots(
    stream: DataFrame, table_path: str, checkpoint: str
):
    """Streaming ingestion into the snapshot-log lakehouse table: each
    micro-batch commits as one snapshot (foreachBatch → SnapshotTable
    append), so the stream's history is time-travelable exactly like
    batch loads — the Spark-native analog of the reference's live feed
    landing in Iceberg. Returns the started StreamingQuery."""
    from ..plans.snapshots import SnapshotTable

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        SnapshotTable(batch_df.sparkSession, table_path).write(
            batch_df, mode="append"
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_merge_snapshots(
    stream: DataFrame, table_path: str, checkpoint: str, key_cols: list[str]
):
    """Streaming UPSERT into the snapshot-log table (CDC apply): each
    micro-batch first collapses to one row per key (last by arrival
    within the batch — foreachBatch sees an ordinary DataFrame), then
    MERGEs into the table, so replays and late corrections overwrite
    instead of duplicating. The foreachBatch + checkpoint pair gives
    exactly-once table state per epoch; each merge is one copy-on-write
    snapshot, so the upsert history is time-travelable. Returns the
    started StreamingQuery."""
    from pyspark.sql import Window

    from ..plans.snapshots import SnapshotTable

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        t = SnapshotTable(batch_df.sparkSession, table_path)
        w = Window.partitionBy(*key_cols).orderBy(F.monotonically_increasing_id().desc())
        last = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        try:
            t.merge(last, key_cols=key_cols)
        except ValueError:
            t.write(last, mode="append")  # first batch: empty table

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_ordered_merge_snapshots(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    key_cols: list[str],
    order_cols: list[str],
):
    """Streaming ordered UPSERT (last-write-wins by EVENT order, not
    arrival order): each micro-batch collapses to the per-key row with
    the max ``order_cols`` tuple, and the MERGE only replaces a current
    row when the update's tuple is strictly greater — so the final
    table state is the global per-key argmax over the whole feed,
    identical under ANY batch slicing, replay, or late re-delivery.
    This is the deterministic twin of :func:`stream_merge_snapshots`
    (whose arrival-order collapse is what you want for true CDC feeds
    that are already per-key ordered); ``order_cols`` must be a total
    order per key (e.g. ``(ts, event_id)``) or ties pick the larger
    remaining column lexicographically. Returns the started
    StreamingQuery."""
    from pyspark.sql import Window

    from ..plans.snapshots import SnapshotTable

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        t = SnapshotTable(batch_df.sparkSession, table_path)
        w = Window.partitionBy(*key_cols).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        last = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        try:
            cur = t.read()
        except ValueError:
            t.write(last, mode="append")  # first batch: empty table
            return
        ord_struct = F.struct(*[F.col(c) for c in order_cols])
        # pre-shrink the current side to the touched keys (broadcast
        # semi — update batches are small next to the table), so the
        # compare join broadcasts batch-sized rows, never the table
        keys = last.select(*key_cols).distinct()
        existing = (
            cur.join(F.broadcast(keys), key_cols, "left_semi")
            .select(*key_cols, ord_struct.alias("__cur_ord"))
        )
        upd = (
            last.join(F.broadcast(existing), key_cols, "left")
            .filter(
                F.col("__cur_ord").isNull() | (ord_struct > F.col("__cur_ord"))
            )
            .drop("__cur_ord")
        )
        if not upd.isEmpty():
            t.merge(upd, key_cols=key_cols)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def health_check(queries, spark: SparkSession | None = None) -> DataFrame:
    """Live-endpoint health surface (reference `main.py:407-439`
    ``health_check()`` + the PDF's monitoring spec): one row per
    StreamingQuery with liveness, exception state, and the key
    throughput/latency counters from ``lastProgress`` — as a DataFrame
    so it composes with the rest of the engine (filter on
    ``healthy == false``, write to a sink, alert).

    ``queries``: iterable of StreamingQuery (or a single one). Driver-
    side by nature — StreamingQuery state lives on the driver; the row
    count is #queries, metadata-scale."""
    from pyspark.sql import Row

    if not isinstance(queries, (list, tuple)):
        queries = [queries]
    rows = []
    for q in queries:
        p = q.lastProgress or {}
        exc = q.exception()
        rows.append(
            Row(
                query_id=str(q.id),
                name=q.name,
                is_active=q.isActive,
                healthy=bool(q.isActive and exc is None),
                exception=str(exc) if exc is not None else None,
                batch_id=p.get("batchId"),
                input_rows_per_second=p.get("inputRowsPerSecond"),
                processed_rows_per_second=p.get("processedRowsPerSecond"),
                num_input_rows=p.get("numInputRows"),
                trigger_timestamp=p.get("timestamp"),
            )
        )
    s = spark or (queries[0].sparkSession if hasattr(queries[0], "sparkSession") else None)
    if s is None:
        from pyspark.sql import SparkSession as _SS

        s = _SS.getActiveSession()
    schema = (
        "query_id string, name string, is_active boolean, healthy boolean, "
        "exception string, batch_id long, input_rows_per_second double, "
        "processed_rows_per_second double, num_input_rows long, "
        "trigger_timestamp string"
    )
    return s.createDataFrame(rows, schema)


def run_stream_to_memory(
    agg: DataFrame, query_name: str, output_mode: str = "append"
) -> "DataFrame":
    """Drive a streaming aggregate to completion against a memory sink
    (test/smoke harness; it returns once the availableNow query ends). The
    stream's state stores take the session's
    ``spark.sql.shuffle.partitions``; results are partition-count-
    independent (key-partitioned stateful operators emit the same rows
    under any layout — covered by the order-independence lane)."""
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    # stop() in a finally (advisor r12): if the wait raises, an
    # orphaned query would stay registered under query_name and
    # block any retry with the same name. The wait itself is
    # awaitTermination, not processAllAvailable: an availableNow
    # query self-terminates only after its final no-data batch
    # (which commits watermark-finalized append-mode windows),
    # while processAllAvailable can return as soon as no INPUT is
    # pending — stop() then races the finalization batch and can
    # drop its rows (observed once as a suite-order flake in
    # test_cusum_monitor_multi_batch_state_continuity).
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return agg.sparkSession.sql(f"SELECT * FROM {query_name}")
