"""SparkSession factory.

Carries the reference's tuning profile forward into one place
(reference: ``Data Preprocessing and Cleaning/spark_csv_parquet_converter_ver_1.py:16-31``,
``spark_session_window_tick_cleaner.py:18-21`` — AQE, coalescePartitions,
Kryo, large parquet blocks), adapted for Spark's execution model:

- shuffle partitions sized to cores (not the reference's fixed 200/50);
  AQE coalesces at runtime anyway.
- session timezone pinned to UTC so results hash-compare cleanly against
  external engines (DuckDB oracle).
- Arrow enabled for the pandas-UDF slow path.

At cluster scale the same builder is used with ``master`` unset (picked
up from spark-submit) — nothing here is local-mode specific except the
defaults.
"""

from __future__ import annotations

import os
from pathlib import Path
from typing import Callable, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Conf profile applied to every session. Each value is a plain string as
# spark expects.
ENGINE_CONF: dict[str, str] = {
    # AQE: runtime re-planning (coalesce post-shuffle partitions, skew-join
    # splitting, dynamic broadcast). Reference enables AQE+coalesce in its
    # clean job; we make it engine-wide.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime bloom-filter pruning: a selective dim-side filter injects
    # might_contain() into the fact-side scan before the join shuffle —
    # at 100 TB that shrinks the shuffle to the matchable fraction.
    # (Default-on in Spark 4; pinned so the engine never regresses if a
    # deployment profile flips it. Pinned in tests/test_plans.py.)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Parquet: snappy + dictionary, matching the reference's storage
    # profile (csv_to_parquet_converter.py:89-95).
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Input split sizing. The reference used 500 MB splits for its
    # 50 GB corpus; 128 MB is the right default for a many-executor
    # cluster (more, smaller tasks → better packing under AQE).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Arrow for pandas interchange + pandas UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic cross-engine comparison.
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: null-on-bad-parse semantics, matching the reference's
    # to_timestamp / pd.to_datetime(errors="coerce") behavior.
    "spark.sql.ansi.enabled": "false",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "tickdata-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[N]`` with N from ``SPARK_GRAFT_CPUS``
    (driver contract) or all cores; on a cluster pass ``master=None`` with
    ``--master`` supplied by spark-submit.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def to_local(df: DataFrame) -> DataFrame:
    """Materialize ``df`` on the driver now and return it as a
    self-contained ``LocalRelation`` with the same schema.

    The rows cross the JVM boundary as Arrow batches in each direction,
    so no Python ``Row`` is built, no Python worker starts and no RDD is
    left persisted. Use it for small results that must outlive their
    inputs (a temp dir about to be removed) or that several plan
    branches would otherwise recompute."""
    return df.sparkSession.createDataFrame(df.toArrow(), df.schema)


# the directory that holds the package
_PKG_PARENT = str(Path(__file__).resolve().parents[1])


def _workers_import_package(spark: SparkSession) -> None:
    """Put the package's directory on the Python workers' path. A
    Python function of this package is unpickled inside a worker, which
    starts with Spark's own path plus the process's ``PYTHONPATH`` only,
    so a driver that found the package through its ``sys.path`` or
    working directory would fail there with ``ModuleNotFoundError``. A
    UDF takes ``SparkContext.environment`` when it is wrapped, which is
    why :func:`map_rows` and every registry query run this before they
    build anything."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PKG_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([*paths, _PKG_PARENT])


def map_rows(
    df: DataFrame,
    cols: Sequence[str],
    fn: Callable[..., Iterable[tuple]],
    schema: StructType,
) -> DataFrame:
    """Run ``fn`` on every row of ``df`` in the Python workers and return
    the rows it yields as a DataFrame of ``schema``.

    ``fn`` takes the row's ``cols`` values as plain Python objects
    (structs as dicts, binary as bytes, NULL as None) and returns zero or
    more output rows, each a tuple in ``schema``'s field order. The rows
    cross the JVM boundary as Arrow batches (``mapInArrow``), and the
    declared schema types every output column, empty batches and NULLs
    included, so no caller fixes dtypes. This is the package's one
    Python-worker row map; :func:`to_local` is the driver-side Arrow
    handoff."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    _workers_import_package(df.sparkSession)
    arrow_schema = to_arrow_schema(schema)
    names = schema.names

    def run(batches):
        for batch in batches:
            rows = zip(*(batch.column(c).to_pylist() for c in cols))
            yield pa.RecordBatch.from_pylist(
                [dict(zip(names, out)) for row in rows for out in fn(*row)],
                schema=arrow_schema,
            )

    return df.mapInArrow(run, schema)


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of the JVM's currently persisted RDDs. ``localCheckpoint``
    registers its blocks here, and ``Dataset.unpersist()`` does NOT
    release them — checkpoint cleanup must go through these ids
    (see ``release_rdd_ids``)."""
    sc = spark.sparkContext._jsc.sc()
    it = sc.getPersistentRDDs().keysIterator()
    ids: set[int] = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def release_rdd_ids(spark: SparkSession, ids: set[int]) -> None:
    """Unpersist the given RDD ids (non-blocking). The only way to free
    ``localCheckpoint`` storage: iterative operators (graph supersteps,
    serving phases) track the ids each checkpoint creates and release
    superseded ones, or a long-lived driver leaks one edge-list-sized
    copy per iteration per call."""
    if not ids:
        return
    sc = spark.sparkContext._jsc.sc()
    it = sc.getPersistentRDDs().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in ids:
            kv._2().unpersist(False)


class CheckpointTracker:
    """Rolling ``localCheckpoint`` manager for iterative operators.

    ``ckpt(df)`` checkpoints eagerly and records the RDD ids it
    created; ``release_superseded()`` frees every tracked id except
    those of the LAST checkpoint (whose blocks back the frames still in
    use). Callers that fully consume the final result can free that too
    with ``release_all()``.

    Concurrency contract (advisor r6): created ids are attributed by
    diffing the session-global persistent-RDD set before/after the
    checkpoint, because ``Dataset.localCheckpoint`` persists an
    *internal* mapped RDD the returned plan does not expose (the
    returned frame's ``toRdd`` id is a fresh wrapper, not the persisted
    id — reading it would mis-release on every Spark version bump).
    The diff is only correct when no OTHER thread persists RDDs on the
    same SparkSession between the two snapshots: a tracker must be
    created, used, and released on a single driver thread, the model
    this engine (and the adjudication driver, which runs queries
    sequentially) follows.  The persistent-RDD registry is
    per-SparkContext (``spark.newSession()`` does NOT isolate it), so a
    multi-threaded driver must serialize calls into tracker-using
    operators — mis-attributed ids would later be unpersisted by
    ``release_superseded``/``release_all_but_last``, and freeing a live
    localCheckpoint (truncated lineage) is unrecoverable for the other
    job.  The contract is ENFORCED, not just documented (advisor r7
    carry): every method asserts it runs on the construction thread, so
    a concurrent-driver deployment fails loudly at the call site instead
    of corrupting another job's checkpoints later.
    """

    def __init__(self, spark: SparkSession) -> None:
        import threading

        self.spark = spark
        self._generations: list[set[int]] = []
        self._pinned: set[int] = set()
        self._owner_thread = threading.get_ident()

    def _assert_owner(self) -> None:
        import threading

        if threading.get_ident() != self._owner_thread:
            raise RuntimeError(
                "CheckpointTracker is single-threaded by contract: id "
                "attribution diffs the SparkContext-global persistent-RDD "
                "registry, which a concurrent persist would corrupt. "
                "Create one tracker per driver thread."
            )

    def ckpt(self, df, pin: bool = False):
        """Checkpoint ``df``; ``pin=True`` marks ids that must survive
        ``release_superseded`` for the whole operator run (loop-
        invariant frames re-read every iteration)."""
        self._assert_owner()
        before = persistent_rdd_ids(self.spark)
        out = df.localCheckpoint()
        created = persistent_rdd_ids(self.spark) - before
        if pin:
            self._pinned |= created
        else:
            self._generations.append(created)
        return out

    def release_superseded(self) -> None:
        """Free all but the newest checkpoint generation (+ pins)."""
        self._assert_owner()
        dead: set[int] = set()
        while len(self._generations) > 1:
            dead |= self._generations.pop(0)
        release_rdd_ids(self.spark, dead)

    def release_all_but_last(self) -> None:
        """End-of-operator cleanup: free pins and every superseded
        generation; only the final result's checkpoint stays.  Freed
        localCheckpoint blocks are unrecoverable (lineage is truncated),
        so pins are released only when a later generation exists to be
        the self-contained result — with zero generations (e.g. a
        0-iteration loop) the result may still read the pinned frames
        and they are kept."""
        self._assert_owner()
        if not self._generations:
            return
        dead: set[int] = set(self._pinned)
        while len(self._generations) > 1:
            dead |= self._generations.pop(0)
        self._pinned = set()
        release_rdd_ids(self.spark, dead)

    def release_all(self) -> None:
        """Free EVERY tracked id, including the newest generation — for
        callers that fully consumed the final checkpoint driver-side
        (e.g. ``text.bpe_merges`` collects the merge list and returns a
        createDataFrame; keeping the last vocab-sized symbol table
        alive would leak one checkpoint per call — advisor r6)."""
        self._assert_owner()
        dead: set[int] = set(self._pinned)
        while self._generations:
            dead |= self._generations.pop(0)
        self._pinned = set()
        release_rdd_ids(self.spark, dead)
