"""Snapshot-log lakehouse: dependency-free time travel on parquet.

Emulates the observable Iceberg behavior the reference uses
(``Apache Iceberg/iceberg_time_travel.py`` — ``$snapshots`` listing
:48-58, ``FOR VERSION AS OF`` :139-143, ``FOR TIMESTAMP AS OF`` :163-167,
snapshot count-diff :184-197, ``rollback_to_snapshot`` :224-226 — and
``metadata_layer.py:73-82`` table DDL) with ~250 LoC of pure PySpark +
an append-only metadata log:

    <root>/
      data/<commit-uuid>/part-*.parquet   immutable data files per commit
      _snapshots/snap-%09d.json           one immutable file per snapshot

All metadata I/O goes through the **Hadoop FileSystem API** (via the
session JVM), so the table works identically on file://, hdfs://, s3a://
etc. — matching the reference's S3/MinIO lakehouse
(``iceberg_migration.py:62-108``) without driver-local POSIX assumptions.

A snapshot = manifest (list of data dirs) + summary map. The commit
point is an **exclusive create** of the next ``snap-N.json`` (HDFS and
strongly-consistent object stores make create-if-absent atomic): two
writers racing to commit snapshot N both derive N from the same parent,
and exactly one create succeeds — the loser gets
:class:`ConcurrentCommitError` and should re-read the log and retry
(optimistic concurrency, the lightweight analog of Iceberg's CAS
catalog swap). Readers pin a manifest, so reads during a commit see a
consistent snapshot.

Rollback is **rollback-as-new-snapshot** (matches Iceberg: the log only
grows; ``iceberg_time_travel.py:224-244``).

Scale notes: data files are never rewritten or moved; a snapshot read is
``spark.read.parquet(*dirs)`` so partition pruning / pushdown apply
unchanged; record counts come from parquet footers (metadata-only, no
scan — read through the JVM's ParquetFileReader so footers also come
off the Hadoop FS, not the local disk).
"""

from __future__ import annotations

import json
import re
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOG_DIR = "_snapshots"
_WAP_DIR = "_wap"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the same snapshot id first — re-read the
    log and retry the commit (optimistic concurrency)."""


class _HadoopFS:
    """Thin py4j wrapper over ``org.apache.hadoop.fs.FileSystem`` for the
    table's metadata I/O. Everything here is metadata-scale (a few KB per
    snapshot) — the data files themselves are written/read by Spark."""

    def __init__(self, spark: SparkSession, root: str):
        self._jvm = spark.sparkContext._jvm
        self._conf = spark.sparkContext._jsc.hadoopConfiguration()
        self._root = self._jvm.org.apache.hadoop.fs.Path(root)
        self.fs = self._root.getFileSystem(self._conf)

    def path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def mkdirs(self, p: str) -> None:
        self.fs.mkdirs(self.path(p))

    def exists(self, p: str) -> bool:
        return self.fs.exists(self.path(p))

    def list_names(self, p: str) -> list[str]:
        return [st.getPath().getName() for st in self.fs.listStatus(self.path(p))]

    def read_text(self, p: str) -> str:
        stream = self.fs.open(self.path(p))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def create_text(self, p: str, text: str, overwrite: bool = False) -> None:
        """Write a small text file; ``overwrite=False`` is the atomic
        create-if-absent commit primitive."""
        out = self.fs.create(self.path(p), overwrite)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def delete(self, p: str, recursive: bool = False) -> None:
        self.fs.delete(self.path(p), recursive)

    def rename(self, src: str, dst: str) -> bool:
        """Metadata move (no data rewrite on HDFS; object stores map it
        to their server-side copy) — the WAP publish primitive."""
        return bool(self.fs.rename(self.path(src), self.path(dst)))

    def parquet_row_count(self, dirpath: str) -> int:
        """Sum parquet footer num_rows over a data dir — metadata-only,
        through the Hadoop FS (works on object storage)."""
        total = 0
        for name in self.list_names(dirpath):
            if not name.endswith(".parquet"):
                continue
            f = self._jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                self.path(f"{dirpath}/{name}"), self._conf
            )
            reader = self._jvm.org.apache.parquet.hadoop.ParquetFileReader.open(f)
            try:
                total += reader.getRecordCount()
            finally:
                reader.close()
        return total

SNAPSHOTS_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.LongType(), False),
        T.StructField("parent_snapshot_id", T.LongType(), True),
        T.StructField("committed_at", T.TimestampType(), False),
        T.StructField("operation", T.StringType(), False),
        T.StructField("summary", T.MapType(T.StringType(), T.StringType()), False),
    ]
)


@dataclass
class Snapshot:
    snapshot_id: int
    parent_snapshot_id: int | None
    committed_at_ms: int
    operation: str
    manifest: list[str]  # data dirs relative to root
    summary: dict[str, str]


class SnapshotTable:
    """A parquet table with snapshot lineage, time travel and rollback."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._hfs = _HadoopFS(spark, root)
        self._hfs.mkdirs(f"{root}/{_LOG_DIR}")
        self._hfs.mkdirs(f"{root}/data")

    # -- log ----------------------------------------------------------------

    def _snap_path(self, snapshot_id: int) -> str:
        # fixed-width name: lexicographic listing order == id order
        return f"{self.root}/{_LOG_DIR}/snap-{snapshot_id:09d}.json"

    def _read_log(self) -> list[Snapshot]:
        names = sorted(
            n
            for n in self._hfs.list_names(f"{self.root}/{_LOG_DIR}")
            if n.startswith("snap-") and n.endswith(".json")
        )
        return [
            Snapshot(**json.loads(self._hfs.read_text(f"{self.root}/{_LOG_DIR}/{n}")))
            for n in names
        ]

    def _append_log(self, snap: Snapshot) -> None:
        """Commit point: exclusive create of the snapshot's own file —
        atomic on HDFS / strongly-consistent object stores; a concurrent
        writer that won the race makes this raise ConcurrentCommitError."""
        try:
            self._hfs.create_text(
                self._snap_path(snap.snapshot_id), json.dumps(vars(snap)), overwrite=False
            )
        except Exception as e:  # py4j wraps FileAlreadyExistsException
            if "exists" in str(e).lower():
                raise ConcurrentCommitError(
                    f"snapshot {snap.snapshot_id} was committed concurrently; "
                    "re-read the log and retry"
                ) from e
            raise

    # -- writes -------------------------------------------------------------

    def _attach(
        self,
        commit_dir: str,
        added: int,
        mode: str,
        operation: str,
        extra_summary: dict[str, str] | None = None,
        retries: int = 3,
    ) -> Snapshot:
        """Optimistic metadata attach of an already-written data dir —
        shared by :meth:`write` and :meth:`wap_publish`. The data files
        are written once; only this attach is retried: on a commit race,
        re-read the log (so the winner becomes the parent and, for
        append, its manifest is included) and try the next snapshot id.
        Iceberg's optimistic commit loop.

        ``extra_summary={"ref": <branch>}`` commits onto that branch:
        the parent is the BRANCH head instead of the main tail, and the
        snapshot is excluded from the main lineage (``_main_log``).
        Snapshot ids stay globally allocated (max id + 1) so the
        exclusive-create commit point arbitrates races across ALL
        lineages with one mechanism."""
        ref = (extra_summary or {}).get("ref")
        last_err: Exception | None = None
        for _ in range(max(1, retries)):
            log = self._read_log()
            if ref is None:
                main = [s for s in log if "ref" not in s.summary]
                parent = main[-1] if main else None
            else:
                head_id = self._ref_head(ref)["snapshot_id"]
                parent = next(s for s in log if s.snapshot_id == head_id)
            if mode == "append" and parent is not None:
                manifest = [*parent.manifest, commit_dir]
                deleted = 0
            else:
                manifest = [commit_dir]
                deleted = int(parent.summary["total-records"]) if parent else 0
            total = (
                added + int(parent.summary["total-records"])
                if (mode == "append" and parent)
                else added
            )
            snap = Snapshot(
                snapshot_id=(log[-1].snapshot_id + 1) if log else 1,
                parent_snapshot_id=parent.snapshot_id if parent else None,
                committed_at_ms=int(time.time() * 1000),
                operation=operation,
                manifest=manifest,
                summary={
                    "added-records": str(added),
                    "deleted-records": str(deleted),
                    "total-records": str(total),
                    **(extra_summary or {}),
                },
            )
            try:
                self._append_log(snap)
                return snap
            except ConcurrentCommitError as e:
                last_err = e
        raise last_err

    def _write_data(self, df: DataFrame, mode: str) -> tuple[str, int]:
        """Write ``df`` once as the parquet files of a new commit directory
        (``mode`` checked first); returns ``(commit_dir, row count)``.
        The data step of :meth:`write` and :meth:`write_to_branch`."""
        if mode not in ("append", "overwrite"):
            raise ValueError("mode must be append|overwrite")
        commit_dir = f"data/{uuid.uuid4().hex}"
        out_path = f"{self.root}/{commit_dir}"
        df.write.mode("errorifexists").parquet(out_path)
        return commit_dir, self._hfs.parquet_row_count(out_path)

    def write(self, df: DataFrame, mode: str = "append", retries: int = 3) -> Snapshot:
        """Commit ``df`` as a new snapshot. ``mode``: append | overwrite.
        ``retries``: optimistic-concurrency attempts — on a commit race
        the metadata attach is recomputed against the winner's log tail
        and retried; raises :class:`ConcurrentCommitError` when all
        attempts lose."""
        commit_dir, added = self._write_data(df, mode)
        return self._attach(commit_dir, added, mode, mode, retries=retries)

    # -- write-audit-publish (WAP) ----------------------------------------

    def _wap_dir(self, audit_id: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9_\-]{1,64}", audit_id):
            raise ValueError(
                f"audit_id must be [A-Za-z0-9_-]{{1,64}}, got {audit_id!r}"
            )
        return f"{_WAP_DIR}/{audit_id}"

    def wap_stage(
        self, df: DataFrame, audit_id: str, mode: str = "append"
    ) -> None:
        """Write-Audit-Publish stage (the Iceberg/Netflix WAP pattern):
        write ``df``'s files ONCE into an unpublished staging area,
        INVISIBLE to ``read()``/time travel/concurrent readers, so the
        batch can be audited on real files before anyone sees it.
        ``wap_publish`` later attaches the directory by metadata rename
        (no data rewrite); ``wap_abandon`` drops it. At 100 TB this is
        the difference between auditing a copy and auditing the actual
        bytes that will serve."""
        if mode not in ("append", "overwrite"):
            raise ValueError("mode must be append|overwrite")
        stage = self._wap_dir(audit_id)
        if self._hfs.exists(f"{self.root}/{stage}"):
            raise ValueError(f"audit_id {audit_id!r} is already staged")
        df.write.mode("errorifexists").parquet(f"{self.root}/{stage}/data")
        self._hfs.create_text(
            f"{self.root}/{stage}/meta.json", json.dumps({"mode": mode})
        )

    def wap_read(self, audit_id: str) -> DataFrame:
        """The staged batch alone — what the audit gate runs its
        expectations against (e.g. plans/expectations.py contracts)."""
        return self.spark.read.parquet(
            f"{self.root}/{self._wap_dir(audit_id)}/data"
        )

    def wap_publish(self, audit_id: str, retries: int = 3) -> Snapshot:
        """Atomically make a staged batch visible: one filesystem rename
        of the staged data dir into the table's data area + the standard
        optimistic metadata attach (operation ``wap-publish``, summary
        carries the audit id). The files written at stage time ARE the
        published files — audit-what-you-publish."""
        stage = self._wap_dir(audit_id)
        meta_path = f"{self.root}/{stage}/meta.json"
        if not self._hfs.exists(meta_path):
            raise ValueError(f"no staged batch for audit_id {audit_id!r}")
        mode = json.loads(self._hfs.read_text(meta_path))["mode"]
        commit_dir = f"data/wap-{audit_id}-{uuid.uuid4().hex[:8]}"
        if not self._hfs.rename(f"{self.root}/{stage}/data", f"{self.root}/{commit_dir}"):
            raise RuntimeError(f"rename of staged batch {audit_id!r} failed")
        added = self._hfs.parquet_row_count(f"{self.root}/{commit_dir}")
        try:
            snap = self._attach(
                commit_dir,
                added,
                mode,
                "wap-publish",
                extra_summary={"wap-id": audit_id},
                retries=retries,
            )
        except ConcurrentCommitError:
            # Lost every optimistic-commit attempt: the renamed files are
            # attached to NO snapshot — without this rollback they'd be
            # orphaned under data/ (invisible but undeletable via the
            # API) and the stage dir would be left dataless, making the
            # batch unrecoverable (advisor r7). Move the data back so
            # wap_publish is simply retryable.
            if not self._hfs.rename(
                f"{self.root}/{commit_dir}", f"{self.root}/{stage}/data"
            ):
                raise RuntimeError(
                    f"commit race lost AND rollback rename failed for "
                    f"{audit_id!r}: staged files stranded at {commit_dir}"
                ) from None
            raise
        self._hfs.delete(f"{self.root}/{stage}", recursive=True)
        return snap

    def wap_abandon(self, audit_id: str) -> None:
        """Drop a staged batch that failed its audit — nothing was ever
        visible, so this is a pure staging-area delete."""
        stage = self._wap_dir(audit_id)
        if not self._hfs.exists(f"{self.root}/{stage}"):
            raise ValueError(f"no staged batch for audit_id {audit_id!r}")
        self._hfs.delete(f"{self.root}/{stage}", recursive=True)

    def merge(self, updates: DataFrame, key_cols: list[str]) -> Snapshot:
        """MERGE INTO (upsert): rows in ``updates`` replace current rows
        sharing their key; new keys are inserted — committed as ONE new
        overwrite snapshot (copy-on-write, the Iceberg COW strategy; old
        versions stay time-travelable).

        Plan shape: current LEFT ANTI join the distinct update keys
        (broadcast — update batches are small next to the table), union
        the updates, rewrite. At 100 TB copy-on-write rewrites the whole
        table per merge; partition-scoped merges (filter both sides to
        the touched partitions, overwrite only those) or a merge-on-read
        delete-file design are the upgrades — out of scope here, noted
        for the deploy story."""
        from pyspark.sql import functions as F

        cur = self.read()
        keys = updates.select(*key_cols).distinct()
        keep = cur.join(F.broadcast(keys), key_cols, "left_anti")
        return self.write(
            keep.unionByName(updates, allowMissingColumns=True), mode="overwrite"
        )

    def delete_where(self, condition) -> Snapshot:
        """Row-level DELETE (copy-on-write): rewrite the table WITHOUT
        the rows matching ``condition`` (a SQL predicate string or a
        Column), committed as one overwrite snapshot — old versions
        stay time-travelable until expired. Chased with
        ``expire_snapshots(keep_last=1)`` this is the GDPR
        right-to-be-forgotten primitive: the data files that held the
        purged rows are physically removed, so no snapshot — current or
        historical — can resurface them. Same COW scaling note as
        :meth:`merge`: at 100 TB, partition-scoped rewrites or a
        merge-on-read delete-file design (Iceberg v2 positional
        deletes) are the upgrade; the log/commit protocol is
        unchanged by either."""
        from pyspark.sql import Column
        from pyspark.sql import functions as F

        cond = F.expr(condition) if isinstance(condition, str) else condition
        if not isinstance(cond, Column):
            raise TypeError(
                f"condition must be a SQL string or Column, got {type(condition)}"
            )
        # SQL DELETE semantics: only rows where the predicate is TRUE
        # are deleted — NULL-valued predicates keep their rows
        kept = self.read().filter(~F.coalesce(cond, F.lit(False)))
        return self.write(kept, mode="overwrite")

    def rollback_to(self, snapshot_id: int) -> Snapshot:
        """Roll back to an earlier snapshot — appended as a NEW snapshot
        whose manifest is the target's (lineage preserved,
        iceberg_time_travel.py:224-244 semantics)."""
        log = self._read_log()
        target = next((s for s in log if s.snapshot_id == snapshot_id), None)
        if target is None:
            raise ValueError(f"snapshot {snapshot_id} not found")
        head = self._resolve(None, None)  # main tail, branch-aware
        snap = Snapshot(
            snapshot_id=log[-1].snapshot_id + 1,
            parent_snapshot_id=head.snapshot_id,
            committed_at_ms=int(time.time() * 1000),
            operation="rollback",
            manifest=list(target.manifest),
            summary={
                "added-records": "0",
                "deleted-records": "0",
                "total-records": target.summary["total-records"],
                "rolled-back-to": str(snapshot_id),
            },
        )
        self._append_log(snap)
        return snap

    # -- branches / tags (Iceberg refs) -------------------------------------

    def _ref_dir(self, name: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9_\-]{1,64}", name) or name == "main":
            raise ValueError(
                f"ref name must be [A-Za-z0-9_-]{{1,64}} and not 'main', "
                f"got {name!r}"
            )
        return f"{self.root}/refs/{name}"

    def _ref_names(self) -> list[str]:
        if not self._hfs.exists(f"{self.root}/refs"):
            return []
        return sorted(self._hfs.list_names(f"{self.root}/refs"))

    def _ref_head(self, name: str) -> dict:
        """Current state of a ref: the lexicographically LAST bump file
        (fixed-width names, so listing order == bump order)."""
        d = self._ref_dir(name)
        bumps = sorted(
            n
            for n in (self._hfs.list_names(d) if self._hfs.exists(d) else [])
            if n.startswith("ref-") and n.endswith(".json")
        )
        if not bumps:
            raise ValueError(f"ref {name!r} does not exist")
        return json.loads(self._hfs.read_text(f"{d}/{bumps[-1]}"))

    def _bump_ref(self, name: str, snapshot_id: int, rtype: str, seq: int) -> None:
        """Advance a ref by EXCLUSIVE CREATE of the next fixed-width bump
        file — the same atomic commit point as the snapshot log, so two
        concurrent branch writers race on one filesystem primitive and
        the loser retries with the winner as parent."""
        self._hfs.mkdirs(self._ref_dir(name))
        try:
            self._hfs.create_text(
                f"{self._ref_dir(name)}/ref-{seq:09d}.json",
                json.dumps({"snapshot_id": snapshot_id, "type": rtype}),
                overwrite=False,
            )
        except Exception as e:
            if "exists" in str(e).lower():
                raise ConcurrentCommitError(
                    f"ref {name!r} was advanced concurrently; retry"
                ) from e
            raise

    def create_branch(self, name: str, at_snapshot_id: int | None = None) -> dict:
        """Create a BRANCH ref at ``at_snapshot_id`` (default: current
        main head) — Iceberg's ``CREATE BRANCH``. Branch writes go
        through :meth:`write_to_branch`; ``read(ref=name)`` follows the
        branch head; main's lineage and reads are untouched (the WAP
        pattern generalized to long-lived audit/experiment lines)."""
        target = self._resolve(at_snapshot_id, None)
        if name in self._ref_names():
            raise ValueError(f"ref {name!r} already exists")
        self._bump_ref(name, target.snapshot_id, "branch", seq=1)
        return {"name": name, "type": "branch", "snapshot_id": target.snapshot_id}

    def create_tag(self, name: str, at_snapshot_id: int | None = None) -> dict:
        """Create an immutable TAG ref (Iceberg ``CREATE TAG``) — a
        named, expiry-protected snapshot pin (release audits,
        reproducible training-set versions)."""
        target = self._resolve(at_snapshot_id, None)
        if name in self._ref_names():
            raise ValueError(f"ref {name!r} already exists")
        self._bump_ref(name, target.snapshot_id, "tag", seq=1)
        return {"name": name, "type": "tag", "snapshot_id": target.snapshot_id}

    def write_to_branch(
        self, df: DataFrame, branch: str, mode: str = "append", retries: int = 3
    ) -> Snapshot:
        """Commit ``df`` onto a branch: data files written once, snapshot
        attached with the BRANCH head as parent (summary carries
        ``ref=<branch>`` so main's lineage never sees it), then the ref
        advances by exclusive create. Tags refuse writes."""
        head = self._ref_head(branch)
        if head["type"] != "branch":
            raise ValueError(f"ref {branch!r} is a tag — tags are immutable")
        commit_dir, added = self._write_data(df, mode)
        last_err: Exception | None = None
        for _ in range(max(1, retries)):
            snap = self._attach(
                commit_dir, added, mode, f"branch-{mode}",
                extra_summary={"ref": branch}, retries=1,
            )
            d = self._ref_dir(branch)
            seq = len(
                [n for n in self._hfs.list_names(d) if n.startswith("ref-")]
            ) + 1
            try:
                self._bump_ref(branch, snap.snapshot_id, "branch", seq=seq)
                return snap
            except ConcurrentCommitError as e:
                last_err = e  # loser: re-attach against the new head
        raise last_err

    def publish_branch(self, branch: str, retries: int = 3) -> Snapshot:
        """Publish a branch's state to MAIN — metadata only, no data
        rewrite (the WAP promote generalized to branches / Iceberg's
        fast-forward when main hasn't advanced): append a main snapshot
        adopting the branch head's manifest verbatim. When main HAS
        advanced since the fork this is last-writer-wins REPLACE
        semantics (the branch state becomes the table), same as
        publishing any overwrite — callers wanting a row-level merge
        union-read both sides and :meth:`merge` instead."""
        head = self._ref_head(branch)
        if head["type"] != "branch":
            raise ValueError(f"ref {branch!r} is a tag — publish a branch")
        last_err: Exception | None = None
        for _ in range(max(1, retries)):
            log = self._read_log()
            src = next(s for s in log if s.snapshot_id == head["snapshot_id"])
            main = [s for s in log if "ref" not in s.summary]
            parent = main[-1] if main else None
            snap = Snapshot(
                snapshot_id=(log[-1].snapshot_id + 1) if log else 1,
                parent_snapshot_id=parent.snapshot_id if parent else None,
                committed_at_ms=int(time.time() * 1000),
                operation="publish-branch",
                manifest=list(src.manifest),
                summary={
                    "added-records": src.summary["total-records"],
                    "deleted-records": (
                        parent.summary["total-records"] if parent else "0"
                    ),
                    "total-records": src.summary["total-records"],
                    "published-from": branch,
                    "published-snapshot": str(src.snapshot_id),
                },
            )
            try:
                self._append_log(snap)
                return snap
            except ConcurrentCommitError as e:
                last_err = e
        raise last_err

    def refs(self) -> DataFrame:
        """The ``$refs`` metadata relation (name, type, snapshot_id)."""
        rows = [
            (n, self._ref_head(n)["type"], self._ref_head(n)["snapshot_id"])
            for n in self._ref_names()
        ]
        return self.spark.createDataFrame(
            rows, "name string, type string, snapshot_id long"
        )

    def drop_ref(self, name: str) -> None:
        """Remove a branch/tag ref. Its snapshots stay in the log (and
        expire like any other non-head history)."""
        if name not in self._ref_names():
            raise ValueError(f"ref {name!r} does not exist")
        self._hfs.delete(self._ref_dir(name), recursive=True)

    def compact(self, num_files: int | None = None) -> Snapshot:
        """Small-file compaction: rewrite the current snapshot's data as
        one new commit (``operation='compact'``, same rows). Long append
        histories accumulate many small files — footer overhead and task
        fragmentation at scale; compaction resets the manifest to a
        single freshly-written dir while every older snapshot stays
        readable (data dirs are immutable; the log only grows)."""
        current = self._resolve(None, None)
        df = self.read()
        if num_files is not None:
            df = df.repartition(num_files)
        commit_dir = f"data/{uuid.uuid4().hex}"
        out_path = f"{self.root}/{commit_dir}"
        df.write.mode("errorifexists").parquet(out_path)
        total = self._hfs.parquet_row_count(out_path)
        snap = Snapshot(
            snapshot_id=self._read_log()[-1].snapshot_id + 1,
            parent_snapshot_id=current.snapshot_id,
            committed_at_ms=int(time.time() * 1000),
            operation="compact",
            manifest=[commit_dir],
            summary={
                "added-records": str(total),
                "deleted-records": current.summary["total-records"],
                "total-records": str(total),
                "compacted-dirs": str(len(current.manifest)),
            },
        )
        self._append_log(snap)
        return snap

    def expire_snapshots(self, keep_last: int = 1) -> dict[str, int]:
        """Storage reclamation (Iceberg ``expire_snapshots`` analog):
        drop all but the newest ``keep_last`` snapshots from the log and
        delete data dirs no surviving snapshot references. Time travel
        to expired snapshots stops working — by design; the current
        table state is untouched. Returns counts of expired snapshots
        and deleted data dirs."""
        log = self._read_log()
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        main = [s for s in log if "ref" not in s.summary]
        # protect every live ref's head (branch/tag targets stay
        # readable after an expiry — Iceberg's retained-ref semantics);
        # non-head branch history expires like old main history
        protected = {
            self._ref_head(name)["snapshot_id"] for name in self._ref_names()
        }
        keep_ids = {s.snapshot_id for s in main[-keep_last:]} | protected
        keep = [s for s in log if s.snapshot_id in keep_ids]
        expired = [s for s in log if s.snapshot_id not in keep_ids]
        if not expired:
            return {"expired_snapshots": 0, "deleted_dirs": 0}
        live_dirs = {d for s in keep for d in s.manifest}
        dead_dirs = {
            d for s in expired for d in s.manifest if d not in live_dirs
        }
        # drop the expired snapshot files FIRST, then data dirs — a crash
        # between the two leaks orphan dirs but never breaks reads (no
        # surviving snapshot references a deleted dir)
        for s in expired:
            self._hfs.delete(self._snap_path(s.snapshot_id))
        for d in dead_dirs:
            self._hfs.delete(f"{self.root}/{d}", recursive=True)
        return {
            "expired_snapshots": len(expired),
            "deleted_dirs": len(dead_dirs),
        }

    # -- reads --------------------------------------------------------------

    def _main_log(self) -> list[Snapshot]:
        """Main-lineage snapshots: branch commits carry summary['ref']
        and are excluded — a branch write must never become main's
        'latest'."""
        return [s for s in self._read_log() if "ref" not in s.summary]

    def _resolve(
        self,
        version: int | None,
        as_of_ms: int | None,
        ref: str | None = None,
    ) -> Snapshot:
        log = self._read_log()
        if not log:
            raise ValueError(f"table {self.root} has no snapshots")
        if version is not None:
            for s in log:
                if s.snapshot_id == version:
                    return s
            raise ValueError(f"snapshot {version} not found")
        if ref is not None:
            head_id = self._ref_head(ref)["snapshot_id"]
            return next(s for s in log if s.snapshot_id == head_id)
        main = [s for s in log if "ref" not in s.summary]
        if not main:
            raise ValueError(f"table {self.root} has no main-lineage snapshots")
        if as_of_ms is not None:
            eligible = [s for s in main if s.committed_at_ms <= as_of_ms]
            if not eligible:
                raise ValueError(f"no snapshot at or before {as_of_ms}")
            return eligible[-1]
        return main[-1]

    def read(
        self,
        version: int | None = None,
        as_of_ms: int | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        """Read the table — latest, ``FOR VERSION AS OF`` (version=),
        ``FOR TIMESTAMP AS OF`` (as_of_ms=), or a branch/tag head
        (ref= — Iceberg's ``VERSION AS OF 'branch'`` surface).

        ``mergeSchema`` is on: commits may add columns over time
        (schema evolution — the Iceberg capability the reference had but
        never used, SURVEY §1.3); older files surface NULL for columns
        they predate."""
        snap = self._resolve(version, as_of_ms, ref=ref)
        if not snap.manifest:
            raise ValueError("empty snapshot")
        paths = [f"{self.root}/{d}" for d in snap.manifest]
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    def read_incremental(self, from_id: int, to_id: int) -> DataFrame:
        """Rows ADDED between two snapshots (exclusive, inclusive] — the
        append-only incremental-consumption primitive (CDC-lite: a
        downstream job reads only the new data dirs instead of diffing
        full table states). Valid only when every snapshot on the walk
        from ``from_id`` to ``to_id`` is an append on the same lineage —
        an intervening overwrite/compact/rollback rewrites membership,
        so the manifest difference would NOT equal the added rows; that
        case raises and the caller falls back to a full diff."""
        log = self._read_log()
        by_id = {s.snapshot_id: s for s in log}
        if from_id not in by_id or to_id not in by_id:
            raise ValueError(f"unknown snapshot in ({from_id}, {to_id}]")
        # walk parents from to_id back to from_id, asserting append-only
        cur = by_id[to_id]
        new_dirs: list[str] = []
        while cur.snapshot_id != from_id:
            if cur.operation not in ("append", "branch-append"):
                raise ValueError(
                    f"snapshot {cur.snapshot_id} is {cur.operation!r} — "
                    "incremental read requires an append-only walk; read "
                    "both versions and diff instead"
                )
            parent_manifest = (
                set(by_id[cur.parent_snapshot_id].manifest)
                if cur.parent_snapshot_id is not None
                else set()
            )
            new_dirs.extend(d for d in cur.manifest if d not in parent_manifest)
            if cur.parent_snapshot_id is None:
                raise ValueError(
                    f"snapshot {from_id} is not an ancestor of {to_id}"
                )
            cur = by_id[cur.parent_snapshot_id]
        if not new_dirs:
            return self.read(version=to_id).limit(0)
        paths = [f"{self.root}/{d}" for d in new_dirs]
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    def remove_orphaned_files(self, older_than_ms: int | None = None) -> dict:
        """Storage hygiene (Iceberg ``remove_orphan_files``): delete
        ``data/`` dirs no snapshot references and no WAP stage owns —
        the debris of crashed writes and lost commit races (a loser's
        data dir is written before its metadata attach). ``older_than_ms``
        (epoch millis) protects dirs newer than the cutoff: an IN-FLIGHT
        writer has written files whose commit hasn't landed yet —
        deleting those corrupts its commit. Default: only dirs older
        than 1 hour. Returns counts."""
        import time as _time

        cutoff = (
            older_than_ms
            if older_than_ms is not None
            else int(_time.time() * 1000) - 3_600_000
        )
        live = {d for s in self._read_log() for d in s.manifest}
        deleted = 0
        kept_young = 0
        data_root = f"{self.root}/data"
        for name in self._hfs.list_names(data_root):
            rel = f"data/{name}"
            if rel in live:
                continue
            st = self._hfs.path(f"{data_root}/{name}")
            mtime = self._hfs.fs.getFileStatus(st).getModificationTime()
            if mtime >= cutoff:
                kept_young += 1
                continue
            self._hfs.delete(f"{data_root}/{name}", recursive=True)
            deleted += 1
        return {"deleted_dirs": deleted, "kept_young_dirs": kept_young}

    def snapshots(self) -> DataFrame:
        """The ``$snapshots`` metadata relation (snapshot_id, parent,
        committed_at, operation, summary MAP) —
        iceberg_time_travel.py:48-58."""
        rows = [
            (
                s.snapshot_id,
                s.parent_snapshot_id,
                s.committed_at_ms,
                s.operation,
                s.summary,
            )
            for s in self._read_log()
        ]
        df = self.spark.createDataFrame(
            rows,
            "snapshot_id long, parent_snapshot_id long, committed_at_ms long, "
            "operation string, summary map<string,string>",
        )
        return df.select(
            "snapshot_id",
            "parent_snapshot_id",
            F.timestamp_millis(F.col("committed_at_ms")).alias("committed_at"),
            "operation",
            "summary",
        )

    def current_snapshot_id(self) -> int:
        return self._resolve(None, None).snapshot_id

    def diff(self, from_id: int, to_id: int) -> dict[str, int]:
        """Metadata-only snapshot diff (count delta,
        iceberg_time_travel.py:184-197 — no table scan)."""
        a = self._resolve(from_id, None)
        b = self._resolve(to_id, None)
        ca = int(a.summary["total-records"])
        cb = int(b.summary["total-records"])
        return {"from_count": ca, "to_count": cb, "delta": cb - ca}
