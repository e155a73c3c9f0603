"""Iceberg-style partition-commit sink: snapshots, lineage, resume.

The north rule requires the pipeline to checkpoint per partition with a
lineage table and resume from the last committed snapshot.  With a real
Iceberg catalog this is `writeTo(...).append()` + snapshot metadata; the
runtime here has no Iceberg JAR, so this module emulates the same contract
on plain parquet behind one interface (SURVEY.md §7.3):

* data laid out as ``<root>/data/bucket=N/`` where ``bucket =
  pmod(xxhash64(url), n_buckets)`` — url-hash bucketing spreads hot hosts
  (the salted key), and bucket is the unit of commit,
* each chunk of buckets is written with **dynamic partition overwrite** so a
  crashed, partially-written chunk is safely rewritten on resume
  (idempotent replay — the manifest is only advanced after a successful
  write); the chunk is first rebalanced on ``bucket`` so each bucket is
  written by one task (one file per bucket per chunk, AQE splits a skewed
  one) instead of one file per (input task, bucket) — the price is one
  shuffle of about the chunk's output bytes,
* ``_manifest/snapshot-K.json`` records committed buckets; a snapshot file
  is born complete via atomic exclusive create (``os.link`` of a
  fully-written temp), so its existence IS the commit; ``_manifest/
  current`` is a best-effort hint pointer,
* concurrent writers serialize: a run-level O_EXCL lock fails the second
  ``run()`` cleanly before it mutates anything (stale locks from dead pids
  are stolen), and the commit itself is optimistic-concurrency with retry —
  disjoint racers merge, overlapping racers raise ``CommitConflictError``
  (the Iceberg protocol shape; tests/test_manifest_concurrency.py),
* ``_lineage/`` holds one row per committed bucket: counts, kept, and an
  order-independent content checksum (``bit_xor(xxhash64(url))``) — the
  audit trail that proves a resumed run produced exactly the same table;
  it and the ``_metrics/`` tables are appended concurrently (one thread
  per table, all in the caller's job group) from one cached re-read of the
  chunk, and only then is the chunk committed.

At 100 TB the same structure holds: n_buckets scales to ~10⁵, a chunk is
one scheduling wave, and the manifest lives in the catalog instead of JSON
files; nothing in the plan shape changes.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "bucket int, n_docs long, n_kept long, checksum long, snapshot int"
)


class ConcurrentWriteError(RuntimeError):
    """Another live writer holds this table's run lock.  Raised BEFORE any
    data or manifest mutation, so the losing run leaves no trace — the
    emulation's analogue of an Iceberg commit failing validation up front."""


class CommitConflictError(RuntimeError):
    """Optimistic-concurrency failure at commit time (the Iceberg retry
    model): a racing writer committed first and its snapshot covers buckets
    this run also wrote.  The loser must abandon and resume — its buckets
    are already committed by the winner, and resume skips committed buckets
    (the idempotent-replay rule), so no partial commit is ever visible."""


class PartitionedSink:
    def __init__(self, root: str, n_buckets: int = 32, chunk_buckets: int = 8):
        self.root = Path(root)
        self.n_buckets = n_buckets
        self.chunk_buckets = chunk_buckets
        self.data_dir = self.root / "data"
        self.manifest_dir = self.root / "_manifest"
        self.lineage_dir = self.root / "_lineage"
        self.metrics_dir = self.root / "_metrics"
        for d in (self.data_dir, self.manifest_dir, self.lineage_dir):
            d.mkdir(parents=True, exist_ok=True)

    # ---------------- manifest bookkeeping (driver-side, tiny)

    def _current_snapshot(self) -> int:
        """Latest committed snapshot id — the MAX over snapshot files, not
        the ``current`` pointer: under concurrent writers the pointer is a
        lagging hint (it may briefly regress between two racers' renames),
        while a snapshot file's existence IS the commit (exclusive-create,
        see :meth:`_commit`)."""
        snaps = [
            int(p.stem.split("-", 1)[1])
            for p in self.manifest_dir.glob("snapshot-*.json")
        ]
        return max(snaps, default=-1)

    def committed_buckets(self) -> set[int]:
        snap = self._current_snapshot()
        if snap < 0:
            return set()
        manifest = json.loads((self.manifest_dir / f"snapshot-{snap}.json").read_text())
        return set(manifest["buckets"])

    def _commit(self, new_buckets: list[int], max_retries: int = 5) -> int:
        """Optimistic-concurrency commit (the Iceberg protocol shape):
        build the new snapshot against the CURRENT base, then claim the
        next snapshot id with an atomic exclusive create (``os.link`` of a
        fully-written temp file — readers can never observe a partial
        snapshot).  Losing the id race refreshes the base and retries;
        discovering the refreshed base already covers one of our buckets
        raises :class:`CommitConflictError` instead of silently merging —
        a racing writer overwrote the same data partition, so our files
        may be superseded and only a resume may re-commit them."""
        for _ in range(max_retries):
            snap = self._current_snapshot()
            base = self.committed_buckets()
            clash = base & set(new_buckets)
            if clash:
                raise CommitConflictError(
                    f"buckets {sorted(clash)} were committed by a concurrent "
                    "writer; abandon this run and resume"
                )
            nxt = snap + 1
            tmp = self.manifest_dir / f".snapshot-{nxt}.{os.getpid()}.tmp"
            tmp.write_text(
                json.dumps({
                    "snapshot": nxt,
                    "buckets": sorted(base | set(new_buckets)),
                    "committed_at_chunk": new_buckets,
                })
            )
            try:
                os.link(tmp, self.manifest_dir / f"snapshot-{nxt}.json")
            except FileExistsError:
                tmp.unlink()
                continue  # lost the id race — refresh the base and retry
            tmp.unlink()
            # best-effort hint pointer (truth is the max snapshot file)
            ptr = self.manifest_dir / "current.tmp"
            ptr.write_text(str(nxt))
            os.replace(ptr, self.manifest_dir / "current")
            return nxt
        raise CommitConflictError(
            f"lost the snapshot-id race {max_retries} times; giving up"
        )

    # ---------------- writer lock (advisory, serializes whole runs)

    def _lock_path(self) -> Path:
        return self.manifest_dir / "run.lock"

    def _acquire_lock(self) -> None:
        """O_EXCL writer lock so two :meth:`run`s on one table serialize or
        fail CLEANLY before touching data.  A lock whose pid is dead is
        stale (a SIGKILLed run — ``finally`` never fired) and is stolen;
        :class:`ConcurrentWriteError` names the live holder otherwise."""
        path = self._lock_path()
        payload = f"{os.getpid()} {time.time()}"
        for _ in range(2):
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, payload.encode())
                os.close(fd)
                return
            except FileExistsError:
                try:
                    holder = int(path.read_text().split()[0])
                except (OSError, ValueError, IndexError):
                    holder = None
                alive = holder is not None and Path(f"/proc/{holder}").exists()
                if alive:
                    # our own pid is deliberately a conflict too: a second
                    # concurrent run() in one driver process must fail
                    # cleanly, not steal the first run's lock
                    raise ConcurrentWriteError(
                        f"another writer (pid {holder}) holds {path}; "
                        "concurrent runs on one table are serialized"
                    ) from None
                # STEAL via atomic rename to a per-stealer name (ADVICE r5):
                # the old unlink(missing_ok=True) let two racers both
                # observe the dead pid, racer A unlink+create, then racer B
                # unlink A's FRESH lock — two live writers.  rename succeeds
                # for exactly ONE racer; the loser gets FileNotFoundError
                # and loops, where it now sees the winner's live lock and
                # raises cleanly.  Re-read immediately before the rename so
                # a lock that already changed hands to a live holder is
                # never renamed away.
                try:
                    holder2 = int(path.read_text().split()[0])
                except FileNotFoundError:
                    continue  # another racer already stole it — retry
                except (OSError, ValueError, IndexError):
                    holder2 = holder
                if holder2 != holder:
                    continue  # changed hands since we inspected it — retry
                stale = path.with_name(f"{path.name}.stale.{os.getpid()}")
                try:
                    os.rename(path, stale)
                except FileNotFoundError:
                    continue  # lost the steal race — retry against winner
                stale.unlink(missing_ok=True)
        raise ConcurrentWriteError(f"could not acquire {path}")

    def _release_lock(self) -> None:
        # owner-verified release (ADVICE r5): an unconditional unlink could
        # delete a lock another process legitimately acquired after ours
        # was stolen or released on a crashed earlier attempt
        path = self._lock_path()
        try:
            holder = int(path.read_text().split()[0])
        except (OSError, ValueError, IndexError):
            return
        if holder == os.getpid():
            path.unlink(missing_ok=True)

    # ---------------- resumable run

    def run(
        self,
        pages: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        fail_after_chunks: int | None = None,
        metrics_fn: Callable[[DataFrame], dict[str, DataFrame]] | None = None,
    ) -> dict:
        """Process all uncommitted buckets, chunk_buckets at a time.

        ``transform`` maps a pages slice → result slice (must keep ``url``
        and a boolean ``keep``).  ``fail_after_chunks`` injects a crash for
        the resume test.  Returns a small run summary.

        Each chunk is ``transform``-ed, rebalanced on ``bucket`` (one shuffle
        of about the chunk's output bytes) and written with dynamic
        partition overwrite: one parquet file per bucket per chunk, more
        only where AQE splits a skewed bucket.

        ``metrics_fn`` maps the chunk's *written* slice (re-read from the
        data dir, so it costs one pruned scan, not a pipeline re-run) to
        named filter-metrics tables (the filter job passes
        ``plans.pipeline.filter_metrics``); each MUST carry the ``bucket``
        column, checked for every table before anything is appended.  They are
        appended under ``_metrics/<name>/`` stamped with the snapshot id
        before the commit — exactly the lineage protocol, so a crashed
        chunk's orphan metrics rows are superseded on resume and
        :meth:`metrics` reads each bucket's latest rows only.  The lineage
        and metrics appends run concurrently over the cached slice, each in
        the caller's job group and tags; the chunk commits only after all
        of them succeed.
        """
        self._acquire_lock()
        try:
            return self._run_locked(pages, transform, fail_after_chunks, metrics_fn)
        finally:
            self._release_lock()

    def _run_locked(
        self,
        pages: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        fail_after_chunks: int | None = None,
        metrics_fn: Callable[[DataFrame], dict[str, DataFrame]] | None = None,
    ) -> dict:
        spark = pages.sparkSession
        bucketed = pages.withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(self.n_buckets)).cast("int")
        )
        done = self.committed_buckets()
        todo = [b for b in range(self.n_buckets) if b not in done]
        chunks = [
            todo[i : i + self.chunk_buckets] for i in range(0, len(todo), self.chunk_buckets)
        ]
        t0 = time.time()
        n_chunks_done = 0
        for chunk in chunks:
            slice_df = bucketed.filter(F.col("bucket").isin(chunk))
            # one write task per bucket (AQE splits a skewed one): one file
            # per bucket, not one per (input task, bucket).  Idempotent
            # write: dynamic overwrite touches only this chunk's buckets —
            # set per-write, NOT session-wide, so unrelated
            # overwrite+partitionBy writes elsewhere keep static semantics
            (
                transform(slice_df).hint("rebalance", "bucket")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(str(self.data_dir))
            )
            # ONE scan of the chunk's written buckets feeds lineage and
            # every metrics table (persist → N tiny aggregation jobs, run side
            # by side over the cached slice, not N+1 rescans per chunk)
            written = (
                spark.read.parquet(str(self.data_dir))
                .filter(F.col("bucket").isin(chunk))
                .persist()
            )
            snap_col = F.lit(self._current_snapshot() + 1)
            lineage = (
                written.groupBy("bucket")
                .agg(
                    F.count("*").alias("n_docs"),
                    F.sum(F.col("keep").cast("long")).alias("n_kept"),
                    F.expr("bit_xor(xxhash64(url))").alias("checksum"),
                )
                .withColumn("snapshot", snap_col)
            )
            try:
                tables = metrics_fn(written) if metrics_fn is not None else {}
                # every table is checked before the first append: a bad one
                # must not leave orphan rows behind
                for name, mdf in tables.items():
                    if "bucket" not in mdf.columns:
                        raise ValueError(
                            f"metrics table {name!r} must be keyed by 'bucket'"
                        )
                self._append_all(spark, [(lineage, self.lineage_dir)] + [
                    (mdf.withColumn("snapshot", snap_col), self.metrics_dir / name)
                    for name, mdf in tables.items()
                ])
            finally:
                written.unpersist()
            self._commit(chunk)
            n_chunks_done += 1
            if fail_after_chunks is not None and n_chunks_done >= fail_after_chunks:
                raise RuntimeError(f"injected failure after {n_chunks_done} chunks")
        return {
            "snapshot": self._current_snapshot(),
            "chunks_run": n_chunks_done,
            "chunks_skipped_committed": (self.n_buckets - len(todo)) // self.chunk_buckets,
            "wall_sec": round(time.time() - t0, 3),
        }

    @staticmethod
    def _append_all(spark: SparkSession, appends: list[tuple[DataFrame, Path]]) -> None:
        """Append each frame to its path, all at once: the jobs are small
        aggregates, so running them side by side fills the cores one alone
        leaves idle.  Each target is wrapped separately so its thread gets
        its own copy of the caller's job group, description and tags."""

        def append(df: DataFrame, path: Path) -> None:
            df.write.mode("append").parquet(str(path))

        with ThreadPoolExecutor(max_workers=len(appends)) as pool:
            futures = [
                pool.submit(inheritable_thread_target(spark)(append), df, path)
                for df, path in appends
            ]
            for f in futures:
                f.result()

    # ---------------- readers

    def result(self, spark: SparkSession) -> DataFrame:
        committed = sorted(self.committed_buckets())
        return spark.read.parquet(str(self.data_dir)).filter(F.col("bucket").isin(committed))

    def metrics(self, spark: SparkSession, name: str) -> DataFrame:
        """A committed filter-metrics table: per bucket, only the rows from
        that bucket's LATEST snapshot (orphans from a crashed chunk are
        superseded), restricted to committed buckets.  Run-level totals are
        a trivial re-aggregation on top."""
        return self._latest_committed(spark, self.metrics_dir / name)

    def lineage(self, spark: SparkSession) -> DataFrame:
        """One lineage row per committed bucket, from its latest snapshot."""
        return self._latest_committed(spark, self.lineage_dir)

    def _latest_committed(self, spark: SparkSession, path: Path) -> DataFrame:
        """Rows of a snapshot-stamped side table for committed buckets, each
        bucket's latest snapshot only.  A crash between the append and the
        manifest commit leaves orphan rows: for an uncommitted bucket they
        are filtered out here; a resumed chunk re-writes them at the SAME
        snapshot id, byte-identical (everything is deterministic and each
        table's key is unique within a snapshot), so an exact-duplicate
        drop restores exactly-once."""
        committed = sorted(self.committed_buckets())
        df = spark.read.parquet(str(path)).filter(F.col("bucket").isin(committed))
        w = Window.partitionBy("bucket")
        return (
            df.withColumn("_mx", F.max("snapshot").over(w))
            .filter(F.col("snapshot") == F.col("_mx"))
            .drop("_mx")
            .dropDuplicates()
        )
