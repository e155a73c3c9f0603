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
  audit trail that proves a resumed run produced exactly the same table,
* ``_lineage/`` and every ``_metrics/`` table come from ONE grouping-sets
  aggregate over a column-pruned re-read of the chunk's buckets (lineage
  is its ``(bucket)`` set, each metrics table one more set, declared as a
  :class:`SideTable`); the result is bounded by buckets × (keys + bins),
  not by docs, so it is collected once and each table is written from the
  driver as one parquet file (hidden temp name, then ``os.replace``), and
  only then is the chunk committed,
* ``_runs/<snapshot>.json`` is the run's summary (docs, kept and wall per
  chunk), built from the collected lineage rows: no extra Spark job.

At 100 TB the same structure holds: n_buckets scales to ~10⁵, a chunk is
one scheduling wave, and the manifest lives in the catalog instead of JSON
files; nothing in the plan shape changes.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable
from functools import reduce
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType

COMMIT_RETRIES = 5  # snapshot-id races a commit may lose before it gives up
LINEAGE_SCHEMA = (
    "bucket int, n_docs long, n_kept long, checksum long, snapshot int"
)


@dataclass(frozen=True)
class SideTable:
    """One per-bucket side table: one grouping set of the sink's chunk
    aggregate.

    ``keys`` are the grouping columns in output order, each an expression
    over the written slice; one of them must be ``bucket`` (the commit
    unit), and a key name means the same expression in every table.
    ``values`` name the measures that follow the keys: ``n`` (or
    ``n_docs``) = rows, ``n_kept`` = ``sum(keep)``, ``checksum`` =
    ``bit_xor(xxhash64(url))``.  ``derived`` columns are computed from the
    keys after the aggregate and come last; ``skip_null`` names a key whose
    NULL group is not a row (a histogram counts scored docs only)."""

    keys: dict[str, Column]
    values: tuple[str, ...] = ("n",)
    derived: dict[str, Column] = field(default_factory=dict)
    skip_null: str | None = None


def _measures() -> dict[str, Column]:
    n = F.count("*")
    return {
        "n": n,
        "n_docs": n,
        "n_kept": F.sum(F.col("keep").cast("long")),
        "checksum": F.expr("bit_xor(xxhash64(url))"),
    }


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
        if n_buckets < 1 or chunk_buckets < 1:
            raise ValueError(
                f"n_buckets ({n_buckets}) and chunk_buckets ({chunk_buckets}) must be >= 1"
            )
        self.root = Path(root)
        self.n_buckets = n_buckets
        self.chunk_buckets = chunk_buckets
        self.data_dir = self.root / "data"
        self.manifest_dir = self.root / "_manifest"
        self.lineage_dir = self.root / "_lineage"
        self.metrics_dir = self.root / "_metrics"
        self.runs_dir = self.root / "_runs"
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

    def _manifest(self, snap: int) -> dict:
        """Snapshot ``snap``'s content ({} before the first commit)."""
        if snap < 0:
            return {}
        return json.loads((self.manifest_dir / f"snapshot-{snap}.json").read_text())

    def committed_buckets(self) -> set[int]:
        return set(self._manifest(self._current_snapshot()).get("buckets", []))

    def _check_bucketing(self, manifest: dict) -> None:
        """A table's bucketing is fixed by its first commit: resuming it with
        another ``n_buckets`` would commit a mix of two bucketings.
        Snapshots written before ``n_buckets`` was recorded are accepted."""
        recorded = manifest.get("n_buckets", self.n_buckets)
        if recorded != self.n_buckets:
            raise ValueError(
                f"{self.root} is bucketed with n_buckets={recorded}; "
                f"this sink has n_buckets={self.n_buckets}"
            )

    def _commit(self, new_buckets: list[int]) -> int:
        """Optimistic-concurrency commit (the Iceberg protocol shape):
        build the new snapshot against the CURRENT base, then claim the
        next snapshot id with an atomic exclusive create (``os.link`` of a
        fully-written temp file — readers can never observe a partial
        snapshot).  Losing the id race refreshes the base and retries (up
        to ``COMMIT_RETRIES`` times);
        discovering the refreshed base already covers one of our buckets
        raises :class:`CommitConflictError` instead of silently merging —
        a racing writer overwrote the same data partition, so our files
        may be superseded and only a resume may re-commit them."""
        for _ in range(COMMIT_RETRIES):
            snap = self._current_snapshot()
            manifest = self._manifest(snap)
            self._check_bucketing(manifest)
            base = set(manifest.get("buckets", []))
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
                    "n_buckets": self.n_buckets,
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
            f"lost the snapshot-id race {COMMIT_RETRIES} times; giving up"
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
        metrics_fn: Callable[[DataFrame], dict[str, SideTable]] | None = None,
    ) -> dict:
        """Process all uncommitted buckets, chunk_buckets at a time.

        ``transform`` maps a pages slice → result slice (must keep ``url``
        and a boolean ``keep``).  ``fail_after_chunks`` injects a crash for
        the resume test.  A table committed with another ``n_buckets``
        raises ``ValueError`` before anything is written.

        Each chunk is ``transform``-ed, rebalanced on ``bucket`` (one shuffle
        of about the chunk's output bytes) and written with dynamic
        partition overwrite: one parquet file per bucket per chunk, more
        only where AQE splits a skewed bucket.

        ``metrics_fn`` maps the chunk's *written* slice (re-read from the
        data dir) to named :class:`SideTable` declarations (the filter job
        passes ``plans.pipeline.filter_metrics``); each MUST be keyed by
        ``bucket``, checked for every table before any side table is
        computed.  Lineage and every metrics table are grouping sets of one
        aggregate over a column-pruned scan of the written buckets, collected
        once and written from the driver under ``_lineage/`` and
        ``_metrics/<name>/``, stamped with the snapshot id, before the
        commit — exactly the lineage protocol, so a crashed chunk's orphan
        rows are superseded on resume and :meth:`metrics` reads each
        bucket's latest rows only.  A chunk's jobs carry the job tag
        ``dqm-sink-snap<K>-chunk<k>`` (snapshot K, the run's k-th chunk)
        besides the caller's job group, description and tags.

        Returns the run summary: ``docs``, ``kept`` and, per chunk,
        ``{buckets, docs, kept, wall_sec}``, all from the lineage rows.  A
        run that commits a chunk also writes it to ``_runs/<snapshot>.json``
        (``<snapshot>`` = the last committed one), also when it fails later.
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
        metrics_fn: Callable[[DataFrame], dict[str, SideTable]] | None = None,
    ) -> dict:
        spark = pages.sparkSession
        sc = spark.sparkContext
        self._check_bucketing(self._manifest(self._current_snapshot()))
        bucketed = pages.withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(self.n_buckets)).cast("int")
        )
        done = self.committed_buckets()
        todo = [b for b in range(self.n_buckets) if b not in done]
        chunks = [
            todo[i : i + self.chunk_buckets] for i in range(0, len(todo), self.chunk_buckets)
        ]
        t0 = time.time()
        report = []
        try:
            for k, chunk in enumerate(chunks):
                t_chunk = time.time()
                snap = self._current_snapshot() + 1
                tag = f"dqm-sink-snap{snap}-chunk{k}"
                sc.addJobTag(tag)
                try:
                    lineage = self._write_chunk(
                        bucketed.filter(F.col("bucket").isin(chunk)), chunk, snap,
                        transform, metrics_fn,
                    )
                finally:
                    sc.removeJobTag(tag)
                self._commit(chunk)
                report.append({
                    "buckets": chunk,
                    "docs": sum(lineage["n_docs"].to_pylist()),
                    "kept": sum(n or 0 for n in lineage["n_kept"].to_pylist()),
                    "wall_sec": round(time.time() - t_chunk, 3),
                })
                if fail_after_chunks is not None and len(report) >= fail_after_chunks:
                    raise RuntimeError(f"injected failure after {len(report)} chunks")
        finally:
            summary = {
                "snapshot": self._current_snapshot(),
                "chunks_run": len(report),
                "buckets_skipped_committed": self.n_buckets - len(todo),
                "docs": sum(c["docs"] for c in report),
                "kept": sum(c["kept"] for c in report),
                "chunks": report,
                "wall_sec": round(time.time() - t0, 3),
            }
            # also after a failed chunk; a run that committed nothing must
            # not replace the report of the run that made its snapshot
            if report:
                self.runs_dir.mkdir(exist_ok=True)
                tmp = self.runs_dir / f".{summary['snapshot']}.json.tmp"
                tmp.write_text(json.dumps(summary))
                os.replace(tmp, self.runs_dir / f"{summary['snapshot']}.json")
        return summary

    def _write_chunk(
        self,
        slice_df: DataFrame,
        chunk: list[int],
        snap: int,
        transform: Callable[[DataFrame], DataFrame],
        metrics_fn: Callable[[DataFrame], dict[str, SideTable]] | None,
    ) -> pa.Table:
        """Write one chunk's data and side tables (not yet committed);
        returns its lineage rows."""
        # one write task per bucket (AQE splits a skewed one): one file per
        # bucket, not one per (input task, bucket).  Idempotent write:
        # dynamic overwrite touches only this chunk's buckets — set
        # per-write, NOT session-wide, so unrelated overwrite+partitionBy
        # writes elsewhere keep static semantics
        out = transform(slice_df)
        (
            out.hint("rebalance", "bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(str(self.data_dir))
        )
        written = self._read_buckets(slice_df.sparkSession, chunk, out.schema)
        metrics = metrics_fn(written) if metrics_fn is not None else {}
        tables = _aggregate(written, snap, {
            self.lineage_dir: SideTable(
                {"bucket": F.col("bucket")}, ("n_docs", "n_kept", "checksum")
            ),
            **{self.metrics_dir / name: t for name, t in metrics.items()},
        })
        for path, table in tables.items():
            _write_side_table(table, path, snap)
        return tables[self.lineage_dir]

    def _read_buckets(
        self, spark: SparkSession, buckets: list[int], schema: StructType
    ) -> DataFrame:
        """The data table's rows in ``buckets``, read from their own
        directories with the schema they were written with: no listing of
        the table's other directories and no footer-reading job.  Spark
        lists more than ``parallelPartitionDiscovery.threshold`` paths with
        a Spark job, so the directories are read in groups of at most that
        many."""
        step = int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
        dirs = [str(d) for b in buckets if (d := self.data_dir / f"bucket={b}").exists()]
        reader = spark.read.schema(schema).option("basePath", str(self.data_dir))
        parts = [reader.parquet(*dirs[i : i + step]) for i in range(0, len(dirs), step)]
        return reduce(DataFrame.unionByName, parts) if parts else spark.createDataFrame([], schema)

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


def _aggregate(
    written: DataFrame, snapshot: int, tables: dict[Path, SideTable]
) -> dict[Path, pa.Table]:
    """Every side table of one chunk from ONE grouping-sets aggregate: one
    scan of the key and measure columns (no text column), one shuffle and
    one collect, whose size is bounded by buckets × (1 + the keys' distinct
    values), not by docs.  The driver splits the result by
    ``grouping_id()`` into one arrow table per path, with the column order
    and Spark types of the table's declaration plus ``snapshot``."""
    cols: dict[str, Column] = {}
    for path, t in tables.items():
        if "bucket" not in t.keys:
            raise ValueError(f"metrics table {path.name!r} must be keyed by 'bucket'")
        for name, c in t.keys.items():
            if str(cols.setdefault(name, c)) != str(c):
                raise ValueError(f"key {name!r} is declared with two expressions")
    names = list(cols)
    # grouping_id(): bit i (from the left) set when names[i] is not grouped
    gid = {
        path: sum(1 << (len(names) - 1 - i) for i, n in enumerate(names) if n not in t.keys)
        for path, t in tables.items()
    }
    sets = {frozenset(t.keys): list(t.keys) for t in tables.values()}
    measures = _measures()
    values = list(dict.fromkeys(v for t in tables.values() for v in t.values))
    derived = {(path, n): c for path, t in tables.items() for n, c in t.derived.items()}
    alias = {key: f"_d{i}" for i, key in enumerate(derived)}
    agg = (
        written.select(*[c.alias(n) for n, c in cols.items()], "url", "keep")
        .groupingSets(list(sets.values()), *names)
        .agg(F.grouping_id().alias("_gid"), *[measures[v].alias(v) for v in values])
    )
    agg = agg.select("*", *[c.alias(alias[key]) for key, c in derived.items()])
    types = {f.name: to_arrow_type(f.dataType) for f in agg.schema}
    rows = [r.asDict() for r in agg.collect()]
    out = {}
    for path, t in tables.items():
        mine = [
            r for r in rows
            if r["_gid"] == gid[path] and (t.skip_null is None or r[t.skip_null] is not None)
        ]
        src = [*t.keys, *t.values, *(alias[(path, n)] for n in t.derived)]
        arrays = [pa.array([r[c] for r in mine], types[c]) for c in src]
        arrays.append(pa.array([snapshot] * len(mine), pa.int32()))
        out[path] = pa.Table.from_arrays(
            arrays, names=[*t.keys, *t.values, *t.derived, "snapshot"]
        )
    return out


def _write_side_table(table: pa.Table, path: Path, snapshot: int) -> None:
    """One parquet file per table per chunk, born complete: written under a
    hidden temp name (Spark lists no ``.`` or ``_`` file) and renamed into
    place."""
    path.mkdir(parents=True, exist_ok=True)
    name = f"part-{snapshot:05d}-{uuid.uuid4().hex}.parquet"
    tmp = path / f".{name}.tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path / name)
