"""Snapshot-isolated versioned parquet tables (S8 transactional upsert).

The reference's daily loop is a transactional delete+insert against DuckDB
(src/pipeline/ingest_latest_synthetic_data.py:536-575): concurrent readers
never observe a half-applied batch. ``upsert_parquet`` cannot promise that —
it rewrites the target directory in place, so a reader holding a DataFrame
across the swap scans vanished files. ``SnapshotTable`` closes the gap with
the (public) Iceberg/Delta recipe re-built on plain parquet:

- **Immutable data versions**: every write lands in a fresh
  ``<path>/v-<n>-<token>`` directory; files are never mutated or deleted by
  writers, so any DataFrame pinned to a version stays valid (snapshot
  isolation for readers, no coordination needed).
- **Atomic commit log**: ``<path>/_commits/<n>.json`` names the data dir of
  version ``n``. A commit is ``os.open(..., O_CREAT | O_EXCL)`` — the POSIX
  atomic-claim primitive — so exactly one writer wins each version number.
- **Optimistic concurrency**: a losing ``merge`` re-reads the new current
  version, re-merges its batch, and retries against the next number —
  Iceberg's conflict model, sized for the reference's one-writer-per-table
  daily cadence (conflicts are rare; retries are cheap re-plans).
- **vacuum** drops data dirs older than the retention horizon — the only
  deletion, and explicitly not snapshot-safe for readers pinned beyond it.

At 100 TB nothing here is driver-heavy: the commit log is O(1) tiny JSON
files; data moves only through executor-side parquet write of the merged
DataFrame (one shuffle via the anti-join in ``upsert_delete_insert``).

Local paths only: the commit relies on POSIX ``link(2)``, which Hadoop FS
lacks, so this module uses ``os`` calls, not the helpers in ``writers``.
"""

from __future__ import annotations

import json
import os
import secrets
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .upsert import upsert_delete_insert


class CommitConflict(Exception):
    """Another writer claimed the target version number first."""


@dataclass(frozen=True)
class Snapshot:
    version: int
    data_dir: str


class SnapshotTable:
    """A versioned parquet table with atomic commits and snapshot reads."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self._commits_dir = os.path.join(self.path, "_commits")

    # -- commit log ---------------------------------------------------------

    def snapshots(self) -> list[Snapshot]:
        if not os.path.isdir(self._commits_dir):
            return []
        out = []
        for name in sorted(os.listdir(self._commits_dir)):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(self._commits_dir, name)) as f:
                meta = json.load(f)
            out.append(Snapshot(meta["version"], os.path.join(self.path, meta["data_dir"])))
        return out

    def current(self) -> Snapshot | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def _commit(self, version: int, data_dir_name: str) -> None:
        """Claim ``version`` atomically WITH complete content: the JSON body
        is written (and fsynced) to a private temp file first, then
        ``os.link`` publishes it under the commit name — link(2) is the POSIX
        atomic create-or-EEXIST primitive, and unlike O_CREAT|O_EXCL + write
        it can never expose a half-written commit file to a concurrent
        ``snapshots()`` reader."""
        os.makedirs(self._commits_dir, exist_ok=True)
        commit_path = os.path.join(self._commits_dir, f"{version:010d}.json")
        tmp_path = os.path.join(
            self._commits_dir, f".tmp-{version:010d}-{secrets.token_hex(4)}"
        )
        fd = os.open(tmp_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            with os.fdopen(fd, "w") as f:
                json.dump({"version": version, "data_dir": data_dir_name}, f)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp_path, commit_path)
            except FileExistsError as e:
                raise CommitConflict(f"version {version} already committed") from e
        finally:
            os.unlink(tmp_path)

    # -- reads --------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """DataFrame pinned to one immutable snapshot: safe to hold across
        any number of concurrent commits."""
        if version is None:
            snap = self.current()
            if snap is None:
                raise FileNotFoundError(f"no committed version under {self.path}")
        else:
            by_v = {s.version: s for s in self.snapshots()}
            snap = by_v[version]
        return self.spark.read.parquet(snap.data_dir)

    # -- writes -------------------------------------------------------------

    def _write_version(self, df: DataFrame, version: int) -> str:
        name = f"v-{version:010d}-{secrets.token_hex(4)}"
        df.write.mode("overwrite").parquet(os.path.join(self.path, name))
        return name

    _MAX_COMMIT_ATTEMPTS = 10

    def overwrite(self, df: DataFrame) -> Snapshot:
        """Full-replace commit (initial load / table materialization)."""
        for _ in range(self._MAX_COMMIT_ATTEMPTS):
            cur = self.current()
            version = (cur.version if cur else 0) + 1
            name = self._write_version(df, version)
            try:
                self._commit(version, name)
                return Snapshot(version, os.path.join(self.path, name))
            except CommitConflict:
                continue
        raise CommitConflict(f"gave up after {self._MAX_COMMIT_ATTEMPTS} attempts")

    def merge(self, batch: DataFrame, keys: list[str]) -> Snapshot:
        """Transactional delete+insert upsert (MERGE): the new version is the
        current snapshot minus matched keys, plus ``batch``. On a lost race
        the merge recomputes against the winner's snapshot and retries."""
        for _ in range(self._MAX_COMMIT_ATTEMPTS):
            cur = self.current()
            if cur is None:
                merged, version = batch, 1
            else:
                merged = upsert_delete_insert(
                    self.spark.read.parquet(cur.data_dir), batch, keys
                )
                version = cur.version + 1
            name = self._write_version(merged, version)
            try:
                self._commit(version, name)
                return Snapshot(version, os.path.join(self.path, name))
            except CommitConflict:
                # orphaned data dir is retention-collected by vacuum()
                continue
        raise CommitConflict(f"gave up after {self._MAX_COMMIT_ATTEMPTS} attempts")

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Delete data dirs not referenced by the ``keep_last`` newest
        commits (plus orphans from lost races). Readers pinned to vacuumed
        versions fail on next scan — retention is the documented trade.

        ``keep_last`` must be >= 1 (a zero would silently slice to ALL
        snapshots via ``snaps[-0:]`` — rejected explicitly). Orphan dirs are
        only collected when their embedded version number is <= the newest
        COMMITTED version: an in-flight merge always targets newest+1, so
        its not-yet-committed data dir is never swept; a racer targeting
        <= newest is guaranteed to lose its commit and retry, so sweeping
        its dir is safe."""
        import shutil

        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        snaps = self.snapshots()
        newest = snaps[-1].version if snaps else 0
        keep = {os.path.basename(s.data_dir) for s in snaps[-keep_last:]}
        removed = []
        for name in os.listdir(self.path):
            if not name.startswith("v-") or name in keep:
                continue
            try:
                dir_version = int(name.split("-")[1])
            except (IndexError, ValueError):
                continue  # not a version dir we wrote; leave it alone
            if dir_version > newest:
                continue  # possibly an in-flight writer's target — grace
            shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
            removed.append(name)
        for s in snaps[:-keep_last]:
            commit = os.path.join(self._commits_dir, f"{s.version:010d}.json")
            if os.path.basename(s.data_dir) not in keep and os.path.exists(commit):
                os.remove(commit)
        return removed
