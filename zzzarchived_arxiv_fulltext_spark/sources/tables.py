"""Snapshot-committed parquet tables.

The environment has no Iceberg runtime jar, so the engine ships a thin
snapshot layer with the same commit semantics the north rule needs:
an append is INVISIBLE until a single atomic manifest update commits
it, reads see only committed snapshots, and a killed run leaves no
partial state behind (its orphan directory is simply never listed).
The API is deliberately tiny so a real Iceberg catalog can replace it
behind ``append``/``read``/``snapshot_ids``.

Reference analogue: the filesystem store + meta.json
(``fulltext/services/store/store.py:111-204``) and the "immediately
consistent" placeholder write (``fulltext/extract.py:89-101``) — both
replaced by snapshot isolation.
"""

import fcntl
import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager
from typing import Iterator, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_MANIFEST = "_snapshots.json"


def leaves(entry: dict) -> List[dict]:
    """The manifest entries of the appends whose rows snapshot
    ``entry`` holds: ``entry`` itself, or for a compacted snapshot the
    entries it was compacted from (their ids alone where the
    compaction predates keeping their meta)."""
    return [leaf if isinstance(leaf, dict) else {"id": leaf}
            for leaf in entry.get("compacted_from", [entry])]


class SnapshotTable:
    """A parquet table whose visibility unit is a committed snapshot.

    Every manifest change is a read → change → ``os.replace`` under an
    exclusive ``flock`` on ``_snapshots.lock``, held for that step
    only (never while Spark writes), so two writers on one table never
    lose each other's entries. Readers take no lock: ``os.replace``
    swaps the whole manifest atomically.
    """

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    # -- manifest -----------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def _entries(self) -> List[dict]:
        """Every manifest entry, pending ones included."""
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return []

    def snapshots(self) -> List[dict]:
        """The committed entries: a pending entry (see ``Wave``) counts
        once the commit record it names exists."""
        return [s for s in self._entries() if "pending" not in s
                or os.path.exists(os.path.join(self.path, s["pending"]))]

    def snapshot_ids(self) -> List[int]:
        return [s["id"] for s in self.snapshots()]

    def latest_snapshot_id(self) -> Optional[int]:
        ids = self.snapshot_ids()
        return max(ids) if ids else None

    def _update(self, change) -> int:
        """Replace the manifest with ``change(entries, next_id)`` under
        the table's lock and return ``next_id``, the id after every
        entry's. Both are read inside the lock, so the change rebases
        onto every commit that landed before it."""
        with open(os.path.join(self.path, "_snapshots.lock"), "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)  # released on close
            entries = self._entries()
            next_id = max([s["id"] for s in entries], default=0) + 1
            tmp = self._manifest_path() + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(change(entries, next_id), f, indent=1)
            os.replace(tmp, self._manifest_path())
        return next_id

    # -- write --------------------------------------------------------------

    def _stage(self, df: DataFrame) -> str:
        """Write ``df`` to a new uniquely named dir that no manifest
        entry lists yet; returns the dir's name."""
        name = f"snap-{uuid.uuid4().hex}"
        df.write.mode("overwrite").parquet(os.path.join(self.path, name))
        return name

    def append(self, df: DataFrame, meta: Optional[dict] = None) -> int:
        """Write ``df`` as a new snapshot carrying ``meta``: a one-table
        ``Wave``. Returns the snapshot id.

        ``meta`` keys are stored in the manifest entry — committed
        atomically WITH the data. Incremental consumers record their
        source position here (Iceberg snapshot summary shape), so a
        crash can never separate "data committed" from "position
        advanced".
        """
        wave = Wave(meta)
        snap_id = wave.append(self, df)
        wave.commit()
        return snap_id

    # -- read ---------------------------------------------------------------

    def _entry(self, snap_id: int) -> dict:
        for s in self._entries():
            if s["id"] == snap_id:
                return s
        raise KeyError(f"no snapshot {snap_id} in {self.path}")

    def snapshot_dir(self, snap_id: int) -> str:
        return os.path.join(self.path, self._entry(snap_id)["dir"])

    def _scan(self, spark: SparkSession, snaps: List[dict],
              schema: Optional[T.StructType], empty_error: str) -> DataFrame:
        """The rows of the manifest entries ``snaps``, read under
        ``schema`` when given. With no entries the result is an empty
        frame of ``schema``; without a schema that raises
        ``ValueError(empty_error)``."""
        if not snaps:
            if schema is None:
                raise ValueError(empty_error)
            return spark.createDataFrame([], schema)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(
            *[os.path.join(self.path, s["dir"]) for s in snaps])

    def read(self, spark: SparkSession,
             schema: Optional[T.StructType] = None) -> DataFrame:
        """All committed rows (empty-but-typed DF when no snapshots).

        When ``schema`` is given it is imposed on the scan
        (schema-on-read): snapshots written before a column existed
        return NULL for it instead of failing or silently dropping it,
        without the footer-merging cost of ``mergeSchema`` — the
        schema-evolution contract Iceberg tables give for free.
        """
        return self._scan(spark, self.snapshots(), schema,
                          f"empty table {self.path} needs an explicit schema")

    def read_snapshot(self, spark: SparkSession, snap_id: int,
                      schema: Optional[T.StructType] = None) -> DataFrame:
        """The rows of snapshot ``snap_id`` alone, pending or committed
        (a wave reads back what it staged); ``schema``, when given, is
        imposed as in ``read`` and spares the footer-reading job that
        infers it."""
        return self._scan(spark, [self._entry(snap_id)], schema,
                          f"no snapshot {snap_id} in {self.path}")

    def read_as_of(self, spark: SparkSession, snap_id: int,
                   schema: Optional[T.StructType] = None) -> DataFrame:
        """Time travel: all rows committed at or before ``snap_id``
        (Iceberg's ``VERSION AS OF`` shape) — reproduce any historical
        training-set cut exactly, long after later appends.
        """
        snaps = [s for s in self.snapshots() if s["id"] <= snap_id]
        return self._scan(spark, snaps, schema,
                          f"nothing committed at or before {snap_id} in "
                          f"{self.path}; need an explicit schema")

    def read_since(self, spark: SparkSession, after_snap_id: int,
                   schema: Optional[T.StructType] = None,
                   up_to: Optional[int] = None) -> DataFrame:
        """Rows committed strictly after ``after_snap_id``.

        The incremental-read primitive (Iceberg's incremental scan
        shape): downstream consumers track the last snapshot they
        processed and read only newer ones — at 10^12-row scale this
        replaces the anti-join for steady-state increments. ``up_to``
        bounds the scan (inclusive) so a consumer that captured the
        head position first is immune to commits racing in behind it.
        """
        snaps = [s for s in self.snapshots()
                 if s["id"] > after_snap_id
                 and (up_to is None or s["id"] <= up_to)]
        return self._scan(spark, snaps, schema,
                          f"no snapshots after {after_snap_id} in "
                          f"{self.path}; need an explicit schema for the "
                          "empty result")

    # -- maintenance ----------------------------------------------------------

    def compact(self, spark: SparkSession,
                target_partitions: Optional[int] = None) -> int:
        """Rewrite all committed rows as one snapshot; drop the rest.

        Many small incremental snapshots degrade scan planning (file
        listing, split packing); compaction is the standard remedy.
        Readers are never broken: data is staged first, the manifest
        replace is atomic, and old snapshot dirs are removed only
        after the new manifest is durable. The replace rebases: every
        entry added after the read (an append, a pending wave) stays.
        The new entry's ``compacted_from`` lists the manifest entries
        (without ``dir``, ``ts`` and ``pending``) of the appended
        snapshots whose rows it holds, through earlier compactions
        too, so each one's id and meta outlive the compaction.
        """
        snaps = self.snapshots()
        if len(snaps) <= 1:
            return self.latest_snapshot_id() or 0
        df = self._scan(spark, snaps, None, "")
        if target_partitions:
            df = df.coalesce(target_partitions)
        folded = {s["id"] for s in snaps}
        entry = {"dir": self._stage(df), "ts": time.time(),
                 "compacted_from": [
                     {k: v for k, v in leaf.items()
                      if k not in ("dir", "ts", "pending")}
                     for s in snaps for leaf in leaves(s)]}
        new_id = self._update(lambda entries, sid: [{"id": sid, **entry}] + [
            s for s in entries if s["id"] not in folded])
        for s in snaps:
            shutil.rmtree(os.path.join(self.path, s["dir"]),
                          ignore_errors=True)
        return new_id

    def maintain(self, spark: SparkSession, max_snapshots: int = 64,
                 target_partitions: Optional[int] = None) -> Optional[int]:
        """Compact when the snapshot count exceeds ``max_snapshots``.

        The standing-job hygiene hook: incremental pipelines append one
        snapshot per increment; unbounded snapshot counts degrade scan
        planning. Returns the new snapshot id when compaction ran,
        None when the table is within budget.
        """
        if len(self.snapshots()) <= max_snapshots:
            return None
        return self.compact(spark, target_partitions=target_partitions)

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


class Wave:
    """One atomic commit across tables (Iceberg's metadata-pointer swap,
    stretched over several manifests).

    ``append`` stages a frame and adds a *pending* manifest entry that
    names this wave's commit record, ``_waves/<uuid>`` under the first
    table's dir; readers skip it while the record is absent.
    ``commit`` creates the record (``O_CREAT|O_EXCL``), which makes
    every entry of the wave visible at once, then folds the pending
    mark into each entry and removes the record. A crashed attempt
    never creates its record, so its entries stay invisible like its
    staged dirs, even after a replay with the same ``meta`` commits.

    ``meta`` is stamped on every entry; ``committed`` is the replay
    check a writer runs once per batch before building it.
    """

    def __init__(self, meta: Optional[dict] = None):
        self.meta = meta or {}
        self._record: Optional[str] = None
        self._tables: List[SnapshotTable] = []

    def committed(self, table: SnapshotTable) -> bool:
        """True when ``table`` holds a committed append carrying this
        wave's ``meta``, also one folded into a compacted snapshot."""
        return bool(self.meta) and any(
            all(leaf.get(k) == v for k, v in self.meta.items())
            for s in table.snapshots() for leaf in leaves(s))

    def append(self, table: SnapshotTable, df: DataFrame) -> int:
        """Stage ``df`` as a pending snapshot of ``table``; returns its
        id, which ``read_snapshot`` serves before the commit."""
        if self._record is None:
            self._record = os.path.join(
                table.path, "_waves", uuid.uuid4().hex)
        if table not in self._tables:
            self._tables.append(table)
        entry = {"dir": table._stage(df), "ts": time.time(),
                 "pending": os.path.relpath(self._record, table.path),
                 **self.meta}
        return table._update(
            lambda entries, sid: entries + [{"id": sid, **entry}])

    def commit(self) -> None:
        """Make every entry of the wave visible in one step."""
        if self._record is None:
            return
        os.makedirs(os.path.dirname(self._record), exist_ok=True)
        os.close(os.open(self._record,
                         os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        for table in self._tables:
            mark = os.path.relpath(self._record, table.path)
            table._update(lambda entries, _, mark=mark: [
                {k: v for k, v in s.items() if k != "pending"}
                if s.get("pending") == mark else s for s in entries])
        os.remove(self._record)


@contextmanager
def joined(wave: Optional[Wave]) -> Iterator[Wave]:
    """``wave``, which its owner commits; or, when None, a new wave
    that commits when the block exits without an error."""
    if wave is not None:
        yield wave
        return
    own = Wave()
    yield own
    own.commit()
