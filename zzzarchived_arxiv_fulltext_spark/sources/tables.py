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

import json
import os
import shutil
import time
import uuid
from typing import List, Optional

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
    """A parquet table whose visibility unit is a committed snapshot."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    # -- manifest -----------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def snapshots(self) -> List[dict]:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return []

    def snapshot_ids(self) -> List[int]:
        return [s["id"] for s in self.snapshots()]

    def latest_snapshot_id(self) -> Optional[int]:
        ids = self.snapshot_ids()
        return max(ids) if ids else None

    def _commit(self, snaps: List[dict]) -> None:
        """Atomic manifest replace: write-temp + rename."""
        tmp = self._manifest_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(snaps, f, indent=1)
        os.replace(tmp, self._manifest_path())

    def has_meta(self, key, value=None) -> bool:
        """True when any committed snapshot carries the given meta —
        the exactly-once guard for replayed writers (a foreachBatch
        retry checks its batch_id here and skips the append instead
        of duplicating rows). Accepts either ``(key, value)`` or a
        whole meta dict (all entries must match one snapshot)."""
        items = key.items() if isinstance(key, dict) else [(key, value)]
        return any(
            all(s.get(k) == v for k, v in items)
            for s in self.snapshots()
        )

    # -- write --------------------------------------------------------------

    def _stage(self, df: DataFrame, snap_id: int) -> str:
        """Write ``df`` to an uncommitted staging dir, then rename it to
        the snapshot's dir; returns that dir's name."""
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(staging)
        final = f"snap-{snap_id:05d}"
        os.replace(staging, os.path.join(self.path, final))
        return final

    def append(self, df: DataFrame, meta: Optional[dict] = None) -> int:
        """Write ``df`` as a new snapshot; visible only after commit.

        Data lands in an uncommitted staging directory first; the
        snapshot becomes real only via the atomic manifest replace. A
        crash at any earlier point leaves an orphan dir that readers
        never see (crash-safety parity with at-least-once redo,
        ``fulltext/config.py:326-342``).

        ``meta`` keys are stored in the manifest entry — committed
        atomically WITH the data. Incremental consumers record their
        source position here (Iceberg snapshot summary shape), so a
        crash can never separate "data committed" from "position
        advanced".
        """
        snap_id = (self.latest_snapshot_id() or 0) + 1
        entry = {"id": snap_id, "dir": self._stage(df, snap_id),
                 "ts": time.time(), **(meta or {})}
        self._commit(self.snapshots() + [entry])
        return snap_id

    # -- read ---------------------------------------------------------------

    def _entry(self, snap_id: int) -> dict:
        for s in self.snapshots():
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

    def read_excluding_meta(self, spark: SparkSession, meta: dict,
                            schema: Optional[T.StructType] = None
                            ) -> DataFrame:
        """All committed rows EXCEPT snapshots whose manifest entry
        matches every key of ``meta``.

        The replay-safe read for idempotent micro-batch writers: a
        replayed batch must classify against history as it stood
        BEFORE its own (possibly partial) earlier attempt, so it
        excludes its own batch stamp — otherwise its prior hash/index
        appends poison the rerun (every doc looks like a duplicate of
        itself) and the replay commits empty output.
        """
        snaps = [s for s in self.snapshots()
                 if not all(s.get(k) == v for k, v in meta.items())]
        return self._scan(spark, snaps, schema,
                          f"empty table {self.path} needs an explicit schema")

    def read_snapshot(self, spark: SparkSession, snap_id: int,
                      schema: Optional[T.StructType] = None) -> DataFrame:
        """The rows of snapshot ``snap_id`` alone; ``schema``, when
        given, is imposed as in ``read`` and spares the footer-reading
        job that infers it."""
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
        after the new manifest is durable. The new entry's
        ``compacted_from`` lists the manifest entries (without
        ``dir`` and ``ts``) of the appended snapshots whose rows it
        holds, through earlier compactions too, so each one's id and
        meta outlive the compaction.
        """
        snaps = self.snapshots()
        if len(snaps) <= 1:
            return self.latest_snapshot_id() or 0
        df = self.read(spark)
        if target_partitions:
            df = df.coalesce(target_partitions)

        snap_id = self.latest_snapshot_id() + 1
        self._commit([{"id": snap_id, "dir": self._stage(df, snap_id),
                       "ts": time.time(),
                       "compacted_from": [
                           {k: v for k, v in leaf.items()
                            if k not in ("dir", "ts")}
                           for s in snaps for leaf in leaves(s)]}])

        for s in snaps:
            shutil.rmtree(os.path.join(self.path, s["dir"]),
                          ignore_errors=True)
        return snap_id

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
