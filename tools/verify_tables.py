"""Audit SnapshotTable health: manifest vs filesystem, orphans, rows.

Usage: python tools/verify_tables.py TABLE_DIR [TABLE_DIR ...]

Checks, per table:
- every manifest entry's snapshot dir exists and has a _SUCCESS marker;
- orphan dirs (crashed runs' staging / unlisted snap dirs) are counted
  but never deleted (they are invisible to readers by design);
- per-snapshot parquet row counts (pyarrow, no Spark session needed).

Exit code 1 when any manifest entry is missing its data — the one
state that should be impossible (commits happen after the rename).
"""

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from zzzarchived_arxiv_fulltext_spark.sources.tables import (  # noqa: E402
    SnapshotTable,
)


def audit(path: str) -> dict:
    t = SnapshotTable(path)
    snaps = t.snapshots()
    listed = {s["dir"] for s in snaps}
    on_disk = {
        d for d in os.listdir(path)
        if os.path.isdir(os.path.join(path, d)) and d != "_waves"
    }
    missing, rows = [], {}
    for s in snaps:
        snap_dir = os.path.join(path, s["dir"])
        if not os.path.isdir(snap_dir) or not os.path.exists(
                os.path.join(snap_dir, "_SUCCESS")):
            missing.append(s["id"])
            continue
        try:
            import pyarrow.parquet as pq

            rows[s["id"]] = sum(
                pq.ParquetFile(os.path.join(snap_dir, f))
                .metadata.num_rows
                for f in os.listdir(snap_dir) if f.endswith(".parquet")
            )
        except Exception as exc:  # unreadable data = missing
            missing.append(s["id"])
            rows[s["id"]] = f"error: {exc}"
    orphans = sorted(on_disk - listed)
    return {
        "table": path,
        "snapshots": len(snaps),
        "rows_per_snapshot": rows,
        "total_rows": sum(v for v in rows.values() if isinstance(v, int)),
        "missing_data": missing,
        "orphan_dirs": orphans,  # invisible to readers; safe to GC
    }


def main(argv=None) -> int:
    paths = (argv if argv is not None else sys.argv[1:])
    if not paths:
        print(__doc__)
        return 2
    bad = False
    for p in paths:
        report = audit(p)
        print(json.dumps(report))
        bad = bad or bool(report["missing_data"])
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
