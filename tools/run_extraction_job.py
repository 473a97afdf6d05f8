"""spark-submit entry point for the extraction pipeline.

Usage (local stand-in for a multi-executor cluster):

    spark-submit --master local[32] tools/run_extraction_job.py \
        --input /path/to/spans_parquet \
        --output /path/to/output_table \
        [--lineage /path/to/lineage_table] [--parallelism 128] [--force]
        [--incremental]

On a real cluster the same script ships with
``--py-files engine.zip`` — ``build_spark`` also registers the package
via addPyFile so executors resolve the UDFs regardless of launch cwd.
The job is resumable: rerunning after a kill completes exactly the
documents missing from the committed output (anti-join vs snapshots).
With ``--incremental`` the input is treated as a SnapshotTable and
only snapshots newer than the last consumed position are read — the
join-free steady state for standing pipelines.

For smoke/demo runs, ``--generate N`` materializes the deterministic
fixture table to --input first.
"""

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument(
        "--lineage",
        help="lineage table committed with each run's output snapshot; "
             "output committed by a run without it never gets lineage "
             "later")
    ap.add_argument("--parallelism", type=int, default=None,
                    help="upper bound on extraction tasks: pack docs by "
                         "chars into one task per core, at most this many; "
                         "omit to extract in the input's own splits")
    ap.add_argument("--force", action="store_true",
                    help="re-extract even if committed (controllers.py:140)")
    ap.add_argument("--incremental", action="store_true",
                    help="treat --input as a SnapshotTable and consume "
                         "only new snapshots (join-free steady state)")
    ap.add_argument("--generate", type=int, default=0,
                    help="materialize N fixture docs to --input first")
    args = ap.parse_args()

    from zzzarchived_arxiv_fulltext_spark.config import build_spark
    from zzzarchived_arxiv_fulltext_spark.plans.extraction_job import (
        run_extraction,
        run_extraction_incremental,
    )
    from zzzarchived_arxiv_fulltext_spark.schema import OUTPUT_SCHEMA
    from zzzarchived_arxiv_fulltext_spark.sources.fixtures import (
        write_spans_parquet,
    )
    from zzzarchived_arxiv_fulltext_spark.sources.tables import SnapshotTable

    spark = build_spark(app_name="extraction-job")

    if args.generate:
        write_spans_parquet(spark, args.input, args.generate)

    out = SnapshotTable(args.output)
    lineage = SnapshotTable(args.lineage) if args.lineage else None

    if args.incremental:
        snap = run_extraction_incremental(
            spark,
            SnapshotTable(args.input),
            out,
            lineage_table=lineage,
            parallelism=args.parallelism,
        )
    else:
        snap = run_extraction(
            spark,
            spark.read.parquet(args.input),
            out,
            lineage_table=lineage,
            parallelism=args.parallelism,
            force=args.force,
        )
    total = out.read(spark, OUTPUT_SCHEMA).count()
    if snap is None:
        print(f"nothing pending; committed total stays {total}")
    else:
        committed = out.read_snapshot(spark, snap).count()
        print(f"committed snapshot {snap}: {committed} docs "
              f"(table total {total})")


if __name__ == "__main__":
    main()
