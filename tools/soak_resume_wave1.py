"""Resume the sf1 soak at dedup wave 1 (the prior run committed
wave 0's bucket index and died before wave 1 — see tools/soak_sf1.py).

Runs ONLY the second incremental-dedup wave against the committed
extracted/ and dedup_buckets/ state, with the same RSS sampling, and
prints the same JSON stage lines so SCALE.md can splice the numbers.

    python tools/soak_resume_wave1.py
"""

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from tools.soak_sf1 import RssSampler, stage  # noqa: E402
from zzzarchived_arxiv_fulltext_spark.config import build_spark  # noqa: E402
from zzzarchived_arxiv_fulltext_spark.plans.incremental_dedup import (  # noqa: E402
    run_dedup_incremental,
)
from zzzarchived_arxiv_fulltext_spark.sources.tables import (  # noqa: E402
    SnapshotTable,
)


def main():
    work = Path(os.environ.get(
        "SPARK_GRAFT_SOAK_DIR", "/tmp/spark_graft_soak"))

    # build_spark's master: local[$SPARK_GRAFT_CPUS], else all cores
    spark = build_spark(app_name="soak-sf1-wave1")
    cpus = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(cpus * 4))
    spark.sparkContext.setLogLevel("ERROR")
    sampler = RssSampler()
    sampler.start()

    docs = (
        SnapshotTable(str(work / "extracted")).read(spark)
        .where(F.col("status") == "succeeded")
        .select("doc_id", F.col("psv_text").alias("text"),
                F.lit("en").alias("lang"))
    )
    bucket_table = SnapshotTable(str(work / "dedup_buckets"))
    half = F.crc32(F.col("doc_id").cast("string")) % 2

    def wave1():
        delta = docs.where(half == 1)
        pairs = run_dedup_incremental(spark, delta, docs, bucket_table)
        return {"pairs": pairs.count()}

    sec = stage("dedup_wave1", wave1)
    rss = sampler.stop()
    print(json.dumps({
        "soak": "sf1-resume", "cpus": cpus,
        "timings_sec": {"dedup_wave1": sec}, **rss,
    }), flush=True)


if __name__ == "__main__":
    main()
