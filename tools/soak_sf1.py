"""sf1-scale soak: extraction → corpus prep → incremental dedup at
~1.2M documents (VERDICT r5 #8), with peak python-worker RSS sampled.

Validates SCALE.md's memory arithmetic on real volume an order of
magnitude above the bench fixture: Arrow batch bounds, the MinHash/LSH
bucket caps, and the AQE skew path all run against 1.2M generated
documents on this box before anyone trusts the 100x story.

    python tools/soak_sf1.py [n_docs]      # default 1_200_000

Prints one JSON line per stage plus a final summary (documented in
SCALE.md). Runs ONE Spark app; never run concurrently with another
bench (numbers become noise).
"""

import json
import os
import re
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from zzzarchived_arxiv_fulltext_spark.config import build_spark  # noqa: E402
from zzzarchived_arxiv_fulltext_spark.plans.corpus_prep import (  # noqa: E402
    run_corpus_prep,
)
from zzzarchived_arxiv_fulltext_spark.plans.incremental_dedup import (  # noqa: E402
    run_dedup_incremental,
)
from zzzarchived_arxiv_fulltext_spark.sources.fixtures import (  # noqa: E402
    DEFAULT_SEED,
    write_spans_parquet,
)
from zzzarchived_arxiv_fulltext_spark.sources.tables import (  # noqa: E402
    SnapshotTable,
)


class RssSampler(threading.Thread):
    """Sample RSS of every pyspark.daemon/worker python process (and
    the driver JVM) via /proc every ``interval`` seconds."""

    def __init__(self, interval: float = 2.0):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_worker_sum = 0      # all python workers together
        self.peak_worker_one = 0      # hottest single worker
        self.peak_jvm = 0
        self.n_workers_peak = 0
        self._stop = threading.Event()

    @staticmethod
    def _rss_kb(pid: str):
        try:
            with open(f"/proc/{pid}/status") as f:
                m = re.search(r"VmRSS:\s+(\d+) kB", f.read())
            return int(m.group(1)) if m else 0
        except OSError:
            return 0

    def run(self):
        while not self._stop.is_set():
            worker_sum = worker_max = jvm = 0
            n_workers = 0
            for pid in os.listdir("/proc"):
                if not pid.isdigit():
                    continue
                try:
                    with open(f"/proc/{pid}/cmdline", "rb") as f:
                        cmd = f.read().replace(b"\0", b" ")
                except OSError:
                    continue
                if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                    kb = self._rss_kb(pid)
                    worker_sum += kb
                    worker_max = max(worker_max, kb)
                    n_workers += 1
                elif b"java" in cmd and b"spark" in cmd.lower():
                    jvm = max(jvm, self._rss_kb(pid))
            self.peak_worker_sum = max(self.peak_worker_sum, worker_sum)
            self.peak_worker_one = max(self.peak_worker_one, worker_max)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.n_workers_peak = max(self.n_workers_peak, n_workers)
            self._stop.wait(self.interval)

    def stop(self) -> dict:
        self._stop.set()
        return {
            "peak_worker_rss_sum_mb": self.peak_worker_sum // 1024,
            "peak_worker_rss_one_mb": self.peak_worker_one // 1024,
            "peak_jvm_rss_mb": self.peak_jvm // 1024,
            "n_worker_procs_peak": self.n_workers_peak,
        }


def stage(name, fn):
    t0 = time.perf_counter()
    out = fn()
    sec = round(time.perf_counter() - t0, 1)
    print(json.dumps({"stage": name, "sec": sec, **(out or {})}),
          flush=True)
    return sec


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_200_000
    work = Path(os.environ.get(
        "SPARK_GRAFT_SOAK_DIR", "/tmp/spark_graft_soak"))
    fixture = work / f"spans_{n_docs}_{DEFAULT_SEED}"

    # build_spark's master: local[$SPARK_GRAFT_CPUS], else all cores
    spark = build_spark(app_name="soak-sf1")
    cpus = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(cpus * 4))
    spark.sparkContext.setLogLevel("ERROR")
    sampler = RssSampler()
    sampler.start()
    timings = {}

    if not (fixture / "_SUCCESS").exists():
        timings["generate"] = stage(
            "generate", lambda: write_spans_parquet(
                spark, str(fixture), n_docs) and None)

    ext_table = SnapshotTable(str(work / "extracted"))
    lineage = SnapshotTable(str(work / "lineage"))

    def do_extract():
        from zzzarchived_arxiv_fulltext_spark.plans.extraction_job import (
            run_extraction,
        )

        snap = run_extraction(
            spark, spark.read.parquet(str(fixture)), ext_table,
            lineage_table=lineage)
        return {"snapshot": snap}

    timings["extract"] = stage("extract", do_extract)

    # corpus prep consumes the CLEANED text (psv): plain_text keeps
    # newlines, so the gate's split(" ") sees newline-glued tokens and
    # the avg-token-length check rejects nearly every document
    docs = (
        ext_table.read(spark)
        .where(F.col("status") == "succeeded")
        .select("doc_id", F.col("psv_text").alias("text"),
                F.lit("en").alias("lang"))
    )

    def do_prep():
        counts = run_corpus_prep(
            spark, docs, SnapshotTable(str(work / "corpus")),
            funnel_table=SnapshotTable(str(work / "funnel")))
        return {"funnel": counts}

    timings["corpus_prep"] = stage("corpus_prep", do_prep)

    # incremental dedup in two waves: second wave dedups against the
    # committed index of the first (the steady-state 100TB shape)
    bucket_table = SnapshotTable(str(work / "dedup_buckets"))
    half = F.crc32(F.col("doc_id").cast("string")) % 2

    def wave(i):
        delta = docs.where(half == i)
        pairs = run_dedup_incremental(spark, delta, docs, bucket_table)
        return {"pairs": pairs.count()}

    timings["dedup_wave0"] = stage("dedup_wave0", lambda: wave(0))
    timings["dedup_wave1"] = stage("dedup_wave1", lambda: wave(1))

    rss = sampler.stop()
    print(json.dumps({
        "soak": "sf1", "n_docs": n_docs, "cpus": cpus,
        "timings_sec": timings, **rss,
    }), flush=True)


if __name__ == "__main__":
    main()
