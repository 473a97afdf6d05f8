"""SparkSession construction with engine-appropriate defaults.

Tuned for the extraction workload (map-heavy, Arrow-batched pandas
UDFs over documents of wildly varying size):

- Arrow serialization on, with a *modest* records-per-batch cap:
  UDF cost is per-character, not per-row, so a batch of giant
  documents must stay small enough to bound executor-python memory
  (SURVEY.md §4 item 2).
- AQE on (runtime coalescing + skew-join splitting) — the anti-join
  resume path and the metrics aggregation benefit at scale.
"""

import getpass
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# Fixed session settings. Each has a single value that every caller
# wants; a deployment that needs another passes ``--conf`` to
# spark-submit or calls ``spark.conf.set`` on the built session.
ARROW_BATCH = 256
SHUFFLE_PARTITIONS = 32
# Split sizing: extraction is CPU-bound (~2 MB/s/core through the
# regex pipeline), so the right input split is ~100x smaller than the
# scan-optimal 128m — a 4m split is ~2s of UDF work. At real 100TB
# scale any value yields ample splits; locally it decides whether 32
# cores get work at all.
MAX_PARTITION_BYTES = "4m"
# openCost doubles as the FLOOR on split size for small inputs
# (maxSplitBytes = min(maxPartitionBytes, max(openCost,
# total/minPartitionNum))). 512k was kept after measuring a 16k floor:
# fanning sub-MB tables into 32 ~19KB tasks costs more in per-task
# scheduling (iterative queries pay it per job) than the extra cores
# return — see OPTIMIZATION_r07.md.
OPEN_COST_BYTES = "512k"
# InferFiltersFromGenerate infers `size(arr)>0 AND isnotnull(arr)`
# below every explode; filter pushdown then CLONES the whole
# array-building expression tree (split + transform + hash chains)
# into the filter, so each row pays the array computation 3x
# (measured 4.5x on the exact-substring family). Generate with
# outer=false already skips empty arrays, so the inferred filter is
# pure rework for every computed-array explode this engine runs
# (guide §4.4's duplicated-evaluation trap, JVM edition).
EXCLUDED_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")


_SHIPPED_APPS: set = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors regardless of cwd.

    The spark-submit equivalent of ``--py-files engine.zip``: zip the
    package and register it with the SparkContext so python workers
    can unpickle the UDFs when the driver is launched from any
    directory. Safe to call on ANY session (including one built by an
    external harness) and idempotent per application.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED_APPS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(tempfile.gettempdir(),
                        f"spark_graft_pyfiles_{os.getpid()}")
    zip_path = shutil.make_archive(base, "zip",
                                   root_dir=os.path.dirname(pkg_dir),
                                   base_dir=os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_APPS.add(app_id)


def build_spark(
    app_name: str = "arxiv-fulltext-spark",
    master: str | None = None,
    shuffle_partitions: int = SHUFFLE_PARTITIONS,
) -> SparkSession:
    """Build a SparkSession with the engine's tuned defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    all cores) so the same entry points serve tests, bench, and a real
    ``spark-submit`` (where ``master`` is left to the cluster manager).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)

    spark = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_BATCH))
        .config("spark.sql.files.maxPartitionBytes", MAX_PARTITION_BYTES)
        .config("spark.sql.files.openCostInBytes", OPEN_COST_BYTES)
        .config("spark.sql.optimizer.excludedRules", EXCLUDED_RULES)
        # reliable checkpoints (materialize.reuse under a cluster
        # master) are deleted once their frame is garbage-collected
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # bucketed saveAsTable targets (plans/bucketed_tables) must
        # never land in the caller's cwd, and the default is PER-USER:
        # a world-shared /tmp dir would let one session's overwrite
        # rmtree a table another user's session is still scanning
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               os.path.join(
                                   tempfile.gettempdir(),
                                   f"spark_graft_warehouse_"
                                   f"{getpass.getuser()}")))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
