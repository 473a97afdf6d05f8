"""Driver-contract query battery: Spark queries + DuckDB oracle SQL.

Every natively-expressible operator from SURVEY.md §2 (and the
training-data ops battery) is registered here twice: as a PySpark
DataFrame program and as ANSI SQL the driver runs on DuckDB over the
same parquet. Column names/values must match exactly (the driver
sorts columns by name and value-hashes).

Keep each Spark query Catalyst-friendly: JVM expressions wherever the
semantics allow. Queries that deliberately route through the REAL
Arrow-batched UDF stages (``psv_normalize_udf``, the span-extraction
pair, ``media_feature_extraction``, ``winnowing_fingerprint_overlap``,
``pdf_text_extraction``, ``html_main_content``, ``corpus_prep_funnel``)
are oracle-checked against closed-form SQL twins — the strongest
correctness evidence the harness can record for the UDF path.
"""

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: Dict[str, QueryFn] = {}
ORACLES: Dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


