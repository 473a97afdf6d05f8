"""The one materialization policy: the master-URL rule, row identity,
and no hand-placed checkpoints anywhere else in the package."""

from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from zzzarchived_arxiv_fulltext_spark import materialize
from zzzarchived_arxiv_fulltext_spark.materialize import (
    is_local_master,
    reuse,
    sorted_output,
)

PACKAGE = Path(materialize.__file__).resolve().parent


class _Frame:
    """Records which checkpoint a ``reuse`` call picks."""

    def __init__(self, master):
        self.sparkSession = SimpleNamespace(
            sparkContext=SimpleNamespace(master=master))
        self.calls = []

    def localCheckpoint(self, eager):
        self.calls.append(("local", eager))
        return self

    def checkpoint(self, eager):
        self.calls.append(("reliable", eager))
        return self


@pytest.mark.parametrize("master,local", [
    ("local", True),
    ("local[4]", True),
    ("local[*]", True),
    ("local[4,2]", True),
    ("local-cluster[2,1,1024]", False),
    ("spark://h:7077", False),
    ("yarn", False),
    ("k8s://https://api.example:6443", False),
])
def test_master_url_picks_the_checkpoint(master, local):
    assert is_local_master(master) is local
    df = _Frame(master)
    assert reuse(df) is df
    assert df.calls == [("local" if local else "reliable", True)]


def test_reuse_and_sorted_output_keep_rows(spark):
    df = spark.range(200).select(
        ((F.col("id") * 37) % 101).alias("k"),
        (F.col("id") % 7).alias("v"))
    expected = sorted(df.collect())
    assert sorted(reuse(df).collect()) == expected
    out = sorted_output(df, "k", "v").collect()
    assert out == df.orderBy("k", "v").collect()
    assert sorted(out) == expected


def test_build_spark_cleans_reliable_checkpoints(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") \
        == "true"


def test_no_hand_placed_checkpoints():
    offenders = [
        f"{path.relative_to(PACKAGE)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "materialize.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "localCheckpoint(" in line or ".checkpoint(" in line
    ]
    assert offenders == []
