"""Physical-plan regression guards for the scale-critical properties.

These assert the *shape* of the plans Catalyst produces — the
properties that decide 100 TB behavior — so a future refactor that
silently introduces a shuffle or breaks column pruning fails loudly.
"""

import contextlib
import io

from pyspark.sql import functions as F

from zzzarchived_arxiv_fulltext_spark.operators.span_extract import (
    extract_documents,
)
from zzzarchived_arxiv_fulltext_spark.sources.fixtures import spans_table


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_extraction_is_map_only(spark, tmp_path):
    path = str(tmp_path / "spans")
    spans_table(spark, 50, seed=1).write.parquet(path)
    plan = _plan(extract_documents(spark.read.parquet(path)))
    assert "Exchange" not in plan, "extraction hot path gained a shuffle"
    assert "ArrowEvalPython" in plan  # single Arrow-batched UDF stage


def test_packed_path_has_exactly_one_exchange(spark, tmp_path):
    path = str(tmp_path / "spans")
    spans_table(spark, 50, seed=1).write.parquet(path)
    plan = _plan(extract_documents(spark.read.parquet(path), parallelism=4))
    import re

    nodes = re.findall(r"\(\d+\) Exchange", plan)
    assert len(nodes) == 1, plan


def test_packed_run_extraction_runs_five_jobs(spark, tmp_path):
    """One packed ``run_extraction`` with lineage on fresh tables: the
    sizing collect, the output write (shuffle map + write), and the
    lineage write (shuffle map + write). The sizing action also says
    whether anything is pending, and the lineage reads the committed
    snapshot under ``OUTPUT_SCHEMA``, so neither needs a job of its
    own."""
    from zzzarchived_arxiv_fulltext_spark.plans.extraction_job import (
        run_extraction,
    )
    from zzzarchived_arxiv_fulltext_spark.sources.tables import SnapshotTable

    path = str(tmp_path / "spans")
    spans_table(spark, 50, seed=1).write.parquet(path)
    df = spark.read.parquet(path)
    out = SnapshotTable(str(tmp_path / "out"))
    lineage = SnapshotTable(str(tmp_path / "lineage"))
    assert _jobs(spark, f"five-jobs-{tmp_path.name}",
                 lambda: run_extraction(spark, df, out, lineage,
                                        parallelism=4)) == 5


def _jobs(spark, group, action) -> int:
    """Spark jobs ``action()`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_incremental_wave_runs_three_jobs(spark, tmp_path):
    """One map-only ``run_extraction_incremental`` wave with lineage:
    the output write, then the lineage write (shuffle map + write).
    The wave commit itself is manifest files only."""
    from zzzarchived_arxiv_fulltext_spark.plans.extraction_job import (
        run_extraction_incremental,
    )
    from zzzarchived_arxiv_fulltext_spark.sources.tables import SnapshotTable

    inp = SnapshotTable(str(tmp_path / "in"))
    inp.append(spans_table(spark, 50, seed=1))
    out = SnapshotTable(str(tmp_path / "out"))
    lineage = SnapshotTable(str(tmp_path / "lineage"))
    assert _jobs(spark, f"three-jobs-{tmp_path.name}",
                 lambda: run_extraction_incremental(
                     spark, inp, out, lineage)) == 3
    assert len(out.snapshots()) == len(lineage.snapshots()) == 1


def test_revenue_join_broadcasts_and_pushes_filters(spark):
    from zzzarchived_arxiv_fulltext_spark.queries import QUERIES

    plan = _plan(QUERIES["revenue_by_nation"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must not sort-merge
    assert "PushedFilters" in plan


def test_anti_join_prunes_output_scan(spark, tmp_path):
    from zzzarchived_arxiv_fulltext_spark.plans.extraction_job import (
        pending_documents,
        run_extraction,
    )
    from zzzarchived_arxiv_fulltext_spark.sources.tables import SnapshotTable

    out = SnapshotTable(str(tmp_path / "out"))
    src = spans_table(spark, 20, seed=1)
    run_extraction(spark, src, out)
    plan = _plan(pending_documents(src, out, spark))
    # the committed-output scan must read only the anti-join columns,
    # never the text/span payloads
    import re

    schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    out_scan = [s for s in schemas if "extractor_version" in s or
                ("doc_id" in s and "spans" not in s)]
    assert out_scan, f"no pruned output scan found in:\n{schemas}"
    assert all("plain_text" not in s and "psv_text" not in s
               for s in out_scan)


def test_ingestion_stages_are_map_only(spark):
    from zzzarchived_arxiv_fulltext_spark.sources.html_ingest import (
        html_main_text,
    )
    from zzzarchived_arxiv_fulltext_spark.sources.pdf_ingest import (
        pdf_to_spans,
    )

    pdfs = spark.createDataFrame([("a", b"%PDF")],
                                 "doc_id string, pdf binary")
    plan = _plan(pdf_to_spans(pdfs))
    assert "Exchange" not in plan and "Join" not in plan

    pages = spark.createDataFrame([("a", "<p>x</p>")],
                                  "doc_id string, html string")
    plan = _plan(html_main_text(pages))
    assert "Exchange" not in plan and "Join" not in plan
    assert "ArrowEvalPython" in plan


def test_ann_query_broadcasts_queries(spark):
    from zzzarchived_arxiv_fulltext_spark.queries import QUERIES

    plan = _plan(QUERIES["ann_topk_lsh"](spark, "/root/testdata/sf0.001"))
    # candidate generation must be a broadcast bucket equi-join, never
    # a sort-merge of the corpus
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_blocklist_broadcasts_the_blocklist_not_the_corpus(spark):
    """The suffix join must build on the BLOCKLIST side; without the
    hint, Catalyst's unknown-size default on in-memory relations can
    broadcast the exploded corpus (BuildLeft) — fatal at scale."""
    from zzzarchived_arxiv_fulltext_spark.operators.weblinks import (
        filter_blocked_domains,
    )

    df = spark.createDataFrame(
        [(i, f"https://h{i}.dom.com/x") for i in range(50)],
        ["doc_id", "url"])
    bl = spark.createDataFrame([("bad.com",)], ["blocked_domain"])
    plan = _plan(filter_blocked_domains(df, bl))
    assert "BuildLeft" not in plan, plan
    assert "BroadcastHashJoin Inner BuildRight" in plan, plan


def test_quality_rules_are_pure_projections(spark):
    from zzzarchived_arxiv_fulltext_spark.operators.quality_rules import (
        c4_line_filter,
        gopher_quality_signals,
    )

    df = spark.createDataFrame(
        [(1, "Some text with lines.\nAnother line here.")],
        ["doc_id", "text"])
    for out in (gopher_quality_signals(df), c4_line_filter(df)):
        plan = _plan(out)
        assert "Exchange" not in plan, plan
        assert "EvalPython" not in plan, plan  # no UDF anywhere


def test_topk_operators_plan_as_heaps(spark):
    """zipf/bpe top-n must be TakeOrderedAndProject (per-partition
    heaps), never a global Sort+Exchange of the full frame."""
    from zzzarchived_arxiv_fulltext_spark.operators.corpus_stats import (
        bpe_pair_stats,
        zipf_slope,
    )

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 5) for i in range(20)],
        ["doc_id", "text"])
    for out in (bpe_pair_stats(df, top_n=10),):
        plan = _plan(out)
        assert "TakeOrderedAndProject" in plan, plan
    # zipf's final agg sits above the bounded top-n; the top-n itself
    # must still be heap-based
    plan = _plan(zipf_slope(df, top_n=10))
    assert "TakeOrderedAndProject" in plan, plan


def test_prefix_sum_operators_never_single_partition(spark):
    """token-budget mixture and sequence packing must keep their
    running sums partitioned (stratum / md5-prefix bucket) — a
    SinglePartition exchange means the global-sort regression."""
    from zzzarchived_arxiv_fulltext_spark.operators.sampling import (
        pack_sequences,
        sample_tokens_per_stratum,
    )

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", "w x y z") for i in range(50)],
        ["doc_id", "lang", "text"])
    plan = _plan(sample_tokens_per_stratum(df, {"en": 50, "de": 50}))
    assert "SinglePartition" not in plan, plan
    plan = _plan(pack_sequences(df, 16))
    assert "SinglePartition" not in plan, plan


def test_round5_operators_stay_jvm_side(spark):
    """dedup_lines_global / mixture_weights / lm_perplexity are pure
    DataFrame compositions — no Python eval anywhere in their plans
    (scalar-aggregate exchanges over bounded metadata are fine)."""
    from zzzarchived_arxiv_fulltext_spark.operators.corpus_stats import (
        lm_perplexity,
    )
    from zzzarchived_arxiv_fulltext_spark.operators.dedup import (
        dedup_lines_global,
    )
    from zzzarchived_arxiv_fulltext_spark.operators.sampling import (
        mixture_weights,
    )

    df = spark.createDataFrame(
        [(1, "en", "a b c\nshared"), (2, "de", "d e\nshared")],
        ["doc_id", "lang", "text"])
    for out in (
        dedup_lines_global(df),
        mixture_weights(df, {"en": 0.5, "de": 0.5}),
        lm_perplexity(df, df),
    ):
        plan = _plan(out)
        assert "EvalPython" not in plan, plan


def test_mixture_weights_broadcasts_scalar_total(spark):
    from zzzarchived_arxiv_fulltext_spark.operators.sampling import (
        mixture_weights,
    )

    df = spark.createDataFrame(
        [(1, "en", "a b"), (2, "de", "c")], ["doc_id", "lang", "text"])
    plan = _plan(mixture_weights(df, {"en": 1.0}))
    # the corpus-total join is a broadcast, and no full-frame window
    assert "BroadcastExchange" in plan, plan
    assert "Window" not in plan, plan


def test_round6_operators_plan_shapes(spark):
    import re

    from zzzarchived_arxiv_fulltext_spark.operators.classifier import (
        score_quality,
    )
    from zzzarchived_arxiv_fulltext_spark.operators.similarity import (
        assign_nearest_centroid,
        semantic_near_duplicates,
    )
    from zzzarchived_arxiv_fulltext_spark.operators.weblinks import (
        crawl_frontier_batches,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "vec_id int, embedding array<double>")
    cents = [[0.0, 1.0], [5.0, 1.0]]

    # nearest-centroid assignment: pure projection, zero Exchange,
    # zero Python
    plan = _plan(assign_nearest_centroid(vecs, cents))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan and "InPandas" not in plan, plan

    # SemDeDup pairs: no unkeyed cartesian, exactly one per-cluster
    # pandas kernel, and no join back on the vector id
    plan = _plan(semantic_near_duplicates(vecs, cents, threshold=0.9))
    assert "CartesianProduct" not in plan, plan
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 1, \
        plan
    keys = re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", plan)
    assert keys and not any("vec_id" in k for k in keys), plan

    # classifier scoring: the weights are INLINED as an array literal
    # (element_at lookup — r7: no weight-table join or broadcast
    # exchange at all); the corpus side still never broadcasts
    scored = score_quality(
        spark.createDataFrame([(1, "a b c")], "doc_id int, text string"),
        [0.1] * 16, 0.0)
    plan = _plan(scored)
    assert "element_at" in plan, plan
    assert "BroadcastExchange" not in plan, plan

    # frontier scheduling: exactly one window, partitioned by host —
    # never a global (empty-key) sort
    urls = spark.createDataFrame(
        [("https://h.example/a", 1.0)], "url string, score double")
    plan = _plan(crawl_frontier_batches(urls))
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert "SinglePartition" not in plan, plan


def test_dsir_broadcasts_models_not_corpus(spark):
    from zzzarchived_arxiv_fulltext_spark.operators.sampling import (
        dsir_importance_weights,
    )

    raw = spark.createDataFrame(
        [(i, "w x y z") for i in range(6)], "doc_id int, text string")
    target = raw.where("doc_id = 0")
    plan = _plan(dsir_importance_weights(raw, target, buckets=8))
    # the log-ratio model table (<= buckets rows) must broadcast into
    # the scoring join
    assert "BroadcastHashJoin" in plan, plan


def _nodes(plan):
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _nodes(kids.apply(i))


def test_incremental_minhash_is_one_candidate_join(spark):
    """New docs against committed buckets: ONE candidate equi-join on
    (band, bucket), and no Union of two pair sets (the delta is joined
    against new + old members, not self-joined and then unioned with
    a delta x history join)."""
    import re

    from zzzarchived_arxiv_fulltext_spark.operators.dedup import (
        band_buckets,
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 3} a b c d e") for i in range(8)],
        "doc_id long, text string")

    def sigs(where):
        return minhash_signatures(word_shingles(docs.where(where)))

    pairs = lsh_candidate_pairs(
        sigs("doc_id >= 4"), old=band_buckets(sigs("doc_id < 4"), 4))
    nodes = list(_nodes(pairs._jdf.queryExecution().sparkPlan()))
    inner = [n for n in nodes if n.nodeName() == "CartesianProduct"
             or ("Join" in n.nodeName()
                 and n.joinType().toString() == "Inner")]
    assert len(inner) == 1
    for side in (inner[0].leftKeys(), inner[0].rightKeys()):
        assert re.findall(r"(\w+)#", side.toString()) == ["band", "bucket"]
    unions = [n.output().toString() for n in nodes
              if n.nodeName() == "Union"]
    assert unions and not any("id_a" in u for u in unions), unions
    # every pair has a new side; old x old never pairs
    assert not [r for r in pairs.collect() if r["id_b"] < 4]
