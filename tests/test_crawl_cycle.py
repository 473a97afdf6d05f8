"""End-to-end crawl cycle: skip-if-fetched, blocklist, scheduling cap,
multi-format routing, idempotent commits."""

from zzzarchived_arxiv_fulltext_spark.plans.crawl_cycle import (
    run_crawl_cycle,
)
from zzzarchived_arxiv_fulltext_spark.sources.tables import SnapshotTable, Wave

def _make_fetcher():
    # a CLOSURE with literal captures: executors cannot import this
    # test module, so the fetcher must pickle by value
    html = (b"<html><body><main><p>hello web page text"
            b"</p></main></body></html>")
    tex = (b"\\documentclass{article}\\begin{document}"
           b"tex body words\\end{document}")

    def fetch(url):
        if "bad.example" in url:
            return 500, {"content-type": "text/html"}, b""
        if url.endswith(".tex"):
            return 200, {"content-type": "application/x-tex"}, tex
        return 200, {"content-type": "text/html"}, html

    return fetch




def _frontier(spark, rows):
    return spark.createDataFrame(rows, "url string, score double")


def test_cycle_routes_formats_and_logs_failures(spark, tmp_path):
    log = SnapshotTable(str(tmp_path / "log"))
    spans = SnapshotTable(str(tmp_path / "spans"))
    frontier = _frontier(spark, [
        ("https://a.example/page1", 3.0),
        ("https://a.example/src.tex", 2.0),
        ("https://bad.example/down", 1.0),
    ])
    counts = run_crawl_cycle(
        spark, frontier, log, spans, fetcher=_make_fetcher())
    assert counts["frontier"] == counts["new"] == 3
    assert counts["fetch_ok"] == 2 and counts["fetch_failed"] == 1
    assert counts["routed_docs"] == 2
    routed = {r["doc_id"]: r["format"]
              for r in spans.read(spark).collect()}
    assert routed == {"https://a.example/page1": "html",
                      "https://a.example/src.tex": "tex"}
    # the fetch log keeps the failure row (no payload column)
    logged = log.read(spark)
    assert logged.count() == 3
    assert "payload" not in logged.columns


def test_second_cycle_skips_fetched_urls(spark, tmp_path):
    log = SnapshotTable(str(tmp_path / "log2"))
    spans = SnapshotTable(str(tmp_path / "spans2"))
    f0 = _frontier(spark, [("https://a.example/p1", 1.0)])
    run_crawl_cycle(spark, f0, log, spans, fetcher=_make_fetcher())
    f1 = _frontier(spark, [
        ("https://a.example/p1", 9.0),   # refetch candidate: skipped
        ("https://a.example/p2", 1.0),
    ])
    counts = run_crawl_cycle(spark, f1, log, spans,
                             fetcher=_make_fetcher())
    assert counts["frontier"] == 2 and counts["new"] == 1
    assert counts["fetch_ok"] == 1
    assert log.read(spark).count() == 2  # p1 logged once, ever


def test_blocklist_and_batch_cap(spark, tmp_path):
    log = SnapshotTable(str(tmp_path / "log3"))
    spans = SnapshotTable(str(tmp_path / "spans3"))
    frontier = _frontier(spark, [
        ("https://spam.bad/x", 9.0),
        ("https://sub.spam.bad/y", 8.0),
        ("https://ok.example/a", 3.0),
        ("https://ok.example/b", 2.0),
        ("https://ok.example/c", 1.0),
    ])
    blocklist = spark.createDataFrame(
        [("spam.bad",)], "blocked_domain string")
    counts = run_crawl_cycle(
        spark, frontier, log, spans, blocklist=blocklist,
        per_host_per_batch=1, max_batches=2, fetcher=_make_fetcher())
    assert counts["after_blocklist"] == 3
    # per_host=1 and 2 batches: only ok.example's 2 best-scored fetch
    assert counts["scheduled"] == 2
    urls = {r["url"] for r in log.read(spark).collect()}
    assert urls == {"https://ok.example/a", "https://ok.example/b"}


def test_replayed_cycle_commits_nothing_new(spark, tmp_path):
    log = SnapshotTable(str(tmp_path / "log4"))
    spans = SnapshotTable(str(tmp_path / "spans4"))
    f = _frontier(spark, [("https://a.example/p1", 1.0)])
    # a crashed attempt: its wave never commits, so neither table
    # shows its rows
    run_crawl_cycle(spark, f, log, spans, fetcher=_make_fetcher(),
                    wave=Wave({"cycle": 0}))
    assert log.snapshots() == [] and spans.snapshots() == []
    # the retry classifies against history without the crashed
    # attempt, so the URL is "new" again, and commits each table once
    wave = Wave({"cycle": 0})
    counts = run_crawl_cycle(spark, f, log, spans,
                             fetcher=_make_fetcher(), wave=wave)
    wave.commit()
    assert counts["new"] == 1
    assert log.read(spark).count() == 1
    assert spans.read(spark).count() == 1
    # a replay of the committed cycle is caught by the wave check
    assert Wave({"cycle": 0}).committed(log)
    assert Wave({"cycle": 0}).committed(spans)


def test_streaming_crawl_service(spark, tmp_path):
    import pathlib

    from zzzarchived_arxiv_fulltext_spark.streaming.stream_extract import (
        run_streaming_crawl,
    )

    landing = tmp_path / "frontier"
    pathlib.Path(landing).mkdir()
    _frontier(spark, [("https://a.example/p1", 2.0)]) \
        .coalesce(1).write.parquet(str(landing / "w0"))
    # second wave re-delivers p1 (must not refetch) and adds p2
    _frontier(spark, [("https://a.example/p1", 9.0),
                      ("https://a.example/p2", 1.0)]) \
        .coalesce(1).write.parquet(str(landing / "w1"))

    log = SnapshotTable(str(tmp_path / "slog"))
    spans = SnapshotTable(str(tmp_path / "sspans"))
    run_streaming_crawl(
        spark, str(landing / "*"), str(tmp_path / "sckpt"),
        log, spans, fetcher=_make_fetcher())

    urls = sorted(r["url"] for r in log.read(spark).collect())
    assert urls == ["https://a.example/p1", "https://a.example/p2"]
    assert spans.read(spark).count() == 2


def test_cycle_honors_robots(spark, tmp_path):
    log = SnapshotTable(str(tmp_path / "log5"))
    spans = SnapshotTable(str(tmp_path / "spans5"))
    frontier = _frontier(spark, [
        ("https://a.example/private/x", 5.0),
        ("https://a.example/public/y", 4.0),
        ("https://norobots.example/z", 3.0),
    ])
    robots = spark.createDataFrame(
        [("a.example",
          "User-agent: *\nDisallow: /private/\nAllow: /public/")],
        "host string, robots_txt string")
    counts = run_crawl_cycle(
        spark, frontier, log, spans, robots=robots,
        fetcher=_make_fetcher())
    assert counts["after_robots"] == 2
    urls = {r["url"] for r in log.read(spark).collect()}
    assert urls == {"https://a.example/public/y",
                    "https://norobots.example/z"}


def test_duplicate_frontier_urls_fetched_once_with_history(spark,
                                                           tmp_path):
    """Duplicate frontier URLs must collapse to one fetch even when
    the fetch log already has snapshots — the anti-join used to build
    from the raw frontier and discard the dedup (ADVICE r6)."""
    log = SnapshotTable(str(tmp_path / "log_dup"))
    spans = SnapshotTable(str(tmp_path / "spans_dup"))
    run_crawl_cycle(
        spark, _frontier(spark, [("https://a.example/seed", 1.0)]),
        log, spans, fetcher=_make_fetcher())
    f1 = _frontier(spark, [
        ("https://a.example/p1", 3.0),   # re-discovered three times
        ("https://a.example/p1", 2.0),
        ("https://a.example/p1", 1.0),
        ("https://a.example/seed", 9.0),  # already fetched: skipped
    ])
    counts = run_crawl_cycle(spark, f1, log, spans,
                             fetcher=_make_fetcher())
    assert counts["unique"] == 2 and counts["new"] == 1
    assert counts["fetch_ok"] == 1
    # p1 logged exactly once; one row per distinct doc in spans
    assert log.read(spark).where("url like '%/p1'").count() == 1
    assert spans.read(spark).where(
        "doc_id = 'https://a.example/p1'").count() == 1
