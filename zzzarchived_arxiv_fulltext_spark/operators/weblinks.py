"""Web-link operators: URL parsing, domain statistics, blocklist
filtering, and link-graph PageRank for domain quality weighting.

Web-scale training corpora are keyed by URL: the first filtering
passes in C4/RefinedWeb-style pipelines act on the DOMAIN (blocklists,
per-domain caps, centrality-based quality weights) before any content
heuristic runs. These operators implement that family Spark-first:

- URL parsing is pure JVM regexp (one projection, pipelines with the
  scan);
- blocklist filtering explodes each host into its bounded suffix
  chain (a host has <= ~6 labels) and equi-joins the blocklist —
  never a LIKE scan over the corpus, and the blocklist side is tiny
  so AQE broadcasts it;
- PageRank is the all-DataFrame iterative pattern (same shape as
  ``plans/dedup_job.connected_keep_list``): per-iteration rank frame,
  a checkpoint every round to cut lineage, convergence on
  materialized data; NO driver-side graph, NO GraphX/RDDs.
"""

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import reuse

# scheme://[userinfo@]host[:port]/path — host is group 1, path group 2.
# The optional non-capturing userinfo segment matters for safety:
# without it 'https://user@blocked.com/x' parses its host as
# 'user@blocked.com' and silently bypasses the domain blocklist. The
# userinfo class allows '@' itself (GREEDY, so the host starts after
# the LAST '@' before the path) because that is how urllib/WHATWG and
# every real fetcher resolve 'https://a@b@bad.com/' — splitting at the
# first '@' would re-open the bypass.
_URL_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]+)[:0-9]*([^?#]*)"


def _registrable_domain(host, extra_suffixes=()) -> "F.Column":
    """Public-suffix-aware registrable domain for a lowercased host
    column: one label more than the longest matching public suffix
    (bundled PSL snapshot + caller's ``extra_suffixes``), falling back
    to the naive last-two-labels rule. ``a.co.uk`` and ``b.co.uk``
    stay DISTINCT domains for blocklists/caps/PageRank keys (VERDICT
    r5 #4). The suffix sets compile to Catalyst InSet (hash lookup) —
    still a pure JVM projection, no join, no shuffle.
    """
    from ..functions.public_suffix import (
        PUBLIC_SUFFIXES_2,
        PUBLIC_SUFFIXES_3,
    )

    extra2 = tuple(s for s in extra_suffixes if s.count(".") == 1)
    extra3 = tuple(s for s in extra_suffixes if s.count(".") == 2)
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.element_at(labels, -2),
                        F.element_at(labels, -1))
    last3 = F.concat_ws(".", F.element_at(labels, -3), last2)
    last4 = F.concat_ws(".", F.element_at(labels, -4), last3)
    return (
        F.when((n >= 4) & last3.isin(*(PUBLIC_SUFFIXES_3 + extra3)), last4)
        .when((n >= 3) & last2.isin(*(PUBLIC_SUFFIXES_2 + extra2)), last3)
        .when(n >= 2, last2)
        .otherwise(host)
    )


def parse_urls(df: DataFrame, url_col: str = "url",
               extra_suffixes=()) -> DataFrame:
    """Add (host, domain, tld, path_depth) columns parsed from
    ``url_col``.

    ``domain`` is the PSL-aware registrable domain (see
    :func:`_registrable_domain`; pass ``extra_suffixes`` to extend the
    bundled snapshot with the full current list or internal zones).
    Hosts are case-normalized (DNS names are case-insensitive —
    'EXAMPLE.COM' must cap/block/aggregate with 'example.com'). Pure
    JVM projection — no shuffle, no Python.
    """
    host = F.lower(F.regexp_extract(F.col(url_col), _URL_RE, 1))
    path = F.regexp_extract(F.col(url_col), _URL_RE, 2)
    labels = F.split(host, r"\.")
    depth = F.size(F.filter(F.split(path, "/"), lambda s: s != F.lit("")))
    return df.withColumns({
        "host": host,
        "domain": _registrable_domain(host, extra_suffixes),
        "tld": F.element_at(labels, -1),
        "path_depth": depth,
    })


def domain_stats(df: DataFrame, url_col: str = "url",
                 chars_col: Optional[str] = "n_chars",
                 extra_suffixes=()) -> DataFrame:
    """Per-domain corpus statistics: doc count, distinct hosts, mean
    document size — the input to per-domain caps and weighting.

    One map-side-combinable aggregation keyed by domain.
    """
    parsed = parse_urls(df, url_col, extra_suffixes)
    aggs = [
        F.count("*").alias("n_docs"),
        F.count_distinct("host").alias("n_hosts"),
        F.round(F.avg("path_depth"), 6).alias("avg_path_depth"),
    ]
    if chars_col is not None:
        aggs.append(F.round(F.avg(chars_col), 6).alias("avg_chars"))
    return parsed.groupBy("domain").agg(*aggs)


def _host_suffixes(host_col):
    """All dot-suffixes of a host: 'a.b.example.com' →
    [a.b.example.com, b.example.com, example.com, com]. Bounded by
    the label count (hosts have <= ~6 labels), so the explode adds a
    small constant factor, not a blow-up."""
    labels = F.split(host_col, r"\.")
    n = F.size(labels)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(labels, i, n), "."),
    )


def filter_blocked_domains(df: DataFrame, blocklist: DataFrame,
                           url_col: str = "url",
                           id_col: str = "doc_id",
                           blocked_col: str = "blocked_domain",
                           ) -> DataFrame:
    """Drop documents whose host IS a blocked domain or any subdomain
    of one (standard URL-blocklist semantics).

    The host explodes into its bounded suffix chain and equi-joins the
    blocklist — suffix matching as a JOIN, not a LIKE scan. The
    blocklist is FORCE-broadcast: it is small by contract (a curated
    list, not corpus-derived), and without the hint Catalyst's
    unknown-size default on in-memory relations can pick BuildLeft
    and broadcast the exploded CORPUS side instead — fatal at scale.
    Only (id, suffix) pairs ever shuffle — the document payload stays
    in place until the final LEFT ANTI on the id (never an exceptAll,
    which would shuffle and hash-compare entire text rows); AQE turns
    that anti-join into a broadcast when the blocked set is small.
    """
    host = F.lower(F.regexp_extract(F.col(url_col), _URL_RE, 1))
    suffixes = df.select(
        F.col(id_col),
        F.explode(_host_suffixes(host)).alias("_suffix"))
    blocked_ids = (
        suffixes
        .join(F.broadcast(blocklist.select(
            F.lower(F.col(blocked_col)).alias("_suffix"))),
            on="_suffix")
        .select(id_col)
        .distinct()
    )
    return df.join(blocked_ids, on=id_col, how="left_anti")


def _domain_of(url, extra_suffixes=()) -> "F.Column":
    """Registrable-domain expression for a URL column (same PSL-aware
    rule as :func:`parse_urls`)."""
    host = F.lower(F.regexp_extract(url, _URL_RE, 1))
    return _registrable_domain(host, extra_suffixes)


def link_graph(df: DataFrame, html_col: str = "html",
               url_col: str = "url", extra_suffixes=()) -> DataFrame:
    """Domain-level link graph from raw HTML pages:
    (src, dst, n_links) edges, relative hrefs resolved against the
    page URL — the input to :func:`page_rank`.

    One Arrow-batched Python crossing carries the HTML payload (the
    real stdlib parser, shared with html_metadata); everything after
    the explode is JVM: domain parsing is a projection and the edge
    aggregation is map-side combinable. Pages without links simply
    contribute no rows.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.html_extract import html_links

    @pandas_udf("array<string>")
    def links_udf(htmls: pd.Series, bases: pd.Series) -> pd.Series:
        return pd.Series(
            [html_links(h, b) for h, b in zip(htmls, bases)])

    edges = df.select(
        F.col(url_col).alias("src_url"),
        F.explode(links_udf(F.col(html_col), F.col(url_col)))
        .alias("dst_url"),
    )
    return (
        edges.select(
            _domain_of(F.col("src_url"), extra_suffixes).alias("src"),
            _domain_of(F.col("dst_url"), extra_suffixes).alias("dst"),
        )
        .where((F.col("src") != "") & (F.col("dst") != ""))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("n_links"))
    )


def canonicalize_url(url_col) -> "F.Column":
    """Canonical form for URL-level dedup: lowercase scheme+host,
    DEFAULT ports (http:80 / https:443) and fragments stripped,
    non-default ports preserved (distinct origins stay distinct),
    tracking parameters (utm_*, fbclid, gclid) removed, remaining
    query params sorted, trailing slashes dropped from non-root paths.

    URLs that don't parse (no scheme://host) pass through UNCHANGED —
    every malformed URL stays its own key instead of all collapsing
    onto one constant (which would mass-dedup dirty crawl rows).

    Pure JVM expression chain (regexp + array ops) — pipelines with
    the scan; two URLs that differ only in tracking noise map to the
    same key, so exact dedup on the result catches the URL-duplicate
    class MinHash never needs to see.
    """
    url = F.col(url_col) if isinstance(url_col, str) else url_col
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(url, _URL_RE, 1))
    port = F.regexp_extract(
        url, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?[^/:?#@]+:(\d+)", 1)
    is_default = (
        (port == "")
        | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    port_part = F.when(is_default, F.lit("")).otherwise(
        F.concat(F.lit(":"), port))
    path = F.regexp_extract(url, _URL_RE, 2)
    # ALL trailing slashes in one pass (idempotent; one-at-a-time
    # stripping made canonicalize(canonicalize(u)) differ on 'x//')
    path = F.regexp_replace(path, "/+$", "")
    # query = text between the FIRST '?' of the pre-fragment part and
    # the fragment ('#a?b' carries no query; an unanchored \\? would
    # read one out of the fragment)
    query = F.regexp_extract(
        F.regexp_replace(url, "#.*", ""), r"\?(.*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != F.lit(""))
        & ~p.rlike(r"^(utm_[^=]*|fbclid|gclid)(=|$)"),
    )
    qs = F.array_join(F.array_sort(params), "&")
    canonical = F.concat(
        scheme, F.lit("://"), host, port_part,
        F.when(path == "", F.lit("/")).otherwise(path),
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )
    return F.when(host == "", url).otherwise(canonical)


def dedup_by_canonical_url(df: DataFrame, url_col: str = "url",
                           id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per canonical URL — exact-dedup
    scale shape (one map-side-combinable groupBy on the canonical
    key). NULL-url documents each keep their own group (a NULL is an
    absent key, not a shared one)."""
    key = F.coalesce(
        canonicalize_url(url_col),
        F.concat(F.lit("_nullurl_"), F.col(id_col).cast("string")))
    return (
        df.select(F.col(id_col).alias("id"), key.alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.min("id").alias("id"), F.count("*").alias("group_size"))
        .select("id", "canon_url", "group_size")
    )


def cap_docs_per_domain(df: DataFrame, max_docs: int,
                        url_col: str = "url",
                        id_col: str = "doc_id",
                        extra_suffixes=()) -> DataFrame:
    """Per-domain document cap (RefinedWeb-style): keep at most
    ``max_docs`` documents per registrable domain, chosen
    DETERMINISTICALLY by hash order (not ingestion order), so the
    result is stable under re-partitioning and resume.

    One shuffle on domain; the rank window sorts only within each
    domain's partition. Hot domains are exactly the rows the cap
    discards, so the skewed tail is bounded by construction — AQE
    splits any oversized partition before the sort.
    """
    from pyspark.sql import Window

    parsed = parse_urls(df, url_col, extra_suffixes)
    order = F.md5(F.concat_ws("|", F.lit("cap"),
                              F.col(id_col).cast("string")))
    w = Window.partitionBy("domain").orderBy(order)
    return (
        parsed.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= max_docs)
        .drop("_rk", "host", "tld", "path_depth")
    )


def hits_scores(edges: DataFrame, iterations: int = 5,
                src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """HITS hubs-and-authorities over an edge list — the companion
    centrality to :func:`page_rank` (authorities ≈ good content
    sources, hubs ≈ good link pages; both useful domain-quality
    priors for corpus weighting).

    All-DataFrame alternating power iteration with L2 normalization:
    each half-step is one equi-join + one aggregation; the norm stays
    IN the plan as a broadcast one-row cross join instead of a
    ``first()`` collect — a driver action per half-step forced every
    round to materialize eagerly (2 jobs per iteration of pure
    scheduling overhead on small graphs, and a driver round-trip at
    any scale). A checkpoint every second iteration still
    bounds lineage/planning depth for long runs. Returns (node, auth,
    hub) for every node.
    """
    if iterations < 1:
        raise ValueError("hits_scores needs iterations >= 1")
    src = F.col(src_col).alias("node")
    dst = F.col(dst_col).alias("node")
    nodes = edges.select(src).unionByName(edges.select(dst)).distinct()
    nodes = reuse(nodes)

    def _spread(scores: DataFrame, score_col: str, from_col: str,
                to_col: str, out_col: str) -> DataFrame:
        """sum score over edges from `from_col` side onto `to_col`,
        L2-normalized; zero for nodes receiving nothing."""
        raw = (
            edges.join(scores, on=edges[from_col] == F.col("node"))
            .groupBy(F.col(to_col).alias("node"))
            .agg(F.sum(score_col).alias(out_col))
        )
        full = nodes.join(raw, on="node", how="left").select(
            "node", F.coalesce(F.col(out_col), F.lit(0.0)).alias(out_col))
        norm = full.agg(
            F.sqrt(F.sum(F.col(out_col) * F.col(out_col))).alias("_nrm"))
        safe = F.when(F.col("_nrm").isNull() | (F.col("_nrm") == 0.0),
                      F.lit(1.0)).otherwise(F.col("_nrm"))
        return full.crossJoin(F.broadcast(norm)).select(
            "node", (F.col(out_col) / safe).alias(out_col))

    hubs = nodes.withColumn("hub", F.lit(1.0))
    auth = None
    for i in range(iterations):
        # auth feeds BOTH the next half-step and the final join, so it
        # is materialized once per iteration (otherwise its subtree is
        # evaluated twice per round); hubs feeds only the next round's
        # auth and needs no checkpoint between actions.
        auth = reuse(_spread(hubs, "hub", src_col, dst_col, "auth"))
        hubs = _spread(auth, "auth", dst_col, src_col, "hub")
    return auth.join(hubs, on="node")


def page_rank(edges: DataFrame, iterations: int = 10,
              damping: float = 0.85,
              src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """PageRank over an edge list — domain centrality for quality
    weighting (the signal CommonCrawl-derived pipelines use to
    up-weight reputable sources).

    All-DataFrame iterative: contribution = rank/out_degree flows
    along edges, new rank = (1-d)/N + d * (received + dangling/N).
    Dangling mass (nodes with no outlinks) is redistributed uniformly,
    so total rank is conserved at every iteration. Each round is one
    equi-join + one aggregation; a checkpoint cuts lineage per
    round (the keep-list pattern — no driver-side graph, works at
    edge counts that only fit distributed).

    Returns (node, rank) for every node appearing as src or dst.
    """
    src = F.col(src_col).alias("node")
    dst = F.col(dst_col).alias("node")
    nodes = edges.select(src).unionByName(edges.select(dst)).distinct()
    nodes = reuse(nodes)
    n_nodes = nodes.count()
    if not n_nodes:
        # empty link graph (e.g. a corpus slice without http links):
        # a typed empty frame, not a ZeroDivisionError on the driver
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = edges.groupBy(F.col(src_col).alias("node")).agg(
        F.count("*").alias("out_deg"))
    # Dangling-node set is a property of the GRAPH, not the iteration:
    # probe once; when it's empty (most link graphs after
    # sink-pruning) every per-iteration dangling-mass job is skipped
    # entirely and the set is never even materialized.
    dangling_nodes = nodes.join(out_deg, on="node", how="left_anti")
    has_dangling = bool(dangling_nodes.head(1))
    if has_dangling:
        dangling_nodes = reuse(dangling_nodes)

    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for it in range(iterations):
        # dangling nodes: rank mass with nowhere to go → uniform spread
        dangling = 0.0
        if has_dangling:
            dangling = (
                ranks.join(dangling_nodes, on="node", how="semi")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                .first()[0]
            )
        contribs = (
            edges
            .join(ranks.join(out_deg, on="node"),
                  on=edges[src_col] == F.col("node"))
            .select(
                F.col(dst_col).alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("received"))
        )
        base = (1.0 - damping) / n_nodes + damping * dangling / n_nodes
        ranks = (
            nodes.join(contribs, on="node", how="left")
            .select(
                "node",
                (F.lit(base)
                 + F.lit(damping) * F.coalesce(F.col("received"),
                                               F.lit(0.0))).alias("rank"),
            )
        )
        # Materialization cadence: when the graph has dangling nodes
        # the loop runs a driver action (`first`) per round, so the
        # previous rounds MUST be checkpointed or round k recomputes
        # rounds 1..k-1 (quadratic). Without dangling nodes there is
        # no per-round action — the final action evaluates each
        # round's join+aggregate exactly once as one deep DAG — so a
        # checkpoint every round would only add a scheduling job; keep
        # one every 4 rounds purely to bound plan depth.
        if has_dangling or (it + 1) % 4 == 0:
            ranks = reuse(ranks)
    return ranks


def drop_noindex_pages(df: DataFrame, html_col: str = "html",
                       id_col: str = "doc_id") -> DataFrame:
    """Drop pages whose robots meta declares ``noindex`` (or ``none``)
    — the page-level consent filter beside the domain blocklist: a
    crawl corpus must honor explicit do-not-index signals.

    One Arrow-batched pass over the HTML (shared stdlib parser with
    ``html_metadata``); the filter runs in the same stage, so dropped
    pages never shuffle.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.html_extract import html_metadata

    @pandas_udf("boolean")
    def noindex_udf(htmls: pd.Series) -> pd.Series:
        return pd.Series(
            [bool(html_metadata(h)["noindex"]) for h in htmls])

    return df.where(~noindex_udf(F.col(html_col)))


def anchor_text_pairs(df: DataFrame, html_col: str = "html",
                      url_col: str = "url",
                      id_col: str = "doc_id") -> DataFrame:
    """(src doc, target url, anchor text) rows from raw HTML — the
    weak-supervision signal retrieval corpora mine (anchor text is a
    human-written query for its target page; aggregated per target it
    becomes training data for dense retrievers).

    One Arrow-batched pass carries the HTML (shared stdlib parser);
    the explode and everything after is JVM. Pages without links
    contribute no rows.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.html_extract import html_anchor_texts

    @pandas_udf("array<struct<target: string, anchor: string>>")
    def anchors_udf(htmls: pd.Series, bases: pd.Series) -> pd.Series:
        return pd.Series(
            [html_anchor_texts(h, b) for h, b in zip(htmls, bases)])

    return df.select(
        F.col(id_col),
        F.explode(anchors_udf(F.col(html_col), F.col(url_col)))
        .alias("a"),
    ).select(id_col, F.col("a.target").alias("target"),
             F.col("a.anchor").alias("anchor"))


def robots_crawl_delays(robots_df: DataFrame,
                        user_agent: str = "*",
                        host_col: str = "host",
                        robots_col: str = "robots_txt") -> DataFrame:
    """(host, crawl_delay) from raw robots.txt rows — feed straight
    into ``fetch_documents(host_delay=...)`` (or a per-host variant).
    One Arrow pass over the robots side only."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.robots import parse_robots_txt

    @pandas_udf("double")
    def delay_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [parse_robots_txt(t, user_agent)["crawl_delay"]
             for t in texts])

    return robots_df.select(
        F.col(host_col).alias("host"),
        delay_udf(F.col(robots_col)).alias("crawl_delay"),
    ).where(F.col("crawl_delay").isNotNull())


def filter_robots_disallowed(df: DataFrame, robots_df: DataFrame,
                             url_col: str = "url",
                             id_col: str = "doc_id",
                             host_col: str = "host",
                             robots_col: str = "robots_txt",
                             user_agent: str = "*") -> DataFrame:
    """Drop documents whose URL a host's robots.txt disallows for
    ``user_agent`` — the host-level consent filter beside the robots
    meta (``drop_noindex_pages``); RFC 9309 longest-match semantics.

    Scale shape: robots.txt parsing (the only Python) runs ONCE PER
    HOST on the small robots side, exploding each host's rules into
    (host, regex, priority) rows; the corpus joins on host and the
    longest-match decision is one JVM ``rlike`` + ``max_by`` per
    document — the payload never crosses into Python and never
    shuffles (only (id, host, path) triples do). Hosts without a
    robots row (or with no matching rule) are allowed, per spec.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.robots import robots_rule_table

    @pandas_udf("array<struct<allow: boolean, regex: string,"
                " priority: int>>")
    def rules_udf(texts: pd.Series) -> pd.Series:
        return pd.Series([
            [(r["allow"], r["regex"], r["priority"])
             for r in robots_rule_table(t, user_agent)]
            for t in texts])

    rules = (
        robots_df.select(F.lower(F.col(host_col)).alias("_host"),
                         F.explode(rules_udf(F.col(robots_col)))
                         .alias("_r"))
        .select("_host", F.col("_r.allow").alias("_allow"),
                F.col("_r.regex").alias("_regex"),
                F.col("_r.priority").alias("_priority"))
    )
    host = F.lower(F.regexp_extract(F.col(url_col), _URL_RE, 1))
    # REP matches on path + query (fragment excluded)
    pathq = F.regexp_extract(
        F.col(url_col),
        r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?[^/?#]+([^#]*)", 1)
    pathq = F.when(pathq == "", F.lit("/")).otherwise(pathq)
    keys = df.select(F.col(id_col), host.alias("_host"),
                     pathq.alias("_path"))
    decisions = (
        keys.join(rules, on="_host")
        .where(F.expr("_path rlike _regex"))
        .groupBy(id_col)
        .agg(F.max_by("_allow", "_priority").alias("_allow"))
    )
    blocked = decisions.where(~F.col("_allow")).select(id_col)
    return df.join(blocked, on=id_col, how="left_anti")


def crawl_frontier_batches(
    df: DataFrame,
    url_col: str = "url",
    score_col: str = "score",
    per_host_per_batch: int = 1,
    max_batches: Optional[int] = None,
    extra_suffixes=(),
) -> DataFrame:
    """Politeness-aware crawl scheduling: assign every frontier URL a
    ``fetch_batch`` such that no batch contains more than
    ``per_host_per_batch`` URLs of the same host, and within a host
    higher-``score_col`` URLs (priority from PageRank / anchor-text
    signals) fetch first.

    The k-th highest-priority URL of each host lands in batch
    ``(k-1) // per_host_per_batch`` — executing batches in order is
    exactly the per-host round-robin a polite fetcher needs (pair with
    ``sources.http_fetch``'s host-partitioned delay for intra-batch
    pacing). ``max_batches`` drops the tail of over-represented hosts
    (observable via the count difference), bounding a crawl cycle.

    Scale shape: one shuffle on ``host`` for the row_number window —
    no global sort, no driver state. A mega-host skews its single
    partition; AQE splits it, and the cap keeps its schedule length
    bounded. Ties break on URL for determinism.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy(
        F.col(score_col).desc(), F.col(url_col))
    out = (
        parse_urls(df, url_col, extra_suffixes)
        .withColumn(
            "fetch_batch",
            ((F.row_number().over(w) - 1)
             / per_host_per_batch).cast("int"),
        )
    )
    if max_batches is not None:
        out = out.where(F.col("fetch_batch") < max_batches)
    return out
