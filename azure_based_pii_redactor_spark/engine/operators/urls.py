"""URL canonicalization + URL-level page dedup -- the first dedup any
crawl pipeline runs (the same page is fetched via http/https, with and
without fragments, and with tracking query params).

Everything is a JVM-side column expression (parse_url + higher-order
array functions -- no Python, whole-stage codegen), so the canonical key
is computable inside the scan projection at 10^12 rows (try_parse_url:
Spark 4's parse_url THROWS on invalid urls; unparseable urls pass
through verbatim as their own key):

- scheme dropped (http/https duplicates collapse);
- host lowercased, leading ``www.`` stripped, default :80/:443 stripped;
- path kept case-sensitive (paths ARE case-sensitive), trailing ``/``
  trimmed;
- fragment dropped (never sent to the server);
- query params split, tracking params removed (utm_*, fbclid, gclid,
  msclkid, ref), the rest SORTED so param order doesn't matter, empty
  query dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# utm_\w+ (not [a-z]+): GA4 params like utm_source_platform /
# utm_campaign_id carry underscores and digits; (=|$) also strips the
# VALUELESS form (?fbclid).  'reference=' stays: after 'ref' the next
# char must be '=' or end.
_TRACKING_RE = r"(?i)^(utm_\w+|fbclid|gclid|msclkid|ref)(=|$)"


def collapsed_authority(u: Column) -> Column:
    """The AUTHORITY-derived host key both ``canonical_url`` and
    ``cap_per_domain`` collapse on: userinfo stripped, lowercased,
    leading ``www.`` stripped, DEFAULT ports (:80/:443) stripped -- a
    non-default port stays, so ``host.example:8080`` remains a distinct
    origin (Spark's HOST part would silently drop it).  NULL for urls
    ``try_parse_url`` cannot handle."""
    host = F.lower(
        F.regexp_replace(
            F.try_parse_url(u, F.lit("AUTHORITY")), r"^[^@]*@", ""
        )
    )
    host = F.regexp_replace(host, r"^www\.", "")
    return F.regexp_replace(host, r":(80|443)$", "")


def canonical_url(url) -> Column:
    """Canonical form of a url column/name (see module docstring)."""
    u = F.col(url) if isinstance(url, str) else url
    host = collapsed_authority(u)
    path = F.coalesce(F.try_parse_url(u, F.lit("PATH")), F.lit(""))
    path = F.regexp_replace(path, r"/+$", "")
    query = F.try_parse_url(u, F.lit("QUERY"))
    kept = F.array_sort(
        F.filter(
            F.split(F.coalesce(query, F.lit("")), "&"),
            lambda p: (p != "") & ~p.rlike(_TRACKING_RE),
        )
    )
    qpart = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.when(host.isNull(), u).otherwise(
        F.concat(host, path, qpart)
    )


def dedup_pages_by_url(pages: DataFrame) -> DataFrame:
    """One page per canonical url: deterministic keeper = newest
    warc_ts, then smallest original url, then smallest payload hash
    (re-crawls supersede older fetches; the hash makes the order TOTAL
    -- two fetches of one url inside the timestamp granularity would
    otherwise tie and row_number would pick a shuffle-order-dependent
    winner, breaking resume determinism).  Standard rank-window shape --
    shuffles once on the canonical key; no skew by construction
    (host+path keys are near-unique)."""
    order = [
        F.desc_nulls_last("warc_ts"),
        F.asc("url"),
        F.asc_nulls_first(F.md5(F.col("html"))),
    ]
    # interchange formats (jsonl) carry text/lang (or other columns) as
    # INDEPENDENT input fields: two fetches can tie on (ts, url, html)
    # and still differ there -- hash every remaining column into the
    # order so the keeper's EVERY column is deterministic across
    # retries/resumes
    extra = [c for c in pages.columns if c not in ("url", "warc_ts", "html")]
    if extra:
        order.append(F.asc(F.xxhash64(*extra)))
    w = Window.partitionBy("canonical_url").orderBy(*order)
    return (
        pages.withColumn("canonical_url", canonical_url("url"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def domain_suffixes(host: Column, max_labels: int = 10) -> Column:
    """The dot-boundary suffix chain of a host -- ``a.b.example.com`` ->
    ``[a.b.example.com, b.example.com, example.com, com]`` -- as a pure
    JVM array expression (split + sequence + slice inside the scan
    projection; no explode here, callers choose where to explode).
    Suffix matching is how every domain blocklist (UT1, the C4/RefinedWeb
    adult/malware lists) is applied: an entry ``example.com`` must block
    ``shop.example.com`` too, and substring/LIKE matching over-blocks
    (``notexample.com``) while exact matching under-blocks.

    ``max_labels`` bounds the array (deepest suffixes kept): a crafted
    host with thousands of dot-separated labels must cost O(max_labels),
    not O(labels) -- real registrable domains are <= ~5 labels deep, so
    10 loses nothing a blocklist could match."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    start = F.greatest(F.lit(1), n - F.lit(max_labels) + 1)
    return F.transform(
        F.sequence(start, n),
        lambda i: F.array_join(F.slice(labels, i, n), "."),
    )


def blocked_host_set(
    pages: DataFrame, blocklist: DataFrame, max_labels: int = 10
) -> DataFrame:
    """The DISTINCT corpus hosts matched by a domain blocklist
    (column ``domain``: registrable domains, matched exactly or as a
    dot-boundary suffix).  Scale shape: suffixes are exploded over
    DISTINCT hosts only (~10^8 at crawl scale, x <= max_labels rows --
    never over the 10^12 pages), then a broadcast LEFT SEMI join against
    the blocklist keeps matching hosts.  Hosts are keyed by
    ``collapsed_authority`` -- the same collapse ``canonical_url`` and
    ``cap_per_domain`` use -- so ``www.bad.example:443`` matches a
    ``bad.example`` entry."""
    host = F.nullif(collapsed_authority(F.col("url")), F.lit(""))
    hosts = (
        pages.select(host.alias("__host"))
        .where(F.col("__host").isNotNull())
        .distinct()
    )
    # collapse the blocklist side the same way the hosts are collapsed:
    # real UT1-style lists carry www-prefixed and port-qualified entries,
    # and an uncollapsed 'www.bad.example' entry would match NOTHING
    # (hosts arrive www-stripped), silently un-blocking an explicitly
    # listed domain
    bl_host = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("domain")), r"^www\.", ""),
        r":(80|443)$",
        "",
    )
    bl = F.broadcast(blocklist.select(bl_host.alias("__bl")).distinct())
    sfx = hosts.select(
        "__host",
        F.explode(domain_suffixes(F.col("__host"), max_labels)).alias(
            "__sfx"
        ),
    )
    return (
        sfx.join(bl, sfx["__sfx"] == F.col("__bl"), "left_semi")
        .select("__host")
        .distinct()
    )


def filter_blocklisted_domains(
    pages: DataFrame, blocklist: DataFrame, max_labels: int = 10
) -> DataFrame:
    """Drop pages whose host matches a domain blocklist (UT1-style
    adult/malware/spam domain lists -- the standard Common-Crawl
    corpus-builder gate that runs BEFORE any text-level filtering,
    because it needs only the url).  Matching is exact-or-suffix on dot
    boundaries via ``blocked_host_set``; pages whose url the parser
    cannot handle (host NULL) pass through -- a domain list can say
    nothing about a url without a domain.

    Scale shape: the blocklist broadcasts (left_semi over exploded
    DISTINCT-host suffixes), and the resulting blocked-host set is the
    anti-join key against pages.  No broadcast hint on that anti-join:
    the blocked set is usually tiny (corpus hosts INTERSECT blocklist)
    and AQE promotes it to a broadcast join at runtime, but a
    pathological corpus where millions of hosts match must fall back to
    a shuffle on the host key -- the same shuffle class
    ``cap_per_domain`` already pays -- instead of OOMing the driver."""
    blocked = blocked_host_set(pages, blocklist, max_labels)
    host = F.nullif(collapsed_authority(F.col("url")), F.lit(""))
    return (
        pages.withColumn("__host", host)
        .join(blocked, "__host", "left_anti")
        .drop("__host")
    )


def cap_per_domain(pages: DataFrame, max_per_domain: int) -> DataFrame:
    """Domain balancing: keep at most ``max_per_domain`` pages per
    domain -- the standard Common-Crawl corpus-builder stage that stops
    a handful of mega-hosts from dominating the training mix.

    Keeper selection is DETERMINISTIC: pages are ranked inside each
    domain by the md5-derived 60-bit hash of the url (url as
    tie-break), i.e. a reproducible uniform shuffle -- the same pages
    survive across runs, retries and resumes, with no rand() and no
    dependence on input order.  The md5 derivation is the repo's
    cross-engine-exact hash (``textstats.md5_hash60``), so a DuckDB
    oracle recomputes the KEEPER SET, not just the capped counts --
    the corpus-builder funnel relies on this; at 10^12 rows swap for
    ``xxhash64(url)`` (same plan, faster hash) and lose only the
    oracle.

    The capping key is ``collapsed_authority`` -- EXACTLY the collapse
    ``canonical_url`` applies (userinfo stripped, lowercased, ``www.``
    and default :80/:443 stripped, non-default ports KEPT), because a
    mega-host crawled under both ``www.hot.com`` and ``hot.com`` must
    share ONE quota while ``hot.com:8080`` remains a separate origin
    with its own (this deliberately differs from
    ``engine.metrics.with_domain``, which reports hosts as crawled).
    URLs the parser cannot handle are EXEMPT from the cap (keyed by
    their raw url, each its own group): a million odd-but-real pages
    must not be silently truncated to one collective quota.  The key is
    computed under a private name -- a caller's existing ``domain``
    column passes through untouched.

    Scale shape: ONE shuffle on the key into a rank window.  A
    10^7-page hot domain lands in one window partition and is sorted
    linearly there; row_number is evaluated streaming (no full
    materialization), so the cost is the sort of the hot partition.  At
    more extreme skew swap in the two-phase threshold form -- per-domain
    counts (map-side-combined), broadcast the over-quota domains, and
    filter ``pmod(xxhash64(url), count) < quota`` for an approximate
    cap, or compute each hot domain's quota-th smallest hash as an
    exact per-domain threshold -- the hash keeper rule above makes both
    refine THIS operator's semantics rather than replace them."""
    from .textstats import md5_hash60

    # nullif: a userinfo-only authority ('https://user@/p') collapses to
    # the EMPTY string, not NULL -- without it every such odd-but-real
    # url shared one '' quota group and got capped away together.
    key = F.coalesce(
        F.nullif(collapsed_authority(F.col("url")), F.lit("")),
        F.col("url"),  # unparseable / empty-authority: own group
    )
    w = Window.partitionBy("__cap_key").orderBy(
        md5_hash60(F.col("url")), F.asc("url")
    )
    return (
        pages.withColumn("__cap_key", key)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_per_domain)
        .drop("__rn", "__cap_key")
    )


_HREF_RE = r"""(?i)<a\s[^>]*?(?<![\w-])href\s*=\s*(["'])([^"'<>\s]*)\1"""
# anchor hrefs, both quote styles via a backreference.  The lookbehind
# keeps data-href/ng-href/xlink:href from being captured as the link
# (which would also skip the tag's REAL href -- scanning resumes after
# a match).  The body class excludes quotes/angles/whitespace: legal
# urls contain none of them, and it makes an UNTERMINATED quote fail to
# match at all (the next anchor still matches) instead of swallowing
# the rest of the line and emitting garbage that passes the absolute
# filter.


def extract_outlinks(
    pages: DataFrame, url_col: str = "url", html_col: str = "html",
    max_links_per_page: int = 1_000,
) -> DataFrame:
    """``(src, href)`` for every ABSOLUTE outbound anchor on every page
    -- the raw material of the link graph (domain in-degree is the
    classic crawl-side quality prior: pages on widely-linked-to domains
    are worth more crawl budget and survive quality cuts more often).

    One JVM ``regexp_extract_all`` pass inside the scan projection (no
    Python, no parser state); html arrives as the pages-schema binary
    column and is cast tolerantly.  Kept links: ``http(s)://...``
    verbatim and protocol-relative ``//host/...`` (normalized to
    https).  Relative links are dropped by design -- resolving them
    needs base-url joining that only matters for intra-site graphs,
    and intra-site edges are excluded from the in-degree prior anyway
    (``domain_link_stats`` drops same-host edges).  ``javascript:``,
    ``mailto:``, fragments, and data URIs all fail the absolute test
    and fall out with them.

    ``max_links_per_page`` bounds the explode: a crafted link farm
    costs O(max), not O(page bytes)."""
    doc = F.col(html_col).cast("string")
    links = F.slice(
        F.regexp_extract_all(doc, F.lit(_HREF_RE), 2),
        1,
        max_links_per_page,
    )
    href = F.col("__href")
    return (
        pages.select(
            F.col(url_col).alias("src"),
            F.explode(links).alias("__href"),
        )
        .where(href.rlike(r"(?i)^(https?:)?//"))
        .select(
            "src",
            F.when(
                href.startswith("//"), F.concat(F.lit("https:"), href)
            )
            .otherwise(href)
            .alias("href"),
        )
    )


def domain_link_stats(links: DataFrame) -> DataFrame:
    """Per-target-domain in-degree over an ``(src, href)`` edge list:
    total inbound links and DISTINCT referring domains (the number that
    actually ranks -- one spam site emitting a million links counts
    once).  Same-host edges (navigation) and unparseable targets are
    excluded; hosts collapse with ``collapsed_authority`` so
    ``www.x.example`` and ``x.example:443`` pool.

    Scale shape: one projection computing both host keys, one hash
    aggregation; ``count_distinct`` is the exact two-phase form -- at
    10^11 edges swap it for ``hll_sketch_agg`` over src_host (the
    mergeable-sketch path ``agg_count_distinct`` already proves) and
    keep this exact form as the verifier."""
    src_h = F.nullif(collapsed_authority(F.col("src")), F.lit(""))
    tgt_h = F.nullif(collapsed_authority(F.col("href")), F.lit(""))
    return (
        links.select(src_h.alias("__s"), tgt_h.alias("__t"))
        .where(
            F.col("__t").isNotNull()
            & (F.col("__s").isNull() | (F.col("__s") != F.col("__t")))
        )
        .groupBy(F.col("__t").alias("domain"))
        .agg(
            F.count("*").alias("n_inlinks"),
            F.count_distinct("__s").alias("n_src_domains"),
        )
        # no presentational orderBy: a global sort over ~10^8 domains is
        # an extra range shuffle no consumer needs -- callers that want
        # a top-k use orderBy().limit() (TakeOrderedAndProject)
    )


PAGERANK_SCALE = 10**9  # total rank mass, integer units of 1e-9.  Bound
# that keeps every product in int64 under ANSI (loud on overflow):
# damping_num * rank * edge_weight <= 85 * 1e9 * w  needs  w < ~1e8
# links between one ordered domain pair -- far beyond any real crawl
# cell; raise SCALE only with a decimal widening (see dsir.py:110's
# scoped-ceiling precedent).
PAGERANK_DAMPING = (85, 100)  # alpha = 0.85 as an exact rational
PAGERANK_ITERS = 3


def domain_pagerank(
    edges: DataFrame,
    iterations: int = PAGERANK_ITERS,
    damping: tuple[int, int] = PAGERANK_DAMPING,
    scale: int = PAGERANK_SCALE,
    trace_iteration: int | None = None,
) -> DataFrame:
    """Domain-level PageRank over an ``(src_domain, dst_domain)``
    page-level edge list -- the link-graph quality prior one step up
    from ``domain_link_stats``'s in-degree: rank flows THROUGH domains,
    so a domain linked by well-linked domains outranks one linked by
    the same count of nobodies (Page et al. 1999; the crawl-frontier
    prioritizer of every production crawler since).

    ENTIRELY integer arithmetic so two engines (and two runs) agree
    bit-for-bit: rank mass ``scale`` is distributed in integer units,
    damping is the exact rational ``damping[0]/damping[1]``, and every
    division is a floor (``div`` / ``//`` on non-negative BIGINTs).
    Per iteration: r'(v) = (den-num)*scale/(den*n)  [teleport]
    + num*D/(den*n)  [dangling mass D redistributed uniformly]
    + sum over in-edges of num*r(u)*w/(den*W_u), every term floored.
    Floor loss (< 1 unit per term) makes total mass decay by parts per
    billion per iteration -- deterministic, not drift.

    Plan shape per iteration: one hash join of ranks onto edges (both
    keyed by domain -- pre-partition both on domain to reuse the
    exchange across iterations), one hash aggregation to dst, one
    broadcast of the 1-row dangling aggregate.  Self-loops (same-domain
    navigation) are excluded up front, like ``domain_link_stats``.
    Each iteration ends in a localCheckpoint: every round reads the
    PREVIOUS ranks twice (dangling mass + contributions), so a lazy
    loop doubles the embedded plan per iteration (2^k executions of
    round 1 by round k -- observed as 7 copies of the iteration-1
    subtree at k=3 before the barrier); truncating lineage makes the
    work linear in iterations, at one tiny domain-sized job each.
    At web scale (~1e8 domains) each iteration is two shuffles of a
    domain-sized frame.  Returns (domain, rank)
    with sum(rank) ~= scale; with ``trace_iteration=k`` also returns
    ``rank_trace`` = the rank after iteration k, computed IN the same
    pass (the k-prefix is localCheckpointed, not re-run -- the driver
    leg uses this to hash-check the iteration structure without
    paying for two walks of the graph)."""
    num, den = damping
    # The three loop-invariant frames (weighted edge list, node set,
    # out-weights) are materialized ONCE: each iteration reads them from
    # several subtrees (dangling, contributions, the rank rebuild), so a
    # lazy form re-runs the page-level edge aggregation -- a full corpus
    # scan -- up to 8x PER ITERATION (measured r8: 5.6 s -> ~1.9 s at
    # sf0.1 from this barrier alone; at 1e8 domains the re-scans are the
    # difference between an edge-agg-once walk and re-aggregating the
    # crawl every round).  Same lineage lesson as the per-iteration rank
    # checkpoint below, applied to the loop constants.
    e = (
        edges.where(F.col("src_domain") != F.col("dst_domain"))
        .groupBy("src_domain", "dst_domain")
        .agg(F.count("*").alias("w"))
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src_domain").alias("domain"))
        .unionByName(e.select(F.col("dst_domain").alias("domain")))
        .distinct()
    ).localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        raise ValueError("domain_pagerank: empty edge list")
    outw = e.groupBy("src_domain").agg(
        F.sum("w").alias("outw")
    ).localCheckpoint(eager=True)
    base = ((den - num) * scale) // (den * n)
    r = nodes.withColumn("rank", F.lit(scale // n).cast("long"))
    traced = None
    for it in range(iterations):
        dangling = (
            r.join(
                outw, r["domain"] == outw["src_domain"], "left_anti"
            ).agg(
                F.coalesce(F.sum("rank"), F.lit(0))
                .cast("long")
                .alias("__dm")
            )
        )
        contrib = (
            e.join(r, e["src_domain"] == r["domain"])
            .join(outw, "src_domain")
            .groupBy(F.col("dst_domain").alias("domain"))
            .agg(
                F.sum(
                    F.expr(f"({num} * rank * w) div ({den} * outw)")
                ).alias("__c")
            )
        )
        r = (
            nodes.join(contrib, "domain", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "domain",
                (
                    F.lit(base)
                    + F.expr(f"({num} * __dm) div ({den} * {n})")
                    + F.coalesce(F.col("__c"), F.lit(0))
                )
                .cast("long")
                .alias("rank"),
            )
        )
        if it + 1 < iterations or it + 1 == trace_iteration:
            # see docstring: dangling + contrib both read r, so lineage
            # doubles per lazy iteration.  The FINAL iteration stays
            # lazy -- its plan (the per-iteration shape) remains
            # inspectable/pinnable and composes with the consumer.
            r = r.localCheckpoint(eager=True)
        if trace_iteration is not None and it + 1 == trace_iteration:
            traced = r.withColumnRenamed("rank", "rank_trace")
    if traced is not None:
        return r.join(traced, "domain")
    return r


_NOINDEX_RE = (
    r"(?i)<meta\b(?=[^>]*[\s'\"/]name\s*=\s*['\"]?robots\b)"
    r"(?=[^>]*[\s'\"/]content\s*=\s*(?:\"[^\"]*\b(?:noindex|none)\b"
    r"|'[^']*\b(?:noindex|none)\b|[^'\">\s]*\b(?:noindex|none)\b))[^>]*>"
)  # lookaheads make attribute ORDER irrelevant inside the one tag;
# attribute names must start after a separator, so data-content= or
# og:name= never stand in for them; content values may be double-
# quoted (and hold an apostrophe, as in "don't"), single-quoted OR bare
# (valid HTML5), and 'none' is the documented shorthand for 'noindex,
# nofollow'


def filter_noindex(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Drop pages whose html carries ``<meta name=robots ...
    content="...noindex...">`` -- the page-level opt-out every
    compliant crawl pipeline honors before training on a page (the
    robots.txt of the DOCUMENT: the server said "do not index this").

    One JVM ``rlike`` in the scan projection over the tolerantly-cast
    html column -- no Python, no parse, runs BEFORE any text
    extraction so refused pages never cost kernel time.  Attribute
    order and quoting (quoted or bare values) are normalized by the
    two lookaheads, and ``content="none"`` is honored as the
    documented noindex+nofollow shorthand; only the
    ``robots`` meta name is honored (agent-specific variants like
    ``googlebot`` are directives to someone else's crawler, not to
    this pipeline).  HTTP ``X-Robots-Tag`` headers live outside the
    pages schema -- apply this filter at WARC ingestion if headers are
    retained there."""
    return pages.where(
        ~F.coalesce(
            F.col(html_col).cast("string").rlike(_NOINDEX_RE),
            F.lit(False),
        )
    )


def crawl_delta(
    old: DataFrame, new: DataFrame, key_col: str = "url",
    content_cols: tuple[str, ...] = ("html",),
    hash_fn=None,
) -> DataFrame:
    """Snapshot diff between two crawls of key-unique pages (run
    ``dedup_pages_by_url`` first): per key, ``added`` (new only),
    ``gone`` (old only), ``changed`` (both, content differs), or
    ``unchanged`` -- the report every recurring-crawl pipeline logs
    before deciding what to re-process (the admission loop answers
    "is this a near-dup of ANYTHING"; this answers "what happened to
    each url between snapshots").

    Scale shape: content is hashed IN the scan projection, so the
    full-outer join shuffles (key, 8-byte hash) -- never the page
    payloads -- and co-partitions both sides on the key.  At 10^12
    pages the shuffle is key-width-bound, the same weight class as
    url dedup.  ``hash_fn`` is applied PER content column (so
    single-column hashes like the md5-derived oracle form compose
    with multi-column content) and defaults to ``xxhash64`` (JVM,
    fastest).  Presence is tracked with explicit markers, not hash
    nullity, and hashes compare null-safely -- a page whose content
    column is NULL (fetch-failed html) still diffs correctly even
    under a null-propagating hash."""
    if hash_fn is None:
        hash_fn = F.xxhash64
    if not content_cols:
        # ADVICE r7: an empty tuple left ``differs`` None and
        # F.when(None, ...) raised an obscure TypeError downstream
        raise ValueError(
            "crawl_delta: content_cols must name at least one column"
            " (presence-only diffing is key membership -- use a join)"
        )
    n = len(content_cols)
    oh = old.select(
        F.col(key_col).alias("__k"),
        F.lit(True).alias("__po"),
        *[hash_fn(c).alias(f"__ho{i}") for i, c in enumerate(content_cols)],
    )
    nh = new.select(
        F.col(key_col).alias("__k"),
        F.lit(True).alias("__pn"),
        *[hash_fn(c).alias(f"__hn{i}") for i, c in enumerate(content_cols)],
    )
    differs = None
    for i in range(n):
        d = ~F.col(f"__ho{i}").eqNullSafe(F.col(f"__hn{i}"))
        differs = d if differs is None else (differs | d)
    status = (
        F.when(F.col("__po").isNull(), "added")
        .when(F.col("__pn").isNull(), "gone")
        .when(differs, "changed")
        .otherwise("unchanged")
    )
    return (
        oh.join(nh, "__k", "full_outer")
        .select(F.col("__k").alias(key_col), status.alias("status"))
    )
