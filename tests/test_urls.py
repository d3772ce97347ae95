"""URL canonicalization + URL-level dedup (JVM-side expressions)."""

from datetime import datetime

from pyspark.sql import functions as F

from azure_based_pii_redactor_spark.engine.operators.urls import (
    canonical_url,
    dedup_pages_by_url,
)


def _canon(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [r.c for r in df.select(canonical_url("url").alias("c")).collect()]


def test_canonical_url_rules(spark):
    got = _canon(spark, [
        "http://www.Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag",
        "https://example.com/a/b?a=1&b=2",
        "https://example.com:443/a/b/",
        "http://example.com/a/b?fbclid=zzz&gclid=q",
        "https://other.net/Path/Case",     # path case preserved
        "not a url at all",                # unparseable: passthrough
    ])
    assert got[0] == "example.com/a/b?a=1&b=2"
    assert got[1] == "example.com/a/b?a=1&b=2"
    assert got[2] == "example.com/a/b"
    assert got[3] == "example.com/a/b"
    assert got[4] == "other.net/Path/Case"
    assert got[5] == "not a url at all"


def test_dedup_pages_by_url_newest_wins(spark):
    rows = [
        ("http://www.a.com/x?utm_source=s", datetime(2024, 1, 1), b"old"),
        ("https://a.com/x", datetime(2024, 6, 1), b"new"),
        ("https://a.com/x#frag", None, b"undated"),
        ("https://b.com/y", datetime(2024, 1, 1), b"only"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary"
    )
    out = {r.canonical_url: (r.url, bytes(r.html))
           for r in dedup_pages_by_url(pages).collect()}
    assert len(out) == 2
    assert out["a.com/x"] == ("https://a.com/x", b"new")  # newest fetch
    assert out["b.com/y"][1] == b"only"


def test_tracking_params_ga4_and_valueless(spark):
    """GA4 underscore/digit utm params and VALUELESS tracking params are
    stripped; 'reference=' (ref-prefixed real param) is kept."""
    from azure_based_pii_redactor_spark.engine.operators.urls import (
        canonical_url,
    )

    df = spark.createDataFrame(
        [("https://x.example/p?utm_source_platform=web",),
         ("https://x.example/p?fbclid",),
         ("https://x.example/p?utm_campaign_id=7&b=1",),
         ("https://x.example/p?reference=9",),
         ("https://x.example/p",)],
        "url string",
    )
    got = {r.url: r.c for r in df.select(
        "url", canonical_url("url").alias("c")).collect()}
    assert got["https://x.example/p?utm_source_platform=web"] == "x.example/p"
    assert got["https://x.example/p?fbclid"] == "x.example/p"
    assert got["https://x.example/p?utm_campaign_id=7&b=1"] == "x.example/p?b=1"
    assert got["https://x.example/p?reference=9"] == "x.example/p?reference=9"
    assert got["https://x.example/p"] == "x.example/p"


def test_dedup_keeper_deterministic_on_extra_columns(spark):
    """Two fetches tying on (ts, url, html) but differing in text must
    resolve to ONE deterministic keeper (retry/resume safety for
    interchange formats that carry text independently)."""
    from datetime import datetime

    from azure_based_pii_redactor_spark.engine.operators.urls import (
        dedup_pages_by_url,
    )

    rows = [
        ("https://a.example/p", datetime(2024, 1, 1), None, "text A", "en"),
        ("https://a.example/p", datetime(2024, 1, 1), None, "text B", "en"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string,"
        " lang string"
    )
    outs = {
        dedup_pages_by_url(df.repartition(p)).first().text
        for p in (1, 2, 4)
    }
    assert len(outs) == 1  # same keeper regardless of partitioning


def test_cap_per_domain(spark):
    """Domain balancing: hot domains capped at the quota with a
    deterministic keeper set (identical across runs / input order);
    www/non-www share ONE quota; unparseable urls are exempt (each its
    own group); under-quota domains and a caller's existing domain
    column pass through untouched."""
    from pyspark.sql import functions as F

    from azure_based_pii_redactor_spark.engine.operators.urls import (
        cap_per_domain,
    )

    rows = [(f"https://hot.example/p{i}", i) for i in range(25)]
    rows += [(f"https://www.hot.example/q{i}", 50 + i) for i in range(25)]
    rows += [(f"https://hot.example:443/r{i}", 200 + i) for i in range(5)]
    rows += [(f"https://hot.example:8080/s{i}", 300 + i) for i in range(12)]
    rows += [(f"https://small.example/p{i}", 100 + i) for i in range(3)]
    rows += [(f"not a url {i}", 900 + i) for i in range(14)]  # exempt
    # userinfo-only authority: collapsed_authority yields '' (empty
    # string, NOT NULL) -- each must be its OWN exempt group, not one
    # shared ''-keyed quota group (ADVICE r6)
    rows += [(f"https://user{i}@/p", 950 + i) for i in range(13)]
    pages = spark.createDataFrame(rows, "url string, v long")

    capped = cap_per_domain(pages, 10)
    urls = [r.url for r in capped.collect()]
    # www + bare host + default :443 share ONE quota of 10 (the
    # collapsed_authority key, same collapse canonical_url applies)...
    assert sum("hot.example" in u and ":8080" not in u for u in urls) == 10
    # ...while a NON-default port is a distinct origin with its own
    # quota (ADVICE r5: the HOST key silently merged ports)
    assert sum(":8080" in u for u in urls) == 10
    assert sum("small.example" in u for u in urls) == 3
    # unparseable urls are never capped away
    assert sum(u.startswith("not a url") for u in urls) == 14
    # ...and neither are empty-authority urls (13 > quota survives)
    assert sum("@/p" in u for u in urls) == 13
    # determinism: same keepers regardless of input partitioning/order
    shuffled = pages.orderBy(F.rand(7)).repartition(7)
    again = sorted(r.url for r in cap_per_domain(shuffled, 10).collect())
    assert again == sorted(urls)
    # non-url columns survive; a pre-existing domain column is untouched
    assert set(capped.columns) == {"url", "v"}
    with_dom = pages.withColumn("domain", F.lit("mine"))
    out = cap_per_domain(with_dom, 10)
    assert set(out.columns) == {"url", "v", "domain"}
    assert all(r.domain == "mine" for r in out.collect())


def test_filter_blocklisted_domains(spark):
    """UT1-style domain blocklist: exact host match AND dot-boundary
    suffix match (an entry blocks its subdomains), but never substring
    over-blocking; www/default-port collapse shares the match; NULL-host
    (unparseable) urls pass through; other columns survive."""
    from azure_based_pii_redactor_spark.engine.operators.urls import (
        blocked_host_set,
        filter_blocklisted_domains,
    )

    rows = [
        ("https://bad.example/a", 1),          # exact entry
        ("https://www.bad.example/b", 2),      # www collapse -> blocked
        ("https://BAD.example:443/c", 3),      # case + default port
        ("https://shop.bad.example/d", 4),     # subdomain -> blocked
        ("https://a.b.shop.bad.example/e", 5), # deep subdomain
        ("https://notbad.example/f", 6),       # substring must NOT block
        ("https://bad.example.org/g", 7),      # different suffix, kept
        ("https://good.example/h", 8),         # kept
        ("https://bad.example:8080/i", 9),     # non-default port: a
        # DISTINCT collapsed authority ('bad.example:8080') -- exact
        # match misses, and its suffix chain splits on DOTS only, so it
        # is KEPT (a port-qualified origin needs its own entry)
        ("not a url at all", 10),              # unparseable: kept
    ]
    pages = spark.createDataFrame(rows, "url string, v long")
    bl = spark.createDataFrame(
        [("bad.example",), ("Other.Site",)], "domain string"
    )

    kept = filter_blocklisted_domains(pages, bl)
    assert sorted(r.v for r in kept.collect()) == [6, 7, 8, 9, 10]
    assert set(kept.columns) == {"url", "v"}

    # real UT1 lists carry www-prefixed / port-qualified entries: they
    # must collapse to match the (already-collapsed) corpus hosts
    # instead of silently matching nothing
    bl_www = spark.createDataFrame(
        [("www.bad.example",), ("other.site:443",)], "domain string"
    )
    kept_www = sorted(
        r.v for r in filter_blocklisted_domains(pages, bl_www).collect()
    )
    assert kept_www == [6, 7, 8, 9, 10]

    blocked = {
        r["__host"] for r in blocked_host_set(pages, bl).collect()
    }
    assert blocked == {
        "bad.example", "shop.bad.example", "a.b.shop.bad.example",
    }

    # determinism across partitioning/input order
    shuffled = pages.orderBy(F.rand(3)).repartition(5)
    again = sorted(
        r.v for r in filter_blocklisted_domains(shuffled, bl).collect()
    )
    assert again == [6, 7, 8, 9, 10]


def test_domain_suffixes_bounded(spark):
    """A crafted host with hundreds of labels costs O(max_labels), and
    the DEEPEST suffixes are the ones kept (a blocklist matches at the
    registrable tail, never at the crafted head)."""
    from azure_based_pii_redactor_spark.engine.operators.urls import (
        domain_suffixes,
    )

    crafted = ".".join(f"l{i}" for i in range(300)) + ".evil.example"
    df = spark.createDataFrame([(crafted,), ("a.b.c",)], "host string")
    got = {
        r.host: r.sfx
        for r in df.select(
            "host", domain_suffixes(F.col("host"), 10).alias("sfx")
        ).collect()
    }
    assert got["a.b.c"] == ["a.b.c", "b.c", "c"]
    assert len(got[crafted]) == 10
    assert got[crafted][-1] == "example"
    assert got[crafted][-2] == "evil.example"


def test_extract_outlinks_and_domain_stats(spark):
    """Outlink extraction: both quote styles, case-insensitive attr,
    protocol-relative normalization, relative/js/mailto dropped, link
    farm bounded; domain_link_stats pools www/port variants, drops
    same-host navigation, and counts DISTINCT referring domains."""
    from azure_based_pii_redactor_spark.engine.operators.urls import (
        domain_link_stats,
        extract_outlinks,
    )

    farm = "".join(
        f'<a href="https://spam.example/{i}">s</a>' for i in range(50)
    )
    rows = [
        ("https://a.example/p1", (
            '<p><a href="https://b.example/x">b</a>'
            "<a href='http://c.example/y?q=1'>c</a>"
            '<A HREF="//d.example/z">proto-rel</A>'
            '<a href="/relative">rel</a>'
            '<a href="mailto:x@y.z">m</a>'
            '<a href="javascript:void(0)">j</a>'
            '<a href="https://a.example/p2">self-nav</a></p>'
        ).encode()),
        ("https://www.b.example/p", (
            '<a href="https://www.d.example:443/q">d again</a>'
            # unterminated quote: must NOT swallow the following anchor
            # on the same line, and must NOT emit a garbage href that
            # passes the absolute filter
            '<a href="https://missingquote.example/x>broken '
            '<a href="https://after-broken.example/ok">still seen</a>'
            # attribute-suffix traps: data-href/xlink:href are NOT the
            # link, and the tag's REAL href must still be captured
            '<a data-href="https://evil.example/x" '
            'href="https://real.example/y">r</a>'
        ).encode()),
        ("https://farm.example/", farm.encode()),
        ("https://empty.example/", None),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")

    links = extract_outlinks(pages, max_links_per_page=10)
    got = sorted((r.src, r.href) for r in links.collect())
    assert ("https://a.example/p1", "https://b.example/x") in got
    assert ("https://a.example/p1", "http://c.example/y?q=1") in got
    assert ("https://a.example/p1", "https://d.example/z") in got  # //
    assert ("https://a.example/p1", "https://a.example/p2") in got
    hrefs = [h for _, h in got]
    assert not any("relative" in h or "mailto" in h or "javascript" in h
                   for h in hrefs)
    assert "https://after-broken.example/ok" in hrefs
    assert "https://real.example/y" in hrefs
    assert not any("missingquote" in h or "evil.example" in h
                   for h in hrefs)
    # farm bounded at max_links_per_page
    assert sum(1 for s, _ in got if s == "https://farm.example/") == 10

    stats = {
        r.domain: (r.n_inlinks, r.n_src_domains)
        for r in domain_link_stats(links).collect()
    }
    # d.example: linked from a.example (proto-rel) AND b.example
    # (www/:443 collapse pools them under one target domain)
    assert stats["d.example"] == (2, 2)
    # a.example's self-nav link is excluded (same collapsed host)
    assert "a.example" not in stats
    assert stats["spam.example"] == (10, 1)  # farm counts ONCE by domain
    assert stats["b.example"] == (1, 1)


def _pr(spark, edges, **kw):
    from azure_based_pii_redactor_spark.engine.operators.urls import (
        domain_pagerank,
    )

    df = spark.createDataFrame(
        edges, "src_domain string, dst_domain string"
    )
    return {
        r["domain"]: r["rank"] for r in domain_pagerank(df, **kw).collect()
    }


def test_pagerank_one_iteration_hand_computed(spark):
    """a->b at scale 1e9: r0 = 5e8 each; b is dangling (mass 5e8
    redistributed), a gets teleport+dangling only, b adds the full
    floored edge contribution.  Every term hand-checked."""
    r = _pr(spark, [("a", "b")], iterations=1)
    base = 15 * 10**9 // 200          # 75_000_000
    dang = 85 * 500_000_000 // 200    # 212_500_000
    edge = 85 * 500_000_000 // 100    # 425_000_000
    assert r == {"a": base + dang, "b": base + dang + edge}
    assert sum(r.values()) == 10**9


def test_pagerank_mass_conserved_within_floor_loss(spark):
    edges = [(f"s{i}", f"d{(i * 7 + j) % 11}") for i in range(5)
             for j in range(3)]
    r = _pr(spark, edges)
    n_nodes = len({x for e in edges for x in e})
    # each floored term loses < 1 unit; 3 iterations, <= ~3 terms/node
    assert 10**9 - sum(r.values()) < 10 * n_nodes * 3
    assert all(v > 0 for v in r.values())


def test_pagerank_self_loops_excluded(spark):
    """Same-domain navigation must not feed rank back to itself: adding
    self-loops changes nothing."""
    base_edges = [("a", "b"), ("b", "c"), ("c", "a")]
    loops = base_edges + [("a", "a"), ("b", "b")]
    assert _pr(spark, base_edges) == _pr(spark, loops)


def test_pagerank_flows_through_hubs(spark):
    """The property in-degree cannot see: a and b both have ONE inbound
    edge, but a's referrer is itself heavily linked (a hub), so a
    outranks b."""
    edges = (
        [(f"fan{i}", "hub") for i in range(8)]
        + [("hub", "a"), ("nobody", "b")]
    )
    r = _pr(spark, edges)
    assert r["a"] > r["b"]


def test_pagerank_deterministic_across_partitioning(spark):
    from azure_based_pii_redactor_spark.engine.operators.urls import (
        domain_pagerank,
    )

    edges = [(f"s{i % 4}", f"d{(i + 3) % 9}") for i in range(40)]
    df = spark.createDataFrame(
        edges, "src_domain string, dst_domain string"
    )
    a = {r["domain"]: r["rank"]
         for r in domain_pagerank(df.repartition(7)).collect()}
    b = {r["domain"]: r["rank"]
         for r in domain_pagerank(df.coalesce(1)).collect()}
    assert a == b


def test_filter_noindex(spark):
    from azure_based_pii_redactor_spark.engine.operators.urls import (
        filter_noindex,
    )

    def page(i, body):
        return (f"https://x.example/p{i}",
                f"<html><head>{body}</head><body>hi</body></html>")

    rows = [
        # dropped: canonical form, either attribute order, odd quoting,
        # case, and noindex inside a directive list
        page(0, '<meta name="robots" content="noindex">'),
        page(1, '<meta content="noindex, nofollow" name="robots">'),
        page(2, "<meta name=robots content='NOINDEX'>"),
        page(3, '<META NAME="ROBOTS" CONTENT="noarchive, noindex">'),
        # dropped: BARE (unquoted) content value -- valid HTML5 -- and
        # the documented 'none' shorthand for noindex+nofollow
        page(10, "<meta name=robots content=noindex>"),
        page(11, '<meta name="robots" content="none">'),
        # dropped: an apostrophe inside a double-quoted value
        page(12, '<meta name="robots" content="don\'t index, noindex">'),
        # kept: noindex content under a NON-robots meta name, index
        # directive, noindex as body text, agent-specific directive
        # (someone else's crawler), attributes split across DIFFERENT
        # meta tags
        page(4, '<meta name="viewport" content="noindex">'),
        page(5, '<meta name="robots" content="index, follow">'),
        page(6, "<meta name='googlebot' content='noindex'>"),
        page(7, '<meta name="robots"><meta content="noindex">'),
        page(8, ""),
        # kept: an attribute whose name only ENDS in content/name
        page(13, '<meta name="robots" data-content="noindex">'),
        page(14, '<meta data-name="robots" content="noindex">'),
    ]
    rows.append(("https://x.example/p9", None))  # NULL html: kept
    df = spark.createDataFrame(rows, "url string, html string").select(
        "url", F.col("html").cast("binary").alias("html")
    )
    kept = {r["url"] for r in filter_noindex(df).collect()}
    assert kept == {
        f"https://x.example/p{i}" for i in (4, 5, 6, 7, 8, 9, 13, 14)
    }


def test_corpus_builder_honor_noindex(spark):
    from datetime import datetime

    from azure_based_pii_redactor_spark.engine.corpus import (
        build_training_corpus,
    )

    good = ("The children walked to the market in the morning and the "
            "weather was warm and bright for everyone in the town. " * 3)
    rows = []
    for i in range(4):
        head = ('<meta name="robots" content="noindex">' if i == 0
                else "")
        rows.append((f"https://n.example/p{i}", datetime(2024, 7, i + 1),
                     f"<html><head>{head}</head><body>{good} tail "
                     f"{chr(97 + i)}</body></html>",
                     f"{good} tail {chr(97 + i)}"))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html string, text string"
    ).select("url", "warc_ts", F.col("html").cast("binary").alias("html"),
             "text", F.lit("en").alias("lang"))
    corpus, report = build_training_corpus(
        pages, quality_filter=False, dedup_urls=False,
        remove_dup_passages=False, honor_noindex=True,
    )
    assert report["after_noindex"] == 3
    assert {r["url"] for r in corpus.select("url").collect()} == {
        f"https://n.example/p{i}" for i in (1, 2, 3)
    }


def test_crawl_delta(spark):
    from azure_based_pii_redactor_spark.engine.operators.urls import (
        crawl_delta,
    )

    old = spark.createDataFrame(
        [("u1", b"aaa"), ("u2", b"bbb"), ("u3", b"ccc")],
        "url string, html binary",
    )
    new = spark.createDataFrame(
        [("u2", b"bbb"), ("u3", b"CHANGED"), ("u4", b"ddd")],
        "url string, html binary",
    )
    got = {r["url"]: r["status"]
           for r in crawl_delta(old, new).collect()}
    assert got == {"u1": "gone", "u2": "unchanged", "u3": "changed",
                   "u4": "added"}
    # multi-column content: a change in EITHER column is 'changed'
    old2 = spark.createDataFrame(
        [("u1", b"x", "en")], "url string, html binary, lang string"
    )
    new2 = spark.createDataFrame(
        [("u1", b"x", "de")], "url string, html binary, lang string"
    )
    got2 = crawl_delta(
        old2, new2, content_cols=("html", "lang")
    ).collect()
    assert got2[0]["status"] == "changed"
    # NULL content under a null-propagating hash (the md5 oracle form):
    # presence markers, not hash nullity, decide added/gone, and
    # null-safe hash compare makes NULL==NULL unchanged
    from azure_based_pii_redactor_spark.engine.operators.textstats import (
        md5_hash60,
    )

    old3 = spark.createDataFrame(
        [("u1", None), ("u2", None), ("u3", "x")],
        "url string, text string",
    )
    new3 = spark.createDataFrame(
        [("u2", None), ("u3", None), ("u4", None)],
        "url string, text string",
    )
    got3 = {r["url"]: r["status"] for r in crawl_delta(
        old3, new3, content_cols=("text",), hash_fn=md5_hash60
    ).collect()}
    assert got3 == {"u1": "gone", "u2": "unchanged", "u3": "changed",
                    "u4": "added"}
    # ...and the md5 oracle form composes with MULTI-column content
    # (hash_fn is applied per column)
    got4 = crawl_delta(
        old2, new2, content_cols=("html", "lang"), hash_fn=md5_hash60
    ).collect()
    assert got4[0]["status"] == "changed"
