"""Crawl-policy screens (operators/crawl.py): hand fixtures with exact
expectations, pure-python replicas over the driver-query bases, RFC 9309
robots semantics vs an independent replica, and 100 TB plan audits
(row-local screens shuffle-free; robots join broadcast)."""

from __future__ import annotations

import re

SF_DIR = "/root/testdata/sf0.001"


# ---- pure-python replicas -------------------------------------------------

_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def _decode(s: str) -> str:
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    return s


def meta_replica(html: str) -> dict:
    t = re.search(r"(?is)<title[^>]*>(.*?)</title>", html)
    h1 = re.search(r"(?is)<h1[^>]*>(.*?)</h1>", html)
    lang = re.search(r'(?i)<html[^>]* lang="([^"]*)"', html)
    return {
        "title": _decode((t.group(1) if t else "").strip()),
        "h1": _decode((h1.group(1) if h1 else "").strip()),
        "lang_attr": lang.group(1) if lang else "",
        "n_paras": len(re.findall(r"(?i)<p[ >]", html)),
    }


def robots_replica(host: str, path: str, table) -> tuple[int, int]:
    """(best_key, allowed) under RFC 9309/Google semantics: longest
    matching prefix wins; Allow beats Disallow on a length tie; no
    matching rule -> allowed."""
    best = -1
    for r_host, prefix, allow in table:
        if r_host == host and path.startswith(prefix):
            best = max(best, 2 * len(prefix) + allow)
    allowed = 1 if (best == -1 or best % 2 == 1) else 0
    return best, allowed


# ---- html_meta / lang_meta ------------------------------------------------


def test_html_meta_matches_replica_on_crawl_basis(spark):
    from kneaddata_spark.operators.crawl import html_meta
    from kneaddata_spark.plans.entry_queries import _crawl_corpus

    corpus = _crawl_corpus(spark, SF_DIR)
    raw = {r["doc_id"]: r["html"] for r in corpus.collect()}
    got = html_meta(corpus, "doc_id", "html").collect()
    assert len(got) == len(raw) > 100
    for r in got:
        want = meta_replica(raw[r["doc_id"]])
        for k, v in want.items():
            assert r[k] == v, (r["doc_id"], k, r[k], v)
    # the planted basis keeps every lang verdict live
    attrs = {r["lang_attr"] for r in got}
    assert "" in attrs and "xx" in attrs and len(attrs) > 2


def test_lang_meta_verdicts_follow_planting(spark):
    """doc_id%3: 0 -> missing, 1 -> match (catalog lang), 2 -> mismatch."""
    from kneaddata_spark.plans.entry_queries import QUERIES

    rows = QUERIES["lang_meta_screen"](spark, SF_DIR).collect()
    assert len(rows) > 100
    for r in rows:
        want = {0: "missing", 1: "match", 2: "mismatch"}[r["doc_id"] % 3]
        assert r["verdict"] == want, r
        if r["verdict"] == "match":
            assert r["lang_attr"] == r["catalog_lang"]
        if r["verdict"] == "mismatch":
            assert r["lang_attr"] == "xx"


# ---- soft404 ----------------------------------------------------------------


def test_soft404_hand_fixtures(spark):
    from kneaddata_spark.operators.crawl import soft404_screen

    long_body = "word " * 60  # >= SOFT404_MIN_CHARS
    cases = [
        # (title, text, verdict)
        ("404 Not Found", long_body, "title_404"),  # title decisive, any body
        ("Fine title", "The page was not found.", "body_404"),
        ("Fine title", long_body + "an error occurred", "ok"),  # long guard
        ("Fine title", long_body, "ok"),
        ("Access forbidden", "x", "title_404"),
        ("Fine", "short but harmless", "ok"),  # short alone never convicts
    ]
    df = spark.createDataFrame(
        [(i, t, b) for i, (t, b, _) in enumerate(cases)],
        "id long, title string, text string",
    )
    got = {r["id"]: r for r in soft404_screen(df, "id", "title", "text").collect()}
    for i, (_, _, want) in enumerate(cases):
        assert got[i]["verdict"] == want, (i, got[i])
    # flags are honest even when the verdict is ok
    assert got[2]["flag_phrase"] == 1 and got[2]["flag_short"] == 0
    assert got[5]["flag_short"] == 1 and got[5]["flag_phrase"] == 0


def test_soft404_corpus_all_verdicts_live(spark):
    from kneaddata_spark.plans.entry_queries import QUERIES
    from kneaddata_spark import rules

    rows = QUERIES["soft404_screen"](spark, SF_DIR).collect()
    verdicts = {r["verdict"] for r in rows}
    assert verdicts == {"title_404", "body_404", "ok"}
    for r in rows:
        if r["doc_id"] % 13 == 0:
            assert r["verdict"] == "title_404"
        elif r["doc_id"] % 13 == 5:
            assert r["verdict"] == "body_404"
        elif r["doc_id"] % 13 == 7:
            # planted error phrase inside a LONG body stays ok (the guard)
            assert r["flag_phrase"] == 1
            if r["flag_short"] == 0:
                assert r["verdict"] == "ok"
    assert rules.SOFT404_MIN_CHARS > 0  # rules is the threshold source


# ---- robots_filter ----------------------------------------------------------

_TABLE = [
    ("ex0.example.org", "/", 0),
    ("ex0.example.org", "/p/", 1),
    ("ex1.example.org", "/p", 0),
    ("ex2.example.org", "/p/1", 0),
    ("ex2.example.org", "/p/1", 1),
    ("ex3.example.org", "/q/", 0),
    ("mirror.example.net", "/d", 0),
]


def test_robots_semantics_hand_cases(spark):
    from kneaddata_spark.operators.crawl import robots_filter

    cases = [
        # (url, allowed) — covering each semantic rule
        ("https://ex0.example.org/p/9", 1),   # longest prefix /p/ allow wins
        ("https://ex0.example.org/other", 0),  # only "/" disallow matches
        ("https://ex1.example.org/p/9", 0),    # blanket /p disallow
        ("https://ex1.example.org/q", 1),      # no match -> allowed
        ("https://ex2.example.org/p/1", 1),    # equal-length tie -> Allow
        ("https://ex3.example.org/p/9", 1),    # host has rules, none match
        ("https://unknown.example.com/p", 1),  # host absent entirely
        ("http://mirror.example.net/d?id=3&q=1", 0),  # ?query is not path
        ("http://MIRROR.example.net/d/x", 0),  # host case-folded
        ("https://ex0.example.org", 0),        # empty path matches "/"
    ]
    urls = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    table = spark.createDataFrame(_TABLE, "host string, prefix string, allow int")
    got = {r["url"]: r for r in robots_filter(urls, table).collect()}
    for u, want in cases:
        r = got[u]
        assert r["allowed"] == want, (u, r)
        # engine agrees with the independent replica on BOTH columns
        bk, al = robots_replica(r["host"], r["path"], _TABLE)
        assert (r["best_key"], r["allowed"]) == (bk, al), (u, r)


def test_robots_driver_query_matches_replica(spark):
    from kneaddata_spark.plans.entry_queries import QUERIES, _ROBOTS_RULES

    rows = QUERIES["robots_filter"](spark, SF_DIR).collect()
    assert len(rows) > 100
    both = {r["allowed"] for r in rows}
    assert both == {0, 1}  # fixture keeps both outcomes live
    for r in rows:
        bk, al = robots_replica(r["host"], r["path"], _ROBOTS_RULES)
        assert (r["best_key"], r["allowed"]) == (bk, al), r


def test_robots_plan_is_broadcast(spark):
    """100 TB shape: the frontier NEVER shuffles for the join — the rules
    side broadcasts; the only Exchange is the per-URL max() agg."""
    from kneaddata_spark.operators.crawl import robots_filter

    urls = spark.range(100).selectExpr(
        "concat('https://ex0.example.org/p/', id) AS url"
    )
    table = spark.createDataFrame(_TABLE, "host string, prefix string, allow int")
    plan = (
        robots_filter(urls, table)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


# ---- domain_quality_card ----------------------------------------------------


def test_domain_quality_card_matches_replica(spark):
    from kneaddata_spark.plans.entry_queries import QUERIES, _html_corpus
    from kneaddata_spark import rules
    from tests.test_htmlextract import extract_replica

    # replica aggregation over the same extract replica
    agg: dict[str, list] = {}
    for r in _html_corpus(spark, SF_DIR).collect():
        dom = f"ex{r['doc_id'] % 7}.example.org"
        text = extract_replica(r["html"])
        nh, nt = len(r["html"]), len(text)
        kept = (nt * 1000) // nh if nh else None
        a = agg.setdefault(dom, [0, 0, 0, 0, 0])
        a[0] += 1
        a[1] += nh
        a[2] += nt
        a[3] += 1 if (kept is not None and kept < rules.DOMAIN_LOW_KEPT_PERMILLE) else 0
        a[4] += 1 if "<script" in r["html"] else 0

    got = {r["domain"]: r for r in QUERIES["domain_quality_card"](spark, SF_DIR).collect()}
    assert set(got) == set(agg) and len(agg) == 7
    for dom, (n, sh, st, nlow, nscr) in agg.items():
        r = got[dom]
        low_pm = (nlow * 1000) // n
        assert r["n_pages"] == n
        assert r["kept_permille"] == (st * 1000) // sh
        assert r["low_permille"] == low_pm
        assert r["script_permille"] == (nscr * 1000) // n
        want = "review" if low_pm >= rules.DOMAIN_REVIEW_PERMILLE else "ok"
        assert r["verdict"] == want


# ---- plan audits ------------------------------------------------------------


def test_row_local_screens_are_shuffle_free(spark):
    """html_meta and soft404_screen are one codegen project each: no
    shuffle Exchange (the basis's lang join broadcasts — the page side
    never moves), no Python eval of any kind."""
    from kneaddata_spark.operators.crawl import html_meta, soft404_screen
    from kneaddata_spark.plans.entry_queries import _crawl_corpus

    corpus = _crawl_corpus(spark, SF_DIR)
    for df in (
        html_meta(corpus, "doc_id", "html"),
        soft404_screen(
            corpus.selectExpr("doc_id", "'t' AS title", "html AS text"),
            "doc_id",
            "title",
            "text",
        ),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan.replace("BroadcastExchange", "")
        assert "EvalPython" not in plan and "InPandas" not in plan


# ---- robots_parse ----------------------------------------------------------


def _robots_parse_replica(body: str, agent: str = "*") -> set[tuple[str, int]]:
    """Independent RFC 9309 group-semantics replica (urllib-free: the
    stdlib RobotFileParser does not expose its rule table)."""
    groups: list[tuple[set[str], list[tuple[str, int]]]] = []
    cur_agents: set[str] | None = None
    in_header = False
    for raw in body.split("\n"):
        line = re.sub(r"#.*$", "", raw).strip()
        m = re.match(r"(?i)^user-agent\s*:\s*(\S+)", line)
        if m:
            if not in_header:
                cur_agents = set()
                groups.append((cur_agents, []))
            cur_agents.add(m.group(1).lower())
            in_header = True
            continue
        r = re.match(r"(?i)^(disallow|allow)\s*:\s*(\S*)", line)
        in_header = False
        if r and cur_agents is not None:
            kind, val = r.group(1).lower(), r.group(2)
            if val and "*" not in val and "$" not in val:
                groups[-1][1].append((val, 1 if kind == "allow" else 0))
    out: set[tuple[str, int]] = set()
    for agents, rls in groups:
        if "*" in agents or agent.lower() in agents:
            out |= set(rls)
    return out


_ROBOTS_BODY = """Disallow: /orphan
# leading comment
User-agent: BadBot
Disallow: /secret/

User-agent: *
User-agent: GoodBot
disallow: /a/
ALLOW: /a/open
Disallow:
Disallow: /logs/*.log
Allow: /b # inline comment
Allow: /end$

User-agent: OtherBot
Disallow: /c/

User-agent: *
Disallow: /z/
Disallow: /a/
"""


def test_robots_parse_matches_replica_and_rfc(spark):
    from kneaddata_spark.operators.crawl import robots_parse

    df = spark.createDataFrame(
        [("h.example.org", _ROBOTS_BODY), ("empty.example.org", "# nothing\n")],
        "host string, body string",
    )
    got = {
        (r["host"], r["prefix"], r["allow"])
        for r in robots_parse(df, "host", "body").collect()
    }
    want = {
        ("h.example.org", p, a) for p, a in _robots_parse_replica(_ROBOTS_BODY)
    }
    assert got == want
    # the exact rule table, spelled out: orphan/BadBot/OtherBot/wildcard/
    # empty-Disallow all excluded; '/a/' dedupes across the two * groups
    assert got == {
        ("h.example.org", "/a/", 0),
        ("h.example.org", "/a/open", 1),
        ("h.example.org", "/b", 1),
        ("h.example.org", "/z/", 0),
    }


def test_robots_parse_agent_specific_group(spark):
    from kneaddata_spark.operators.crawl import robots_parse

    body = "User-agent: MyBot\nDisallow: /m/\n\nUser-agent: *\nDisallow: /w/\n"
    df = spark.createDataFrame([("h", body)], "host string, body string")
    star = {(r["prefix"], r["allow"]) for r in robots_parse(df, "host", "body").collect()}
    mine = {
        (r["prefix"], r["allow"])
        for r in robots_parse(df, "host", "body", agent="mybot").collect()
    }
    assert star == {("/w/", 0)}
    assert mine == {("/m/", 0), ("/w/", 0)}


def test_robots_parse_composes_with_filter(spark):
    """parse -> filter end-to-end: the longest-match/tie semantics run
    over a PARSED table identically to the hand-built one."""
    from kneaddata_spark.operators.crawl import robots_filter, robots_parse

    body = "User-agent: *\nDisallow: /a/\nAllow: /a/open\n"
    rules_df = robots_parse(
        spark.createDataFrame([("h.example.org", body)], "host string, body string"),
        "host",
        "body",
    )
    urls = spark.createDataFrame(
        [("https://H.example.org/a/x",), ("https://h.example.org/a/open/1",),
         ("https://h.example.org/other",)],
        "url string",
    )
    got = {r["url"]: r["allowed"] for r in robots_filter(urls, rules_df).collect()}
    assert got == {
        "https://H.example.org/a/x": 0,
        "https://h.example.org/a/open/1": 1,
        "https://h.example.org/other": 1,
    }


def test_robots_parse_windows_are_host_keyed(spark):
    """The group-id windows partition by host — never a global
    single-partition window (the repo-wide invariant)."""
    from kneaddata_spark.operators.crawl import robots_parse

    df = spark.createDataFrame([("h", "User-agent: *\nDisallow: /a/")],
                               "host string, body string")
    plan = robots_parse(df, "host", "body")._jdf.queryExecution().executedPlan().toString()
    import re as _re

    for m in _re.finditer(r"Window \[.*", plan):
        assert "host" in m.group(0)


# ---- surt_key / cdx_index --------------------------------------------------


def test_surt_key_hand_cases(spark):
    from pyspark.sql import functions as F

    from kneaddata_spark.operators.crawl import surt_key

    cases = [
        ("https://cdn.example.org/clips/A.bin", "org,example,cdn)/clips/a.bin"),
        # www stripped, default port stripped, tracker dropped, params sorted
        ("HTTP://WWW.Example.COM:80/Path/?b=2&a=1&utm_source=x",
         "com,example)/path?a=1&b=2"),
        # non-default port survives after the host run
        ("https://ex.org:8443/p", "org,ex:8443)/p"),
        # fragment dropped, trailing slash cut
        ("https://a.b.c.example.net/x/#frag", "net,example,c,b,a)/x"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = dict(
        df.select("url", surt_key(F.col("url")).alias("s")).collect()
    )
    for u, want in cases:
        assert got[u] == want, (u, got[u])


def test_cdx_index_order_matches_python_replica(spark):
    """Global (surt, ts, url) rank equals a plain-python sort — the
    global_rank machinery under string keys — and digests are payload
    md5s."""
    import hashlib

    from kneaddata_spark.operators.crawl import cdx_index

    rows = [
        (f"https://s{i % 5}.example.org/p/{i}", 20260101000000 + i, f"pay-{i}")
        for i in range(97)
    ] + [("https://s0.example.org/p/0", 20260101009999, "revisit")]
    df = spark.createDataFrame(rows, "url string, ts long, payload string")
    got = cdx_index(df, "url", "ts", "payload").collect()
    assert len(got) == len(rows)
    by_idx = sorted(got, key=lambda r: r["idx"])
    assert [r["idx"] for r in by_idx] == list(range(1, len(rows) + 1))
    want_order = sorted((r["surt"], r["ts"], r["url"]) for r in got)
    assert [(r["surt"], r["ts"], r["url"]) for r in by_idx] == want_order
    # same page revisited: same surt, later ts -> adjacent index entries
    revisits = [r for r in by_idx if r["url"] == "https://s0.example.org/p/0"]
    assert len(revisits) == 2 and revisits[1]["idx"] == revisits[0]["idx"] + 1
    md = {(r["url"], r["ts"]): r["digest"] for r in got}
    for url, ts, pay in rows[:5] + rows[-1:]:
        assert md[(url, ts)] == hashlib.md5(pay.encode()).hexdigest()


def test_frontier_schedule_politeness_invariants(spark):
    from kneaddata_spark import rules
    from kneaddata_spark.operators.crawl import frontier_schedule

    urls = [
        f"https://h{i % 3}.example.org/p/{i:03d}" for i in range(20)
    ] + ["https://solo.example.net/only"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = frontier_schedule(df).collect()
    assert len(got) == len(urls)
    by_host: dict[str, list] = {}
    for r in got:
        by_host.setdefault(r["host"], []).append(r)
    for host, rs in by_host.items():
        rs = sorted(rs, key=lambda r: r["slot"])
        # slots are 1..n in URL order; waves cap per-host concurrency
        assert [r["slot"] for r in rs] == list(range(1, len(rs) + 1))
        assert [r["url"] for r in rs] == sorted(r["url"] for r in rs)
        for r in rs:
            assert r["wave"] == (r["slot"] - 1) // rules.FRONTIER_PER_WAVE
        from collections import Counter

        per_wave = Counter(r["wave"] for r in rs)
        assert all(c <= rules.FRONTIER_PER_WAVE for c in per_wave.values())
    assert by_host["solo.example.net"][0]["wave"] == 0


def test_cdx_revisits_chains(spark):
    from kneaddata_spark.operators.crawl import cdx_revisits

    rows = [
        # digest A captured 3 times, B once; ties on ts broken by url
        ("s-a", 100, "https://a/1", "dA"),
        ("s-a", 300, "https://a/1", "dA"),
        ("s-a", 200, "https://a/2", "dA"),
        ("s-b", 100, "https://b/1", "dB"),
        ("s-c", 100, "https://c/2", "dC"),
        ("s-c", 100, "https://c/1", "dC"),
    ]
    df = spark.createDataFrame(rows, "surt string, ts long, url string, digest string")
    got = {(r["digest"], r["ts"], r["url"]): (r["capture_seq"], r["verdict"])
           for r in cdx_revisits(df).collect()}
    assert got[("dA", 100, "https://a/1")] == (1, "original")
    assert got[("dA", 200, "https://a/2")] == (2, "revisit")
    assert got[("dA", 300, "https://a/1")] == (3, "revisit")
    assert got[("dB", 100, "https://b/1")] == (1, "original")
    # equal ts: url breaks the tie deterministically
    assert got[("dC", 100, "https://c/1")] == (1, "original")
    assert got[("dC", 100, "https://c/2")] == (2, "revisit")


def test_web_corpus_build_verdicts_and_plan(spark):
    """End-to-end stage-zero chain: first-failing precedence holds
    against a python recomputation from the row's own stats, planted
    soft404 slice fires, survivors' dedup keeps the smallest doc_id, and
    the plan's only exchange is the dedup window's hash partition."""
    from kneaddata_spark import rules
    from kneaddata_spark.plans.entry_queries import QUERIES

    df = QUERIES["web_corpus_build"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 100
    verdicts = {r["verdict"] for r in rows}
    assert {"soft404", "kept"} <= verdicts  # planted + bulk
    for r in rows:
        if r["doc_id"] % 17 == 0:
            assert r["verdict"] == "soft404"
        elif r["verdict"] == "short":
            assert r["n_chars"] < rules.WEBCORPUS_MIN_CHARS
        elif r["verdict"] == "low_yield":
            assert r["kept_permille"] < rules.DOMAIN_LOW_KEPT_PERMILLE
        elif r["verdict"] == "kept":
            assert r["n_chars"] >= rules.WEBCORPUS_MIN_CHARS
            assert r["kept_permille"] >= rules.DOMAIN_LOW_KEPT_PERMILLE

    plan = df._jdf.queryExecution().executedPlan().toString()
    import re as _re

    shuffles = _re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    # the dedup window's k-partition is the only shuffle
    assert shuffles and all(
        "k#" in s or s.startswith("k") for s in shuffles
    ), shuffles
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_sitemap_parse_hand_fixture(spark):
    from kneaddata_spark.operators.crawl import sitemap_parse

    urlset = (
        '<?xml version="1.0"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc> https://a.example.org/p?x=1&amp;y=2 </loc>"
        "<lastmod>2026-03-04</lastmod><changefreq>weekly</changefreq>"
        "<priority>0.8</priority></url>"
        "<url><loc>https://a.example.org/only-loc</loc></url>"
        "<URL><LOC>https://a.example.org/case</LOC></URL>"  # case-insensitive
        "</urlset>"
    )
    index = (
        "<sitemapindex><sitemap><loc>https://b.example.org/sm1.xml</loc>"
        "<lastmod>2026-01-01</lastmod></sitemap>"
        "<sitemap><loc>https://b.example.org/sm2.xml</loc></sitemap>"
        "</sitemapindex>"
    )
    df = spark.createDataFrame(
        [("u", urlset), ("i", index)], "sm_id string, xml string"
    )
    rows = {(r["sm_id"], r["kind"], r["seq"]): r
            for r in sitemap_parse(df, "sm_id", "xml").collect()}
    r0 = rows[("u", "url", 0)]
    # whitespace trimmed, entity decoded
    assert r0["loc"] == "https://a.example.org/p?x=1&y=2"
    assert (r0["lastmod"], r0["changefreq"], r0["priority"]) == (
        "2026-03-04", "weekly", "0.8",
    )
    r1 = rows[("u", "url", 1)]
    assert r1["loc"] == "https://a.example.org/only-loc"
    assert (r1["lastmod"], r1["changefreq"], r1["priority"]) == ("", "", "")
    assert rows[("u", "url", 2)]["loc"] == "https://a.example.org/case"
    assert rows[("i", "sitemap", 0)]["loc"] == "https://b.example.org/sm1.xml"
    assert rows[("i", "sitemap", 0)]["lastmod"] == "2026-01-01"
    assert rows[("i", "sitemap", 1)]["loc"] == "https://b.example.org/sm2.xml"
    assert len(rows) == 5  # no cross-kind leakage between doc shapes


def test_sitemap_driver_query_shape(spark):
    from kneaddata_spark.plans.entry_queries import QUERIES

    rows = QUERIES["sitemap_parse"](spark, SF_DIR).collect()
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r["kind"], []).append(r)
    n_docs = len({r["doc_id"] for r in rows})
    n_index = len({r["doc_id"] for r in by_kind["sitemap"]})
    assert len(by_kind["url"]) == 2 * (n_docs - n_index)
    assert all("&b=2" in r["loc"] for r in by_kind["url"] if r["seq"] == 0)
    assert all(r["loc"].endswith(".xml") for r in by_kind["sitemap"])


def test_robots_parse_fuzz_matches_replica(spark):
    """400 seeded random robots.txt bodies — directive soups with case
    noise, comments, blank lines, wildcard rules, orphan rules,
    multi-agent header runs, unknown directives — engine == the
    independent python replica on the emitted rule set. Guards the
    group-attribution window logic where hand fixtures can't enumerate
    (header runs split by blanks/comments, empty values, etc.)."""
    import random

    from kneaddata_spark.operators.crawl import robots_parse

    rng = random.Random(20260820)
    agents = ["*", "GoodBot", "BadBot", "OtherBot", "gOoDbOt"]
    paths = ["/", "/a", "/a/", "/a/b", "/q?x=1", "/w*", "/end$", "", "/z z"]
    directives = ["User-agent", "USER-AGENT", "user-agent", "Disallow",
                  "disallow", "Allow", "ALLOW", "Crawl-delay", "Sitemap"]

    def rand_body() -> str:
        lines = []
        for _ in range(rng.randint(1, 25)):
            roll = rng.random()
            if roll < 0.12:
                lines.append("")
            elif roll < 0.2:
                lines.append("# " + rng.choice(paths))
            else:
                d = rng.choice(directives)
                if d.lower() == "user-agent":
                    v = rng.choice(agents)
                elif d.lower() in ("disallow", "allow"):
                    v = rng.choice(paths)
                else:
                    v = str(rng.randint(0, 9))
                sep = rng.choice([": ", ":", " : ", ":\t"])
                comment = "  # c" if rng.random() < 0.15 else ""
                lines.append(f"{d}{sep}{v}{comment}")
        return "\n".join(lines)

    bodies = {f"h{i}": rand_body() for i in range(400)}
    df = spark.createDataFrame(
        list(bodies.items()), "host string, body string"
    )
    got: dict[str, set] = {}
    for r in robots_parse(df, "host", "body", agent="GoodBot").collect():
        got.setdefault(r["host"], set()).add((r["prefix"], r["allow"]))
    for h, body in bodies.items():
        want = _robots_parse_replica(body, agent="GoodBot")
        assert got.get(h, set()) == want, (h, body, got.get(h), want)


def test_url_quality_screen_hand_cases(spark):
    from kneaddata_spark.operators.crawl import url_quality_screen

    cases = [
        ("https://h.example.org/articles/history", "ok"),
        ("https://h.example.org/a/b/c/d/e/f/g/h/i/x", "deep_path"),
        ("https://h.example.org/p?a=1&b=2&c=3&d=4&e=5&f=6&g=7", "param_farm"),
        ("https://h.example.org/p/1234567890", "digit_heavy"),
        ("https://h.example.org/" + "x" * 170, "long_path"),
        # precedence: deep beats digit-heavy when both apply
        ("https://h.example.org/1/2/3/4/5/6/7/8/9/0", "deep_path"),
        ("https://h.example.org", "ok"),  # empty path -> '/', depth 1
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {r["url"]: r for r in url_quality_screen(df).collect()}
    for u, want in cases:
        assert got[u]["verdict"] == want, (u, got[u])
    r = got["https://h.example.org/p/1234567890"]
    assert r["digit_permille"] == (10 * 1000) // len("/p/1234567890")
    assert got["https://h.example.org"]["depth"] == 1


def test_url_quality_driver_all_verdicts_live(spark):
    from kneaddata_spark.plans.entry_queries import QUERIES

    rows = QUERIES["url_quality_screen"](spark, SF_DIR).collect()
    verdicts = {r["verdict"] for r in rows}
    assert verdicts == {"ok", "deep_path", "param_farm", "digit_heavy",
                        "long_path"}


def test_anchor_text_harvest_hand_fixture(spark):
    from kneaddata_spark.operators.crawl import anchor_text_harvest

    docs = [
        (1, '<p>x</p><a href="https://t.example.org/a">Good  Intro</a>'
            '<a href="https://t.example.org/a"><b>good</b> guide</a>'),
        (2, '<a href="https://t.example.org/a">good&amp;fast</a>'
            '<a href="https://t.example.org/b">  </a>'      # empty text
            '<a name="x">no href</a>'),                       # no href attr
    ]
    df = spark.createDataFrame(docs, "doc_id long, html string")
    got = {(r["href"], r["token"]): (r["n"], r["n_docs"])
           for r in anchor_text_harvest(df, "doc_id", "html").collect()}
    a = "https://t.example.org/a"
    # lowercased, inline markup stripped, entities decoded, whitespace split
    assert got[(a, "good")] == (2, 1)          # both from doc 1
    assert got[(a, "intro")] == (1, 1)
    assert got[(a, "guide")] == (1, 1)
    assert got[(a, "good&fast")] == (2 - 1, 1)  # decoded &amp; -> one token
    # empty-text and href-less anchors contribute nothing
    assert all(h != "https://t.example.org/b" for h, _ in got)
    assert len(got) == 4


def test_template_lines_semantics(spark):
    """Footer dropped from EVERY page (no keep-first), per-domain
    judgment (other domain's identical footer untouched below
    threshold), original line order preserved, accounting exact."""
    from kneaddata_spark.operators.crawl import template_lines

    docs = [
        # domain A: 6 pages, universal footer; 'shared' on 3/6 pages —
        # 3*1000 >= 500*6 holds with equality AND n_docs hits min_docs,
        # so it drops at exactly both fences; 'rare' on 2/6 survives the
        # min_docs fence
        (0, "A", "alpha\nFooter A"),
        (1, "A", "beta\nshared\nFooter A"),
        (2, "A", "gamma\nshared\nFooter A"),
        (3, "A", "delta\nshared\nFooter A"),
        (6, "A", "eps\nrare\nFooter A"),
        (7, "A", "zeta\nrare\nFooter A"),
        # domain B: 2 pages with the same footer TEXT — n_docs 2 <
        # min_docs 3, so B keeps it (per-domain judgment)
        (4, "B", "x\nFooter A"),
        (5, "B", "y\nFooter A"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, dom string, text string")
    got = {r["doc_id"]: r for r in
           template_lines(df, "doc_id", "dom", "text").collect()}
    assert got[0]["text"] == "alpha" and got[0]["n_dropped"] == 1
    assert got[1]["text"] == "beta" and got[1]["n_dropped"] == 2
    assert got[2]["text"] == "gamma"
    assert got[3]["text"] == "delta"
    # below min_docs: 'rare' survives even though 2/6 < the df gate too
    assert got[6]["text"] == "eps\nrare" and got[6]["n_dropped"] == 1
    assert got[7]["text"] == "zeta\nrare"
    # domain B: per-domain judgment keeps the identical footer text
    assert got[4]["text"] == "x\nFooter A" and got[4]["n_dropped"] == 0
    assert got[5]["text"] == "y\nFooter A"
    assert got[1]["n_lines"] == 3


def test_template_lines_order_preserved(spark):
    from kneaddata_spark.operators.crawl import template_lines

    docs = [(i, "D", f"first {i}\nchrome\nmiddle {i}\nchrome\nlast {i}")
            for i in range(4)]
    df = spark.createDataFrame(docs, "doc_id long, dom string, text string")
    got = {r["doc_id"]: r for r in
           template_lines(df, "doc_id", "dom", "text").collect()}
    for i in range(4):
        assert got[i]["text"] == f"first {i}\nmiddle {i}\nlast {i}"
        assert got[i]["n_dropped"] == 2 and got[i]["n_lines"] == 5


def test_crawl_funnel_invariants(spark):
    """Stage counts chain (stage k's n_in == stage k-1's n_pass),
    monotone shrink, robots/soft404/size/yield stages live on driver
    data, and the robots stage agrees with a direct robots_filter run
    over the same rules."""
    from pyspark.sql import functions as F

    from kneaddata_spark.operators.crawl import robots_filter
    from kneaddata_spark.plans.entry_queries import _FUNNEL_RULES, QUERIES

    rows = sorted(
        QUERIES["crawl_funnel"](spark, SF_DIR).collect(),
        key=lambda r: r["stage_no"],
    )
    assert [r["stage"] for r in rows] == [
        "url_shape", "robots", "soft404", "min_size", "yield", "dedup",
    ]
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_in"] == prev["n_pass"]
    for r in rows:
        assert 0 <= r["n_pass"] <= r["n_in"]
    assert rows[1]["n_pass"] < rows[1]["n_in"]  # robots blocks ex1 + most ex2
    assert rows[2]["n_pass"] < rows[2]["n_in"]  # planted soft404 slice

    # robots stage cross-check: direct filter over the same urls+rules
    from kneaddata_spark.plans.entry_queries import _html_corpus, _t

    h = _html_corpus(spark, SF_DIR).select("doc_id")
    d = _t(spark, SF_DIR, "documents").select("doc_id", "lang")
    urls = h.join(d, "doc_id").select(
        F.concat(
            F.lit("https://ex"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org/articles/"), F.col("lang"), F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    table = spark.createDataFrame(
        _FUNNEL_RULES, "host string, prefix string, allow int"
    )
    n_allowed = robots_filter(urls, table).agg(F.sum("allowed")).collect()[0][0]
    assert rows[1]["n_pass"] == n_allowed


def test_outlink_profile_hand_cases(spark):
    from kneaddata_spark.operators.crawl import outlink_profile

    own = "https://me.example.org"
    docs = [
        (0, f'<a href="{own}/a">i</a><a href="{own}/b">i</a>'),       # all internal
        (1, '<a href="https://x.net/1">e</a>' * 5),                   # pure farm
        (2, f'<a href="{own}/a">i</a>' + '<a href="https://x.net/1">e</a>' * 3,),
        (3, "<p>no links at all</p>"),
        (4, '<a href="https://x.net/1">e</a>'),                       # 1 ext < min
    ]
    df = spark.createDataFrame(
        [(i, h, own) for i, h in docs], "doc_id long, html string, own string"
    )
    got = {r["doc_id"]: r for r in
           outlink_profile(df, "doc_id", "html", "own").collect()}
    assert (got[0]["n_links"], got[0]["n_internal"], got[0]["verdict"]) == (2, 2, "ok")
    assert (got[1]["n_external"], got[1]["external_permille"], got[1]["verdict"]) == (5, 1000, "link_farm")
    assert (got[2]["n_links"], got[2]["n_external"], got[2]["verdict"]) == (4, 3, "link_farm")
    assert (got[3]["n_links"], got[3]["external_permille"]) == (0, None)
    assert got[3]["verdict"] == "ok"
    assert got[4]["verdict"] == "ok"  # min-links fence


def test_outlink_profile_driver_verdicts_live(spark):
    from kneaddata_spark.plans.entry_queries import QUERIES

    rows = QUERIES["outlink_profile"](spark, SF_DIR).collect()
    v = {r["verdict"] for r in rows}
    assert v == {"ok", "link_farm"}
    for r in rows:
        if r["doc_id"] % 19 == 0:
            assert r["n_external"] >= 5


def test_meta_robots_screen_hand_cases(spark):
    from kneaddata_spark.operators.crawl import meta_robots_screen

    cases = [
        (0, '<head><meta name="robots" content="noindex">', (1, 0, "drop")),
        (1, '<head><meta name="robots" content="NOFOLLOW, noarchive">',
         (0, 1, "no_frontier")),
        (2, '<head><meta name="robots" content="none">', (1, 1, "drop")),
        (3, '<head><meta name="robots" content="index, follow">', (0, 0, "ok")),
        (4, "<head><title>t</title>", (0, 0, "ok")),  # no tag at all
        # token boundary: 'nonoindexing' must NOT trip noindex
        (5, '<head><meta name="robots" content="nonoindexing">', (0, 0, "ok")),
        # whitespace-separated tokens are valid per the standard
        (6, '<head><meta name="robots" content="noindex nofollow">',
         (1, 1, "drop")),
    ]
    df = spark.createDataFrame(
        [(i, h + "<body></body>") for i, h, _ in cases],
        "doc_id long, html string",
    )
    got = {r["doc_id"]: r for r in
           meta_robots_screen(df, "doc_id", "html").collect()}
    for i, _, (ni, nf, v) in cases:
        r = got[i]
        assert (r["noindex"], r["nofollow"], r["verdict"]) == (ni, nf, v), (i, r)


def test_meta_robots_driver_all_verdicts_live(spark):
    from kneaddata_spark.plans.entry_queries import QUERIES

    rows = QUERIES["meta_robots_screen"](spark, SF_DIR).collect()
    assert {r["verdict"] for r in rows} == {"drop", "no_frontier", "ok"}
    for r in rows:
        m = r["doc_id"] % 9
        if m == 1 or m == 3:
            assert r["verdict"] == "drop"
        elif m == 2:
            assert r["verdict"] == "no_frontier"
        elif m == 4:
            assert r["verdict"] == "ok" and r["robots_content"] == "index, follow"
