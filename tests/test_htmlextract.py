"""HTML -> text extraction: hand-written fixtures with exact expected
output, plus a pure-python replica over the synthesized corpus basis the
driver query uses (every column exact), plus the link-domain card."""

from __future__ import annotations

import re

import pytest

SF_DIR = "/root/testdata/sf0.001"


# ---- pure-python replica of the operator's pipeline ----------------------

_BLOCKS = [
    (re.compile(r"(?is)<script[^>]*>.*?</script>"), ""),
    (re.compile(r"(?is)<style[^>]*>.*?</style>"), ""),
    (re.compile(r"(?s)<!--.*?-->"), ""),
    (re.compile(r"(?i)<(?:br[^>]*|/p|/div|/li|/h[1-6]|/tr|/title|/ul|/ol|/table)>"), "\n"),
    (re.compile(r"(?s)</?[a-zA-Z!?][^>]*>"), ""),
]
_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]
_WS = [
    (re.compile(r"[ \t]+"), " "),
    (re.compile(r" *\n[\n ]*"), "\n"),
    (re.compile(r"^\s+|\s+$"), ""),
]


def extract_replica(html: str) -> str:
    out = html
    for pat, rep in _BLOCKS:
        out = pat.sub(rep, out)
    for ent, ch in _ENTITIES:
        out = out.replace(ent, ch)
    for pat, rep in _WS:
        out = pat.sub(rep, out)
    return out


FIXTURES = [
    # (html, expected extracted text)
    (
        "<html><head><title>t</title><style>p{x:1}</style>"
        "<script>if(a<b && c>d){go('<p>')}</script></head>"
        "<body><h1>Head</h1><p>One. Two.</p><p>Three</p>"
        "<!-- note --></body></html>",
        "t\nHead\nOne. Two.\nThree",
    ),
    # entity-encoded markup is CONTENT and survives; &amp;lt; decodes once
    (
        "<p>&lt;b&gt;not a tag&lt;/b&gt; &amp;lt; A&nbsp;&amp;&nbsp;B &#39;q&#39;</p>",
        "<b>not a tag</b> &lt; A & B 'q'",
    ),
    # br variants become line breaks, runs collapse, ends trim
    (
        "  <div>a<br>b<br/>c<BR >d</div>\t\n<ul><li>e</li><li>f</li></ul> ",
        "a\nb\nc\nd\ne\nf",
    ),
    # unterminated '<' is not a tag; lone '&' is not an entity
    ("<p>5 < 6 & 7 > 2</p>", "5 < 6 & 7 > 2"),
    ("", ""),
]


def test_extract_fixtures_spark(spark):
    from kneaddata_spark.operators.htmlextract import html_extract

    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(FIXTURES)], "id long, html string"
    )
    got = {
        r["id"]: r["text"]
        for r in html_extract(df, "id", "html").select("id", "text").collect()
    }
    for i, (h, want) in enumerate(FIXTURES):
        assert got[i] == want, f"fixture {i}: {got[i]!r} != {want!r}"
        # the replica agrees with the hand expectation too
        assert extract_replica(h) == want


def test_html_extract_matches_replica_on_corpus_basis(spark):
    """Every column of the driver query vs the python replica, exact."""
    from kneaddata_spark.operators.htmlextract import html_extract
    from kneaddata_spark.plans.entry_queries import _html_corpus

    corpus = _html_corpus(spark, SF_DIR)
    raw = {r["doc_id"]: r["html"] for r in corpus.collect()}
    got = html_extract(corpus, "doc_id", "html").collect()
    assert len(got) == len(raw) > 0
    href = re.compile(r'(?i)href="([^"]*)"')
    for r in got:
        h = raw[r["doc_id"]]
        want = extract_replica(h)
        assert r["text"] == want
        assert r["n_chars_html"] == len(h)
        assert r["n_chars_text"] == len(want)
        assert r["had_script"] == (1 if "<script" in h else 0)
        assert r["had_style"] == (1 if "<style" in h else 0)
        assert r["n_links"] == len(href.findall(h))
        assert r["kept_permille"] == (len(want) * 1000) // len(h)


def test_link_domains_matches_replica(spark):
    from kneaddata_spark.operators.htmlextract import link_domains
    from kneaddata_spark.plans.entry_queries import _html_corpus

    corpus = _html_corpus(spark, SF_DIR)
    href = re.compile(r'(?i)href="([^"]*)"')
    dom = re.compile(r'^[a-z][a-z0-9+.-]*://([^/"]+)')
    want: dict[str, tuple[int, set]] = {}
    for r in corpus.collect():
        for url in href.findall(r["html"]):
            m = dom.match(url)
            if m and m.group(1):
                n, docs = want.get(m.group(1), (0, set()))
                docs = set(docs)
                docs.add(r["doc_id"])
                want[m.group(1)] = (n + 1, docs)
    got = {
        r["domain"]: (r["n_links"], r["n_docs"])
        for r in link_domains(corpus, "doc_id", "html").collect()
    }
    assert got == {d: (n, len(docs)) for d, (n, docs) in want.items()}
    # the synthesized basis exercises both planted authorities
    assert "mirror.example.net" in got
    assert any(d.endswith(".example.org") for d in got)


URL_CASES = [
    # (raw, canonical)
    (
        "HTTPS://Ex.Example.ORG:443/p/12/?utm_source=feed&b=2&a=1#frag",
        "https://ex.example.org/p/12?a=1&b=2",
    ),
    ("https://ex.example.org/p/12?a=1&b=2", "https://ex.example.org/p/12?a=1&b=2"),
    ("http://A.B:80/x//", "http://a.b/x"),
    ("http://a.b/x", "http://a.b/x"),
    ("https://a.b", "https://a.b"),
    ("https://a.b/?utm_campaign=x", "https://a.b"),
    ("https://a.b/p?fbclid=99", "https://a.b/p"),
    # NON-default port and non-tracking params survive untouched
    ("http://a.b:8080/q?z=1", "http://a.b:8080/q?z=1"),
    # utm must be prefix 'utm_': 'utming' param survives
    ("https://a.b/p?utming=1", "https://a.b/p?utming=1"),
]


def test_url_canonicalize_cases(spark):
    from pyspark.sql import functions as F

    from kneaddata_spark.operators.htmlextract import url_canonicalize

    df = spark.createDataFrame([(u,) for u, _ in URL_CASES], "url string")
    got = {
        r["url"]: r["canon"]
        for r in df.select("url", url_canonicalize(F.col("url")).alias("canon")).collect()
    }
    for raw, want in URL_CASES:
        assert got[raw] == want, f"{raw!r}: {got[raw]!r} != {want!r}"


def test_url_corpus_variants_collapse(spark):
    """Every planted variant (SHOUTING/:443/trailing-slash/tracker and
    :80/unordered-params/fragment) canonicalizes to the plain spelling of
    the same logical page."""
    from kneaddata_spark.plans.entry_queries import QUERIES

    rows = QUERIES["url_canonical"](spark, SF_DIR).collect()
    canon_of = {r["url_id"]: r["canon"] for r in rows}
    base_ids = [i for i in canon_of if i % 3 == 0]
    assert base_ids
    for uid, canon in canon_of.items():
        base = canon_of.get((uid // 3) * 3)
        if base is None:
            continue
        if uid % 3 == 1:
            # SHOUTING host + :443 + trailing slash + utm tracker is the
            # SAME page: collapses to the plain spelling exactly
            assert canon == base, (uid, canon, base)
        elif uid % 3 == 2:
            # :80 stripped, tracker+fragment dropped, params sorted — but
            # http vs https and real params are IDENTITY, never collapsed
            want = "http://" + base[len("https://") :] + "?a=1&b=2"
            assert canon == want, (uid, canon, want)
    # variants exist (docs with doc_id%2==0 / %3==0 plant them)
    assert any(i % 3 == 1 for i in canon_of)
    assert any(i % 3 == 2 for i in canon_of)


def test_main_content_hand_fixture(spark):
    from kneaddata_spark.operators.htmlextract import main_content

    html = (
        '<div><a href="x">A B C D</a></div>'
        "<p>Real paragraph with plenty of characters to pass the minimum "
        "threshold easily.</p><p>Ok</p>"
    )
    df = spark.createDataFrame([(1, html)], "id long, html string")
    rows = sorted(
        main_content(df, "id", "html").collect(), key=lambda r: r["seg_idx"]
    )
    verdicts = [r["verdict"] for r in rows]
    assert verdicts == ["nav", "content", "short"], rows
    assert rows[0]["anchor_permille"] == 1000
    assert rows[1]["anchor_permille"] == 0
    assert rows[2]["text"] == "Ok"


def test_main_content_all_verdicts_live_per_doc(spark):
    """Every doc in the driver basis carries the planted nav header and
    'Ok' paragraph, so all three verdicts appear for every doc_id."""
    from kneaddata_spark.plans.entry_queries import QUERIES

    rows = QUERIES["main_content"](spark, SF_DIR).collect()
    by_doc: dict[int, set] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["verdict"])
        if r["verdict"] == "nav":
            assert r["anchor_permille"] >= 400
    assert by_doc
    for doc, vs in by_doc.items():
        assert {"nav", "short", "content"} <= vs, (doc, vs)


def test_main_content_plan_has_no_exchange(spark):
    from kneaddata_spark.operators.htmlextract import main_content
    from kneaddata_spark.plans.entry_queries import _html_corpus

    plan = main_content(
        _html_corpus(spark, SF_DIR), "doc_id", "html"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_extract_plan_is_shuffle_free(spark):
    """100 TB shape: the extraction is one codegen project — no Exchange,
    no Python eval of any kind in the plan."""
    from kneaddata_spark.operators.htmlextract import html_extract
    from kneaddata_spark.plans.entry_queries import _html_corpus

    plan = html_extract(
        _html_corpus(spark, SF_DIR), "doc_id", "html"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_stream_html_extract_matches_batch_and_idempotent(spark, tmp_path):
    """html_extract is stateless per page, so the SAME plan under
    readStream must emit exactly the batch rows (stream==batch, the
    qc_stream contract extended to web ingest), and re-triggering on the
    same checkpoint appends nothing."""
    from kneaddata_spark.operators.htmlextract import html_extract
    from kneaddata_spark.plans.entry_queries import _html_corpus
    from kneaddata_spark.streaming import stream_html_extract

    src = str(tmp_path / "pages_in")
    _html_corpus(spark, SF_DIR).repartition(3).write.mode("overwrite").parquet(src)
    batch = {
        r["doc_id"]: r.asDict()
        for r in html_extract(spark.read.parquet(src), "doc_id", "html").collect()
    }

    out, ckpt = str(tmp_path / "pages_out"), str(tmp_path / "pages_ckpt")
    q = stream_html_extract(spark, src, out, ckpt)
    q.awaitTermination(300)
    got = {r["doc_id"]: r.asDict() for r in spark.read.parquet(out).collect()}
    assert got == batch and len(batch) > 100

    n_before = spark.read.parquet(out).count()
    q2 = stream_html_extract(spark, src, out, ckpt)  # same checkpoint
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_before


def test_extract_fuzz_engine_equals_replica(spark):
    """300 seeded adversarial strings (tag fragments, stray '<'/'&',
    half-entities, mixed case, tabs/newlines, unicode) through the
    engine vs the python replica — guards the Java-regex semantics the
    fixtures can't enumerate."""
    import random

    rng = random.Random(20260819)
    atoms = [
        "<", ">", "&", ";", "/", '"', "'", "!", "?", "#", "=", " ", "\t",
        "\n", "a", "B", "z", "0", "9", "é", "日", "<p>", "</p>", "<br>",
        "<BR/>", "<script>", "</script>", "<style>", "</style>", "<!--",
        "-->", "&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&nbsp;",
        "&amp", "&x;", "<a href=\"u\">", "</a>", "<div ", "<h1>", "</h1>",
        "< p>", "<5>", "word", ". ",
    ]
    cases = [
        "".join(rng.choice(atoms) for _ in range(rng.randint(0, 40)))
        for _ in range(300)
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "id long, html string"
    )
    from kneaddata_spark.operators.htmlextract import html_extract

    got = {
        r["id"]: r["text"]
        for r in html_extract(df, "id", "html").select("id", "text").collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == extract_replica(c), (i, c, got[i], extract_replica(c))


def _url_canon_replica(url: str) -> str:
    import re as _re

    nofrag = _re.sub(r"#.*$", "", url)
    m = _re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", nofrag)
    prefix = m.group(1) if m else ""
    rest = nofrag[len(prefix):]
    lp = prefix.lower()
    if lp.startswith("http://") and lp.endswith(":80"):
        lp = lp[:-3]
    elif lp.startswith("https://") and lp.endswith(":443"):
        lp = lp[:-4]
    path = rest.split("?", 1)[0]
    qs = rest.split("?", 1)[1] if "?" in rest else ""
    q = _re.sub(r"&(?:utm_[a-zA-Z0-9_]*|fbclid|gclid)=[^&]*", "", "&" + qs)
    q = _re.sub(r"^&+", "", q)
    q = "&".join(sorted(q.split("&")))
    cpath = _re.sub(r"/+$", "", path)
    return lp + cpath + ("?" + q if q != "" else "")


def test_url_canonicalize_fuzz_engine_equals_replica(spark):
    import random

    from pyspark.sql import functions as F

    from kneaddata_spark.operators.htmlextract import url_canonicalize

    rng = random.Random(7919)
    schemes = ["http://", "https://", "HTTP://", "HtTpS://", "ftp://", ""]
    hosts = ["a.b", "EX.Example.ORG", "x", "a.b:80", "a.b:443", "a.b:8080", ""]
    paths = ["", "/", "/p", "/p/", "/p//q///", "/P/Q"]
    params = ["", "a=1", "b=2&a=1", "utm_source=x", "utm_=1&z=9",
              "fbclid=7", "gclid=8&b=2", "utming=1", "a=1&a=0"]
    frags = ["", "#f", "#a#b"]
    cases = []
    for _ in range(300):
        cases.append(
            rng.choice(schemes) + rng.choice(hosts) + rng.choice(paths)
            + (("?" + rng.choice(params)) if rng.random() < 0.8 else "")
            + rng.choice(frags)
        )
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "id long, url string")
    got = {
        r["id"]: r["canon"]
        for r in df.select("id", url_canonicalize(F.col("url")).alias("canon")).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == _url_canon_replica(c), (i, c, got[i])
