"""Unit-golden tests of the URL + HTML parse kernels (SURVEY.md §5a).

These gate the per-row invariants before any Spark job runs: URL string
forms (str vs human_repr), the link filter pipeline (P4/P5 incl. quirk Q1),
and title/text extraction (X1), each pinned to the reference behavior cited
in the kernel docstrings.
"""

from spider_spark.functions.parse import extract_text, parse_page
from spider_spark.functions.urlkit import (
    CanonURL,
    canonicalize,
    content_ref,
    generate_refs,
    url_host,
)


class TestURLKit:
    def test_str_vs_human_repr(self):
        # test_db_ops_controller.py:144-148: key 'https://example.com',
        # parent 'https://example.com/'
        seed = CanonURL.seed("https://example.com")
        assert str(seed) == "https://example.com"
        assert seed.human_repr() == "https://example.com/"

    def test_seed_scheme_default(self):
        # crawler.py:51-52
        assert str(CanonURL.seed("example.com")) == "https://example.com"
        assert str(CanonURL.seed("http://example.com")) == "http://example.com"

    def test_host_and_port_normalization(self):
        assert url_host("https://EXAMPLE.com/Page") == "example.com"
        assert canonicalize("https://a.com:443/x") == "https://a.com/x"
        assert canonicalize("http://a.com:80/x") == "http://a.com/x"
        assert canonicalize("http://a.com:8080/x") == "http://a.com:8080/x"

    def test_trailing_slash_distinct(self):
        # yarl URL equality keeps '' vs '/' paths distinct
        assert canonicalize("https://a.com") != canonicalize("https://a.com/")

    def test_generate_refs_filters(self):
        seed = CanonURL.seed("https://h0.example")
        out = generate_refs(
            [
                "https://h1.example/p/1",       # kept
                "https://h1.example/p?q=1",     # query string -> dropped
                "https://h0.example",           # self link -> dropped
                "p/2",                          # relative -> joined vs SEED (Q1)
                "",                             # empty href -> resolves to seed -> dropped
            ],
            seed,
        )
        assert out == ["https://h1.example/p/1", "https://h0.example/p/2"]

    def test_relative_resolution_uses_seed_not_page(self):
        # quirk Q1 (crawler.py:150-151): base is the seed
        seed = CanonURL.seed("https://h0.example/root/")
        page = CanonURL.parse("https://h9.example/deep/page")
        assert generate_refs(["sub"], seed) == ["https://h0.example/root/sub"]
        assert generate_refs(["sub"], seed, resolve_base=page) == [
            "https://h9.example/deep/sub"
        ]

    def test_content_ref_deterministic(self):
        a = content_ref("https://www.google.com/x")
        assert a == content_ref("https://www.google.com/x")
        assert a.startswith("www_google_com_") and a.endswith(".html")

    def test_content_ref_col_matches_python_uuid5(self, spark):
        # the JVM sha1-surgery form must be bit-identical to
        # uuid.uuid5(NAMESPACE_URL, url) across variant nibbles
        from pyspark.sql import functions as F

        from spider_spark.functions.urlkit import content_ref_col

        urls = [
            f"https://h{i % 19}.example/d/{i}" for i in range(200)
        ] + ["https://www.google.com/x", "https://a.example/"]
        df = spark.createDataFrame([(u, url_host(u)) for u in urls],
                                   "url string, host string")
        got = {
            r["url"]: r["ref"]
            for r in df.select(
                "url", content_ref_col(F.col("url"), F.col("host")).alias("ref")
            ).collect()
        }
        assert got == {u: content_ref(u) for u in urls}


HTML = b"""<html><head><title>
  My  Title
</title><script>var x = '<a href="https://evil">no</a>';</script></head>
<body><h1>Hello</h1>
<a href="https://h1.example/a">one</a>
<a>no href</a>
<a href="https://h1.example/b?utm=1">query</a>
<a href="rel/c">rel</a>
<p>World &amp; peace</p>
<title>second title ignored</title>
</body></html>"""


class TestParseKernel:
    def test_title(self):
        title, _, _ = parse_page(HTML)
        # crawler.py:165-168: first <title>, '\n' removed, stripped
        assert title == "  My  Title".replace("\n", "").strip()
        assert title == "My  Title"

    def test_no_title_is_none(self):
        title, _, _ = parse_page(b"<html><body><a href='/x'>x</a></body></html>")
        assert title is None

    def test_empty_title_stays_empty(self):
        # `if title:` guard means '' is not transformed (crawler.py:166)
        title, _, _ = parse_page(b"<title></title>")
        assert title == ""

    def test_hrefs_document_order_and_missing_href_skipped(self):
        _, hrefs, _ = parse_page(HTML)
        assert hrefs == ["https://h1.example/a", "https://h1.example/b?utm=1", "rel/c"]

    def test_text_skips_script_and_decodes_entities(self):
        _, _, text = parse_page(HTML)
        assert "evil" not in text
        assert "World & peace" in text

    def test_text_deterministic(self):
        assert extract_text(HTML) == extract_text(HTML)

    def test_bytes_and_str_agree(self):
        assert parse_page(HTML) == parse_page(HTML.decode())

    def test_full_pipeline_with_filters(self):
        seed = CanonURL.seed("https://h0.example")
        _, hrefs, _ = parse_page(HTML)
        refs = generate_refs(hrefs, seed)
        assert refs == ["https://h1.example/a", "https://h0.example/rel/c"]


class TestMainContentExtraction:
    HTML = (
        "<html><body>"
        "<nav><a href='/'>Home</a> About Contact</nav>"
        "<header>Site Title Banner Words Here</header>"
        "<div><p>This is the actual article body. It has real sentences "
        "and continues for a while with substantive content.</p>"
        "<p>Short but punchy.</p>"
        "<p>tiny</p></div>"
        "<aside>Related links sidebar listing</aside>"
        "<footer>Copyright 2024 Example Corp All Rights Reserved "
        "Terms Privacy</footer>"
        "</body></html>"
    )

    def test_drops_structural_boilerplate_and_fragments(self):
        from spider_spark.functions.parse import extract_main_text, extract_text

        main = extract_main_text(self.HTML)
        # article paragraphs survive (long, or short-with-punctuation)
        assert "actual article body" in main
        assert "Short but punchy." in main
        # nav/header/aside/footer content and punctuation-free fragments go
        for boiler in ("Home", "Banner", "sidebar", "Copyright", "tiny"):
            assert boiler not in main
        # main text is a subset of the full deterministic text
        full = extract_text(self.HTML)
        for line in main.split("\n"):
            assert line in full

    def test_never_throws_and_deterministic(self):
        from spider_spark.functions.parse import extract_main_text

        for h in (b"", b"<nav>", b"\xff\xfe garbage <p>x</p>", self.HTML.encode()):
            assert extract_main_text(h) == extract_main_text(h)

    def test_udf_over_synthetic_pages(self, spark):
        from pyspark.sql import functions as F

        from spider_spark.functions.parse import extract_main_text_udf
        from spider_spark.sources.pages import synthetic_pages

        pages = synthetic_pages(spark, 20)
        got = pages.select(
            "url", extract_main_text_udf(F.col("html")).alias("main")
        ).collect()
        # synthetic pages have no boilerplate containers: body text is kept
        assert all("synthetic page body" in r["main"] for r in got)
