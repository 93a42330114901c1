"""RFC 9309 robots.txt semantics: group selection, longest-match
precedence, wildcards, the $ anchor, tie-breaking toward Allow."""

from pdf_parser_benchmark_spark.extract.robots import (
    parse_robots,
    robots_allowed,
)

ROBOTS = """\
# corpus crawler policy
User-agent: *
Disallow: /private/
Allow: /private/ok/
Disallow: /*.pdf$

User-agent: greedybot
User-agent: scraperbot
Disallow: /

Sitemap: https://x.example/sitemap.xml
"""


def test_group_structure():
    groups = parse_robots(ROBOTS)
    assert [g.agents for g in groups] == [["*"], ["greedybot", "scraperbot"]]
    assert len(groups[0].rules) == 3
    assert [r[0] for r in groups[0].rules] == [False, True, False]


def test_longest_match_and_allow_override():
    assert robots_allowed(ROBOTS, "goodbot", "/public/a")
    assert not robots_allowed(ROBOTS, "goodbot", "/private/x")
    # Allow: /private/ok/ is longer than Disallow: /private/
    assert robots_allowed(ROBOTS, "goodbot", "/private/ok/y")


def test_wildcard_and_end_anchor():
    assert not robots_allowed(ROBOTS, "goodbot", "/doc1.pdf")
    assert not robots_allowed(ROBOTS, "goodbot", "/a/b/doc.pdf")
    # $ anchors the end: .pdfx is NOT blocked
    assert robots_allowed(ROBOTS, "goodbot", "/doc1.pdfx")


def test_specific_group_selected_by_token():
    assert not robots_allowed(ROBOTS, "GreedyBot/2.1", "/public/a")
    assert not robots_allowed(ROBOTS, "scraperbot", "/anything")
    # multi-agent group: both tokens map to the same rules
    assert not robots_allowed(ROBOTS, "ScraperBot v3", "/x")


def test_longest_token_wins_group_selection():
    txt = ("User-agent: bot\nDisallow: /a/\n\n"
           "User-agent: bigbot\nDisallow: /b/\n")
    # 'bigbot' contains both tokens; the longer token's group applies
    assert robots_allowed(txt, "bigbot", "/a/x")
    assert not robots_allowed(txt, "bigbot", "/b/x")


def test_no_group_and_empty_disallow_allow_everything():
    assert robots_allowed("", "anybot", "/x")
    assert robots_allowed("User-agent: *\nDisallow:\n", "anybot", "/x")


def test_tie_length_prefers_allow():
    txt = "User-agent: *\nDisallow: /p/a\nAllow: /p/b\n"
    # equal-length patterns on different paths; and a true tie:
    tie = "User-agent: *\nDisallow: /dir/\nAllow: /dir*\n"
    assert not robots_allowed(txt, "b", "/p/a")
    assert robots_allowed(txt, "b", "/p/b")
    assert robots_allowed(tie, "b", "/dir/x")  # 5 == 5 → Allow wins


def test_parse_sitemap_urlset_and_index():
    from pdf_parser_benchmark_spark.extract.robots import parse_sitemap

    urlset = """<?xml version="1.0"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc> https://x.example/a?q=1&amp;r=2 </loc><lastmod>2024-01-01</lastmod></url>
  <url><loc>https://x.example/b</loc></url>
</urlset>"""
    pages, children = parse_sitemap(urlset)
    assert pages == ["https://x.example/a?q=1&r=2", "https://x.example/b"]
    assert children == []

    index = """<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>https://x.example/s1.xml</loc></sitemap>
  <sitemap><loc>https://x.example/s2.xml</loc></sitemap>
</sitemapindex>"""
    pages, children = parse_sitemap(index)
    assert pages == []
    assert children == ["https://x.example/s1.xml", "https://x.example/s2.xml"]


def test_gopher_keep_paper_defaults(spark):
    """Direct unit pin of the gopher gate at PAPER defaults (50 words /
    2 stop words) independent of the corpus-scaled query thresholds."""
    from pyspark.sql import functions as F

    from pdf_parser_benchmark_spark.functions.text import gopher_keep

    good = ("the data and results " * 15).strip()        # 60 words, 2 stops
    short = "the tiny and doc"                           # fails word_count
    nostop = ("alpha beta gamma delta " * 15).strip()    # fails stop_words
    # '####' keeps mean word length in [3,10] so the SYMBOL rule is the
    # first to fail, not mean_word_len
    symbols = ("the of data " * 20 + "#### " * 40).strip()
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, nostop), (4, symbols)], "id long, t string"
    )
    keep, reason = gopher_keep(F.col("t"))
    got = {r["id"]: (r["k"], r["r"]) for r in
           df.select("id", keep.alias("k"), reason.alias("r")).collect()}
    assert got[1] == (True, None)
    assert got[2] == (False, "word_count")
    assert got[3] == (False, "stop_words")
    assert got[4] == (False, "symbol_ratio")


def test_multiple_matching_groups_merge_rules():
    """RFC 9309 §2.2.1: several groups naming the same winning token (or
    several `*` groups) combine into one rule set — rules from ALL of them
    apply (ADVICE r4: previously only the first matching group did)."""
    txt = (
        "User-agent: corpusbot\nDisallow: /a/\n\n"
        "User-agent: corpusbot\nDisallow: /b/\n"
    )
    assert not robots_allowed(txt, "corpusbot", "/a/x")
    assert not robots_allowed(txt, "corpusbot", "/b/x")  # merged, not lost
    assert robots_allowed(txt, "corpusbot", "/c/x")
    star2 = "User-agent: *\nDisallow: /p/\n\nUser-agent: *\nDisallow: /q/\n"
    assert not robots_allowed(star2, "anybot", "/p/1")
    assert not robots_allowed(star2, "anybot", "/q/1")


def test_token_match_is_product_token_prefix():
    """Token matching anchors to the crawler's product-token prefix: a
    short token embedded mid-string ('bot' in 'corpusbot') no longer
    matches, while a true prefix does (ADVICE r4)."""
    txt = "User-agent: bot\nDisallow: /\n\nUser-agent: *\nDisallow: /tmp/\n"
    # 'bot' is not a prefix of 'corpusbot' -> falls back to the * group
    assert robots_allowed(txt, "corpusbot", "/page")
    assert not robots_allowed(txt, "corpusbot", "/tmp/x")
    # but IS a prefix of 'bot/1.2'
    assert not robots_allowed(txt, "Bot/1.2", "/page")
