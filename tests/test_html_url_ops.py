"""Planted edge cases for the round-5 html→text and url-normalization
operators (wtq/operators/text.py) — the cases the in-query demo's
synthesized wrapper doesn't isolate."""

from __future__ import annotations

from wtq.operators.text import html_to_text, normalize_urls


def _run_html(spark, html: str) -> tuple[str, int]:
    df = spark.createDataFrame([(0, html)], "doc_id long, html string")
    r = html_to_text(df, "doc_id", "html").collect()[0]
    return r.text, r.n_tags


def test_html_script_with_embedded_angle_brackets(spark):
    # a '<' inside script code must not terminate the script strip
    text, n = _run_html(spark, "<p>keep</p><script>if (a<b) { x(); }</script><p>also</p>")
    assert text == "keep also"
    assert n == 4  # <p> </p> <p> </p>


def test_html_entity_decode_is_single_pass(spark):
    # double-encoded text decodes ONE level: '&amp;lt;' → '&lt;', not '<'
    text, _ = _run_html(spark, "<b>&amp;lt;tag&amp;gt;</b> &amp; &lt;x&gt;")
    assert text == "&lt;tag&gt; & <x>"


def test_html_unclosed_tag_survives_as_text(spark):
    # malformed trailing '<br' (no '>') is not a tag — kept as text,
    # never swallowed silently
    text, n = _run_html(spark, "<p>alpha</p> tail <br")
    assert text == "alpha tail <br"
    assert n == 2


def test_html_style_comment_and_whitespace_collapse(spark):
    text, n = _run_html(
        spark,
        "<style>p { margin: 0 }</style><!-- note -->\n\n  <div>  a\n b  </div>",
    )
    assert text == "a b"
    assert n == 2


def _norm(spark, url: str) -> str:
    df = spark.createDataFrame([(0, url)], "doc_id long, u string")
    return normalize_urls(df, "doc_id", "u").collect()[0].norm_url


def test_url_canonical_is_fixed_point(spark):
    u = "https://host.example.com/a/b?k=1&z=2"
    assert _norm(spark, u) == u
    assert _norm(spark, _norm(spark, u)) == _norm(spark, u)


def test_url_default_ports_and_case(spark):
    assert _norm(spark, "HTTP://Host.COM:80/Path") == "http://host.com/Path"
    assert _norm(spark, "https://h.com:443/x") == "https://h.com/x"
    # non-default port survives
    assert _norm(spark, "http://h.com:8080/x") == "http://h.com:8080/x"
    # path case is significant and preserved; only scheme+authority fold
    assert _norm(spark, "https://H.com/CaseSensitive") == "https://h.com/CaseSensitive"


def test_url_tracking_params_and_sort(spark):
    assert (
        _norm(spark, "https://h.com/p?b=2&utm_source=x&a=1&gclid=g&ref=rss")
        == "https://h.com/p?a=1&b=2&ref=rss"
    )  # ref= can carry content (a referral code, a git ref), so it stays
    # all params tracked → no '?' at all
    assert _norm(spark, "https://h.com/p?utm_campaign=c&fbclid=f") == "https://h.com/p"


def test_url_fragment_and_trailing_slash(spark):
    assert _norm(spark, "https://h.com/a/#frag") == "https://h.com/a"
    # host root with and without slash unify
    assert _norm(spark, "https://h.com/") == _norm(spark, "https://h.com")


def test_url_recrawl_variants_unify(spark):
    variants = [
        "HTTPS://News.Example.com:443/story/42?utm_source=feed#top",
        "https://news.example.com/story/42/",
        "https://news.example.com/story/42?fbclid=abc",
    ]
    norms = {_norm(spark, v) for v in variants}
    assert norms == {"https://news.example.com/story/42"}
