"""Property-based kernel robustness (hypothesis): the extraction kernel
must NEVER raise, always emit a valid capsule, and stay a pure function
of its input — on arbitrary garbage, not just the generator's corpus.
(C10 error-capsuling contract; reference modal_docling.py:259-264.)"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from docling_api_spark.extraction.kernel import (
    MAX_PAYLOAD_CHARS,
    extract_flat,
    extract_one,
)

VALID_STATUS = {"success", "error", "skipped_ocr"}

payloads = st.one_of(
    st.none(),
    st.text(max_size=400),
    # HTML-ish soup: tags, entities, brackets, whitespace
    st.text(
        alphabet="<>/ab &#;x\"'=\n\t-!%" , max_size=400
    ),
    # base64-alphabet strings (hit the b64 sniff path)
    st.text(alphabet="ABCDEFabcdef0123456789+/=", min_size=0, max_size=200),
)


@settings(max_examples=400, deadline=None)
@given(payloads)
def test_extract_one_total_and_deterministic(text):
    import json

    from docling_api_spark.extraction.kernel import ExtractOptions

    r1 = extract_one(text)
    r2 = extract_one(text)
    assert r1 == r2  # pure function of the input
    assert r1["status"] in VALID_STATUS
    assert isinstance(r1["extracted_text"], str)
    assert r1["pages"] >= 1
    assert r1["n_nodes"] >= 0
    if r1["status"] == "error":
        assert r1["error"]
    # span offsets are sane: within the raw input for non-decoded kinds
    if r1["payload_kind"] in ("html", "markdown", "plain") and text:
        for s in r1["spans"]:
            assert 0 <= s[0] <= s[1] <= len(text)
    # doc_json: parses, stable, and prov mirrors the emitted spans
    rj = extract_one(text, ExtractOptions("both"))
    assert rj["extracted_text"] == r1["extracted_text"]
    if rj["status"] == "success":
        doc = json.loads(rj["doc_json"])
        assert doc["pages"] == rj["pages"]
        assert doc["n_nodes"] == rj["n_nodes"]
        span_provs = [[s[0], s[1]] for s in rj["spans"]]
        item_provs = [it["prov"] for it in doc["body"]]
        if rj["payload_kind"] in ("html", "markdown", "plain"):
            assert item_provs == [
                [max(p[0], 0), max(p[1], 0)] for p in span_provs
            ]
    else:
        assert rj["doc_json"] is None


@settings(max_examples=50, deadline=None)
@given(st.lists(payloads, max_size=20))
def test_extract_flat_agrees_with_extract_one(texts):
    """Batch invariance: row i of a batch equals the one-row batch of
    its payload, field for field and span for span."""
    from docling_api_spark.extraction.kernel import ExtractOptions

    both = ExtractOptions("both")
    flat = extract_flat(texts, both)
    assert len(flat["status"]) == len(texts)
    assert flat["span_offsets"][0] == 0
    assert flat["span_offsets"][-1] == len(flat["span_start"])
    for i, t in enumerate(texts):
        one = extract_one(t, both)
        for k in ("status", "payload_kind", "extracted_text", "doc_json",
                  "pages", "n_nodes", "error"):
            assert flat[k][i] == one[k], k
        lo, hi = flat["span_offsets"][i], flat["span_offsets"][i + 1]
        assert list(zip(flat["span_start"][lo:hi], flat["span_end"][lo:hi],
                        flat["span_node_id"][lo:hi],
                        flat["span_kind"][lo:hi])) == one["spans"]


def test_kernel_exception_becomes_error_capsule():
    """A payload that makes the kernel raise (bytes, not str) becomes a
    status='error' / payload_kind='unknown' row carrying the exception
    name; its neighbours in the batch are untouched."""
    from docling_api_spark.extraction.kernel import ExtractOptions

    good = f"<p>{'long body paragraph with enough characters ' * 3}</p>"
    for opts in (ExtractOptions("markdown"), ExtractOptions("both")):
        r = extract_one(b"<p>bytes payload</p>", opts)
        assert r["status"] == "error"
        assert r["payload_kind"] == "unknown"
        assert r["error"].startswith("TypeError: ")
        assert r["doc_json"] is None and r["spans"] == []
        assert (r["pages"], r["n_nodes"]) == (1, 0)
        flat = extract_flat([good, b"<p>bytes payload</p>", good], opts)
        assert flat["status"] == ["success", "error", "success"]
        assert flat["error"][0] is None and flat["error"][2] is None
        assert flat["error"][1] == r["error"]
        assert flat["extracted_text"][0] == flat["extracted_text"][2]
        one = extract_one(good, opts)
        assert flat["extracted_text"][0] == one["extracted_text"]
        assert flat["doc_json"][0] == one["doc_json"]


BODY = "long body paragraph with enough characters to pass the short-block rule"


def test_unclosed_a_inside_inline_close_recovers():
    """An unmatched inline close (</em>) pops through an unclosed <a>,
    restoring a_depth — later blocks must NOT be dropped as link text."""
    r = extract_one(f"<em><a href=x>click</em><p>{BODY}</p>")
    assert r["extracted_text"] == BODY
    # same document, well-formed: identical result
    rw = extract_one(f"<em><a href=x>click</a></em><p>{BODY}</p>")
    assert r["extracted_text"] == rw["extracted_text"]


def test_interleaved_inline_block_closes_keep_two_blocks():
    """'<b><p>x</b>y</p>' — the </b> pops through the open <p>, so y
    starts a fresh paragraph (2 blocks, not 1 merged)."""
    r = extract_one(f"<b><p>{BODY} one</b>{BODY} two</p>")
    assert r["extracted_text"] == f"{BODY} one\n\n{BODY} two"


def test_nested_unclosed_a_chain_recovers():
    """Multiple unclosed <a>s under one inline tag: the inline close pops
    them all; subsequent content is classified normally."""
    r = extract_one(f"<span><a href=1>x<a href=2>y</span><p>{BODY}</p>")
    assert BODY in r["extracted_text"]


def test_inline_close_inside_script_string_does_not_leak():
    """'</i>' inside a JS string must not pop through the open <script>
    and leak the script body into the extracted text."""
    r = extract_one(
        f'<i>hello <script>var s = "</i>"; secret();</script> world</i>'
        f"<p>{BODY}</p>"
    )
    assert "secret" not in r["extracted_text"]
    assert '";' not in r["extracted_text"]
    assert r["extracted_text"] == f"hello world\n\n{BODY}"
    # an OUTER skip-tag close inside the script string must not end the
    # script region either (only the innermost skip tag's own close does)
    ro = extract_one(
        f'<head><script>var s = "</head>"; secret();</script></head>'
        f"<body><p>{BODY}</p></body>"
    )
    assert "secret" not in ro["extracted_text"]
    assert ro["extracted_text"] == BODY
    rs = extract_one(
        f'<svg><script>x = "</svg>"; leak();</script></svg><p>{BODY}</p>'
    )
    assert "leak" not in rs["extracted_text"]


def test_rawtext_bodies_cannot_confuse_the_tokenizer():
    """Arbitrary JS/CSS ('i<n', '<!--', stray '<') must never eat the
    literal close tag — rawtext bodies are space-masked before
    tokenizing, so content after the script always survives."""
    cases = [
        f"<script>for(i=0;i<n;i++) f(i);</script><p>{BODY}</p>",
        f'<script>x = "<!--";</script><p>{BODY}</p>',
        f"<script>a < b && c > d</script><p>{BODY}</p>",
        f"<style>p>span {{ color: red }}</style><p>{BODY}</p>",
        f'<script src="x.js">leftover < tokens</script><p>{BODY}</p>',
        f"<SCRIPT>UPPER < case</SCRIPT><p>{BODY}</p>",
    ]
    for c in cases:
        r = extract_one(c)
        assert r["extracted_text"] == BODY, (c, r["extracted_text"])
    # unclosed rawtext: the rest of the input is its text (HTML spec)
    r = extract_one(
        f"<p>kept intro words enough to pass the length rule</p>"
        f"<script>var x = 1; <p>{BODY}</p>"
    )
    assert "kept intro" in r["extracted_text"]
    assert BODY not in r["extracted_text"]
    # commented-out scripts never open a region (comment precedence)
    for c in [
        f"<!-- <script> --><p>{BODY}</p>",
        f"<!-- disabled: <script>old()</script> --><p>{BODY}</p>",
        f"<!-- <style> --><p>{BODY}</p>",
    ]:
        assert extract_one(c)["extracted_text"] == BODY, c
    # rawtext containing a comment open still ends at its literal close
    r = extract_one(f"<script>x<!--y</script><p>{BODY} z</p>")
    assert BODY in r["extracted_text"] and "x<!--y" not in r["extracted_text"]


def test_rawtext_open_tag_quoted_gt_and_attr_close():
    """Two open/close tag edge shapes: a '>' inside a QUOTED attribute
    value must not end the open tag early (the masked region would start
    inside the tag), and a spec-valid attribute-bearing close like
    '</script foo>' must be recognized — otherwise the region masks to
    EOF and the rest of the document is dropped."""
    # '>' inside a quoted attribute value of the open tag
    r = extract_one(f'<script data-x="a>b">var i<n;</script><p>{BODY}</p>')
    assert BODY in r["extracted_text"]
    assert "var i" not in r["extracted_text"]
    r = extract_one(f"<script data-x='a>b'>f(q<r);</script><p>{BODY}</p>")
    assert BODY in r["extracted_text"] and "f(q" not in r["extracted_text"]
    # attribute-bearing / spaced close tags still close the region
    for close in ["</script foo>", "</script foo='1'>", "</script />",
                  "</SCRIPT X>"]:
        r = extract_one(f"<script>i<n; secret();{close}<p>{BODY}</p>")
        assert r["extracted_text"] == BODY, close
        assert "secret" not in r["extracted_text"]
    # '</scriptx>' is NOT a close (different tag name) — region runs on
    r = extract_one(
        f"<p>kept intro words enough to pass the length rule</p>"
        f"<script>a</scriptx><p>{BODY}</p>"
    )
    assert "kept intro" in r["extracted_text"]
    assert BODY not in r["extracted_text"]
    # unterminated quote in the open tag degrades to the tokenizer's
    # first-'>' rule — the body is still masked and the doc survives
    r = extract_one(f'<script data-x="a id=5>var i<n;</script><p>{BODY}</p>')
    assert BODY in r["extracted_text"]


def test_rawtext_vs_parsed_skip_semantics():
    """script/style are RAWTEXT (only their literal close ends them —
    tag-shaped strings inside are text); head/svg are parsed-skip
    (suppressed but still nesting markup)."""
    # a skip-tag OPEN inside a script string must not swallow the doc
    r = extract_one(f'<script>var s = "<style>"; x();</script><p>{BODY}</p>')
    assert r["extracted_text"] == BODY
    r = extract_one(f'<script>document.write("<svg>")</script><p>{BODY}</p>')
    assert r["extracted_text"] == BODY
    # style raw text with its own close inside a CSS string
    r = extract_one(f'<style>p {{ content: "</style>"; }}</style><p>{BODY}</p>')
    assert "content" not in r["extracted_text"] and BODY in r["extracted_text"]
    # parsed-skip regions still nest real markup and close cleanly
    r = extract_one(
        f"<head><style>.x{{color:red}}</style><title>T</title></head>"
        f"<p>{BODY}</p>"
    )
    assert r["extracted_text"] == BODY
    r = extract_one(
        f"<svg><rect></rect><text>chart label</text></svg><p>{BODY}</p>"
    )
    assert "chart label" not in r["extracted_text"] and BODY in r["extracted_text"]
    # nested skip tags still close correctly from inside
    r2 = extract_one(f"<p>a<script><style>zz</style>yy</script>b {BODY}</p>")
    assert "zz" not in r2["extracted_text"] and "yy" not in r2["extracted_text"]
    assert r2["extracted_text"].startswith("ab ")


def test_close_inside_skip_region_is_inert():
    """</a> (or any close) inside <script> must not decrement counters of
    opens outside the skip region, and must not corrupt skip_depth."""
    r = extract_one(
        f"<p>before<script><a>x</a></div></script>after</p>"
        f"<a>link</a><p>{BODY}</p>"
    )
    assert r["extracted_text"] == f"beforeafter\n\n{BODY}"
    # link-density accounting still works after the skip region
    r2 = extract_one(f"<script><a>x</a></script><p><a>tiny</a></p><p>{BODY}</p>")
    assert r2["extracted_text"] == BODY  # short all-link block dropped


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.sampled_from(
            ["<em>", "</em>", "<a href=x>", "</a>", "<p>", "</p>", "<b>",
             "</b>", "<script>", "</script>", "<nav>", "</nav>", "text ",
             BODY, "<ul>", "<li>", "</li>", "</ul>", "<table>", "<tr>",
             "<td>", "</td>", "</tr>", "</table>",
             # malformed comment fragments: unterminated openers, bare
             # closers, dash runs — the masking scanner must stay total
             "<!--", "-->", "<!-- x", "--", "<!--->"]
        ),
        max_size=30,
    )
)
def test_arbitrary_tag_interleavings_never_crash(parts):
    """Fuzz over adversarial open/close interleavings (the ADVICE class):
    total function, deterministic, sane spans."""
    text = "".join(parts)
    r1 = extract_one(text)
    r2 = extract_one(text)
    assert r1 == r2
    assert r1["status"] in VALID_STATUS
    for s in r1["spans"]:
        assert 0 <= s[0] <= s[1] <= len(text)


def test_oversize_boundary():
    # plain prose (spaces keep it out of the base64 sniff path)
    at = ("word " * (MAX_PAYLOAD_CHARS // 5 + 1))[:MAX_PAYLOAD_CHARS]
    over = at + "xx"
    r_at = extract_one(at)
    assert r_at["status"] == "success" and r_at["payload_kind"] == "plain"
    r = extract_one(over)
    assert r["status"] == "error" and r["payload_kind"] == "oversize"


# ---------------------------------------------------------------------------
# Differential fuzz vs the stdlib parser: on WELL-FORMED HTML (balanced
# tags, no entities, no stray '<'), the single-pass scanner must see
# exactly the same visible text as an independent html.parser.HTMLParser
# walk — compared as a word multiset, so block segmentation / implicit-
# close recovery differences can't mask a dropped or duplicated text run.
# (The eight spec-legal parser bugs fixed earlier were all of this class:
# text silently lost or glued under legal markup the fixtures never hit.)
# ---------------------------------------------------------------------------

_SKIP_FOR_WALK = {"script", "style", "noscript", "template", "svg", "head"}
# inline-rendering semantics (innerText-style): text runs across inline
# tag boundaries GLUE ("price<em>less</em>" is one word); every other
# element boundary is a word break. img contributes nothing and breaks
# nothing (the kernel has no alt-text handling).
_NO_BREAK_FOR_WALK = {"a", "em", "strong", "span", "code", "b", "i", "u",
                      "small", "img"}


class _StdlibVisibleText(__import__("html.parser", fromlist=["HTMLParser"]).HTMLParser):
    """Independent ground truth: all character data outside skip regions,
    word-segmented by block-level element boundaries."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self._skip = 0
        self.out: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_FOR_WALK:
            self._skip += 1
        elif tag not in _NO_BREAK_FOR_WALK:
            self.out.append(" ")

    def handle_endtag(self, tag):
        if tag in _SKIP_FOR_WALK:
            if self._skip:
                self._skip -= 1
        elif tag not in _NO_BREAK_FOR_WALK:
            self.out.append(" ")

    def handle_data(self, data):
        if not self._skip:
            self.out.append(data)


def _kernel_visible_word_seq(html_text: str) -> list:
    from docling_api_spark.extraction.kernel import (
        _parse_html,
        _Table,
    )

    words: list[str] = []
    for node in _parse_html(html_text):
        if isinstance(node, _Table):
            for row in node.rows:
                for cell in row:
                    words.extend(cell.split())
        else:
            words.extend(node.text().split())
    return words


def _kernel_visible_words(html_text: str):
    import collections

    return collections.Counter(_kernel_visible_word_seq(html_text))


_WORDS = st.lists(
    st.one_of(
        st.text(alphabet="abcdefgh", min_size=1, max_size=5),
        # character references: both sides decode them (html.unescape vs
        # convert_charrefs), incl. &nbsp; whose \xa0 both normalizations
        # treat as whitespace
        st.sampled_from(["a&amp;b", "x&#65;y", "p&lt;q", "m&nbsp;n",
                         "&quot;w&quot;"]),
    ),
    min_size=1, max_size=4,
).map(" ".join)

_INLINE_TAGS = ["em", "strong", "span", "code", "b", "i", "u", "small"]
_BLOCK_ISH = ["p", "div", "section", "article", "blockquote", "pre",
              "h1", "h2", "h3", "h4", "nav", "header", "footer", "aside",
              "figure", "figcaption", "dl", "dt", "dd"]
_ATTRS = ["", " class=\"c1\"", " id=\"x\"", " data-x=\"a>b\"", " disabled",
          " data-y='a>b'", " class=plain", " title='it>s ok'"]
_COMMENTS = ["<!-- note -->", "<!---->", "<!-- - -- - -->",
             "<!-- <p>ghost words</p> -->", "<!--\nmulti line\n-->"]


def _wrap(tag: str, attrs: str, kids, shout: bool = False) -> str:
    open_t, close_t = (tag.upper(), tag) if shout else (tag, tag)
    return f"<{open_t}{attrs}>" + "".join(kids) + f"</{close_t}>"


@st.composite
def _element(draw, inner):
    kind = draw(st.integers(0, 9))
    shout = draw(st.booleans()) if draw(st.booleans()) else False
    if kind <= 3:  # plain / inline-wrapped container
        tag = draw(st.sampled_from(_INLINE_TAGS + _BLOCK_ISH))
        attrs = draw(st.sampled_from(_ATTRS))
        kids = draw(st.lists(inner, max_size=3))
        return _wrap(tag, attrs, kids, shout)
    if kind == 4:  # anchor
        kids = draw(st.lists(inner, max_size=2))
        return _wrap("a", " href=\"u\"", kids, shout)
    if kind == 5:  # list
        items = draw(st.lists(inner, min_size=1, max_size=3))
        tag = draw(st.sampled_from(["ul", "ol"]))
        return _wrap(tag, "", [f"<li>{k}</li>" for k in items])
    if kind == 6:  # table: optional caption/thead/tbody, stray inter-row text
        ncols = draw(st.integers(1, 3))
        nrows = draw(st.integers(1, 3))
        parts = []
        if draw(st.booleans()):
            parts.append(f"<caption>{draw(_WORDS)}</caption>")
        rows = []
        for r in range(nrows):
            # sequences inside a cell (element THEN text) exercise the
            # close-side word-break path: '<td><p>a</p>b' must be 'a b'
            cells = ["".join(draw(st.lists(st.one_of(_WORDS, inner),
                                           min_size=1, max_size=2)))
                     for _ in range(ncols)]
            ct = "th" if r == 0 and draw(st.booleans()) else "td"
            rows.append("<tr>" + "".join(f"<{ct}>{c}</{ct}>" for c in cells)
                        + "</tr>")
        if len(rows) > 1 and draw(st.booleans()):
            parts.append(f"<thead>{rows[0]}</thead>")
            parts.append("<tbody>" + "".join(rows[1:]) + "</tbody>")
        else:
            if draw(st.booleans()):
                rows.insert(draw(st.integers(0, len(rows))), draw(_WORDS))
            parts.extend(rows)
        return _wrap("table", "", parts)
    if kind == 7:  # rawtext region: body must be invisible to BOTH sides
        body = draw(st.text(alphabet="abc =;(){}", max_size=30))
        tag = draw(st.sampled_from(["script", "style"]))
        return _wrap(tag, "", [body], shout)
    if kind == 8:  # void tags / comments between runs (comment bodies —
        # including tag-shaped ones — are invisible AND glue adjacent
        # text on both sides, unlike the block-void br/hr word break)
        return draw(st.sampled_from(["<br>", "<hr>", "<img src=\"i\">",
                                     "<br/>", "<hr />"] + _COMMENTS))
    return draw(_WORDS)  # bare text between siblings


_WELL_FORMED = st.recursive(_WORDS, lambda inner: _element(inner), max_leaves=24)


@settings(max_examples=300, deadline=None)
@given(st.lists(_WELL_FORMED, min_size=1, max_size=5).map("".join))
def test_scanner_agrees_with_stdlib_parser_on_wellformed(html_text):
    import collections

    ref = _StdlibVisibleText()
    ref.feed(html_text)
    ref.close()
    expected = collections.Counter("".join(ref.out).split())
    got = _kernel_visible_words(html_text)
    assert got == expected, (
        f"kernel-only: {dict((got - expected))}, "
        f"stdlib-only: {dict((expected - got))}, input={html_text!r}"
    )


@settings(max_examples=300, deadline=None)
@given(
    st.lists(_WELL_FORMED, min_size=1, max_size=5).map("".join)
    .filter(lambda s: "<table" not in s)
)
def test_scanner_word_order_matches_stdlib_on_tablefree(html_text):
    """ORDER-sensitive differential: outside tables (whose pipe-markdown
    serialization legitimately reorders caption/thead relative to raw
    character-data order), the kernel must emit visible words in exact
    document order — a block-reordering bug would be invisible to the
    multiset property above."""
    ref = _StdlibVisibleText()
    ref.feed(html_text)
    ref.close()
    expected = "".join(ref.out).split()
    got = _kernel_visible_word_seq(html_text)
    assert got == expected, f"input={html_text!r}"
