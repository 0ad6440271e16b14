"""Deterministic main-content extraction kernels.

From-scratch rebuild of the observable contract of the reference's
conversion core (docling-api configures Docling in
deployments/modal/modal_docling.py:80-264; capabilities listed in
README.md:7-10): payload -> structured node tree -> content/boilerplate
classification -> markdown + span offsets + page count, with per-document
error capsuling (modal_docling.py:259-264).

This module is PURE PYTHON, no Spark imports. The SAME batch
function, ``extract_flat``, backs both the single-node oracle (golden
fixtures, pytest) and the ``mapInArrow`` operator — so Spark-vs-oracle
equality tests the Spark plumbing (ordering, batching, Arrow encoding),
not two divergent implementations. It holds the only per-row loop and
error capsule; ``extract_one`` is a one-row ``extract_flat``.

Determinism rules (SURVEY.md §4.3): no wall clock, no randomness, no
dict-order leaks, no batch-boundary dependence — each document's result
is a function of its own text only.

Payload classes handled (FIXTURES.md §2):
  html / markdown / plain / pdfish-base64 / empty / oversize /
  needs-OCR sentinel (pass-through, status='skipped_ocr' — OCR & VLM are
  explicit non-goals, cf. modal_docling.py:162-179 OCR config) /
  malformed (best-effort parse or error capsule).
"""

from __future__ import annotations

import base64
import binascii
import html as _html
import json as _json
import re
import unicodedata

# ---------------------------------------------------------------------------
# Constants (mirror the reference's documented limits)
# ---------------------------------------------------------------------------

# reference: max upload 100 MB (api/config.py:56-59). For text payloads in
# the transcripts table we cap characters per turn; larger rows become error
# rows, never crashes (P7).
MAX_PAYLOAD_CHARS = 65_536

# sentinel marking a scanned-image payload that would need OCR (C4 non-goal)
OCR_SENTINEL = "%OCR-IMAGE%"

# magic header of the synthetic "pdf-like" layout format (FIXTURES.md §2)
PDFISH_MAGIC = "%PDFISH"

STATUS_SUCCESS = "success"
STATUS_ERROR = "error"
STATUS_SKIPPED_OCR = "skipped_ocr"


class ExtractOptions:
    """Conversion options, plumbed into the extraction UDFs as constructor
    constants (SURVEY §1.1 'broadcast literals passed to the UDF
    constructor'; reference ConversionOptions api/models/schemas.py:110-124).

    - ``output_format`` ∈ {markdown, json, both} (schemas.py:22-26, default
      markdown per schemas.py:112); gating semantics mirror
      docling_client.py:452-456 / modal_docling.py:251-255: the un-requested
      column is NULL, never computed.
    - ``enable_table_extraction`` (schemas.py:118, plumbed at
      modal_docling.py:166): when False, table nodes are omitted from both
      markdown and doc_json (they still count in ``n_nodes`` — a parse
      statistic, not an emission statistic).
    - ``max_payload_chars`` (the per-turn analog of the reference's 100 MB
      upload cap, api/config.py:56-59): turns longer than this become
      status='error' / payload_kind='oversize' rows, never crashes. The
      default stays the frozen-fixture constant ``MAX_PAYLOAD_CHARS``
      (65,536) — raise it per job for corpora with a long document tail;
      the oversize rate is surfaced in the extraction lineage
      (``n_oversize``) and the corpus funnel.

    OCR/VLM fields are explicit non-goals (C4/C5, SURVEY §7.2).
    """

    __slots__ = ("output_format", "enable_table_extraction",
                 "want_markdown", "want_json", "max_payload_chars")

    def __init__(self, output_format: str = "markdown",
                 enable_table_extraction: bool = True,
                 max_payload_chars: int = MAX_PAYLOAD_CHARS):
        if output_format not in ("markdown", "json", "both"):
            raise ValueError(f"invalid output_format: {output_format!r}")
        # bool is an int subclass: True would silently set the cap to 1
        # and error-out every non-empty document — reject it explicitly
        if (isinstance(max_payload_chars, bool)
                or not isinstance(max_payload_chars, int)
                or max_payload_chars < 1):
            raise ValueError(
                f"invalid max_payload_chars: {max_payload_chars!r}")
        self.output_format = output_format
        self.enable_table_extraction = enable_table_extraction
        self.max_payload_chars = max_payload_chars
        self.want_markdown = output_format in ("markdown", "both")
        self.want_json = output_format in ("json", "both")


DEFAULT_OPTIONS = ExtractOptions()


def doc_json_str(payload_kind: str, pages: int, n_nodes: int, items: list) -> str:
    """C7: deterministic doc-tree JSON export (the ``export_to_dict``
    analog, modal_docling.py:255). Sorted keys + fixed separators — no
    dict-order leaks (SURVEY §4.3); unicode kept literal (ensure_ascii
    off) so the payload is byte-stable and human-readable."""
    doc = {
        "schema_name": "docling-spark",
        "version": 1,
        "kind": payload_kind,
        "pages": pages,
        "n_nodes": n_nodes,
        "body": items,
    }
    return _json.dumps(doc, sort_keys=True, separators=(",", ":"),
                       ensure_ascii=False)

# ---------------------------------------------------------------------------
# Precompiled automata (module-level: loaded once per Python worker, the
# executor-side analog of the reference's model-cache volume S8)
# ---------------------------------------------------------------------------

# group 1 = comment, 2 = tag, 3 = text run, 4 = stray '<'. The
# alternation is TOTAL — every character of the input is consumed by
# exactly one token — which lets the parser track offsets with a running
# position instead of match objects, so it can use findall (C-built
# tuples, no 2.6M .group() calls per million tokens).
# The tag alternative mirrors the HTML tokenizer's tag-open rule:
#  (a) a real tag starts '<' + optional '/' + LETTER, and a '>' inside a
#      quoted attribute value does NOT end it ('<div data-x="a>b">' is
#      one tag). The quote-aware body's alternatives are disjoint on
#      their first character and carry NO trailing [^>]* (that
#      combination is what makes matching AND failing linear — no
#      backtracking blowup on hostile quote runs). Quote interiors
#      exclude '<': a "quoted" region that crosses into markup is far
#      more likely a bare apostrophe in an unquoted attribute value
#      ('<a title=it's x=1>') than a legitimate value, and following it
#      would swallow real content past the tag end — such tags (and
#      quoted values legitimately containing '<') degrade to (b);
#  (b) a tag whose quote structure does not resolve falls back to the
#      first-'>' rule (best-effort: the spec would consume to EOF);
#  (c) '<!...>', '<?...>', '</'+non-letter consume to '>' and parse to
#      no tag (doctype/PI/bogus-comment — contribute nothing).
# A '<' before anything else (spec: a character token) is group 4 and is
# emitted as LITERAL TEXT — 'price<10' must not glue to 'price10'.
# A tag's body after its name, through its '>': (a)'s quote-aware form and
# the first-'>' rule of (b)/(c). The rawtext mask ends an open tag with the
# same two strings, so mask and scanner agree on where a rawtext body starts.
_TAG_BODY = r"[^>\"']*(?:(?:\"[^\"<]*\"|'[^'<]*')[^>\"']*)*>"
_TAG_BODY_LOOSE = r"[^>]*>"
_SCANNER = re.compile(
    r"(<!--.*?-->)"
    r"|(</?[a-zA-Z]" + _TAG_BODY
    + r"|</?[a-zA-Z]" + _TAG_BODY_LOOSE
    + r"|<[!?/]" + _TAG_BODY_LOOSE + r")"
    r"|([^<]+)"
    r"|(<)",
    re.DOTALL,
)
_TAG_NAME = re.compile(r"</?\s*([a-zA-Z][a-zA-Z0-9]*)")
_BASE64_RE = re.compile(r"[A-Za-z0-9+/]+={0,2}")
_MD_MARKER = re.compile(r"^(#{1,6} |```|[-*] |\d+\. )", re.MULTILINE)
_HTML_HINT = re.compile(r"<[a-zA-Z!/]")
_BLANK_RE = re.compile(r"\n\s*\n")

_HEADING_TAGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
_BLOCK_TAGS = frozenset(
    ["p", "li", "pre", "blockquote", "caption", "div", "section", "article",
     "main", "body", "html", "ul", "ol", "table", "tr", "td", "th",
     "thead", "tbody", "tfoot", "figure", "figcaption", "dt", "dd", "dl",
     "h1", "h2", "h3", "h4", "h5", "h6", "br", "hr"]
)
_CHROME_TAGS = frozenset(["nav", "header", "footer", "aside"])
# table-structure tags that must reach the table branches even while a
# cell is collecting (nested tables / implied cell closes)
_TABLE_CTRL_TAGS = frozenset(["table", "thead", "tbody", "tfoot",
                              "tr", "td", "th"])
_SKIP_TAGS = frozenset(["script", "style", "noscript", "template", "head", "svg"])
# RAWTEXT elements per the HTML parsing model: their content is literal
# text until the matching close tag — tags inside NEVER open or close
# anything ('<style>' or '</head>' inside a JS string is just text)
_RAWTEXT_TAGS = frozenset(["script", "style"])
# specials for the rawtext pre-mask scan: a comment open (whose interior
# must NOT trigger rawtext masking — '<!-- <script> -->' is commented
# out) or a script/style open tag. The open-tag END is resolved
# separately with the scanner's own tag bodies: quote-aware first,
# falling back to the first-'>' rule when a quote is unterminated.
_MASK_SPECIAL = re.compile(r"(?is)<!--|<(script|style)\b")
_OPEN_TAG_END = re.compile(_TAG_BODY)
_OPEN_TAG_END_LOOSE = re.compile(_TAG_BODY_LOOSE)
# close tags may carry (ignored) attributes per the spec's end-tag-open
# handling: '</script foo>' still closes — \b keeps name matching aligned
# with the scanner's _TAG_NAME extraction ('</scriptx>' does not close)
_RAWTEXT_CLOSE = {
    "script": re.compile(r"(?is)</script\b[^>]*>"),
    "style": re.compile(r"(?is)</style\b[^>]*>"),
}


def _mask_rawtext(text: str) -> str:
    """Blank script/style bodies with spaces (LENGTH-PRESERVING, so span
    offsets into the raw input stay valid) before tokenizing. The HTML
    spec scans rawtext for the literal close sequence, but the shared
    tokenizer does not: 'i<n' in a script opens a bogus tag token whose
    first '>' is the one inside '</script>', eating the close and
    silently dropping the whole rest of the document. Masking makes the
    region body token-free, so the scanner sees open tag -> spaces ->
    close tag regardless of what the script contained.

    Single left-to-right lexical scan, mirroring the HTML tokenizer's
    precedence: a comment skips to its '-->' (so a commented-out
    '<script>' never opens a region); a rawtext open masks to the first
    literal close after it; an unclosed rawtext open masks to EOF (spec:
    the rest of the input is its text)."""
    m = _MASK_SPECIAL.search(text)
    if m is None:
        return text
    parts: list[str] = []
    last = 0          # copied-through watermark
    pos = 0           # scan position
    while m is not None:
        if m.group(1) is None:  # '<!--'
            e = text.find("-->", m.end())
            if e < 0:
                # spec: an unterminated comment comments out the REST of
                # the input. Mask it (comment open included) — otherwise
                # the scanner, whose comment token requires '-->', falls
                # back to tag/text tokenizing inside: a '<script>' after
                # the comment open would start an UNMASKED rawtext region
                # and eat the document, and commented-out text would leak
                # into extracted content.
                parts.append(text[last:m.start()])
                parts.append(" " * (len(text) - m.start()))
                last = len(text)
                break
            pos = e + 3
        else:
            tag_end = (_OPEN_TAG_END.match(text, m.end())
                       or _OPEN_TAG_END_LOOSE.match(text, m.end()))
            if tag_end is None:
                # no '>' to EOF: the scanner never tokenizes a tag here
                # either (lone '<' + text), so no rawtext region opens
                pos = m.end()
            else:
                open_end = tag_end.end()
                close = _RAWTEXT_CLOSE[m.group(1).lower()].search(text, open_end)
                if close is None:
                    parts.append(text[last:open_end])
                    parts.append(" " * (len(text) - open_end))
                    last = len(text)
                    break
                parts.append(text[last:open_end])
                parts.append(" " * (close.start() - open_end))
                last = close.start()
                pos = close.end()
        m = _MASK_SPECIAL.search(text, pos)
    parts.append(text[last:])
    return "".join(parts)
_VOID_TAGS = frozenset(["br", "hr", "img", "meta", "link", "input", "source", "col", "area", "base", "embed", "param", "track", "wbr"])

# Boilerplate thresholds (the Readability/Boilerpipe/JusText density family;
# tuned as fixed deterministic constants — C2)
_LINK_DENSITY_MAX = 0.55
_SHORT_BLOCK_CHARS = 25
_SHORT_LINK_DENSITY_MAX = 0.30


def _norm(s: str) -> str:
    """Whitespace-collapse + NFC — the single normalization used everywhere.

    ``" ".join(s.split())`` is byte-identical to ``re.sub(r"\\s+", " ",
    s).strip()`` (CPython's ``\\s`` and ``str.isspace`` use the same
    whitespace predicate — verified exhaustively over the BMP) and ~3x
    faster on the hot path (_norm runs once per text token inside links
    plus once per block). NFC is the identity on pure-ASCII strings, so
    the common case skips the unicodedata call entirely.
    """
    s = " ".join(s.split())
    return s if s.isascii() else unicodedata.normalize("NFC", s)


# ---------------------------------------------------------------------------
# Payload sniffing (S4 — format detection; reference picks a parser by file
# extension at modal_docling.py:393; we sniff content)
# ---------------------------------------------------------------------------

def sniff_kind(text: str | None,
               max_payload_chars: int = MAX_PAYLOAD_CHARS) -> str:
    if text is None or text.strip() == "":
        return "empty"
    if len(text) > max_payload_chars:
        return "oversize"
    if text.startswith(OCR_SENTINEL):
        return "needs_ocr"
    stripped = text.strip().replace("\n", "")
    if (
        len(stripped) >= 64
        and len(stripped) % 4 == 0
        and _BASE64_RE.fullmatch(stripped)
    ):
        return "b64"
    if "<" in text and _HTML_HINT.search(text):
        return "html"
    if _MD_MARKER.search(text):
        return "markdown"
    return "plain"


# ---------------------------------------------------------------------------
# C1: HTML single-pass tag scanner -> flattened block list
# ---------------------------------------------------------------------------

class _Block:
    __slots__ = ("node_id", "kind", "parts", "link_len", "depth", "chrome",
                 "start", "end", "level", "list_depth", "list_idx", "ordered",
                 "raw_parts", "_text")

    def __init__(self, node_id: int, kind: str, depth: int, chrome: bool):
        self.node_id = node_id
        self.kind = kind            # heading/para/list/code/quote/cell
        self.parts: list[str] = []
        self.raw_parts: list[str] = []   # for <pre>: preserve whitespace
        self.link_len = 0
        self.depth = depth
        self.chrome = chrome
        self.start = -1
        self.end = -1
        self.level = 0              # heading level
        self.list_depth = 0
        self.list_idx = 0
        self.ordered = False
        self._text: str | None = None   # normalized-text cache; text() is
        # only called after the block stops accumulating (cell close / post-
        # parse classification), so a fill-once cache is safe

    def text(self) -> str:
        t = self._text
        if t is None:
            t = self._text = _norm("".join(self.parts))
        return t

    def text_len(self) -> int:
        return len(self.text())


class _Table:
    __slots__ = ("node_id", "rows", "cur_row", "header_rows", "in_thead",
                 "chrome", "start", "end", "outer_cell")

    def __init__(self, node_id: int, chrome: bool):
        self.node_id = node_id
        self.rows: list[list[str]] = []
        self.cur_row: list[str] | None = None
        self.header_rows = 0
        self.in_thead = False
        self.chrome = chrome
        self.start = -1
        self.end = -1
        # the enclosing table cell a NESTED table interrupted, restored
        # when this table closes — without it the inner table's cells
        # clobber the single `cell` slot and the outer cell's content
        # leaks out as stray paragraphs
        self.outer_cell: "_Block | None" = None


# tag-token parse memo: tag strings repeat heavily (nav links, <p>, </p>,
# <td>...), so (name, closing, selfclose) is cached per exact token string;
# cleared if it ever exceeds ~128k entries (hostile unique-attr input)
_TAG_MEMO: dict = {}


def _parse_html(text: str):
    """One pass over the byte-stream; emits blocks and tables in document
    order. Best-effort on malformed input (stray '<', unclosed tags,
    bogus entities) — mirrors Docling's never-crash posture (C10).
    Rawtext (script/style) bodies are space-masked first (offset-
    preserving) so arbitrary JS/CSS can never confuse the tokenizer."""
    text = _mask_rawtext(text)
    nodes: list[object] = []          # _Block | _Table in doc order
    stack: list[str] = []
    skip_depth = 0                    # parsed-skip + rawtext region depth
    rawtext_tag = None                # innermost RAWTEXT region, if any
    chrome_depth = 0
    a_depth = 0
    list_stack: list[list] = []       # [tag, counter]
    table_stack: list[_Table] = []
    cell: _Block | None = None        # current td/th content collector
    cur: _Block | None = None
    next_id = 0

    def open_block(kind: str, level: int = 0) -> _Block:
        nonlocal next_id, cur
        b = _Block(next_id, kind, len(stack), chrome_depth > 0)
        b.level = level
        next_id += 1
        cur = b
        nodes.append(b)
        return b

    def close_block():
        # inside a table cell, "closing" a block resumes collecting into
        # the cell (a cell is one flat text in the pipe-markdown model);
        # outside a cell this is plain cur = None
        nonlocal cur
        cur = cell

    def flush_cell():
        """Append the live cell's text to the current row — used by the
        explicit </td>/</th> close AND the spec's implied closes (a new
        <td>/<tr> open, </table>, EOF), which would otherwise silently
        discard the unflushed cell."""
        nonlocal cell, cur
        if cell is None:
            return
        if table_stack:
            t = table_stack[-1]
            if t.cur_row is None:
                t.cur_row = []
            t.cur_row.append(cell.text())
            if cell.start >= 0:
                if t.start < 0:
                    t.start = cell.start
                t.end = max(t.end, cell.end)
        cell = None
        cur = None

    pos = 0
    unesc = _html.unescape  # local binds: the loop runs once per token
    memo_get = _TAG_MEMO.get
    for _cmt, tag_tok, text_tok, _stray in _SCANNER.findall(text):
        if text_tok:  # most common token kind — handled first
            tok_start = pos
            pos += len(text_tok)
            if skip_depth:
                continue
            raw = text_tok
            unescaped = unesc(raw)
            stripped = unescaped.strip()
            if cur is None:
                if not stripped:
                    continue
                b = open_block("para")
            else:
                b = cur
            if stripped:
                if b.start < 0:
                    b.start = tok_start + (len(raw) - len(raw.lstrip()))
                b.end = pos - (len(raw) - len(raw.rstrip()))
            b.parts.append(unescaped)
            if b.kind == "code":
                b.raw_parts.append(unescaped)  # only <pre> ever reads these
            if a_depth > 0:
                b.link_len += len(_norm(unescaped))
            continue
        if not tag_tok:
            if _cmt:  # comment: consumed, contributes nothing
                pos += len(_cmt)
                continue
            # stray '<' (spec: a '<' not opening a tag is a character
            # token) — literal text, NOT dropped: 'price<10' must keep
            # its '<' or the surrounding runs glue into 'price10'
            tok_start = pos
            pos += 1
            if skip_depth:
                continue
            b = cur if cur is not None else open_block("para")
            if b.start < 0:
                b.start = tok_start
            b.end = pos
            b.parts.append("<")
            if b.kind == "code":
                b.raw_parts.append("<")
            if a_depth > 0:
                b.link_len += 1
            continue
        tok = tag_tok
        pos += len(tok)
        info = memo_get(tok, 0)
        if info == 0:
            tm = _TAG_NAME.match(tok)
            if tm is None:
                info = None  # <!doctype>, <?...>, garbage
            else:
                _nm = tm.group(1).lower()
                info = (_nm, tok[1] == "/",
                        tok.endswith("/>") or _nm in _VOID_TAGS)
            if len(_TAG_MEMO) > 131072:  # bound worker memory on hostile input
                _TAG_MEMO.clear()
            _TAG_MEMO[tok] = info
        if info is None:
            continue
        name, closing, selfclose = info
        if not closing:
            # block-level markup INSIDE a table cell (other than nested
            # tables and the table-control tags, handled below): the cell
            # keeps collecting — a cell is one flat text in the pipe-
            # markdown model — with a space separator so '<td>a</p><p>b'
            # does not glue words. Without this, open_block would steal
            # `cur` from the cell and the cell's content would leak out
            # as stray paragraphs after the table. Chrome tags get the
            # same treatment ('<td>a<nav>b' must not glue to 'ab' —
            # caught by the stdlib-parser differential fuzz) but still
            # count their region so the matching close stays balanced.
            if (
                cell is not None and not skip_depth
                and name not in _TABLE_CTRL_TAGS
                and (name in _BLOCK_TAGS or name in _HEADING_TAGS
                     or name == "title" or name in _CHROME_TAGS)
            ):
                cell.parts.append(" ")
                if name in _CHROME_TAGS:
                    chrome_depth += 1
                elif name in ("ul", "ol"):
                    # keep list_stack symmetric with the close-side pop:
                    # without this, '</ul>' of a list INSIDE a cell pops
                    # the counter of a list enclosing the whole table and
                    # later items lose their ordered numbering
                    list_stack.append([name, 0])
                if not selfclose and name not in ("br", "hr"):
                    stack.append(name)
                continue
            # hot common tags first (p / a / li dominate real payloads)
            if name == "p" and not skip_depth:
                open_block("para")
                stack.append(name)
                continue
            if name == "a" and not skip_depth:
                a_depth += 1
                stack.append(name)
                continue
            if name == "li" and not skip_depth:
                lst = list_stack[-1] if list_stack else ["ul", 0]
                lst[1] += 1
                b = open_block("list")
                b.list_depth = max(1, len(list_stack))
                b.list_idx = lst[1]
                b.ordered = lst[0] == "ol"
                stack.append(name)
                continue
            if rawtext_tag is not None:
                continue  # inside <script>/<style>: tags are literal text
            if skip_depth:
                # inside a parsed-skip region (<head>/<svg>/...): markup
                # still nests. A rawtext open starts a nested rawtext
                # region; any other open is an INERT marker — consumed
                # positionally by its close, but the pop never touches
                # counters this (suppressed) open never bumped.
                if not selfclose:
                    if name in _RAWTEXT_TAGS:
                        stack.append(name)
                        skip_depth += 1
                        rawtext_tag = name
                    else:
                        stack.append("\0" + name)
                continue
            if name in _SKIP_TAGS:
                if not selfclose:
                    stack.append(name)
                    skip_depth += 1
                    if name in _RAWTEXT_TAGS:
                        rawtext_tag = name
                continue
            if name in _CHROME_TAGS:
                stack.append(name)
                chrome_depth += 1
                close_block()
                continue
            if name == "table":
                nonlocal_t = _Table(next_id, chrome_depth > 0)
                # a table opening INSIDE a cell suspends that cell (and
                # the pipe-markdown model cannot nest, so the inner table
                # becomes its own node); the cell resumes at </table>
                nonlocal_t.outer_cell = cell
                cell = None
                close_block()
                next_id += 1
                table_stack.append(nonlocal_t)
                nodes.append(nonlocal_t)
                stack.append(name)
                continue
            if table_stack and name in ("thead", "tbody", "tfoot", "tr", "td", "th"):
                t = table_stack[-1]
                if name == "thead":
                    t.in_thead = True
                elif name in ("tbody", "tfoot"):
                    # spec: <tbody>/<tfoot> implies </thead> — without
                    # the reset every data row after an unclosed thead
                    # would be counted a header row
                    t.in_thead = False
                elif name == "tr":
                    flush_cell()          # implied </td> of the prior cell
                    if t.cur_row is not None:
                        # implied </tr>: a new row opening with the prior
                        # row unflushed must not discard it (tr end tags
                        # are optional per spec)
                        t.rows.append(t.cur_row)
                        if t.in_thead:
                            t.header_rows = len(t.rows)
                    t.cur_row = []
                elif name in ("td", "th"):
                    flush_cell()          # implied </td> of the prior cell
                    if t.cur_row is None:
                        t.cur_row = []
                    cell = _Block(-1, "cell", len(stack), t.chrome)
                    cur = cell
                stack.append(name)
                continue
            if name in ("ul", "ol"):
                close_block()
                list_stack.append([name, 0])
                stack.append(name)
                continue
            if name in _HEADING_TAGS:
                open_block("heading", _HEADING_TAGS[name])
                stack.append(name)
                continue
            if name == "title":
                open_block("heading", 1)
                stack.append(name)
                continue
            if name == "pre":
                open_block("code")
                stack.append(name)
                continue
            if name == "blockquote":
                open_block("quote")
                stack.append(name)
                continue
            if name in ("br", "hr"):
                if cur is not None:
                    cur.parts.append(" ")
                    if cur.kind == "code":
                        cur.raw_parts.append("\n")
                continue
            if name in _BLOCK_TAGS:
                close_block()
                if not selfclose:
                    stack.append(name)
                continue
            # inline tag (b/i/em/strong/code/span/...): pushed so that a
            # mismatched close can pop THROUGH it and restore counters —
            # '<em><a href=x>click</em><p>body</p>' must pop the unclosed
            # <a> (restoring a_depth) when </em> arrives, or every later
            # block is misclassified as link text. The push/pop cost is
            # marginal next to the findall/memo wins (measured).
            if not selfclose:
                stack.append(name)
            continue
        # closing tag
        inert_name = "\0" + name
        if rawtext_tag is not None:
            # rawtext content is literal until the matching close tag —
            # '</i>' or '</head>' inside a JS string is just text
            if name != rawtext_tag:
                continue
        elif skip_depth:
            # inside a parsed-skip region: honor only closes of an open
            # skip tag (ends that region) or of an inert in-region open
            if not ((name in _SKIP_TAGS and name in stack)
                    or inert_name in stack):
                continue
        if stack and (name in stack or inert_name in stack):
            # pop to the matching open (tolerates interleaving)
            while stack:
                top = stack.pop()
                if top[0] == "\0":
                    # inert entry (opened under skip): no counter effects;
                    # stop if it is this close's own positional match
                    if top == inert_name:
                        break
                    continue
                if top in _SKIP_TAGS:
                    skip_depth -= 1
                    if top in _RAWTEXT_TAGS:
                        rawtext_tag = None
                elif top in _CHROME_TAGS:
                    chrome_depth -= 1
                    # leaving a chrome region must stop the current
                    # (chrome-flagged) block from collecting — bare text
                    # after </nav> is main content, not more boilerplate.
                    # Inside a cell the close is a word break, like its open
                    if cell is not None and not skip_depth:
                        cell.parts.append(" ")
                    close_block()
                elif top == "a":
                    a_depth -= 1
                elif top in ("ul", "ol"):
                    if list_stack:
                        list_stack.pop()
                elif top == "table":
                    if table_stack:
                        flush_cell()  # implied </td> of a dangling cell
                        t = table_stack.pop()
                        if t.cur_row:
                            t.rows.append(t.cur_row)
                            t.cur_row = None
                        # resume the enclosing cell a nested table
                        # suspended (None for a top-level table)
                        cell = t.outer_cell
                elif top == "thead":
                    if table_stack:
                        table_stack[-1].in_thead = False
                elif top == "tr":
                    if table_stack:
                        t = table_stack[-1]
                        if t.cur_row is not None:
                            t.rows.append(t.cur_row)
                            if t.in_thead:
                                t.header_rows = len(t.rows)
                            t.cur_row = None
                elif top in ("td", "th"):
                    flush_cell()
                if top in _BLOCK_TAGS or top in _HEADING_TAGS or top == "title":
                    # a block close inside a live cell is a word break,
                    # mirroring the open-side separator: '<td><p>a</p>b'
                    # is 'a b', not 'ab' (differential-fuzz finding). The
                    # table-control closes above flushed the cell first,
                    # so they never reach this with cell still live.
                    if cell is not None and not skip_depth:
                        cell.parts.append(" ")
                    close_block()
                if top == name:
                    break
        continue
    # flush trailing cell + rows of every unclosed table (nested ones too)
    flush_cell()
    for t in table_stack:
        if t.cur_row:
            t.rows.append(t.cur_row)
            t.cur_row = None
    return nodes


# ---------------------------------------------------------------------------
# C2: boilerplate classification  +  C6: markdown emission  +  C8: spans
# ---------------------------------------------------------------------------

def _classify_block(b: _Block) -> bool:
    """True => main content (kept)."""
    if b.chrome:
        return False  # Docling 'furniture': nav/header/footer/aside
    tl = b.text_len()
    if tl == 0:
        return False
    if b.kind in ("heading", "code"):
        return True
    ld = b.link_len / tl if tl else 0.0
    if ld >= _LINK_DENSITY_MAX:
        return False
    if tl < _SHORT_BLOCK_CHARS and ld >= _SHORT_LINK_DENSITY_MAX:
        return False
    return True


def _emit_table(t: _Table) -> str:
    if not t.rows:
        return ""
    ncols = max(len(r) for r in t.rows)
    header_rows = t.header_rows if t.header_rows > 0 else 1
    lines = []

    def fmt(row):
        padded = list(row) + [""] * (ncols - len(row))
        cells = [c.replace("|", "\\|") for c in padded]
        return "| " + " | ".join(cells) + " |"

    for i, row in enumerate(t.rows):
        lines.append(fmt(row))
        if i == header_rows - 1:
            lines.append("| " + " | ".join(["---"] * ncols) + " |")
    return "\n".join(lines)


def _extract_html(text: str, options: ExtractOptions):
    nodes = _parse_html(text)
    out_parts: list[str] = []
    spans: list[tuple[int, int, int, str]] = []
    items: list | None = [] if options.want_json else None
    n_nodes = 0
    for node in nodes:
        n_nodes += 1
        if isinstance(node, _Table):
            if node.chrome or not node.rows:
                continue
            if not options.enable_table_extraction:
                continue  # C3 toggle (modal_docling.py:166)
            md = _emit_table(node)
            if not md:
                continue
            out_parts.append(md)
            spans.append((max(node.start, 0), max(node.end, 0), node.node_id, "table"))
            if items is not None:
                items.append({
                    "id": node.node_id,
                    "kind": "table",
                    "num_rows": len(node.rows),
                    "num_cols": max(len(r) for r in node.rows),
                    "header_rows": node.header_rows if node.header_rows > 0 else 1,
                    "rows": node.rows,
                    "prov": [max(node.start, 0), max(node.end, 0)],
                })
            continue
        b = node
        if not _classify_block(b):
            continue
        item: dict | None = None
        if b.kind == "heading":
            lvl = max(1, min(6, b.level))
            md = "#" * lvl + " " + b.text()
            if items is not None:
                item = {"kind": "heading", "level": lvl, "text": b.text()}
        elif b.kind == "list":
            indent = "  " * (b.list_depth - 1)
            marker = f"{b.list_idx}." if b.ordered else "-"
            md = f"{indent}{marker} {b.text()}"
            if items is not None:
                item = {"kind": "list_item", "text": b.text(),
                        "depth": b.list_depth, "index": b.list_idx,
                        "ordered": b.ordered}
        elif b.kind == "code":
            inner = unicodedata.normalize("NFC", "".join(b.raw_parts)).strip("\n")
            md = "```\n" + inner + "\n```"
            if items is not None:
                item = {"kind": "code", "text": inner}
        elif b.kind == "quote":
            md = "> " + b.text()
            if items is not None:
                item = {"kind": "quote", "text": b.text()}
        else:
            md = b.text()
            if items is not None:
                item = {"kind": "para", "text": b.text()}
        out_parts.append(md)
        spans.append((b.start, b.end, b.node_id, b.kind))
        if item is not None:
            item["id"] = b.node_id
            item["prov"] = [b.start, b.end]
            items.append(item)
    return "\n\n".join(out_parts), spans, 1, n_nodes, items


# ---------------------------------------------------------------------------
# pdfish: synthetic page-layout format (C1 layout parse + C9 page count)
# ---------------------------------------------------------------------------

def _extract_pdfish(decoded: str, options: ExtractOptions):
    """Parse the deterministic '%PDFISH' layout text: page markers,
    per-page repeated header/footer furniture in <<...>> lines,
    #TITLE/#H2/#H3 headings, blank-line-separated paragraphs.
    Span offsets refer to the DECODED payload (documented contract —
    base64 offsets are meaningless to a consumer)."""
    pages = 0
    out_parts: list[str] = []
    spans: list[tuple[int, int, int, str]] = []
    items: list | None = [] if options.want_json else None
    node_id = 0
    para_lines: list[str] = []
    para_start = -1
    pos = 0

    def emit(md: str, start: int, end: int, kind: str, item: dict | None):
        nonlocal node_id
        out_parts.append(md)
        spans.append((start, end, node_id, kind))
        if items is not None and item is not None:
            item["id"] = node_id
            item["prov"] = [start, end]
            items.append(item)
        node_id += 1

    def flush(end_pos: int):
        nonlocal para_lines, para_start
        if para_lines:
            txt = _norm(" ".join(para_lines))
            if txt:
                emit(txt, para_start, end_pos, "para",
                     {"kind": "para", "text": txt})
            para_lines = []
            para_start = -1

    for line in decoded.split("\n"):
        ls = line.strip()
        line_start = pos
        pos += len(line) + 1
        if ls.startswith("%PAGE"):
            flush(line_start - 1)
            pages += 1
            continue
        if ls.startswith("%") or (ls.startswith("<<") and ls.endswith(">>")):
            flush(line_start - 1)
            continue  # furniture: repeated page header/footer
        if ls.startswith("#TITLE "):
            flush(line_start - 1)
            txt = _norm(ls[7:])
            emit("# " + txt, line_start, line_start + len(line.rstrip()),
                 "heading", {"kind": "heading", "level": 1, "text": txt})
            continue
        if ls.startswith("#H2 ") or ls.startswith("#H3 "):
            flush(line_start - 1)
            lvl = 2 if ls.startswith("#H2") else 3
            txt = _norm(ls[4:])
            emit("#" * lvl + " " + txt, line_start,
                 line_start + len(line.rstrip()), "heading",
                 {"kind": "heading", "level": lvl, "text": txt})
            continue
        if ls == "":
            flush(line_start - 1)
            continue
        if para_start < 0:
            para_start = line_start + (len(line) - len(line.lstrip()))
        para_lines.append(ls)
    flush(len(decoded))
    return "\n\n".join(out_parts), spans, max(1, pages), node_id, items


# ---------------------------------------------------------------------------
# markdownish: near-passthrough with deterministic normalization
# ---------------------------------------------------------------------------

def _extract_markdown(text: str, options: ExtractOptions):
    lines = text.split("\n")
    blocks: list[tuple[str, int, int, str]] = []  # (text, start, end, kind)
    buf: list[str] = []
    buf_start = -1
    buf_end = -1
    in_fence = False
    pos = 0

    def kind_of(first_line: str, fenced: bool) -> str:
        if fenced:
            return "code"
        s = first_line.lstrip()
        if re.match(r"^#{1,6} ", s):
            return "heading"
        if re.match(r"^([-*] |\d+\. )", s):
            return "list"
        if s.startswith("> "):
            return "quote"
        return "para"

    def flush(fenced: bool):
        nonlocal buf, buf_start, buf_end
        if buf:
            body = "\n".join(ln.rstrip() for ln in buf).strip("\n")
            if body.strip():
                blocks.append((unicodedata.normalize("NFC", body), buf_start, buf_end, kind_of(buf[0], fenced)))
            buf = []
            buf_start = -1

    for line in lines:
        line_start = pos
        pos += len(line) + 1
        fence_line = line.lstrip().startswith("```")
        if fence_line:
            if not in_fence:
                flush(False)
                in_fence = True
                buf_start = line_start
            buf.append(line)
            buf_end = line_start + len(line.rstrip())
            if fence_line and in_fence and len(buf) > 1:
                in_fence = False
                flush(True)
            continue
        if in_fence:
            buf.append(line)
            buf_end = line_start + len(line.rstrip())
            continue
        if line.strip() == "":
            flush(False)
            continue
        if buf_start < 0:
            buf_start = line_start + (len(line) - len(line.lstrip()))
        buf.append(line)
        buf_end = line_start + len(line.rstrip())
    flush(in_fence)
    out = "\n\n".join(b[0] for b in blocks)
    spans = [(b[1], b[2], i, b[3]) for i, b in enumerate(blocks)]
    items = (
        [{"id": i, "kind": b[3], "text": b[0], "prov": [b[1], b[2]]}
         for i, b in enumerate(blocks)]
        if options.want_json else None
    )
    return out, spans, 1, len(blocks), items


# ---------------------------------------------------------------------------
# plain prose
# ---------------------------------------------------------------------------

def _extract_plain(text: str, options: ExtractOptions):
    spans: list[tuple[int, int, int, str]] = []
    out_parts: list[str] = []
    items: list | None = [] if options.want_json else None
    node_id = 0
    idx = 0
    for para in _BLANK_RE.split(text):
        if para.strip():
            start = text.index(para, idx) if para in text[idx:] else idx
            lead = len(para) - len(para.lstrip())
            trail = len(para) - len(para.rstrip())
            txt = _norm(para)
            out_parts.append(txt)
            spans.append((start + lead, start + len(para) - trail, node_id, "para"))
            if items is not None:
                items.append({"id": node_id, "kind": "para", "text": txt,
                              "prov": [start + lead, start + len(para) - trail]})
            node_id += 1
            idx = start + len(para)
        else:
            idx += len(para)
    return "\n\n".join(out_parts), spans, 1, node_id, items


# ---------------------------------------------------------------------------
# Top level: per-document dispatch with error capsuling (C10)
# ---------------------------------------------------------------------------

# payload kind -> parser; every other successful kind (plain, b64_plain)
# is plain prose
_PARSERS = {"html": _extract_html, "markdown": _extract_markdown,
            "pdfish": _extract_pdfish}


def _extract_row(text: str | None, options: ExtractOptions) -> tuple:
    """One payload -> ``(status, payload_kind, markdown, spans, pages,
    n_nodes, items, error)``. Error/skipped capsules carry ``items=None``
    → no doc_json (the reference's error response has no content keys
    either, modal_docling.py:259-264). May raise; ``extract_flat``
    capsules that."""
    kind = sniff_kind(text, options.max_payload_chars)
    if kind == "empty":
        return (STATUS_SUCCESS, "empty", "", [], 1, 0,
                [] if options.want_json else None, None)
    if kind == "oversize":
        return (STATUS_ERROR, "oversize", "", [], 1, 0, None,
                f"payload_too_large: {len(text)} > {options.max_payload_chars}")
    if kind == "needs_ocr":
        return (STATUS_SKIPPED_OCR, "needs_ocr", "", [], 1, 0, None, None)
    if kind == "b64":
        try:
            raw = base64.b64decode(text.strip().replace("\n", ""), validate=True)
            text = raw.decode("utf-8")
        except (binascii.Error, UnicodeDecodeError) as e:
            return (STATUS_ERROR, "b64", "", [], 1, 0, None,
                    f"invalid_base64_payload: {type(e).__name__}")
        # decodable base64 but unknown magic -> treat decoded as plain
        kind = "pdfish" if text.startswith(PDFISH_MAGIC) else "b64_plain"
    parse = _PARSERS.get(kind, _extract_plain)
    return (STATUS_SUCCESS, kind, *parse(text, options), None)


def extract_flat(texts, options: ExtractOptions = DEFAULT_OPTIONS) -> dict[str, list]:
    """Batch kernel, columnar form: flat Python lists ready for direct
    Arrow array construction (the ``mapInArrow`` fast path). Span structs
    are returned as four parallel flat arrays plus list offsets — the
    Arrow ListArray/StructArray memory layout itself — so the operator
    builds the nested column with zero per-element Python.

    NEVER raises on a payload — any internal failure becomes a
    status='error' capsule row (reference modal_docling.py:259-264).
    P2 output-format gating (docling_client.py:452-456): the
    un-requested export column is NULL.

    Measured on this box, routing the output through pandas object
    columns (``mapInPandas`` serializer) costs ~35% of end-to-end
    throughput; this layout + ``mapInArrow`` recovers it."""
    want_markdown, want_json = options.want_markdown, options.want_json
    status: list = []; kind: list = []; text: list = []; djson: list = []
    pages: list = []; n_nodes: list = []; error: list = []
    s_start: list = []; s_end: list = []; s_nid: list = []; s_kind: list = []
    offsets: list = [0]
    for t in texts:
        try:
            st, pk, out, spans, pg, n, items, err = _extract_row(t, options)
            dj = (doc_json_str(pk, pg, n, items)
                  if want_json and items is not None else None)
        except Exception as e:  # noqa: BLE001 — capsule, never crash the batch
            st, pk, out, spans, pg, n, dj, err = (
                STATUS_ERROR, "unknown", "", [], 1, 0, None,
                f"{type(e).__name__}: {e}")
        status.append(st)
        kind.append(pk)
        text.append(out if want_markdown else None)
        djson.append(dj)
        pages.append(pg)
        n_nodes.append(n)
        error.append(err)
        for s in spans:
            s_start.append(s[0]); s_end.append(s[1])
            s_nid.append(s[2]); s_kind.append(s[3])
        offsets.append(len(s_start))
    return {
        "status": status, "payload_kind": kind, "extracted_text": text,
        "doc_json": djson,
        "pages": pages, "n_nodes": n_nodes, "error": error,
        "span_start": s_start, "span_end": s_end, "span_node_id": s_nid,
        "span_kind": s_kind, "span_offsets": offsets,
    }


def extract_one(text: str | None,
                options: ExtractOptions = DEFAULT_OPTIONS) -> dict:
    """Extract a single payload: a one-row view of ``extract_flat``, with
    spans as ``(start, end, node_id, kind)`` tuples. NEVER raises."""
    cols = extract_flat([text], options)
    row = {k: v[0] for k, v in cols.items() if not k.startswith("span_")}
    row["spans"] = list(zip(cols["span_start"], cols["span_end"],
                            cols["span_node_id"], cols["span_kind"]))
    return row
