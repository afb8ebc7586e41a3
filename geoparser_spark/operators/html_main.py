"""HTML main-content extraction: DOM text-density boilerplate strip.

Replaces the reference's Tika-server text extraction hop
(reference: geoparser_app/views.py:125 → Tika HTTP :8001,
Docker/Dockerfile:33-36) with an in-process, deterministic DOM walk.
Runs inside Arrow-batched ``mapInPandas`` stages — per-batch Python,
never a per-row UDF (SURVEY.md §2.2 E1).

Algorithm (deterministic, fixture-pinned):
  1. Parse into an element tree (stdlib ``html.parser``; tolerant of
     unclosed <p>/<li>, void elements, stray end tags).
  2. Hard-drop boilerplate containers by tag (<nav>, <footer>, <script>,
     ...) and by class/id token (``nav``, ``menu``, ``sidebar``, ...).
  3. Walk remaining tree in document order, accumulating inline text
     runs; each run is a candidate block attributed to its nearest
     block-level ancestor.
  4. Keep a block iff its normalized text is non-empty AND its link
     density (chars inside <a> / total chars) is <= 0.5.  Link farms
     ("related links", menus that survived step 2) fail this.
  5. <img>/<video>/<audio> elements in kept containers emit media spans
     (kind, media_ref) at their document-order position.

Output: ordered list of (kind, text, media_ref) tuples; ``kind`` is
'text' for content blocks or the media kind.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

DROP_TAGS = frozenset(
    "script style noscript nav header footer aside form button iframe "
    "svg select option template head title meta link".split()
)
BAD_CLASS_TOKENS = frozenset(
    "nav navbar navigation menu footer header sidebar banner ad ads advert advertisement "
    "promo related share social comment comments breadcrumb breadcrumbs "
    "cookie popup widget masthead".split()
)
BLOCK_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li pre blockquote div article section main body "
    "html ul ol table tr td th figure figcaption dl dt dd".split()
)
VOID_TAGS = frozenset("img br hr input meta link source track wbr area base col embed".split())
MEDIA_TAGS = {"img": "image", "video": "video", "audio": "audio"}
# Tags whose open implies closing a same-tag ancestor (HTML5 omission rules,
# the subset that matters for content docs).
IMPLIED_CLOSE = {"p": {"p"}, "li": {"li"}, "tr": {"tr", "td", "th"}, "td": {"td", "th"}, "th": {"td", "th"}}

_TOKEN_SPLIT = re.compile(r"[\s_\-]+")


class _Node:
    __slots__ = ("tag", "attrs", "children", "dropped")

    def __init__(self, tag: str, attrs: dict[str, str]):
        self.tag = tag
        self.attrs = attrs
        self.children: list[object] = []  # _Node | str
        self.dropped = _is_dropped(tag, attrs)


def _is_dropped(tag: str, attrs: dict[str, str]) -> bool:
    if tag in DROP_TAGS:
        return True
    if not attrs:  # the common case: no attr scan, no regex split
        return False
    blob = f"{attrs.get('class', '')} {attrs.get('id', '')} {attrs.get('role', '')}".lower()
    return any(tok in BAD_CLASS_TOKENS for tok in _TOKEN_SPLIT.split(blob) if tok)


# maximum element nesting either tree builder will materialize: real
# pages stay under ~60; a crawl page with 1000+ unclosed tags would
# otherwise build a tree deeper than Python's recursion limit and
# crash the (recursive) emitter walk — beyond the cap, children attach
# to the capped ancestor (flattened, document order preserved)
MAX_TREE_DEPTH = 400


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root", {})
        self.stack = [self.root]

    def handle_starttag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        ad = {k: (v or "") for k, v in attrs}
        closers = IMPLIED_CLOSE.get(tag)
        if closers:
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t in closers:
                    del self.stack[i:]
                    break
                if t not in ("a", "span", "b", "i", "em", "strong", "small", "u", "code"):
                    break
        node = _Node(tag, ad)
        self.stack[-1].children.append(node)
        if tag not in VOID_TAGS and len(self.stack) < MAX_TREE_DEPTH:
            self.stack.append(node)

    def handle_startendtag(self, tag: str, attrs) -> None:
        node = _Node(tag.lower(), {k: (v or "") for k, v in attrs})
        self.stack[-1].children.append(node)

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # stray end tag: ignore

    def handle_data(self, data: str) -> None:
        if data:
            self.stack[-1].children.append(data)


def _norm(s: str) -> str:
    return " ".join(s.split())


class _Emitter:
    """Document-order walk producing (kind, text, media_ref) blocks."""

    def __init__(self) -> None:
        self.out: list[tuple[str, str | None, str | None]] = []
        self._run: list[str] = []       # inline text chunks of current block
        self._run_link_len = 0          # chars contributed under <a>

    def _flush(self) -> None:
        text = _norm("".join(self._run))
        if text:
            total = sum(len(_norm(c)) for c in self._run if _norm(c))
            # link density on normalized lengths
            if total == 0 or self._run_link_len / max(total, 1) <= 0.5:
                self.out.append(("text", text, None))
        self._run = []
        self._run_link_len = 0

    def walk(self, node: _Node, in_link: bool = False) -> None:
        for child in node.children:
            if isinstance(child, str):
                self._run.append(child)
                if in_link:
                    self._run_link_len += len(_norm(child))
                continue
            if child.dropped:
                continue
            if child.tag in MEDIA_TAGS:
                self._flush()
                ref = child.attrs.get("src") or child.attrs.get("data-src") or ""
                self.out.append((MEDIA_TAGS[child.tag], None, ref or None))
                # a <video> may wrap <source>; already void-skipped
                continue
            if child.tag in BLOCK_TAGS:
                self._flush()
                self.walk(child, in_link=in_link)
                self._flush()
            else:
                # inline element: accumulate into the current run
                self.walk(child, in_link=in_link or child.tag == "a")

    def finish(self) -> list[tuple[str, str | None, str | None]]:
        self._flush()
        return self.out


# ---------------------------------------------------------------------------
# Fast tokenizer path.  The stdlib HTMLParser costs ~0.5 ms/KB (its
# goahead/parse_starttag machinery was ~70% of the extract kernel under
# cProfile); this single-regex tokenizer builds the SAME tree ~3x
# faster.  HTMLParser remains the fallback for markup the tokenizer
# rejects, and the unit fixtures pin both paths to identical output.

_TOKEN = re.compile(
    r"<!--.*?(?:-->|$)"          # comments (unterminated: to EOF)
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|<![^>]*>"                 # doctype / declarations
    r"|<\?[^>]*>"                # processing instructions
    # tags, quote-aware: a '>' inside a quoted attribute value does NOT
    # end the tag (matches HTMLParser).  A tag with an unbalanced quote
    # matches without the trailing '>', which the lexer loop treats as
    # a reject → HTMLParser fallback for the document.
    r"|</?[a-zA-Z](?:\"[^\"]*\"|'[^']*'|[^>\"'])*>?"
    r"|[^<]+",                   # text runs
    re.S,
)
_TAG_NAME = re.compile(r"</?([a-zA-Z][a-zA-Z0-9-]*)")
_ATTR = re.compile(
    r"""([a-zA-Z][a-zA-Z0-9_-]*)\s*=\s*("[^"]*"|'[^']*'|[^\s>]+)"""
)
_RAWTEXT_END = {
    "script": re.compile(r"</script", re.I),
    "style": re.compile(r"</style", re.I),
}
# attrs matter for dropping (class/id/role), media refs (src) AND
# link extraction (href — extract_links reads it off the same tree;
# removing href here would silently drop every plain <a href> on the
# fast path while the HTMLParser fallback kept them)
_ATTR_HINT = re.compile(r"class|id|role|src|href", re.I)

_INLINE_KEEP = frozenset(("a", "span", "b", "i", "em", "strong", "small", "u", "code"))


def _fast_tree(html: str) -> _Node:
    root = _Node("#root", {})
    stack = [root]
    unescape = None  # lazy import of html.unescape
    pos, n = 0, len(html)
    while pos < n:
        # text runs are sliced with str.find — no regex on the ~half of
        # tokens that are not tags (measured ~1.2x on the kernel)
        lt = html.find("<", pos)
        if lt != pos:
            end = n if lt == -1 else lt
            tok = html[pos:end]
            if "&" in tok:
                if unescape is None:
                    from html import unescape as unescape
                tok = unescape(tok)
            stack[-1].children.append(tok)
            if lt == -1:
                break
            pos = lt
        m = _TOKEN.match(html, pos)
        if m is None:
            # '<' that starts no valid construct: same as the old
            # tokenizer — reject the document to the HTMLParser path
            raise ValueError("stray '<'")
        tok = m.group(0)
        pos = m.end()
        if len(tok) < 2 or tok[1] in "!?" or tok.startswith("<!--"):
            continue
        nm = _TAG_NAME.match(tok)
        if nm is None:  # defensive; tag alternatives all start with a letter
            stack[-1].children.append(tok)
            continue
        if not tok.endswith(">") and pos < n:
            # tag body with an unbalanced quote (the only way a tag
            # token stops before '>' mid-document): hand the whole
            # document to the HTMLParser path rather than guess.
            raise ValueError("quote-imbalanced tag")
        tag = nm.group(1).lower()
        if tok[1] == "/":
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == tag:
                    del stack[i:]
                    break
            continue
        body = tok[nm.end():]
        attrs: dict[str, str] = {}
        # shortest interesting body is ' id=x>' — skip the regex scan
        # for the bare-tag majority
        if len(body) > 5 and _ATTR_HINT.search(body):
            for am in _ATTR.finditer(body):
                v = am.group(2)
                if v[:1] in "\"'":
                    v = v[1:-1]
                attrs[am.group(1).lower()] = v
        closers = IMPLIED_CLOSE.get(tag)
        if closers:
            for i in range(len(stack) - 1, 0, -1):
                t = stack[i].tag
                if t in closers:
                    del stack[i:]
                    break
                if t not in _INLINE_KEEP:
                    break
        node = _Node(tag, attrs)
        stack[-1].children.append(node)
        self_closing = tok.endswith("/>")
        if tag in _RAWTEXT_END:
            if not self_closing:
                end = _RAWTEXT_END[tag].search(html, pos)
                pos = end.start() if end else n
            continue  # content skipped; node stays (dropped anyway)
        if tag not in VOID_TAGS and not self_closing \
                and len(stack) < MAX_TREE_DEPTH:
            stack.append(node)
    return root


def extract_html_blocks(html: str) -> list[tuple[str, str | None, str | None]]:
    """Parse HTML and return ordered main-content blocks.

    Returns [(kind, text, media_ref), ...] where kind is 'text' or a
    media kind ('image'|'video'|'audio').
    """
    if not html:
        return []
    root = _build_tree(html)
    if root is None:
        # tolerate hopeless markup: fall back to tag-stripped text
        stripped = _norm(re.sub(r"<[^>]*>", " ", html))
        return [("text", stripped, None)] if stripped else []
    emitter = _Emitter()
    emitter.walk(root)
    return emitter.finish()


def _build_tree(html: str) -> _Node | None:
    """The shared parse chain: fast tokenizer, HTMLParser fallback,
    None when both reject (callers degrade)."""
    try:
        return _fast_tree(html)
    except Exception:
        builder = _TreeBuilder()
        try:
            builder.feed(html)
            builder.close()
        except Exception:
            return None
        return builder.root


def extract_links(html: str) -> list[str]:
    """Outbound link extraction: every <a href> in document order —
    the crawl-graph edge source.  Skips
    fragment-only, javascript:, mailto: and empty hrefs; keeps
    relative URLs (resolution against the page URL is the caller's
    join).  Damaged markup degrades to [] — never an exception."""
    if not html:
        return []
    root = _build_tree(html)
    if root is None:
        return []
    out: list[str] = []
    # iterative pre-order walk: a crawl page with ~1000+ unclosed tags
    # builds a tree deeper than Python's recursion limit, and a
    # RecursionError here would kill the whole Spark task instead of
    # degrading (children pushed reversed to keep document order)
    stack = [root]
    while stack:
        node = stack.pop()
        if node.tag == "a":
            href = (node.attrs.get("href") or "").strip()
            low = href.lower()
            if href and not href.startswith("#") \
                    and not low.startswith(("javascript:", "mailto:")):
                out.append(href)
        stack.extend(c for c in reversed(node.children)
                     if not isinstance(c, str))
    return out
