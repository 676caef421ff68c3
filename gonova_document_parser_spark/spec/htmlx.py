"""Deterministic HTML main-content extraction (pure Python, no Spark).

Pipeline: one-pass tag scan -> lightweight DOM -> per-subtree text-density /
link-density scoring -> best-candidate selection -> boilerplate strip ->
normalized block list ``[(kind, text)]``.

This re-expresses the reference's classify/route heuristics
(``/root/reference/document_parser/page_classifier.py:35-112``) for a web
corpus: instead of routing pages to external OCR models, we deterministically
select the highest text-density, lowest link-density subtree and strip
boilerplate (nav/header/footer/aside/script/style), which is the standard
densitometric boilerplate-removal approach from the public literature
(Kohlschütter et al., boilerpipe; readability).

Everything here is deterministic: no dict-order dependence (insertion order
only), no hashing, no randomness; unicode is normalized via NFC and
whitespace collapsed early so output bytes are stable across platforms.
"""

from __future__ import annotations

import html as _htmlmod
import re
import unicodedata

# Tags whose entire subtree is boilerplate and never contributes content.
BOILERPLATE_TAGS = frozenset(
    {
        "script",
        "style",
        "noscript",
        "template",
        "nav",
        "header",
        "footer",
        "aside",
        "form",
        "button",
        "select",
        "option",
        "label",
        "iframe",
        "svg",
        "head",
    }
)

# Void elements: never pushed on the open-element stack.
VOID_TAGS = frozenset(
    {
        "area",
        "base",
        "br",
        "col",
        "embed",
        "hr",
        "img",
        "input",
        "link",
        "meta",
        "param",
        "source",
        "track",
        "wbr",
    }
)

# Elements that emit one output block each (top-most wins; no nesting).
_HEADINGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
_PARAGRAPH = frozenset({"p"})
_LIST_ITEM = frozenset({"li", "dt", "dd"})
_OTHER_BLOCK = frozenset({"pre", "blockquote", "td", "th", "figcaption", "caption"})
BLOCK_EMITTING = _HEADINGS | _PARAGRAPH | _LIST_ITEM | _OTHER_BLOCK

# Containers we recurse through (flushing any pending inline run first).
CONTAINER_TAGS = frozenset(
    {
        "html",
        "body",
        "div",
        "article",
        "main",
        "section",
        "ul",
        "ol",
        "dl",
        "table",
        "thead",
        "tbody",
        "tfoot",
        "tr",
        "figure",
        "details",
        "summary",
        "fieldset",
        "center",
    }
)

# Subtree-score candidates (the "route" targets).
CANDIDATE_TAGS = frozenset({"body", "main", "article", "div", "section", "td"})

# An open <p>/<li>/<td>/<tr> is implicitly closed by a sibling of the same tag.
_AUTOCLOSE_SIBLING = frozenset({"p", "li", "td", "th", "tr", "option", "dt", "dd"})

# One match per tag, anchored at the scan position: the text run before the
# next '<' (group 1), an optional close slash and tag name (2, 3), and the
# attribute run up to the tag-closing '>' (4, 5), where "..."/'...' values
# may contain '>' (``<div title="a>b">`` closes at the real end).  Every
# quantifier is possessive, so a failed or partial match never backtracks.
# Without a name the '<' is a comment/doctype ('!', '?') or stray text; a
# missing '>' after the attribute run means an unterminated quote (the tag
# then ends at the first '>') or no tag end before end of input.
_TAG_RE = re.compile(
    r"""([^<]*+)<(?:(/?)\s*+([a-zA-Z][a-zA-Z0-9:-]*+))?((?:[^>"']++|"[^"]*+"|'[^']*+')*+)(>?)"""
)

# Raw-text / RCDATA elements: contents never parse as markup.
_RAW_TEXT_TAGS = frozenset({"script", "style", "textarea"})

# Pathological nesting (tag-soup bombs) flattens beyond this depth: children
# keep attaching to the node at the cap.  Bounds both recursion and memory;
# browsers apply a similar cap.  Part of the deterministic spec.
MAX_DOM_DEPTH = 256


class Node:
    """Minimal DOM node. ``tag`` is ``#text`` for text nodes."""

    __slots__ = ("tag", "children", "text")

    def __init__(self, tag: str, text: str = "") -> None:
        self.tag = tag
        self.children: list[Node] = []
        self.text = text


def _normalize_text(s: str) -> str:
    """NFC-normalize and collapse all whitespace runs to single spaces."""
    if s.isascii():  # NFC is the identity on ASCII — skip the table walk
        return " ".join(s.split())
    return " ".join(unicodedata.normalize("NFC", s).split())


def parse(src: str) -> Node:
    """Build a lightweight DOM tree with forgiving error recovery.

    One scan: each step matches ``_TAG_RE`` at the current position and
    applies the text run and the tag to the open-element stack directly.
    Comments, doctype and processing instructions are dropped; raw-text
    element contents (script/style/textarea) are skipped entirely; a '<'
    that starts no tag stays text up to its quote-aware '>'.  An open
    ``<p>``/``<li>``/... closes a sibling of the same tag; a close tag pops
    to the nearest open element of that name, or is ignored.
    """
    root = Node("#root")
    stack = [root]
    kids = root.children  # children of the innermost open element
    match = _TAG_RE.match
    find = src.find
    low: str | None = None  # lowercased copy, made at the first raw-text tag
    i, n = 0, len(src)
    while i < n:
        m = match(src, i)
        if m is None:  # no '<' left
            text = src[i:]
            if not text.isspace():
                kids.append(Node("#text", text))
            break
        text, slash, name, attrs, gt = m.groups()
        if text and not text.isspace():
            kids.append(Node("#text", text))
        i = m.end()
        if not gt or name is None:
            lt = m.end(1)
            if name is None and src[lt + 1 : lt + 2] in ("!", "?"):
                if src.startswith("<!--", lt):
                    close = find("-->", lt + 4)
                    i = n if close == -1 else close + 3
                else:
                    close = find(">", lt)
                    i = n if close == -1 else close + 1
                continue
            if not gt:  # no '>' closes the attribute run
                # an unterminated quote ends the tag at the first '>'; with
                # no '>' at all, or none outside quotes, the rest is text
                i = find(">", lt) + 1 if i < n else 0
                if i == 0:
                    kids.append(Node("#text", src[lt:]))
                    break
                if name is not None:
                    attrs = src[m.end(3) : i - 1]
            if name is None:  # stray '<': text up to its tag end
                kids.append(Node("#text", src[lt:i]))
                continue
        tag = name.lower()
        if not slash:
            if tag in _AUTOCLOSE_SIBLING and stack[-1].tag == tag:
                stack.pop()
                kids = stack[-1].children
            node = Node(tag)
            kids.append(node)
            if tag not in VOID_TAGS and len(stack) < MAX_DOM_DEPTH:
                stack.append(node)
                kids = node.children
            if attrs.rstrip().endswith("/"):  # self-closing
                if tag in VOID_TAGS:
                    continue
            elif tag in _RAW_TEXT_TAGS:
                if low is None:
                    low = src.lower()
                # The close-tag search requires a delimiter after the name
                # so '</scripts>' does not terminate a <script> early.
                close = i
                while True:
                    close = low.find("</" + tag, close)
                    if close == -1:
                        break
                    after = close + 2 + len(tag)
                    if after >= n or src[after] in " \t\n\r\f/>":
                        break
                    close = after
                if close == -1:
                    i = n
                else:
                    gt2 = find(">", close)
                    i = n if gt2 == -1 else gt2 + 1
            else:
                continue
        # close tag (explicit, self-closing or raw-text end): pop to the
        # nearest open element of that name; unmatched closes are ignored
        if stack[-1].tag == tag:
            stack.pop()
            kids = stack[-1].children
            continue
        for depth in range(len(stack) - 2, 0, -1):
            if stack[depth].tag == tag:
                del stack[depth:]
                kids = stack[-1].children
                break
    return root


def _measure(node: Node, in_link: bool, out: dict[int, tuple[int, int]]) -> tuple[int, int]:
    """Per-subtree (text_len, link_text_len), excluding boilerplate subtrees."""
    if node.tag == "#text":
        t = node.text
        ln = len(_normalize_text(_htmlmod.unescape(t) if "&" in t else t))
        return (ln, ln if in_link else 0)
    if node.tag in BOILERPLATE_TAGS:
        out[id(node)] = (0, 0)
        return (0, 0)
    child_link = in_link or node.tag == "a"
    total = 0
    link_total = 0
    for c in node.children:
        t, l = _measure(c, child_link, out)
        total += t
        link_total += l
    out[id(node)] = (total, link_total)
    return (total, link_total)


def _find_body(root: Node) -> Node:
    stack = [root]
    while stack:
        n = stack.pop()
        if n.tag == "body":
            return n
        stack.extend(reversed([c for c in n.children if c.tag != "#text"]))
    return root


def select_candidate(root: Node) -> Node:
    """Pick the content subtree: max text_len * (1 - link_density)**2.

    Deterministic tie-break: earliest in document order.  The squared
    link-density penalty makes link-farm sidebars and index pages lose to
    running text even when they have comparable raw length.
    """
    scope = _find_body(root)
    measures: dict[int, tuple[int, int]] = {}
    _measure(scope, False, measures)

    best = scope
    best_score = -1.0
    stack = [scope]
    ordered: list[Node] = []
    while stack:
        n = stack.pop()
        ordered.append(n)
        stack.extend(reversed([c for c in n.children if c.tag != "#text"]))
    for n in ordered:  # document order, so strict '>' keeps the earliest
        if n.tag not in CANDIDATE_TAGS and n is not scope:
            continue
        text_len, link_len = measures.get(id(n), (0, 0))
        if text_len <= 0:
            continue
        density = 1.0 - (link_len / text_len)
        score = text_len * density * density
        if score > best_score:
            best_score = score
            best = n
    return best


def _block_kind(tag: str) -> str:
    if tag in _HEADINGS:
        return "heading"
    if tag in _PARAGRAPH:
        return "paragraph"
    if tag in _LIST_ITEM:
        return "list"
    return "block"


def _subtree_text(node: Node) -> str:
    parts: list[str] = []

    def walk(n: Node) -> None:
        if n.tag == "#text":
            t = n.text
            parts.append(_htmlmod.unescape(t) if "&" in t else t)
            return
        if n.tag in BOILERPLATE_TAGS:
            return
        for c in n.children:
            walk(c)

    walk(node)
    return _normalize_text(" ".join(parts))


def emit_blocks(candidate: Node) -> list[tuple[str, str]]:
    """Walk the chosen subtree in document order and emit (kind, text) blocks.

    Block-emitting elements produce one block each (top-most wins); runs of
    inline content directly inside containers become anonymous 'block's.
    Boilerplate subtrees are stripped. Empty blocks are dropped.
    """
    blocks: list[tuple[str, str]] = []
    pending: list[str] = []

    def flush() -> None:
        if pending:
            text = _normalize_text(" ".join(pending))
            pending.clear()
            if text:
                blocks.append(("block", text))

    def walk(n: Node) -> None:
        for c in n.children:
            if c.tag == "#text":
                t = c.text
                pending.append(_htmlmod.unescape(t) if "&" in t else t)
            elif c.tag in BOILERPLATE_TAGS:
                continue
            elif c.tag in BLOCK_EMITTING:
                flush()
                text = _subtree_text(c)
                if text:
                    blocks.append((_block_kind(c.tag), text))
            elif c.tag in CONTAINER_TAGS:
                flush()
                walk(c)
            else:  # inline element: contributes to the pending run
                pending.append(_subtree_text(c))

    if candidate.tag in BLOCK_EMITTING:
        text = _subtree_text(candidate)
        return [(_block_kind(candidate.tag), text)] if text else []
    walk(candidate)
    flush()
    return blocks


_META_CHARSET_RE = re.compile(
    rb"""charset\s*=\s*["']?\s*([a-zA-Z0-9_.:-]+)""", re.I
)

# codecs we honor from meta declarations (whitelist keeps decoding
# deterministic; anything else falls back to utf-8-replace)
_KNOWN_CHARSETS = {
    "utf-8": "utf-8",
    "utf8": "utf-8",
    "latin-1": "latin-1",
    "latin1": "latin-1",
    "iso-8859-1": "latin-1",
    "windows-1252": "cp1252",
    "cp1252": "cp1252",
    "ascii": "ascii",
    "us-ascii": "ascii",
    "gbk": "gbk",
    "gb2312": "gbk",
    "big5": "big5",
    "shift_jis": "shift_jis",
    "shift-jis": "shift_jis",
    "euc-jp": "euc_jp",
    "euc-kr": "euc_kr",
    "koi8-r": "koi8_r",
    "iso-8859-2": "iso8859-2",
    "iso-8859-15": "iso8859-15",
}


def decode_html(data: bytes) -> str:
    """Deterministic charset handling: BOM > meta charset > utf-8-replace.

    Real crawls are full of declared-legacy-charset pages; decoding them as
    utf-8 mangles every non-ASCII character.  The sniff is bounded to the
    first 2 KB (where conformant meta tags live) and only whitelisted
    codecs are honored, so the decode stays a pure function of the bytes.
    """
    if data[:3] == b"\xef\xbb\xbf":
        return data[3:].decode("utf-8", errors="replace")
    if data[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return data.decode("utf-16", errors="replace")
    m = _META_CHARSET_RE.search(data[:2048])
    if m:
        name = _KNOWN_CHARSETS.get(m.group(1).decode("ascii", "replace").lower())
        if name and name != "utf-8":
            try:
                return data.decode(name)
            except (UnicodeDecodeError, LookupError):
                pass
    return data.decode("utf-8", errors="replace")


def extract_html_blocks(data: bytes) -> list[tuple[str, str]]:
    """bytes -> [(kind, normalized_text)] for the main-content subtree."""
    src = decode_html(data)
    root = parse(src)
    candidate = select_candidate(root)
    return emit_blocks(candidate)
