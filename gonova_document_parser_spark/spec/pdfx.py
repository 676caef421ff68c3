"""Deterministic PDF text-layer extraction (pure Python, no Spark).

Parses the PDF object graph (xref-less scan), decodes content streams
(including /FlateDecode via zlib), interprets the text operators
(BT/ET, Td/TD/Tm/T*, Tj/TJ/'/\"), then reconstructs reading order:
items -> lines (y-clustering) -> columns (x-gap split) -> blocks
(vertical-gap segmentation), columns read left-to-right, lines
top-to-bottom.

This replaces the reference's render-page-to-bitmap -> external-OCR path
(``/root/reference/document_parser/mineru_processor.py:150-176,264-331``)
with a deterministic text-layer parse, per the build target: same
per-page -> ordered-merge semantics, no model calls.

Font decoding: per-page ``/Resources -> /Font -> /ToUnicode`` CMaps are
parsed (``bfchar`` + ``bfrange``, including array-destination ranges and
``codespacerange`` code widths), so CID/Identity-H text — the dominant
encoding in real-world PDFs, the reference's actual input
(``mineru_processor.py:150-176``) — decodes to the correct Unicode instead
of latin-1 mojibake.  String bytes fall back to latin-1 only when the
active font has no ToUnicode map.

Geometry: the full text matrix (``Tm``/``Td``/``TD``/``T*`` composition)
and the CTM (``cm`` with ``q``/``Q`` save-restore) position every item, so
rotated text lands at its true device coordinates.  Each item's rotation is
quantized to the nearest 90 degrees; the page's MODAL rotation un-rotates
all items into upright reading space before line/column/block segmentation
— a 90/180/270-rotated page reads exactly like its upright twin (pinned by
fixtures).  This also subsumes the ``/Rotate`` page attribute for reading
order, since /Rotate only changes display orientation, not content-space
layout.

Object model: brute-force obj/endobj scan plus /ObjStm object-stream
unpacking (the PDF 1.5+ layout), so xref tables and xref streams are never
needed.  Inline images (``BI ... ID <binary> EI``) are skipped as raw
bytes, not tokenized.  Encrypted files (``/Encrypt`` in the trailer) have
no readable text layer and deterministically report 0 chars — the 50-char
rule then routes them to the scanned/OCR path, matching the reference's
OCR-first handling.

Limits (documented spec, pinned by fixtures): only literal ``(...)``
— with ``\\ooo`` octal and all standard escapes decoded — and hex ``<...>``
strings; arbitrary skew/non-axis-aligned rotation quantizes to the nearest
90 degrees; codes absent from a present CMap decode to U+FFFD; encrypted
documents are never decrypted (routed to OCR instead).
"""

from __future__ import annotations

import math
import re
import zlib

# Geometry thresholds (PDF user-space units, 1/72 inch).
LINE_Y_TOLERANCE = 2.0  # items within this |dy| are one line
BLOCK_GAP = 20.0  # vertical gap starting a new block
COLUMN_GAP = 100.0  # x-gap between line starts that splits columns
# TJ kerning offsets are thousandths of an em; real-world PDFs encode
# inter-word gaps as large negative offsets instead of space glyphs.
TJ_SPACE_THRESHOLD = -180.0  # offset <= this emits one space (pinned spec)

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)endobj", re.S)
# /Encrypt in the trailer dict (an indirect ref) marks an encrypted file
_ENCRYPT_RE = re.compile(rb"/Encrypt\s+\d+\s+\d+\s+R")
_XREF_TYPE_RE = re.compile(rb"/Type\s*/XRef\b")
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.S)
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_NUM_RE = re.compile(rb"[-+]?\d*\.?\d+")
_OP_RE = re.compile(rb"[A-Za-z'\"*]+")


def _is_encrypted(data: bytes) -> bool:
    """True iff the document's TRAILER declares /Encrypt.

    The /Encrypt key is only live in the trailer dictionary (classic
    layout) or the /Type /XRef stream dictionary (PDF 1.5+ layout) — so
    the search is scoped there.  Searching the whole byte stream would
    misclassify a benign PDF whose page content merely mentions
    ``/Encrypt 5 0 R`` (uncompressed stream or literal string) as
    encrypted, deterministically reporting 0 chars and misrouting a doc
    with a real text layer to the OCR path.

    Hostile-input bounds (this runs inside the extraction UDF for EVERY
    pdf): at most ``_MAX_SITES`` trailer/XRef sites are examined, each
    with at most ``_MAX_OPENERS`` candidate dict openers parsed within a
    ``_DICT_WINDOW``-byte window — without the caps, a crafted payload
    of repeated ``<<`` + ``/Type /XRef`` tokens makes the backward walk
    O(n^2) and stalls the task.  Real trailer/xref dicts sit far inside
    every bound.
    """
    _MAX_SITES = 64
    _MAX_OPENERS = 16
    _DICT_WINDOW = 1 << 16

    def bounded_dict(start: int) -> bytes | None:
        return _balanced_dict(data[start : start + _DICT_WINDOW], 0)

    # scan trailer sites from the END of the file: the genuine trailer is
    # the last one written (incremental updates append), so a hostile
    # payload of > _MAX_SITES decoy "trailer" keywords AHEAD of the real
    # encrypted trailer can no longer exhaust the cap and smuggle
    # ciphertext through as "unencrypted" — the cap now bounds work, not
    # reachability of the authoritative dict.
    pos = len(data)
    for _ in range(_MAX_SITES):
        i = data.rfind(b"trailer", 0, pos)
        if i == -1:
            break
        pos = i
        j = i + 7
        # word boundary after the keyword (mirror of rb"trailer\b")
        nxt = data[j : j + 1]
        if nxt.isalnum() or nxt == b"_":
            continue
        # the trailer keyword is followed by the trailer DICT; a prose
        # mention of "trailer" in page content has no << >> dict after it
        while j < len(data) and data[j : j + 1] in b" \t\r\n":
            j += 1
        d = bounded_dict(j)
        if d is not None and _ENCRYPT_RE.search(d) is not None:
            return True
    # xref-stream layout: no "trailer" keyword; the trailer keys live in
    # the /Type /XRef stream dict.  Walk candidate "<<" openers BACKWARDS
    # until one's balanced span covers the /Type /XRef match — the
    # nearest "<<" may close a NESTED dict (/DecodeParms << ... >>
    # regularly precedes /Type in real xref streams, and key order is
    # unspecified), whose span would miss /Encrypt in the outer dict.
    # examine /Type /XRef sites from the END (the authoritative xref
    # stream is the last-written one), and only sites with a parseable
    # "<<" opener in their window consume the _MAX_SITES work cap — bare
    # keyword decoys (no dict anywhere near) cost one bounded rfind and
    # are skipped free, so neither front- NOR back-planted bare-decoy
    # floods can push the real encrypted dict out of the budget (the
    # round-5 fix only closed the front direction).  deque(maxlen=)
    # bounds total visits (and memory) on match-bomb payloads; the
    # documented residual is a flood of >_MAX_SITES PARSEABLE dict decoys
    # written AFTER the authoritative xref dict — a file a conforming
    # reader (which honors the last startxref) also misreads.
    from collections import deque

    sites_budget = _MAX_SITES
    for m in reversed(deque(_XREF_TYPE_RE.finditer(data), maxlen=8 * _MAX_SITES)):
        if sites_budget <= 0:
            break
        search_end = m.start()
        parse_worthy = False
        for _ in range(_MAX_OPENERS):
            start = data.rfind(b"<<", max(0, m.start() - _DICT_WINDOW), search_end)
            if start == -1:
                break
            if not parse_worthy:
                parse_worthy = True
                sites_budget -= 1
            d = bounded_dict(start)
            if d is not None:
                if start + len(d) > m.start():
                    # this dict's span covers the /Type /XRef key: it IS
                    # the xref stream dict (or an ancestor — either way
                    # /Encrypt inside it marks encryption)
                    if _ENCRYPT_RE.search(d) is not None:
                        return True
                    break
                if (
                    _XREF_TYPE_RE.search(d) is not None
                    and _ENCRYPT_RE.search(d) is not None
                ):
                    # a nearby balanced dict that itself declares
                    # /Type /XRef with /Encrypt is the encrypted xref
                    # dict even when this particular keyword site is a
                    # decoy next to it — without this, decoys planted
                    # immediately AFTER the real dict would each burn a
                    # site-budget slot walking past it
                    return True
            search_end = start
    return False


def _scan_objects(data: bytes) -> dict[int, bytes]:
    """Object number -> raw object body (brute-force scan; no xref needed).

    Objects packed inside /ObjStm object streams (the PDF 1.5+ layout most
    modern writers emit) are unpacked too: each stream's header is N
    (objnum, offset) pairs relative to /First, followed by the bodies with
    no obj/endobj wrappers.  Direct objects win on number collision (a
    conforming file never has both live)."""
    objs = {int(m.group(1)): m.group(2) for m in _OBJ_RE.finditer(data)}
    packed: dict[int, bytes] = {}
    for body in list(objs.values()):
        # require the /Type /ObjStm declaration — a content stream or
        # string merely CONTAINING the literal "/ObjStm" is not one, and
        # int()-parsing its bytes as a header would raise
        if re.search(rb"/Type\s*/ObjStm\b", body) is None:
            continue
        stream = _stream_bytes(body)
        if stream is None:
            continue
        nm = re.search(rb"/N\s+(\d+)", body)
        fm = re.search(rb"/First\s+(\d+)", body)
        if nm is None or fm is None:
            continue
        n_objs, first = int(nm.group(1)), int(fm.group(1))
        header = stream[:first].split()
        if len(header) < 2 * n_objs:
            continue
        try:
            pairs = [
                (int(header[2 * k]), int(header[2 * k + 1])) for k in range(n_objs)
            ]
        except ValueError:
            # malformed header (non-integer tokens): skip this candidate
            # instead of turning an extractable doc into an error row
            continue
        for k, (num, off) in enumerate(pairs):
            end = first + pairs[k + 1][1] if k + 1 < n_objs else len(stream)
            packed[num] = stream[first + off : end]
    for num, body in packed.items():
        objs.setdefault(num, body)
    return objs


def _stream_bytes(body: bytes) -> bytes | None:
    m = _STREAM_RE.search(body)
    if m is None:
        return None
    raw = m.group(1)
    if b"/FlateDecode" in body[: m.start()]:
        try:
            return zlib.decompress(raw)
        except zlib.error:
            return None
    return raw


def _balanced_dict(buf: bytes, start: int) -> bytes | None:
    """Slice of the ``<< ... >>`` dict starting at ``start`` (nesting-aware)."""
    if buf[start : start + 2] != b"<<":
        return None
    depth = 0
    j = start
    n = len(buf)
    while j < n - 1:
        two = buf[j : j + 2]
        if two == b"<<":
            depth += 1
            j += 2
        elif two == b">>":
            depth -= 1
            j += 2
            if depth == 0:
                return buf[start:j]
        else:
            j += 1
    return None


def _dict_or_ref(objs: dict[int, bytes], body: bytes, key: bytes) -> bytes | None:
    """Value of /key in body: inline ``<<...>>`` dict or dereferenced object."""
    m = re.search(re.escape(key) + rb"\s*", body)
    if m is None:
        return None
    at = m.end()
    if body[at : at + 2] == b"<<":
        return _balanced_dict(body, at)
    rm = _REF_RE.match(body, at)
    if rm is not None:
        return objs.get(int(rm.group(1)))
    return None


_HEX_PAIR_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>")


def _parse_cmap(data: bytes) -> tuple[int, dict[int, str]]:
    """ToUnicode CMap -> (code byte width, code -> unicode string).

    Handles ``begincodespacerange`` (code width), ``beginbfchar`` pairs and
    ``beginbfrange`` with scalar or array destinations; destination hex is
    UTF-16BE (surrogate pairs included).
    """
    code_len = 0
    mapping: dict[int, str] = {}

    def hexval(h: bytes) -> bytes:
        h = re.sub(rb"\s", b"", h)
        if len(h) % 2:
            h += b"0"
        return bytes.fromhex(h.decode("ascii"))

    for m in re.finditer(rb"begincodespacerange(.*?)endcodespacerange", data, re.S):
        for hm in _HEX_PAIR_RE.finditer(m.group(1)):
            code_len = max(code_len, len(hexval(hm.group(1))))
    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        hexes = _HEX_PAIR_RE.findall(m.group(1))
        for src_h, dst_h in zip(hexes[0::2], hexes[1::2]):
            src = hexval(src_h)
            code_len = code_len or len(src)
            try:
                mapping[int.from_bytes(src, "big")] = hexval(dst_h).decode(
                    "utf-16-be", "replace"
                )
            except ValueError:
                continue
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        body = m.group(1)
        i = 0
        n = len(body)
        while i < n:
            lo_m = _HEX_PAIR_RE.search(body, i)
            if lo_m is None:
                break
            hi_m = _HEX_PAIR_RE.search(body, lo_m.end())
            if hi_m is None:
                break
            lo = int.from_bytes(hexval(lo_m.group(1)), "big")
            hi = int.from_bytes(hexval(hi_m.group(1)), "big")
            code_len = code_len or len(hexval(lo_m.group(1)))
            # destination: scalar <hex> or array [<hex> <hex> ...]
            j = hi_m.end()
            while j < n and body[j : j + 1] in b" \t\r\n":
                j += 1
            if body[j : j + 1] == b"[":
                end = body.find(b"]", j)
                if end == -1:
                    break
                dsts = _HEX_PAIR_RE.findall(body[j:end])
                for off, dst_h in enumerate(dsts):
                    if lo + off > hi:
                        break
                    mapping[lo + off] = hexval(dst_h).decode("utf-16-be", "replace")
                i = end + 1
            else:
                dst_m = _HEX_PAIR_RE.search(body, j)
                if dst_m is None:
                    break
                base = hexval(dst_m.group(1))
                base_int = int.from_bytes(base, "big") if base else 0
                width = max(len(base), 2)
                for off in range(min(hi - lo + 1, 65536)):
                    try:
                        mapping[lo + off] = (base_int + off).to_bytes(
                            width, "big"
                        ).decode("utf-16-be", "replace")
                    except (OverflowError, ValueError):
                        break
                i = dst_m.end()
    return (code_len or 1, mapping)


def _page_fonts(objs: dict[int, bytes], page_body: bytes) -> dict[str, tuple[int, dict[int, str]]]:
    """Font name -> parsed ToUnicode CMap for one page (absent fonts omitted:
    strings shown in them decode latin-1)."""
    res = _dict_or_ref(objs, page_body, b"/Resources")
    if res is None:
        return {}
    fontd = _dict_or_ref(objs, res, b"/Font")
    if fontd is None:
        return {}
    fonts: dict[str, tuple[int, dict[int, str]]] = {}
    for m in re.finditer(rb"/([A-Za-z0-9._-]+)\s+(\d+)\s+\d+\s+R", fontd):
        fbody = objs.get(int(m.group(2)))
        if fbody is None:
            continue
        tm = re.search(rb"/ToUnicode\s+(\d+)\s+\d+\s+R", fbody)
        if tm is None:
            continue
        cm_stream = _stream_bytes(objs.get(int(tm.group(1)), b""))
        if cm_stream:
            fonts[m.group(1).decode("latin-1")] = _parse_cmap(cm_stream)
    return fonts


def _page_streams_with_fonts(data: bytes) -> list[tuple[bytes, dict]]:
    """(content stream, font CMaps) per page, in page order
    (catalog -> pages -> kids -> contents).

    Falls back to all BT-containing streams ordered by object number (empty
    font table) when the object graph doesn't parse (truncated / malformed).
    """
    objs = _scan_objects(data)
    page_order: list[int] = []
    kids_obj = None
    for num in sorted(objs):
        body = objs[num]
        if b"/Type" in body and b"/Pages" in body and b"/Kids" in body:
            kids_obj = body
            break
    if kids_obj is not None:
        km = re.search(rb"/Kids\s*\[(.*?)\]", kids_obj, re.S)
        if km:
            page_order = [int(m.group(1)) for m in _REF_RE.finditer(km.group(1))]

    out: list[tuple[bytes, dict]] = []
    if page_order:
        for pnum in page_order:
            body = objs.get(pnum)
            if body is None:
                continue
            cm = re.search(rb"/Contents\s*(\[[^\]]*\]|\d+\s+\d+\s+R)", body)
            if cm is None:
                continue
            fonts = _page_fonts(objs, body)
            for rm in _REF_RE.finditer(cm.group(1)):
                s = _stream_bytes(objs.get(int(rm.group(1)), b""))
                if s is not None:
                    out.append((s, fonts))
        if out:
            return out
    # fallback: any stream containing a text object, by object number
    for num in sorted(objs):
        s = _stream_bytes(objs[num])
        if s is not None and b"BT" in s:
            out.append((s, {}))
    return out


def _page_content_streams(data: bytes) -> list[bytes]:
    """Content streams in page order (compat wrapper, fonts dropped)."""
    return [s for s, _ in _page_streams_with_fonts(data)]


def _unescape_pdf_string(raw: bytes) -> bytes:
    """Unescape a literal PDF string body (between parens) to raw bytes.

    Charset decoding happens later, per the active font (CMap or latin-1).
    """
    if b"\\" not in raw:  # fast path: no escapes (the common case)
        return raw
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        b = raw[i]
        if b != 0x5C:  # backslash
            out.append(b)
            i += 1
            continue
        i += 1
        if i >= n:
            break
        c = raw[i]
        if c in b"nrtbf":
            out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[c])
            i += 1
        elif c in b"()\\":
            out.append(c)
            i += 1
        elif 0x30 <= c <= 0x37:  # octal, up to 3 digits
            j = i
            while j < n and j < i + 3 and 0x30 <= raw[j] <= 0x37:
                j += 1
            out.append(int(raw[i:j], 8) & 0xFF)
            i = j
        elif c in (10, 13):  # line continuation
            i += 1
            if c == 13 and i < n and raw[i] == 10:
                i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out)


def _decode_string(raw: bytes, cmap: tuple[int, dict[int, str]] | None) -> str:
    """Raw string bytes -> text: active font's ToUnicode CMap, else latin-1."""
    if cmap is None:
        return raw.decode("latin-1")
    code_len, mapping = cmap
    out = []
    for k in range(0, len(raw) - code_len + 1, code_len):
        code = int.from_bytes(raw[k : k + code_len], "big")
        out.append(mapping.get(code, "�"))
    return "".join(out)


_NAME_BODY_RE = re.compile(rb"[A-Za-z0-9._#-]*")
# A literal string with no escapes and no nested parens (the common case):
# its body is the string's raw bytes as-is.
_PLAIN_LITERAL_RE = re.compile(rb"\(([^()\\]*)\)")


def _tokenize_content(stream: bytes):
    """Yield ('str', raw_bytes) / ('num', float) / ('op', name) /
    ('name', str) / ('arr', list) tokens."""
    i, n = 0, len(stream)
    while i < n:
        b = stream[i]
        if b in b" \t\r\n\x00":
            i += 1
            continue
        if b == 0x2F:  # /Name (font selectors etc.)
            m = _NAME_BODY_RE.match(stream, i + 1)
            yield ("name", m.group(0).decode("latin-1"))
            i = m.end()
            continue
        if b == 0x28:  # (
            m = _PLAIN_LITERAL_RE.match(stream, i)
            if m is not None:
                yield ("str", m.group(1))
                i = m.end()
                continue
            depth = 1
            j = i + 1
            start = j
            buf = bytearray()
            while j < n and depth > 0:
                c = stream[j]
                if c == 0x5C and j + 1 < n:
                    buf.extend(stream[j : j + 2])
                    j += 2
                    continue
                if c == 0x28:
                    depth += 1
                elif c == 0x29:
                    depth -= 1
                    if depth == 0:
                        break
                buf.append(c)
                j += 1
            yield ("str", _unescape_pdf_string(bytes(buf)))
            i = j + 1
            continue
        if b == 0x3C and i + 1 < n and stream[i + 1] != 0x3C:  # <hex>
            j = stream.find(b">", i)
            if j == -1:
                break
            hexs = re.sub(rb"\s", b"", stream[i + 1 : j])
            if len(hexs) % 2:
                hexs += b"0"
            try:
                yield ("str", bytes.fromhex(hexs.decode("ascii")))
            except ValueError:
                pass
            i = j + 1
            continue
        if b == 0x3C:  # << dict — skip balanced
            depth = 0
            j = i
            while j < n - 1:
                if stream[j : j + 2] == b"<<":
                    depth += 1
                    j += 2
                elif stream[j : j + 2] == b">>":
                    depth -= 1
                    j += 2
                    if depth == 0:
                        break
                else:
                    j += 1
            i = j
            continue
        if b == 0x5B:  # [ array — tokenize inner, collect strings/nums
            depth = 1
            j = i + 1
            while j < n and depth > 0:
                if stream[j] == 0x5B:
                    depth += 1
                elif stream[j] == 0x5D:
                    depth -= 1
                elif stream[j] == 0x28:  # skip strings so ] inside them is safe
                    d2 = 1
                    j += 1
                    while j < n and d2 > 0:
                        if stream[j] == 0x5C:
                            j += 1
                        elif stream[j] == 0x28:
                            d2 += 1
                        elif stream[j] == 0x29:
                            d2 -= 1
                        j += 1
                    continue
                j += 1
            yield ("arr", list(_tokenize_content(stream[i + 1 : j - 1])))
            i = j
            continue
        m = _NUM_RE.match(stream, i)
        if m is not None and m.start() == i:
            yield ("num", float(m.group(0)))
            i = m.end()
            continue
        m = _OP_RE.match(stream, i)
        if m is not None:
            op = m.group(0)
            if op == b"BI":  # inline image: skip params + RAW BINARY to EI
                # the image bytes after ID are arbitrary binary — walking
                # them as tokens would fabricate garbage ops/strings
                idm = re.compile(rb"\bID[\r\n ]").search(stream, m.end())
                scan_from = idm.end() if idm else m.end()
                eim = re.compile(rb"[\r\n ]EI(?=[\s]|$)").search(stream, scan_from)
                i = eim.end() if eim else n
                continue
            yield ("op", op.decode("latin-1"))
            i = m.end()
        else:
            i += 1


_MAT_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mat_mul(m1, m2):
    """PDF matrix product m1 x m2 (m1 applied first; row-vector convention)."""
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


def _mat_translate(tx: float, ty: float, m):
    """translate(tx, ty) x m — how Td/TD/T* advance the text line matrix."""
    return _mat_mul((1.0, 0.0, 0.0, 1.0, tx, ty), m)


def _quantized_rotation(m) -> int:
    """Rotation of matrix ``m``'s x-axis image, snapped to 0/90/180/270."""
    if m[1] == 0.0 and m[0] > 0.0:  # unrotated text — the common case
        return 0
    deg = math.degrees(math.atan2(m[1], m[0]))
    return int(round(deg / 90.0)) % 4 * 90


def _items_from_stream(
    stream: bytes, fonts: dict[str, tuple[int, dict[int, str]]] | None = None
) -> list[tuple[float, float, str, int]]:
    """Interpret text operators -> [(x, y, text, rotation)] show-text items.

    (x, y) is the DEVICE position of the text origin — the full text matrix
    (Tm composed with Td/TD/T* line advances) times the CTM (``cm`` under
    ``q``/``Q``) applied to (0, 0) — and ``rotation`` is the combined
    matrix's angle quantized to 0/90/180/270.

    ``fonts``: name -> ToUnicode CMap; ``Tf`` switches the active decoding.
    Strings shown in fonts without a CMap decode latin-1 (the pre-CMap
    behavior, still the synthetic-corpus path).
    """
    fonts = fonts or {}
    cmap: tuple[int, dict[int, str]] | None = None
    items: list[tuple[float, float, str, int]] = []
    ctm = _MAT_ID
    ctm_stack: list[tuple] = []
    tm = tlm = _MAT_ID
    leading = 12.0
    stack: list[tuple] = []

    def emit(text: str) -> None:
        if text:
            trm = _mat_mul(tm, ctm)
            items.append((trm[4], trm[5], text, _quantized_rotation(trm)))

    for tok in _tokenize_content(stream):
        if tok[0] in ("num", "str", "arr", "name"):
            stack.append(tok)
            continue
        op = tok[1]
        if op == "BT":
            tm = tlm = _MAT_ID
            stack.clear()
        elif op == "q":
            ctm_stack.append(ctm)
            stack.clear()
        elif op == "Q":
            if ctm_stack:
                ctm = ctm_stack.pop()
            stack.clear()
        elif op == "cm" and len(stack) >= 6:
            ctm = _mat_mul(tuple(t[1] for t in stack[-6:]), ctm)
            stack.clear()
        elif op == "Tf" and len(stack) >= 2 and stack[-2][0] == "name":
            cmap = fonts.get(stack[-2][1])
            stack.clear()
        elif op == "Td" and len(stack) >= 2:
            tm = tlm = _mat_translate(stack[-2][1], stack[-1][1], tlm)
            stack.clear()
        elif op == "TD" and len(stack) >= 2:
            leading = -stack[-1][1]
            tm = tlm = _mat_translate(stack[-2][1], stack[-1][1], tlm)
            stack.clear()
        elif op == "Tm" and len(stack) >= 6:
            tm = tlm = tuple(t[1] for t in stack[-6:])
            stack.clear()
        elif op == "T*":
            tm = tlm = _mat_translate(0.0, -leading, tlm)
            stack.clear()
        elif op == "TL" and stack:
            leading = stack[-1][1]
            stack.clear()
        elif op == "Tj" and stack and stack[-1][0] == "str":
            emit(_decode_string(stack[-1][1], cmap))
            stack.clear()
        elif op == "'" and stack and stack[-1][0] == "str":
            tm = tlm = _mat_translate(0.0, -leading, tlm)
            emit(_decode_string(stack[-1][1], cmap))
            stack.clear()
        elif op == '"' and stack and stack[-1][0] == "str":
            tm = tlm = _mat_translate(0.0, -leading, tlm)
            emit(_decode_string(stack[-1][1], cmap))
            stack.clear()
        elif op == "TJ" and stack and stack[-1][0] == "arr":
            parts = []
            for t in stack[-1][1]:
                if t[0] == "str":
                    parts.append(_decode_string(t[1], cmap))
                elif t[0] == "num" and t[1] <= TJ_SPACE_THRESHOLD:
                    parts.append(" ")  # kerned word gap -> space
            emit("".join(parts))
            stack.clear()
        elif op == "ET":
            stack.clear()
        else:
            stack.clear()
    return items


def _unrotate_items(
    items: list[tuple[float, float, str, int]],
) -> list[tuple[float, float, str]]:
    """Rotate all items into upright reading space by the page's MODAL
    rotation (ties break toward the smaller angle), dropping the rot tag.

    One shared rotation — not per-item — so the relative layout of any
    odd-rotated watermark/margin item is preserved rather than woven into
    the body text at a fake position.
    """
    if not items:
        return []
    counts: dict[int, int] = {}
    for *_, rot in items:
        counts[rot] = counts.get(rot, 0) + 1
    modal = max(counts, key=lambda r: (counts[r], -r))
    if modal == 0:
        return [(x, y, t) for x, y, t, _ in items]
    if modal == 90:
        return [(y, -x, t) for x, y, t, _ in items]
    if modal == 180:
        return [(-x, -y, t) for x, y, t, _ in items]
    return [(-y, x, t) for x, y, t, _ in items]  # 270


def _items_to_lines(items: list[tuple[float, float, str]]):
    """Cluster items into lines by y (tolerance), items ordered by x.

    Bucketed by quantized y so lookup is O(1) per item instead of a linear
    scan over existing lines (same clustering result: first line within
    tolerance in insertion order wins, exactly like the linear scan,
    because candidate buckets are probed in insertion-order of their lines).
    """
    lines: list[dict] = []
    buckets: dict[int, list[dict]] = {}
    q = LINE_Y_TOLERANCE
    for x, y, text in items:
        target = None
        base = int(y // q)
        best_order = None
        for b in (base - 1, base, base + 1, base + 2):
            for ln in buckets.get(b, ()):
                if abs(ln["y"] - y) <= q:
                    order = ln["order"]
                    if best_order is None or order < best_order:
                        best_order = order
                        target = ln
        if target is None:
            target = {"y": y, "items": [], "order": len(lines)}
            lines.append(target)
            buckets.setdefault(int(y // q), []).append(target)
        target["items"].append((x, text))
    out = []
    for ln in lines:
        ln["items"].sort(key=lambda it: it[0])
        out.append(
            {
                "y": ln["y"],
                "x0": ln["items"][0][0],
                "text": " ".join(t for _, t in ln["items"]).strip(),
            }
        )
    return [ln for ln in out if ln["text"]]


def _split_columns(items: list[tuple[float, float, str]]):
    """Split show-text items into columns at the largest x gap >= COLUMN_GAP.

    Runs BEFORE line clustering: a left-column line and a right-column line
    share the same y, so clustering by y first would weave the columns
    together.  One split (two columns max) is the pinned spec.
    """
    if len(items) < 2:
        return [items]
    xs = sorted({x for x, _, _ in items})
    best_gap, split_at = 0.0, None
    for a, b in zip(xs, xs[1:]):
        if b - a > best_gap:
            best_gap, split_at = b - a, (a + b) / 2.0
    if split_at is None or best_gap < COLUMN_GAP:
        return [items]
    left = [it for it in items if it[0] < split_at]
    right = [it for it in items if it[0] >= split_at]
    return [c for c in (left, right) if c]


def _lines_to_blocks(lines: list[dict]) -> list[str]:
    """Within a column: sort top-to-bottom, split blocks at vertical gaps."""
    ordered = sorted(lines, key=lambda ln: (-ln["y"], ln["x0"]))
    blocks: list[list[str]] = []
    prev_y = None
    for ln in ordered:
        if prev_y is None or (prev_y - ln["y"]) > BLOCK_GAP:
            blocks.append([])
        blocks[-1].append(ln["text"])
        prev_y = ln["y"]
    return ["\n".join(b) for b in blocks if b]


def parse_pdf(data: bytes) -> tuple[list[list[tuple[str, str]]], int]:
    """Single-pass parse: (per-page [(kind, text)] blocks, text-layer chars).

    The char count is the classifier's 50-char-rule quantity (sum of
    stripped show-text items), computed from the same item stream the
    blocks come from — classify+extract share one parse (the reference's
    single-pass rule, ``OPTIMIZATIONS.md:5-11``).
    """
    if _is_encrypted(data):
        # encrypted document: streams/strings are RC4/AES ciphertext — there
        # is no readable text layer, so report 0 chars and let the 50-char
        # rule route the document to the scanned/OCR path deterministically
        # (what the reference's OCR-first pipeline would do with it)
        return [], 0
    pages: list[list[tuple[str, str]]] = []
    total_chars = 0
    for stream, fonts in _page_streams_with_fonts(data):
        items = _unrotate_items(_items_from_stream(stream, fonts))
        total_chars += sum(len(t.strip()) for _, _, t in items)
        page_blocks: list[tuple[str, str]] = []
        for column_items in _split_columns(items):
            lines = _items_to_lines(column_items)
            for block in _lines_to_blocks(lines):
                page_blocks.append(("block", block))
        pages.append(page_blocks)
    return pages, total_chars


def extract_pdf_pages(data: bytes) -> list[list[tuple[str, str]]]:
    """bytes -> per-page [(kind, text)] blocks in reading order."""
    return parse_pdf(data)[0]


def pdf_text_len(data: bytes) -> int:
    """Total extractable text-layer characters (classifier's 50-char rule)."""
    if _is_encrypted(data):
        return 0  # ciphertext streams: no readable text layer (see parse_pdf)
    total = 0
    for stream, fonts in _page_streams_with_fonts(data):
        for _, _, text, _ in _items_from_stream(stream, fonts):
            total += len(text.strip())
    return total
