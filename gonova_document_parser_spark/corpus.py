"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1).

``make_page(i, seed)`` is a pure function of (index, seed): the corpus is
identical regardless of partitioning, worker count, or generation order — a
requirement for the byte-identity and resume tests.  Generation in Spark is
``spark.range(n) -> mapInPandas`` (one Arrow batch per call, no driver loop),
so bench-scale corpora (10^5+ rows) are built in parallel.

Payload mix (drives the classifier, SURVEY §2.1 C1):
  70% html  — boilerplate (nav/header/footer/linky sidebar, script/style
              noise) wrapping a main-content div (the DOM-scoring target)
  20% pdf   — real minimal PDFs: catalog/pages/kids object graph, shuffled
              object order, 1-3 pages, 1-2 columns, ~30% Flate-compressed
              streams (exercises reading-order + decode paths)
  10% scanned — %PDF magic with image-XObject stub and <50 chars of text
              (the page_classifier.py:94-106 threshold, ported)

One hot host holds ~50% of rows (skew-handling tests, SURVEY §4).
"""

from __future__ import annotations

import datetime
import random
import zlib

from .session import drop_zip_finders

SEED = 42
HOT_HOST = "hot.example.com"
N_COLD_HOSTS = 49
EPOCH = datetime.datetime(2025, 1, 1, 0, 0, 0)

_WORDS = (
    "data spark table scan shuffle merge batch row column text page block "
    "extract parse render crawl index token stream graph node edge span "
    "document content heading paragraph anchor footer sidebar quality "
    "language model vector hash partition salt skew broadcast executor"
).split()

_LANGS = ["en"] * 40 + ["fr"] * 16 + ["es"] * 16 + ["zh"] * 15 + ["de"] * 14


def _rng(i: int, seed: int) -> random.Random:
    return random.Random((seed << 32) ^ (i * 2654435761 % (1 << 61)))


def _sentence(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def _paragraph(rng: random.Random) -> str:
    return ". ".join(
        _sentence(rng, rng.randint(6, 14)).capitalize() for _ in range(rng.randint(2, 5))
    ) + "."


def build_html(rng: random.Random) -> bytes:
    nav_links = "".join(
        f'<li><a href="/{rng.choice(_WORDS)}">{_sentence(rng, 2)}</a></li>'
        for _ in range(rng.randint(4, 10))
    )
    sidebar_links = "".join(
        f'<p><a href="/{rng.choice(_WORDS)}/{k}">{_sentence(rng, rng.randint(3, 6))}</a></p>'
        for k in range(rng.randint(5, 12))
    )
    paras = []
    for _ in range(rng.randint(3, 9)):
        roll = rng.random()
        if roll < 0.15:
            paras.append(f"<h2>{_sentence(rng, rng.randint(3, 6)).title()}</h2>")
        elif roll < 0.25:
            items = "".join(
                f"<li>{_sentence(rng, rng.randint(4, 9))}</li>"
                for _ in range(rng.randint(2, 5))
            )
            paras.append(f"<ul>{items}</ul>")
        else:
            paras.append(f"<p>{_paragraph(rng)}</p>")
    title = _sentence(rng, rng.randint(3, 7)).title()
    doc = (
        "<!DOCTYPE html>\n<html><head>"
        f"<title>{title}</title>"
        "<style>body{margin:0} .x{color:red}</style>"
        "<script>var t=1;function f(){return '<p>not content</p>';}</script>"
        "</head><body>"
        f"<header><h1>{title}</h1></header>"
        f"<nav><ul>{nav_links}</ul></nav>"
        '<div class="wrap">'
        f'<aside class="sidebar">{sidebar_links}</aside>'
        f'<div class="main" id="content"><h1>{title}</h1>{"".join(paras)}</div>'
        "</div>"
        f"<footer><p>© 2025 {_sentence(rng, 2)} · <a href='/about'>about</a></p></footer>"
        "</body></html>"
    )
    return doc.encode("utf-8")


def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _page_content(rng: random.Random) -> bytes:
    """One page's content stream: 1-2 columns of blocks of Tj lines."""
    two_cols = rng.random() < 0.4
    cols = [(50.0,)] if not two_cols else [(50.0,), (320.0,)]
    ops: list[str] = []
    for (x0,) in cols:
        y = 760.0
        for _ in range(rng.randint(2, 4)):  # blocks
            for _ in range(rng.randint(2, 5)):  # lines
                line = _sentence(rng, rng.randint(4, 8))
                ops.append(f"BT 1 0 0 1 {x0:.1f} {y:.1f} Tm ({_pdf_escape(line)}) Tj ET")
                y -= 14.0
            y -= 30.0  # block gap > BLOCK_GAP threshold
    return ("\n".join(ops)).encode("latin-1")


def build_pdf(rng: random.Random) -> bytes:
    """Minimal real PDF: catalog -> pages -> kids -> content streams.

    Object order is shuffled and ~30% of streams Flate-compressed so the
    parser's object-graph walk and decode paths are genuinely exercised.
    """
    n_pages = rng.randint(1, 3)
    contents = [_page_content(rng) for _ in range(n_pages)]
    # object numbering: 1=catalog, 2=pages, 3..=page objs, then content objs
    page_ids = [3 + k for k in range(n_pages)]
    content_ids = [3 + n_pages + k for k in range(n_pages)]
    objects: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (
            b"<< /Type /Pages /Kids ["
            + b" ".join(b"%d 0 R" % p for p in page_ids)
            + b"] /Count %d >>" % n_pages
        ),
    }
    for k in range(n_pages):
        objects[page_ids[k]] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R >>" % content_ids[k]
        )
        data = contents[k]
        if rng.random() < 0.3:
            comp = zlib.compress(data)
            objects[content_ids[k]] = (
                b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(comp)
                + comp
                + b"\nendstream"
            )
        else:
            objects[content_ids[k]] = (
                b"<< /Length %d >>\nstream\n" % len(data) + data + b"\nendstream"
            )
    order = list(objects)
    rng.shuffle(order)
    parts = [b"%PDF-1.4\n"]
    for num in order:
        parts.append(b"%d 0 obj\n" % num + objects[num] + b"\nendobj\n")
    parts.append(b"%%EOF\n")
    return b"".join(parts)


def build_scanned(rng: random.Random) -> bytes:
    """%PDF magic, image-only XObject stub, text layer < 50 chars."""
    blob = bytes(rng.getrandbits(8) for _ in range(rng.randint(64, 256)))
    short = b""
    if rng.random() < 0.5:  # sometimes a sub-threshold text layer
        text = _sentence(rng, rng.randint(1, 3))[:40]
        short = (
            b"4 0 obj\n<< /Length 64 >>\nstream\nBT 1 0 0 1 50 700 Tm ("
            + _pdf_escape(text).encode("latin-1")
            + b") Tj ET\nendstream\nendobj\n"
        )
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources << /XObject << /Im0 5 0 R >> >> >>\nendobj\n"
        + short
        + b"5 0 obj\n<< /Subtype /Image /Width 8 /Height 8 /Length %d >>\nstream\n" % len(blob)
        + blob
        + b"\nendstream\nendobj\n%%EOF\n"
    )


def make_page(i: int, seed: int = SEED) -> dict:
    """Pure deterministic row builder: index -> full pages-table row."""
    rng = _rng(i, seed)
    host = HOT_HOST if rng.random() < 0.5 else f"site{rng.randrange(N_COLD_HOSTS)}.example.org"
    roll = rng.random()
    if roll < 0.70:
        html = build_html(rng)
    elif roll < 0.90:
        html = build_pdf(rng)
    else:
        html = build_scanned(rng)
    return {
        "url": f"https://{host}/p/{i}.html",
        "warc_ts": EPOCH + datetime.timedelta(seconds=13 * i),
        "html": html,
        "text": _sentence(rng, rng.randint(0, 30)),
        "lang": _LANGS[rng.randrange(len(_LANGS))],
    }


PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def _chunks(words: list[str], size: int) -> list[list[str]]:
    return [words[i : i + size] for i in range(0, len(words), size)] or [[]]


def render_doc_html(doc_id: int, text: str) -> bytes:
    """Deterministically wrap a document's text in boilerplate-laden HTML.

    Pure function of (doc_id, text) — used to turn the driver's ``documents``
    table into a pages corpus whose main content is the document text, so
    the flagship extraction query runs end-to-end on driver testdata.
    """
    words = text.split()
    paras = "".join(f"<p>{' '.join(ch)}</p>" for ch in _chunks(words, 12))
    return (
        "<!DOCTYPE html><html><head>"
        f"<title>Doc {doc_id}</title><style>.m{{x:1}}</style>"
        "<script>var noise='<p>x</p>';</script></head><body>"
        f"<header><h1>Doc {doc_id}</h1></header>"
        "<nav><ul>"
        + "".join(f'<li><a href="/s/{k}">section {k} link text</a></li>' for k in range(6))
        + "</ul></nav>"
        '<aside><p><a href="/r/1">related article one</a></p>'
        '<p><a href="/r/2">related article two</a></p></aside>'
        f'<div id="content"><h2>Document {doc_id}</h2>{paras}</div>'
        '<footer><p>© corpus <a href="/about">about</a></p></footer>'
        "</body></html>"
    ).encode("utf-8")


def render_doc_pdf(doc_id: int, text: str) -> bytes:
    """Deterministic single-page PDF whose text layer is the document text."""
    words = text.split()
    ops = []
    y = 760.0
    for k, line_words in enumerate(_chunks(words, 6)):
        line = _pdf_escape(" ".join(line_words) or f"doc {doc_id}")
        ops.append(f"BT 1 0 0 1 50.0 {y:.1f} Tm ({line}) Tj ET")
        y -= 14.0
        if k % 4 == 3:
            y -= 30.0
    data = "\n".join(ops).encode("latin-1")
    head = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>\nendobj\n"
    )
    return (
        head
        + b"4 0 obj\n<< /Length %d >>\nstream\n" % len(data)
        + data
        + b"\nendstream\nendobj\n%%EOF\n"
    )


def render_doc_scanned(doc_id: int) -> bytes:
    """%PDF magic, sub-threshold text layer (deterministic scanned stub)."""
    data = b"BT 1 0 0 1 50 700 Tm (scan %d) Tj ET" % doc_id
    head = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
    )
    return (
        head
        + b"4 0 obj\n<< /Length %d >>\nstream\n" % len(data)
        + data
        + b"\nendstream\nendobj\n%%EOF\n"
    )


def doc_to_page(doc_id: int, text: str, lang: str) -> dict:
    """documents-table row -> pages-table row (pure, deterministic).

    doc_id % 10: 0-6 html, 7-8 pdf, 9 scanned — fixed mix, no RNG.
    """
    m = doc_id % 10
    if m <= 6:
        payload = render_doc_html(doc_id, text)
    elif m <= 8:
        payload = render_doc_pdf(doc_id, text)
    else:
        payload = render_doc_scanned(doc_id)
    return {
        "url": f"https://docs.example.com/d/{doc_id}",
        "warc_ts": EPOCH + datetime.timedelta(seconds=int(doc_id)),
        "html": payload,
        "text": text,
        "lang": lang,
    }


def pages_from_documents(docs_df):
    """documents(doc_id, text, lang, ...) -> pages corpus, distributed.

    fan_out before the render UDF: the documents scan of a compacted small
    table carries one task, and the per-row page render is the expensive
    part (no-op when the scan already has enough tasks)."""
    import pandas as pd

    from .plans.partitioning import fan_out

    def gen(batches):
        for pdf in batches:
            drop_zip_finders()
            rows = [
                doc_to_page(int(d), t if isinstance(t, str) else "", l or "und")
                for d, t, l in zip(pdf["doc_id"], pdf["text"], pdf["lang"])
            ]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return fan_out(docs_df.select("doc_id", "text", "lang")).mapInPandas(gen, PAGES_DDL)


def generate_pages(spark, n_rows: int, seed: int = SEED, num_partitions: int | None = None):
    """Distributed deterministic generation: spark.range -> mapInPandas."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            drop_zip_finders()
            rows = [make_page(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    rng_df = spark.range(n_rows, numPartitions=num_partitions)
    return rng_df.mapInPandas(gen, PAGES_DDL)
