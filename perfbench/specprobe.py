"""Spark-free timing of the public ``spec`` calls, in µs per document.

Runs in the main benchmark process (run.py) over a deterministic sample of the
workload's own payloads.  Each layer is timed as one loop over the
documents that layer receives (``htmlx`` layers see HTML payloads,
``parse_pdf`` sees ``%PDF-`` payloads), ``REPEATS`` times, and the median
loop is reported per document.  A layer with no documents in the sample reads 0.
"""

from __future__ import annotations

import statistics
import time

from gonova_document_parser_spark.spec import api, classify, htmlx, pdfx

REPEATS = 3


def _loop_us(fn, items) -> float:
    if not items:
        return 0.0
    walls = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) * 1e6 / len(items)


def probe(payloads: list[bytes]) -> dict[str, float]:
    """µs/doc per spec layer over ``payloads`` (all of them, in order)."""
    html = [p for p in payloads if classify.classify_page_type(p) == "html"]
    pdf = [p for p in payloads if p.startswith(b"%PDF-")]
    src = [htmlx.decode_html(p) for p in html]
    roots = [htmlx.parse(s) for s in src]
    cands = [htmlx.select_candidate(r) for r in roots]
    return {
        "spec.classify.us_per_doc": _loop_us(classify.classify_page_type, payloads),
        "spec.htmlx.decode.us_per_doc": _loop_us(htmlx.decode_html, html),
        "spec.htmlx.parse.us_per_doc": _loop_us(htmlx.parse, src),
        "spec.htmlx.select_candidate.us_per_doc": _loop_us(htmlx.select_candidate, roots),
        "spec.htmlx.emit_blocks.us_per_doc": _loop_us(htmlx.emit_blocks, cands),
        "spec.pdfx.parse_pdf.us_per_doc": _loop_us(pdfx.parse_pdf, pdf),
        "spec.api.extract_document.us_per_doc": _loop_us(api.extract_document, payloads),
    }
