"""Cheap pre-pass document analyzer + routing explainer (SURVEY §2.1 S4/C1/C3/C5).

Grafts the reference's route-before-work strategy:
  - ``document_analyzer.py:22-113``: a cheap metadata pass (page count,
    text-layer presence, form fields, image XObjects) that never runs OCR;
  - ``router.py:41-89``: the accuracy-gated decision table producing a
    route AND a human-readable reason (``router.py:126-152`` keeps the
    reason for metrics — so do we).

The analyzer probes leading bytes + light structural counts inside an
Arrow-batched UDF (no full extraction); route/reason are then pure column
expressions over its output, so the routing breakdown aggregations (AG5)
stay whole-stage-codegen.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, functions as F

from ..session import drop_zip_finders
from ..spec.classify import MIN_TEXT_LAYER_CHARS, classify_page_type
from ..spec.pdfx import _page_content_streams, pdf_text_len

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

ANALYSIS_DDL = (
    "url string, page_type string, n_pages int, text_layer_chars int, "
    "has_forms boolean, has_images boolean, payload_bytes int"
)


def analyze_document(data: bytes) -> dict:
    """Pure per-document analysis (usable standalone as the oracle)."""
    page_type = classify_page_type(data)
    n_pages = 1
    text_chars = 0
    has_forms = False
    has_images = False
    if data.startswith(b"%PDF-"):
        n_pages = max(1, len(_page_content_streams(data)))
        text_chars = pdf_text_len(data)
        has_forms = b"/AcroForm" in data
        has_images = b"/XObject" in data or b"/Subtype /Image" in data
    elif page_type == "html":
        low = data[:65536].lower()
        text_chars = len(data)
        has_forms = b"<form" in low or b"<input" in low
        has_images = b"<img" in low
    return {
        "page_type": page_type,
        "n_pages": n_pages,
        "text_layer_chars": text_chars,
        "has_forms": has_forms,
        "has_images": has_images,
        "payload_bytes": len(data),
    }


def analyze_pages(df: DataFrame) -> DataFrame:
    """(url, html, ...) -> per-doc analysis frame (Arrow-batched)."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            drop_zip_finders()
            rows = []
            for url, payload in zip(pdf["url"], pdf["html"]):
                data = bytes(payload) if payload is not None else b""
                a = analyze_document(data)
                rows.append((url, a["page_type"], a["n_pages"],
                             a["text_layer_chars"], a["has_forms"],
                             a["has_images"], a["payload_bytes"]))
            yield pd.DataFrame(rows, columns=[
                "url", "page_type", "n_pages", "text_layer_chars",
                "has_forms", "has_images", "payload_bytes"])

    return df.select("url", "html").mapInPandas(batches, ANALYSIS_DDL)


def route_expr() -> Column:
    """router.py:41-89 decision table over analysis columns."""
    return (
        F.when(F.col("has_forms"), F.lit("nanonets"))
        .when(
            F.col("text_layer_chars") < F.lit(MIN_TEXT_LAYER_CHARS),
            F.lit("deepseek-ocr"),
        )
        .otherwise(F.lit("deepseek"))
    )


def route_reason_expr() -> Column:
    """The reason strings the reference logs (router.py:62-89 shapes)."""
    return (
        F.when(F.col("has_forms"), F.lit("forms detected -> form-specialized route"))
        .when(
            F.col("text_layer_chars") < F.lit(MIN_TEXT_LAYER_CHARS),
            F.lit("low native text ratio -> OCR route"),
        )
        .otherwise(F.lit("standard document -> default route"))
    )


def should_enrich_expr() -> Column:
    """C4 enrichment decision (router.py:91-112): enrich iff the default
    route was taken AND (doc is large OR has images)."""
    return (route_expr() == "deepseek") & (
        (F.col("n_pages") > F.lit(100)) | F.col("has_images")
    )


def explain_routing(analysis: DataFrame) -> DataFrame:
    """C5: per-doc route decision + stats struct, then AG5 rolls up."""
    return analysis.select(
        "url",
        route_expr().alias("route"),
        route_reason_expr().alias("route_reason"),
        should_enrich_expr().alias("should_enrich"),
        F.struct("page_type", "n_pages", "text_layer_chars", "has_forms",
                 "has_images", "payload_bytes").alias("stats"),
    )
