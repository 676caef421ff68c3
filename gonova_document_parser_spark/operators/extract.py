"""The core extraction operator: stage-fused, Arrow-native mapInArrow.

One ``mapInArrow`` call performs classify -> route -> extract -> merge for
every document in the Arrow batch — the reference's four pipeline stages
(``async_processor.py:63-140``) fused into a single pass so each ``html``
blob is deserialized exactly once (its "Eliminated VQA Duplication"
single-pass rule, ``OPTIMIZATIONS.md:5-11``).

Spark-first design notes (SURVEY §4):
  - narrow op: no shuffle is introduced by extraction itself; callers use
    ``plans.partitioning.spread_by_url`` first if the input clusters hot
    hosts (the reference has no skew story; we do).
  - the per-document Python loop lives *inside* the vectorized UDF call
    (Arrow batch in / Arrow batch out), honoring the "no per-row Python at
    the Spark boundary" rule; there is no row-at-a-time Python UDF.  Only
    ``html`` is read into Python; other inputs pass through as Arrow arrays
    and results are built as Arrow arrays, with no pandas frame between.
  - semantic failures (unparseable doc) become ``success=false`` rows with
    the reference's exact error-marker bytes, never task failures, so
    reruns are deterministic (M3/M4 in SURVEY §2.1).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..session import drop_zip_finders
from ..spec import extract_document

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa
    from pyspark.sql import DataFrame

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("start", LongType(), False),
            StructField("end", LongType(), False),
            StructField("kind", StringType(), False),
        ]
    )
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("warc_ts", TimestampType(), True),
        StructField("page_type", StringType(), True),
        StructField("extracted_text", StringType(), True),
        StructField("spans", SPAN_TYPE, True),
        StructField("n_blocks", IntegerType(), True),
        StructField("success", BooleanType(), True),
        StructField("error", StringType(), True),
    ]
)


def _make_batch_fn(passthrough: tuple[str, ...], scanned_extractor=None):
    def _extract_batches(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(EXTRACTED_SCHEMA)
        results = list(schema)[2:]  # page_type .. error: extract_document keys
        names = [*schema.names, *passthrough]
        for batch in batches:
            drop_zip_finders()
            rs = [
                extract_document(payload or b"", scanned_extractor=scanned_extractor)
                for payload in batch.column("html").to_pylist()
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("url"),
                    batch.column("warc_ts"),
                    *[pa.array([r[f.name] for r in rs], f.type) for f in results],
                    *[batch.column(c) for c in passthrough],
                ],
                names=names,
            )

    return _extract_batches


def extract_pages(
    df: "DataFrame",
    passthrough: tuple[str, ...] = (),
    scanned_extractor=None,
) -> "DataFrame":
    """pages(url, warc_ts, html, ...) -> extracted(url, warc_ts, page_type,
    extracted_text, spans, n_blocks, success, error[, *passthrough]).

    ``scanned_extractor`` is the OCR seam (spec.api.extract_document): a
    picklable ``bytes -> [[(kind, text)]]`` callable shipped to executors;
    ``None`` keeps the deterministic error-row bytes for scanned pages.

    Column-prunes its own input (only url/warc_ts/html plus requested
    passthrough columns cross the Arrow boundary, so the parquet scan never
    materializes unused columns).  ``passthrough`` carries narrow metadata
    (e.g. partition_id, bytes_in) through the UDF — joining it back
    afterwards would shuffle the full extracted text, which at corpus scale
    is the dominant byte volume.
    """
    schema = StructType(
        EXTRACTED_SCHEMA.fields
        + [df.schema[c] for c in passthrough]
    )
    cols = ["url", "warc_ts", "html", *passthrough]
    return df.select(*cols).mapInArrow(
        _make_batch_fn(tuple(passthrough), scanned_extractor), schema
    )
