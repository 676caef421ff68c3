"""Golden digest of the extraction spec.

``spec/`` is both the oracle and the body of the Spark UDF, so engine-vs-
oracle tests cannot see the spec itself drift.  This test pins
``extract_document`` output over a fixed corpus to a digest recorded before
the spec's internals were last rewritten: any change to the bytes it returns
(text, spans, block counts, success flags, error markers) fails here.
"""

import hashlib
import pathlib

from gonova_document_parser_spark.corpus import make_page
from gonova_document_parser_spark.sources.warc import iter_warc_records
from gonova_document_parser_spark.spec import extract_document

N_PAGES = 2000
FIXTURES = pathlib.Path(__file__).parent / "fixtures"

GOLDEN = "f801b2e16d0d40c10777bf1087cf53f23d0f99c6389322401b38d6434dc98322"


def golden_payloads() -> list[bytes]:
    """make_page(i, 42) payloads, every fixture file's raw bytes, and the
    bodies of the WARC fixture's records, in a fixed order."""
    payloads = [make_page(i, 42)["html"] for i in range(N_PAGES)]
    files = sorted(p for p in FIXTURES.iterdir() if p.is_file())
    payloads += [p.read_bytes() for p in files]
    warc = (FIXTURES / "cc_sample.warc.gz").read_bytes()
    payloads += [r["body"] or b"" for r in iter_warc_records(warc)]
    return payloads


def spec_digest(payloads: list[bytes]) -> str:
    h = hashlib.sha256()
    for data in payloads:
        r = extract_document(data)
        row = tuple(r[k] for k in ("page_type", "extracted_text", "spans", "n_blocks", "success", "error"))
        h.update(repr(row).encode("utf-8") + b"\x00")
    return h.hexdigest()


def test_extract_document_golden_digest():
    assert spec_digest(golden_payloads()) == GOLDEN
