"""Embedding column production (SURVEY §2.1 M9) — Arrow-batched pandas UDF.

The reference attaches SentenceTransformer vectors per node
(``embedding_processor.py:118-190``, batch 32, 1536-d).  No embedding model
ships in this container, so the encoder is STUBBED (clearly marked): a
deterministic hash-derived unit vector stands in for the model while the
Spark-side plumbing — batched Arrow transfer, ``array<float>`` schema,
normalization — is real.  Swap ``_fake_encode`` for a real
model-in-executor call (lazy module-level singleton, exactly like the
reference's lazy model property ``hybrid_processor.py:88-98``).
"""

import hashlib
import math

import pandas as pd  # real import: pandas_udf resolves the signature hints

from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, FloatType

from ..session import drop_zip_finders

EMBED_DIM = 64


def _fake_encode(text: str, dim: int = EMBED_DIM) -> "list[float]":
    """STUB encoder — deterministic, hash-derived, L2-normalized.

    NOT a semantic embedding; replace with a real model call in production.
    """
    out: list[float] = []
    i = 0
    while len(out) < dim:
        digest = hashlib.sha256(f"{i}\x00{text}".encode()).digest()
        out.extend(b / 255.0 - 0.5 for b in digest)
        i += 1
    out = out[:dim]
    norm = math.sqrt(sum(v * v for v in out)) or 1.0
    return [v / norm for v in out]


def oracle_encode(text: str) -> "list[float]":
    """STUB encoder, cross-engine-verifiable variant: 32-d vector whose
    component j is byte j of sha256(utf-8 text) / 255.

    NOT a semantic embedding either — but every component is an exact
    function DuckDB can reproduce (``('0x'||substr(sha256(text),2j-1,2))::INT
    / 255.0``), so the embedding map gets a hard oracle row instead of a
    rows-only check.  Replace with a real model call in production, same as
    ``_fake_encode``.
    """
    digest = hashlib.sha256(text.encode()).digest()
    return [b / 255.0 for b in digest]


def make_embed_udf(encoder=None):
    """Build the Arrow-batched embedding UDF around an injected encoder.

    ``encoder``: picklable ``str -> list[float]`` shipped to executors — a
    real model call in production (lazy module-level singleton, exactly like
    the reference's lazy model property ``hybrid_processor.py:88-98``);
    defaults to the ``_fake_encode`` stub.
    """
    enc = encoder or _fake_encode

    @pandas_udf(ArrayType(FloatType()))
    def _embed(texts: pd.Series) -> pd.Series:
        drop_zip_finders()
        return texts.map(lambda t: enc(t if isinstance(t, str) else ""))

    return _embed


# default UDF instance (stub encoder) — kept for backward compatibility
embed_text = make_embed_udf()


def embed_expr(col, encoder=None) -> Column:
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return (make_embed_udf(encoder) if encoder is not None else embed_text)(c)
