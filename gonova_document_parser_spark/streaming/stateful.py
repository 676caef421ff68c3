"""Custom stateful streaming operator: exactly-once streaming dedup.

A crawl stream re-fetches urls (retries, sitemap churn, duplicate uploads —
the reference hits this too: its job store keys results by document id,
``job_manager.py:62-99``).  Batch dedup (``functions/dedup.py``) can't help
mid-stream, so this is the genuinely stateful case: keep one fingerprint set
per key group and emit only first-seen documents.

Built on ``applyInPandasWithState`` (Arrow-batched, GroupState-backed):
state lives in the engine's state store, so exactly-once and recovery come
from the streaming checkpoint, not from us.  State can be bounded by a processing-time timeout — an idle group's
fingerprint set is dropped after ``state_ttl_ms`` (crawl recency windows
make this the standard trade).  The TTL is opt-in because a processing-time
timeout keeps an ``availableNow`` drain scheduling batches until the
timeout fires (measured), so batch-style drains and tests run untimed.

Scale notes: grouping key is the url host, so state shards across
executors by host hash; a hot host's set is one shard but only stores
16-byte md5 prefixes.  For unbounded corpora swap the exact set for a
Bloom filter INSIDE the same operator — the plumbing (group key, state
schema, timeout) is identical.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import drop_zip_finders

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

# output: the input pages columns that survive dedup
DEDUP_OUTPUT_DDL = "url string, warc_ts timestamp, fp string"
_STATE_DDL = "fps array<string>"


def _make_dedup_group(state_ttl_ms: int | None):
    def _dedup_group(
        key: tuple,
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        """Emit rows whose fingerprint was not seen before in this group."""
        import pandas as pd

        drop_zip_finders()
        if state.hasTimedOut:  # idle TTL fired: bound state, emit nothing
            state.remove()
            yield pd.DataFrame([], columns=["url", "warc_ts", "fp"])
            return
        seen: set = set(state.get[0]) if state.exists else set()
        out = []
        for pdf in batches:
            for url, ts, fp in zip(pdf["url"], pdf["warc_ts"], pdf["fp"]):
                if fp not in seen:
                    seen.add(fp)
                    out.append((url, ts, fp))
        state.update((list(seen),))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(out, columns=["url", "warc_ts", "fp"])

    return _dedup_group


def stream_dedup(
    pages: DataFrame,
    key_col: str = "host",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming exact-dedup: first occurrence of each content fingerprint
    per key group wins; later duplicates are dropped mid-stream.

    Works on a streaming frame; the fingerprint is md5 of normalized text
    (same key as the batch ``exact_dup_groups``), so batch and streaming
    dedup agree on what a duplicate is.  ``state_ttl_ms`` (continuous
    streams only) drops idle groups' state after that processing-time gap;
    leave ``None`` for availableNow/batch-style drains.
    """
    from ..functions.textstats import normalized_text_expr
    from ..plans.partitioning import host_of

    keyed = pages.select(
        "url",
        "warc_ts",
        F.md5(normalized_text_expr("text")).alias("fp"),
        host_of("url").alias(key_col),
    )
    timeout = (
        GroupStateTimeout.NoTimeout
        if state_ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return keyed.groupBy(key_col).applyInPandasWithState(
        _make_dedup_group(state_ttl_ms),
        outputStructType=DEDUP_OUTPUT_DDL,
        stateStructType=_STATE_DDL,
        outputMode="append",
        timeoutConf=timeout,
    )
