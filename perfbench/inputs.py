"""Seeded benchmark inputs, cached per (shape, seed) under the checkout.

Pages corpora are the rows of ``corpus.generate_pages(spark, n, seed)``:
that function maps the pure row builder ``corpus.make_page(i, seed)`` over
``range(n)``, and so does ``write_pages`` here, without a Spark session,
so that generating an input never boots a JVM or warms Python workers
before set-up is timed.  (Rows read back equal ``generate_pages``' rows
in a UTC session; ``warc_ts`` is written as UTC.)

Near-dup inputs are documents drawn from a Zipf vocabulary with planted
clone clusters, edit clusters and sliding-window chains; their ground
truth (doc_id -> cluster_id, keeper) is returned beside the parquet path.
"""

from __future__ import annotations

import bisect
import datetime
import hashlib
import itertools
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

CACHE_DIR = os.path.join(".bench_cache", "perfbench")

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def cached(path: str, build) -> str:
    """Build ``path`` once: write beside it, then rename into place."""
    if not os.path.exists(path):
        tmp = path + ".tmp"
        build(tmp)
        os.replace(tmp, path)
    return path


def write_pages(n_rows: int, seed: int, n_files: int) -> str:
    """``generate_pages(n_rows, seed)`` as ``n_files`` parquet files."""
    from gonova_document_parser_spark.corpus import make_page

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        per = -(-n_rows // n_files)
        for f in range(n_files):
            rows = [make_page(i, seed) for i in range(f * per, min(n_rows, (f + 1) * per))]
            for r in rows:  # naive UTC wall clock, as the Spark session sees it
                r["warc_ts"] = r["warc_ts"].replace(tzinfo=datetime.timezone.utc)
            table = pa.Table.from_pylist(rows, schema=PAGES_SCHEMA)
            pq.write_table(table, os.path.join(tmp, f"part-{f:05d}.parquet"))

    return cached(os.path.join(CACHE_DIR, f"pages-n{n_rows}-f{n_files}-s{seed}"), build)


def iter_pages(path: str):
    """(url, html) of every row of a ``write_pages`` corpus, in file order."""
    for name in sorted(os.listdir(path)):
        t = pq.read_table(os.path.join(path, name), columns=["url", "html"])
        yield from zip(t.column("url").to_pylist(), t.column("html").to_pylist())


# ---------------------------------------------------------------- near-dup


def _word(rank: int) -> str:
    s = ""
    rank += 1
    while rank:
        rank, r = divmod(rank - 1, 26)
        s = chr(97 + r) + s
    return s


class _Zipf:
    def __init__(self, vocab: int, s: float, rng: random.Random):
        self.words = [_word(k) for k in range(vocab)]
        self.cum = list(itertools.accumulate((k + 1) ** -s for k in range(vocab)))
        self.rng = rng

    def draw(self, n: int) -> list[str]:
        top, cum, rnd = self.cum[-1], self.cum, self.rng.random
        return [self.words[bisect.bisect_left(cum, rnd() * top)] for _ in range(n)]


NEARDUP_SHAPE = {
    "background": 900,
    "doc_words": (60, 140),
    "vocab": 20000,
    "zipf_s": 1.35,
    "clone_clusters": 40,
    "edit_clusters": 40,
    # the longest chain sets the CC rounds, ~3 Spark jobs and their
    # code generation each: 12 doubled the warm-up on a loaded 4-CPU host
    "chains": (3, 4, 6),
    "chains_per_length": 4,
    "chain_window": 80,
    "chain_step": 16,
}


def write_neardup(seed: int) -> tuple[str, str]:
    """Documents (doc_id, text) plus planted truth; returns both paths.

    Truth rows are (doc_id, cluster_id, is_keeper) for every planted doc:
    cluster_id is the smallest id in the cluster, the keeper is that doc.
    Background docs belong to no cluster.  Ids are a seeded permutation,
    so a cluster's smallest id is not always its base document.
    """
    shape = NEARDUP_SHAPE
    key = hashlib.md5(json.dumps(shape, sort_keys=True).encode()).hexdigest()[:10]
    root = os.path.join(CACHE_DIR, f"neardup-{key}-s{seed}")

    def build(tmp: str) -> None:
        rng = random.Random(seed)
        z = _Zipf(shape["vocab"], shape["zipf_s"], rng)
        lo, hi = shape["doc_words"]
        clusters: list[list[str]] = []
        for _ in range(shape["clone_clusters"]):
            base = " ".join(z.draw(rng.randint(lo, hi)))
            clusters.append([base] * rng.randint(2, 5))
        for _ in range(shape["edit_clusters"]):
            words = z.draw(rng.randint(lo, hi))
            members = [" ".join(words)]
            for _ in range(rng.randint(1, 4)):
                w = list(words)
                for _ in range(rng.randint(1, 3)):
                    w[rng.randrange(len(w))] = z.draw(1)[0]
                members.append(" ".join(w))
            clusters.append(members)
        win, step = shape["chain_window"], shape["chain_step"]
        for length in shape["chains"]:
            for _ in range(shape["chains_per_length"]):
                seq = z.draw(win + step * (length - 1))
                clusters.append(
                    [" ".join(seq[j * step : j * step + win]) for j in range(length)]
                )
        texts = [t for c in clusters for t in c]
        texts += [" ".join(z.draw(rng.randint(lo, hi))) for _ in range(shape["background"])]
        ids = list(range(len(texts)))
        rng.shuffle(ids)
        truth, k = [], 0
        for c in clusters:
            members = ids[k : k + len(c)]
            k += len(c)
            cid = min(members)
            truth += [(d, cid, d == cid) for d in members]
        os.makedirs(tmp, exist_ok=True)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
            os.path.join(tmp, "docs.parquet"),
        )
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(sorted(truth), f)

    cached(root, build)
    return os.path.join(root, "docs.parquet"), os.path.join(root, "truth.json")
