"""Spark side of one workload run, in a fresh process and JVM.

``run.py`` starts it as ``python3 perfbench/child.py '<json config>'`` with
the checkout on ``PYTHONPATH`` (the Python workers import the library from
there) and reads the JSON object it prints last.

Set-up is timed from the start of this module, before pyspark is imported,
to the end of one warm-up pass: imports, JVM launch, session start, Python
worker boot and the first pass.  Timed passes follow in the same session
until ``seconds`` have gone by, at least one.  A traced
run then hands the session to ``traced.py``, with its one timed pass as the
untraced side of the tracing-overhead pair.  A pass that raises or fails
its output check counts as failed; a warm-up that fails stops the run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up starts here, before pyspark loads

import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from procmem import PeakSampler  # noqa: E402
from tracing import Tracer, off  # noqa: E402

SEP = "\x1f"


def slots(master: str) -> int:
    return int(master[master.index("[") + 1 : -1])


def new_session(master: str, tmp: str):
    """A session with get_spark's own scan, memory and GC settings; only
    where it writes, its log level and the progress bar are set here.
    ``-XX:-UsePerfData`` keeps the JVM from writing hsperfdata to /tmp."""
    from gonova_document_parser_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=master,
        shuffle_partitions=2 * slots(master),
        configs={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ------------------------------------------------------------ fingerprints


def row_digest(url: str, text: str, spans) -> int:
    """Low 60 bits of md5(url, text, spans); ``fingerprint_col`` in Python."""
    s = SEP.join([url, text, ";".join(f"{a},{b},{k}" for a, b, k in spans)])
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def fingerprint_col(url="url", text="extracted_text", spans="spans"):
    """Order-independent sum of per-row digests (exact decimal sum)."""
    span_str = F.concat_ws(
        ";",
        F.transform(
            spans,
            lambda s: F.concat_ws(",", s["start"].cast("string"), s["end"].cast("string"), s["kind"]),
        ),
    )
    digest = F.conv(F.substring(F.md5(F.concat_ws(SEP, url, text, span_str)), 1, 15), 16, 10)
    return F.sum(digest.cast("decimal(38,0)")).cast("string")


def table_fingerprint(df, cols: list[str]) -> tuple[int, str]:
    """(rows, order-independent digest sum) of ``df`` over ``cols``."""
    digest = F.conv(
        F.substring(F.md5(F.to_json(F.struct(*[F.col(c) for c in cols]))), 1, 15), 16, 10
    )
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(digest.cast("decimal(38,0)")).cast("string").alias("fp")
    ).collect()[0]
    return int(r["n"]), r["fp"]


# ---------------------------------------------------------------- workloads


class Workload:
    """One pass of a workload: ``run`` returns (docs, output check passed)."""

    def __init__(self, spark, cfg: dict, tracer: Tracer):
        self.spark, self.cfg, self.tr = spark, cfg, tracer
        self.work = cfg["work_dir"]
        self.passes = 0

    def fresh_dir(self, tag: str) -> str:
        self.passes += 1
        path = os.path.join(self.work, f"{tag}-{self.passes}")
        shutil.rmtree(path, ignore_errors=True)
        return path


class Extract(Workload):
    def run(self):
        from gonova_document_parser_spark.operators.extract import extract_pages
        from gonova_document_parser_spark.sources.pages import read_pages

        with self.tr.span("sources.read_pages"):
            pages = read_pages(self.spark, self.cfg["pages"])
        with self.tr.span("operators.extract_pages"):
            df = extract_pages(pages)
        with self.tr.span("extract.aggregate.collect"):
            r = df.agg(F.count(F.lit(1)).alias("n"), fingerprint_col().alias("fp")).collect()[0]
        return r["n"], r["n"] == self.cfg["expect"]["rows"] and r["fp"] == self.cfg["expect"]["fp"]


class _Crash(Exception):
    pass


class Checkpoint(Workload):
    """checkpoint.run_with_checkpoint into fresh dirs (traced runs only)."""

    def _job(self, out: str, ckpt: str, run_id: str, on_progress=None) -> dict:
        from gonova_document_parser_spark.checkpoint import run_with_checkpoint
        from gonova_document_parser_spark.sources.pages import read_pages

        return run_with_checkpoint(
            self.spark, read_pages(self.spark, self.cfg["pages"]), out, ckpt,
            run_id=run_id, n_partitions=self.cfg["n_partitions"],
            n_waves=self.cfg["n_waves"], on_progress=on_progress,
        )

    def run(self):
        out, ckpt = self.fresh_dir("out"), self.fresh_dir("ckpt")
        waves: list[float] = []
        t0 = time.perf_counter()
        with self.tr.span("checkpoint.run_with_checkpoint"):
            res = self._job(out, ckpt, "full", lambda p: waves.append(time.perf_counter()))
        self.last = {"out": out, "t0": t0, "waves": waves}
        ok = res["n_docs"] == self.cfg["expect"]["rows"] and res["partitions_total"] == self.cfg["n_partitions"]
        return res["n_docs"], ok

    def output_matches(self, path: str) -> bool:
        """Rows and (url, text, spans) fingerprint of the output at ``path``
        equal the reference from spec.api.extract_document."""
        with self.tr.span("checkpoint.check"):
            r = self.spark.read.parquet(path).agg(
                F.count(F.lit(1)).alias("n"), fingerprint_col().alias("fp")
            ).collect()[0]
        return r["n"] == self.cfg["expect"]["rows"] and r["fp"] == self.cfg["expect"]["fp"]

    def crash_and_resume(self) -> dict:
        """Crash after wave k, resume with the same run_id (timed), compare
        with the last full run, then time a no-op re-run of the finished job."""
        out, ckpt = self.fresh_dir("out"), self.fresh_dir("ckpt")
        k = self.cfg["crash_after_wave"]
        seen: list[dict] = []

        def crash(p):
            seen.append(p)
            if p["wave"] == k:
                raise _Crash()

        with self.tr.span("checkpoint.crashed_run"):
            try:
                self._job(out, ckpt, "crashy", crash)
                raise RuntimeError("the crash callback never fired")
            except _Crash:
                pass
        t0 = time.perf_counter()
        with self.tr.span("checkpoint.resume"):
            res = self._job(out, ckpt, "crashy")
        resume_s = time.perf_counter() - t0
        uncommitted = self.cfg["n_partitions"] - seen[-1]["partitions_done"]
        redone = self.cfg["n_partitions"] - res["partitions_done_before"]
        t0 = time.perf_counter()
        with self.tr.span("checkpoint.noop_rerun"):
            again = self._job(out, ckpt, "crashy")
        noop_s = time.perf_counter() - t0
        if again["partitions_done_before"] != self.cfg["n_partitions"]:
            raise RuntimeError("a re-run of a finished job found partitions left to do")
        with self.tr.span("checkpoint.check"):
            cols = ["url", "extracted_text", "spans", "partition_id", "success"]
            want = table_fingerprint(self.spark.read.parquet(self.last["out"]), cols)
            got = table_fingerprint(self.spark.read.parquet(out), cols)
            ok = got == want and self.output_matches(out)
        return {
            "resume_s": resume_s, "noop_rerun_s": noop_s, "ok": ok,
            "redo_ratio": redone / uncommitted if uncommitted else 0.0,
        }


class NearDup(Workload):
    def run(self):
        from gonova_document_parser_spark.functions.dedup import dedup_clusters, ngram_jaccard_pairs

        docs = self.spark.read.parquet(self.cfg["docs"])
        with self.tr.span("functions.dedup.ngram_jaccard_pairs"):
            pairs = ngram_jaccard_pairs(docs)
        with self.tr.span("functions.dedup.dedup_clusters"):
            rows = dedup_clusters(pairs).select("doc_id", "cluster_id", "is_keeper").collect()
        got = sorted([r["doc_id"], r["cluster_id"], r["is_keeper"]] for r in rows)
        return self.cfg["expect"]["rows"], got == self.cfg["expect"]["truth"]


WORKLOADS = {"extract": Extract, "neardup": NearDup}


# -------------------------------------------------------------- timed loop


def timed_pass(wl: Workload, failures: list) -> tuple[float, int, bool]:
    """(wall, docs, ok) of one pass; a pass that raises is a failed one."""
    t0 = time.perf_counter()
    try:
        docs, ok = wl.run()
    except Exception:
        failures.append(traceback.format_exc(limit=4))
        return time.perf_counter() - t0, 0, False
    return time.perf_counter() - t0, docs, ok


def main(cfg: dict) -> dict:
    tmp = os.path.join(cfg["work_dir"], "tmp")
    tracer = Tracer(cfg["run_id"]) if cfg.get("trace") else off()
    walls, docs, peaks, failures = [], [], [], []
    attempted = failed = 0
    spark = new_session(cfg["master"], tmp)
    wl = WORKLOADS[cfg["workload"]](spark, cfg, off())
    t0 = time.perf_counter()
    warm, _, ok = timed_pass(wl, failures)
    setup_s = t0 + warm - T_START
    if not ok:
        raise RuntimeError("warm-up pass failed:\n" + "".join(failures))
    sampler = PeakSampler()
    t_end = time.perf_counter() + cfg["seconds"]
    while not walls or time.perf_counter() < t_end:
        sampler.take()
        wall, n, ok = timed_pass(wl, failures)
        peaks.append(sampler.take() / 2**20)
        attempted += 1
        failed += not ok
        walls.append(wall)
        docs.append(n)
    sampler.close()
    out = {
        "setup_raw_s": setup_s, "walls": walls, "docs": docs, "peak_rss_mb": peaks,
        "attempted": attempted, "failed": failed, "failures": failures[:3],
    }
    if cfg.get("trace"):
        import traced

        out["layers"] = traced.layers(spark, wl, cfg, tracer, walls[-1])
        tracer.dump(cfg["spans_path"])
    spark.stop()
    return out


if __name__ == "__main__":
    result = main(json.loads(sys.argv[1]))
    print(json.dumps(result))
