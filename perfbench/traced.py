"""Per-layer metrics of the traced run, in the workload's child process.

Every call into a layer runs under its own Spark job group inside a span;
``sparkmetrics.Collector`` then reads that group's stage and Python-worker
metrics.  After the workload's own layers come those of the pipeline in
``cfg["also"]`` (checkpoint or curate), on its own corpus in the same
session.  Layers a traced run does not run read 0.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

from pyspark.sql import functions as F

from sparkmetrics import Collector, percentile_max, stage_totals


class Run:
    """Runs actions under job groups and keeps each group's snapshot."""

    def __init__(self, spark, tracer):
        self.spark, self.tr = spark, tracer
        self.col = Collector(spark)
        self.n = 0

    def action(self, name: str, fn):
        """(wall seconds, result, snapshot) of ``fn()`` under a new job group."""
        self.n += 1
        group = f"{name}#{self.n}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        with self.tr.span(name, group=group):
            t0 = time.perf_counter()
            out = fn()
            wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        with self.tr.span("sparkmetrics.collect", group=group):
            snap = self.col.after(group)
        self.tr.count(f"{name}.spark_jobs", snap["jobs"])
        return wall, out, snap


def extraction_stages(snap: dict) -> list[dict]:
    """The stages that ran a MapInPandas node: the node's SQL metrics name
    the stage of their slowest task."""
    ids = set(snap["python"]["stage_ids"])
    return [s for s in snap["stages"] if s["stage_id"] in ids]


def extraction_stats(snap: dict, docs: int) -> dict:
    """extract.* from the extraction stages of one snapshot."""
    stages = extraction_stages(snap)
    tasks = sorted(t for s in stages for t in s["task_ms"])
    run_ms = sum(s["run_ms"] for s in stages)
    py = snap["python"]
    per = 1.0 / docs if docs else 0.0
    _, pmax = percentile_max(tasks)
    return {
        "extract.task_us_per_doc": run_ms * 1e3 * per,
        "extract.python_us_per_doc": py["python_total_s"] * 1e6 * per,
        "extract.python_bytes_sent_per_doc": py["python_bytes_sent"] * per,
        "extract.python_bytes_received_per_doc": py["python_bytes_received"] * per,
        "extract.python_boot_ms": py["python_boot_s"] * 1e3,
        "extract.gc_ms": float(sum(s["gc_ms"] for s in stages)),
        "extract.task_p50_ms": float(statistics.median(tasks)) if tasks else 0.0,
        "extract.task_pmax_ms": pmax,
    }


def _extract_layers(run: Run, wl, cfg) -> dict:
    from gonova_document_parser_spark.sources.pages import read_pages

    wall, (n, ok), snap = run.action("extract.pass", wl.run)
    out = extraction_stats(snap, n)
    out["_checks"] = [("extract.pass", ok)]
    out["_traced_pass_s"] = wall
    scans = [
        run.action(
            "sources.scan",
            lambda: read_pages(run.spark, cfg["pages"]).select("url", "html")
            .write.format("noop").mode("overwrite").save(),
        )[0]
        for _ in range(3)
    ]
    out["sources.scan_s"] = statistics.median(scans)
    return out


def _checkpoint_layers(run: Run, cfg) -> dict:
    from child import Checkpoint

    wl = Checkpoint(run.spark, cfg, run.tr)
    wall, (n, job_ok), snap = run.action("checkpoint.job", wl.run)
    job_ok = job_ok and wl.output_matches(wl.last["out"])
    tot = stage_totals(snap)
    extract_run_ms = sum(s["run_ms"] for s in extraction_stages(snap))
    marks = [wl.last["t0"]] + wl.last["waves"]
    waves = [b - a for a, b in zip(marks, marks[1:])]
    cr = wl.crash_and_resume()
    out = {"_checks": [("checkpoint.job", job_ok), ("checkpoint.crash_and_resume", cr["ok"])]}
    out.update({
        "checkpoint.job_docs_per_s": n / wall,
        "checkpoint.wave_s.p50": statistics.median(waves),
        "checkpoint.wave_s.max": max(waves),
        "checkpoint.spark_jobs_per_wave": snap["jobs"] / len(waves),
        "checkpoint.shuffle_write_bytes": float(tot["shuffle_write_bytes"]),
        "checkpoint.output_bytes": float(tot["output_bytes"]),
        "checkpoint.extract_share": extract_run_ms / tot["run_ms"] if tot["run_ms"] else 0.0,
        "checkpoint.resume_redo_ratio": cr["redo_ratio"],
        "checkpoint.noop_rerun_s": cr["noop_rerun_s"],
        "resume_s": cr["resume_s"],
    })
    return out


def _curate(run: Run, cfg) -> dict:
    from child import Workload

    wl = Workload(run.spark, cfg, run.tr)  # fresh output dirs
    pages_per_s, ok = _curate_job(run, wl, cfg)
    out = {"curate.pages_per_s": pages_per_s, "_checks": [("jobs.curate", ok)]}
    out.update(_curate_layers(run, wl, cfg))
    return out


def _curate_job(run: Run, wl, cfg) -> tuple[float, bool]:
    """(pages/s, ok) of jobs/curate_job.curate run twice: ok if both runs
    give the same output fingerprint and counts and the per-host cap binds
    on the hot host."""
    sys.path.insert(0, os.path.join(os.getcwd(), "jobs"))
    from curate_job import curate

    from gonova_document_parser_spark.corpus import HOT_HOST
    from gonova_document_parser_spark.sources.pages import read_pages

    from child import table_fingerprint

    spark, results, walls = run.spark, [], []
    for _ in range(2):
        out = wl.fresh_dir("curated")
        wall, summary, _ = run.action(
            "jobs.curate",
            lambda: curate(
                spark, read_pages(spark, cfg["pages"]), out,
                max_per_host=cfg["max_per_host"], budget=cfg["budget"],
            ),
        )
        written = spark.read.parquet(out)
        fp = table_fingerprint(written, ["doc_id", "url", "text", "quality", "split", "chunk_id"])
        hot = written.where(F.col("url").contains(f"//{HOT_HOST}/")).count()
        summary.pop("output_path")
        results.append((summary, fp, hot))
        walls.append(wall)
        shutil.rmtree(out, ignore_errors=True)
    ok = results[0] == results[1] and results[0][2] == cfg["max_per_host"]
    return cfg["expect"]["rows"] / statistics.median(walls), ok


def _curate_layers(run: Run, wl, cfg) -> dict:
    """Each stage of jobs/curate_job.curate, rebuilt from the same public
    operators, as its own action over the previous stage's parquet."""
    from gonova_document_parser_spark.functions.dedup import exact_dup_groups
    from gonova_document_parser_spark.functions.governance import (
        domain_blocked_expr,
        robots_noindex_expr,
    )
    from gonova_document_parser_spark.functions.lines import line_dedup
    from gonova_document_parser_spark.functions.sampling import (
        domain_cap,
        hash_split,
        pack_sequences,
    )
    from gonova_document_parser_spark.functions.textstats import (
        gopher_flags,
        lang_id_expr,
        quality_score_expr,
    )
    from gonova_document_parser_spark.operators.extract import extract_pages
    from gonova_document_parser_spark.plans.partitioning import host_of
    from gonova_document_parser_spark.sources.pages import read_pages

    spark = run.spark
    stage_dir = wl.fresh_dir("stages")

    def governance(pages):
        return pages.where(
            ~F.coalesce(domain_blocked_expr([]), F.lit(False))
            & ~F.coalesce(robots_noindex_expr(F.col("html").cast("string")), F.lit(False))
        )

    def extract(admitted):
        return extract_pages(admitted).where(F.col("success")).select(
            F.xxhash64("url").alias("doc_id"), "url", F.col("extracted_text").alias("text")
        )

    def lines(docs):
        return line_dedup(docs, max_docs=20).join(docs.select("doc_id", "url"), "doc_id")

    def quality(cleaned):
        gf = gopher_flags("clean_text")
        return cleaned.select(
            "doc_id", "url", F.col("clean_text").alias("text"),
            lang_id_expr("clean_text").alias("lang"),
            F.round(quality_score_expr("clean_text"), 6).alias("quality"),
            gf["keep"].alias("_gopher_keep"),
        ).where(F.col("_gopher_keep"))

    def exact(scored):
        groups = exact_dup_groups(scored)
        return scored.join(groups.select(F.col("keeper").alias("doc_id")), "doc_id", "left_semi")

    def cap(unique):
        return domain_cap(
            unique.withColumn("source", host_of("url")), cfg["max_per_host"],
            key_col="source", order_col="quality",
        )

    def pack(capped):
        split = hash_split(capped, {"train": 0.98, "val": 0.01, "test": 0.01})
        packed = pack_sequences(split.where(F.col("split") == "train"), cfg["budget"])
        return split.join(packed.select("doc_id", "chunk_id"), "doc_id", "left")

    ops = [
        ("functions.governance", governance),
        ("operators.extract", extract),  # extract.* come from the checkpoint job
        ("functions.lines.line_dedup", lines),
        ("functions.textstats.quality", quality),
        ("functions.dedup.exact_dup_groups", exact),
        ("functions.sampling.domain_cap", cap),
        ("functions.sampling.pack_sequences", pack),
    ]
    out: dict[str, float] = {}
    frame = read_pages(spark, cfg["pages"])
    for i, (name, op) in enumerate(ops):
        path = os.path.join(stage_dir, f"{i}")
        src = frame
        wall, _, snap = run.action(name, lambda: op(src).write.parquet(path))
        if name != "operators.extract":
            out.update(_op_metrics(name, wall, snap))
        frame = spark.read.parquet(path)
    n_write = max(spark.sparkContext.defaultParallelism, 2)
    final = frame
    wall, _, snap = run.action(
        "curate.write",
        lambda: final.repartition(n_write, F.col("split"), F.pmod(F.xxhash64("doc_id"), F.lit(n_write)))
        .write.partitionBy("split").parquet(os.path.join(stage_dir, "out")),
    )
    out.update(_op_metrics("curate.write", wall, snap))
    shutil.rmtree(stage_dir, ignore_errors=True)
    return out


def _op_metrics(name: str, wall: float, snap: dict) -> dict:
    tot = stage_totals(snap)
    return {
        f"{name}.s": wall,
        f"{name}.shuffle_write_bytes": float(tot["shuffle_write_bytes"]),
        f"{name}.spill_bytes": float(tot["spill_bytes"] + tot["spill_memory_bytes"]),
    }


def _neardup_layers(run: Run, wl, cfg) -> dict:
    from gonova_document_parser_spark.functions.dedup import (
        dedup_clusters,
        ngram_jaccard_pairs,
        shingles,
    )

    spark = run.spark
    docs = spark.read.parquet(cfg["docs"])
    cap = 1000  # ngram_jaccard_pairs' default max_docs_per_shingle
    d = F.col("count")
    _, vol, _ = run.action(
        "functions.dedup.pair_volume",
        lambda: shingles(docs).groupBy("shingle").count()
        .where((d >= 2) & (d <= cap))
        .agg(F.sum((d * (d - 1) / 2).cast("long")).alias("v")).collect()[0]["v"],
    )
    pairs_dir = wl.fresh_dir("pairs")
    wall_p, _, snap_p = run.action(
        "functions.dedup.ngram_jaccard_pairs",
        lambda: ngram_jaccard_pairs(docs).write.parquet(pairs_dir),
    )
    pairs = spark.read.parquet(pairs_dir)
    wall_c, _, snap_c = run.action(
        "functions.dedup.dedup_clusters",
        lambda: dedup_clusters(pairs).write.format("noop").mode("overwrite").save(),
    )
    out = {
        "_traced_pass_s": wall_p + wall_c,
        "functions.dedup.pair_volume": float(vol),
        "functions.dedup.pairs_out": float(pairs.count()),
        "functions.dedup.cc_spark_jobs": float(snap_c["jobs"]),
    }
    out.update(_op_metrics("functions.dedup.ngram_jaccard_pairs", wall_p, snap_p))
    out.update(_op_metrics("functions.dedup.dedup_clusters", wall_c, snap_c))
    shutil.rmtree(pairs_dir, ignore_errors=True)
    return out


LAYERS = {"extract": _extract_layers, "neardup": _neardup_layers}
ALSO = {"checkpoint": _checkpoint_layers, "curate": _curate}


def layers(spark, wl, cfg: dict, tracer, untraced_wall: float) -> dict:
    """The workload's layers, then those of the pipeline in ``cfg["also"]``.

    The workload's layer actions add up to one traced pass; their wall
    over ``untraced_wall`` is the tracing overhead."""
    run = Run(spark, tracer)
    wl.tr = tracer
    out = LAYERS[cfg["workload"]](run, wl, cfg)
    out["trace.overhead_ratio"] = out.pop("_traced_pass_s") / untraced_wall
    also = {**cfg["also"], "work_dir": cfg["work_dir"]}
    more = ALSO[also["name"]](run, also)
    out["_checks"] = out.get("_checks", []) + more.pop("_checks")
    out.update(more)
    return out
