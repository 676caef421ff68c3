#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Workloads (see BENCHMARK.json):

- ``extract``  scan -> operators.extract.extract_pages -> aggregate
- ``neardup``  functions.dedup.ngram_jaccard_pairs -> dedup_clusters over
               Zipf documents with planted clusters

The workload's Spark session runs at local[nproc] in a fresh child process
(``child.py``).  ``setup_s`` is that child's set-up (imports, JVM launch,
session start, Python worker boot and one warm-up pass) minus the fastest
timed pass, and ``docs_per_s`` that pass's throughput.  Inputs come from ``--seed`` and are cached under
``.bench_cache/perfbench``.  Outputs are checked against a reference made
outside the timed region; the last stdout line is the JSON result, and a
failed check exits 1.  Lines before it print the workload's metrics under
the names in ``interactions.json``.

``--trace 1`` adds traced passes with spans and Spark stage metrics per
layer (``traced.py``), reports the per-layer metrics instead of the
end-to-end ones and writes the spans to ``.bench_cache/perfbench/trace``.
It also runs the layers of the pipelines in ``TRACED_ALSO``: on
``extract`` checkpoint.run_with_checkpoint (a full run, then one crashed
after wave k and resumed with the same run_id) and the scaling pair's low
side, a fresh local[nproc/4] session; on ``neardup`` jobs/curate_job.curate
and each curate operator.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

DEADLINE_S = 170.0  # whole invocation, children included

SHAPES = {
    "extract": {"n_pages": 3200, "files": 8},
    "neardup": {},
}
# Pipelines that are not workloads of their own: a traced run of the
# workload also runs their layers, on a corpus of their own.
TRACED_ALSO = {
    "extract": ("checkpoint", {
        "n_pages": 400, "files": 16, "n_partitions": 16, "n_waves": 3, "crash_after_wave": 1,
    }),
    # max_per_host: the hot host holds ~half the pages, so the cap binds
    "neardup": ("curate", {"n_pages": 400, "files": 16, "max_per_host": 100, "budget": 2048}),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- processes


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def run_child(cfg: dict, deadline: float, tracer) -> dict:
    """Run ``child.py`` in its own process group and return its result.

    Waits until every process of the group (JVM, Python workers) has
    ended, killing the group if it outlives the deadline.
    """
    tmp = os.path.join(cfg["work_dir"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ, TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]),
    )
    env.setdefault("GONOVA_DRIVER_MEM", "2g")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "child.py"), json.dumps(cfg)],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, start_new_session=True,
    )
    with tracer.span("child", workload=cfg["workload"], master=cfg["master"]):
        try:
            out, err = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except BaseException:  # timeout, or this process told to stop
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            raise
        finally:
            t_end = time.monotonic() + 10
            while _group_alive(proc.pid):
                if time.monotonic() > t_end:
                    os.killpg(proc.pid, signal.SIGKILL)
                time.sleep(0.05)
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:])
        raise RuntimeError(f"{cfg['workload']} child ({cfg['master']}) exited {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])


# ------------------------------------------------------------------ inputs


def prepare(name: str, shape: dict, seed: int, tracer) -> dict:
    """Inputs and the reference each pass is checked against."""
    import inputs

    if name == "neardup":
        with tracer.span("inputs.neardup"):
            docs, truth_path = inputs.write_neardup(seed)
            with open(truth_path) as f:
                truth = [list(t) for t in json.load(f)]
        import pyarrow.parquet as pq

        rows = pq.read_metadata(docs).num_rows
        return {"docs": docs, "expect": {"rows": rows, "truth": truth}}
    with tracer.span("inputs.pages"):
        pages = inputs.write_pages(shape["n_pages"], seed, shape["files"])
    expect = {"rows": shape["n_pages"]}
    if name != "curate":
        expect["fp"] = reference_fingerprint(pages, tracer)
    return {**shape, "pages": pages, "expect": expect}


def reference_fingerprint(pages: str, tracer) -> str:
    """Fingerprint of spec.api.extract_document over the same pages, cached
    beside them per version of the library's source."""
    import glob
    import hashlib

    import inputs
    from child import row_digest

    import gonova_document_parser_spark as lib
    from gonova_document_parser_spark.spec.api import extract_document

    src = hashlib.md5()
    for p in sorted(glob.glob(os.path.join(os.path.dirname(lib.__file__), "**", "*.py"), recursive=True)):
        with open(p, "rb") as f:
            src.update(f.read())

    def build(tmp: str) -> None:
        total = 0
        for url, html in inputs.iter_pages(pages):
            r = extract_document(html if html is not None else b"")
            total += row_digest(url, r["extracted_text"], r["spans"])
        with open(tmp, "w") as f:
            f.write(str(total))

    with tracer.span("reference.extract_document"):
        with open(inputs.cached(f"{pages}.ref-{src.hexdigest()[:12]}", build)) as f:
            return f.read()


# ----------------------------------------------------------------- metrics


def best_rate(docs: list[int], walls: list[float]) -> float:
    """Docs/s of the fastest pass.  On a shared 4-CPU host other tenants
    slowed single passes by up to 30%, and the first passes after the
    warm-up still run slower (JIT); the fastest pass is the steadiest
    estimate of the program's own speed."""
    return max(d / w for d, w in zip(docs, walls) if w > 0)


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # stop the child's process group on the way out, not only on success
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    import bench_extra  # the steal probe is shared, not copied
    from tracing import Tracer, off

    os.chdir(ROOT)
    started = time.monotonic()
    deadline = started + DEADLINE_S
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = Tracer(run_id) if args.trace else off()
    work = os.path.join(".bench_cache", "perfbench", "work", run_id)
    with tracer.span("host.steal_probe"):
        quiet_ratio = bench_extra.steal_probe() / bench_extra._QUIET_PROBE_SEC
    cfg = prepare(args.workload, SHAPES[args.workload], args.seed, tracer)
    n = nproc()
    base = {
        **cfg, "workload": args.workload, "run_id": run_id, "trace": bool(args.trace),
        "work_dir": os.path.abspath(work), "seconds": args.seconds,
        "spans_path": os.path.abspath(os.path.join(".bench_cache", "perfbench", "trace", run_id + ".child.jsonl")),
    }
    if args.trace:  # one timed pass: a traced run's time goes to the layers
        base["seconds"] = 0.0
        name, shape = TRACED_ALSO[args.workload]
        base["also"] = {**prepare(name, shape, args.seed, tracer), "name": name}
    try:
        hi = run_child({**base, "master": f"local[{n}]"}, deadline, tracer)
        runs = [hi]
        if args.workload == "extract" and args.trace:
            # the scaling pair's low side: a fresh local[nproc/4] session
            lo = run_child(
                {**base, "master": f"local[{max(1, n // 4)}]", "trace": False}, deadline, tracer
            )
            runs.append(lo)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checks = [ok for r in runs for _, ok in r.get("layers", {}).get("_checks", [])]
    attempted = sum(r["attempted"] for r in runs) + len(checks)
    failed = sum(r["failed"] for r in runs) + checks.count(False)
    for r in runs:
        for f in r["failures"]:
            sys.stderr.write(f)
    docs_per_s = best_rate(hi["docs"], hi["walls"])
    rss = statistics.median(hi["peak_rss_mb"])
    setup_s = hi["setup_raw_s"] - min(hi["walls"])
    named = {"setup_s": (setup_s, "s"), "peak_rss_mb": (rss, "MB")}
    if args.workload == "extract":
        named["extract_docs_per_s"] = (docs_per_s, "1/s")
        if len(runs) > 1:
            low = best_rate(lo["docs"], lo["walls"])
            named["extract_docs_per_s_low"] = (low, "1/s")
            named["scaling_efficiency"] = (docs_per_s / low / (n / max(1, n // 4)), "ratio")
    else:
        named["neardup_docs_per_s"] = (docs_per_s, "1/s")
    named["ops_failed_ratio"] = (failed / attempted, "ratio")
    named["host_quiet_ratio"] = (quiet_ratio, "ratio")
    for k, (v, unit) in named.items():
        print(f"{args.workload} {k} = {v:.6g} {unit}")

    if args.trace:
        metrics = traced_metrics(hi, named, cfg, quiet_ratio, tracer)
    else:
        metrics = {
            "setup_s": {"value": named["setup_s"][0], "unit": "s"},
            "docs_per_s": {"value": docs_per_s, "unit": "1/s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
            "ops_ok_ratio": {"value": 1 - failed / attempted, "unit": "ratio"},
        }
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def traced_metrics(hi: dict, named: dict, cfg: dict, quiet_ratio: float, tracer) -> dict:
    import inputs
    import specprobe

    layers = dict(hi["layers"])
    layers.pop("_checks", None)
    units = per_layer_units()
    values = {name: 0.0 for name in units}
    if "pages" in cfg:
        sample = [html for i, (_, html) in enumerate(inputs.iter_pages(cfg["pages"])) if i % 8 == 0]
        with tracer.span("specprobe"):
            values.update(specprobe.probe(sample))
    for k, v in layers.items():
        if k in values:
            values[k] = float(v)
    if values["extract.task_us_per_doc"]:
        values["extract.boundary_us_per_doc"] = (
            values["extract.task_us_per_doc"] - values["spec.api.extract_document.us_per_doc"]
        )
    values["host.quiet_ratio"] = quiet_ratio
    values["setup.cold_s"] = named["setup_s"][0]
    for k in ("extract_docs_per_s_low", "scaling_efficiency"):
        if k in named and k in values:
            values[k] = named[k][0]
    spans = os.path.join(".bench_cache", "perfbench", "trace", tracer.run_id + ".jsonl")
    tracer.dump(spans)
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


if __name__ == "__main__":
    sys.exit(main())
