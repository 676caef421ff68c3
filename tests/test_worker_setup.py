"""Per-task Python worker setup: ``session.drop_zip_finders``.

A PySpark worker calls ``importlib.invalidate_caches()`` before every task,
and under CPython 3.11 each ``zipimporter`` left in
``sys.path_importer_cache`` then re-reads its archive's central directory.
Every Python function the library hands to Spark drops those finders, so
the next task on a reused worker has none to re-read.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from importlib.machinery import FileFinder
from pathlib import Path

from gonova_document_parser_spark.session import drop_zip_finders

REPO = Path(__file__).resolve().parent.parent
LIB = REPO / "gonova_document_parser_spark"
UDF_CALLS = {"mapInArrow", "mapInPandas", "applyInPandasWithState"}


def _zip_finders() -> list[str]:
    return [
        p for p, f in list(sys.path_importer_cache.items())
        if isinstance(f, zipimport.zipimporter)
    ]


def test_drop_zip_finders_keeps_file_finders(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("gv_zipmod_a.py", "X = 1\n")
        z.writestr("gv_zipmod_b.py", "Y = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        import gv_zipmod_a

        assert gv_zipmod_a.X == 1
        assert str(archive) in _zip_finders()
        file_finders = {
            p for p, f in sys.path_importer_cache.items() if isinstance(f, FileFinder)
        }
        assert file_finders

        drop_zip_finders()

        assert _zip_finders() == []
        assert file_finders <= {
            p for p, f in sys.path_importer_cache.items() if isinstance(f, FileFinder)
        }
        import gv_zipmod_b  # the finder is rebuilt from zipimport's cache

        assert gv_zipmod_b.Y == 2
    finally:
        for m in ("gv_zipmod_a", "gv_zipmod_b"):
            sys.modules.pop(m, None)
        sys.path_importer_cache.pop(str(archive), None)


_REUSED_WORKER_PROBE = r"""
import json

from gonova_document_parser_spark.corpus import PAGES_DDL, make_page
from gonova_document_parser_spark.operators.extract import extract_pages
from gonova_document_parser_spark.session import get_spark

spark = get_spark(master="local[1]", shuffle_partitions=1)
spark.sparkContext.setLogLevel("ERROR")
rows = [tuple(make_page(i, 7)[c] for c in ("url", "warc_ts", "html", "text", "lang"))
        for i in range(200)]
pages = spark.createDataFrame(rows, PAGES_DDL)
assert len(extract_pages(pages).collect()) == 200


def probe(batches):
    import sys
    import zipimport

    n = sum(isinstance(f, zipimport.zipimporter)
            for f in list(sys.path_importer_cache.values()))
    import pyarrow as pa

    for _ in batches:
        pass
    yield pa.RecordBatch.from_pylist([{"zip_finders": n}])


got = spark.range(1, numPartitions=1).mapInArrow(probe, "zip_finders long").collect()
print(json.dumps({"zip_finders": got[0]["zip_finders"]}))
spark.stop()
"""


def test_reused_worker_starts_task_with_no_zip_finders(tmp_path):
    """local[1]: one Python worker runs ``extract_pages``, then a probe task
    on the same worker counts the zip finders it inherits (~15 without the
    drop, each re-read by the task's ``invalidate_caches``)."""
    script = tmp_path / "probe.py"
    script.write_text(_REUSED_WORKER_PROBE)
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
        ),
    }
    p = subprocess.run(
        [sys.executable, str(script)], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out == {"zip_finders": 0}


def _udf_bodies(tree: ast.Module) -> tuple[list[ast.FunctionDef], list[str]]:
    """Functions handed to Spark: ``@pandas_udf`` defs and the first argument
    of every mapInArrow/mapInPandas/applyInPandasWithState call, resolved
    to the nested def in the calling function or returned by a factory."""
    parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
    top = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}

    def enclosing(node):
        while node in parent:
            node = parent[node]
            if isinstance(node, ast.FunctionDef):
                return node
        return tree

    def nested(scope, name):
        return [n for n in ast.walk(scope) if isinstance(n, ast.FunctionDef)
                and n.name == name and n is not scope]

    bodies, unresolved = [], []
    for n in ast.walk(tree):
        if isinstance(n, ast.FunctionDef) and any(
            "pandas_udf" in ast.unparse(d) for d in n.decorator_list
        ):
            bodies.append(n)
        if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                and n.func.attr in UDF_CALLS and n.args):
            continue
        arg = n.args[0]
        found = []
        if isinstance(arg, ast.Name):
            found = nested(enclosing(n), arg.id)
        elif isinstance(arg, ast.Call) and getattr(arg.func, "id", None) in top:
            factory = top[arg.func.id]
            returned = [r.value.id for r in ast.walk(factory)
                        if isinstance(r, ast.Return) and isinstance(r.value, ast.Name)]
            found = [d for name in returned for d in nested(factory, name)]
        if len(found) == 1:
            bodies.append(found[0])
        else:
            unresolved.append(f"line {n.lineno}: {ast.unparse(arg)}")
    return bodies, unresolved


def test_every_library_udf_drops_zip_finders():
    seen, missing, unresolved = [], [], []
    for path in sorted(LIB.rglob("*.py")):
        rel = path.relative_to(REPO)
        bodies, bad = _udf_bodies(ast.parse(path.read_text()))
        unresolved += [f"{rel} {b}" for b in bad]
        for fn in bodies:
            seen.append(f"{rel}:{fn.name}")
            if not any(isinstance(c, ast.Call) and getattr(c.func, "id", None)
                       == "drop_zip_finders" for c in ast.walk(fn)):
                missing.append(f"{rel}:{fn.lineno} {fn.name}")
    assert unresolved == []
    assert missing == []
    assert "gonova_document_parser_spark/operators/extract.py:_extract_batches" in seen
    assert len(seen) >= 17
