#!/usr/bin/env python
"""Exact-output parity harness for optimization work (round 6).

Usage:
  python scripts/parity_check.py snapshot <name> [<name>...]   # save current outputs
  python scripts/parity_check.py compare  <name> [<name>...]   # compare vs saved

Collects every row of the named queries() entries at $SPARK_GRAFT_SF_DIR
(default sf0.1), canonicalizes (sorted row tuples, stringified values so
NaN/None compare stably) and stores a sha256 per query under
/tmp/gonova_parity/.  `compare` recomputes and asserts hash equality —
the optimization contract is that outputs are IDENTICAL, not just close.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
STORE = "/tmp/gonova_parity"


def _canon_hash(df) -> str:
    rows = df.collect()
    canon = sorted(tuple(repr(v) for v in r) for r in rows)
    h = hashlib.sha256()
    h.update(repr(df.columns).encode())
    for r in canon:
        h.update(repr(r).encode())
    return f"{len(rows)}:{h.hexdigest()[:24]}"


def main() -> None:
    mode, names = sys.argv[1], sys.argv[2:]
    from gonova_document_parser_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="parity", master=f"local[{cpus}]", shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as E

    qs = E.queries()
    os.makedirs(STORE, exist_ok=True)
    failures = []
    for name in names:
        df = qs[name](spark, SF_DIR)
        sig = _canon_hash(df)
        path = os.path.join(STORE, f"{name}.json")
        if mode == "snapshot":
            with open(path, "w") as fh:
                json.dump({"sig": sig, "sf": SF_DIR}, fh)
            print(f"{name}: snapshot {sig}")
        else:
            with open(path) as fh:
                want = json.load(fh)["sig"]
            ok = want == sig
            print(f"{name}: {'OK' if ok else 'MISMATCH'} want={want} got={sig}")
            if not ok:
                failures.append(name)
    spark.stop()
    if failures:
        sys.exit(f"PARITY FAILURES: {failures}")


if __name__ == "__main__":
    main()
