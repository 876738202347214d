"""Benchmark set-up, run in its own process before the program starts:
generate the seeded inputs and the oracle digests for one workload.

Usage: python3 perfbench/prepare.py WORKLOAD SEED
Prints one JSON object: input directory, rows and bytes per table, and
the expected digest of every query of the workload.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import gen
from workloads import SF, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")


def inputs(seed: int) -> tuple[str, dict[str, int], bytes]:
    """(directory, rows per table, generator source) for ``seed``.
    Tables are regenerated when missing or made by other generator
    code; inputs of other seeds are removed to bound disk use."""
    with open(gen.__file__, "rb") as f:
        source = f.read()
    fingerprint = hashlib.sha256(source).hexdigest()
    root = os.path.join(WORK, "inputs")
    name = f"sf{SF}-seed{seed}"
    out = os.path.join(root, name)
    marker = os.path.join(out, "rows.json")
    if os.path.exists(marker):
        with open(marker) as f:
            meta = json.load(f)
        if meta["generator"] == fingerprint:
            return out, meta["rows"], source
    if os.path.isdir(root):
        for other in os.listdir(root):
            shutil.rmtree(os.path.join(root, other))
    rows = gen.generate(out, seed, SF)
    with open(marker, "w") as f:
        json.dump({"generator": fingerprint, "rows": rows}, f)
    return out, rows, source


def main() -> None:
    workload, seed = sys.argv[1], int(sys.argv[2])
    sys.path.insert(0, ROOT)
    # the program first: tools.hash_parity (imported by check) puts a
    # fixed checkout path at the front of sys.path
    from graphdb_cia_factbook_spark import registry
    import check

    input_dir, rows, source = inputs(seed)
    queries = WORKLOADS[workload]["queries"]
    cache = os.path.join(WORK, "oracle", f"{workload}-sf{SF}-seed{seed}.json")
    expected = check.oracle_digests(queries, registry.oracle_sql(),
                                    input_dir, cache, source)
    table_bytes = {t: os.path.getsize(os.path.join(input_dir, f"{t}.parquet"))
                   for t in gen.TABLES}
    print(json.dumps({"input_dir": input_dir, "rows": rows,
                      "bytes": table_bytes, "expected": expected}))


if __name__ == "__main__":
    main()
