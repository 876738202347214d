"""Starting the program under test, and reading its memory high-water.

Run as a script, this is one set-up sample: it starts the program the
way ``run.py`` does, prints ``{"setup_s": ...}`` and stops it.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def start():
    """(spark, registry queries, set-up seconds): the time from the
    first import of the program until its SparkSession is up and its
    registry is loaded."""
    t0 = time.perf_counter()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from graphdb_cia_factbook_spark import registry
    from graphdb_cia_factbook_spark.session import get_spark
    spark = get_spark("perfbench")
    queries = registry.queries()
    return spark, queries, time.perf_counter() - t0


def stop(spark, timeout: float = 60.0) -> None:
    """Stop the SparkSession and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_kb(spark) -> dict[str, int]:
    """Peak RSS (VmHWM, KiB) of the driver JVM -- the py4j gateway
    process -- and of this Python process."""
    return {"jvm": _vm_hwm_kb(spark.sparkContext._gateway.proc.pid),
            "python": _vm_hwm_kb("self")}


if __name__ == "__main__":
    spark, _, seconds = start()
    stop(spark)
    print(json.dumps({"setup_s": seconds}))
