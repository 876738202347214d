"""Self-tests of the benchmark's own machinery.

Usage: python3 perfbench/selftest.py [gen|check|jobs ...]   (default: all)

- gen:   the same seed gives identical table digests (in memory and
         after a parquet round trip), another seed does not, and no
         foreign key is orphaned.
- check: a query returning a wrong result, and one raising, each count
         as a failure; a right result does not.
- jobs:  g1_pagerank's job, stage and task counts, read by per-query job
         group, repeat exactly over enough runs to push the status store
         past its 1000-job retention limit (about two minutes).
"""

from __future__ import annotations

import math
import os
import shutil
import sys

import gen
import run
import tracing
from workloads import SF


def test_gen() -> None:
    a, b = gen.base_tables(3, SF), gen.base_tables(3, SF)
    if gen.table_digests(a) != gen.table_digests(b):
        raise AssertionError("same seed, different tables")
    other = gen.table_digests(gen.base_tables(4, SF))
    same = [t for t, d in gen.table_digests(a).items()
            if other[t] == d and t not in ("region", "nation")]
    if same:
        raise AssertionError(f"seed does not reach {same}")
    out = os.path.join(run.WORK, "selftest-gen")
    try:
        gen.write(a, out)
        if gen.table_digests(gen.read(out)) != gen.table_digests(a):
            raise AssertionError("parquet round trip changed the tables")
    finally:
        shutil.rmtree(out, ignore_errors=True)
    orphans = {k: v for k, v in gen.orphaned_keys(a).items() if v}
    if orphans:
        raise AssertionError(f"orphaned foreign keys: {orphans}")
    print("gen: ok")


def _session():
    run.pin_env()
    spark, queries, _ = run.program.start()
    return spark, queries


def test_check(spark) -> None:
    import check
    from tools.hash_parity import canon_hash
    import pandas as pd

    want = canon_hash(pd.DataFrame({"id": [0, 1, 2]}))[0]
    builders = {"right": lambda s, d: s.range(3),
                "wrong": lambda s, d: s.range(4),
                "raises": lambda s, d: s.table("no_such_table")}
    checker = check.Checker({name: want for name in builders})
    bench = run.Bench(spark, builders, "", checker, seed=0)
    got = []
    for name in builders:
        bench.execute(name, check=True)
        got.append(checker.failed)
    if got != [0, 1, 2] or checker.attempted != 3:
        raise AssertionError(f"failure counts {got}, "
                             f"attempted {checker.attempted}")
    print("check: ok")


def test_jobs(spark, queries) -> None:
    import check
    import prepare

    input_dir, _, _ = prepare.inputs(0)
    bench = run.Bench(spark, queries, input_dir, check.Checker({}), seed=0)
    sc = spark.sparkContext
    retained = int(sc.getConf().get("spark.ui.retainedJobs", "1000"))
    counts = []
    n_runs = None
    while n_runs is None or len(counts) < n_runs:
        group = f"selftest-{len(counts)}"
        sc.setJobGroup(group, "g1_pagerank")
        bench.execute("g1_pagerank")
        jobs = tracing.job_counters(sc, group)
        counts.append((len(jobs), sum(j["stages"] for j in jobs),
                       sum(j["tasks"] for j in jobs)))
        if n_runs is None:
            n_runs = math.ceil(retained / counts[0][0]) + 2
    last_job = max(tracing.job_counters(sc, f"selftest-{n_runs - 1}"),
                   key=lambda j: j["id"])["id"]
    if last_job < retained + counts[0][0]:
        raise AssertionError(f"only {last_job} jobs: retention not crossed")
    if len(set(counts)) != 1 or bench.checker.failed:
        raise AssertionError(f"(jobs, stages, tasks) per run: {counts}")
    print(f"jobs: ok, {counts[0]} (jobs, stages, tasks) on each of "
          f"{n_runs} runs, {last_job + 1} jobs in all")


def main() -> int:
    which = sys.argv[1:] or ["gen", "check", "jobs"]
    if "gen" in which:
        test_gen()
    if "check" in which or "jobs" in which:
        spark, queries = _session()
        try:
            if "check" in which:
                test_check(spark)
            if "jobs" in which:
                test_jobs(spark, queries)
        finally:
            run.program.stop(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
