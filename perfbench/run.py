"""The repository benchmark: one process, one client, a closed loop.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --workload all --seed N --seconds S

A pass builds each of the workload's registry queries with
``registry.queries()[name](spark, dir)``, materializes it to the noop
sink and calls ``session.clear_scratch``, then starts the next query;
the seed sets the inputs and the query order of every warm pass.

A run: set-up in a child process (seeded inputs, oracle digests), the
program's set-up timed three times, one cold pass whose results are
collected and checked against the oracle digests, then warm passes
(``schedule``).  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs untraced and traced warm passes and prints the
per-layer metrics of the traced ones plus the tracing overhead.  The
last stdout line is the JSON result; the full run record (environment,
pass timings, per-query counters, spans) goes to
``perfbench/_work/records/``.  ``--workload all`` runs each workload
untraced in turn and prints a table of its end-to-end figures.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

import program
import tracing
from workloads import SF, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, "_work")

#: driver heap: session.py's 48g default exceeds a 15 GB host
DRIVER_MEM = "2g"
SETUP_SAMPLES = 3
#: the gated end-to-end metrics; the run record also keeps cold_pass_s
#: and failed_frac (see README.md)
END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "query_geomean_s": "s",
                    "peak_rss_mb": "MiB"}


def pin_env() -> dict[str, str]:
    """Pin the program's environment; every run record carries it.
    Scratch space stays under ``WORK``: Spark's local dirs, Python's and
    the JVM's temp dirs, and no JVM perf-data file in /tmp."""
    tmp = os.path.join(WORK, "tmp")
    env = {"SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
           "SPARK_DRIVER_MEM": DRIVER_MEM,
           "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
           "TMPDIR": tmp,
           "PYSPARK_SUBMIT_ARGS": (
               "--conf 'spark.driver.defaultJavaOptions=-XX:-UsePerfData "
               f"-Djava.io.tmpdir={tmp}' pyspark-shell")}
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):  # emptied: JVMs leave files
        shutil.rmtree(env[key], ignore_errors=True)
        os.makedirs(env[key])
    os.environ.update(env)
    return env


def _child_json(args: list[str]) -> dict:
    """Run a perfbench script in a child process; its last stdout line
    is JSON.  A failing child fails the run."""
    out = subprocess.run([sys.executable, *args], cwd=HERE, check=True,
                         stdout=subprocess.PIPE, text=True, timeout=300)
    return json.loads(out.stdout.strip().splitlines()[-1])


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    return "bytes" if name.endswith("_bytes") else "count"


class Bench:
    """One run's state: the program, its inputs and the output check."""

    def __init__(self, spark, queries, input_dir, checker, seed):
        from graphdb_cia_factbook_spark import session
        self.spark = spark
        self.queries = queries
        self.input_dir = input_dir
        self.checker = checker
        self.seed = seed
        self.session = session
        self.tracer = None
        self.execs = 0

    def order(self, names: list[str], pass_no: int) -> list[str]:
        """The cold pass (0) keeps the workload's order, so which query
        pays the JVM's warm-up is fixed; warm passes shuffle by seed."""
        out = list(names)
        if pass_no:
            random.Random(f"{self.seed}/{pass_no}").shuffle(out)
        return out

    def execute(self, name: str, check: bool = False,
                group: str | None = None) -> float:
        """One query: build, noop-materialize, clear_scratch.  Returns
        its wall seconds; the result collection of a checked execution
        is not timed."""
        span = self.tracer.span if group else (lambda *a, **k: nullcontext())
        if group:
            self.spark.sparkContext.setJobGroup(group, name)
        self.checker.attempt()
        untimed = 0.0
        t0 = time.perf_counter()
        try:
            with span("query", query=name):
                with span("queries.build"):
                    df = self.queries[name](self.spark, self.input_dir)
                with span("queries.execute"):
                    df.write.format("noop").mode("overwrite").save()
                if check:
                    c0 = time.perf_counter()
                    self.checker.compare(name, df.toPandas())
                    untimed = time.perf_counter() - c0
                self.session.clear_scratch(self.spark)
        except Exception as exc:  # noqa: BLE001 -- counted, run goes on
            self.checker.raised(name, exc)
            self.session.clear_scratch(self.spark)
        return time.perf_counter() - t0 - untimed

    def run_pass(self, names: list[str], pass_no: int, check=False,
                 traced=False) -> dict:
        times, groups = {}, {}
        first_span = len(self.tracer.spans) if traced else 0
        for name in self.order(names, pass_no):
            group = None
            if traced:
                self.execs += 1
                group = groups[name] = f"perfbench-{self.execs}"
            times[name] = self.execute(name, check=check, group=group)
        rec = {"pass": pass_no, "traced": traced, "total_s": sum(times.values()),
               "queries": times}
        if traced:
            rec.update(self._counters(times, groups, first_span))
        return rec

    def _counters(self, times, groups, first_span) -> dict:
        sc = self.spark.sparkContext
        per_query, jobs_all = {}, []
        spark_m = {k: 0 for k in ("jobs", "stages", "tasks", "failed_tasks",
                                  "input_bytes", "shuffle_read_bytes",
                                  "shuffle_write_bytes", "spill_bytes")}
        spark_m["in_job_s"] = spark_m["driver_gap_s"] = 0.0
        for name, group in groups.items():
            jobs = tracing.job_counters(sc, group)
            jobs_all += jobs
            in_job = tracing.union_seconds(
                [(j["submitted_ms"], j["completed_ms"]) for j in jobs])
            per_query[name] = {"jobs": len(jobs),
                               "stages": sum(j["stages"] for j in jobs),
                               "tasks": sum(j["tasks"] for j in jobs),
                               "in_job_s": in_job}
            spark_m["jobs"] += len(jobs)
            for key in ("stages", "tasks", "failed_tasks", "input_bytes",
                        "shuffle_read_bytes", "shuffle_write_bytes",
                        "spill_bytes"):
                spark_m[key] += sum(j[key] for j in jobs)
            spark_m["in_job_s"] += in_job
            spark_m["driver_gap_s"] += times[name] - in_job
        layers = tracing.layer_metrics(self.tracer.spans[first_span:],
                                       jobs_all)
        layers.update({f"spark.{k}": v for k, v in spark_m.items()})
        return {"per_query": per_query, "layers": layers}


def schedule(workload: str, seconds: float, trace: bool) -> list[bool]:
    """The warm passes of a run, as traced flags.  The first is a warm-up
    pass no metric uses: the JIT is still compiling after the cold pass.
    Untraced runs then make as many passes as fit in ``seconds`` at the
    workload's nominal pass time, at least two; the count does not
    depend on how fast this run happens to go, so every run's median
    covers the same stretch of warm-up.  Traced runs make two
    untraced/traced pairs in U T T U order, so neither side always runs
    warmer."""
    if trace:
        return [False, False, True, True, False]
    n = max(3, round(seconds / WORKLOADS[workload]["nominal_pass_s"]))
    return [False] * n


def warm_passes(bench: Bench, names, flags: list[bool]) -> list:
    passes = []
    for traced in flags:
        if traced:
            bench.tracer.install()
        try:
            passes.append(bench.run_pass(names, len(passes) + 1,
                                         traced=traced))
        finally:
            if traced:
                bench.tracer.uninstall()
    return passes


def end_to_end(setup: list[float], measured: list, peak: float
               ) -> dict[str, float]:
    per_query = {q: statistics.median(p["queries"][q] for p in measured)
                 for q in measured[0]["queries"]}
    return {
        "setup_s": statistics.median(setup),
        "pass_s": statistics.median(p["total_s"] for p in measured),
        "query_geomean_s": math.exp(statistics.fmean(
            math.log(t) for t in per_query.values())),
        "peak_rss_mb": peak,
    }


def per_layer(measured: list) -> dict[str, float]:
    traced = [p for p in measured if p["traced"]]
    plain = [p for p in measured if not p["traced"]]
    out = {k: statistics.median(p["layers"][k] for p in traced)
           for k in traced[0]["layers"]}
    out["trace.overhead_s"] = (statistics.median(p["total_s"] for p in traced)
                               - statistics.median(p["total_s"] for p in plain))
    return out


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, since
    boot: its growth over a run shows a run slowed by the host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def record_path(workload: str, seed: int, trace: bool) -> str:
    return os.path.join(WORK, "records",
                        f"{workload}-seed{seed}-trace{int(trace)}.json")


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    env = pin_env()
    steal0 = _steal_s()
    names = WORKLOADS[workload]["queries"]
    prep = _child_json(["prepare.py", workload, str(seed)])
    setup = [] if trace else [
        _child_json(["program.py"])["setup_s"]
        for _ in range(SETUP_SAMPLES - 1)]
    spark, queries, own_setup = program.start()
    setup.append(own_setup)
    from bench import calibrate
    import check  # after bench: it puts a fixed path first on sys.path
    record = {"workload": workload, "seed": seed, "seconds": seconds,
              "trace": trace, "env": env, "sf": SF,
              "input_dir": prep["input_dir"], "table_rows": prep["rows"],
              "table_bytes": prep["bytes"],
              "versions": {"python": sys.version.split()[0],
                           "pyspark": spark.version,
                           "java": spark.sparkContext._jvm.System
                           .getProperty("java.version")},
              "setup_samples_s": setup,
              "calibration": {"before": calibrate()}}
    checker = check.Checker(prep["expected"])
    bench = Bench(spark, queries, prep["input_dir"], checker, seed)
    if trace:
        bench.tracer = tracing.Tracer(spark.sparkContext)
    try:
        cold = bench.run_pass(names, 0, check=True)
        warm = warm_passes(bench, names, schedule(workload, seconds, trace))
        record["peak_rss_kb"] = program.peak_rss_kb(spark)
    finally:
        record["calibration"]["after"] = calibrate()
        program.stop(spark)
    record["cpu_steal_s"] = _steal_s() - steal0
    if trace:
        metrics = per_layer(warm[1:])
        record["spans"] = bench.tracer.to_json()
        units = {k: _unit(k) for k in metrics}
    else:
        metrics = end_to_end(setup, warm[1:],
                             sum(record["peak_rss_kb"].values()) / 1024)
        units = END_TO_END_UNITS
    record.update(passes=[cold, *warm], failures=checker.failures,
                  attempted=checker.attempted, failed=checker.failed,
                  metrics=metrics, summary={
                      "cold_pass_s": cold["total_s"],
                      "failed_frac": checker.failed / checker.attempted,
                      **metrics})
    path = record_path(workload, seed, trace)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    print(f"{workload} seed={seed}: " + " ".join(
        f"{k}={v:.4f}" for k, v in record["summary"].items()
        if k in SUMMARY_UNITS) + f"; record {path}", file=sys.stderr)
    print(json.dumps({"correct": checker.failed == 0,
                      "attempted": checker.attempted,
                      "failed": checker.failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))
    return 0


#: the six end-to-end figures of a run, as the ``all`` table prints them
SUMMARY_UNITS = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
                 "query_geomean_s": "s", "failed_frac": "ratio",
                 "peak_rss_mb": "MiB"}


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced, each in its own process; one table."""
    rows = []
    for workload in WORKLOADS:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"], check=True, stdout=subprocess.DEVNULL)
        with open(record_path(workload, seed, False)) as f:
            rows.append((workload, json.load(f)))
    print(f"{'workload':<18} {'metric':<16} {'value':>12} unit")
    for workload, rec in rows:
        for name, unit in SUMMARY_UNITS.items():
            print(f"{workload:<18} {name:<16} "
                  f"{rec['summary'][name]:>12.4f} {unit}")
    return 0 if all(rec["failed"] == 0 for _, rec in rows) else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    return run(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
