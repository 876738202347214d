"""Output check: each query's result digest against its DuckDB oracle.

The digest is ``tools.hash_parity.canon_hash`` (columns sorted by name,
rows sorted by their canonical text, sha256), the one the repository's
parity gate uses.  Oracle digests depend only on the inputs and the
oracle SQL, so they are computed once per (workload, seed) before the
SparkSession starts and cached as JSON next to the inputs.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from tools.hash_parity import TABLES, canon_hash


def _fingerprint(queries: list[str], oracles: dict[str, str],
                 gen_source: bytes) -> str:
    h = hashlib.sha256(gen_source)
    for name in queries:
        h.update(name.encode() + b"\0" + oracles[name].encode() + b"\0")
    return h.hexdigest()


def oracle_digests(queries: list[str], oracles: dict[str, str],
                   input_dir: str, cache_path: str,
                   gen_source: bytes) -> dict[str, str]:
    """{query: canonical digest of its DuckDB oracle on ``input_dir``},
    read from ``cache_path`` when it was made by the same generator and
    oracle SQL."""
    missing = [q for q in queries if q not in oracles]
    if missing:
        raise ValueError(f"no DuckDB oracle for {missing}")
    fp = _fingerprint(queries, oracles, gen_source)
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["digests"]
    con = duckdb.connect()
    try:
        con.execute("SET preserve_insertion_order=false")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(input_dir, t)}.parquet')")
        digests = {q: canon_hash(con.execute(oracles[q]).fetchdf())[0]
                   for q in queries}
    finally:
        con.close()
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    with open(cache_path + ".tmp", "w") as f:
        json.dump({"fingerprint": fp, "digests": digests}, f)
    os.replace(cache_path + ".tmp", cache_path)
    return digests


class Checker:
    """Counts query executions attempted and failed.  A failure is an
    execution that raised, or whose result digest differs from the
    oracle's."""

    def __init__(self, expected: dict[str, str]):
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.failures: list[dict] = []

    def attempt(self) -> None:
        self.attempted += 1

    def raised(self, query: str, exc: BaseException) -> None:
        self.failed += 1
        self.failures.append({"query": query,
                              "error": f"{type(exc).__name__}: {exc}"[:500]})

    def compare(self, query: str, pdf) -> bool:
        """Digest ``pdf`` (the collected result) against the oracle;
        a mismatch counts as a failure."""
        got = canon_hash(pdf)[0]
        if got == self.expected[query]:
            return True
        self.failed += 1
        self.failures.append({"query": query, "error": "digest mismatch",
                              "got": got, "want": self.expected[query]})
        return False
