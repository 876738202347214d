"""Seeded input generator for the benchmark.

``generate(out_dir, seed, sf)`` writes the ten tables the registry
reads (``schemas.TESTDATA``) at scale factor ``sf``, with the shapes of
the fixed sf0.1 test tables: the same Arrow types, one row group per
file, independent uniform columns, 5% near-duplicate documents (a copy
of another document with `` dup`` appended) plus a few exact copies,
and 64-dimensional unit embeddings.

The same ``(seed, sf)`` gives byte-identical row content;
``table_digests`` hashes it for the self-test.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

#: rows per table at sf0.1 (the fixed test set's sizes)
ROWS_SF01 = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
             "orders": 150_000, "lineitem": 600_000, "events": 100_000,
             "documents": 5_000, "embeddings": 2_000}
USERS_SF01 = 1_500

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.41, 0.15, 0.15, 0.14]
DIM = 64

_TS_US = pa.timestamp("us")


def _day_range(rng, n, first: dt.date, last: dt.date) -> pa.Array:
    """``n`` midnight timestamps uniform over [first, last]."""
    base = np.datetime64(first, "D")
    span = (last - first).days + 1
    days = base + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), _TS_US)


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), lengths.sum())]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    # 5% near-duplicates (another document plus " dup"), 0.2% exact copies
    for i in rng.choice(n, n // 20, replace=False).tolist():
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 500), replace=False).tolist():
        texts[i] = texts[int(rng.integers(0, n))]
    text = pa.array(texts)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": text,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids.tolist()]),
        "n_chars": pc.utf8_length(text).cast(pa.int64()),
    })


def _embedding_column(vecs: np.ndarray) -> pa.Array:
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1],
                                 dtype=np.int32))
    return pa.ListArray.from_arrays(
        offsets, flat, type=pa.list_(pa.field("element", pa.float32())))


def _unit(vecs: np.ndarray) -> np.ndarray:
    return vecs / np.linalg.norm(vecs, axis=1, keepdims=True)


def base_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf`` (row counts scale from sf0.1)."""
    rng = np.random.default_rng([seed, int(sf * 1000)])
    n = {t: max(1, int(r * sf / 0.1)) for t, r in ROWS_SF01.items()}
    users = max(1, int(USERS_SF01 * sf / 0.1))
    nk = np.arange(25, dtype=np.int32)
    t: dict[str, pa.Table] = {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": nk,
                            "n_name": [f"NATION_{i}" for i in nk.tolist()],
                            "n_regionkey": nk % 5}),
    }
    ck = np.arange(n["customer"], dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck, "c_name": _names("Customer", ck),
        "c_nationkey": rng.integers(0, 25, ck.size, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, ck.size),
        "c_mktsegment": _pick(rng, SEGMENTS, ck.size)})
    sk = np.arange(n["supplier"], dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": _names("Supplier", sk),
        "s_nationkey": rng.integers(0, 25, sk.size, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, sk.size)})
    pk = np.arange(n["part"], dtype=np.int64)
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    t["part"] = pa.table({
        "p_partkey": pk, "p_name": _pick(rng, names, pk.size),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], pk.size),
        "p_type": _pick(rng, PART_TYPES, pk.size),
        "p_size": rng.integers(1, 51, pk.size, dtype=np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    ok = np.arange(n["orders"], dtype=np.int64)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, ck.size, ok.size, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], ok.size),
        "o_totalprice": _money(rng, 1000, 500000, ok.size),
        "o_orderdate": _day_range(rng, ok.size, dt.date(1995, 1, 1),
                                  dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, ok.size)})
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, ok.size, m, dtype=np.int64),
        "l_partkey": rng.integers(0, pk.size, m, dtype=np.int64),
        "l_suppkey": rng.integers(0, sk.size, m, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, m, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, m),
        "l_discount": rng.integers(0, 11, m) / 100,
        "l_tax": rng.integers(0, 9, m) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _day_range(rng, m, dt.date(1995, 1, 2),
                                 dt.date(2001, 11, 4))})
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, e))
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), _TS_US),
        "user_id": rng.integers(0, users, e, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, e).tolist()])})
    t["documents"] = _documents(rng, n["documents"])
    v = n["embeddings"]
    t["embeddings"] = pa.table({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": _embedding_column(_unit(rng.normal(size=(v, DIM)))),
        "label": rng.integers(0, 10, v, dtype=np.int32)})
    return t


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file per table, one row group each (like the test
    set), written to a temp name and renamed so a killed run leaves no
    half-written table behind."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path + ".tmp", row_group_size=max(1, len(tbl)))
        os.replace(path + ".tmp", path)


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the tables for ``(seed, sf)``; returns rows per table."""
    tables = base_tables(seed, sf)
    write(tables, out_dir)
    return {name: len(tbl) for name, tbl in tables.items()}


def read(in_dir: str) -> dict[str, pa.Table]:
    return {t: pq.read_table(os.path.join(in_dir, f"{t}.parquet"))
            for t in TABLES}


def table_digests(tables: dict[str, pa.Table]) -> dict[str, str]:
    """sha256 of each table's row content (IPC stream bytes)."""
    out = {}
    for name, tbl in tables.items():
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tbl.schema) as w:
            w.write_table(tbl.combine_chunks())
        out[name] = hashlib.sha256(sink.getvalue()).hexdigest()
    return out


def orphaned_keys(tables: dict[str, pa.Table]) -> dict[str, int]:
    """Foreign keys with no parent row, per ``child.col``."""
    refs = [("customer", "c_nationkey", "nation", "n_nationkey"),
            ("supplier", "s_nationkey", "nation", "n_nationkey"),
            ("nation", "n_regionkey", "region", "r_regionkey"),
            ("orders", "o_custkey", "customer", "c_custkey"),
            ("lineitem", "l_orderkey", "orders", "o_orderkey"),
            ("lineitem", "l_partkey", "part", "p_partkey"),
            ("lineitem", "l_suppkey", "supplier", "s_suppkey")]
    out = {}
    for child, col, parent, pcol in refs:
        found = pc.is_in(tables[child][col],
                         value_set=tables[parent][pcol].combine_chunks())
        out[f"{child}.{col}"] = int(pc.sum(pc.invert(found)).as_py() or 0)
    return out
