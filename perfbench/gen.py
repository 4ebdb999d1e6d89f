"""Seeded input generator.

Every table is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs. Schemas and value domains follow the engine's
test fixtures (TESTDATA.md): a TPC-H-shaped star schema and an
``events`` table. The ``semantic`` workload gets its own documents and
a glossary (``semantic_inputs``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = "red small hot old large blue cold new".split()
NOUN = "plate widget ring rod bolt gizmo gear anvil".split()
LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])

# semantic workload: entities named by three surface forms each, two
# entities per three-letter prefix so resolve and equijoin blocking
# produce comparisons that do not match
ENTITIES = ("apache spark", "apache kafka", "delta lake", "delta sharing", "ray serve",
            "ray tune", "post gres", "postal code", "iceberg table", "iceland data",
            "hudi table", "hudson ci", "trino sql", "trident queue", "dask cluster",
            "dash board")
REPEAT = 0.1  # share of filtered-out documents that repeat an earlier text
SEM_WORDS = ("good bad great awful report metric pipeline latency cost model "
             "service table query").split()


def surfaces(entity: str) -> tuple[str, ...]:
    a, b = entity.split()
    return (f"{a.capitalize()}-{b.capitalize()}", f"{a}_{b}", f"{a.upper()}.{b.upper()}")


ALL_SURFACES = frozenset(s for e in ENTITIES for s in surfaces(e))


def _ts(days_from: str, offsets_s: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + (offsets_s * 1_000_000).astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def relational(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp = max(50, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(50, int(200_000 * sf)), max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    nk = np.arange(25, dtype=np.int32)
    tables = {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
                            "n_regionkey": (nk % 5).astype(np.int32)}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * 86400),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line) * 86400),
        }),
    }
    return tables


def _texts(rng, n: int, words, lo: int, hi: int) -> list[str]:
    lengths = rng.integers(lo, hi, n)
    pool = np.array(words)
    return [" ".join(pool[rng.integers(0, len(pool), k)]) for k in lengths]


def events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    offsets = np.sort(rng.uniform(0, 30 * 86400, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts("2024-01-01", offsets),
        "user_id": rng.integers(0, users, n, dtype=np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n),
        "value": _money(rng, 0.01, 490.02, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def semantic_inputs(rng: np.random.Generator, n_docs: int) -> tuple[pa.Table, pa.Table]:
    """Documents for the semantic pipeline plus its glossary.

    The seed moves words, tag surfaces and entity order but not the
    amount of work: even-numbered documents mention ``data`` (the filter
    keeps them) and carry 0, 1 or 2 tags in turn, dealt to entities
    round-robin, so every seed makes the same number of model calls.
    ``REPEAT`` of the odd-numbered (filtered-out, untagged) documents
    copy an earlier odd document's text under a new id."""
    texts = _texts(rng, n_docs, SEM_WORDS, 6, 20)
    order = rng.permutation(len(ENTITIES))
    dealt = 0
    for i in range(n_docs):
        toks = texts[i].split()
        if i % 2:
            if i > 1 and rng.random() < REPEAT:
                texts[i] = texts[2 * int(rng.integers(0, i // 2)) + 1]
            continue
        toks.insert(int(rng.integers(0, len(toks) + 1)), "data")
        for _ in range(i // 2 % 3):
            entity = ENTITIES[order[dealt % len(order)]]
            dealt += 1
            surface = surfaces(entity)[int(rng.integers(0, 3))]
            toks.insert(int(rng.integers(0, len(toks) + 1)), surface)
        texts[i] = " ".join(toks)
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 5}" for i in range(n_docs)],
    })
    glossary = pa.table({
        "term": list(ENTITIES) + ["apache beam", "delta table", "ray data"],
        "category": [f"cat{i % 4}" for i in range(len(ENTITIES) + 3)],
    })
    return docs, glossary


def write(tables: dict[str, pa.Table], out_dir: str) -> dict:
    """Write each table as ``<name>.parquet``; returns rows and bytes."""
    os.makedirs(out_dir, exist_ok=True)
    rows = nbytes = 0
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        rows += t.num_rows
        nbytes += os.path.getsize(path)
    return {"rows": rows, "bytes": nbytes}
