"""The benchmark's workloads: inputs, items and expected outputs.

A workload generates its inputs from the seed, registers them in a
fresh session (the first completed job ends set-up), and runs a fixed
list of items per pass. Every item builds a DataFrame through the
engine's public surface and the benchmark collects it (the action).
Items taken from ``__spark_entry__.queries()`` are checked against their
``oracle_sql()`` on DuckDB over the same files; the semantic pipeline is
checked against the answer its backend's rules imply.
"""

from __future__ import annotations

import os
from collections import defaultdict
from dataclasses import dataclass
from typing import Callable

import numpy as np

from perfbench import gen
from perfbench.backend import KEEP_WORD, doc_tags, entity_of, sentiment_of, tag_entity


@dataclass
class Item:
    name: str
    build: Callable  # (spark, ctx) -> DataFrame
    expect: tuple | None = None  # (sorted column names, row count, table hash)


@dataclass
class Workload:
    make_inputs: Callable  # (rng) -> {table name: pyarrow table}
    items: list[Item]
    first_job: Callable  # (spark, data_dir) -> None; registers inputs, runs one job
    uses_backend: bool = False


def _entry_items(names: list[str]) -> list[Item]:
    import __spark_entry__ as entry

    queries = entry.queries()
    return [Item(n, lambda spark, ctx, fn=queries[n]: fn(spark, ctx.data_dir)) for n in names]


def oracle_expectations(items: list[Item], data_dir: str, tables: list[str]) -> None:
    """Fill ``item.expect`` from ``__spark_entry__.oracle_sql()`` run on
    DuckDB over the generated files."""
    import duckdb

    import __spark_entry__ as entry
    from scripts.check_oracle import table_hash

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for item in items:
        res = con.execute(oracles[item.name])
        cols = [c[0] for c in res.description]
        rows = res.fetchall()
        item.expect = (sorted(cols), len(rows), table_hash(rows, cols))
    con.close()


# ---------------------------------------------------------------- relational

# events_stream_dedup is the one availableNow drain (state store, micro-
# batch commits); it rides here so the streaming layer is measured
# without a workload of its own.
RELATIONAL_ITEMS = ["q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
                    "q18_large_orders", "code_map_enrich", "code_reduce_nation",
                    "events_stream_dedup"]
RELATIONAL_SF = 0.005
RELATIONAL_EVENTS = 4000


def _relational_inputs(rng):
    return {**gen.relational(rng, RELATIONAL_SF),
            "events": gen.events(rng, RELATIONAL_EVENTS, users=60)}


def _relational_first_job(spark, data_dir):
    from docetl_spark import load_tables

    names = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
    load_tables(spark, data_dir, names)["lineitem"].count()


def relational() -> Workload:
    return Workload(_relational_inputs, _entry_items(RELATIONAL_ITEMS), _relational_first_job)


# ---------------------------------------------------------------- semantic

SEM_DOCS = 40
SEM_COLS = ["tags", "n_docs", "sentiments", "term", "category"]
_HERE = os.path.dirname(os.path.abspath(__file__))


def semantic_expected(docs: list[dict], glossary: list[dict]) -> list[tuple]:
    """The pipeline's answer under BenchBackend's rules: extract,
    keep, unnest, cluster tags by entity (the canonical tag is the
    smallest one, resolve's majority-vote tie break), count documents
    and collect sentiments per cluster, join glossary terms of the same
    entity."""
    clusters = defaultdict(list)
    for doc in docs:
        if KEEP_WORD not in doc["text"].split():
            continue
        sent = sentiment_of(doc)
        for tag in doc_tags(doc["doc_id"], doc["text"], gen.ALL_SURFACES):
            clusters[tag_entity(tag)].append((tag, sent))
    out = []
    for ent, members in clusters.items():
        canon = min(t for t, _ in members)
        sents = ",".join(sorted({s for _, s in members}))
        for g in glossary:
            if entity_of(g["term"]) == ent:
                out.append((canon, len(members), sents, g["term"], g["category"]))
    return out


def _semantic_inputs(rng):
    docs, glossary = gen.semantic_inputs(rng, SEM_DOCS)
    return {"docs": docs, "glossary": glossary}


def _run_pipeline(spark, ctx):
    from docetl_spark import run_yaml

    return run_yaml(spark, ctx.pipeline_yaml, backend=ctx.backend).df.select(*SEM_COLS)


def semantic_expectations(items: list[Item], tables: dict) -> None:
    from scripts.check_oracle import table_hash

    rows = semantic_expected(tables["docs"].to_pylist(), tables["glossary"].to_pylist())
    items[0].expect = (sorted(SEM_COLS), len(rows), table_hash(rows, SEM_COLS))


def _semantic_first_job(spark, data_dir):
    from docetl_spark import SemanticFrame

    SemanticFrame.read_parquet(spark, f"{data_dir}/docs.parquet").df.count()


def semantic() -> Workload:
    return Workload(_semantic_inputs, [Item("pipeline", _run_pipeline)], _semantic_first_job,
                    uses_backend=True)


WORKLOADS = {"relational": relational, "semantic": semantic}


def prepare(wl: Workload, seed: int, data_dir: str) -> dict:
    """Generate and write ``wl``'s inputs for ``seed`` and fill every
    item's expected output. Returns input rows and bytes."""
    tables = wl.make_inputs(np.random.default_rng(seed))
    info = gen.write(tables, data_dir)
    if wl.uses_backend:
        semantic_expectations(wl.items, tables)
        pipeline_yaml(data_dir)
    else:
        oracle_expectations(wl.items, data_dir, list(tables))
    return info


def pipeline_yaml(data_dir: str) -> str:
    """Write the semantic pipeline with the generated inputs' paths;
    returns its path."""
    with open(os.path.join(_HERE, "semantic.yaml")) as f:
        text = f.read()
    path = os.path.join(data_dir, "pipeline.yaml")
    with open(path, "w") as f:
        f.write(text.replace("DOCS_PATH", f"{data_dir}/docs.parquet")
                .replace("GLOSSARY_PATH", f"{data_dir}/glossary.parquet"))
    return path
