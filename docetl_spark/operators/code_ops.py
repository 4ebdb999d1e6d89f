"""Code operators: user-Python map / filter / reduce.

Reference semantics: /root/reference/docetl/operations/code_operations.py
- code_map   (190-246): ``transform(doc) -> dict`` merged over the row.
- code_filter(332-378): ``transform(doc) -> bool`` keeps rows; ``limit``
  stops early.
- code_reduce(249-329): group by ``reduce_key`` (or ``_all``),
  ``transform(items) -> dict`` per group; ``pass_through`` copies the
  first row's unclaimed fields; ``_counts_prereduce_<name>`` records
  group size.

Spark realization: the Python callables run inside Arrow-batched
``mapInPandas`` / ``applyInPandas`` (never row-at-a-time UDFs). When the
transformation is expressible as Spark expressions, callers should use
``SemanticFrame.with_columns`` / ``.where`` instead — those stay inside
whole-stage codegen and keep predicate pushdown intact; the code ops
exist for arbitrary-Python parity.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..types import schema_of

_ALL = "_all"


def _merged_schema(df: DataFrame, output_schema: dict, drop: list[str] | None = None) -> T.StructType:
    """Input schema with declared outputs merged over it (declared types win),
    minus dropped keys — the analogue of the reference's transform_schema
    (base.py:117-137)."""
    declared = schema_of(output_schema)
    drop = set(drop or [])
    fields = [f for f in df.schema.fields if f.name not in declared.fieldNames() and f.name not in drop]
    return T.StructType(fields + list(declared.fields))


def code_map(
    df: DataFrame,
    fn: Callable[[dict], dict],
    output_schema: dict,
    *,
    drop_keys: list[str] | None = None,
) -> DataFrame:
    out_schema = _merged_schema(df, output_schema, drop_keys)
    out_names = out_schema.fieldNames()

    declared_names = list(schema_of(output_schema).fieldNames())
    passthrough = [n for n in out_names if n not in declared_names]

    def run(batches):
        for pdf in batches:
            # per-row python fn is the operator's contract; everything else
            # stays columnar: passthrough columns are reused as-is (Arrow-
            # backed), only declared outputs are materialized from the fn
            # results. (A full {**row, **res} rebuild re-boxes every value
            # of every column — measured ~2x slower at 600k rows.)
            results = [fn(row) for row in pdf.to_dict("records")]
            out = pdf[passthrough].copy() if passthrough else pd.DataFrame(index=pdf.index)
            for k in declared_names:
                out[k] = [r.get(k) for r in results]
            yield out[out_names]

    from ..session import widen_scan

    return widen_scan(df).mapInPandas(run, schema=out_schema)


def code_filter(
    df: DataFrame,
    predicate: Callable[[dict], bool] | str,
    *,
    limit: int | None = None,
) -> DataFrame:
    """String predicates compile to native Spark expressions (fast path,
    Catalyst-pushable); callables run vectorized via mapInPandas."""
    if isinstance(predicate, str):
        out = df.filter(F.expr(predicate))
        return out.limit(limit) if limit is not None else out

    schema = df.schema
    names = schema.fieldNames()

    def run(batches):
        for pdf in batches:
            mask = pdf.apply(lambda r: bool(predicate(r.to_dict())), axis=1) if len(pdf) else []
            yield pdf[mask] if len(pdf) else pdf

    from ..session import widen_scan

    out = widen_scan(df).mapInPandas(run, schema=schema).select(*names)
    return out.limit(limit) if limit is not None else out


def code_reduce(
    df: DataFrame,
    reduce_key: str | list[str],
    fn: Callable[[list[dict]], dict],
    output_schema: dict,
    *,
    name: str = "reduce",
    pass_through: bool = False,
    add_count: bool = True,
) -> DataFrame:
    """groupBy(keys).applyInPandas — map-side partial agg does not apply to
    arbitrary Python reducers, so each group shuffles to one task; for
    large skewed groups prefer a native ``agg`` via SemanticFrame."""
    keys = [reduce_key] if isinstance(reduce_key, str) else list(reduce_key)
    global_agg = keys == [_ALL]
    count_col = f"_counts_prereduce_{name}"

    declared = schema_of(output_schema)
    fields: list[T.StructField] = []
    if not global_agg:
        fields += [f for f in df.schema.fields if f.name in keys]
    if pass_through:
        claimed = set(declared.fieldNames()) | set(keys) | {count_col}
        fields += [f for f in df.schema.fields if f.name not in claimed and (global_agg or f.name not in keys)]
    fields += list(declared.fields)
    if add_count:
        fields.append(T.StructField(count_col, T.LongType(), True))
    out_schema = T.StructType(fields)
    out_names = out_schema.fieldNames()

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        items = pdf.to_dict("records")
        res = fn(items)
        row = {}
        if pass_through and items:
            row.update(items[0])
        if not global_agg:
            for k in keys:
                row[k] = items[0][k]
        row.update(res)
        if add_count:
            row[count_col] = len(items)
        return pd.DataFrame([{k: row.get(k) for k in out_names}], columns=out_names)

    grouped = df.groupBy(F.lit(1).alias("_g")) if global_agg else df.groupBy(*keys)
    return grouped.applyInPandas(agg, schema=out_schema)
