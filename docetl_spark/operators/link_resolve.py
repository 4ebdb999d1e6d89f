"""Link-resolve operator: repair dangling references in link arrays.

Reference semantics: /root/reference/docetl/operations/link_resolve.py:15-206
- the dataset has an id field (``id_key``) and a link-array field
  (``link_key``) whose values should refer to existing ids;
- link values NOT in the id set are candidates for repair: both sides
  are embedded, cosine-similar (>= ``blocking_threshold``) id values are
  proposed, an LLM ``comparison_prompt`` adjudicates ``is_same``, and
  matched links are rewritten to the canonical id (149-154);
- unmatched links are left as-is; cardinality is preserved.

Spark realization: the dangling-link set is tiny relative to the data
(explode + left-anti join against the id dim); the candidate product is
(dangling x ids) pruned by an LSH bucket equi-join, adjudication is an
Arrow-batched UDF, and the rewrite is a broadcast map join applied with
``transform()`` over the original arrays — the big table is never
shuffled.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..backend import ModelBackend
from ..functions.similarity import banded_candidate_pairs_two_sided
from ..session import widen_scan
from .resolve import embed_column
from .semantic import render_prompt


def link_resolve(
    df: DataFrame,
    backend: ModelBackend,
    *,
    id_key: str,
    link_key: str,
    comparison_prompt: str = "Is '{{ input.link }}' the same entity as '{{ input.id }}'?",
    blocking_threshold: float | None = None,
    n_planes: int = 8,
    lsh_seed: int = 42,
) -> DataFrame:
    """Rewrite values of the ``link_key`` array to canonical ``id_key``
    values wherever the backend adjudicates a match. Returns the input
    with the repaired array (same column name, same cardinality)."""
    ids = df.select(F.col(id_key).cast("string").alias("_id")).distinct()
    links = (
        df.select(F.explode(F.col(link_key)).alias("_link"))
        .select(F.col("_link").cast("string"))
        .distinct()
    )
    dangling = links.join(ids, links["_link"] == ids["_id"], "left_anti")

    if blocking_threshold is not None:
        # embed both small dims, prune the product by banded sign-LSH
        # OR-amplification + cosine verify (recall >= 0.95 at the
        # threshold by band planning, not single-bucket luck)
        d_emb = embed_column(dangling, ["_link"], backend, out_col="_e")
        i_emb = embed_column(ids, ["_id"], backend, out_col="_e")
        vec_dim = len(backend.embed(["probe"])[0])
        cand = banded_candidate_pairs_two_sided(
            d_emb, i_emb, ["_link"], ["_id"], "_e", "_e",
            threshold=float(blocking_threshold),
            rows_per_band=n_planes,
            seed=lsh_seed,
            dim=vec_dim,
        ).select(F.col("_lk__link").alias("_link"), F.col("_rk__id").alias("_id"))
    else:
        cand = dangling.crossJoin(ids)  # both sides are small dims

    out_schema = T.StructType(
        [
            T.StructField("_link", T.StringType(), True),
            T.StructField("_id", T.StringType(), True),
            T.StructField("_is_same", T.BooleanType(), True),
        ]
    )

    def run(batches):
        for pdf in batches:
            res = []
            for r in pdf.to_dict("records"):
                ctx = {"link": r["_link"], "id": r["_id"]}
                rendered = render_prompt(comparison_prompt, {"input": ctx})
                ans = backend.complete(rendered, {"is_same": "bool"}, (r["_link"], r["_id"]))
                res.append({**r, "_is_same": bool(ans.get("is_same"))})
            yield pd.DataFrame(res, columns=["_link", "_id", "_is_same"])

    # one deterministic replacement per dangling link: smallest matching id
    mapping = (
        widen_scan(cand).mapInPandas(run, schema=out_schema)
        .filter(F.col("_is_same"))
        .groupBy("_link")
        .agg(F.min("_id").alias("_canonical"))
    )
    rows = mapping.collect()  # dangling-repair map is small by construction
    repair = F.create_map(
        *[F.lit(x) for row in rows for x in (row["_link"], row["_canonical"])]
    ) if rows else F.create_map().cast("map<string,string>")

    link_type = df.schema[link_key].dataType
    repaired = F.transform(
        F.col(link_key),
        lambda v: F.coalesce(repair[v.cast("string")], v.cast("string")),
    ).cast(link_type if isinstance(link_type, T.ArrayType) else T.ArrayType(T.StringType()))
    return df.withColumn(link_key, repaired)
