"""Deduplication toolkit: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup — the operations a 100 TB training-data
pipeline needs as first-class citizens.

Scale posture:
- exact dedup is a single hash-partitioned window (one shuffle on the
  fingerprint key);
- MinHash signatures are one vectorized numpy pass per Arrow batch
  (universal hashing over crc32 base hashes — see minhash_from_shingles
  for why the pure-expression formulation loses);
- LSH banding turns near-dup detection into an equi-join on
  (band_index, band_hash) — candidate pairs only, never O(n^2);
- clustering is iterative min-label propagation (connected components)
  with early exit, all joins on hash-partitioned keys.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from .text import fingerprint, shingles, tokens


# ------------------------------------------------------------------ exact
def exact_dedup(df: DataFrame, text_col: str, *, order_by: list, id_col: str | None = None) -> DataFrame:
    """Keep one row per normalized-text fingerprint (first by order_by)."""
    w = W.partitionBy(fingerprint(F.col(text_col))).orderBy(*order_by)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


# ---------------------------------------------------------------- minhash
_MERSENNE61 = (1 << 61) - 1


def minhash_from_shingles(sh_col, num_hashes: int = 128, seed: int = 42) -> F.Column:
    """Array of ``num_hashes`` min-hashes over a shingle-array column.

    Two-stage split keeps every per-shingle touch JVM-side:

    1. base hash: ONE ``transform(shingles, s -> crc32(encode(s)))``
       projection — Spark's ``crc32`` is bit-identical to
       ``zlib.crc32`` over UTF-8 bytes (verified), so signatures are
       unchanged vs the historical Python formulation. This is a single
       pass over the shingle array (the CollapseProject hazard that
       sank the pure-expression formulation was O(num_hashes)
       re-evaluation of the TOKENIZER subtree — one crc projection over
       an already-materialized array column doesn't re-tokenize).
    2. permutation family: a numpy Pandas UDF consumes the ready int64
       hash arrays and applies all ``num_hashes`` universal hashes
       ((a*h + b) mod 2^61-1) as one vectorized pass — zero per-shingle
       Python (no encode, no dict memo, no generator), just
       concatenate / broadcast-multiply / segment-min.

    A 128-column JVM ``array_min(transform(...))`` per seed was also
    measured and loses: 128 interpreted HOF passes over the array beat
    neither formulation.
    """
    crcs = F.transform(sh_col, lambda g: F.crc32(F.encode(g, "UTF-8")))
    return minhash_from_hashes(crcs, num_hashes=num_hashes, seed=seed)


def minhash_from_hashes(hash_col, num_hashes: int = 128, seed: int = 42) -> F.Column:
    """Min-hash signature over a ready ``array<long>`` base-hash column
    (see minhash_from_shingles for the standard entry point).

    PRECONDITION: base hashes must be 32-bit (0 <= h < 2^32, e.g.
    crc32). The permutation family draws a,b < 2^32 so a*h+b stays
    below 2^64 only for 32-bit h; a 64-bit hash (xxhash64, or a negative
    long reinterpreted as uint64) would wrap mod 2^64 BEFORE the
    Mersenne reduction, silently voiding the universal-hash collision
    guarantee and degrading LSH recall. Enforced per slab (one cheap
    ``max`` pass)."""
    rng = np.random.RandomState(seed)
    # a, b drawn below 2^32 so a*h (h is a 32-bit crc32) fits in uint64
    # WITHOUT wrapping before the Mersenne mod — wrapping mod 2^64 would
    # silently void the universal-hash family's collision-probability
    # guarantee (still deterministic, but no longer (a*x+b) mod p).
    a = rng.randint(1, 2**32, size=num_hashes).astype(np.uint64)
    b = rng.randint(0, 2**32, size=num_hashes).astype(np.uint64)
    empty = [int(_MERSENNE61)] * num_hashes

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(s: pd.Series) -> pd.Series:
        # Slab-vectorized: docs are grouped until a slab holds ~64k
        # shingle hashes, then ONE (num_hashes x slab) permutation
        # matrix + segment-min (reduceat) covers the whole group.
        # Bounds peak memory at ~64 MB/slab while amortizing the
        # per-document numpy dispatch (an UNsliced whole-batch matrix
        # was measured slower — 100M+ cells thrash the allocator).
        slab_cap = 1 << 16
        lists = s.tolist()
        out: list = [empty] * len(lists)
        i = 0
        while i < len(lists):
            j, total = i, 0
            idxs: list[int] = []
            lens: list[int] = []
            while j < len(lists):
                sh = lists[j]
                n = len(sh) if sh is not None else 0
                if n and total + n > slab_cap and idxs:
                    break
                if n:
                    idxs.append(j)
                    lens.append(n)
                    total += n
                j += 1
            if total:
                flat = (
                    np.concatenate([np.asarray(lists[k]) for k in idxs])
                    if len(idxs) > 1
                    else np.asarray(lists[idxs[0]])
                )
                if flat.size and (int(flat.max()) >= 1 << 32 or int(flat.min()) < 0):
                    raise ValueError(
                        "minhash_from_hashes: base hashes must be 32-bit "
                        "(0 <= h < 2^32, e.g. crc32) — got a value outside "
                        "that range; 64-bit hashes would wrap mod 2^64 and "
                        "void the universal-hash guarantee"
                    )
                flat = flat.astype(np.uint64, copy=False)
                # (a*h + b) mod 2^61-1 via Mersenne shift-add reduction —
                # a,b,h < 2^32 so a*h+b < 2^64 (no wrap) and the folded
                # value < M + 8, so ONE conditional subtract completes
                # the mod. In-place ops; measured 2.2x vs uint64 `%`
                # (numpy 64-bit division has no SIMD path).
                perms = np.multiply(a[:, None], flat[None, :])
                perms += b[:, None]
                hi = perms >> np.uint64(61)
                perms &= np.uint64(_MERSENNE61)
                perms += hi
                np.subtract(perms, np.uint64(_MERSENNE61), out=perms, where=perms >= np.uint64(_MERSENNE61))
                starts = np.zeros(len(idxs), dtype=np.int64)
                np.cumsum(np.array(lens[:-1], dtype=np.int64), out=starts[1:])
                mins = np.minimum.reduceat(perms, starts, axis=1).astype(np.int64).T
                for k, idx in enumerate(idxs):
                    out[idx] = mins[k].tolist()
            i = j
        return pd.Series(out)

    return sig(hash_col)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str = "_minhash",
    *,
    num_hashes: int = 128,
    bands: int = 32,
) -> DataFrame:
    """Band the signature, hash each band, self-join on (band, hash).
    Returns candidate pairs (id_a < id_b). rows_per_band = num_hashes /
    bands tunes the similarity threshold ~ (1/bands)^(1/rows_per_band)."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    # Band key must be a SCALAR: joining on an array<long> column cannot
    # hash-partition, so Spark silently degrades to a nested-loop join.
    # xxhash64 over the slice gives a 64-bit scalar equi-join key
    # (collisions are caught by the exact-jaccard verify step anyway).
    banded = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(F.slice(F.col(sig_col), b * r + 1, r)),
            )
        ).alias("_band", "_bh"),
    ).cache()  # tiny (n_rows x bands x 3 longs); reused by both join sides
    left = banded.alias("a")
    right = banded.alias("b")
    pairs = (
        left.join(right, (F.col("a._band") == F.col("b._band")) & (F.col("a._bh") == F.col("b._bh")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates()
    )
    pairs._docetl_cached_input = banded  # release: .unpersist() when done
    return pairs


def jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_size: int = 3,
    threshold: float = 0.8,
    shingle_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs (verification step after
    LSH recall). Joins shingle sets in; set math is JVM-side. Pass
    ``shingle_col`` to reuse an already-computed (cached) shingle column
    instead of re-shingling."""
    if shingle_col is not None:
        sh = df.select(F.col(id_col).alias("_jid"), F.col(shingle_col).alias("_sh"))
    else:
        sh = df.select(F.col(id_col).alias("_jid"), shingles(F.col(text_col), shingle_size).alias("_sh"))
    out = (
        pairs.join(sh.withColumnRenamed("_jid", "id_a").withColumnRenamed("_sh", "_sh_a"), "id_a")
        .join(sh.withColumnRenamed("_jid", "id_b").withColumnRenamed("_sh", "_sh_b"), "id_b")
        .withColumn("_inter", F.size(F.array_intersect("_sh_a", "_sh_b")))
        .withColumn("_union", F.size(F.array_union("_sh_a", "_sh_b")))
        .withColumn("jaccard", F.when(F.col("_union") > 0, F.col("_inter") / F.col("_union")).otherwise(F.lit(0.0)))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# ---------------------------------------------------------------- simhash
def simhash64(col) -> F.Column:
    """64-bit SimHash over whitespace tokens: each token hashes to 64
    bits; bit b of the fingerprint is the sign of sum_t (2*bit(t,b)-1).

    numpy Pandas UDF (same rationale as minhash_from_shingles: 64
    per-bit JVM aggregates re-inline the tokenizer 64x). Token hash =
    low 8 bytes of md5 (digest bytes [8:16], i.e. hex chars 17..32),
    deterministic across executors AND reproducible in ANSI SQL /
    DuckDB via substr(md5(t), 17, 16) — chosen so correctness oracles
    can hash-check the fingerprints end-to-end."""
    import hashlib

    @F.pandas_udf(T.LongType())
    def sim(s: pd.Series) -> pd.Series:
        # hash each DISTINCT token once per batch: corpus vocabulary is
        # far smaller than the token stream, and md5 (the price of the
        # SQL-checkable hash) dominates this kernel
        memo: dict[str, bytes] = {}

        def tok_hash(t: str) -> bytes:
            h = memo.get(t)
            if h is None:
                h = memo[t] = hashlib.md5(t.encode("utf-8")).digest()[8:16]
            return h

        out = []
        for text in s:
            toks = (text or "").lower().split()
            if not toks:
                out.append(0)
                continue
            h = np.frombuffer(
                b"".join(tok_hash(t) for t in toks), dtype=np.uint8
            ).reshape(len(toks), 8)
            bits = np.unpackbits(h, axis=1)  # (n_tok, 64)
            votes = (2 * bits.astype(np.int32) - 1).sum(axis=0)
            fp_bits = np.packbits((votes > 0).astype(np.uint8))
            out.append(int(np.frombuffer(fp_bits.tobytes(), dtype=">i8")[0]))
        return pd.Series(out, dtype="int64")

    return sim(col.cast("string"))


def hamming64(a, b) -> F.Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidate_pairs(df: DataFrame, id_col: str, sim_col: str = "_simhash", *, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: block on 4 x 16-bit chunks (pigeonhole:
    hamming <= 3 guarantees one identical chunk), verify full hamming."""
    chunks = [
        F.shiftright(F.col(sim_col), 16 * i).bitwiseAND(F.lit(0xFFFF)).alias(f"_c{i}") for i in range(4)
    ]
    # cache: the 4 chunk self-joins reference this subtree 8 times, and
    # without a cache each reference re-evaluates the (expensive) simhash
    # UDF upstream. Tiny table: (id, fingerprint, 4 shorts) per row.
    base = df.select(F.col(id_col).alias("_id"), F.col(sim_col).alias("_sh"), *chunks).cache()
    out = None
    for i in range(4):
        a, b = base.alias("a"), base.alias("b")
        p = a.join(
            b, (F.col(f"a._c{i}") == F.col(f"b._c{i}")) & (F.col("a._id") < F.col("b._id"))
        ).select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
            hamming64(F.col("a._sh"), F.col("b._sh")).alias("hamming"),
        )
        out = p if out is None else out.unionByName(p)
    out = out.filter(F.col("hamming") <= max_hamming).dropDuplicates(["id_a", "id_b"])
    out._docetl_cached_input = base  # release handle: .unpersist() when materialized
    return out


# ------------------------------------------------- connected components
def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None,
    id_col: str,
    *,
    max_iter: int = 20,
    local_edge_gate: int = 2_000_000,
) -> DataFrame:
    """Component id = min reachable vertex id. Returns (id_col, component).

    edges: (id_a, id_b); vertices: df with id_col, or ``None`` to label
    only the edge endpoints. Callers that coalesce component to the id
    for isolated vertices pass ``None`` (resolve, near-dup clustering):
    the local path then returns the driver-side label table itself, a
    LocalRelation that a join broadcasts without a Spark job, where
    ``vertices`` costs a join over the vertex frame. ``None`` also
    matters when the edge lineage is expensive (LSH + verify): the
    local path already holds every endpoint in the collected sample, so
    enumerating them from the DataFrame would re-run the whole
    candidate pipeline a second time.

    Two physical strategies:
    - edge sets under ``local_edge_gate`` (the overwhelmingly common
      case — duplicate/match edges are sparse relative to the corpus)
      collect to the driver for a union-find, then broadcast-join the
      tiny label table back onto ``vertices``. Even a 100 TB corpus at
      a 1% pair rate stays under a few hundred MB of edges; the gate is
      checked with limit(gate+1), never an unbounded collect. The
      limited edges come back through ``.rdd``, which runs the limit as
      one job over every partition (each keeps gate+1 rows, then one
      task keeps gate+1 overall). ``DataFrame.collect`` would run
      Spark's incremental take instead: the edge lineage on one
      partition, then on the rest, as separate jobs, so a model stage
      upstream (resolve's verdicts) would run in two waves.
    - larger edge sets run distributed min-label propagation,
      converging in O(diameter) join rounds (dedup clusters have tiny
      diameter).
    """
    sample = edges.select(
        F.col("id_a").alias("_src"), F.col("id_b").alias("_dst")
    ).limit(local_edge_gate + 1).rdd.collect()
    if len(sample) <= local_edge_gate:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in sample:
            a, b = row["_src"], row["_dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        labels = [(v, find(v)) for v in parent]
        spark = edges.sparkSession
        id_type = edges.schema["id_a"].dataType
        schema = T.StructType(
            [T.StructField(id_col, id_type), T.StructField("component", id_type)]
        )

        def _label_frame():
            # Arrow literal frame (JVM LocalRelation) — the pickled-RDD
            # list-of-tuples path pays a Python-worker round trip on
            # EVERY action that reads it (r11 ann_ivf_persisted finding).
            # Gated on flat atomic non-temporal id types (r12, ADVICE
            # r11: temporal values can Arrow-convert to different values
            # silently); otherwise the portable pickled path.
            from ..session import arrow_literal_ok

            if arrow_literal_ok(schema):
                try:
                    import pyarrow as pa
                    from pyspark.sql.pandas.types import to_arrow_schema

                    return spark.createDataFrame(
                        pa.Table.from_pylist(
                            [{id_col: v, "component": c} for v, c in labels],
                            schema=to_arrow_schema(schema)),
                        schema=schema)
                except Exception:
                    pass
            return spark.createDataFrame(labels, schema=schema)

        if vertices is None:
            return _label_frame()
        if not labels:
            return vertices.select(F.col(id_col), F.col(id_col).alias("component"))
        ltab = _label_frame()
        return (
            vertices.select(id_col)
            .join(F.broadcast(ltab), id_col, "left")
            .withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
        )
    if vertices is None:
        vertices = (
            edges.select(F.col("id_a").alias(id_col))
            .unionByName(edges.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
    labels = vertices.select(F.col(id_col).alias("_v"), F.col(id_col).alias("component"))
    sym = edges.select(F.col("id_a").alias("_src"), F.col("id_b").alias("_dst")).unionByName(
        edges.select(F.col("id_b").alias("_src"), F.col("id_a").alias("_dst"))
    )
    sym = sym.repartition("_src").cache()
    prev_cached = None
    for _ in range(max_iter):
        # candidate label per vertex = min over neighbors' labels
        neighbor_min = (
            sym.join(labels, sym["_dst"] == labels["_v"])
            .groupBy("_src")
            .agg(F.min("component").alias("_nc"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["_v"] == neighbor_min["_src"], "left")
            .select(
                F.col("_v"),
                F.least(F.col("component"), F.coalesce(F.col("_nc"), F.col("component"))).alias("component"),
            )
        )
        new_labels = new_labels.cache()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "_v")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        if prev_cached is not None:
            prev_cached.unpersist()  # superseded generation — executor memory hygiene
        prev_cached = new_labels
        labels = new_labels
        if changed == 0:
            break
    out = labels.select(F.col("_v").alias(id_col), "component")
    # snapshot before releasing the last cached generation so callers get
    # a plan that doesn't depend on the unpersisted cache
    return out


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_size: int = 3,
    jaccard_threshold: float = 0.8,
    keep_order: list | None = None,
    with_stats: bool = False,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dedup: keep one representative of
    every near-dup cluster and return the deduplicated DataFrame.

    ``keep_order``: ordering columns choosing the representative within
    a cluster (e.g. ``[F.col("quality").desc(), F.col("doc_id")]`` to
    keep the highest-quality duplicate, the usual training-corpus
    policy). Default: minimum ``id_col``.

    ``with_stats=True`` appends ``component`` (min id in the cluster —
    stable regardless of keep_order) and ``cluster_size``. Both are
    computed with windows over the same hash partitioning as the keep
    decision, so stats cost no extra shuffle.
    """
    from ..session import widen_scan

    shingled = widen_scan(df).withColumn("_sh", shingles(F.col(text_col), shingle_size)).cache()
    with_sig = shingled.withColumn("_minhash", minhash_from_shingles(F.col("_sh"), num_hashes))
    cand = lsh_candidate_pairs(with_sig, id_col, "_minhash", num_hashes=num_hashes, bands=bands)
    verified = jaccard_verify(
        cand, shingled, id_col, text_col, threshold=jaccard_threshold, shingle_col="_sh"
    )
    edges = verified.select("id_a", "id_b")
    # CC over edge endpoints only (vertices=None): duplicate pairs are
    # sparse, so labels cover O(|pairs|) rows instead of O(N) — isolated
    # docs become their own component via the coalesce below. On the
    # local union-find path this also means the expensive LSH+verify
    # lineage is evaluated exactly ONCE (the gate collect); the final
    # plan joins a driver-built label table, not a recomputed edge set.
    comp = connected_components(edges, None, id_col)
    labeled = (
        df.join(comp, id_col, "left")
        .withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
    )
    order = keep_order if keep_order is not None else [F.col(id_col)]
    w = W.partitionBy("component").orderBy(*order)
    kept = (
        labeled
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count("*").over(W.partitionBy("component")))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if not with_stats:
        kept = kept.drop("component", "cluster_size")
    kept._docetl_cached_input = shingled  # release handle: .unpersist() when materialized
    return kept


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_distance: int = 1,
    prefix_len: int = 4,
    block: str = "prefix",
) -> DataFrame:
    """Affix-blocked Levenshtein matcher: all pairs whose normalized
    texts share the first (``block="prefix"``) or last
    (``block="suffix"``) ``prefix_len`` characters, differ in length by
    at most ``max_distance``, and sit within ``max_distance`` edits —
    the typo-clustering / variant-spelling screen over a vocabulary or
    name column.

    Contract: affix blocking is part of the SEMANTICS (a pair that
    diverges inside the blocked affix is not a candidate — standard
    prefix blocking, like the reference's containment blocking rules;
    suffix mode suits "adjective noun" vocabularies where variants share
    the head noun); the length-difference bound is implied by
    Levenshtein itself, so within a block recall is exact.

    Output: ``id_a`` < ``id_b`` + ``distance`` (long).

    Plan: normalized texts bucket by length DIV (d+1); each row joins
    its own and the two adjacent buckets (explode of 3 keys), so every
    |len_a - len_b| <= d pair meets in exactly one executor-local
    (prefix, bucket-pair) cell — candidates scale with block density,
    never n². levenshtein() runs JVM-side on candidates only.
    """
    if max_distance < 0:
        raise ValueError("max_distance must be >= 0")
    if prefix_len < 1:
        raise ValueError("prefix_len must be >= 1 (unblocked matching is O(n^2))")
    if block not in ("prefix", "suffix"):
        raise ValueError(f"block must be 'prefix' or 'suffix', got {block!r}")
    d = int(max_distance)
    width = d + 1
    norm = F.lower(F.trim(F.col(text_col).cast("string")))
    affix = (
        F.substring("_tx", 1, int(prefix_len)) if block == "prefix"
        else F.expr(f"right(_tx, {int(prefix_len)})")
    )
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_id"), norm.alias("_tx"))
        .withColumn("_pfx", affix)
        .withColumn("_bkt", F.expr(f"length(_tx) DIV {width}"))
    )
    # probe side visits its own + adjacent buckets; build side stays put,
    # so every candidate pair meets exactly once (no post-join dedupe)
    probe = base.withColumn(
        "_pb", F.explode(F.array(F.col("_bkt") - 1, F.col("_bkt"), F.col("_bkt") + 1))
    )
    a = probe.alias("a")
    b = base.alias("b")
    cand = a.join(
        b,
        (F.col("a._pfx") == F.col("b._pfx"))
        & (F.col("a._pb") == F.col("b._bkt"))
        & (F.col("a._id") < F.col("b._id")),
    )
    return (
        cand.filter(
            (F.abs(F.length(F.col("a._tx")) - F.length(F.col("b._tx"))) <= d)
            & (F.levenshtein(F.col("a._tx"), F.col("b._tx")) <= d)
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.levenshtein(F.col("a._tx"), F.col("b._tx")).cast("long").alias("distance"),
        )
    )


def dup_cluster_sizes(
    df: DataFrame,
    text_col: str,
    *,
    by: list[str] | None = None,
) -> DataFrame:
    """Exact-duplicate cluster-size distribution: group rows by the
    normalized-text fingerprint (the exact_dedup key) and report, for
    each cluster size s, how many clusters have that size and how many
    rows they hold — the dedup PLANNING report run before the dedup
    itself ("how much will exact dedup remove, and is the mass in a few
    giant clusters or a long tail of pairs?"). ``rows_removed`` per
    size is (s−1)·n_clusters — summing it over the table is the exact
    row count exact_dedup would drop.

    NULL texts share one fingerprint cluster (they are exact duplicates
    of each other under normalization). Output: ``by`` + ``size`` +
    ``n_clusters`` + ``n_rows`` + ``rows_removed``.

    Plan: two map-side-combinable aggregations — rows → (by,
    fingerprint) counts → (by, size) counts. The second shuffle moves
    one row per CLUSTER, the third one row per distinct size; nothing
    is ever collected, and no window touches the raw stream. Safe at
    any scale the fingerprint groupBy itself is safe at.
    """
    reserved = {"size", "n_clusters", "n_rows", "rows_removed", "_dc_f"}
    clash = sorted(reserved & set(by or []))
    if clash:
        raise ValueError(f"dup_cluster_sizes reserves column names {clash}")
    per_cluster = (
        df.select(*(by or []), fingerprint(F.col(text_col)).alias("_dc_f"))
        .groupBy(*(by or []), "_dc_f")
        .agg(F.count(F.lit(1)).alias("size"))
    )
    return (
        per_cluster.groupBy(*(by or []), "size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn("n_rows", F.col("size") * F.col("n_clusters"))
        .withColumn("rows_removed", (F.col("size") - 1) * F.col("n_clusters"))
    )
