"""Parquet checkpoint store keyed by rolling config-chain hash.

Reference semantics: /root/reference/docetl/checkpoint.py:10-91 and
runner.py:241-282 — each (step, op) gets a sha256 accumulated over the
chain of effective op configs, so any upstream config change invalidates
every downstream checkpoint; hits short-circuit re-execution.

Spark realization: checkpoints are parquet directories (columnar,
splittable — unlike the reference's JSON blobs, they re-load as
partitioned DataFrames with pushdown intact), named by the rolling
hash. ``advance`` consumes the next op's config and returns the cached
frame on hit; ``store`` materializes after a miss.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import SparkSession

from .frame import SemanticFrame
from .sources.readers import read_parquet


def _stable(o) -> str:
    try:
        return json.dumps(o, sort_keys=True, default=repr)
    except TypeError:  # pragma: no cover
        return repr(o)


class Checkpointer:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._hash = hashlib.sha256(b"docetl-spark-v1")
        self._pending_path: str | None = None
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------------
    def begin_step(self, input_token) -> None:
        """Fold the step's input identity (dataset name + config, or an
        upstream step name) into the rolling hash, mirroring the
        reference's _compute_hashes (runner.py): re-running the same op
        chain over a DIFFERENT dataset path/data must miss the cache
        instead of silently returning stale results."""
        self._hash.update(_stable({"input": input_token}).encode())

    def advance(self, spec, sf: SemanticFrame) -> SemanticFrame | None:
        """Fold the op config into the rolling hash; return the cached
        frame if this prefix was materialized before, else None (and
        remember the path for ``store``)."""
        self._hash.update(_stable({"type": spec.type, **spec.config}).encode())
        path = os.path.join(self.root, self._hash.hexdigest()[:24])
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            self._pending_path = None
            return SemanticFrame.from_df(read_parquet(self.spark, path), backend=sf.backend)
        self._pending_path = path
        return None

    def store(self, sf: SemanticFrame) -> SemanticFrame:
        """Materialize the frame at the path computed by the last miss;
        returns a frame re-read from parquet so downstream ops reuse the
        materialization (and its stats) rather than recomputing."""
        if not self._pending_path:
            return sf
        sf.df.write.mode("overwrite").parquet(self._pending_path)
        out = SemanticFrame.from_df(read_parquet(self.spark, self._pending_path), backend=sf.backend)
        self._pending_path = None
        return out
