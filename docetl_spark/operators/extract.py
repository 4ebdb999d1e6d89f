"""Extract operator: span extraction from document text fields.

Reference semantics: /root/reference/docetl/operations/extract.py:17-584
- ``line_number`` strategy: the model sees a line-numbered rendering of
  the document and returns [start, end] line ranges (178-327);
- ``regex`` strategy: the model writes regex patterns, applied locally
  (329-430);
- output lands in ``{document_key}{suffix}`` (default ``_extracted``) as
  one string or list[string] (45-56); rows failing extraction are kept
  (or dropped with skip_on_error, 60-69).

Spark realization: one Arrow-batched UDF per strategy — the backend
call and the span application happen together row-locally; nothing
shuffles.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..backend import ModelBackend
from .semantic import render_prompt


def extract(
    df: DataFrame,
    backend: ModelBackend,
    *,
    prompt: str,
    document_keys: list[str],
    strategy: str = "line_number",
    suffix: str = "_extracted",
    extraction_key_suffix: str | None = None,
    format_extraction: bool = True,
    skip_on_error: bool = False,
) -> DataFrame:
    """Extract spans from each of ``document_keys``. With
    format_extraction=True the spans join into one newline-separated
    string, else a list[string] (extract.py:45-56).
    ``extraction_key_suffix`` is the reference's config name for the
    output-column suffix (extract.py:24,48) — an alias for ``suffix``."""
    if extraction_key_suffix is not None:
        suffix = extraction_key_suffix
    if strategy not in ("line_number", "regex"):
        raise ValueError(f"unknown extract strategy {strategy!r}")
    out_type = T.StringType() if format_extraction else T.ArrayType(T.StringType())
    new_fields = [T.StructField(f"{k}{suffix}", out_type, True) for k in document_keys]
    out_schema = T.StructType(list(df.schema.fields) + new_fields)
    names = out_schema.fieldNames()

    def extract_one(row: dict, key: str) -> list[str] | None:
        content = str(row.get(key) or "")
        if strategy == "line_number":
            lines = content.split("\n")
            numbered = "\n".join(f"{i + 1}: {line}" for i, line in enumerate(lines))
            rendered = render_prompt(prompt, {"input": {**row, "_numbered": numbered}})
            ans = backend.complete(
                rendered, {"ranges": "list[{start: int, end: int}]"}, {**row, "_numbered": numbered}
            )
            spans = []
            for rg in ans.get("ranges") or []:
                try:
                    start = max(1, int(rg["start"]))
                    end = min(len(lines), int(rg["end"]))
                except (KeyError, TypeError, ValueError):
                    continue
                if start <= end:
                    spans.append("\n".join(lines[start - 1 : end]))
            return spans
        rendered = render_prompt(prompt, {"input": row})
        ans = backend.complete(rendered, {"patterns": "list[str]"}, row)
        spans = []
        for pat in ans.get("patterns") or []:
            try:
                spans.extend(m if isinstance(m, str) else m[0] for m in re.findall(pat, content))
            except re.error:
                if skip_on_error:
                    return None
        return spans

    def run(batches):
        for pdf in batches:
            out_rows = []
            for row in pdf.to_dict("records"):
                ok = True
                new = dict(row)
                for k in document_keys:
                    spans = extract_one(row, k)
                    if spans is None:
                        ok = False
                        break
                    new[f"{k}{suffix}"] = "\n".join(spans) if format_extraction else spans
                if ok:
                    out_rows.append({c: new.get(c) for c in names})
            yield pd.DataFrame(out_rows, columns=names)

    from ..session import widen_scan

    return widen_scan(df).mapInPandas(run, schema=out_schema)
