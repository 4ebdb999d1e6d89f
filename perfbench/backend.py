"""Deterministic model backend for the ``semantic`` workload.

``BenchBackend`` answers every prompt from fixed rules over the row
context (``FakeBackend`` rules plus the workload's own tag, match and
fold rules), sleeps a fixed time per call to stand in for model
latency, and declares ``max_concurrency`` the way ``LiteLLMBackend``
does, so the engine overlaps calls inside each task.

Every prompt of the workload's pipeline starts with a kind tag
(``extract:``, ``keep:``, ``same:``, ``summarize:``, ``fold:``,
``match:``). The backend counts calls and positive answers per kind in
Spark accumulators, which is how the benchmark reads
``resolve.compare_calls`` and ``equijoin.match_ratio`` without touching
the engine.

Executors unpickle this class by reference, so the module must be on
the Python workers' path; ``run.py`` puts the checkout root on
``PYTHONPATH`` before Spark starts.
"""

from __future__ import annotations

import re
import time
from typing import Any

from docetl_spark.backend import FakeBackend, normalize_text

KINDS = ("extract", "keep", "same", "summarize", "fold", "match")
KEEP_WORD = "data"
MAX_TAGS = 3
DELAY_S = 0.1  # modelled seconds per call
_PRIOR = re.compile(r"so far (\d+) docs; sentiments \[([^\]]*)\]")


def entity_of(surface: str) -> str:
    """Entity a tag surface names: ``Apache-Spark`` and ``apache_spark``
    both name ``apache spark``."""
    return normalize_text(surface)


def tag_entity(tag: str) -> str:
    """Entity of a ``<doc_id>|<surface>`` tag value."""
    return entity_of(tag.split("|", 1)[1])


def doc_tags(doc_id: int, text: str, surfaces: frozenset[str]) -> list[str]:
    """The extract rule: the first ``MAX_TAGS`` tag surfaces in ``text``,
    one per entity, each prefixed with the document id so every unnested
    row has its own resolve id."""
    seen, out = set(), []
    for tok in text.split():
        if tok in surfaces and entity_of(tok) not in seen:
            seen.add(entity_of(tok))
            out.append(f"{doc_id}|{tok}")
            if len(out) == MAX_TAGS:
                break
    return out


def sentiment_of(context: dict) -> str:
    """``FakeBackend``'s sentiment rule, as the engine applies it to a
    row dict."""
    return FakeBackend().complete("", {"sentiment": "string"}, context)["sentiment"]


class BenchBackend(FakeBackend):
    """Rule-based backend with a fixed per-call delay and per-kind call
    and match counters (accumulators created on the driver)."""

    max_concurrency = 8

    def __init__(self, sc, surfaces: frozenset[str]):
        super().__init__()
        self.surfaces = surfaces
        self.calls = {k: sc.accumulator(0) for k in KINDS}
        self.matches = {k: sc.accumulator(0) for k in KINDS}
        self.busy_s = sc.accumulator(0.0)

    def counts(self) -> dict:
        """Driver-side per-kind totals: ``{kind: (calls, matches)}``."""
        return {k: (self.calls[k].value, self.matches[k].value) for k in KINDS}

    def complete(self, prompt: str, output_schema: dict, context: Any) -> dict:
        t0 = time.perf_counter()
        time.sleep(DELAY_S)
        kind = prompt.split(":", 1)[0]
        if kind == "extract":
            out = {"sentiment": sentiment_of(context),
                   "tags": doc_tags(int(context["doc_id"]), context["text"], self.surfaces)}
        elif kind == "keep":
            out = {"keep": KEEP_WORD in context["text"].split()}
        elif kind == "same":
            a, b = context
            out = {"is_match": tag_entity(a["tags"]) == tag_entity(b["tags"])}
        elif kind == "match":
            left, right = context
            out = {"is_match": tag_entity(left["tags"]) == entity_of(right["term"])}
        elif kind in ("summarize", "fold"):
            n, sents = 0, set()
            m = _PRIOR.search(prompt) if kind == "fold" else None
            if m:
                n, sents = int(m.group(1)), set(filter(None, m.group(2).split(",")))
            sents |= {item["sentiment"] for item in context}
            out = {"n_docs": n + len(context), "sentiments": ",".join(sorted(sents))}
        else:
            raise ValueError(f"prompt without a known kind tag: {prompt[:40]!r}")
        self.calls[kind] += 1
        if out.get("is_match") or out.get("keep"):
            self.matches[kind] += 1
        self.busy_s += time.perf_counter() - t0
        return out
