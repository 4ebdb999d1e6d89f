"""Cascade calibration with statistical guarantees (BARGAIN/SUPG-style).

Reference semantics: /root/reference/docetl/operations/utils/cascade.py
and cascade_runner.py:32-66 — a ``cascade:`` block with ``guarantee`` /
``target`` / ``delta`` / ``label_budget`` samples oracle labels for a
bounded calibration set, scores the same items with the cheap proxy, and
picks the proxy-confidence threshold that meets the target guarantee
with probability >= 1 - delta. The reference delegates the statistics to
the BARGAIN library (UC Berkeley EPIC); this is a clean-room
implementation of the published scheme (SUPG, Kang et al., VLDB 2020;
BARGAIN, 2024): finite-sample Hoeffding lower confidence bounds,
union-bounded over the candidate threshold grid.

Guarantee semantics (how the threshold is USED at execution time):

- ``recall``   (filter default): items with proxy P(positive) BELOW the
  threshold are rejected by the proxy alone; everything else escalates
  to the oracle. Lost positives are only the proxy-rejected ones, so
  output recall >= target w.p. 1-delta. Savings scale with how many
  obvious negatives the proxy can discard.
- ``precision`` (resolve/equijoin default): items with proxy
  P(positive) AT/ABOVE the threshold are accepted by the proxy alone;
  the rest escalate. False positives only come from proxy-accepted
  items, so output precision >= target w.p. 1-delta.
- ``accuracy``: items whose proxy confidence max(p, 1-p) clears the
  threshold take the proxy's label; the rest escalate. Accuracy over
  proxy-served items >= target w.p. 1-delta (escalated items are exact).

Every mode degrades safely: when no threshold meets the target bound,
the chosen threshold routes EVERYTHING to the oracle (recall -> -inf,
precision/accuracy -> +inf), so the guarantee holds vacuously and only
the cost saving is lost.

The statistics are pure python — unit-testable without Spark or a
model backend, mirroring the reference's "engine free of DocETL
imports" design. ``cascade_router`` puts them to work: it is the one
place an op's ``cascade`` block turns into a per-row routing decision,
and the only caller of ``classify_logprob``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

__all__ = ["CascadeSpec", "CalibrationResult", "hoeffding_lcb",
           "calibrate_binary", "calibrate_accuracy", "calibrate", "cascade_router"]

_GUARANTEES = ("accuracy", "precision", "recall")

# Default guarantee per operator (reference cascade_runner.py
# CASCADE_DEFAULT_GUARANTEE): filter protects recall, entity matching
# protects precision.
DEFAULT_GUARANTEE = {"filter": "recall", "resolve": "precision", "equijoin": "precision"}


@dataclass(frozen=True)
class CascadeSpec:
    guarantee: str = "recall"
    target: float = 0.9
    delta: float = 0.05
    label_budget: int = 400
    seed: int = 42

    def __post_init__(self):
        if self.guarantee not in _GUARANTEES:
            raise ValueError(f"cascade guarantee must be one of {_GUARANTEES}, got {self.guarantee!r}")
        if not (0.0 < self.target <= 1.0):
            raise ValueError(f"cascade target must be in (0, 1], got {self.target}")
        if not (0.0 < self.delta < 1.0):
            raise ValueError(f"cascade delta must be in (0, 1), got {self.delta}")


@dataclass
class CalibrationResult:
    threshold: float          # -inf / +inf when infeasible (oracle-everything)
    guarantee: str
    target: float
    delta: float
    n_labels: int             # oracle labels spent on calibration
    feasible: bool            # False -> threshold is the degenerate fallback
    stats: dict = field(default_factory=dict)


def hoeffding_lcb(p_hat: float, n: int, delta: float) -> float:
    """One-sided Hoeffding lower confidence bound: with probability
    >= 1 - delta the true proportion exceeds p_hat - sqrt(ln(1/d)/2n)."""
    if n <= 0:
        return 0.0
    return p_hat - math.sqrt(math.log(1.0 / delta) / (2.0 * n))


def calibrate_binary(
    scores: list[float],
    oracle_positive: list[bool],
    spec: CascadeSpec,
) -> CalibrationResult:
    """Pick the proxy-score threshold for a recall or precision
    guarantee from labeled calibration items.

    ``scores`` are the proxy's P(positive) per item; ``oracle_positive``
    the oracle's boolean label. Candidate thresholds are the unique
    observed scores (the only places the decision boundary can move);
    the per-candidate confidence is delta / #candidates (union bound).

    recall:    LARGEST t whose empirical recall over {score >= t} has
               LCB >= target — maximizes proxy rejections. Fallback -inf
               (reject nothing; recall trivially 1).
    precision: SMALLEST t whose empirical precision over {score >= t}
               has LCB >= target — maximizes proxy acceptances.
               Fallback +inf (accept nothing via proxy).
    """
    if len(scores) != len(oracle_positive):
        raise ValueError("scores and oracle_positive must align")
    n = len(scores)
    candidates = sorted(set(scores))
    m = max(len(candidates), 1)
    d = spec.delta / m
    pos = [s for s, y in zip(scores, oracle_positive) if y]
    n_pos = len(pos)

    if spec.guarantee == "recall":
        best, best_lcb = None, None
        for t in candidates:
            kept = sum(1 for s in pos if s >= t)
            r_hat = kept / n_pos if n_pos else 1.0
            lcb = hoeffding_lcb(r_hat, n_pos, d)
            if lcb >= spec.target and (best is None or t > best):
                best, best_lcb = t, lcb
        if best is None:
            return CalibrationResult(float("-inf"), "recall", spec.target, spec.delta,
                                     n, False, {"n_pos": n_pos, "candidates": m})
        return CalibrationResult(best, "recall", spec.target, spec.delta, n, True,
                                 {"n_pos": n_pos, "candidates": m, "lcb": best_lcb})

    if spec.guarantee == "precision":
        best, best_lcb = None, None
        for t in candidates:
            acc = [(s, y) for s, y in zip(scores, oracle_positive) if s >= t]
            if not acc:
                continue
            p_hat = sum(1 for _, y in acc if y) / len(acc)
            lcb = hoeffding_lcb(p_hat, len(acc), d)
            if lcb >= spec.target and (best is None or t < best):
                best, best_lcb = t, lcb
        if best is None:
            return CalibrationResult(float("inf"), "precision", spec.target, spec.delta,
                                     n, False, {"candidates": m})
        return CalibrationResult(best, "precision", spec.target, spec.delta, n, True,
                                 {"candidates": m, "lcb": best_lcb})

    raise ValueError("calibrate_binary handles recall/precision; use calibrate_accuracy")


def calibrate_accuracy(
    confidences: list[float],
    proxy_correct: list[bool],
    spec: CascadeSpec,
) -> CalibrationResult:
    """Accuracy guarantee: SMALLEST confidence threshold t such that the
    proxy's empirical accuracy over {confidence >= t} has LCB >= target
    — maximizes proxy-served items. Fallback +inf (escalate everything)."""
    if len(confidences) != len(proxy_correct):
        raise ValueError("confidences and proxy_correct must align")
    n = len(confidences)
    candidates = sorted(set(confidences))
    m = max(len(candidates), 1)
    d = spec.delta / m
    best, best_lcb = None, None
    for t in candidates:
        served = [(c, ok) for c, ok in zip(confidences, proxy_correct) if c >= t]
        if not served:
            continue
        a_hat = sum(1 for _, ok in served if ok) / len(served)
        lcb = hoeffding_lcb(a_hat, len(served), d)
        if lcb >= spec.target and (best is None or t < best):
            best, best_lcb = t, lcb
    if best is None:
        return CalibrationResult(float("inf"), "accuracy", spec.target, spec.delta,
                                 n, False, {"candidates": m})
    return CalibrationResult(best, "accuracy", spec.target, spec.delta, n, True,
                             {"candidates": m, "lcb": best_lcb})


def calibrate(
    scores: list[float],
    proxy_labels: list[bool],
    oracle_labels: list[bool],
    spec: CascadeSpec,
) -> CalibrationResult:
    """Dispatch on the spec's guarantee. ``scores`` are P(positive);
    for the accuracy mode the confidence is max(p, 1-p) and correctness
    is proxy_label == oracle_label."""
    if spec.guarantee == "accuracy":
        confs = [max(p, 1.0 - p) for p in scores]
        correct = [pl == ol for pl, ol in zip(proxy_labels, oracle_labels)]
        return calibrate_accuracy(confs, correct, spec)
    return calibrate_binary(scores, oracle_labels, spec)


def cascade_router(df, render, oracle, backend, cascade: dict | None, op: str):
    """Routing for a yes/no model question under an op's ``cascade``
    block: ``route(prompt, context)`` answers True / False from the
    backend's cheap ``classify_logprob``, or None to leave the row to
    ``oracle(prompt, context)``. Returns None without a cascade.

    - ``{"proxy_threshold": p}`` (p = 1.0 in any other block without
      ``guarantee``): a proxy label whose own probability clears ``p``
      is the answer.
    - ``{"guarantee": g, "target", "delta", "label_budget"}``: the
      first ``label_budget`` rows of ``df``, put to the model through
      ``render(row)``, get a proxy score and an oracle label each;
      ``calibrate`` picks the threshold, and rows route per the
      guarantee (module docstring). ``g`` defaults to
      ``DEFAULT_GUARANTEE[op]``."""
    if not cascade:
        return None

    def proxy(prompt, context) -> tuple[float, bool, float]:
        """P(true), the proxy's label, and that label's own probability."""
        label, prob = backend.classify_logprob(prompt, ["true", "false"], context)
        return (prob if label == "true" else 1.0 - prob), label == "true", prob

    if "guarantee" in cascade:
        from .semantic import run_concurrently  # noqa: PLC0415 — keeps the statistics Spark-free

        spec = CascadeSpec(
            guarantee=cascade.get("guarantee") or DEFAULT_GUARANTEE[op],
            target=float(cascade.get("target", 0.9)),
            delta=float(cascade.get("delta", 0.05)),
            label_budget=int(cascade.get("label_budget", 400)),
        )
        # bounded calibration set: limit() keeps the driver fetch at
        # O(label_budget) rows no matter the table size
        sample = [render(r.asDict()) for r in df.limit(spec.label_budget).collect()]
        labeled = run_concurrently(backend, lambda item: (*proxy(*item)[:2], oracle(*item)), sample)
        mode = spec.guarantee
        t = calibrate([x[0] for x in labeled], [x[1] for x in labeled],
                      [x[2] for x in labeled], spec).threshold
    else:
        mode, t = "fixed", float(cascade.get("proxy_threshold", 1.0))

    def route(prompt, context):
        p, is_true, prob = proxy(prompt, context)
        if mode == "fixed":
            return is_true if prob >= t else None
        if mode == "recall":
            return False if p < t else None  # proxy-rejected; bounded FN rate
        if mode == "precision":
            return True if p >= t else None  # proxy-accepted; bounded FP rate
        return p >= 0.5 if max(p, 1.0 - p) >= t else None

    return route
