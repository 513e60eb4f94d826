"""Reassignment-plan strategies and the selector between them
(reference JobMonitor.scala:353-516).

Each strategy answers: for every helpee (confirmed straggler), what
share of its next-batch load should stay and what share moves to which
helper? Shares are expressed relative to the helpee's current load and
sum to 1 per helpee. The reference's selector only ever picks
proportion or two-choice, so those are the two plans built here.

Notes on faithfulness: the reference file cannot compile as-is (it
flips ``load/cap`` vs ``cap/load`` between the first and second half of
``twoChoiceStrategy``). We implement the documented *intent* — spare
capacity ratio = capability / current load, helpee keeps its
fair-by-capability share — and clamp/renormalize shares to [0, 1] so a
pathological input can never produce a negative split.
"""

from __future__ import annotations

from spark_lever_spark.lever.model import LeverConfig, Plan

PROPORTION = "proportion"
TWO_CHOICE = "two_choice"

# Escalate to two-choice above this |helpee| x |helper| product: the
# proportion plan's cost grows with it (JobMonitor.scala:360).
ESCALATION_PRODUCT = 80


def _normalize(shares: dict[str, float]) -> dict[str, float]:
    clamped = {h: max(s, 0.0) for h, s in shares.items()}
    total = sum(clamped.values())
    if total <= 0:
        n = len(clamped)
        return {h: 1.0 / n for h in clamped}
    return {h: s / total for h, s in clamped.items()}


def proportion_plan(
    helpees: set[str],
    helpers: set[str],
    capability: dict[str, float],
    load: dict[str, float],
) -> Plan:
    """Split each helpee's load across all helpers proportionally to
    capability, accounting for load the helpers already carry
    (JobMonitor.scala:389-419): with denom = sum(cap[helpers]) + cap[a]
    and pool = sum(load[helpers]) + load[a], host x's fair load is
    cap[x]/denom * pool; the share of a's load moving to helper b is
    (fair(b) - load[b]) / load[a], and a keeps fair(a)/load[a]."""
    ratios: dict[str, dict[str, float]] = {}
    for a in helpees:
        hs = [h for h in helpers if h != a]
        if not hs or load.get(a, 0.0) <= 0:
            continue
        denom = sum(capability.get(h, 0.0) for h in hs) + capability.get(a, 0.0)
        pool = sum(load.get(h, 0.0) for h in hs) + load[a]
        if denom <= 0:
            continue
        shares = {a: capability.get(a, 0.0) / denom * pool / load[a]}
        for b in hs:
            shares[b] = (capability.get(b, 0.0) / denom * pool - load.get(b, 0.0)) / load[a]
        ratios[a] = _normalize(shares)
    return Plan(strategy=PROPORTION, ratios=ratios)


def _spare_ratio(capability: dict[str, float], load: dict[str, float]) -> dict[str, float]:
    return {
        h: capability[h] / load[h]
        for h in capability
        if load.get(h, 0.0) > 0
    }


def two_choice_plan(
    helpees: set[str],
    helpers: set[str],
    capability: dict[str, float],
    load: dict[str, float],
) -> Plan:
    """Split each helpee's load between the *two* helpers with the
    largest spare-capacity ratios, proportional to those ratios
    (JobMonitor.scala:471-516). Cheaper than proportion when
    |helpee| x |helper| is large — that is why the selector escalates
    to it."""
    load = dict(load)
    ratios: dict[str, dict[str, float]] = {}
    for a in sorted(helpees):
        ratio = _spare_ratio(capability, load)
        hs = sorted(
            (h for h in helpers if h != a and h in ratio),
            key=lambda h: ratio[h],
            reverse=True,
        )[:2]
        if not hs or a not in ratio:
            continue
        denom = ratio[a] + sum(ratio[h] for h in hs)
        shares = {a: ratio[a] / denom}
        for h in hs:
            shares[h] = ratio[h] / denom
        shares = _normalize(shares)
        orig = load[a]
        for h in hs:
            load[h] = load.get(h, 0.0) + orig * shares[h]
        load[a] = orig * shares[a]
        ratios[a] = shares
    return Plan(strategy=TWO_CHOICE, ratios=ratios)


def select_strategy(
    n_helpee: int,
    n_helper: int,
    last_strategy: str | None,
    this_delay_ms: float,
    last_delay_ms: float,
    config: LeverConfig,
) -> str | None:
    """The reference's escalation rule (JobMonitor.scala:353-382):
    no helpees -> no plan; escalate from proportion to two-choice when
    the helpee x helper product exceeds 80 (plan cost) or the last
    proportion plan regressed total delay by more than
    ``config.regression_ms``; otherwise proportion."""
    if n_helpee == 0 or n_helper == 0:
        return None
    escalate = (n_helpee * n_helper > ESCALATION_PRODUCT) or (
        last_strategy == PROPORTION
        and (this_delay_ms - last_delay_ms) > config.regression_ms
    )
    return TWO_CHOICE if escalate else PROPORTION

