"""Straggler classification: quartiles + input-rate-drift confirmation.

Stage 1 (per stage completion, reference TaskSetManager.scala:787-819):
sort per-host runtimes; hosts >= P75 are *potential helpees*
(stragglers), hosts <= P25 are *potential helpers*, the rest are
*median* — except an in-between host whose runtime is >= 600 ms below
the P75 bound is promoted to helper. Two drift ratios accompany the
sets: b = P75/median ("helpee-to-median"), a = median/P25
("median-to-helper").

Stage 2 (on the next batch, reference JobMonitor.scala:204-297):
confirm each potential classification against the host's input-rate
drift r = new_rate/old_rate. Intuition: Lever itself changes how much
input each host receives, so a host whose rate was *cut* and still runs
slow is a confirmed straggler, while one whose rate grew is actually
fast. The thresholds are the a/b ratios from stage 1; a host that was a
confirmed helper last round is never flipped straight to helpee.
"""

from __future__ import annotations

from dataclasses import dataclass, field


def _quartile_bounds(durations: list[float]) -> tuple[float, float, float]:
    """(p25, median, p75) using the reference's index convention
    (sorted[n/4], sorted[n/2], sorted[3n/4])."""
    s = sorted(durations)
    n = len(s)
    return s[n // 4], s[n // 2], s[(n * 3) // 4]


@dataclass
class Classification:
    helpee: set[str] = field(default_factory=set)
    median: set[str] = field(default_factory=set)
    helper: set[str] = field(default_factory=set)
    # drift ratios handed to the confirmation pass
    a_median_to_helper: float = 1.0
    b_helpee_to_median: float = 1.0


def classify_quartiles(
    runtimes: dict[str, float], helper_margin_ms: float
) -> Classification:
    """Stage-1 quartile classification (TaskSetManager.scala:787-819)."""
    out = Classification()
    if not runtimes:
        return out
    lower, mid, upper = _quartile_bounds(list(runtimes.values()))
    for host, rt in runtimes.items():
        if rt >= upper:
            out.helpee.add(host)
        elif rt <= lower:
            out.helper.add(host)
        elif (upper - rt) >= helper_margin_ms:
            # well clear of the straggler bound -> spare capacity
            out.helper.add(host)
        else:
            out.median.add(host)
    out.b_helpee_to_median = (upper / mid) if mid > 0 else 1.0
    out.a_median_to_helper = (mid / lower) if lower > 0 else 1.0
    return out


def confirm_with_rates(
    potential: Classification,
    old_rates: dict[str, float],
    new_rates: dict[str, float],
    last_final_helper: set[str],
) -> Classification:
    """Stage-2 confirmation against input-rate drift
    (JobMonitor.scala:204-297, decidestragglerfrom{helpee,median,helper}).

    For each host, r = new_rate/old_rate is compared against thresholds
    derived from a (median/P25) and b (P75/median):

    - potential helpee: r < 1/(a*b) -> helper; <= 1/b -> median; else
      confirmed helpee, or median if it was a confirmed helper last
      round. A missing rate counts as "else".
    - potential median: r < 1/a -> helper; <= b -> median; else helpee.
    - potential helper: r < a -> helper; <= a*b -> median; else helpee.
    """
    a = potential.a_median_to_helper
    b = potential.b_helpee_to_median
    final = Classification(
        a_median_to_helper=a, b_helpee_to_median=b
    )

    def drift(host: str) -> float | None:
        old = old_rates.get(host)
        new = new_rates.get(host)
        if not old or new is None:
            return None
        return new / old

    for host in potential.helpee:
        r = drift(host)
        if r is not None and r < 1.0 / (a * b):
            final.helper.add(host)
        elif r is not None and r <= 1.0 / b:
            final.median.add(host)
        elif host in last_final_helper:
            final.median.add(host)  # never straight from helper to helpee
        else:
            final.helpee.add(host)  # still slow; a missing rate trusts runtimes

    for host in potential.median:
        r = drift(host)
        if r is None:
            final.median.add(host)
        elif r < 1.0 / a:
            final.helper.add(host)
        elif r <= b:
            final.median.add(host)
        else:
            final.helpee.add(host)

    for host in potential.helper:
        r = drift(host)
        if r is None:
            final.helper.add(host)
        elif r < a:
            final.helper.add(host)
        elif r <= a * b:
            final.median.add(host)
        else:
            final.helpee.add(host)

    return final
