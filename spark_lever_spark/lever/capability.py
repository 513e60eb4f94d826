"""Per-host capability estimation (reference JobMonitor.scala:303-332).

capability(h) = base(h) + K(h) * (t_median - t(h))
  where base(h) = handled_bytes(h) / runtime_ms(h)   [bytes/ms]
        K(h)    = base(h) / runtime_ms(h)
        t_median = median of per-host runtimes

i.e. last batch's observed throughput, linearly extrapolated toward
what the host *would* sustain at the median runtime: a host that
finished faster than median gets credited extra capacity, a straggler
is debited. (The reference's `estimateCapability` writes `iIdeal` where
it computes `tIdeal` — a typo that cannot compile; the surrounding code
makes the intent, median runtime, unambiguous, and that is what we
implement.)
"""

from __future__ import annotations

from statistics import median


def estimate_capability(
    handled_bytes: dict[str, float], runtime_ms: dict[str, float]
) -> dict[str, float]:
    """bytes/ms capability per host; hosts missing a runtime yield an
    empty result (the reference bails out whole-batch the same way,
    JobMonitor.scala:318-321)."""
    if not handled_bytes:
        return {}
    if any(h not in runtime_ms or runtime_ms[h] <= 0 for h in handled_bytes):
        return {}
    t_ideal = median(runtime_ms.values())
    out: dict[str, float] = {}
    for host, size in handled_bytes.items():
        rt = runtime_ms[host]
        base = size / rt
        k = base / rt
        out[host] = base + k * (t_ideal - rt)
    return out
