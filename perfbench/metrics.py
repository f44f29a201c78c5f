"""Small measurement helpers that need no Spark: percentiles, the p95 rule,
memory high-water marks and the feed response check."""

from __future__ import annotations

import os
import statistics


def p50(values: list[float]) -> float:
    return statistics.median(values)


def mix_median(samples: list[tuple[str, float]]) -> float:
    """Mix-weighted median of (kind, value) samples: each kind's median,
    averaged over the samples, so each kind weighs as often as it occurs.

    The plain median of a mix of kinds with different costs sits on one
    kind, or in the gap between two, and jumps when a sample or two cross
    the gap; this moves smoothly with every kind's typical value."""
    by: dict[str, list[float]] = {}
    for kind, v in samples:
        by.setdefault(kind, []).append(v)
    med = {k: statistics.median(v) for k, v in by.items()}
    return statistics.fmean(med[kind] for kind, _ in samples)


def p95(values: list[float]) -> float | None:
    """The 95th percentile, or None when fewer than ten samples lie beyond it
    (a tail percentile needs at least ten samples above it to mean anything)."""
    if len(values) < 2:
        return None
    cut = statistics.quantiles(values, n=20, method="inclusive")[-1]
    return cut if sum(v > cut for v in values) >= 10 else None


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (VmHWM) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat. On a
    virtual machine, steal is time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (walks /proc parent links)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def check_feed(body: dict, key: str, refs: dict[str, list[str]] | None) -> tuple[list[str], str | None]:
    """(post ids, failure reason or None) for one generateFeedSkeleton body.

    An HTTP 200 body carrying ``"error"`` is a failure (FeedServer wraps
    errors that way). With ``refs``, a request seen before must return the
    identical feed."""
    if "error" in body:
        return [], f"error body: {str(body['error'])[:200]}"
    ids = [str(f["post"]) for f in body.get("feed", [])]
    if refs is not None:
        ref = refs.setdefault(key, ids)
        if ref != ids:
            return ids, f"repeat of {key} returned a different feed"
    return ids, None
