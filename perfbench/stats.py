"""Pure statistics for the benchmark: no Spark, no I/O.

Everything here is unit-tested in ``perfbench/tests/test_stats.py``;
the harness only feeds it measured numbers.
"""

from __future__ import annotations

import math
from collections import defaultdict

#: percentiles the read-latency report may name, lowest first
PERCENTILES = (50, 75, 90, 95, 99)


def median(values) -> float:
    """Median of a non-empty sequence (mean of the middle pair when the
    count is even)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no values")
    mid = len(xs) // 2
    if len(xs) % 2:
        return float(xs[mid])
    return (xs[mid - 1] + xs[mid]) / 2.0


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it.  With 40 samples, p75 is the
    30th smallest and ten samples lie beyond it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    if not 0 < p <= 100:
        raise ValueError(f"percentile must be in (0, 100], got {p}")
    rank = math.ceil(p / 100.0 * len(xs))
    return float(xs[rank - 1])


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``p``-th
    percentile."""
    return n - math.ceil(p / 100.0 * n)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest percentile in :data:`PERCENTILES` with at least
    ``min_beyond`` of ``n`` samples beyond it; None when even the median
    has fewer."""
    best = None
    for p in PERCENTILES:
        if samples_beyond(n, p) >= min_beyond:
            best = p
    return best


def self_times(spans) -> dict:
    """Self time per span id: the span's duration minus the part of its
    interval that its child spans cover.  ``spans`` are dicts with
    ``id``, ``parent`` (id or None), ``start`` and ``end``.  Overlapping
    children are counted once; a child sticking out of its parent is
    clipped to the parent's interval."""
    by_parent = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            by_parent[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for a, b in sorted(by_parent.get(s["id"], ())):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def tree_rss(table: dict, root: int) -> int:
    """Summed RSS of ``root`` and all its descendants.  ``table`` maps
    pid -> (ppid, rss_bytes), a snapshot of the process table; a pid
    missing from it (already exited) contributes nothing."""
    children = defaultdict(list)
    for pid, (ppid, _rss) in table.items():
        children[ppid].append(pid)
    total, stack, seen = 0, [root], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        if pid in table:
            total += table[pid][1]
        stack.extend(children.get(pid, ()))
    return total


def cpu_fractions(before: dict, after: dict) -> dict:
    """Busy and steal shares of all CPU time between two ``/proc/stat``
    snapshots (dicts of the aggregate ``cpu`` line's fields).  Busy is
    user + nice + system + irq + softirq; idle, iowait and steal are not
    busy."""
    d = {k: after[k] - before[k] for k in before}
    total = sum(d.values())
    if total <= 0:
        return {"busy_frac": 0.0, "steal_frac": 0.0}
    busy = sum(d.get(k, 0) for k in ("user", "nice", "system", "irq", "softirq"))
    return {"busy_frac": busy / total, "steal_frac": d.get("steal", 0) / total}


def expected_route_answer(fine_cells, lo: int, hi: int) -> dict:
    """What a routed read over fine buckets ``[lo, hi)`` must return,
    recomputed from the fine cells alone: per source, the sum of
    ``n_docs`` and ``sum_tok`` over cells with ``lo <= bucket < hi``,
    after dropping duplicate ``(run, source, bucket)`` cells.
    ``fine_cells`` is a pandas frame with those five columns."""
    cells = fine_cells.drop_duplicates(["run", "source", "bucket"])
    sel = cells[(cells["bucket"] >= lo) & (cells["bucket"] < hi)]
    agg = sel.groupby("source")[["n_docs", "sum_tok"]].sum()
    return {
        src: {"n_docs": int(r.n_docs), "sum_tok": int(r.sum_tok)}
        for src, r in agg.iterrows()
    }


def route_answer_matches(got: dict, want: dict) -> bool:
    """A routed answer passes only if it names the same sources with
    exactly the expected integer totals."""
    return got == want
