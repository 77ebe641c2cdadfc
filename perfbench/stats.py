"""Accounting rules of the benchmark, kept free of Spark so they can be
unit-tested (perfbench/tests)."""
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it. Returns (value, percentile, n). With n samples sorted
    ascending that is the sample at index n - beyond - 1, the
    100 * (n - beyond) / n percentile. Below beyond + 1 samples no such
    percentile exists and the median is returned with percentile 50."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return median(xs), 50.0, n
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def interval_union(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans):
    """Self time per span id: its duration minus the part covered by its
    direct children. `spans` are dicts with id, parent, t0, t1."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) -
            interval_union(clip(kids.get(s["id"], []), s["t0"], s["t1"]))
            for s in spans}


def lateness(batches):
    """Open-loop accounting for batches with a due time, in start order.
    Each batch is a dict with due, start and end (same clock). Returns one
    dict per batch:
      lag      end - due: what a reader waiting for the batch sees;
      late     start - due (0 if started on time);
      queued   the part of `late` caused by the previous batch still
               running past this one's due time;
      gen_late the rest of `late`: the benchmark's own loop started the
               batch late (the load generator fell behind)."""
    out, prev_end = [], None
    for b in sorted(batches, key=lambda b: b["due"]):
        late = max(0, b["start"] - b["due"])
        queued = 0 if prev_end is None else min(late, max(0, prev_end - b["due"]))
        out.append({"lag": b["end"] - b["due"], "late": late, "queued": queued,
                    "gen_late": late - queued})
        prev_end = b["end"]
    return out
