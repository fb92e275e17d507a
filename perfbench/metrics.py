"""Pure functions the benchmark computes its metrics with: tail
percentiles, span self time, interval unions and metric-name checks."""
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
MIN_TAIL = 10


def check_name(name):
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}: use [A-Za-z0-9_.-], at most 64")
    return name


def min_samples(q, min_tail=MIN_TAIL):
    """Fewest samples for which the nearest-rank q-quantile has at least
    `min_tail` samples above it."""
    n = 1
    while n - math.ceil(q * n) < min_tail:
        n += 1
    return n


def tail_percentile(values, q, min_tail=MIN_TAIL):
    """Nearest-rank q-quantile of `values`. Refuses (ValueError) when fewer
    than `min_tail` samples lie above the reported rank, so a reported tail
    is never set by a handful of runs."""
    xs = sorted(values)
    rank = math.ceil(q * len(xs))  # 1-based
    if len(xs) - rank < min_tail:
        raise ValueError(f"p{round(q * 100)} of {len(xs)} samples has "
                         f"{len(xs) - rank} above it; need {min_tail}")
    return xs[max(rank, 1) - 1]


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by `intervals` ((start, end) pairs), clipped
    to [lo, hi]; overlaps count once."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover (overlapping children count once).
    `spans` are dicts with id, parent, start, end; returns {id: self}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def self_time_by_name(spans):
    """Summed self time per span name."""
    own = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0) + own[s["id"]]
    return out


def descendants(spans, root_names):
    """Ids of spans below any span whose name is in `root_names`."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    stack = [s["id"] for s in spans if s["name"] in root_names]
    seen = set()
    while stack:
        for c in kids.get(stack.pop(), []):
            if c not in seen:
                seen.add(c)
                stack.append(c)
    return seen
