"""Order statistics and span arithmetic shared by run.py, summarize.py and compare.py."""
import math
import statistics

# A percentile is reported only when at least this many samples lie beyond it.
TAIL_SAMPLES = 10


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def percentile(xs, p):
    """Nearest-rank p-th percentile, or None when fewer than TAIL_SAMPLES
    samples lie beyond it (p90 needs at least 100 samples)."""
    n = len(xs)
    rank = math.ceil(p / 100 * n)
    if n == 0 or n - rank < TAIL_SAMPLES:
        return None
    return sorted(xs)[rank - 1]


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total, reach = 0.0, None
    for a, b in sorted(intervals):
        if reach is None or a > reach:
            total += b - a
            reach = b
        elif b > reach:
            total += b - reach
            reach = b
    return total


def shared_self_times(spans):
    """Self time of every span in a tree, as {id: seconds}.

    `spans` are dicts with id, parent (0 for the root) and start/end in any
    unit. A child is clipped to its parent. Each instant of a span is shared
    equally among the children open at that instant and passed down; an
    instant no child covers is the span's own. So overlapping children (a
    broadcast job running beside the main job) never count one instant
    twice, and the self times of a tree add up to its root's duration.
    """
    children = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s)
    own = {s["id"]: 0.0 for s in spans}

    def walk(span, segments):
        lo, hi = segments[0][0], segments[-1][1]
        kids = []
        for c in children.get(span["id"], []):
            a, b = max(c["start"], lo), min(c["end"], hi)
            if b > a:
                kids.append((a, b, c))
        cuts = sorted({x for a, b, _ in segments for x in (a, b)} | {x for a, b, _ in kids for x in (a, b)})
        shares = {id(c): [] for _, _, c in kids}
        seg = 0
        for a, b in zip(cuts, cuts[1:]):
            while segments[seg][1] <= a:
                seg += 1
            w = segments[seg][2] if segments[seg][0] <= a else 0.0
            open_kids = [c for ka, kb, c in kids if ka <= a and kb >= b]
            if not open_kids:
                own[span["id"]] += w * (b - a)
            else:
                for c in open_kids:
                    shares[id(c)].append((a, b, w / len(open_kids)))
        for _, _, c in kids:
            if shares[id(c)]:
                walk(c, shares[id(c)])

    for s in spans:
        if s["parent"] not in by_id and s["end"] > s["start"]:
            walk(s, [(s["start"], s["end"], 1.0)])
    return own
