"""Statistics the benchmark reports: medians, the tail percentile, and
span self time."""
import statistics

TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else None


def tail(values, beyond=TAIL_BEYOND):
    """The highest whole percentile that has at least `beyond` samples
    above it, by nearest rank: percentile p is the sample of rank
    ceil(p/100 * n), and n - rank >= beyond. None below beyond + 1
    samples."""
    n = len(values)
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    if p == 0:
        return None
    rank = -(-p * n // 100)
    return {"percentile": p, "value": sorted(values)[rank - 1],
            "samples": n, "beyond": n - rank}


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip_tree(nodes):
    """Each node of a span forest clipped to its parent's (clipped)
    interval. `nodes` maps id -> {"parent": id or None, "start", "end"}."""
    children = {}
    for i, n in nodes.items():
        children.setdefault(n["parent"], []).append(i)
    clipped = {}
    stack = [(r, nodes[r]["start"], nodes[r]["end"]) for r in children.get(None, [])]
    while stack:
        i, lo, hi = stack.pop()
        s, e = max(nodes[i]["start"], lo), min(nodes[i]["end"], hi)
        clipped[i] = (s, max(s, e))
        stack += [(c, *clipped[i]) for c in children.get(i, [])]
    return clipped, children


def layer_timeline(intervals, order):
    """Self time per layer: every instant covered by some interval goes to
    the first layer in `order` (deepest first) active at that instant. For
    a span whose children are a deeper layer this is its duration minus
    the union of its children's intervals; overlapping siblings count once,
    so the values add up to the union of all the intervals.
    `intervals` is a list of (layer, start, end)."""
    rank = {layer: i for i, layer in enumerate(order)}
    events = []
    for layer, s, e in intervals:
        if e > s:
            events += [(s, 1, rank[layer]), (e, -1, rank[layer])]
    events.sort()
    active = [0] * len(order)
    out = dict.fromkeys(order, 0)
    prev = None
    for t, delta, r in events:
        if prev is not None and t > prev:
            top = next((i for i, c in enumerate(active) if c > 0), None)
            if top is not None:
                out[order[top]] += t - prev
        active[r] += delta
        prev = t
    return out
