"""Pure helpers that turn a run's raw measurements into metrics."""
import math

# Spans named with these layer prefixes are the product's layers; "op" is
# the benchmark client's own span around one op.
PRODUCT_LAYERS = ("main", "pipeline", "sink", "queries", "spark")


def median(values):
    return percentile(values, 0.5)


def percentile(values, q):
    """The q-th percentile, interpolated linearly between the two closest
    ranks (rank (n - 1) * q, counted from 0), so p50 of an even count is
    the mean of the middle two."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no values")
    h = (len(v) - 1) * q
    lo = math.floor(h)
    return v[lo] if lo + 1 >= len(v) else v[lo] + (h - lo) * (v[lo + 1] - v[lo])


def samples_beyond(n, q):
    """How many of `n` samples rank above the q-th percentile."""
    return n - 1 - math.floor((n - 1) * q) if n else 0


def failed_ratio(failed, attempted):
    if attempted <= 0:
        raise ValueError("no ops attempted")
    return failed / attempted


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
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
    """Each span's duration minus the part of it its child spans cover.
    `spans` is a list of dicts with start_ns, end_ns and parent (an index
    into the list, -1 for none)."""
    children = {}
    for i, sp in enumerate(spans):
        children.setdefault(sp["parent"], []).append(i)
    out = []
    for i, sp in enumerate(spans):
        kids = [(spans[k]["start_ns"], spans[k]["end_ns"]) for k in children.get(i, [])]
        dur = sp["end_ns"] - sp["start_ns"]
        out.append(dur - union_length(kids, sp["start_ns"], sp["end_ns"]))
    return out


def spans_of_ops(spans, ops):
    """The spans of the given op ids, with parent indexes renumbered."""
    keep = [i for i, sp in enumerate(spans) if sp["op"] in ops]
    new = {old: new for new, old in enumerate(keep)}
    return [dict(spans[i], parent=new.get(spans[i]["parent"], -1)) for i in keep]


def layer_of(name):
    return "bench" if name == "op" else name.split(".", 1)[0]


def per_op_layer_self_s(spans):
    """Mean self time per op of each layer, in seconds."""
    selfs = self_times(spans)
    ops = {sp["op"] for sp in spans}
    totals = {}
    for sp, st in zip(spans, selfs):
        layer = layer_of(sp["name"])
        totals[layer] = totals.get(layer, 0) + st
    return {k: v / 1e9 / len(ops) for k, v in totals.items()} if ops else {}


def span_coverage(spans):
    """Lowest share, over ops, of an op's span that the product-layer leaf
    spans cover (`pipeline.run` encloses other spans and is not a leaf)."""
    parents = {sp["parent"] for sp in spans}
    by_op = {}
    for i, sp in enumerate(spans):
        by_op.setdefault(sp["op"], []).append((i, sp))
    shares = []
    for items in by_op.values():
        root = [sp for _, sp in items if sp["name"] == "op"]
        if not root:
            continue
        lo, hi = root[0]["start_ns"], root[0]["end_ns"]
        leaves = [(sp["start_ns"], sp["end_ns"]) for i, sp in items
                  if i not in parents and layer_of(sp["name"]) in PRODUCT_LAYERS
                  and sp["name"] != "main.conf"]
        if hi > lo:
            shares.append(union_length(leaves, lo, hi) / (hi - lo))
    return min(shares) if shares else 0.0


def span_median_s(spans, name):
    """Median over ops of the summed duration of spans called `name`."""
    per_op = {}
    for sp in spans:
        if sp["name"] == name:
            per_op[sp["op"]] = per_op.get(sp["op"], 0) + sp["end_ns"] - sp["start_ns"]
    return median(per_op.values()) / 1e9 if per_op else 0.0
