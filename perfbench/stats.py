"""Statistics and span arithmetic used by the benchmark."""
import math
import statistics

MIN_BEYOND = 10  # a reported percentile needs this many samples above it


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def _kind(samples, kind):
    return [v for k, v in samples if k == kind]


def mixed_mean(samples, mix):
    """Mean of (kind, value) samples with each kind weighted by its share in
    `mix`, not by how many of it a window caught (a closed loop's window
    catches a varying number of each kind)."""
    return sum(w * mean(_kind(samples, k)) for k, w in mix.items())


def mixed_geomean(samples, mix):
    """Geometric mean of (kind, value) samples, kinds weighted as in `mix`."""
    return math.exp(sum(w * math.log(geomean(_kind(samples, k))) for k, w in mix.items()))


def min_samples(p):
    """Fewest samples for which percentile `p` has MIN_BEYOND samples
    ranked above it."""
    n = 1
    while n - math.ceil(p / 100.0 * n) < MIN_BEYOND:
        n += 1
    return n


def percentile(xs, p):
    """Nearest-rank percentile `p` of `xs`. Raises ValueError when fewer
    than MIN_BEYOND samples rank above it: such a tail is not measured."""
    s = sorted(xs)
    k = math.ceil(p / 100.0 * len(s))
    if k < 1 or len(s) - k < MIN_BEYOND:
        raise ValueError(f"p{p} of {len(s)} samples has {len(s) - k} beyond it,"
                         f" needs {MIN_BEYOND}")
    return s[k - 1]


def highest_percentile(xs, ladder=(99, 95, 90, 75, 50)):
    """The highest percentile of `ladder` the samples support, as (p, value);
    None when not even the lowest is supported."""
    for p in ladder:
        try:
            return p, percentile(xs, p)
        except ValueError:
            continue
    return None


def _union(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def nest_orphans(spans, orphan="spark.job", slack=1.0):
    """Give each parentless `orphan` span (Spark jobs are recorded by a
    listener that cannot know the caller) the innermost other span whose
    interval contains it, within `slack` (the job clock has ms steps).
    Spans are dicts with id, parent, req, name, start, end."""
    hosts = [s for s in spans if s["name"] != orphan]
    for s in spans:
        if s["name"] != orphan or s["parent"] != -1:
            continue
        best = None
        for h in hosts:
            if h["start"] - slack <= s["start"] and s["end"] <= h["end"] + slack:
                if best is None or h["end"] - h["start"] < best["end"] - best["start"]:
                    best = h
        if best is not None:
            s["parent"], s["req"] = best["id"], best["req"]
    return spans


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its children cover. Returns {span id: self time}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        covered = [(a, b) for a, b in covered if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - _union(covered)
    return out


def self_by_name(spans):
    """Sum of self time per span name, and the number of spans per name."""
    st = self_times(spans)
    tot, cnt = {}, {}
    for s in spans:
        tot[s["name"]] = tot.get(s["name"], 0.0) + st[s["id"]]
        cnt[s["name"]] = cnt.get(s["name"], 0) + 1
    return tot, cnt


def uncovered(start, end, intervals):
    """Length of [start, end] not covered by any of `intervals`."""
    clipped = [(max(a, start), min(b, end)) for a, b in intervals]
    return (end - start) - _union([(a, b) for a, b in clipped if b > a])


def spans_from_rows(rows):
    """Spans as the harness writes them: [id, parent, req, name, start, end]."""
    return [dict(id=r[0], parent=r[1], req=r[2], name=r[3], start=r[4], end=r[5])
            for r in rows]
