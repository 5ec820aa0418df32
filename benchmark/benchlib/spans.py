"""Self time of each layer from the spans a traced run writes."""
import collections
import json


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def covered(start, end, intervals):
    """Length of the part of [start, end) that the union of `intervals`
    covers; overlapping intervals count once."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals if e > start and s < end)
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


def adopt_orphans(spans):
    """Gives each parentless Spark span (a job of a streaming query's own
    thread carries no benchmark span property) the innermost benchmark
    span that contains it in time; with one client, at most one is open.
    Spark stamps its events in whole milliseconds, hence the slack."""
    slack = 2000
    bench = [s for s in spans if s["id"].startswith("b")]
    out = []
    for s in spans:
        if not s["parent"] and s["layer"].startswith("spark."):
            around = [b for b in bench
                      if b["start_us"] - slack <= s["start_us"] and s["end_us"] <= b["end_us"] + slack]
            if around:
                inner = min(around, key=lambda b: b["end_us"] - b["start_us"])
                s = dict(s, parent=inner["id"])
        out.append(s)
    return out


def self_times_ms(spans):
    """Per layer, the summed duration of its spans minus the part of each
    span that its child spans cover, in milliseconds."""
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start_us"], s["end_us"]))
    out = collections.defaultdict(float)
    for s in spans:
        dur = s["end_us"] - s["start_us"]
        out[s["layer"]] += (dur - covered(s["start_us"], s["end_us"], children.get(s["id"], []))) / 1000
    return dict(out)
