"""The benchmark's arithmetic, kept free of I/O so `selftest.py` can check it
on synthetic inputs."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest percentile with at least 10 samples beyond it.

    Returns (value, percentile, n), or None when fewer than 20 samples
    exist (below 20 that percentile would sit under the median). The value
    is the sorted sample with exactly 10 larger ones; the percentile is the
    share of samples at or below it, in whole percent.
    """
    n = len(xs)
    if n < 20:
        return None
    k = n - 11
    return sorted(xs)[k], (100 * (k + 1)) // n, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def gap(span, jobs):
    """Span wall time not covered by any of its jobs (driver-side time)."""
    s, e = span["start"], span["end"]
    clipped = [(max(s, j["start"]), min(e, j["end"])) for j in jobs]
    return (e - s) - union_length(clipped)


def occupancy(task_s, cores, wall_s):
    """Share of the executor's core-seconds that ran tasks."""
    return task_s / (cores * wall_s) if wall_s > 0 and cores > 0 else 0.0


def attribute(spans, jobs):
    """Map span id -> jobs run inside it (itself or its descendants).

    A job belongs to the span named by its job group `lakebench-<id>`;
    a job without such a group (its thread did not inherit the group)
    falls back to the innermost traced span whose interval contains the
    job's start.
    """
    by_id = {s["id"]: s for s in spans}
    own = {s["id"]: [] for s in spans}
    for j in jobs:
        sid = None
        g = j.get("group", "")
        if g.startswith("lakebench-") and int(g[len("lakebench-"):]) in by_id:
            sid = int(g[len("lakebench-"):])
        else:
            inside = [s for s in spans if s["traced"] and s["start"] <= j["start"] <= s["end"]]
            if inside:
                sid = max(inside, key=lambda s: s["start"])["id"]
        if sid is not None:
            own[sid].append(j)
    out = {sid: list(js) for sid, js in own.items()}
    for s in sorted(spans, key=lambda s: -s["id"]):  # children have larger ids
        if s["parent"] in out:
            out[s["parent"]].extend(out[s["id"]])
    return out
