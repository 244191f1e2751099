"""Pure metric arithmetic of the benchmark: percentiles, span self time
and the per-layer roll-up of a traced run. No I/O, no JVM."""
LAYERS = ["core", "agg", "relational", "functions", "llm", "streaming", "sources"]
QUERY_LAYER_METRICS = ["jobs", "driver_s", "plan_s", "build_s", "task_s",
                       "shuffle_bytes", "spill_bytes", "scans"]
MIN_BEYOND = 10


def tail(values):
    """The highest nearest-rank percentile with at least ten samples
    above it: ``(value, percentile, n)``. When that percentile would lie
    below the median (fewer than twenty samples) the maximum is reported,
    as p100."""
    v = sorted(values)
    n = len(v)
    k = n - MIN_BEYOND
    if k < (n + 1) // 2:
        return v[-1], 100.0, n
    return v[k - 1], round(100.0 * k / n, 1), n


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of ``intervals``."""
    cut = sorted((max(s, start), min(e, end)) for s, e in intervals if e > start and s < end)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in cut:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - covered(
        span["start"], span["end"], [(c["start"], c["end"]) for c in children])


def layer_of(name, rules):
    """First matching rule: an exact query name, or a ``prefix*``."""
    for pattern, layer in rules:
        if pattern.endswith("*") and name.startswith(pattern[:-1]) or pattern == name:
            return layer
    raise KeyError(f"no layer rule matches query {name}")


def query_layers(spans, rules):
    """Per-layer sums over the operation spans of a traced query run.

    ``driver_s`` is each operation's self time against its jobs (wall
    time with no job running); ``plan_s`` sums the Catalyst phase spans
    that lie inside an operation; ``scans`` counts distinct executed
    FileScanRDDs per operation."""
    ops = [s for s in spans if s["kind"] == "op"]
    builds = {s["tag"]: s for s in spans if s["kind"] == "build"}
    jobs_by_tag = {}
    for j in (s for s in spans if s["kind"] == "job"):
        jobs_by_tag.setdefault(j["tag"], []).append(j)
    plans = sorted((s for s in spans if s["kind"] == "plan"), key=lambda s: s["start"])
    out = {f"{l}.{m}": 0.0 for l in LAYERS for m in QUERY_LAYER_METRICS}
    for op in ops:
        if op["tag"].startswith("read-"):
            continue
        layer = layer_of(op["name"], rules)
        jobs = jobs_by_tag.get(op["tag"], [])
        acc = lambda m, v: out.__setitem__(f"{layer}.{m}", out[f"{layer}.{m}"] + v)
        acc("jobs", len(jobs))
        acc("driver_s", self_time(op, jobs) / 1e3)
        acc("plan_s", sum(p["end"] - p["start"] for p in plans
                          if p["start"] >= op["start"] and p["end"] <= op["end"]) / 1e3)
        b = builds.get(op["tag"])
        acc("build_s", (b["end"] - b["start"]) / 1e3 if b else 0.0)
        acc("task_s", sum(j["task_ms"] for j in jobs) / 1e3)
        acc("shuffle_bytes", sum(j["shuffle_write_bytes"] for j in jobs))
        acc("spill_bytes", sum(j["spill_disk_bytes"] for j in jobs))
        acc("scans", len({r for j in jobs for r in j["scan_rdds"]}))
    return out
