"""Statistics and trace analysis for the benchmark.

Pure functions over the records the JVM harness writes: the percentile
rule for latency tails, span self time, attribution of Spark jobs to
spans, and the per-layer metrics of a traced run.
"""
import math
import statistics

LAYERS = ("silver", "gold", "pipeline", "warehouse", "bronze", "merge",
          "text", "dedup", "corpus")
LAYER_FIELDS = (("self_s", "s"), ("jobs", "count"), ("tasks", "count"),
                ("cpu_s", "s"), ("gc_s", "s"), ("shuffle_mb", "MB"),
                ("spill_mb", "MB"), ("input_mb", "MB"),
                ("output_files", "count"))
# total span time per cycle of each named call (span name + "_s")
NAMED_SPANS = ("silver.fact_trips", "silver.dim_station", "silver.dim_user",
               "silver.dim_date", "gold.station_popularity",
               "gold.user_behavior", "gold.daily_summary",
               "gold.popular_routes", "gold.view_read", "pipeline.full_etl",
               "pipeline.refresh_mart", "pipeline.corpus_etl",
               "warehouse.ensure", "bronze.append", "merge.upsert",
               "text.quality_gate", "dedup.exact", "dedup.near_dup",
               "corpus.contamination", "corpus.pack_split_commit")
# counts and ratios the harness measures at layer boundaries
COUNTERS = (("pipeline.refresh_changed_ratio", "ratio"),
            ("merge.changed_ratio", "ratio"), ("dedup.pairs", "count"),
            ("corpus.flags", "count"))
SETUP_LAYERS = ("warehouse",)
MB = 1024.0 * 1024.0
# how far layer self plus driver self time may differ from the harness's
# own cycle wall, as a share of it: the root span opens and closes a few
# microseconds inside the harness's clock readings
BALANCE_TOLERANCE = 0.01


def per_layer_names():
    """(name, unit) of every per-layer metric, in report order."""
    out = [(f"{l}.{f}", u) for l in LAYERS for f, u in LAYER_FIELDS]
    out += [(f"{n}_s", "s") for n in NAMED_SPANS]
    out += [("pipeline.output_mb", "MB")] + list(COUNTERS)
    out += [("driver.self_s", "s"), ("trace.overhead_s", "s"),
            ("trace.cycle_s", "s")]
    return out


def tail(samples, q=0.9, min_beyond=10):
    """The nearest-rank q-quantile of `samples`, or None unless at least
    `min_beyond` samples lie beyond it."""
    xs = sorted(samples)
    if not xs:
        return None
    k = max(0, math.ceil(q * len(xs)) - 1)
    if len(xs) - (k + 1) < min_beyond:
        return None
    return xs[k]


def median(samples):
    return statistics.median(samples) if samples else None


def union(intervals):
    """Merge (start, end) intervals into disjoint sorted ones."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def length(intervals):
    return sum(e - s for s, e in intervals)


def intersect(a, b):
    """Intersection of two disjoint sorted interval lists."""
    out, i, j = [], 0, 0
    while i < len(a) and j < len(b):
        s, e = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if s < e:
            out.append((s, e))
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


def self_intervals(span, children):
    """The parts of `span` that none of its children cover: its duration
    minus the union of the child intervals, clipped to the span."""
    s, e = span["start"], span["end"]
    covered = union((max(s, c["start"]), min(e, c["end"])) for c in children)
    out, t = [], s
    for cs, ce in covered:
        if cs > t:
            out.append((t, cs))
        t = max(t, ce)
    if e > t:
        out.append((t, e))
    return out


def attribute(start, end, spans, tag=None, depth=None, own=None):
    """The span a job (or a point event) belongs to. A job tagged with the
    span its thread had open goes to that span when the intervals meet.
    An untagged job — or one whose tag is stale, as on pool threads that
    inherited an old local property — goes to the span whose self time
    (the part no child covers) it overlaps most, the deepest on a tie.
    Returns the span id, or None when no span meets the job."""
    by_id = {s["id"]: s for s in spans}
    if depth is None:
        depth = depths(spans)
    if own is None:
        own = self_times(spans)

    def meets(s):
        return max(start, s["start"]) <= min(end, s["end"])

    if tag is not None and tag in by_id and meets(by_id[tag]):
        return tag
    best, key = None, None
    for s in spans:
        if meets(s):
            k = (length(intersect([(start, end)], own[s["id"]])), depth[s["id"]])
            if key is None or k > key:
                best, key = s["id"], k
    return best


def self_times(spans):
    """Self intervals of every span, by id."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: self_intervals(s, kids.get(s["id"], [])) for s in spans}


def depths(spans):
    parent = {s["id"]: s["parent"] for s in spans}
    out = {}
    for sid in parent:
        d, p = 0, parent[sid]
        while p in parent:
            d, p = d + 1, parent[p]
        out[sid] = d
    return out


def layer_of(name):
    head = name.split(".", 1)[0]
    return head if head in LAYERS else None


def aggregate(spans, events, n):
    """Per-layer metrics summed over `spans` and divided by `n` (cycles or
    set-ups). Returns (metrics, driver_self_s)."""
    m = {f"{l}.{f}": 0.0 for l in LAYERS for f, _ in LAYER_FIELDS}
    m.update({f"{s}_s": 0.0 for s in NAMED_SPANS})
    m["pipeline.output_mb"] = 0.0
    if not spans or n == 0:
        return m, 0.0
    dep = depths(spans)
    own = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    stages = [e for e in events if e["ev"] == "stage"]
    busy = union((st["start"], st["end"]) for st in stages)
    driver = 0.0
    for s in spans:
        covered = length(intersect(own[s["id"]], busy))
        layer = layer_of(s["name"])
        if layer:
            m[f"{layer}.self_s"] += covered / 1e3
            driver += (length(own[s["id"]]) - covered) / 1e3
        else:
            driver += length(own[s["id"]]) / 1e3
        if f"{s['name']}_s" in m:
            m[f"{s['name']}_s"] += (s["end"] - s["start"]) / 1e3
    starts = {e["job"]: e for e in events if e["ev"] == "job_start"}
    ends = {e["job"]: e["t"] for e in events if e["ev"] == "job_end"}
    stage_job = {}
    for j in sorted(starts.values(), key=lambda e: e["t"]):
        for sid in j["stages"]:
            stage_job.setdefault(sid, j["job"])
    job_layer, exec_layer = {}, {}
    for jid, j in starts.items():
        sid = attribute(j["t"], ends.get(jid, j["t"]), spans, j["span"], dep, own)
        layer = layer_of(by_id[sid]["name"]) if sid is not None else None
        if layer:
            job_layer[jid] = layer
            exec_layer.setdefault(j.get("exec"), layer)
            m[f"{layer}.jobs"] += 1
    for st in stages:
        layer = job_layer.get(stage_job.get(st["stage"]))
        if not layer:
            continue
        m[f"{layer}.tasks"] += st["tasks"]
        m[f"{layer}.cpu_s"] += st["cpu_ns"] / 1e9
        m[f"{layer}.gc_s"] += st["gc_ms"] / 1e3
        m[f"{layer}.shuffle_mb"] += st["shuffle_bytes"] / MB
        m[f"{layer}.spill_mb"] += st["spill_bytes"] / MB
        m[f"{layer}.input_mb"] += st["input_bytes"] / MB
        if layer == "pipeline":
            m["pipeline.output_mb"] += st["output_bytes"] / MB
    # a write counts toward the layer of its SQL execution's jobs; its end
    # time alone can fall just past the span that ran it
    exec_layer.pop(None, None)
    for w in (e for e in events if e["ev"] == "write"):
        layer = exec_layer.get(w.get("exec"))
        if layer is None:
            sid = attribute(w["t"], w["t"], spans, None, dep, own)
            layer = layer_of(by_id[sid]["name"]) if sid is not None else None
        if layer:
            m[f"{layer}.output_files"] += w["files"]
    return {k: v / n for k, v in m.items()}, driver / n


def per_layer(result):
    """Per-layer metrics of a traced run: layers that run in set-up
    (the warehouse build) for the one set-up, every other layer per traced
    cycle. Also returns whether layer self times plus driver self time
    match the traced cycle wall the harness measured on its own clock,
    with both sides (seconds per traced cycle)."""
    traced_walls = [c["wall_s"] for c in result["cycles"] if c["traced"]]
    traced = {c["cycle"] for c in result["cycles"] if c["traced"]}
    untraced = [c["wall_s"] for c in result["cycles"]
                if c["timed"] and not c["traced"]]
    spans, events = result["spans"], result["events"]
    cyc, driver = aggregate([s for s in spans if s["cycle"] in traced],
                            events, len(traced))
    setup, _ = aggregate([s for s in spans if s["cycle"] == -1], events, 1)
    out = dict(cyc)
    for k, v in setup.items():
        if layer_of(k) in SETUP_LAYERS:
            out[k] = v
    for name, _ in COUNTERS:
        vals = [c["value"] for c in result["counters"]
                if c["name"] == name and c["cycle"] in traced]
        out[name] = statistics.fmean(vals) if vals else 0.0
    out["driver.self_s"] = driver
    out["trace.cycle_s"] = median(traced_walls) or 0.0
    out["trace.overhead_s"] = (out["trace.cycle_s"] - median(untraced)
                               if untraced and traced_walls else 0.0)
    spanned = sum(cyc[f"{l}.self_s"] for l in LAYERS) + driver
    wall = statistics.fmean(traced_walls) if traced_walls else 0.0
    balanced = abs(spanned - wall) <= BALANCE_TOLERANCE * wall
    return out, balanced, (spanned, wall)
