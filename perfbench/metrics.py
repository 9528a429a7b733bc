"""Metric arithmetic for the benchmark: latency statistics, span self
time, and the per-layer totals of a traced run. Pure functions over the
raw result the benchmark JVM writes, so they can be tested alone."""
import math
import statistics

TAIL_BEYOND = 10


def tail(samples, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, samples_beyond). With n samples sorted
    ascending the value is the (n - beyond)-th smallest, so exactly
    `beyond` samples lie beyond it when there are no ties. With fewer than
    beyond + 1 samples no percentile qualifies; the minimum is returned
    with the count that does lie beyond it."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    i = max(0, len(xs) - beyond - 1)
    value = xs[i]
    return value, 100.0 * (i + 1) / len(xs), sum(1 for x in xs if x > value)


def geomean(samples):
    if not samples or min(samples) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in samples) / len(samples))


def failed_frac(attempted, failed):
    if attempted < 1:
        raise ValueError("no ops attempted")
    return failed / attempted


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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


def self_time(span, children):
    """Span duration minus the union of its children, clipped to it."""
    clipped = [(max(c["start"], span["start"]), min(c["end"], span["end"]))
               for c in children]
    return (span["end"] - span["start"]) - union_length(
        [(s, e) for s, e in clipped if e > s])


def write_amp(bytes_written, batch_bytes):
    if batch_bytes <= 0:
        raise ValueError("empty batch")
    return bytes_written / batch_bytes


def unstolen(seconds, steal):
    """Wall time less the share of busy CPU time the hypervisor stole
    meanwhile: the time the window would have taken on an unshared host.
    Equal to the wall time where nothing is stolen."""
    return seconds * (1.0 - steal)


def op_time(o):
    return unstolen(o["seconds"], o["steal"])


def best_pass(result):
    """The pass with the least total op time (replays excluded)."""
    totals = {}
    for o in result["ops"]:
        if not o["replay"]:
            totals[o["pass"]] = totals.get(o["pass"], 0.0) + op_time(o)
    return min(totals, key=totals.get), totals


def end_to_end(result):
    """The end-to-end metrics of one run. Each op runs once per pass and
    every run has at least two passes; an op's latency is its fastest
    successful run, which drops the cold first pass and short stalls of a
    shared machine. `pass_s` is the fastest pass. All times are unstolen."""
    best, totals = best_pass(result)
    fastest = {}
    for o in result["ops"]:
        if o["ok"] and not o["replay"]:
            fastest[o["name"]] = min(fastest.get(o["name"], o), o, key=op_time)
    lat = [op_time(o) for o in fastest.values()]
    t, pct, beyond = tail(lat)
    return {
        "setup_s": statistics.median(
            unstolen(t, s) for t, s in zip(result["setup_s"], result["setup_steal"])),
        "pass_s": totals[best],
        "latency_geomean_s": geomean(lat),
        "rows_per_s": sum(o["rows"] for o in fastest.values()) / sum(lat),
    }, {"latency_p50_s": statistics.median(lat), "latency_tail_s": t,
        "latency_tail_pct": pct, "latency_tail_beyond": beyond, "latency_n": len(lat)}


def _attach(spans):
    """Re-parent job and plan spans to the deepest client span that was
    open when they started (a job, within its recorded parent) or ended (a
    plan: its analysis may run while the DataFrame is built, its planning
    runs in the action). Returns the children of each span id."""
    client = [s for s in spans if s["kind"] not in ("job", "plan")]
    by_id = {s["id"]: s for s in client}
    depth = {}

    def d(s):
        if s["id"] not in depth:
            depth[s["id"]] = 0 if s["parent"] not in by_id else 1 + d(by_id[s["parent"]])
        return depth[s["id"]]

    def within(s, root):
        while s is not None:
            if s["id"] == root:
                return True
            s = by_id.get(s["parent"])
        return False

    kids = {}
    for s in spans:
        parent = s["parent"]
        if s["kind"] in ("job", "plan"):
            t = s["start"] if s["kind"] == "job" else s["end"]
            cands = [p for p in client if p["start"] <= t <= p["end"]
                     and (s["kind"] == "plan" or parent < 0 or within(p, parent))]
            if cands:
                parent = max(cands, key=d)["id"]
            s["parent"] = parent
        kids.setdefault(parent, []).append(s)
    return kids


def _subtree(kids, root):
    out, stack = [], [root]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c["id"])
    return out


GROUPS = ["ops", "streaming", "sources", "domain",
          "dedup", "similarity", "text", "mm", "training"]


def layers(result, per_layer_names):
    """Per-layer totals over the fastest pass of a traced run.
    Every name in `per_layer_names` gets a value; a layer the workload
    does not reach reads 0."""
    spans = [dict(s) for s in result["spans"]]
    kids = _attach(spans)
    best, totals = best_pass(result)
    ops = [s for s in spans if s["kind"] == "op" and s["attrs"].get("pass") == best
           and s["name"] != "replay"]
    sec = 1e-9
    m = {}

    def jobs(root):
        return [s for s in _subtree(kids, root) if s["kind"] == "job"]

    def attr_sum(js, k):
        return sum(j["attrs"][k] for j in js)

    all_jobs = [j for o in ops for j in jobs(o["id"])]
    wall = sum(o["end"] - o["start"] for o in ops) * sec
    construct = [c for o in ops for c in kids.get(o["id"], []) if c["kind"] == "construct"]
    actions = [c for o in ops for c in kids.get(o["id"], []) if c["kind"] == "action"]
    m["queries.construct_s"] = sum(c["end"] - c["start"] for c in construct) * sec
    m["queries.construct_jobs"] = sum(len(jobs(c["id"])) for c in construct)
    m["catalyst.plan_s"] = sum(
        sum(v for k, v in p["attrs"].items() if k.endswith("_ms"))
        for a in actions for p in _subtree(kids, a["id"]) if p["kind"] == "plan") / 1e3
    m["scheduler.jobs"] = len(all_jobs)
    m["scheduler.stages"] = attr_sum(all_jobs, "stages")
    m["scheduler.tasks"] = attr_sum(all_jobs, "tasks")
    m["scheduler.slot_busy_frac"] = (
        attr_sum(all_jobs, "run_ms") / 1e3 / (wall * result["slots"]) if wall else 0.0)
    m["executor.cpu_s"] = attr_sum(all_jobs, "cpu_ns") * sec
    m["executor.run_s"] = attr_sum(all_jobs, "run_ms") / 1e3
    m["executor.gc_s"] = attr_sum(all_jobs, "gc_ms") / 1e3
    m["executor.shuffle_read_bytes"] = attr_sum(all_jobs, "shuffle_read")
    m["executor.shuffle_write_bytes"] = attr_sum(all_jobs, "shuffle_write")
    m["executor.spill_bytes"] = attr_sum(all_jobs, "spill")
    for g in GROUPS:
        gops = [o for o in ops if o["attrs"].get("group") == g]
        if not gops:
            continue
        m[f"{g}.wall_s"] = sum(o["end"] - o["start"] for o in gops) * sec
        m[f"{g}.construct_s"] = sum(c["end"] - c["start"] for o in gops
                                    for c in kids.get(o["id"], [])
                                    if c["kind"] == "construct") * sec
        m[f"{g}.cpu_s"] = sum(attr_sum(jobs(o["id"]), "cpu_ns") for o in gops) * sec
    # pipeline: the runner's steps and the source's endpoint calls
    upserts = [c for o in ops for c in kids.get(o["id"], []) if c["kind"] == "upsert"]
    if upserts:
        wms = [c for o in ops for c in kids.get(o["id"], []) if c["kind"] == "watermark"]
        m["domain.watermark_s"] = sum(c["end"] - c["start"] for c in wms) * sec
        m["domain.upsert_s"] = sum(c["end"] - c["start"] for c in upserts) * sec
        ujobs = [j for u in upserts for j in jobs(u["id"])]
        m["domain.upsert_jobs"] = len(ujobs)
        m["domain.upsert_self_s"] = sum(
            self_time(u, jobs(u["id"])) for u in upserts) * sec
        m["domain.bytes_written"] = attr_sum(ujobs, "bytes_written")
        calls = [c for c in result["layers"].get("endpoint_calls", []) if c["pass"] == best]
        m["domain.write_amp"] = write_amp(m["domain.bytes_written"],
                                          sum(c["batch_bytes"] for c in calls))
        m["sources.extract_s"] = sum(c["seconds"] for c in calls)
        m["sources.extract_rows"] = sum(c["rows"] for c in calls)
        replays = [op_time(o) for o in result["ops"] if o["replay"] and o["ok"]]
        m["domain.replay_p50_s"] = statistics.median(replays) if replays else 0.0
    m.update(result["layers"])
    m["jvm.peak_rss_mb"] = result["peak_rss_mb"]
    m["jvm.heap_retained_mb"] = result["heap_retained_mb"]
    m["trace.pass_s"] = totals[best]
    return {n: m.get(n, 0.0) for n in per_layer_names}
