"""Statistics, span self times and the per-layer metrics of a traced run."""

import math
import statistics

MODULES = ["SimQueries", "RelQueries", "RelEventQueries", "RelStatsQueries",
           "ExtQueries", "ExtCurationQueries", "ExtServingQueries", "ExtWebQueries"]
ARTIFACTS = ["sim", "minhash", "simhash", "vectors", "shingle_postings",
             "lm_tables", "knn_graph", "media_fixtures"]
SIM_LEGS = ["ratings_bucketed", "pair_moments_long", "pair_moments_dec_n2", "max_user_items"]
SPARK_PHASES = ["build", "cold", "warm"]
SPARK_FIELDS = ["stages", "tasks", "task_run_s", "gc_s", "scheduler_delay_s",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                "failed_tasks", "core_busy_ratio"]
PLAN_KEYS = ["exchange", "broadcast_exchange", "bnlj", "cartesian", "sort_aggregate",
             "inmemory_scan", "file_scan", "wscg", "window_unpartitioned", "graft_native"]
STREAM_KEYS = ["queries", "batches", "input_rows", "batch_s", "state_rows"]
# The per-layer times that make up fresh_s (each artifact's timer and the
# build, plan and exec of every cold invocation) must add up to the
# untraced fresh_s within this share, or the traced run is not correct.
# The two runs are separate JVMs: on a 4-core host, fresh_s of runs made
# one after another differed by up to 10 %, and tracing added about 5 %.
ADD_UP_TOLERANCE = 0.20


def percentile(values, p):
    """Nearest-rank percentile that needs at least ten samples beyond it."""
    n = len(values)
    beyond = n - math.ceil(p * n)
    if beyond < 10:
        raise ValueError("p%g needs 10 samples beyond it; %d samples give %d"
                         % (p * 100, n, beyond))
    return sorted(values)[math.ceil(p * n) - 1]


def median(values):
    """The median (mean of the middle two for an even count); needs 20 samples,
    so that 10 lie beyond it."""
    if len(values) < 20:
        raise ValueError("a median needs 20 samples; got %d" % len(values))
    return statistics.median(values)


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Self time per span id: duration minus the part its children cover.

    `spans` are dicts with id, parent, start and end. Children that overlap
    each other (concurrent Spark jobs) are counted once, as their union.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ch = [(c["start"], c["end"]) for c in kids.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - covered(ch, s["start"], s["end"])
    return out


def layer_totals(spans, root_ids):
    """Time per layer (span kind) under the given roots, adding to their wall.

    Every span's self time goes to its kind. Spark jobs under one parent
    are counted as the union of their intervals, so concurrent jobs never
    add up to more than the time their parent waited on them.
    """
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    selfs = self_times(spans)
    totals = {}
    stack = [by_id[r] for r in root_ids]
    while stack:
        s = stack.pop()
        totals[s["kind"]] = totals.get(s["kind"], 0.0) + selfs[s["id"]]
        ch = kids.get(s["id"], [])
        jobs = [(c["start"], c["end"]) for c in ch if c["kind"] == "job"]
        if jobs:
            totals["job"] = totals.get("job", 0.0) + covered(jobs, s["start"], s["end"])
        stack += [c for c in ch if c["kind"] != "job"]
    return totals


def fresh_layer_names():
    """The printed per-layer metrics whose sum should make up fresh_s."""
    return (["artifact.%s_s" % a for a in ARTIFACTS]
            + ["%s.cold.%s" % (m, f) for m in MODULES for f in ("build_s", "plan_s", "exec_s")])


def layers_add_up(metrics, end_to_end, tolerance=ADD_UP_TOLERANCE):
    """(ok, ratio): do the fresh_s layers of `metrics` add up to the end-to-end total?"""
    if end_to_end <= 0:
        raise ValueError("end-to-end total must be positive")
    ratio = sum(metrics[n] for n in fresh_layer_names()) / end_to_end
    return abs(ratio - 1.0) <= tolerance, ratio


def per_layer_names():
    names = ["io.register_s", "io.relayout_s", "io.bytes_written"]
    names += ["artifact.%s_s" % a for a in ARTIFACTS]
    names += ["artifact.sim.%s_s" % g for g in SIM_LEGS]
    names += ["cache.mem_bytes", "cache.disk_bytes"]
    names += ["%s.%s.%s" % (m, ph, f) for m in MODULES for ph in ("cold", "warm")
              for f in ("build_s", "plan_s", "exec_s", "jobs")]
    names += ["spark.%s.%s" % (ph, f) for ph in SPARK_PHASES for f in SPARK_FIELDS]
    names += ["plan.%s" % k for k in PLAN_KEYS]
    names += ["streaming.%s" % k for k in STREAM_KEYS]
    names += ["trace.overhead_fresh_s", "trace.overhead_warm_qps"]
    return names


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "io.bytes_written":
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_qps"):
        return "1/s"
    return "count"


def per_layer(events, module_of, cpus, sim_legs, untraced):
    """The per-layer metrics of one traced run.

    `events` are the harness's records, `module_of` maps query → module,
    `sim_legs` holds the sim artifact's leg times and `untraced` the
    end-to-end metrics of the untraced run made beside it.
    """
    m = {n: 0.0 for n in per_layer_names()}
    setup = next(e for e in events if e["ev"] == "setup")
    m["io.register_s"] = setup["register_s"]
    m["io.relayout_s"] = setup["relayout_s"]
    m["io.bytes_written"] = next(e["bytes"] for e in events if e["ev"] == "io")
    for e in events:
        if e["ev"] == "artifact" and e["name"] in ARTIFACTS:
            m["artifact.%s_s" % e["name"]] = e["sec"]
        elif e["ev"] == "cache" and e["when"] == "cold":
            m["cache.mem_bytes"], m["cache.disk_bytes"] = e["mem"], e["disk"]
        elif e["ev"] == "plan":
            for k in PLAN_KEYS:
                m["plan." + k] += e["counts"].get(k, 0)
        elif e["ev"] == "stream":
            for k in STREAM_KEYS:
                m["streaming." + k] = e[k]
        elif e["ev"] == "inv":
            for f in ("build_s", "plan_s", "exec_s"):
                m["%s.%s.%s" % (module_of[e["q"]], e["phase"], f)] += e[f]
    for g in SIM_LEGS:
        m["artifact.sim.%s_s" % g] = sim_legs.get(g, 0.0)

    spans = [e for e in events if e["ev"] == "span"]
    jobs = [dict(e, kind="job", id="job%d" % e["id"]) for e in events if e["ev"] == "job"]
    by_id = {s["id"]: s for s in spans}

    def ancestor(span_id, kind):
        s = by_id.get(span_id)
        while s is not None and s["kind"] != kind:
            s = by_id.get(s["parent"])
        return s

    for j in jobs:
        inv = ancestor(j["parent"], "inv")
        phase = ancestor(j["parent"], "phase")
        if inv is not None and phase is not None and phase["name"] in ("cold", "warm"):
            m["%s.%s.jobs" % (module_of[inv["name"]], phase["name"])] += 1
    walls = {s["name"]: s["end"] - s["start"] for s in spans if s["kind"] == "phase"}
    for ph in SPARK_PHASES:
        mine = [j for j in jobs if j["phase"] == ph]
        for f in SPARK_FIELDS[:-1]:
            m["spark.%s.%s" % (ph, f)] = sum(j[f] for j in mine)
        wall = walls.get(ph, 0.0)
        if wall > 0:
            m["spark.%s.core_busy_ratio" % ph] = m["spark.%s.task_run_s" % ph] / (wall * cpus)

    traced_fresh = walls.get("build", 0.0) + walls.get("cold", 0.0)
    warm = next(e for e in events if e["ev"] == "phase" and e["name"] == "warm")
    m["trace.overhead_fresh_s"] = traced_fresh - untraced["fresh_s"]
    m["trace.overhead_warm_qps"] = warm["invocations"] / warm["wall_s"] - untraced["warm_qps"]

    roots = [s["id"] for s in spans if s["kind"] == "phase" and s["name"] in ("build", "cold")]
    ok, ratio = layers_add_up(m, untraced["fresh_s"])
    return m, {"fresh_self_s": layer_totals(spans + jobs, roots), "add_up_ratio": ratio,
               "add_up_ok": ok, "add_up_tolerance": ADD_UP_TOLERANCE}
