#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload cf_batch --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) into `.bench_build/`; later runs
reuse the build while the sources are unchanged. Each run then starts
fresh JVMs on the committed sf0.01 tables under `perfbench/data/`, each
in its own working directory under `.bench_build/runs/`, which is
measured and deleted afterwards. `--record FILE` also writes the full
record, with provenance; without it a run keeps nothing but the build.

`--trace 0` prints the end-to-end metrics. `--trace 1` runs the same mix
untraced and then traced, in two fresh JVMs, and prints the per-layer
metrics, including the tracing overhead. See README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import mix as mixlib
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
SF = "0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# The warm loop runs whole rounds until --seconds have passed and at least
# this many invocations are done: enough for a median (10 samples beyond it).
WARM_MIN = 20
# Printed with --trace 0, in this order. The record also keeps error_rate,
# warm_p50_ms, peak_rss_mb and, when the warm loop reached 100 invocations,
# warm_p90_ms.
END_TO_END = {"setup_s": "s", "fresh_s": "s", "warm_qps": "1/s", "live_heap_mb": "MB"}
BUILD_TIMEOUT_S = 850
# Everything after the build must end within this many seconds, so that a
# run takes at most 180 s. A `--trace 1` run's two JVMs share it.
RUN_BUDGET_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


_children = []


def stop_children(*_):
    """Kill and reap every process this run started, then exit."""
    for p in _children:
        if p.poll() is None:
            p.kill()
            p.wait()
    sys.exit(1)


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def host_cpus():
    return len(os.sched_getaffinity(0))


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def host_heap():
    """The test suite's SPARK_DRIVER_MEM rule: half of MemTotal, 2g to 8g."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return "%dg" % min(8, max(2, kb // 2097152))


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness once per source digest; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("engine sources not found under %s/src/main/scala" % ROOT)
    digest = source_digest()
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip(), digest
    os.makedirs(WORK, exist_ok=True)
    log("building engine and harness (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True)
    _children.append(p)
    try:
        out, err = p.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise BenchError("build did not finish within %d s" % BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(out[-4000:] + err[-4000:])
        raise BenchError("build failed")
    cp = [line for line in out.splitlines() if line.strip()][-1].strip()
    if ".bench_build" not in cp:
        raise BenchError("could not read the classpath from sbt")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log("build done in %.1f s" % (time.time() - t0))
    return cp, digest


def java_cmd(cp, heap, work, args):
    opens = [x for m in ADD_OPENS for x in ("--add-opens", m + "=ALL-UNNAMED")]
    props = {
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "graft.rec.storeBase": os.path.join(work, "rec_store"),
        "graft.ann.indexBase": os.path.join(work, "ann_index"),
        "graft.dedup.indexBase": os.path.join(work, "dedup_index"),
        "graft.fixture.dir": os.path.join(work, "fixtures"),
    }
    return (["java", "-Xmx" + heap] + opens
            + ["-D%s=%s" % kv for kv in sorted(props.items())]
            + ["-cp", cp, "perfbench.Harness"] + args)


def run_jvm(cp, heap, rundir, plan_lines, deadline):
    """Run the harness on one plan in a fresh JVM and working directory.

    Returns (events, stderr text, start epoch). The JVM works in
    `rundir/work`, where everything the engine writes lands; the plan, the
    output and the logs stay beside it. The directory is deleted afterwards
    whatever happens.
    """
    work = os.path.join(rundir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    plan = os.path.join(rundir, "plan.txt")
    out = os.path.join(rundir, "out.jsonl")
    with open(plan, "w") as f:
        f.write("\n".join(plan_lines) + "\n")
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    err_path = os.path.join(rundir, "stderr.txt")
    try:
        with open(err_path, "w") as err, open(os.path.join(rundir, "stdout.txt"), "w") as so:
            t0 = time.time()
            proc = subprocess.Popen(java_cmd(cp, heap, work, ["run", plan, out]),
                                    cwd=work, env=env, stdin=subprocess.DEVNULL,
                                    stdout=so, stderr=err)
            _children.append(proc)
            try:
                rc = proc.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise BenchError("harness JVM did not finish within the run budget")
        with open(err_path, errors="replace") as f:
            err_text = f.read()
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(err_text[-3000:])
            raise BenchError("harness JVM failed with exit code %d" % rc)
        with open(out) as f:
            events = [json.loads(line) for line in f if line.strip()]
        if not events or events[-1]["ev"] != "end":
            raise BenchError("harness output is incomplete")
        return events, err_text, t0
    finally:
        shutil.rmtree(rundir, ignore_errors=True)


def plan_lines(mix, cpus, trace, seconds):
    lines = ["data " + DATA, "cpus %d" % cpus, "trace %d" % trace,
             "warm_seconds %s" % seconds, "warm_min %d" % WARM_MIN]
    lines += ["artifact " + a for a in mix["artifacts"]]
    lines += ["cold " + q for q in mix["cold"]]
    lines += ["round " + ",".join(r) for r in mix["rounds"]]
    return lines


def setup_seconds(events, t0):
    """Process start to session up, tables registered and relayout written."""
    return next(e["ready_epoch_s"] for e in events if e["ev"] == "setup") - t0


def sim_legs(err_text):
    """The sim artifact's leg timers, from the `[sim-warm]` lines it prints."""
    legs = {}
    for line in err_text.splitlines():
        parts = line.split()
        if len(parts) >= 3 and parts[0] == "[sim-warm]":
            legs[parts[1].split("+")[0]] = float(parts[2])
    return legs


def end_to_end(events, setup, expected):
    """End-to-end metrics of one untraced run and its invocation failures."""
    invs = [e for e in events if e["ev"] == "inv"]
    arts = [e for e in events if e["ev"] == "artifact"]
    failures = []
    for e in arts:
        if e["err"]:
            failures.append({"artifact": e["name"], "err": e["err"]})
    for e in invs:
        want = expected.get(e["q"])
        if e["err"] or want is None or e["rows"] != want:
            failures.append({"phase": e["phase"], "q": e["q"], "rows": e["rows"],
                             "expected": want, "err": e["err"]})
    warm = [e["sec"] * 1e3 for e in invs if e["phase"] == "warm"]
    wp = next(e for e in events if e["ev"] == "phase" and e["name"] == "warm")
    rss = next(e["vmhwm_kb"] for e in events if e["ev"] == "rss")
    live = next(e["live_bytes"] for e in events if e["ev"] == "heap")
    attempted = len(invs) + len(arts)
    metrics = {
        "setup_s": setup,
        "fresh_s": sum(e["sec"] for e in arts) + sum(e["sec"] for e in invs if e["phase"] == "cold"),
        "warm_p50_ms": stats.median(warm),
        "warm_p90_ms": stats.percentile(warm, 0.9) if len(warm) >= 100 else None,
        "warm_qps": len(warm) / wp["wall_s"],
        "error_rate": len(failures) / attempted,
        "live_heap_mb": live / 1048576.0,
        "peak_rss_mb": rss / 1024.0,
    }
    return metrics, attempted, failures


def git_sha():
    try:
        p = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def check_inputs(spec, name):
    if name not in spec["workloads"]:
        raise BenchError("unknown workload %r (have: %s)"
                         % (name, ", ".join(sorted(spec["workloads"]))))
    missing = [t for t in TABLES if not os.path.exists(os.path.join(DATA, t + ".parquet"))]
    if missing:
        raise BenchError("input tables missing under %s: %s" % (DATA, ", ".join(missing)))


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write the full record, with provenance, to this file")
    a = ap.parse_args(argv)

    spec = mixlib.load_spec()
    check_inputs(spec, a.workload)
    expected = mixlib.load_expected()
    mix = mixlib.resolve(spec, a.workload, a.seed)
    missing = sorted(set(mix["cold"]) - set(expected))
    if missing:
        raise BenchError("no expected row count for: " + ", ".join(missing))
    cp, digest = build()
    deadline = time.time() + RUN_BUDGET_S
    cpus, heap = host_cpus(), host_heap()
    tag = "%s-s%d-%d" % (a.workload, a.seed, os.getpid())
    runs = os.path.join(WORK, "runs")
    prov = {"git_sha": git_sha(), "source_digest": digest, "cpus": cpus, "heap": heap,
            "sf": SF, "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "mix_digest": mixlib.mix_digest(mix), "artifacts": mix["artifacts"],
            "cold": mix["cold"]}

    def measured(trace, name):
        """Run the mix in a fresh JVM; return its events and provenance."""
        load, ticks = os.getloadavg()[0], cpu_ticks()
        events, err_text, t0 = run_jvm(cp, heap, os.path.join(runs, name),
                                       plan_lines(mix, cpus, trace, a.seconds), deadline)
        env = next(e for e in events if e["ev"] == "env")
        steal, total = (y - x for x, y in zip(ticks, cpu_ticks()))
        # cpu_steal_share: CPU time the hypervisor gave to other guests
        return events, err_text, t0, dict(
            prov, trace=trace, java=env["java"], spark=env["spark"],
            load_1m_start=load, load_1m_end=os.getloadavg()[0],
            cpu_steal_share=steal / max(total, 1),
            time=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))

    # The untraced run always comes first, on the same seed as a traced one.
    events, _, t0, u_prov = measured(0, tag)
    e2e, attempted, failures = end_to_end(events, setup_seconds(events, t0), expected)
    record = {"provenance": u_prov, "failures": failures,
              "untraced": {"metrics": e2e, "events": events}}
    log("provenance " + json.dumps({k: v for k, v in u_prov.items() if k != "cold"}))

    if a.trace:
        tev, terr, t0, t_prov = measured(1, tag + "-traced")
        _, t_attempted, t_failures = end_to_end(tev, setup_seconds(tev, t0), expected)
        layer, add_up = stats.per_layer(tev, spec["modules"], cpus, sim_legs(terr), e2e)
        # The add-up check counts as one more operation, failed when out of tolerance.
        if not add_up["add_up_ok"]:
            t_failures.append({"check": "add_up", "ratio": add_up["add_up_ratio"],
                               "tolerance": add_up["add_up_tolerance"]})
        attempted += t_attempted + 1
        failures += t_failures
        record["traced"] = {"provenance": t_prov, "failures": t_failures, "metrics": layer,
                            "add_up": add_up, "events": tev}
        log("layer times add up to %.3f of the untraced fresh_s (tolerance %.2f)"
            % (add_up["add_up_ratio"], add_up["add_up_tolerance"]))
        metrics = {n: {"value": layer[n], "unit": stats.unit_of(n)}
                   for n in stats.per_layer_names()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}

    if a.record:
        with open(a.record, "w") as f:
            json.dump(record, f)
    for fl in failures:
        log("FAILED %s" % json.dumps(fl))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    try:
        sys.exit(main(sys.argv[1:]))
    except (BenchError, subprocess.TimeoutExpired, OSError, ValueError, KeyError) as e:
        log("error: %s" % e)
        sys.exit(2)
