"""Self-tests of the harness's Python side: python3 perfbench/test_bench.py"""

import json
import os
import tempfile
import unittest

import mix as mixlib
import stats


class PercentileRule(unittest.TestCase):
    def test_p90_needs_100_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile(list(range(99)), 0.9)
        self.assertEqual(stats.percentile(list(range(1, 101)), 0.9), 90)

    def test_ten_samples_beyond(self):
        vals = list(range(1, 101))
        p90 = stats.percentile(vals, 0.9)
        self.assertEqual(sum(v > p90 for v in vals), 10)

    def test_median_needs_20_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile(list(range(19)), 0.5)
        self.assertEqual(stats.percentile(list(range(1, 21)), 0.5), 10)
        with self.assertRaises(ValueError):
            stats.median(list(range(19)))
        self.assertEqual(stats.median(list(range(1, 21))), 10.5)


def span(i, parent, start, end, kind="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "kind": kind, "name": str(i)}


class SelfTime(unittest.TestCase):
    def test_nested(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 1, 4), span(3, 2, 2, 3), span(4, 1, 5, 9)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 10 - 3 - 4)
        self.assertAlmostEqual(st[2], 3 - 1)
        self.assertAlmostEqual(st[3], 1)
        self.assertAlmostEqual(st[4], 4)
        self.assertAlmostEqual(sum(st.values()), 10)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 1, 6), span(3, 1, 4, 8)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 10 - 7)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, 0, 5), span(2, 1, 3, 9)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 3)

    def test_concurrent_jobs_add_up_to_wall(self):
        spans = [span(1, 0, 0, 10, "phase"), span(2, 1, 0, 10, "inv"),
                 span("j1", 2, 1, 6, "job"), span("j2", 2, 3, 7, "job")]
        totals = stats.layer_totals(spans, [1])
        self.assertAlmostEqual(totals["job"], 6)
        self.assertAlmostEqual(totals["inv"], 4)
        self.assertAlmostEqual(sum(totals.values()), 10)


def fresh_layers(**given):
    m = {n: 0.0 for n in stats.per_layer_names()}
    m.update({k.replace("__", "."): v for k, v in given.items()})
    return m


class AddUp(unittest.TestCase):
    def test_within_tolerance(self):
        m = fresh_layers(artifact__sim_s=6.0, SimQueries__cold__exec_s=4.5)
        ok, ratio = stats.layers_add_up(m, 10.0, 0.1)
        self.assertTrue(ok)
        self.assertAlmostEqual(ratio, 1.05)

    def test_outside_tolerance(self):
        m = fresh_layers(artifact__sim_s=6.0, RelQueries__cold__build_s=6.0)
        ok, _ = stats.layers_add_up(m, 10.0, 0.1)
        self.assertFalse(ok)

    def test_a_missing_layer_fails(self):
        # the cold pass's exec time is not reported: the layers fall short
        m = fresh_layers(artifact__sim_s=6.0, SimQueries__cold__build_s=0.5)
        ok, ratio = stats.layers_add_up(m, 10.0)
        self.assertFalse(ok)
        self.assertAlmostEqual(ratio, 0.65)

    def test_only_fresh_layers_count(self):
        # warm rows and the sim legs (a split of artifact.sim_s) are not part of fresh_s
        m = fresh_layers(artifact__sim_s=10.0, SimQueries__warm__exec_s=5.0,
                         artifact__sim__pair_moments_dec_n2_s=4.0, spark__cold__task_run_s=9.0)
        self.assertEqual(stats.layers_add_up(m, 10.0), (True, 1.0))

    def test_zero_total_refused(self):
        with self.assertRaises(ValueError):
            stats.layers_add_up(fresh_layers(), 0.0)


def synthetic_run():
    """Harness events of a tiny traced run: one artifact, one query cold and warm."""
    sp = lambda i, parent, kind, name, a, b: {"ev": "span", "id": i, "parent": parent,
                                             "kind": kind, "name": name, "start": a, "end": b}
    job = lambda i, parent, phase, a, b: {
        "ev": "job", "id": i, "parent": parent, "phase": phase, "start": a, "end": b,
        "failed": False, "stages": 1, "tasks": 4, "task_run_s": 2.0 * (b - a), "gc_s": 0.1,
        "scheduler_delay_s": 0.01, "shuffle_write_bytes": 10, "shuffle_read_bytes": 10,
        "spill_bytes": 0, "failed_tasks": 0}
    return [
        {"ev": "setup", "register_s": 1.0, "relayout_s": 0.5, "ready_epoch_s": 3.0},
        sp(1, 0, "run", "run", 0, 20), sp(2, 1, "phase", "setup", 0, 3),
        sp(3, 1, "phase", "build", 3, 8), sp(4, 3, "artifact", "sim", 3, 8),
        job(0, 4, "build", 3.5, 7.5),
        {"ev": "artifact", "name": "sim", "sec": 5.0, "err": None},
        sp(5, 1, "phase", "cold", 8, 12), sp(6, 5, "inv", "q_a", 8, 12),
        sp(7, 6, "build", "q_a", 8, 9), sp(8, 6, "plan", "q_a", 9, 9.5),
        sp(9, 6, "exec", "q_a", 9.5, 12), job(1, 7, "cold", 8.2, 8.8), job(2, 9, "cold", 9.6, 11.6),
        {"ev": "inv", "phase": "cold", "q": "q_a", "sec": 4.0, "rows": 3, "err": None,
         "build_s": 1.0, "plan_s": 0.5, "exec_s": 2.5},
        sp(10, 1, "phase", "warm", 12, 20), sp(11, 10, "inv", "q_a", 12, 13),
        sp(12, 11, "exec", "q_a", 12.2, 13), job(3, 12, "warm", 12.3, 12.9),
        {"ev": "inv", "phase": "warm", "q": "q_a", "sec": 1.0, "rows": 3, "err": None,
         "build_s": 0.1, "plan_s": 0.1, "exec_s": 0.8},
        {"ev": "plan", "q": "q_a", "counts": {"exchange": 2, "wscg": 3}},
        {"ev": "phase", "name": "warm", "wall_s": 8.0, "invocations": 8, "rounds": 8},
        {"ev": "stream", "queries": 0, "batches": 0, "input_rows": 0, "batch_s": 0.0,
         "state_rows": 0},
        {"ev": "io", "bytes": 1234},
    ]


class PerLayer(unittest.TestCase):
    def test_metrics_of_a_synthetic_run(self):
        untraced = {"fresh_s": 8.5, "warm_qps": 1.25}
        m, add_up = stats.per_layer(synthetic_run(), {"q_a": "RelQueries"}, 4,
                                    {"pair_moments_dec_n2": 2.0}, untraced)
        self.assertEqual(sorted(m), sorted(stats.per_layer_names()))
        self.assertEqual(m["artifact.sim_s"], 5.0)
        self.assertEqual(m["artifact.sim.pair_moments_dec_n2_s"], 2.0)
        self.assertEqual(m["RelQueries.cold.jobs"], 2)
        self.assertEqual(m["RelQueries.warm.jobs"], 1)
        self.assertEqual(m["RelQueries.cold.exec_s"], 2.5)
        self.assertEqual(m["plan.exchange"], 2)
        self.assertEqual(m["spark.cold.tasks"], 8)
        self.assertAlmostEqual(m["spark.build.core_busy_ratio"], 8.0 / (5 * 4))
        self.assertAlmostEqual(m["trace.overhead_fresh_s"], 9.0 - 8.5)
        self.assertAlmostEqual(m["trace.overhead_warm_qps"], 8 / 8.0 - 1.25)
        # build + cold phases last 9 s; their span self times add up to it
        self.assertAlmostEqual(sum(add_up["fresh_self_s"].values()), 9.0)
        # artifact 5 s + cold build, plan and exec 4 s against 8.5 s untraced
        self.assertAlmostEqual(add_up["add_up_ratio"], 9.0 / 8.5)
        self.assertTrue(add_up["add_up_ok"])

    def test_names_match_benchmark_json(self):
        path = os.path.join(os.path.dirname(stats.__file__), "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside this directory")
        with open(path) as f:
            spec = json.load(f)
        import run
        self.assertEqual([m["name"] for m in spec["per_layer"]], stats.per_layer_names())
        self.assertEqual([m["name"] for m in spec["end_to_end"]], list(run.END_TO_END))
        for m in spec["end_to_end"] + spec["per_layer"]:
            if m["name"] in run.END_TO_END:
                self.assertEqual(m["unit"], run.END_TO_END[m["name"]])
            else:
                self.assertEqual(m["unit"], stats.unit_of(m["name"]))


def harness_output(trace, cold_exec_s=2.5):
    """What the harness JVM reports for the one-query mix of RunFlow."""
    ev = synthetic_run()
    for e in ev:
        if e["ev"] == "inv" and e["phase"] == "cold":
            e["exec_s"] = cold_exec_s
    ev = [e for e in ev if trace or e["ev"] not in ("span", "job", "plan")]
    warm = next(e for e in ev if e["ev"] == "inv" and e["phase"] == "warm")
    ev += [dict(warm) for _ in range(19)]
    return ev + [{"ev": "heap", "live_bytes": 3 << 20},
                 {"ev": "env", "java": "17", "spark": "3.5", "cpus": 4},
                 {"ev": "rss", "vmhwm_kb": 2048}, {"ev": "end"}]


class RunFlow(unittest.TestCase):
    """`run.main` with the build and the JVMs replaced by fakes."""

    def run_main(self, trace, cold_exec_s=2.5):
        import contextlib
        import io
        from unittest import mock
        import run
        spec = {"workloads": {"w": {"artifacts": ["sim"], "strata": [
            {"name": "RelQueries", "band": 1, "queries": ["q_a"]}]}},
            "modules": {"q_a": "RelQueries"}}
        plans = []

        def fake_jvm(cp, heap, rundir, plan, deadline):
            plans.append(plan)
            traced = "trace 1" in plan
            return harness_output(traced, cold_exec_s if traced else 2.5), "", 0.0

        out = io.StringIO()
        with mock.patch.object(run.mixlib, "load_spec", return_value=spec), \
                mock.patch.object(run.mixlib, "load_expected", return_value={"q_a": 3}), \
                mock.patch.object(run, "check_inputs"), \
                mock.patch.object(run, "build", return_value=("cp", "digest")), \
                mock.patch.object(run, "run_jvm", side_effect=fake_jvm), \
                contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
            run.main(["--workload", "w", "--seed", "1", "--seconds", "1",
                      "--trace", str(trace)])
        return plans, json.loads(out.getvalue().splitlines()[-1])

    def test_untraced_prints_end_to_end(self):
        import run
        plans, res = self.run_main(0)
        self.assertEqual(len(plans), 1)
        self.assertEqual(sorted(res["metrics"]), sorted(run.END_TO_END))
        self.assertTrue(res["correct"])

    def test_traced_always_runs_untraced_first_on_the_same_mix(self):
        plans, res = self.run_main(1)
        self.assertEqual(len(plans), 2)
        self.assertIn("trace 0", plans[0])
        self.assertEqual([l for l in plans[1] if l != "trace 1"],
                         [l for l in plans[0] if l != "trace 0"])
        self.assertEqual(sorted(res["metrics"]), sorted(stats.per_layer_names()))
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)

    def test_layers_that_do_not_add_up_make_the_run_incorrect(self):
        _, res = self.run_main(1, cold_exec_s=0.0)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)


SPEC = {"workloads": {
    "w": {"artifacts": ["a"], "strata": [
        {"name": "M1", "band": 3, "queries": ["q%d" % i for i in range(9)]},
        {"name": "M2", "band": 4, "queries": ["r%d" % i for i in range(7)]},
        {"name": "heavy", "band": 2, "queries": ["h0", "h1"]}]},
    "all": {"artifacts": [], "strata": [{"name": "M", "band": 1, "queries": ["x", "y", "z"]}]},
}}


class Mix(unittest.TestCase):
    def test_same_seed_same_mix_and_order(self):
        self.assertEqual(mixlib.resolve(SPEC, "w", 7), mixlib.resolve(SPEC, "w", 7))

    def test_other_seed_other_order_same_sample(self):
        a, b = mixlib.resolve(SPEC, "w", 1), mixlib.resolve(SPEC, "w", 2)
        self.assertNotEqual(a["cold"], b["cold"])
        self.assertNotEqual(a["rounds"], b["rounds"])
        self.assertEqual(sorted(a["cold"]), sorted(b["cold"]))
        self.assertNotEqual(mixlib.mix_digest(a), mixlib.mix_digest(b))

    def test_bands_are_even_and_cover_the_stratum(self):
        qs = list(range(7))
        bs = mixlib.bands(qs, 4)
        self.assertEqual([len(b) for b in bs], [3, 4])
        self.assertEqual(sum(bs, []), qs)
        self.assertEqual(mixlib.bands(qs, 1), [[q] for q in qs])

    def test_one_query_per_band_per_stratum(self):
        for seed in range(20):
            picked = set(mixlib.resolve(SPEC, "w", seed)["cold"])
            self.assertEqual(len(picked), 3 + 2 + 1)
            for s in SPEC["workloads"]["w"]["strata"]:
                for b in mixlib.bands(s["queries"], s["band"]):
                    self.assertEqual(len(picked & set(b)), 1)

    def test_rounds_are_permutations_of_the_mix(self):
        m = mixlib.resolve(SPEC, "all", 3)
        self.assertEqual(sorted(m["cold"]), ["x", "y", "z"])
        for r in m["rounds"]:
            self.assertEqual(sorted(r), sorted(m["cold"]))
        self.assertGreater(len({tuple(r) for r in m["rounds"]}), 1)

    def test_committed_workloads_are_disjoint_and_checked(self):
        spec = mixlib.load_spec()
        expected = mixlib.load_expected()
        seen = {}
        for name, w in spec["workloads"].items():
            for s in w["strata"]:
                for q in s["queries"]:
                    self.assertNotIn(q, seen, "%s in %s and %s" % (q, seen.get(q), name))
                    seen[q] = name
                    self.assertIn(q, expected)
                    self.assertIn(q, spec["modules"])


class ExpectedRows(unittest.TestCase):
    def write(self, doc):
        fd, path = tempfile.mkstemp(suffix=".json")
        with os.fdopen(fd, "w") as f:
            json.dump(doc, f)
        self.addCleanup(os.remove, path)
        return path

    def test_loads_counts(self):
        path = self.write({"source": "x", "rows": {"q_a": 3, "q_b": 0}})
        self.assertEqual(mixlib.load_expected(path), {"q_a": 3, "q_b": 0})

    def test_rejects_non_counts(self):
        for bad in (-1, 2.5, "7", None, True):
            path = self.write({"rows": {"q_a": bad}})
            with self.assertRaises(ValueError):
                mixlib.load_expected(path)

    def test_committed_file_loads(self):
        self.assertGreater(len(mixlib.load_expected()), 0)


if __name__ == "__main__":
    unittest.main()
