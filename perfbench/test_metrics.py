"""Self-tests for the benchmark's arithmetic, on synthetic samples and spans.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import metrics  # noqa: E402


def span(i, parent, t0, t1, kind="x", name="n", **attrs):
    return {"id": i, "parent": parent, "kind": kind, "name": name, "t0": t0, "t1": t1,
            "attrs": attrs}


class TailTest(unittest.TestCase):
    def test_leaves_exactly_ten_samples_above(self):
        xs = list(range(1, 41))  # 40 samples
        value, pct, n = metrics.tail(xs)
        self.assertEqual(value, 30)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(pct, 75.0)
        self.assertEqual(n, 40)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3] * 5), metrics.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_eleven_samples_give_the_minimum(self):
        value, pct, _ = metrics.tail(list(range(11)))
        self.assertEqual(value, 0)
        self.assertAlmostEqual(pct, 100 / 11)

    def test_ten_or_fewer_samples_give_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 9.0, 1.0]), (9.0, 100.0, 3))
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0))


class SelfTimeTest(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.covered([(0, 4), (2, 6), (8, 20)], 1, 10), 7)
        self.assertEqual(metrics.covered([], 0, 5), 0)
        self.assertEqual(metrics.covered([(6, 9)], 0, 5), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
                 span(4, 2, 15, 20), span(5, 1, 90, 120)]
        own = metrics.self_times(spans)
        self.assertEqual(own[1], 100 - (50 + 10))  # children cover 10-60 and 90-100
        self.assertEqual(own[2], 30 - 5)
        self.assertEqual(own[4], 5)
        self.assertEqual(own[5], 30)


class QueryP50Test(unittest.TestCase):
    def test_median_of_gate_medians(self):
        def sample(gate, latency):
            return {"gate": gate, "t0": 0.0, "t2": latency * 1e3}
        samples = ([sample("fast", x) for x in (0.1, 0.1, 0.9)] +
                   [sample("slow", x) for x in (0.5, 0.6, 0.7)])
        # gate medians 0.1 and 0.6; the pooled median would be 0.55
        self.assertAlmostEqual(metrics.query_p50(samples), 0.35)
        self.assertAlmostEqual(metrics.query_p50(samples[:3]), 0.1)


class SchedTest(unittest.TestCase):
    def test_slack_is_wall_minus_task_time_per_core(self):
        self.assertEqual(metrics.slack_s(10.0, 24.0, 4), 4.0)
        self.assertEqual(metrics.slack_s(2.0, 0.0, 4), 2.0)

    def test_useful_task_ratio(self):
        self.assertEqual(metrics.useful_task_ratio(3, 12), 0.25)
        self.assertEqual(metrics.useful_task_ratio(0, 0), 0.0)


def synthetic_run():
    """Two gates, one warm-up pass and two measured passes, with jobs,
    stages, Catalyst phases and one streaming batch."""
    samples, spans, passes = [], [], []
    sid = 0
    t = 1000.0
    for pss in (-1, 0, 1):
        p0 = t
        sid += 1
        pspan = sid
        for gate, build, action in (("a", 100.0, 300.0), ("b", 200.0, 400.0)):
            samples.append({"pass": pss, "gate": gate, "module": "ext", "t0": t,
                            "t1": t + build, "t2": t + build + action, "ok": True,
                            "error": None})
            sid += 1
            g = sid
            spans.append(span(g, pspan, t, t + build + action, "gate", gate, **{"pass": pss}))
            sid += 1
            spans.append(span(sid, g, t, t + build, "build", gate, **{"pass": pss}))
            sid += 1
            spans.append(span(sid, g, t + build, t + build + action, "action", gate,
                              **{"pass": pss}))
            t += build + action
        if pss >= 0:
            passes.append({"pass": pss, "t0": p0, "t1": t, "cpu_s": 1.5 + pss})
        spans.append(span(pspan, 0, p0, t, "pass", f"pass{pss}"))
    ms = {(s["gate"], s["pass"]): s for s in samples}
    jobs, stages = [], []
    for i, (gate, pss) in enumerate(ms):
        s = ms[(gate, pss)]
        # one eager job in the build step, tagged; one action job, untagged
        jobs.append({"id": 2 * i, "t0": s["t0"] + 10, "t1": s["t0"] + 60, "gate": gate,
                     "phase": "build", "pass": pss, "ok": True})
        jobs.append({"id": 2 * i + 1, "t0": s["t1"] + 10, "t1": s["t2"] - 10, "gate": None,
                     "phase": None, "pass": None, "ok": True})
        for j in (2 * i, 2 * i + 1):
            stages.append({"id": j, "attempt": 0, "job": j, "t0": jobs[j]["t0"],
                           "t1": jobs[j]["t1"], "ok": True, "tasks": 4, "task_failures": 0,
                           "useful_tasks": 1, "run_ms": 400, "cpu_ns": 2e8, "gc_ms": 10,
                           "shuffle_write_bytes": 100, "shuffle_read_bytes": 100,
                           "fetch_wait_ms": 0, "input_bytes": 1000, "input_rows": 10,
                           "output_bytes": 0, "output_rows": 0, "spill_bytes": 0,
                           "peak_exec_bytes": 64 * (j + 1)})
    queries = [{"analysis": {"t0": s["t0"] + 1, "t1": s["t0"] + 3},
                "optimization": {"t0": s["t1"] + 1, "t1": s["t1"] + 5},
                "planning": {"t0": s["t1"] + 5, "t1": s["t1"] + 9},
                "gate": s["gate"], "pass": s["pass"], "func": "final", "exchanges": 2}
               for s in samples]
    # an eager action on a memoized frame reports the same phases
    # again: counted once
    queries.append(dict(queries[-1], func="count", exchanges=None))
    b = ms[("b", 1)]
    batches = [{"t0": b["t0"] + 20, "query": "q", "batch": 0, "rows": 500, "trigger_ms": 50,
                "add_batch_ms": 30, "planning_ms": 5, "commit_ms": 10, "state_rows": 7,
                "state_mem_bytes": 900}]
    return {"gates": ["a", "b"], "modules": {"a": "ext", "b": "ext"}, "cpus": 4,
            "seconds": 1.0, "traced": True, "setup_s": [9.0, 2.0, 3.0],
            "loop": [passes[0]["t0"], passes[-1]["t1"]], "passes": passes,
            "samples": samples, "peak_rss_kb": 2048, "spans": spans, "jobs": jobs,
            "stages": stages, "queries": queries, "batches": batches,
            "cache_series": [[0.0, 10.0], [passes[0]["t0"] + 5, 30.0],
                             [passes[-1]["t1"] + 5, 99.0]]}


class RunTest(unittest.TestCase):
    def setUp(self):
        self.raw = synthetic_run()

    def test_end_to_end(self):
        e2e, info = metrics.end_to_end(self.raw)
        self.assertEqual(e2e["setup_s"], 3.0)
        self.assertEqual(e2e["pass_s"], 1.0)
        self.assertEqual(e2e["cpu_s"], 2.0)
        self.assertEqual(e2e["query_p50_s"], 0.5)   # gate medians 0.4 and 0.6
        self.assertEqual(info["query_tail_s"], 0.6)  # n = 4: the maximum
        self.assertEqual(e2e["peak_rss_mb"], 2.0)
        self.assertEqual((info["attempted"], info["failed"], info["query_tail_n"]), (6, 0, 4))

    def test_failed_evaluations_count_against_attempts(self):
        self.raw["samples"][3]["ok"] = False
        _, info = metrics.end_to_end(self.raw)
        self.assertEqual(info["failed"], 1)
        self.assertAlmostEqual(info["failed_frac"], 1 / 6)
        self.assertEqual(info["query_tail_s"], 0.6)
        self.assertEqual(info["query_tail_n"], 3)

    def test_per_layer(self):
        m = metrics.per_layer(self.raw)
        self.assertEqual(set(m), set(metrics.PER_LAYER_UNITS))
        # per measured pass: 2 gates, each with one build and one action job
        self.assertEqual(m["sched.jobs"], 4)
        self.assertEqual(m["gate.build_jobs"], 2)
        self.assertEqual(m["gate.action_jobs"], 2)
        self.assertEqual(m["sched.tasks"], 16)
        self.assertEqual(m["sched.useful_task_ratio"], 0.25)
        self.assertAlmostEqual(m["exec.run_s"], 1.6)
        self.assertAlmostEqual(m["sched.slack_s"], 1.0 - 1.6 / 4)
        self.assertAlmostEqual(m["gate.build_s"], 0.3)
        self.assertAlmostEqual(m["gate.action_s"], 0.7)
        # build steps (100 and 200 ms) each hold one 50 ms job at +10 ms;
        # in pass 1, b's build also holds the 50 ms batch at +20 ms
        self.assertAlmostEqual(m["gate.build_self_s"], (50 + 150 + 50 + 140) / 2 / 1e3)
        # action steps (300 and 400 ms) each hold one job 20 ms shorter
        self.assertAlmostEqual(m["gate.action_self_s"], 40 / 1e3)
        self.assertAlmostEqual(m["plans.analysis_s"], 0.004)
        self.assertAlmostEqual(m["plans.optimization_s"], 0.008)
        self.assertAlmostEqual(m["plans.planning_s"], 0.008)
        self.assertEqual(m["plans.exchanges"], 4)
        self.assertEqual(m["streaming.batches"], 0.5)
        self.assertEqual(m["stream_rows_per_s"], 10000)
        self.assertEqual(m["streaming.state_rows"], 7)
        self.assertEqual(m["cache.stored_bytes"], 30.0)
        self.assertEqual(m["mem.peak_exec_bytes"], 64 * 12)

    def test_layer_table(self):
        rows = metrics.layer_table(self.raw)
        self.assertEqual(set(rows), {"a", "b"})
        self.assertAlmostEqual(rows["a"]["wall_s"], 0.4)
        self.assertEqual(rows["b"]["jobs"], 2)
        self.assertEqual(rows["b"]["batches"], 0.5)


class ContractTest(unittest.TestCase):
    def test_metric_names_and_units_match_benchmark_json(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         metrics.END_TO_END_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         metrics.PER_LAYER_UNITS)


class GenTest(unittest.TestCase):
    def test_java_string_hash(self):
        self.assertEqual(gen.java_hash("cust"), 3065427)
        self.assertEqual(gen.java_hash(""), 0)

    def test_rotation_is_seeded_and_never_zero(self):
        rs = {gen.rotation(seed, "doc", 7) for seed in range(50)}
        self.assertNotIn(0, rs)
        self.assertGreater(len(rs), 1)
        self.assertEqual(gen.rotation(3, "doc", 500), gen.rotation(3, "doc", 500))


if __name__ == "__main__":
    unittest.main()
