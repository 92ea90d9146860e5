"""Tests for the benchmark's Python helpers.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import run  # noqa: E402
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_too_few_samples(self):
        self.assertIsNone(stats.tail_percentile(list(range(19))))

    def test_twenty_samples_give_the_median(self):
        p, v = stats.tail_percentile(list(range(1, 21)))
        self.assertEqual((p, v), (50.0, 10))

    def test_ten_samples_stay_beyond_the_chosen_percentile(self):
        xs = list(range(1, 1001))
        p, v = stats.tail_percentile(xs)
        self.assertEqual(p, 99.0)
        self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)
        # the next percentile up would leave fewer than ten beyond it
        self.assertLess(sum(1 for x in xs if x > 999), 10)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 8
        self.assertEqual(stats.tail_percentile(xs), stats.tail_percentile(sorted(xs)))


class SelfTime(unittest.TestCase):
    def span(self, i, start, end, parent=-1):
        return {"id": i, "start": start, "end": end, "parent": parent}

    def test_leaf_is_its_duration(self):
        self.assertEqual(stats.self_times([self.span(0, 3, 10)]), {0: 7})

    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [self.span(0, 0, 100), self.span(1, 10, 40, 0),
                 self.span(2, 30, 50, 0), self.span(3, 60, 70, 0)]
        self.assertEqual(stats.self_times(spans)[0], 100 - 40 - 10)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(0, 10, 20), self.span(1, 0, 15, 0)]
        self.assertEqual(stats.self_times(spans)[0], 5)

    def test_grandchildren_count_only_for_their_parent(self):
        spans = [self.span(0, 0, 100), self.span(1, 0, 50, 0), self.span(2, 0, 20, 1)]
        selfs = stats.self_times(spans)
        self.assertEqual((selfs[0], selfs[1], selfs[2]), (50, 30, 20))

    def test_ladder(self):
        cum = {"scan": 0.1, "parse": 0.8, "enrich": 0.9, "route": 1.0}
        got = stats.ladder_self(cum, run.LADDER)
        self.assertAlmostEqual(got["scan"], 0.1)
        self.assertAlmostEqual(got["parse"], 0.7)
        self.assertAlmostEqual(sum(got.values()), 1.0)


def usage(cpu=0.0):
    return {"cpuS": cpu, "runS": cpu, "shuffleBytes": 0, "spillBytes": 0,
            "inputBytes": 0, "taskSkew": 1.0}


def traced_record():
    """A minimal traced record of one pipeline_fresh run (times in ns)."""
    s = 1_000_000_000
    spans, i = [], 0

    def add(name, start, end, parent=-1, cpu=0.0):
        nonlocal i
        spans.append({"id": i, "name": name, "start": start, "end": end,
                      "parent": parent, "op": 0, "usage": usage(cpu)})
        i += 1
        return i - 1

    for step, t in (("scan", 0.1), ("parse", 0.8), ("enrich", 0.9), ("route", 1.0)):
        add(f"ladder.{step}", 0, int(t * s))
    run_id = add("pipeline.run", 10 * s, 13 * s)
    add("write", 10 * s, int(11.8 * s), run_id)
    add("audit", int(11.9 * s), int(12.4 * s), run_id)
    add("tail", int(12.5 * s), int(12.7 * s), run_id)
    res = add("pipeline.resume", 20 * s, 22 * s)
    rrun = add("pipeline.run", 20 * s, 22 * s, res)
    add("manifest.read", 20 * s, int(20.1 * s), rrun)
    add("write", int(20.1 * s), int(21.5 * s), rrun)
    for q in run.OPS_QUERIES:
        add(f"ops.{q}", 30 * s, 31 * s)
    counts = {f"parse.rows.{f}": 10 for f in run.FORMATS}
    counts.update({"resume.rows_parsed": 80, "resume.rows_written": 40})
    ops = [{"warmup": False, "wall_s": 3.2, "run_s": 4.0, "gc_s": 0.1,
            "cpu_s": 4.0, "heap_mb": 90.0, "error": None}]
    return {"workload": "pipeline_fresh", "cores": 4, "spans": spans,
            "counts": counts, "ops": ops}


class PerLayer(unittest.TestCase):
    def test_layers_add_up_to_the_traced_run(self):
        out = run.per_layer(traced_record())
        parts = ("scan.s", "parse.self_s", "enrich.self_s", "route.self_s",
                 "write.s", "audit.s", "tail.s", "unattributed.s")
        self.assertAlmostEqual(sum(out[k] for k in parts), out["pipeline.op_s"])
        self.assertAlmostEqual(out["pipeline.op_s"], 3.0)
        self.assertAlmostEqual(out["write.s"], 0.8)
        self.assertAlmostEqual(out["unattributed.s"], 0.5)

    def test_resume_ratio_keeps_its_base(self):
        out = run.per_layer(traced_record())
        self.assertEqual(out["resume.useful_ratio"], 0.5)
        self.assertAlmostEqual(out["manifest.read_s"], 0.1)
        self.assertAlmostEqual(out["trace.overhead_s"], 3.0 - 3.2)


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_match_the_runner(self):
        spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.per_layer_units())
        self.assertTrue(set(w["name"] for w in spec["workloads"]) <= set(run.WORKLOADS))

    def test_ops_list_matches_the_pinned_results(self):
        pinned = [l.split("\t")[0] for l in
                  (BENCH / "ops_expected.tsv").read_text().splitlines() if l]
        self.assertEqual(pinned, list(run.OPS_QUERIES) + ["stream_dedup"])


if __name__ == "__main__":
    unittest.main()
