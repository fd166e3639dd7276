"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The steadiness test runs every workload twice (about four minutes) and is
skipped unless PERFBENCH_STEADY=1.
"""
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spec  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class ShapeTest(unittest.TestCase):
    """The names and units the benchmark prints are pinned."""

    def test_benchmark_json_lists_the_harness_metrics(self):
        b = benchmark_json()
        self.assertEqual(set(b), {"command", "paths", "run_seconds",
                                  "workloads", "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in b["workloads"]], spec.WORKLOADS)
        self.assertEqual(b["end_to_end"], spec.END_TO_END)
        self.assertEqual(b["per_layer"], spec.PER_LAYER)

    def test_names_units_and_bounds_follow_the_contract(self):
        b = benchmark_json()
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(b["per_layer"]), 128)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s",
                                  "better": "lower", "bound": max(
                                      m["bound"] for m in b["end_to_end"])}])

    def test_result_line_carries_every_metric_with_its_unit(self):
        values = {m["name"]: 1.5 for m in spec.END_TO_END}
        for trace, listed in ((0, spec.END_TO_END), (1, spec.PER_LAYER)):
            line = run.result_line(values, {"graph.jobs": 7}, trace, 10, 0)
            self.assertEqual(set(line),
                             {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(line["correct"])
            self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()},
                             {m["name"]: m["unit"] for m in listed})
        self.assertEqual(line["metrics"]["graph.jobs"]["value"], 7.0)
        self.assertFalse(run.result_line(values, {}, 0, 10, 1)["correct"])


class GeneratorTest(unittest.TestCase):
    """Same seed, same inputs; another seed, other inputs."""

    def digests(self, make, seeds):
        out = []
        with tempfile.TemporaryDirectory() as d:
            for i, seed in enumerate(seeds):
                path = os.path.join(d, str(i))
                make(seed, path)
                out.append(gen.digest(path))
        return out

    def test_tables(self):
        a, b, c = self.digests(lambda s, p: gen.generate(s, 0.01, p),
                               [5, 5, 6])
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_event_log(self):
        a, b, c = self.digests(lambda s, p: gen.stream_log(s, 2, p),
                               [5, 5, 6])
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_event_log_plants_late_events_and_orders_the_cep_feed(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.stream_log(3, 4, d)
            t = pq.read_table(os.path.join(d, "events.parquet")).to_pandas()
        late = t[t.kind == 2]
        self.assertEqual(len(late), gen.LATE_EVENTS)
        self.assertEqual(late.user_id.nunique(), gen.LATE_EVENTS)
        live = t[(t.phase > 0) & (t.kind < 2)]
        # the CEP feed never sends an event before it exists ...
        self.assertTrue((live.cep_due_ms >= live.due_ms).all())
        # ... and sends each phase in event-time order
        for _, ph in live.groupby("phase"):
            ph = ph.sort_values(["cep_due_ms", "ts", "event_id"])
            self.assertTrue(ph.ts.is_monotonic_increasing)


@unittest.skipUnless(os.environ.get("PERFBENCH_STEADY") == "1",
                     "set PERFBENCH_STEADY=1 to run every workload twice")
class SteadinessTest(unittest.TestCase):
    """Two runs of the same code agree within the benchmark's bounds."""

    def test_two_runs(self):
        for w in spec.WORKLOADS:
            with self.subTest(workload=w):
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "steady.py"),
                     "--workload", w, "--seeds", "1", "2"],
                    cwd=ROOT, capture_output=True, text=True)
                self.assertEqual(p.returncode, 0, p.stdout + p.stderr)


if __name__ == "__main__":
    unittest.main()
