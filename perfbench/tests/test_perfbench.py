"""The benchmark's own tests.

Run from the root of a checkout:
  python3 -m unittest discover -s perfbench/tests -v

The last test starts the JVM harness (about a minute, and a build on first
use); it runs only when PERFBENCH_RUN_HARNESS=1.
"""
import glob
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def digests(d):
    return {os.path.basename(p): hashlib.sha256(open(p, "rb").read()).hexdigest()
            for p in sorted(glob.glob(os.path.join(d, "*")))}


class InputsTest(unittest.TestCase):
    def test_seed_fixes_input_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen.fixture(a, 0.001, 7)
            gen.fixture(b, 0.001, 7)
            gen.fixture(c, 0.001, 8)
            self.assertEqual(digests(a), digests(b))
            da, dc = digests(a), digests(c)
            self.assertEqual(sorted(da), sorted(dc))
            changed = [n for n in da if da[n] != dc[n]]
            # region is 5 rows, so a permutation can leave it unchanged;
            # every larger table must differ
            self.assertGreaterEqual(len(changed), 9)

    def test_seed_permutes_rows_only(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as t:
            gen.fixture(os.path.join(t, "a"), 0.001, 1)
            gen.fixture(os.path.join(t, "b"), 0.001, 2)
            for name in ("lineitem", "documents"):
                ta = pq.read_table(os.path.join(t, "a", f"{name}.parquet"))
                tb = pq.read_table(os.path.join(t, "b", f"{name}.parquet"))
                self.assertEqual(ta.schema, tb.schema)
                self.assertEqual(sorted(map(str, ta.to_pylist())),
                                 sorted(map(str, tb.to_pylist())))

    def test_fixture_schema(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as t:
            gen.fixture(t, 0.001, 1)
            s = pq.read_schema(os.path.join(t, "lineitem.parquet"))
            self.assertEqual(s.field("l_linenumber").type, pa.int32())
            self.assertEqual(s.field("l_shipdate").type, pa.timestamp("us"))
            e = pq.read_schema(os.path.join(t, "embeddings.parquet"))
            self.assertEqual(e.field("embedding").type, pa.list_(pa.float32()))


class OpSequenceTest(unittest.TestCase):
    def test_seed_fixes_op_order(self):
        for name, w in workloads.WORKLOADS.items():
            a, b = workloads.passes(name, 3, 12), workloads.passes(name, 3, 12)
            self.assertEqual(a, b)
            for p in a:
                self.assertEqual(sorted(p), sorted(w["entries"]))

    def test_other_seed_changes_op_order(self):
        for name in workloads.WORKLOADS:
            self.assertNotEqual(workloads.passes(name, 3, 12), workloads.passes(name, 4, 12))

    def test_pass_count_follows_seconds_only(self):
        self.assertEqual(len(workloads.passes("star_serving", 1, 15)), 1 + 3)
        self.assertEqual(len(workloads.passes("index_maint", 1, 15)), 1 + 1)
        self.assertEqual(len(workloads.passes("index_maint", 1, 1)), 1 + 1)
        self.assertEqual(len(workloads.passes("star_serving", 1, 60)), 1 + 12)


class StatsTest(unittest.TestCase):
    def test_tail_percentile_needs_ten_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(10))))
        self.assertEqual(stats.tail_percentile(list(range(11))), (9, 0))
        self.assertEqual(stats.tail_percentile(list(range(20))), (50, 9))
        self.assertEqual(stats.tail_percentile(list(range(100))), (90, 89))
        self.assertEqual(stats.tail_percentile(list(range(1000))), (99, 989))

    def test_tail_percentile_ignores_order(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 0, 10, 11]
        self.assertEqual(stats.tail_percentile(xs), stats.tail_percentile(sorted(xs)))

    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            dict(id=0, parent=-1, layer="bench", start_ms=0.0, end_ms=100.0),
            dict(id=1, parent=0, layer="a", start_ms=10.0, end_ms=30.0),
            dict(id=2, parent=0, layer="a", start_ms=20.0, end_ms=50.0),  # overlaps 1
            dict(id=3, parent=0, layer="b", start_ms=90.0, end_ms=120.0),  # past parent end
            dict(id=4, parent=2, layer="c", start_ms=25.0, end_ms=35.0),
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["bench"], 100 - 40 - 10)
        self.assertAlmostEqual(st["a"], 20 + (30 - 10))
        self.assertAlmostEqual(st["b"], 30)
        self.assertAlmostEqual(st["c"], 10)

    def test_iqr_share(self):
        self.assertAlmostEqual(stats.iqr_share([10] * 10), 0.0)
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        q1, q2, q3 = 2.75, 5.5, 8.25
        self.assertAlmostEqual(stats.iqr_share(xs), (q3 - q1) / q2)


class EndToEndTest(unittest.TestCase):
    def test_metrics_take_each_entry_median_over_passes(self):
        def op(entry, wall):
            return dict(entry=entry, wall_ms=wall, cpu_ms=2 * wall,
                        setup_ms=wall / 4, probe_ms=3 * wall / 4)
        res = dict(session_s=2.0, setup_reps_s=[9.0, 1.0, 2.0], first_pass_s=10.0,
                   ops=[op("a", 100), op("b", 300), op("a", 900), op("b", 300),
                        op("a", 100), op("b", 500)])
        m = run.e2e_metrics(res)
        self.assertAlmostEqual(m["setup_s"], 2 + 2 + 10)
        self.assertAlmostEqual(m["ops_per_s"], 2 / 0.4)  # medians 100 + 300 ms
        self.assertAlmostEqual(m["cpu_ms_per_op"], 400)
        self.assertAlmostEqual(m["setup_span_mean_ms"], 50)
        self.assertAlmostEqual(m["probe_span_mean_ms"], 150)


class CheckTest(unittest.TestCase):
    def test_compare_rules(self):
        cols, rows = ["b", "a"], [[1.0, "x"], [float("nan"), None]]
        self.assertIsNone(check.compare(cols, rows, ["a", "b"], [("x", 1), (None, float("nan"))]))
        self.assertIsNone(check.compare(["a"], [["NaN"]], ["a"], [(float("nan"),)]))
        self.assertIn("rows", check.compare(cols, rows[:1], ["a", "b"], [("x", 1), (None, 2)]))
        self.assertIn("mismatch", check.compare(["a"], [[1]], ["a"], [(2,)]))
        self.assertIn("columns", check.compare(["a"], [[1]], ["c"], [(1,)]))

    def test_repeat_row_count_must_match(self):
        ops = [dict(entry="e", rows=3, error=""), dict(entry="e", rows=4, error="")]
        fails = check.catalog(tempfile.gettempdir(), {}, {}, ops)
        self.assertIn("repeat", fails["e"])


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_the_runner(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual(b["command"], ["python3", "perfbench/run.py"])
        self.assertEqual(sorted(w["name"] for w in b["workloads"]), sorted(workloads.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)

    def test_missing_per_layer_metric_fails_the_run(self):
        m = {k: 1.0 for k in run.PER_LAYER}
        self.assertEqual(set(run.per_layer_result(m)), set(run.PER_LAYER))
        del m["catalog.bytes_written"]
        with self.assertRaises(SystemExit):
            run.per_layer_result(m)


@unittest.skipUnless(os.environ.get("PERFBENCH_RUN_HARNESS") == "1",
                     "starts the JVM harness; set PERFBENCH_RUN_HARNESS=1")
class HarnessTest(unittest.TestCase):
    def test_untraced_run_attaches_no_listener(self):
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "star_serving",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        self.assertIn("listeners attached by the harness: 0", out.stdout)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertTrue(result["correct"])
        self.assertEqual(set(result["metrics"]), set(run.END_TO_END))


if __name__ == "__main__":
    unittest.main()
