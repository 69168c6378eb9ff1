"""Tests of the benchmark's own arithmetic and helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The first two classes are pure Python. JvmTest builds the harness (as
run.py does) and checks the Scala side: the 9-significant-digit rendering
of the digest normalization against Python's own `.9g`, and the seeded
generator (seed 42 reproduces TranscriptGen.generate row for row; another
seed moves the mega-threads and keeps the table's shape). It is skipped
when no Spark jar directory is found.
"""
import os
import shutil
import statistics
import subprocess
import sys
import unittest
import json

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchstats  # noqa: E402
import build  # noqa: E402


def span(i, parent, start, end, name="compile.x"):
    return {"id": i, "parent": parent, "name": name, "start_ns": int(start * 1e9),
            "end_ns": int(end * 1e9), "counters": counters()}


def counters(**kw):
    base = {k: 0 for k in ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns",
                           "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
                           "spill_bytes", "input_bytes", "input_records", "scan_tasks")}
    base.update(kw)
    return base


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles_match_statistics(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.0]
        self.assertEqual(benchstats.median(xs), 4.0)
        self.assertEqual(benchstats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        q1, m, q3 = benchstats.quartiles(xs)
        self.assertAlmostEqual(benchstats.spread(xs), (q3 - q1) / m)

    def test_single_sample_has_no_spread(self):
        self.assertEqual(benchstats.quartiles([2.5]), (2.5, 2.5, 2.5))
        self.assertEqual(benchstats.spread([2.5]), 0.0)

    def test_self_time_subtracts_children_once(self):
        spans = [span(1, 0, 0.0, 10.0),
                 span(2, 1, 1.0, 4.0),
                 span(3, 1, 3.0, 5.0),      # overlaps span 2: counted once
                 span(4, 1, 9.0, 12.0),     # clipped to the parent's end
                 span(5, 2, 1.5, 2.0)]      # grandchild: only span 2's child
        st = benchstats.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - 4.0 - 1.0)
        self.assertAlmostEqual(st[2], 3.0 - 0.5)
        self.assertAlmostEqual(st[3], 2.0)
        self.assertAlmostEqual(st[5], 0.5)

    def test_leaf_self_time_is_its_wall(self):
        self.assertAlmostEqual(benchstats.self_times([span(1, 0, 2.0, 2.75)])[1], 0.75)


def record(trace):
    ops = []
    for i, (wall, cpu) in enumerate([(4.0, 10.0), (6.0, 14.0), (5.0, 12.0)]):
        traced = trace and i % 2 == 0
        spans = [dict(span(1, 0, 0.0, wall * 0.8, "compile.validate"),
                      counters=counters(jobs=3, stages=4, tasks=40, task_run_ms=8000,
                                        input_records=100, input_bytes=1000, scan_tasks=4)),
                 dict(span(2, 0, wall * 0.8, wall, "compile.materialize"),
                      counters=counters(jobs=2, stages=2, tasks=8, task_run_ms=1000))]
        ops.append({"traced": traced, "wall_s": wall, "cpu_s": cpu,
                    "calls": [{"name": "validate", "wall_s": wall}],
                    "written_bytes": 500, "attempted": 1, "failed": 0, "failures": [],
                    "trace": {"spans": spans if traced else [],
                              "unattributed": counters(input_records=7)}})
    return {"workload": "validate_bulk", "cores": 4, "input_turns": 1000,
            "input_bytes": 10000, "generate_s": 3.0, "setup_s": [6.0, 0.5, 0.4],
            "peak_rss_mb": 1500.0, "probes": {"compile.floor_s": 2.0},
            "input": {}, "ops": ops}


class ReduceTest(unittest.TestCase):
    def test_end_to_end_are_medians(self):
        r = benchstats.result(record(False), trace=False)
        m = {k: v["value"] for k, v in r["metrics"].items()}
        self.assertEqual((r["attempted"], r["failed"], r["correct"]), (3, 0, True))
        self.assertEqual(m["wall_s"], 5.0)
        self.assertEqual(m["cpu_s"], 12.0)
        self.assertEqual(m["setup_s"], 0.5)
        self.assertEqual(m["turns_per_s"], 200.0)
        self.assertEqual(m["write_amp"], 0.05)
        self.assertEqual(r["metrics"]["turns_per_s"]["unit"], "1/s")

    def test_per_layer_from_traced_ops_only(self):
        r = benchstats.result(record(True), trace=True)
        m = {k: v["value"] for k, v in r["metrics"].items()}
        # traced ops are 0 and 2 (walls 4 and 5), untraced op 1 (wall 6)
        self.assertAlmostEqual(m["compile.validate_s"], 0.8 * 4.5)
        self.assertEqual(m["compile.jobs"], 5)
        self.assertEqual(m["compile.validate_jobs"], 3)
        self.assertAlmostEqual(m["compile.core_util"], (9.0 / 16 + 9.0 / 20) / 2)
        self.assertEqual(m["sources.input_rows"], 107)
        self.assertEqual(m["compile.floor_s"], 2.0)
        self.assertEqual(m["series.turn_rate_stl_s"], 0.0)
        self.assertEqual(m["trace.overhead_s"], 4.5 - 6.0)
        self.assertEqual(r["metrics"]["compile.spill_bytes"]["unit"], "bytes")
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(sorted(m), sorted(x["name"] for x in spec["per_layer"]))
        for x in spec["per_layer"]:
            self.assertEqual(r["metrics"][x["name"]]["unit"], x["unit"])

    def test_checkpoint_layer_from_the_resumable_run(self):
        rec = record(True)
        legs = [dict(span(1, 0, 0.0, 3.0, "checkpoint.leg1"), counters=counters(jobs=30)),
                dict(span(2, 0, 3.0, 7.0, "checkpoint.leg2"), counters=counters(jobs=36))]
        rec["resumable"] = {"input_bytes": 2000, "op": {
            "traced": True, "wall_s": 7.0, "cpu_s": 20.0, "calls": [],
            "written_bytes": 3000, "attempted": 1, "failed": 1, "failures": ["x"],
            "slice_wall_s": [2.0, 2.5], "state_bytes": 40, "files_written": 9,
            "trace": {"spans": legs, "unattributed": counters()}}}
        r = benchstats.result(rec, trace=True)
        m = {k: v["value"] for k, v in r["metrics"].items()}
        self.assertEqual((r["attempted"], r["failed"], r["correct"]), (4, 1, False))
        self.assertEqual(m["checkpoint.wall_s"], 7.0)
        self.assertEqual(m["checkpoint.write_amp"], 1.5)
        self.assertEqual(m["checkpoint.slices_s"], 4.5)
        self.assertEqual(m["checkpoint.overhead_s"], 2.5)
        self.assertEqual(m["checkpoint.jobs_per_slice"], 33)
        self.assertEqual(m["agg.state_bytes"], 40)
        # the bulk operations' own layers are untouched
        self.assertEqual(m["compile.jobs"], 5)


def _jvm(*args):
    import run
    classes, jars = build.build()
    return subprocess.run([build.java()] + run.ADD_OPENS + ["-Xmx1g", "-cp",
                          os.pathsep.join([classes, os.path.join(jars, "*")]),
                          "graft.perfbench.SelfTest"] + list(args),
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, check=True, timeout=300).stdout


@unittest.skipIf(not shutil.which(build.java()) and not os.environ.get("JAVA_HOME"),
                 "no java")
class JvmTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        try:
            build.spark_jars()
        except build.BuildError as e:
            raise unittest.SkipTest(str(e))

    def test_g9_renders_like_python(self):
        values = [0.0, -0.0, 1.0, -2.5, 123.456, 1e8, 123456789.0, 999999999.5,
                  1e9, 1.5e20, 1e-4, 1e-5, 0.000123456789123, 3.141592653589793,
                  2.0 / 3.0, -7.77e-12, 12345678901234.5, 1e300, 5e-324,
                  float("nan"), float("inf"), float("-inf")]
        java = {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}
        got = _jvm("g9", *[java.get(repr(v), repr(v)) for v in values]).split()
        want = [("NaN" if v != v else f"{v:.9g}") for v in values]
        self.assertEqual(got, want)

    def test_seeded_generator(self):
        work = os.path.join(build.build_root(), "selftest")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            r = json.loads(_jvm("gen", work).strip().splitlines()[-1])
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertTrue(r["seed42_equals_generate"])
        self.assertTrue(r["seed7_rows_equal"])
        self.assertEqual(r["seed7_convs"], r["convs"])
        self.assertTrue(r["seed7_text_closed_form"])
        self.assertTrue(r["mega_ids_move"])
        self.assertTrue(r["shape_equal"])


if __name__ == "__main__":
    unittest.main()
