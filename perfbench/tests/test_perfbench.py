"""Self-tests of the benchmark. From the root of a checkout:

    python3 -m unittest discover -s perfbench/tests

The generator test builds the program (as a benchmark run would) and runs
graft.perfbench.SelfTest in a JVM.
"""

import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE.parent))
import build  # noqa: E402
import metrics  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "run": "r", "start_ns": start, "end_ns": end}


def fake_record(workload):
    """A raw record shaped like Main's: a first untraced turn, then a traced
    and an untraced one."""
    values = {
        "ml_sql": {"train_rows": 300, "epochs": 2, "pred_rows": 1000},
        "web_ingest": {"pages": 100, "chunks": 150},
        "vector_store": {"increment_vectors": 40, "live_vectors": 440, "live_bytes": 44000,
                         "increment_bytes": 1000, "fold_written_bytes": 12000,
                         "fold_encoded_bytes": 3000},
    }[workload]
    call = {"ml_sql": "MlFunctions.train", "web_ingest": "CorpusPipeline.webIngest",
            "vector_store": "StreamingVectorStore.compact"}[workload]
    calls = [[call, 0.5], ["MlFunctions.pred", 0.25], ["Similarity.query", 0.125]]
    return {
        "workload": workload, "seed": 1, "inputs": {"rows": 1000}, "setup_s": [1.0, 2.0, 3.0], "session_s": 1.5, "run_s": 20.0,
        "warmup_s": 2.5,
        "calib": {"start": {"calib_s": 1.0}, "end": {"calib_s": 2.0}},
        "attempted": 6, "failed": 0, "failures": [],
        "turns": [{"index": 0, "traced": False, "calls": calls, "values": values},
                  {"index": 1, "traced": True, "calls": calls, "values": values},
                  {"index": 2, "traced": False, "calls": [[n, t / 2] for n, t in calls[:2]] + calls[2:],
                   "values": values}],
        "jvm": {"gc_s": 0.2, "heap_peak_mb": 100.0},
        "facts": {}, "spans": [span(0, -1, "turn", 0, 10), span(1, 0, call, 1, 6)],
        "groups": {"perfbench-1": {"jobs": 3, "tasks": 12, "task_s": 2.0, "shuffle_write_bytes": 5,
                                   "spill_bytes": 0, "exchanges": 2}},
    }


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(list(range(19))))
        p, value, beyond = metrics.tail_percentile([float(x) for x in range(1, 21)])
        self.assertEqual((p, value, beyond), (50, 10.0, 10))

    def test_picks_the_highest_qualifying_percentile(self):
        samples = [float(x) for x in range(1, 101)]
        self.assertEqual(metrics.tail_percentile(samples), (90, 90.0, 10))
        self.assertEqual(metrics.tail_percentile(samples + [0.5] * 100)[0], 95)
        self.assertEqual(metrics.tail_percentile([1.0] * 1000)[:1], (99,))


class SelfTime(unittest.TestCase):
    def test_subtracts_covered_child_time(self):
        spans = [span(0, -1, "turn", 0, 100), span(1, 0, "a", 10, 30), span(2, 0, "b", 50, 60)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 70e-9)
        self.assertAlmostEqual(st[1], 20e-9)

    def test_overlapping_and_overhanging_children_count_once(self):
        spans = [span(0, -1, "p", 0, 100), span(1, 0, "a", 10, 40), span(2, 0, "b", 30, 50),
                 span(3, 0, "c", 90, 120), span(4, 1, "grandchild", 12, 20)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 50e-9)  # covered: 10..50 and 90..100
        self.assertAlmostEqual(st[1], 22e-9)


class OutputNames(unittest.TestCase):
    def test_end_to_end_metrics_named_with_units(self):
        names = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        self.assertIn("setup_s", names)
        for w in SPEC["workloads"]:
            rows = {n: (v, u) for n, v, u in metrics.workload_metrics(fake_record(w["name"]))}
            for name, unit in names.items():
                self.assertIn(name, rows, w["name"])
                self.assertEqual(rows[name][1], unit, name)
                self.assertGreater(rows[name][0], 0, name)

    def test_every_per_layer_metric_is_reported(self):
        names = [m["name"] for m in SPEC["per_layer"]]
        for w in SPEC["workloads"]:
            out = metrics.per_layer(fake_record(w["name"]), names)
            self.assertEqual(sorted(out), sorted(names), w["name"])

    def test_an_unlisted_per_layer_metric_is_refused(self):
        record = fake_record("ml_sql")
        record["facts"] = {"not.in.benchmark": 1.0}
        with self.assertRaises(ValueError):
            metrics.per_layer(record, [m["name"] for m in SPEC["per_layer"]])


class PerLayerDerivation(unittest.TestCase):
    NAMES = [m["name"] for m in SPEC["per_layer"]]

    def test_tracing_overhead_leaves_out_the_first_turn(self):
        out = metrics.per_layer(fake_record("ml_sql"), self.NAMES)
        self.assertEqual(out["trace.turn_s_traced"], 0.875)
        self.assertEqual(out["trace.turn_s_untraced"], 0.5)
        self.assertEqual(out["trace.overhead_s"], 0.375)

    def test_fold_bytes_come_from_the_measured_writes(self):
        out = metrics.per_layer(fake_record("vector_store"), self.NAMES)
        self.assertEqual(out["VectorStore.copy_bytes"], 9000)
        self.assertEqual(out["store.write_amp"], 12.0)

    def test_rates_divide_facts_by_span_seconds(self):
        record = fake_record("ml_sql")
        record["facts"] = {"ml.fit_flops": 4e9, "stage.cleanCorpus.rows_in": 200.0,
                           "stage.cleanCorpus.rows_out": 150.0}
        record["spans"] += [span(2, -1, "ml.fit", 0, 2 * 10**9),
                            span(3, -1, "ml.predict_1t", 0, 5 * 10**8)]
        out = metrics.per_layer(record, self.NAMES)
        self.assertEqual(out["ml.fit_s"], 2.0)
        self.assertEqual(out["ml.fit_gflops"], 2.0)
        self.assertEqual(out["ml.predict_rows_per_s_1t"], 2000.0)
        self.assertEqual(out["Dedup.keep_ratio"], 0.75)


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_digest(self):
        jar = build.build(ROOT)
        cp = ":".join([str(jar), *build.spark_jars(ROOT)])
        proc = subprocess.run(["java", *build.JVM_FLAGS, "-cp", cp, "graft.perfbench.SelfTest"],
                              capture_output=True, text=True)
        self.assertEqual(proc.returncode, 0, proc.stdout + proc.stderr)
        self.assertNotIn("FAIL", proc.stdout)


if __name__ == "__main__":
    unittest.main()
