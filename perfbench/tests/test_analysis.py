"""Tests of the benchmark's own arithmetic and output schema.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import analysis  # noqa: E402

BENCHMARK = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())

# Every metric perfbench/README.md names, with its unit.
NAMED_END_TO_END = {
    "setup_s": "s", "cold_s": "s", "wall_s": "s", "turns_per_s": "turns/s",
    "resume_noop_s": "s", "out_bytes_per_in_byte": "ratio", "peak_rss_mb": "MB",
    "failed_frac": "ratio",
}
NAMED_PER_LAYER = [
    "core.gen_us_per_row", "core.stats_us_per_row", "core.langid_us_per_row",
    "core.ppl_us_per_row", "core.scrub_us_per_row",
    "guards.window_s", "guards.score_s", "guards.planning_ms", "guards.codegen_compile_ms",
    "guards.codegen_max_method_bytes",
    "pipeline.scan_s", "pipeline.kept_files", "pipeline.metrics_files", "pipeline.bytes_written",
    "pipeline.resume_s",
    "operators.q_quality_s", "operators.q_dedup_lines_s", "operators.q_dedup_spans_s",
    "operators.q_dedup_drop_s", "operators.q_decontaminate_s", "operators.q_mix_plan_s",
    "operators.q_chunks_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.exec_run_s", "spark.exec_cpu_s",
    "spark.gc_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.straggler_ratio", "spark.exec_busy_frac", "spark.driver_gap_s",
    "host.calib_s", "trace.overhead_s",
    "self.core_s", "self.guards_s", "self.pipeline_s", "self.operators_s", "self.spark_s",
]


def task(stage, run_ms, attempt=0):
    return {"stage": stage, "attempt": attempt, "start": 0.0, "end": 0.0, "run_ms": run_ms,
            "cpu_ns": run_ms * 500000, "gc_ms": 1, "shuffle_write_bytes": 1048576,
            "shuffle_read_bytes": 524288, "spill_bytes": 0}


def span(i, parent, layer, name, start, end, it=0):
    return {"id": i, "parent": parent, "iter": it, "layer": layer, "name": name,
            "start": start, "end": end}


def iteration(i, phase, wall, extra=None):
    return {"i": i, "phase": phase, "start": 0.0, "end": 0.0, "wall_s": wall,
            "extra": extra or {}, "errors": []}


def record(workload, trace):
    extra = {"resume_s": 0.8, "bytes_written": 2000.0, "kept": 10.0}
    iters = [iteration(0, "cold", 9.0, extra), iteration(1, "measure", 3.0, extra),
             iteration(2, "measure", 2.0, extra), iteration(3, "measure", 4.0, extra)]
    rec = {"workload": workload, "seed": 1, "trace": trace, "seconds": 5.0,
           "input_rows": 1000, "input": {"parquet_bytes": 1000}, "prep_s": [3.0, 1.0, 2.0], "warmup_s": 4.0,
           "iters": iters, "checks": [{"name": "c", "ok": True, "detail": ""}],
           "checks_s": 1.0, "session_s": 2.0, "calib_s": [], "peak_rss_mb": 900.0}
    if trace:
        rec["iters"] = iters + [iteration(4, "traced", 3.5, extra)]
        rec["calib_s"] = [0.6, 0.7]
        rec["layers"] = {"core.gen_us_per_row": 2.0, "guards.planning_ms": 40.0,
                         "guards.codegen_compile_ms": 100.0, "guards.codegen_classes": 7.0,
                         "guards.codegen_max_method_bytes": 5000.0, "guards.window_s": 0.4}
        rec["spans"] = [span(0, -1, "bench", "iteration 4", 1000.0, 5000.0, 4),
                        span(1, 0, "bench", "measured", 1000.0, 4500.0, 4),
                        span(2, 1, "guards", "guards.x", 1000.0, 4500.0, 4)]
        rec["engine"] = {
            "jobs": [{"id": 0, "start": 1100.0, "end": 2100.0, "stages": [0]},
                     {"id": 1, "start": 2500.0, "end": 4000.0, "stages": [1, 2]}],
            "stages": [{"id": 0, "attempt": 0, "start": 1100.0, "end": 2100.0, "tasks": 2},
                       {"id": 1, "attempt": 0, "start": 2500.0, "end": 3000.0, "tasks": 1},
                       {"id": 2, "attempt": 0, "start": 3000.0, "end": 4000.0, "tasks": 3}],
            "tasks": [task(0, 400), task(0, 500), task(1, 300),
                      task(2, 100), task(2, 200), task(2, 900)],
        }
    return rec


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(analysis.union_ms([(0, 10), (5, 15), (20, 25), (30, 30)]), 20)

    def test_self_time_is_span_minus_union_of_clipped_children(self):
        # children overlap each other and one sticks out past the span's end
        self.assertEqual(analysis.self_time_ms((0, 100), [(10, 40), (30, 50), (90, 130)]), 50)

    def test_self_time_of_a_leaf_is_its_duration(self):
        self.assertEqual(analysis.self_time_ms((5, 25), []), 20)

    def test_layer_self_time_splits_a_tree(self):
        spans = [span(0, -1, "bench", "root", 0, 1000),
                 span(1, 0, "guards", "g", 100, 600),
                 span(2, 1, "spark", "job", 200, 500),
                 span(3, 0, "pipeline", "p", 600, 900)]
        got = analysis.layer_self_s(spans)
        self.assertAlmostEqual(got["bench"], 0.2)
        self.assertAlmostEqual(got["guards"], 0.2)
        self.assertAlmostEqual(got["spark"], 0.3)
        self.assertAlmostEqual(got["pipeline"], 0.3)
        self.assertEqual(got["core"], 0.0)


class EngineTest(unittest.TestCase):
    def test_straggler_ratio_uses_the_heaviest_stage(self):
        # stage 1 carries the most run time: max 900 over median 200
        ratio = analysis.straggler_ratio({0: [400, 500], 1: [100, 200, 900], 2: [1]})
        self.assertAlmostEqual(ratio, 4.5)

    def test_straggler_ratio_without_tasks_is_one(self):
        self.assertEqual(analysis.straggler_ratio({}), 1.0)

    def test_driver_gap_is_wall_minus_union_of_jobs(self):
        rec = record("label_synth", 1)
        got = analysis.iteration_engine_metrics(
            (1000.0, 4500.0), rec["engine"]["jobs"], rec["engine"]["stages"],
            rec["engine"]["tasks"])
        # jobs cover 1100-2100 and 2500-4000 of a 3.5 s window
        self.assertAlmostEqual(got["spark.driver_gap_s"], 1.0)
        self.assertAlmostEqual(got["spark.exec_run_s"], 2.4)
        self.assertAlmostEqual(got["spark.exec_busy_frac"], 2.4 / (3.5 * analysis.CORES))
        self.assertAlmostEqual(got["spark.straggler_ratio"], 4.5)
        self.assertEqual((got["spark.jobs"], got["spark.stages"], got["spark.tasks"]), (2, 3, 6))
        self.assertAlmostEqual(got["spark.shuffle_write_mb"], 6.0)

    def test_jobs_are_attributed_to_their_iteration(self):
        rec = record("label_synth", 1)
        late = {"id": 9, "start": 9000.0, "end": 9500.0, "stages": [7]}
        rec["engine"]["jobs"].append(late)
        got = analysis.engine_metrics([(1000.0, 4500.0)], rec["engine"])
        self.assertEqual(got["spark.jobs"], 2)

    def test_jobs_and_stages_become_child_spans(self):
        rec = record("label_synth", 1)
        out = analysis.engine_spans(rec["spans"], rec["engine"])
        jobs = [s for s in out if s["name"].startswith("job")]
        stages = [s for s in out if s["name"].startswith("stage")]
        self.assertTrue(all(j["parent"] == 2 and j["iter"] == 4 for j in jobs))
        by_id = {j["id"]: j["name"] for j in jobs}
        self.assertEqual(sorted(by_id[s["parent"]] for s in stages), ["job 0", "job 1", "job 1"])


class SchemaTest(unittest.TestCase):
    def test_benchmark_json_matches_the_metric_tables(self):
        self.assertEqual({m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]},
                         analysis.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in BENCHMARK["per_layer"]},
                         analysis.PER_LAYER)
        # curate_docs runs on request only: see perfbench/README.md
        self.assertEqual([w["name"] for w in BENCHMARK["workloads"]],
                         ["label_synth", "filter_parquet"])

    def test_every_named_end_to_end_metric_is_reported_with_its_unit(self):
        for workload in ["label_synth", "filter_parquet", "curate_docs"]:
            full, result = analysis.report(record(workload, 0))
            self.assertEqual(set(result["metrics"]), set(analysis.END_TO_END))
            applies = {k for k in NAMED_END_TO_END
                       if k not in analysis.REPORTED or workload in analysis.REPORTED[k][1]}
            for name in applies:
                self.assertEqual(full["metrics"][name]["unit"], NAMED_END_TO_END[name], name)
            self.assertEqual((result["attempted"], result["failed"], result["correct"]),
                             (5, 0, True))

    def test_end_to_end_values(self):
        full, _ = analysis.report(record("filter_parquet", 0))
        m = {k: v["value"] for k, v in full["metrics"].items()}
        self.assertEqual(m["wall_s"], 3.0)  # median of the measured iterations
        self.assertEqual(m["cold_s"], 9.0)
        self.assertEqual(m["setup_s"], 2.0 + 2.0 + 4.0)  # session + median prep + warm-up
        self.assertAlmostEqual(m["turns_per_s"], 1000 / 3.0)
        self.assertEqual(m["resume_noop_s"], 0.8)
        self.assertEqual(m["out_bytes_per_in_byte"], 2.0)
        self.assertEqual(m["failed_frac"], 0.0)

    def test_every_named_per_layer_metric_is_reported_with_its_unit(self):
        for workload in ["label_synth", "filter_parquet", "curate_docs"]:
            _, result = analysis.report(record(workload, 1))
            self.assertEqual(set(result["metrics"]), set(analysis.PER_LAYER))
            for name in NAMED_PER_LAYER:
                self.assertIn(name, result["metrics"], name)
            m = {k: v["value"] for k, v in result["metrics"].items()}
            self.assertAlmostEqual(m["trace.overhead_s"], 0.5)
            self.assertEqual(m["host.calib_s"], 0.7)
            self.assertEqual(m["guards.planning_ms"], 40.0)

    def test_a_failed_iteration_or_check_counts(self):
        rec = record("curate_docs", 0)
        rec["iters"][1]["errors"] = ["rows hash differs"]
        rec["checks"][0]["ok"] = False
        full, result = analysis.report(rec)
        self.assertEqual((result["attempted"], result["failed"], result["correct"]),
                         (5, 2, False))
        self.assertAlmostEqual(full["metrics"]["failed_frac"]["value"], 0.4)


if __name__ == "__main__":
    unittest.main()
