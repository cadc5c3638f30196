"""Turns the harness's raw run record into metrics.

Pure functions over plain data, so the arithmetic is testable without a
JVM: interval unions, span self times, per-iteration engine metrics
(straggler ratio, driver gap, busy fraction) and the metric schema.
"""

import statistics

CORES = 4  # local[4]: the executor slots every workload runs on

WORKLOADS = ["label_synth", "filter_parquet", "curate_docs"]

# Gated end-to-end metrics: every workload reports each of them.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "turns_per_s": "turns/s",
}

# End-to-end metrics on the report line only, with the workloads they
# apply to: two that one workload has, one that is 0 on a healthy run, and
# two dropped from the gate as unsteady from run to run (perfbench/README.md).
REPORTED = {
    "resume_noop_s": ("s", ["filter_parquet"]),
    "out_bytes_per_in_byte": ("ratio", ["filter_parquet"]),
    "failed_frac": ("ratio", WORKLOADS),
    "cold_s": ("s", WORKLOADS),
    "peak_rss_mb": ("MB", WORKLOADS),
}

LAYERS = ["bench", "core", "guards", "pipeline", "operators", "spark"]
OPERATOR_QUERIES = ["q_quality", "q_dedup_lines", "q_dedup_spans", "q_dedup_drop",
                    "q_decontaminate", "q_mix_plan", "q_chunks"]

PER_LAYER = {
    "core.gen_us_per_row": "us",
    "core.stats_us_per_row": "us",
    "core.langid_us_per_row": "us",
    "core.ppl_us_per_row": "us",
    "core.scrub_us_per_row": "us",
    "guards.window_s": "s",
    "guards.score_s": "s",
    "guards.planning_ms": "ms",
    "guards.codegen_compile_ms": "ms",
    "guards.codegen_classes": "count",
    "guards.codegen_max_method_bytes": "bytes",
    "pipeline.scan_s": "s",
    "pipeline.kept_files": "count",
    "pipeline.metrics_files": "count",
    "pipeline.bytes_written": "bytes",
    "pipeline.resume_s": "s",
    "pipeline.out_bytes_per_in_byte": "ratio",
    **{f"operators.{q}_s": "s" for q in OPERATOR_QUERIES},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.straggler_ratio": "ratio",
    "spark.exec_busy_frac": "ratio",
    "spark.driver_gap_s": "s",
    "host.calib_s": "s",
    "host.peak_rss_mb": "MB",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
}

MB = 1024.0 * 1024.0
# Listener timestamps are whole epoch milliseconds; spans are fractional.
CLOCK_SLACK_MS = 2.0


def union_ms(intervals):
    """Total length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, lo, hi):
    return (max(interval[0], lo), min(interval[1], hi))


def self_time_ms(span, children):
    """A span's duration minus the union of its children, clipped to it."""
    s, e = span
    return (e - s) - union_ms(clip(c, s, e) for c in children)


def engine_spans(spans, engine):
    """Listener jobs and stages as child spans of the harness spans.

    A job's parent is the innermost harness span open at its start (the
    latest started; a child starts after, and has a higher id than, its
    parent); a stage's parent is the first job that lists it.
    """
    out = []
    next_id = max([s["id"] for s in spans], default=-1) + 1
    job_span = {}
    for job in sorted(engine.get("jobs", []), key=lambda j: (j["start"], j["id"])):
        around = [s for s in spans
                  if s["start"] - CLOCK_SLACK_MS <= job["start"] <= s["end"] + CLOCK_SLACK_MS]
        parent = max(around, key=lambda s: (s["start"], s["id"]), default=None)
        span = {"id": next_id, "parent": parent["id"] if parent else -1,
                "iter": parent["iter"] if parent else -1, "layer": "spark",
                "name": f"job {job['id']}", "start": job["start"], "end": job["end"]}
        next_id += 1
        out.append(span)
        for sid in job["stages"]:
            job_span.setdefault(sid, span)
    for st in engine.get("stages", []):
        job = job_span.get(st["id"])
        if job is None or st["start"] is None or st["end"] is None:
            continue
        out.append({"id": next_id, "parent": job["id"], "iter": job["iter"], "layer": "spark",
                    "name": f"stage {st['id']}.{st['attempt']}",
                    "start": st["start"], "end": st["end"]})
        next_id += 1
    return out


def layer_self_s(spans):
    """Self time of every layer, in seconds, summed over its spans."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        own = self_time_ms((s["start"], s["end"]), children.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(own, 0.0) / 1000.0
    return out


def straggler_ratio(task_run_ms_by_stage):
    """Max over median task time in the stage with the most total run time."""
    stages = [ts for ts in task_run_ms_by_stage.values() if ts]
    if not stages:
        return 1.0
    heaviest = max(stages, key=sum)
    med = statistics.median(heaviest)
    return max(heaviest) / med if med > 0 else 1.0


def iteration_engine_metrics(wall_ms, jobs, stages, tasks):
    """Engine metrics of one iteration measured over `wall_ms` = (start, end).

    `jobs` are the jobs that started inside the window; `stages` and
    `tasks` are the ones that belong to those jobs.
    """
    start, end = wall_ms
    wall_s = (end - start) / 1000.0
    by_stage = {}
    for t in tasks:
        by_stage.setdefault((t["stage"], t["attempt"]), []).append(t["run_ms"])
    run_s = sum(t["run_ms"] for t in tasks) / 1000.0
    busy = union_ms(clip((j["start"], j["end"]), start, end) for j in jobs) / 1000.0
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.exec_run_s": run_s,
        "spark.exec_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "spark.shuffle_write_mb": sum(t["shuffle_write_bytes"] for t in tasks) / MB,
        "spark.shuffle_read_mb": sum(t["shuffle_read_bytes"] for t in tasks) / MB,
        "spark.spill_mb": sum(t["spill_bytes"] for t in tasks) / MB,
        "spark.straggler_ratio": straggler_ratio(by_stage),
        "spark.exec_busy_frac": run_s / (wall_s * CORES) if wall_s > 0 else 0.0,
        "spark.driver_gap_s": max(wall_s - busy, 0.0),
    }


def engine_metrics(measured, engine):
    """Median over the traced iterations of their engine metrics.

    `measured` holds each traced iteration's timed interval (start, end).
    """
    jobs = engine.get("jobs", [])
    stages = engine.get("stages", [])
    tasks = engine.get("tasks", [])
    per_iter = []
    for start, end in measured:
        mine = [j for j in jobs
                if start - CLOCK_SLACK_MS <= j["start"] <= end + CLOCK_SLACK_MS]
        ids = {sid for j in mine for sid in j["stages"]}
        my_stages = [s for s in stages if s["id"] in ids]
        attempts = {(s["id"], s["attempt"]) for s in my_stages}
        my_tasks = [t for t in tasks if (t["stage"], t["attempt"]) in attempts]
        per_iter.append(iteration_engine_metrics((start, end), mine, my_stages, my_tasks))
    if not per_iter:
        return {}
    return {k: statistics.median(m[k] for m in per_iter) for k in per_iter[0]}


def _phase(record, phase):
    return [it for it in record["iters"] if it["phase"] == phase]


def _median_wall(iters):
    walls = [it["wall_s"] for it in iters if it["wall_s"] is not None and not it["errors"]]
    return statistics.median(walls) if walls else None


def outcome(record):
    """(attempted, failed): timed iterations plus run-level checks."""
    iters = record["iters"]
    checks = record["checks"]
    failed = sum(1 for it in iters if it["errors"] or it["wall_s"] is None)
    failed += sum(1 for c in checks if not c["ok"])
    return len(iters) + len(checks), failed


def end_to_end(record):
    """Every end-to-end metric of an untraced run, gated and reported."""
    wall = _median_wall(_phase(record, "measure"))
    cold = _phase(record, "cold")
    attempted, failed = outcome(record)
    out = {
        "setup_s": record["session_s"] + statistics.median(record["prep_s"]) + record["warmup_s"],
        "cold_s": cold[0]["wall_s"] if cold else None,
        "wall_s": wall,
        "turns_per_s": record["input_rows"] / wall if wall else None,
        "peak_rss_mb": record["peak_rss_mb"],
        "failed_frac": failed / attempted,
    }
    if record["workload"] == "filter_parquet":
        out.update(_filter_extras(record))
    return out


def _filter_extras(record):
    steady = [it for it in _phase(record, "measure") if not it["errors"]]
    if not steady:
        return {}
    return {
        "resume_noop_s": statistics.median(it["extra"]["resume_s"] for it in steady),
        "out_bytes_per_in_byte": (steady[-1]["extra"]["bytes_written"]
                                  / record["input"]["parquet_bytes"]),
    }


def per_layer(record):
    """Every per-layer metric of a traced run.

    A layer a workload does not call reads 0: `operators.*` on
    `filter_parquet`, `pipeline.*` outside it, and the window/score probes
    on `curate_docs`.
    """
    out = {name: 0.0 for name in PER_LAYER}
    out.update({k: float(v) for k, v in record["layers"].items() if k in PER_LAYER})
    traced = [it for it in _phase(record, "traced") if not it["errors"]]
    spans = record["spans"]
    measured = {s["iter"]: (s["start"], s["end"]) for s in spans if s["name"] == "measured"}
    out.update(engine_metrics([measured[it["i"]] for it in traced if it["i"] in measured],
                              record["engine"]))
    all_spans = spans + engine_spans(spans, record["engine"])
    out.update({f"self.{k}_s": v for k, v in layer_self_s(all_spans).items() if k in LAYERS})
    untraced_wall = _median_wall(_phase(record, "measure"))
    traced_wall = _median_wall(traced)
    out["trace.untraced_wall_s"] = untraced_wall
    out["trace.traced_wall_s"] = traced_wall
    out["trace.overhead_s"] = (traced_wall - untraced_wall
                               if traced_wall is not None and untraced_wall is not None else None)
    out["host.calib_s"] = max(record["calib_s"])
    out["host.peak_rss_mb"] = record["peak_rss_mb"]
    if record["workload"] == "filter_parquet":
        extras = _filter_extras(record)
        out["pipeline.resume_s"] = extras.get("resume_noop_s", 0.0)
        out["pipeline.out_bytes_per_in_byte"] = extras.get("out_bytes_per_in_byte", 0.0)
    return out


def with_units(values, units):
    return {k: {"value": values[k], "unit": units[k]} for k in units if values.get(k) is not None}


def report(record):
    """The full report of one run, and the contract's result object."""
    attempted, failed = outcome(record)
    correct = failed == 0
    if record["trace"]:
        metrics = with_units(per_layer(record), PER_LAYER)
        detail = {}
    else:
        e2e = end_to_end(record)
        metrics = with_units(e2e, END_TO_END)
        detail = with_units(e2e, {k: u for k, (u, ws) in REPORTED.items()
                                  if record["workload"] in ws})
    full = {
        "workload": record["workload"],
        "seed": record["seed"],
        "input": record["input"],
        "checks": record["checks"],
        "session_s": record["session_s"],
        "checks_s": record["checks_s"],
        "jvm_s": record.get("jvm_s"),
        "prep_s": record["prep_s"],
        "iterations": [[it["phase"], it["wall_s"], it["errors"][:1]] for it in record["iters"]],
        "metrics": {**metrics, **detail},
    }
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return full, result
