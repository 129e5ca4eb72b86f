"""Per-layer metrics of a traced run, one group per ``wage_etl_spark`` module.

Every traced run reports every metric below; a layer that the workload does
not reach reads 0. Time metrics named ``*_s`` are per operation (epoch or
micro-batch): a median where the README says so, otherwise the layer's total
span time in the measured window divided by the operations. ``query.*``
metrics come from the query pass, which runs after the window.
"""

from __future__ import annotations

from tracing import SparkStore, median
from workloads import SUITE

METRICS: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "lower"),
    "process.peak_rss_mb": ("MB", "lower"),
    "sources.events.epoch_rows_s": ("s", "lower"),
    "sources.events.max_epoch_s": ("s", "lower"),
    "streaming.replay.apply_s": ("s", "lower"),
    "streaming.replay.driver_s": ("s", "lower"),
    "streaming.replay.jobs_per_epoch": ("count", "lower"),
    "streaming.replay.tasks_per_epoch": ("count", "lower"),
    "streaming.replay.resume_s": ("s", "lower"),
    "streaming.structured.batch_s": ("s", "lower"),
    "streaming.structured.gap_s": ("s", "lower"),
    "streaming.structured.files_per_batch": ("count", "higher"),
    "streaming.structured.backlog_max": ("count", "lower"),
    "streaming.structured.backlog_end": ("count", "lower"),
    "streaming.structured.release_late_s_max": ("s", "lower"),
    "streaming.structured.generator_behind": ("count", "lower"),
    "operators.merge.apply_s": ("s", "lower"),
    "operators.merge.touched_frac": ("fraction", "lower"),
    "lake.table.adopt_s": ("s", "lower"),
    "lake.table.footer_s": ("s", "lower"),
    "lake.table.files_live": ("count", "lower"),
    "lake.table.bytes_added": ("bytes", "lower"),
    "lake.table.write_amp": ("bytes/byte", "lower"),
    "lake.manifest.commit_s": ("s", "lower"),
    "lake.manifest.last_epoch_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.input_bytes": ("bytes", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.busy_frac": ("fraction", "higher"),
    "spark.task_skew": ("ratio", "lower"),
    "query.build_s": ("s", "lower"),
    "query.exec_s": ("s", "lower"),
    **{f"query.{q}.s": ("s", "lower") for q in SUITE},
    **{f"query.{q}.jobs": ("count", "lower") for q in SUITE},
    "trace.setup_s": ("s", "lower"),
    "trace.op_s_p50": ("s", "lower"),
    "trace.query_s": ("s", "lower"),
}

APPLY = ("streaming.replay.apply_epoch", "streaming.structured.apply_epoch")


def compute(spark, tracer, out, session_start_s: float, setup_s: float,
            cores: int) -> dict[str, float]:
    w = out.window
    spans = [s for s in tracer.spans if w["t0"] <= s["t0"] and s["t1"] <= w["t1"]]
    # the window's jobs and the query pass's, which comes after the window
    # except in query_suite
    store = SparkStore(spark, min(w["j0"], out.facts["query_j0"]), tracer.next_job_id())
    ops = max(1, out.facts.get("ops", 0))
    f = out.facts

    def named(*names):
        return [s for s in spans if s["name"] in names]

    def per_op(*names):
        return sum(s["t1"] - s["t0"] for s in named(*names)) / ops

    def dur(s):
        return s["t1"] - s["t0"]

    apply = named(*APPLY)
    m = dict.fromkeys(METRICS, 0.0)
    m["session.start_s"] = session_start_s
    m["process.peak_rss_mb"] = out.peak_rss_mb
    m["sources.events.epoch_rows_s"] = per_op("sources.events.epoch_rows")
    m["sources.events.max_epoch_s"] = per_op("sources.events.max_epoch")
    m["streaming.replay.apply_s"] = median(dur(s) for s in apply)
    m["streaming.replay.driver_s"] = median(
        dur(s) - store.job_time_within(s["j0"], s["j1"], s["t0"], s["t1"]) for s in apply
    )
    m["streaming.replay.jobs_per_epoch"] = median(len(store.jobs_in(s["j0"], s["j1"])) for s in apply)
    m["streaming.replay.tasks_per_epoch"] = median(
        sum(store.jobs[j]["tasks"] for j in store.jobs_in(s["j0"], s["j1"])) for s in apply
    )
    resumes = []
    for r in named("streaming.replay.replay"):
        kids = [s["t0"] for s in apply if s["parent"] == r["id"]]
        if kids:
            resumes.append(min(kids) - r["t0"])
    m["streaming.replay.resume_s"] = median(resumes)
    m["streaming.structured.batch_s"] = median(f.get("batch_s", []))
    m["streaming.structured.gap_s"] = median(f.get("gap_s", []))
    m["streaming.structured.files_per_batch"] = median(f.get("files_per_batch", []))
    for k in ("backlog_max", "backlog_end", "release_late_s_max", "generator_behind"):
        m[f"streaming.structured.{k}"] = float(f.get(k, 0))
    merges = named("operators.merge.merge_apply")
    m["operators.merge.apply_s"] = median(dur(s) for s in merges)
    m["operators.merge.touched_frac"] = median(s["touched_frac"] for s in merges)
    m["lake.table.adopt_s"] = per_op("lake.table.adopt_files", "lake.table.overwrite_with_files")
    m["lake.table.footer_s"] = per_op("lake.table.file_row_counts")
    m["lake.table.files_live"] = float(f.get("files_live", 0))
    m["lake.table.bytes_added"] = float(f.get("bytes_added", 0))
    if f.get("input_bytes"):
        m["lake.table.write_amp"] = f["bytes_added"] / f["input_bytes"]
    m["lake.manifest.commit_s"] = per_op("lake.manifest.commit_epoch")
    m["lake.manifest.last_epoch_s"] = per_op("lake.manifest.last_committed_epoch")

    tot = store.totals(w["j0"], w["j1"])
    for k in ("jobs", "tasks", "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "gc_s", "task_skew"):
        m[f"spark.{k}"] = float(tot[k])
    m["spark.busy_frac"] = tot["run_s"] / max(1e-9, (w["t1"] - w["t0"]) * cores)

    qt = f.get("query_times", {})
    m["query.build_s"] = sum(b for b, _ in qt.values())
    m["query.exec_s"] = sum(e for _, e in qt.values())
    for q, (b, e) in qt.items():
        m[f"query.{q}.s"] = b + e
        m[f"query.{q}.jobs"] = sum(
            len(store.jobs_in(s["j0"], s["j1"])) for s in tracer.spans if s.get("query") == q
        )
    m["trace.setup_s"] = setup_s
    m["trace.op_s_p50"] = median(out.op_s)
    m["trace.query_s"] = out.query_s
    return {k: float(v) for k, v in m.items()}


def install(tracer) -> None:
    """Wrap the engine's public calls where their callers look them up."""
    from workloads import R, S, EpochSource, LakeTable

    def touched(args, kwargs, result):
        snap, _rows, counts = result
        n = len(kwargs.get("touched_buckets") or counts)
        return {"touched_frac": n / snap.num_buckets}

    tracer.wrap(R, "replay", "streaming.replay.replay")
    tracer.wrap(R, "apply_epoch", "streaming.replay.apply_epoch")
    tracer.wrap(S, "apply_epoch", "streaming.structured.apply_epoch")
    tracer.wrap(R, "merge_apply", "operators.merge.merge_apply", touched)
    tracer.wrap(R, "commit_epoch", "lake.manifest.commit_epoch")
    tracer.wrap(R, "last_committed_epoch", "lake.manifest.last_committed_epoch")
    tracer.wrap(S, "last_committed_epoch", "lake.manifest.last_committed_epoch")
    tracer.wrap(LakeTable, "adopt_files", "lake.table.adopt_files")
    tracer.wrap(LakeTable, "overwrite_with_files", "lake.table.overwrite_with_files")
    tracer.wrap(LakeTable, "file_row_counts", "lake.table.file_row_counts")
    tracer.wrap(EpochSource, "epoch_rows", "sources.events.epoch_rows")
    tracer.wrap(EpochSource, "max_epoch", "sources.events.max_epoch")
