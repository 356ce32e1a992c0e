"""Per-layer metrics of a traced run.

Each metric is measured over the run's traced window and is charged to
the layer whose public function the benchmark called: job and task figures
come from the event-log fold (``trace.fold``), phase times from the
``MergeStats.timings`` the merge returns, and client-side timings from the
workload's own sample series. A layer a workload does not exercise reports
0. Per-epoch and per-call figures are means over the window.
"""

from __future__ import annotations

import math
import statistics

from . import trace

#: spans whose jobs are write-path work (one or more epochs each)
WRITE_SPANS = ("replay_batches", "apply_changes")


def _mean(xs) -> float:
    return float(sum(xs) / len(xs)) if xs else 0.0


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _per(total: float, n: float) -> float:
    return total / n if n else 0.0


def _in_window(t: float, window) -> bool:
    return window[0] <= t <= window[1]


def per_layer(wl, tracer: trace.Tracer, events_dir: str, e2e: dict, untraced: dict,
              steal: float, higher_better: set[str]) -> dict:
    window = wl.window_ms
    spans = [s for s in tracer.spans if s.end_ms is not None]
    events = trace.read_event_log(events_dir)
    jobs, stages = trace.fold(events, spans)
    owner = trace.stage_owner(jobs)

    def under(names) -> set[int]:
        return trace.descendants(spans, {s.span_id for s in spans if s.name in names})

    def jobs_in(span_ids) -> list[trace.Job]:
        return [j for j in jobs.values() if j.span_id in span_ids]

    def stages_in(span_ids) -> list[trace.StageAgg]:
        ids = {j.job_id for j in jobs_in(span_ids)}
        return [st for sid, st in stages.items() if sid in owner and owner[sid].job_id in ids]

    s = wl.series
    out: dict[str, float] = {}

    # -- streaming.driver ---------------------------------------------------
    write_ids = under(WRITE_SPANS)
    epoch_walls = s.get("epoch_s", [])
    n_epochs = len(epoch_walls)
    job_iv = [(j.submit_ms, j.end_ms) for j in jobs.values() if j.end_ms is not None]
    gap_s = sum(trace.self_time_s(sp, job_iv) for sp in spans
                if sp.name in WRITE_SPANS and sp.parent_id is None)
    out["driver.epochs"] = n_epochs
    out["driver.epoch_s_p50"] = _median(epoch_walls)
    out["driver.gap_s"] = _per(gap_s, n_epochs)
    out["driver.trigger_overhead_s"] = _median(s.get("trigger_s", []))
    out["driver.generator_late_s"] = max(s.get("generator_late_s", [0.0]))

    # -- epoch scan, LWW collapse and shuffle (write-path stages) -----------
    wst = stages_in(write_ids)
    scan_st = [st for st in wst if st.input_records]
    in_rec = sum(st.input_records for st in scan_st)
    out["scan.input_records"] = _per(in_rec, n_epochs)
    out["scan.input_bytes"] = _per(sum(st.input_bytes for st in scan_st), n_epochs)
    out["scan.task_s"] = _per(sum(st.acc.get("scan time", 0.0) for st in scan_st) / 1000.0, n_epochs)
    map_st = [st for st in scan_st if st.shuffle_map]
    out["lww.map_task_s"] = _per(
        sum(st.acc.get("time in aggregation build", 0.0) for st in map_st) / 1000.0, n_epochs)
    out["lww.combine_ratio"] = _per(sum(st.shuffle_write_records for st in map_st),
                                    sum(st.input_records for st in map_st))
    out["shuffle.write_bytes"] = _per(sum(st.shuffle_write_bytes for st in wst), n_epochs)
    skews = [max(st.task_run_ms) / _median(st.task_run_ms) for st in wst
             if st.shuffle_read_records and len(st.task_run_ms) > 1 and _median(st.task_run_ms) > 0]
    out["shuffle.reduce_skew"] = _median(skews)
    out["shuffle.spill_bytes"] = _per(sum(st.spill_bytes for st in wst), n_epochs)

    # -- pipeline -------------------------------------------------------------
    out["pipeline.unphased_s"] = _mean(s.get("unphased_s", []))

    # -- lake.snapshot_table merge -------------------------------------------
    for phase in ("write", "lineage_stats", "lineage", "commit", "compact"):
        out[f"lake.merge.{phase}_s"] = _per(sum(s.get(f"merge_{phase}_s", [])), n_epochs)
    out["lake.merge.compactions"] = len(s.get("merge_compact_s", []))
    out["lake.bytes_written_per_event"] = _per(sum(st.output_bytes for st in wst),
                                               sum(s.get("epoch_events", [])))
    out["lake.files_per_bucket"] = _median(s.get("files_per_bucket", []))

    # -- lake.snapshot_table bootstrap ------------------------------------------
    boot_ids = under(("bootstrap",))
    n_boot = len([sp for sp in spans if sp.name == "bootstrap"])
    bst = stages_in(boot_ids)
    out["lake.bootstrap.task_s"] = _per(sum(st.run_ms for st in bst) / 1000.0, n_boot)
    out["lake.bootstrap.shuffle_bytes"] = _per(sum(st.shuffle_write_bytes for st in bst), n_boot)

    # -- lake.snapshot_table read / lookup ---------------------------------------
    read_ids = under(("read_full",))
    n_read = len(s.get("read_full_s", []))
    rst = stages_in(read_ids)
    out["lake.read.call_s"] = _median(s.get("read_full_call_s", []))
    out["lake.read.exec_s"] = _median(s.get("read_full_exec_s", []))
    out["lake.read.jobs"] = _per(len(jobs_in(read_ids)), n_read)
    out["lake.read.files_scanned"] = _mean(s.get("read_full_scanned_files", []))
    out["lake.read.files_pruned"] = _mean(s.get("read_window_pruned_files", []))
    out["lake.read.input_bytes"] = _per(sum(st.input_bytes for st in rst), n_read)
    out["lake.lookup.s_p50"] = _median(s.get("lookup_hot_s", []) + s.get("lookup_cold_s", []))
    out["lake.lookup.files_scanned"] = _mean(s.get("lookup_hot_scanned_files", [])
                                             + s.get("lookup_cold_scanned_files", []))

    # -- status --------------------------------------------------------------------
    st_ids = under(("status",))
    n_scr = len(s.get("scrape_s", []))
    out["status.scrape_s"] = _median(s.get("scrape_s", []))
    out["status.scrape_jobs"] = _per(len(jobs_in(st_ids)), n_scr)
    out["status.lineage_files"] = wl.lineage_files()

    # -- engine-wide / host -----------------------------------------------------
    wjobs = [j for j in jobs.values() if _in_window(j.submit_ms, window)]
    wstages = [st for sid, st in stages.items()
               if sid in owner and _in_window(owner[sid].submit_ms, window)]
    out["spark.jobs"] = len(wjobs)
    out["spark.executor_run_s"] = sum(st.run_ms for st in wstages) / 1000.0
    out["spark.executor_cpu_s"] = sum(st.cpu_ns for st in wstages) / 1e9
    out["spark.gc_s"] = sum(st.gc_ms for st in wstages) / 1000.0
    out["host.steal_frac"] = steal
    for name, base in untraced.items():
        # share by which the traced window is worse than the untraced ones
        traced = e2e[name]
        worse, better = (base, traced) if name in higher_better else (traced, base)
        out[f"trace.overhead.{name}"] = worse / better - 1.0 if better else 0.0
    return {k: (float(v) if math.isfinite(float(v)) else 0.0) for k, v in out.items()}
