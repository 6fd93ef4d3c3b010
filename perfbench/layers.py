"""Per-layer metrics of a traced run, from its spans, the Spark event log
and the counters the replay took. Per-batch values are medians over the
batches of the replay."""

from __future__ import annotations

import glob
import os
import statistics

import eventlog
from workloads import CORES

MB = 1 << 20

UNITS = {
    "runner.batch_ms_p50": "ms",
    "runner.prep_ms_p50": "ms",
    "runner.plan_ms_p50": "ms",
    "runner.post_ms_p50": "ms",
    "runner.apply_ratio": "ratio",
    "collapse.map_task_s": "s",
    "collapse.shuffle_write_mb": "MB",
    "collapse.spill_mb": "MB",
    "delta_write.task_s": "s",
    "delta_write.mb": "MB",
    "spark.gc_s_per_batch": "s",
    "spark.jobs_per_batch": "count",
    "spark.tasks_per_batch": "count",
    "stats_job.task_s": "s",
    "spark.core_busy_frac": "ratio",
    "lake.delta_commit_ms_p50": "ms",
    "lake.commit_ms_p50": "ms",
    "lake.manifest_kb": "KB",
    "lake.delta_buckets_per_file": "count",
    "lookup.deltas_read": "count",
    "lookup.input_mb": "MB",
    "lookup.bucket_of_ms_p50": "ms",
    "lookup.folded_ms_p50": "ms",
    "scan.task_s": "s",
    "scan.shuffle_mb": "MB",
    "fold.wall_s": "s",
    "fold.resolve_task_s": "s",
    "fold.write_task_s": "s",
    "fold.shuffle_mb": "MB",
    "fold.spill_mb": "MB",
    "fold.buckets_rewritten": "count",
    "fold.cold_buckets_carried": "count",
    "fold.rewrite_ratio": "ratio",
    "storage.base_mb": "MB",
    "storage.delta_mb": "MB",
    "fs.calls_per_batch": "count",
    "fs.ms_per_batch": "ms",
    "fs.write_kb_per_batch": "KB",
    "jvm.cpu_s_per_mevent": "s/Mevent",
    "driver.cpu_s_per_mevent": "s/Mevent",
    "jvm.gc_s": "s",
    "codegen.compile_ms": "ms",
    "process.peak_rss_mb": "MB",
    "gen_s": "s",
    "trace.ingest_events_per_s": "events/s",
}


def _dur(span: dict | None) -> float:
    return span["end"] - span["start"] if span else 0.0


def _sum(jobs, attr: str, kind: str | None = None) -> int:
    return sum(j.total(attr, kind) for j in jobs)


def per_layer(tracer, events_dir: str, wl, exp, obs,
              compile_ms: float, gen_s: float, traced_rate: float) -> dict:
    (log_file,) = glob.glob(os.path.join(events_dir, "*"))
    jobs = eventlog.parse(eventlog.read_events(log_file))

    def one(name: str, trace: str) -> dict | None:
        found = tracer.of(name, trace)
        return found[0] if found else None

    batches = range(len(obs.batch_s))
    per: dict[str, list] = {}

    def add(name: str, value: float) -> None:
        per.setdefault(name, []).append(value)

    for b in batches:
        tid = f"batch-{b}"
        root = one("batch", tid)
        ab = one("IngestRunner.apply_batch", tid)
        abd = one("IngestRunner.apply_batch_df", tid)
        dc = one("LakeTable.delta_commit", tid)
        add("runner.batch_ms_p50", _dur(ab) * 1000)
        add("runner.prep_ms_p50", (_dur(ab) - _dur(abd)) * 1000)
        add("runner.plan_ms_p50", (dc["start"] - abd["start"]) * 1000)
        add("runner.post_ms_p50", (abd["end"] - dc["end"]) * 1000)
        add("lake.delta_commit_ms_p50", _dur(dc) * 1000)
        add("lake.commit_ms_p50", _dur(one("LakeTable.commit", tid)) * 1000)
        js = eventlog.jobs_in(jobs, tid, root["start"], root["end"])
        own = [j for j in js if j.group == tid]
        side = [j for j in js if j.group is None]
        add("collapse.map_task_s", _sum(own, "run_ms", "map") / 1000)
        add("collapse.shuffle_write_mb", _sum(own, "shuffle_write", "map") / MB)
        add("collapse.spill_mb", _sum(own, "spill_disk") / MB)
        add("delta_write.task_s", _sum(own, "run_ms", "write") / 1000)
        add("delta_write.mb", _sum(own, "output", "write") / MB)
        add("spark.gc_s_per_batch", _sum(js, "gc_ms") / 1000)
        add("spark.jobs_per_batch", len(js))
        add("spark.tasks_per_batch", _sum(js, "tasks"))
        # full mode: task time of the side-thread stats job; winners mode
        # has no stats job, its stats are the driver-side footer read
        add("stats_job.task_s", _sum(side, "run_ms") / 1000
            if wl.stats_mode == "full"
            else _dur(one("IngestRunner._winner_stats", tid)))
        add("spark.core_busy_frac",
            _sum(js, "run_ms") / 1000 / (obs.batch_s[b] * CORES))
        p = obs.proc[b]
        add("fs.calls_per_batch", p["fs_calls"])
        add("fs.ms_per_batch", p["fs_s"] * 1000)
        add("fs.write_kb_per_batch", p["fs_bytes"] / 1024)

    out = {k: statistics.median(v) for k, v in per.items()}
    mevents = sum(exp.delivered[b] for b in batches) / 1e6
    out["jvm.cpu_s_per_mevent"] = sum(obs.proc[b]["jvm_cpu_s"] for b in batches) / mevents
    out["driver.cpu_s_per_mevent"] = sum(obs.proc[b]["driver_cpu_s"] for b in batches) / mevents
    out["jvm.gc_s"] = sum(obs.proc[b]["gc_ms"] for b in batches) / 1000
    out["runner.apply_ratio"] = (sum(s["applied_keys"] for s in obs.batch_stats)
                                 / sum(s["events_in"] for s in obs.batch_stats))

    before, after = obs.head_before["files"], obs.head_after["files"]
    deltas = [e for e in before if e.get("kind") == "delta"]
    out["lake.manifest_kb"] = obs.manifest_bytes / 1024
    out["lake.delta_buckets_per_file"] = statistics.mean(
        len(e["buckets"]) for e in deltas)

    n_look = len(obs.lookups)
    out["lookup.deltas_read"] = statistics.median(
        (one("LakeTable._resolve", f"lookup-{i}") or {}).get("deltas", 0)
        for i in range(n_look))
    out["lookup.input_mb"] = statistics.median(
        _sum(eventlog.jobs_in(jobs, f"lookup-{i}"), "input") / MB
        for i in range(n_look))
    out["lookup.folded_ms_p50"] = statistics.median(
        ms for _, ms, _ in obs.folded_lookups)
    out["lookup.bucket_of_ms_p50"] = statistics.median(
        _dur(s) * 1000 for s in tracer.of("LakeTable.bucket_of")
        if s["trace"].startswith(("lookup-", "flookup-")))

    scans = [eventlog.jobs_in(jobs, f"scan-{i}") for i in range(len(obs.scan_s))]
    out["scan.task_s"] = statistics.median(_sum(j, "run_ms") / 1000 for j in scans)
    out["scan.shuffle_mb"] = statistics.median(
        _sum(j, "shuffle_write") / MB for j in scans)

    fold = eventlog.jobs_in(jobs, "fold")
    before_paths = {e["path"] for e in before}
    new_base = [e for e in after if e["path"] not in before_paths]
    kept_base = [e for e in after if e["path"] in before_paths
                 and e.get("kind", "base") == "base"]
    out["fold.wall_s"] = obs.fold_s
    out["fold.resolve_task_s"] = _sum(fold, "run_ms", "map") / 1000
    out["fold.write_task_s"] = _sum(fold, "run_ms", "write") / 1000
    out["fold.shuffle_mb"] = _sum(fold, "shuffle_write") / MB
    out["fold.spill_mb"] = _sum(fold, "spill_disk") / MB
    out["fold.buckets_rewritten"] = len({e["bucket"] for e in new_base})
    out["fold.cold_buckets_carried"] = len({e["bucket"] for e in kept_base})
    out["fold.rewrite_ratio"] = (sum(e["rows"] for e in new_base)
                                 / sum(e["rows"] for e in deltas))

    def size_mb(entries) -> float:
        return sum(os.path.getsize(os.path.join(obs.table_root, e["path"]))
                   for e in entries) / MB

    out["storage.delta_mb"] = size_mb(deltas)
    out["storage.base_mb"] = size_mb(
        [e for e in after if e.get("kind", "base") == "base"])
    out["codegen.compile_ms"] = compile_ms
    out["process.peak_rss_mb"] = obs.peak_rss_mb
    out["gen_s"] = gen_s
    out["trace.ingest_events_per_s"] = traced_rate
    return {k: {"value": float(out[k]), "unit": u} for k, u in UNITS.items()}
