"""CDC engine benchmark: closed-loop catch-up replay of a change log.

    python3 perfbench/run.py --workload ingest_wide --seed 1 --seconds 16 --trace 0

One run, in one process on Spark ``local[4]``:

1. make (or reuse) the workload's change log for the seed, plus a fixed
   warm-up log (``inputs.py``; generation time is reported, never timed);
2. set up: start the Spark session and replay the warm-up log into a
   throwaway warehouse through every timed plan (apply, lookup, scan,
   fold). This is ``setup_s``;
3. replay the log into a fresh warehouse: each micro-batch is applied when
   the previous one has committed (``IngestRunner.apply_batch``), and
   after each batch one point lookup (``LakeTable.lookup``) and one full
   scan (``LakeTable.read`` into a ``noop`` sink) run on the merge-on-read
   table; compaction is deferred for the whole replay. Then one timed fold
   (``LakeTable.compact``) and lookups on the folded table;
4. check every answer against the expected values from ``inputs.py``.

Every timed operation recurs across the whole replay, a batch, a lookup and
a scan in each round, and its metric covers all of its samples (the fold,
the one exception, is timed once): on the shared host a run's speed drifts
in spells of several seconds, and a metric taken from one stretch of a few
seconds inherits whichever spell it lands in. Lookups and scans slow down
as deltas pile up, so their metrics are means over the rounds; a median
would be the one sample from the middle round.

The last stdout line is the JSON result; the line before it holds the
run's details (sample counts, host probe, generation time). With
``--trace 1`` the same replay runs with spans around the engine's public
methods, a counting filesystem and the Spark event log, and the result
holds the per-layer metrics instead. Everything the run writes stays under
``.perfbench/`` in the checkout; the run's warehouse and Spark dirs are
removed on exit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid
from contextlib import nullcontext
from dataclasses import dataclass, field

import inputs
import layers
from workloads import (CORES, FOLDED_LOOKUPS, N_BUCKETS, NEVER, WARM_BATCHES,
                       WORKLOADS)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "8g"  # the engine's session default
# A fixed 1 GB young generation: with G1's adaptive young sizing the JVM's
# peak RSS varied 2.6-4.4 GB between identical runs (heap growth follows GC
# timing); with it, 2.6-3.0 GB at the same batch times.
# C1 only (TieredStopAtLevel=1): every batch loads freshly generated classes.
# With C2 the JVM spent 4-7 CPU-s compiling in the first measured batch and
# still 0.8-1.9 CPU-s a batch at the tenth, next to the four task threads,
# and the batch wall fell by a third to a half over the first 6-8 batches,
# at a pace that varied from run to run. With C1 only it compiles 0.15-0.6
# CPU-s a batch and the walls are level after the first batch; the
# benchmark gives up ~45% of ingest_wide's and ~25% of ingest_narrow's
# throughput for that.
JVM_OPTIONS = "-Xmn1g -XX:-UsePerfData -XX:TieredStopAtLevel=1"

E2E_UNITS = {
    "setup_s": "s",
    "ingest_events_per_s": "events/s",
    "events_per_s_with_fold": "events/s",
    "lookup_ms_mean": "ms",
    "scan_s": "s",
    "storage_amp": "ratio",
    "ok_frac": "ratio",
}


@dataclass
class Replay:
    """What one replay observed. Times are seconds unless named ``_ms``."""
    batch_s: list = field(default_factory=list)
    batch_stats: list = field(default_factory=list)
    lookups: list = field(default_factory=list)         # (batch, key, ms, rows)
    folded_lookups: list = field(default_factory=list)  # (key, ms, rows)
    scan_s: list = field(default_factory=list)
    fold_s: float = 0.0
    head_before: dict = field(default_factory=dict)     # snapshot before fold
    head_after: dict = field(default_factory=dict)
    bytes_before: int = 0
    bytes_after: int = 0
    manifest_bytes: int = 0
    mor_state: tuple = ()                               # (rows, checksum)
    folded_state: tuple = ()
    peak_rss_mb: float = 0.0
    proc: list = field(default_factory=list)            # per-batch counters
    table_root: str = ""


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="batch-size multiplier (smoke tests only)")
    return p.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------ spark
def start_spark(run_dir: str, trace: bool):
    from tenzir_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} {JVM_OPTIONS}",
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        ev = os.path.join(run_dir, "events")
        os.makedirs(ev)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + ev,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark("perfbench", cores=CORES, driver_memory=DRIVER_MEMORY,
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        if gw is not None:
            gw.shutdown()
            proc = gw.proc
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, int(b.getCollectionTime())) for b in beans)


def codegen_compile_ms(spark) -> float:
    """Janino compile time so far: Spark's ``CodeGenerator.compilationTime``
    histogram (count x mean of its sample), the metric the metrics-system
    sinks report."""
    src = getattr(spark._jvm.org.apache.spark.metrics.source,
                  "CodegenMetrics$").__getattr__("MODULE$")
    h = src.METRIC_COMPILATION_TIME()
    return float(h.getCount()) * float(h.getSnapshot().getMean())


def host_probe(spark, run_dir: str) -> dict:
    """Diagnostic fields, never metrics: the median wall of trivial jobs
    with one task per core, and the write rate of the run's filesystem."""
    walls = []
    for _ in range(5):
        t0 = time.monotonic()
        spark.range(CORES * 1000, numPartitions=CORES).selectExpr(
            "sum(id) AS s").collect()
        walls.append((time.monotonic() - t0) * 1000)
    buf = b"x" * (1 << 20)
    path = os.path.join(run_dir, "probe.bin")
    t0 = time.monotonic()
    with open(path, "wb") as f:
        for _ in range(64):
            f.write(buf)
    write_s = time.monotonic() - t0
    os.remove(path)
    return {"box_job_ms": median(walls), "box_job_max_ms": max(walls),
            "box_write_mb_s": 64 / write_s}


# ----------------------------------------------------------------- replay
def head_bytes(table, snap: dict) -> int:
    return sum(os.path.getsize(os.path.join(table.root, e["path"]))
               for e in snap["files"])


def replay(spark, wl, log: dict, exp, wh: str, *, verify: bool,
           scan_after: set, tracer=None, fs=None, tag: str = "") -> Replay:
    """Closed-loop replay of ``log`` into a fresh warehouse ``wh``. Each
    operation runs in Spark job group ``<tag><operation id>``; ``verify``
    also fingerprints the table before and after the fold and records the
    peak RSS of the measured phase."""
    from spans import cpu_seconds, peak_rss_mb, reset_peak_rss
    from tenzir_spark.cdc.runner import IngestRunner

    sc = spark.sparkContext

    def group(name: str) -> str:
        sc.setJobGroup(tag + name, tag + name)
        return name

    runner = IngestRunner(spark, wh, n_buckets=N_BUCKETS,
                          stats_mode=wl.stats_mode, compact_min_rows=NEVER,
                          compact_max_commits=NEVER, fs=fs)
    runner.ensure_table()
    table = runner.table
    if tracer is not None:
        for m in ("apply_batch", "apply_batch_df", "_winner_stats"):
            tracer.wrap(runner, m)
        for m in ("delta_commit", "commit", "compact", "lookup", "bucket_of",
                  "read"):
            tracer.wrap(table, m)
        tracer.wrap(table, "_resolve",
                    record=lambda s, a, kw, out: s.update(deltas=len(a[2])))
    span = tracer.span if tracer is not None else (lambda *a, **k: nullcontext())
    out = Replay(table_root=table.root)
    pids = (jvm_pid(spark), os.getpid())
    if verify:
        for pid in pids:
            reset_peak_rss(pid)

    lk = 0
    for b, path in enumerate(inputs.batch_dirs(log)):
        op = group(f"batch-{b}")
        if tracer is not None:
            before = (cpu_seconds(pids[0]), time.process_time(),
                      jvm_gc_ms(spark), fs.snapshot())
        with span("batch", trace=op):
            t0 = time.monotonic()
            st = runner.apply_batch(path, b)
            out.batch_s.append(time.monotonic() - t0)
        if tracer is not None:
            after = (cpu_seconds(pids[0]), time.process_time(),
                     jvm_gc_ms(spark), fs.snapshot())
            out.proc.append({
                "jvm_cpu_s": after[0] - before[0],
                "driver_cpu_s": after[1] - before[1],
                "gc_ms": after[2] - before[2],
                "fs_calls": after[3][0] - before[3][0],
                "fs_s": after[3][1] - before[3][1],
                "fs_bytes": after[3][2] - before[3][2]})
        out.batch_stats.append(st)
        for key in exp.lookup_keys[b]:
            with span("lookup", trace=group(f"lookup-{lk}")):
                t0 = time.monotonic()
                rows = table.lookup(spark, key).collect()
                ms = (time.monotonic() - t0) * 1000
            out.lookups.append((b, key, ms, rows))
            lk += 1
        if b in scan_after:
            with span("scan", trace=group(f"scan-{len(out.scan_s)}")):
                t0 = time.monotonic()
                table.read(spark).write.format("noop").mode("overwrite").save()
                out.scan_s.append(time.monotonic() - t0)

    out.head_before = table.snapshot()
    out.manifest_bytes = os.path.getsize(os.path.join(
        table.meta_dir, f"v{table.current_version():08d}.json"))
    out.bytes_before = head_bytes(table, out.head_before)
    if verify:
        group("check")
        out.mor_state = inputs.state_fingerprint(table.read(spark))

    with span("fold", trace=group("fold")):
        t0 = time.monotonic()
        table.compact(spark)
        out.fold_s = time.monotonic() - t0
    out.head_after = table.snapshot()
    out.bytes_after = head_bytes(table, out.head_after)

    for i, key in enumerate(exp.folded_keys):
        with span("folded_lookup", trace=group(f"flookup-{i}")):
            t0 = time.monotonic()
            rows = table.lookup(spark, key).collect()
            ms = (time.monotonic() - t0) * 1000
        out.folded_lookups.append((key, ms, rows))
    if verify:
        out.peak_rss_mb = sum(peak_rss_mb(p) for p in pids)
        group("check")
        out.folded_state = inputs.state_fingerprint(table.read(spark))
    return out


# ----------------------------------------------------------------- checks
def check(spark, log: dict, exp, obs: Replay) -> tuple[int, int, list[str]]:
    """(attempted, failed, messages). Every batch, lookup, the scan and the
    fold is one operation; each mismatch is one failed operation. Rows are
    compared by key and payload fingerprint."""
    bad: list[str] = []
    attempted = 0
    for b, st in enumerate(obs.batch_stats):
        attempted += 1
        want = (exp.delivered[b], exp.applied[b])
        got = (st["events_in"], st["applied_keys"])
        if got != want:
            bad.append(f"batch {b}: (events_in, applied_keys) {got} != {want}")
    hashes = inputs.EventHashes(spark, log)
    last = len(obs.batch_stats) - 1
    looks = [(b, k, rows) for b, k, _, rows in obs.lookups] + [
        (last, k, rows) for k, _, rows in obs.folded_lookups]
    got_h = iter(inputs.row_hashes(spark, [
        tuple(r[c] for c in inputs.PAYLOAD) for _, _, rows in looks for r in rows]))
    for i, (b, key, rows) in enumerate(looks):
        attempted += 1
        lsn = exp.winner(key, b)
        want = [] if lsn is None else [(key, int(hashes.of([lsn])[0]))]
        got = [(r["doc_id"], next(got_h)) for r in rows]
        if got != want:
            bad.append(f"lookup {i} ({key} after batch {b}): (key, hash) "
                       f"{got} != {want} (winner lsn {lsn})")
    oracle = exp.final_state(hashes)
    for name, state in (("scan", obs.mor_state), ("fold", obs.folded_state)):
        attempted += 1
        if tuple(state) != oracle:
            bad.append(f"{name}: (rows, checksum) {state} != oracle {oracle}")
    return attempted, len(bad), bad


# ---------------------------------------------------------------- metrics
def end_to_end(exp, obs: Replay, setup_s: float, ok_frac: float) -> dict:
    vals = {
        "setup_s": setup_s,
        "ingest_events_per_s": sum(exp.delivered) / sum(obs.batch_s),
        "events_per_s_with_fold": sum(exp.delivered)
        / (sum(obs.batch_s) + obs.fold_s),
        "lookup_ms_mean": statistics.mean(ms for _, _, ms, _ in obs.lookups),
        "scan_s": statistics.mean(obs.scan_s),
        "storage_amp": obs.bytes_before / obs.bytes_after,
        "ok_frac": ok_frac,
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}


def main(argv=None) -> int:
    t_start = time.monotonic()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import tenzir_spark  # noqa: F401
    except ImportError:
        print(f"perfbench: the engine package tenzir_spark is not under {ROOT}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    # a terminated run still stops its JVM and removes its dirs (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for stale in glob.glob(os.path.join(WORK, "run-*")):
        if not os.path.exists(f"/proc/{os.path.basename(stale).split('-')[1]}"):
            shutil.rmtree(stale, ignore_errors=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_dir)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    spark = None
    try:
        n = wl.n_batches(args.seconds)
        cache = os.path.join(WORK, "cache")
        log = inputs.ensure_log(
            cache, f"{wl.name}-s{args.seed}-b{n}-x{args.scale:g}",
            wl.gen_args(n, args.seed, args.scale))
        warm = inputs.ensure_log(cache, f"{wl.name}-warm-x{args.scale:g}",
                                 wl.warm_gen_args(args.scale))
        exp = inputs.Expected(log, args.seed, [1] * n, FOLDED_LOOKUPS)
        # the warm-up runs one of each read: a lookup after its last batch
        warm_exp = inputs.Expected(
            warm, 0, [0] * (WARM_BATCHES - 1) + [1], 1)

        t0 = time.monotonic()
        phase_s = {"inputs": t0 - t_start}
        spark = start_spark(run_dir, bool(args.trace))
        phase_s["spark_start"] = time.monotonic() - t0
        replay(spark, wl, warm, warm_exp, os.path.join(run_dir, "warm"),
               verify=False, scan_after={WARM_BATCHES - 1}, tag="warm-")
        setup_s = time.monotonic() - t0
        compile_ms = codegen_compile_ms(spark)
        shutil.rmtree(os.path.join(run_dir, "warm"), ignore_errors=True)
        host = host_probe(spark, run_dir)

        tracer = fs = None
        if args.trace:
            from spans import CountingFS, Tracer

            tracer, fs = Tracer(), CountingFS()
        t1 = time.monotonic()
        obs = replay(spark, wl, log, exp, os.path.join(run_dir, "wh"),
                     verify=True, scan_after=set(range(n)),
                     tracer=tracer, fs=fs)
        t2 = time.monotonic()
        attempted, failed, bad = check(spark, log, exp, obs)
        phase_s.update(setup=setup_s, probe=t1 - t0 - setup_s,
                       replay=t2 - t1, check=time.monotonic() - t2)
        for msg in bad:
            print(f"perfbench: MISMATCH {msg}", file=sys.stderr)
        e2e = end_to_end(exp, obs, setup_s, (attempted - failed) / attempted)
        details = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "batches": n, "events": sum(exp.delivered),
            "lookups": len(obs.lookups), "folded_lookups": len(obs.folded_lookups),
            "gen_s": log["gen_s"], "batch_s": obs.batch_s,
            "lookup_ms": [ms for _, _, ms, _ in obs.lookups], "fold_s": obs.fold_s,
            "scan_s": obs.scan_s,
            "peak_rss_mb": obs.peak_rss_mb,
            "lookup_folded_ms_p50": median(
                [ms for _, ms, _ in obs.folded_lookups]),
            "compile_ms_setup": compile_ms, "phase_s": phase_s, **host,
        }
        if args.trace:
            stop_spark(spark)
            spark = None
            metrics = layers.per_layer(
                tracer, os.path.join(run_dir, "events"), wl, exp, obs,
                compile_ms, log["gen_s"], e2e["ingest_events_per_s"]["value"])
            trace_path = os.path.join(
                WORK, "traces", f"{wl.name}-seed{args.seed}.json")
            tracer.dump(trace_path)
            details["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            metrics = e2e
        print(json.dumps({"perfbench_details": details}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
