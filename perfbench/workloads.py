"""Workload definitions: the shape of the change log each workload replays.

Every workload is a closed-loop catch-up replay: the next micro-batch is
applied when the previous one has committed, and after each batch one point
lookup and one full scan run, one at a time, from the driver thread. The run
length (``--seconds``) is turned into a batch count with a fixed share of
it per batch, so the work a run does depends only on (workload, seed,
seconds) and two commits measured with the same arguments do identical
work.
"""

from __future__ import annotations

from dataclasses import dataclass

CORES = 4            # Spark local[CORES]
N_PARTS = 8          # source partitions of the change log (keyed routing)
N_BUCKETS = 64       # lake table hash buckets
NEVER = 10**15       # compact_min_rows / compact_max_commits sentinel: no fold
#                      while ingesting; the benchmark times one fold at the end
MIN_BATCHES = 4      # at least four samples of each recurring operation
FOLDED_LOOKUPS = 6
WARM_SEED = 990_001  # the warm-up log is the same for every seed
WARM_BATCHES = 2     # with one, the 2nd measured batch ran ~1.5x slower
WARM_FRAC = 0.1      # warm-up batch size as a share of a real one; full-size
#                      warm-up batches added 7-11 s to set-up and still left
#                      the first measured batch slow (both measured with C2)


@dataclass(frozen=True)
class Workload:
    name: str
    events_per_batch: int
    token_len: tuple[int, int]
    events_per_doc: int      # n_docs = n_events / events_per_doc
    stats_mode: str          # IngestRunner stats_mode
    batch_s: float           # --seconds per batch: the run length maps to
    #                          a batch count, never to a clock (16 s give 4
    #                          wide and 5 narrow batches)

    def n_batches(self, seconds: float) -> int:
        return max(MIN_BATCHES, round(seconds / self.batch_s))

    def gen_args(self, n_batches: int, seed: int, scale: float) -> dict:
        """Arguments of ``cdc.changegen.generate_changes`` for this shape."""
        n_events = max(1000, int(self.events_per_batch * scale)) * n_batches
        return {
            "n_events": n_events,
            "n_docs": max(100, n_events // self.events_per_doc),
            "n_parts": N_PARTS,
            "n_batches": n_batches,
            "seed": seed,
            "token_len": list(self.token_len),
        }

    def warm_gen_args(self, scale: float) -> dict:
        return self.gen_args(WARM_BATCHES, WARM_SEED, scale * WARM_FRAC)


WORKLOADS = {
    w.name: w
    for w in (
        # long token arrays: the collapse SortAggregate and the zstd delta
        # write dominate; every delta spans all buckets, so each lookup
        # under ingest resolves every delta
        Workload(
            name="ingest_wide",
            events_per_batch=96_000,
            token_len=(64, 256),
            events_per_doc=10,
            stats_mode="winners",
            batch_s=4.0,
        ),
        # short token arrays: per-batch fixed cost (planning, footers,
        # manifest, metrics, job scheduling, full-mode stats job) dominates
        Workload(
            name="ingest_narrow",
            events_per_batch=100_000,
            token_len=(8, 32),
            events_per_doc=2,
            stats_mode="full",
            batch_s=3.2,
        ),
    )
}
