"""Benchmark inputs and the answers they must produce.

Inputs come from ``cdc.changegen.generate_changes``, run in a child process
(its multi-GB numpy temporaries stay out of the measured driver's memory)
and cached per (workload, seed, batch count) under the checkout's
``.perfbench/cache``. The expected answers are computed here, independently
of the engine: plain pyarrow/numpy last-writer-wins replays of the log.
Spark is used only to fingerprint rows with the same ``xxhash64`` the engine
side is fingerprinted with.

Run as a script it is the generator child: ``python inputs.py <json args>``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

PAYLOAD = ["doc_id", "tokens", "n_tok", "source"]
CACHE_KEEP = 6  # cached logs kept per cache dir (the warm-up logs count)


def ensure_log(cache_root: str, tag: str, gen_args: dict) -> dict:
    """The change log for ``gen_args``, generated once and reused. Returns
    its ``dir``, ``gen_args`` and ``gen_s`` (the generation wall time,
    measured when it was generated)."""
    out = os.path.join(cache_root, tag)
    ready = os.path.join(out, "ready.json")
    if os.path.exists(ready):
        with open(ready) as f:
            info = json.load(f)
        if info["gen_args"] == gen_args:
            os.utime(ready)
            return {**info, "dir": out}
    _evict(cache_root)
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.monotonic()
    subprocess.run([sys.executable, os.path.abspath(__file__),
                    json.dumps({"out_dir": out, **gen_args})], check=True)
    info = {"dir": out, "gen_args": gen_args, "gen_s": time.monotonic() - t0}
    with open(ready + ".tmp", "w") as f:
        json.dump(info, f)
    os.replace(ready + ".tmp", ready)
    return info


def _evict(cache_root: str) -> None:
    os.makedirs(cache_root, exist_ok=True)
    entries = sorted(
        (os.path.getmtime(r), os.path.dirname(r))
        for r in glob.glob(os.path.join(cache_root, "*", "ready.json")))
    for _, d in entries[: max(0, len(entries) - (CACHE_KEEP - 1))]:
        shutil.rmtree(d, ignore_errors=True)


def batch_dirs(log: dict) -> list[str]:
    return sorted(glob.glob(os.path.join(log["dir"], "batch-*")))


def _read_log(log: dict, columns: list[str]) -> pa.Table:
    """Every event of the log with a ``batch`` column (its micro-batch)."""
    parts = []
    for b, d in enumerate(batch_dirs(log)):
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            t = pq.read_table(f, columns=columns)
            parts.append(t.append_column(
                "batch", pa.array(np.full(t.num_rows, b, dtype=np.int32))))
    return pa.concat_tables(parts)


class Expected:
    """The answers one log must produce, replayed with numpy from its key
    columns (lsn, source partition, key, op) alone.

    ``applied[b]`` is the number of distinct keys batch ``b`` must apply:
    keys with an event above the per-partition high-water LSN of the batches
    before it (cross-batch redeliveries are stale, in-batch duplicates
    collapse). Lookup keys (``lookup_counts[b]`` of them after batch ``b``)
    are drawn with the seed from the keys delivered so far, so some are
    hot, some deleted and some recent. ``winner`` is the last-writer-wins
    event of a key after a batch."""

    def __init__(self, log: dict, seed: int, lookup_counts: list[int],
                 folded_lookups: int):
        t = _read_log(log, ["lsn", "part_id", "doc_id", "op"])
        # (key, lsn) order: a key's events are one run, its winner the last
        t = t.take(pc.sort_indices(
            t, [("doc_id", "ascending"), ("lsn", "ascending")]))
        self._batch = batch = t["batch"].to_numpy()
        self._lsn = lsn = t["lsn"].to_numpy()
        self._doc = doc = t["doc_id"].to_numpy(zero_copy_only=False).astype("S")
        self._delete = t["op"].to_numpy(zero_copy_only=False) == "delete"
        part = t["part_id"].to_numpy()
        n = int(batch.max()) + 1
        self.delivered = np.bincount(batch, minlength=n).tolist()
        hwm = np.full(int(part.max()) + 1, -1, dtype=np.int64)
        self.applied = []
        rng = np.random.default_rng([seed, 7])
        self.lookup_keys: list[list[str]] = []
        for b in range(n):
            sel = batch == b
            fresh = lsn[sel] > hwm[part[sel]]
            self.applied.append(len(np.unique(doc[sel][fresh])))
            np.maximum.at(hwm, part[sel], lsn[sel])
            self.lookup_keys.append(
                [k.decode() for k in rng.choice(doc[batch <= b],
                                                lookup_counts[b])]
                if lookup_counts[b] else [])
        self.folded_keys = [k.decode() for k in rng.choice(doc, folded_lookups)]

    def winner(self, key: str, upto_batch: int) -> int | None:
        """LSN of ``key``'s last event up to ``upto_batch``; None when that
        event is a delete or the key has no event yet."""
        k = key.encode()
        lo = int(np.searchsorted(self._doc, k, "left"))
        hi = int(np.searchsorted(self._doc, k, "right"))
        upto = np.nonzero(self._batch[lo:hi] <= upto_batch)[0]
        if not len(upto):
            return None
        i = lo + int(upto[-1])
        return None if self._delete[i] else int(self._lsn[i])

    def final_state(self, hashes: "EventHashes") -> tuple[int, int]:
        """(rows, checksum) of the table after the whole log: a single-shot
        LWW over every event (redeliveries repeat an event bit for bit, so
        the last event of each key in (key, lsn) order is its winner)."""
        last = np.append(self._doc[:-1] != self._doc[1:], True)
        keep = last & ~self._delete
        return int(keep.sum()), sum(int(h) for h in hashes.of(self._lsn[keep]))


class EventHashes:
    """Row fingerprint of every event of a log, by LSN: computed once with
    Spark and cached beside the log as ``hashes.parquet``."""

    def __init__(self, spark, log: dict):
        path = os.path.join(log["dir"], "hashes.parquet")
        if not os.path.exists(path):
            t = (spark.read.parquet(*batch_dirs(log))
                 .select("lsn", row_hash_expr().alias("h")).toArrow()
                 .sort_by("lsn"))
            lsn = t["lsn"].to_numpy()
            first = np.insert(lsn[1:] != lsn[:-1], 0, True)
            pq.write_table(t.filter(pa.array(first)), path + ".tmp")
            os.replace(path + ".tmp", path)
        t = pq.read_table(path)
        self._lsn = t["lsn"].to_numpy()
        self._h = t["h"].to_numpy()

    def of(self, lsns) -> np.ndarray:
        return self._h[np.searchsorted(self._lsn, lsns)]


PAYLOAD_TYPES = "doc_id string, tokens array<int>, n_tok int, source string"


def row_hash_expr():
    """The row fingerprint both sides use: Spark ``xxhash64`` over the
    payload columns, in table order."""
    from pyspark.sql import functions as F

    return F.xxhash64(*[F.col(c) for c in PAYLOAD])


def row_hashes(spark, rows: list[tuple]) -> list[int]:
    """Fingerprints of payload tuples (one small Spark job)."""
    if not rows:
        return []
    df = spark.createDataFrame(rows, PAYLOAD_TYPES)
    return [r[0] for r in df.select(row_hash_expr()).collect()]


def state_fingerprint(df) -> tuple[int, int]:
    """(rows, order-insensitive checksum) of a table state DataFrame."""
    from pyspark.sql import functions as F

    r = df.agg(F.count("*").alias("n"),
               F.sum(row_hash_expr().cast("decimal(38,0)")).alias("s")).first()
    return int(r["n"]), int(r["s"] or 0)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tenzir_spark.cdc.changegen import generate_changes

    generate_changes(**json.loads(sys.argv[1]))
