"""Tracing from outside the engine: spans around public calls, a counting
filesystem, and process counters.

A span is (name, trace id, start, end, parent). The benchmark opens one
root span per operation (a batch, a lookup, the scan, the fold) whose trace
id is the operation id, and ``wrap`` adds a child span around each call of
the wrapped engine methods. Spans stay in memory and are written as JSON at
the end of the run. Times are wall-clock epoch seconds so that they line up
with the Spark event log's millisecond timestamps.

Only the driver thread calls wrapped methods (the engine's background
threads run Spark jobs, not these methods), so the span stack is a plain
list.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

from tenzir_spark.lake.fs import LocalFS


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace: str | None = None

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        if trace is not None:
            self._trace = trace
        rec = {"name": name, "trace": self._trace,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, obj, method: str, record=None) -> None:
        """Replace ``obj.method`` by a version that runs inside a span named
        ``<Class>.<method>``; ``record(span, args, kwargs, result)`` may add
        attributes. The instance attribute shadows the class method, so the
        engine's own ``self.method(...)`` calls are traced too."""
        fn = getattr(obj, method)
        name = f"{type(obj).__name__}.{method}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if record is not None:
                    record(s, args, kwargs, out)
                return out

        setattr(obj, method, traced)

    def of(self, name: str, trace: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (trace is None or s["trace"] == trace)]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class CountingFS(LocalFS):
    """``LocalFS`` that counts driver-side filesystem calls, their time and
    the bytes they write. Passed to ``IngestRunner(fs=...)`` in traced runs;
    ``snapshot()`` returns the running totals."""

    def __init__(self):
        self.calls = 0
        self.seconds = 0.0
        self.bytes_written = 0

    def snapshot(self) -> tuple[int, float, int]:
        return self.calls, self.seconds, self.bytes_written


def _counted(name: str):
    base = getattr(LocalFS, name)

    @functools.wraps(base)
    def counted(self, *args, **kwargs):
        t0 = time.monotonic()
        try:
            out = base(self, *args, **kwargs)
            if name == "walk_files":  # a generator: time the walk itself
                out = list(out)
            return out
        finally:
            self.calls += 1
            self.seconds += time.monotonic() - t0
            if name == "write_text_atomic":
                self.bytes_written += len(args[1].encode())
            elif name == "parquet_write" and os.path.exists(args[1]):
                self.bytes_written += os.path.getsize(args[1])

    return counted


for _name in ("exists", "isdir", "listdir", "size", "mtime", "walk_files",
              "walk_dirs_bottom_up", "read_text", "write_text_atomic",
              "makedirs", "rename", "remove", "rmtree", "rmdir_if_empty",
              "parquet_metadata", "parquet_column", "parquet_read",
              "parquet_write"):
    setattr(CountingFS, _name, _counted(_name))


# ------------------------------------------------------------ process counters
def cpu_seconds(pid: int) -> float:
    """User + system CPU seconds of a process, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_peak_rss(pid: int) -> bool:
    """Reset a process's VmHWM (Linux ``clear_refs`` 5); False if refused."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False
