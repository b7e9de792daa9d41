"""Measurement plumbing shared by every workload: the host-speed probe,
process-tree RSS sampling, steal time, percentile helpers, the op ledger
and the span tracer. Nothing here imports the engine."""

from __future__ import annotations

import hashlib
import os
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Median probe time on the 4-vCPU reference host; probe-scaled timings are
# reported as if the run had seen exactly this host speed.
PROBE_REF_S = 0.045


class Probe:
    """Fixed work that calls no engine code, on one thread: a numpy sort of
    1M int64, a zstd compress of 6.4 MB, a sha256 of 8 MB and a short
    interpreted loop. Its inputs never depend on the run seed, so its time
    tracks host speed only. Runs are interleaved with the ops; the run's
    median probe time gives one host-speed factor for the whole run."""

    def __init__(self) -> None:
        rng = np.random.default_rng(12345)
        self._ints = rng.integers(0, 1 << 62, size=1 << 20, dtype=np.int64)
        words = rng.integers(0, 4096, size=800_000, dtype=np.int64)
        self._buf = pa.py_buffer(words.tobytes())
        self.samples: list[float] = []

    def run(self) -> None:
        t0 = time.perf_counter()
        np.sort(self._ints)
        pa.compress(self._buf, codec="zstd")
        hashlib.sha256(self._ints).digest()
        acc = 0
        for i in range(50_000):
            acc ^= i * 31
        self.samples.append(time.perf_counter() - t0)

    def median(self) -> float:
        return statistics.median(self.samples)

    def time_scale(self) -> float:
        """Multiply raw times by it (divide rates) to report them at the
        reference probe speed."""
        return PROBE_REF_S / self.median()


def median(values) -> float:
    return float(statistics.median(values))


def store_bytes(root: str) -> tuple[int, int]:
    """(bytes as written, bytes with ``encode_s`` zeroed) under ``root``.

    Manifest and snapshot rows record ``encode_s``, a wall-clock float, so
    the Parquet files holding them move by a few bytes between runs of the
    same input. The second figure re-writes each such file, as the engine
    writes it (``pq.write_table`` with defaults), with that column set to
    0.0: a pure function of the stored data, used by the size metrics."""
    written = neutral = 0
    for d, _, names in os.walk(root):
        for name in names:
            path = os.path.join(d, name)
            size = os.path.getsize(path)
            written += size
            if name.endswith(".parquet"):
                table = pq.read_table(path)
                if "encode_s" in table.column_names:
                    i = table.column_names.index("encode_s")
                    table = table.set_column(
                        i, table.field(i), pa.array(np.zeros(table.num_rows))
                    )
                    sink = pa.BufferOutputStream()
                    pq.write_table(table, sink)
                    size = sink.getvalue().size
            neutral += size
    return written, neutral


# -- process tree ------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, session id) for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        out[int(name)] = (int(fields[1]), int(fields[3]))
    return out


def descendants(root: int) -> list[int]:
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for child in kids.get(stack.pop(), ()):
            out.append(child)
            stack.append(child)
    return out


def session_members(sid: int) -> list[int]:
    return [pid for pid, (_, s) in _proc_table().items() if s == sid]


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread sampling the RSS of this process and all of its
    descendants (JVM, Python workers); keeps the peak of the sum."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(me))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


# -- op ledger ---------------------------------------------------------------


class Ledger:
    """Counts attempted and failed ops. An op fails when it raises or when
    any of its output checks is false; the first few reasons are kept."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, why: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.reasons) < 5:
                self.reasons.append(why)
        return ok


# -- tracing -----------------------------------------------------------------


class Tracer:
    """In-memory spans with parent links. Disabled tracers cost one branch
    per span. ``op`` opens a root span; ``span`` nests under the innermost
    open span. Self time = duration minus the time covered by children."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent_index, op_index]
        self._stack: list[int] = []
        self.n_ops = 0
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def op(self, name: str):
        if not self.enabled:
            yield
            return
        self.n_ops += 1
        with self.span(name, root=True):
            yield

    @contextmanager
    def span(self, name: str, root: bool = False):
        """Spans outside any op (set-up, checks) are not recorded."""
        if not self.enabled or not (root or self._stack):
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.n_ops])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper for this run;
        ``on_call(args, kwargs, result, seconds)`` may record counts."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if on_call is not None:
                on_call(args, kwargs, out, time.perf_counter() - t0)
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def self_times(self) -> tuple[dict[str, list[float]], float]:
        """Per span name, the self time of each op it appeared in; and the
        largest per-op gap between wall time and (sum of self times), which
        is zero when spans nest properly."""
        child_cover = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent >= 0:
                child_cover[parent] += t1 - t0
        per_op: dict[int, dict[str, float]] = {}
        walls: dict[int, float] = {}
        for i, (name, t0, t1, parent, op) in enumerate(self.spans):
            d = per_op.setdefault(op, {})
            d[name] = d.get(name, 0.0) + (t1 - t0) - child_cover[i]
            if parent < 0:
                walls[op] = walls.get(op, 0.0) + (t1 - t0)
        residual = max(
            (abs(walls.get(op, 0.0) - sum(d.values())) for op, d in per_op.items()),
            default=0.0,
        )
        by_name: dict[str, list[float]] = {}
        for d in per_op.values():
            for name, s in d.items():
                by_name.setdefault(name, []).append(s)
        return by_name, residual
