"""In-memory spans recorded around calls into the program's layers, and
the process-level readings every run takes (CPU covariate, peak RSS).

A span is ``(id, name, parent id, start, end, key)``; ``key`` groups the
spans of one micro-batch. Spans are recorded only when the benchmark runs
with ``--trace 1``: ``Tracer.wrap`` returns the function unchanged
otherwise, so an untraced run calls the program exactly as a user would.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, key=None):
        return _Span(self, name, key)

    def wrap(self, fn, name: str, key_of=None):
        """``fn`` wrapped in a span named ``name``; ``key_of(args)`` may
        pick the span key (e.g. the micro-batch epoch)."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, key_of(args) if key_of else None):
                return fn(*args, **kwargs)

        return wrapper

    def patch(self, owner, attr: str, name: str, key_of=None) -> None:
        """Replace ``owner.attr`` by its wrapped form until ``restore``."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name, key_of))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- analysis ------------------------------------------------------
    def named(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix)]

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total, and self time (duration minus
        the part covered by its direct children)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += d
            agg["self_s"] += d - child.get(s["id"], 0.0)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "layers": self.self_times(), **extra}, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str, key):
        self.t, self.name, self.key = tracer, name, key

    def __enter__(self):
        t = self.t
        if not t.enabled:
            return self
        st = t._stack()
        with t._lock:
            self.id = t._next
            t._next += 1
        self.parent = st[-1] if st else None
        st.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t = self.t
        if not t.enabled:
            return False
        end = time.perf_counter()
        t._stack().pop()
        with t._lock:
            t.spans.append({"id": self.id, "name": self.name, "parent": self.parent,
                            "start": self.start, "end": end, "key": self.key})
        return False


# ---------------------------------------------------------------------------
# Process readings
# ---------------------------------------------------------------------------

def _ppids() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    out[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    return out


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    ppid = _ppids()
    mine = {root or os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, parent in ppid.items():
            if parent in mine and pid not in mine:
                mine.add(pid)
                grew = True
    return sorted(mine)


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of every live process in
    this process tree: the Python driver, the JVM and Python workers."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_jiffies() -> tuple[int, int, int, int]:
    """(machine busy jiffies, stolen jiffies, all jiffies, jiffies of this
    process tree). Busy excludes steal, the time the hypervisor gave this
    machine's CPUs to someone else; the tree counts reaped children too."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    steal = vals[7]
    busy = sum(vals[:8]) - vals[3] - vals[4] - steal
    tree = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                parts = fh.read().rsplit(")", 1)[1].split()
            tree += sum(int(x) for x in parts[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return busy, steal, sum(vals[:8]), tree


def external_cpu_frac(start: tuple, end: tuple) -> float:
    """Share of the machine's busy CPU between two ``cpu_jiffies``
    readings that was spent outside this process tree."""
    d_busy = max(end[0] - start[0], 1)
    d_tree = max(end[3] - start[3], 0)
    return min(max(d_busy - d_tree, 0) / d_busy, 1.0)


def steal_frac(start: tuple, end: tuple) -> float:
    """Share of all CPU time between two ``cpu_jiffies`` readings that the
    hypervisor gave to other machines."""
    return (end[1] - start[1]) / max(end[2] - start[2], 1)
