"""Measurement helpers for the sink benchmark: percentiles with their sample
rule, in-memory spans with self-times, process-tree RSS sampling, and the
reconcile of what the sink stored against the generator's truth.

Nothing here imports Spark, so the benchmark's own tests run without it.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager

#: percentiles the benchmark may report, highest last
PERCENTILES = (50, 75, 90, 99)


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile of ``values`` (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def reportable_percentile(n: int) -> int:
    """The highest of PERCENTILES with at least ten samples beyond it
    (50 when none qualifies: the median is always reported)."""
    best = 50
    for p in PERCENTILES:
        if n * (100 - p) / 100.0 >= 10:
            best = p
    return best


def samples_for(p: int) -> int:
    """Fewest samples with which ``reportable_percentile`` reports p."""
    return math.ceil(10 * 100 / (100 - p))


def median(values) -> float:
    return percentile(values, 50)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """Spans kept in memory and written out once, at exit.

    A span is (id, name, start, end, parent id), times in seconds since the
    epoch. A disabled tracer records nothing, so the untraced run pays only
    for the ``enabled`` test.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, **attrs})
        return sid

    def open(self, name: str, parent: int | None = None) -> int | None:
        """Start a span whose end is set by ``close``."""
        return self.add(name, time.time(), float("nan"), parent)

    def close(self, sid: int | None) -> None:
        if sid is not None:
            self.spans[sid]["end"] = time.time()

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        sid = self.open(name, parent)
        try:
            yield sid
        finally:
            self.close(sid)

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part of it its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants, from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    kids: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                rss[int(d)] = int(f.read().split()[1]) * page
        except OSError:
            continue  # the process ended while we looked
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo += kids.get(pid, [])
    return total


class RssSampler:
    """Samples the process tree's RSS on a thread; ``peak`` is the maximum."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------

def reconcile(truth: dict, seen: dict) -> list[str]:
    """Compare what the sink committed with the generator's truth.

    Both dicts carry ``stored`` (rows in the vehicles store), ``dead``
    ({reason: rows} in the dead-letter store) and ``digest`` (of the
    stored ``(unique_vehicle_id, tst)`` keys); ``truth`` also carries
    ``rows``, the messages sent. Returns one line per mismatch.
    """
    bad = []
    if seen["stored"] != truth["stored"]:
        bad.append(f"stored rows {seen['stored']} != {truth['stored']}")
    for reason in sorted(set(truth["dead"]) | set(seen["dead"])):
        got, want = seen["dead"].get(reason, 0), truth["dead"].get(reason, 0)
        if got != want:
            bad.append(f"dead-lettered {reason} {got} != {want}")
    accounted = seen["stored"] + sum(seen["dead"].values())
    if accounted != truth["rows"]:
        bad.append(f"stored + dead-lettered {accounted} != {truth['rows']} sent")
    if seen["digest"] != truth["digest"]:
        bad.append("(unique_vehicle_id, tst) digest differs")
    return bad
