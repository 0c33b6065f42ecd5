"""Measurement helpers that observe the program from outside: process CPU
and peak memory from ``/proc``, spans recorded around calls into the
package, and SQL metrics read off an executed physical plan."""

from __future__ import annotations

import json
import os
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants (the Spark JVM and its Python
    daemon and workers)."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime+stime of each process plus what its reaped children used."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the processes, in MiB."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


class Spans:
    """In-memory span recorder; ``dump`` writes every span when the run
    ends.  A span is (name, start, end, parent, run id)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def dump(self, path: str) -> None:
        """One JSON line per span, with its self time added."""
        own = self_times(self.spans)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self_s": own[s["id"]]}) + "\n")


class _Span:
    def __init__(self, rec: Spans, name: str):
        self.rec, self.name = rec, name

    def __enter__(self):
        rec = self.rec
        self.idx = len(rec.spans)
        rec.spans.append({"id": self.idx, "name": self.name, "run": rec.run_id,
                          "parent": rec._stack[-1] if rec._stack else None,
                          "start": time.perf_counter(), "end": None})
        rec._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.rec.spans[self.idx]["end"] = time.perf_counter()
        self.rec._stack.pop()
        return False

    @property
    def seconds(self) -> float:
        s = self.rec.spans[self.idx]
        return s["end"] - s["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part covered by its direct children."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


# SQL metric names summed over the final plan → benchmark counter names
PLAN_COUNTERS = {
    "pythonDataSent": "spark.python_bytes_sent",
    "pythonDataReceived": "spark.python_bytes_returned",
    "dataSize@BroadcastExchange": "spark.broadcast_bytes",
    "shuffleBytesWritten": "spark.shuffle_write_bytes",
    "spillSize": "spark.spill_bytes",
}


def plan_counters(df) -> dict[str, int]:
    """Execute ``df``'s own QueryExecution (every row produced, none
    collected) and sum the counters above over its final AQE plan.

    A ``df.write`` runs a new QueryExecution and leaves ``df``'s unexecuted,
    so this drives ``queryExecution().toRdd()`` instead.
    """
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    out = {v: 0 for v in PLAN_COUNTERS.values()}
    todo = [qe.executedPlan()]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = kv._1()
            if key == "dataSize":
                key = f"dataSize@{p.nodeName()}"
            if key in PLAN_COUNTERS:
                out[PLAN_COUNTERS[key]] += int(kv._2().value())
        ch = p.children().iterator()
        while ch.hasNext():
            todo.append(ch.next())
    return out


def calibrate(spark, cores: int) -> float:
    """Wall time of a fixed codegen'd aggregate over every core that runs
    no code of the program: how fast this shared host is right now."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 120_000_000, 1, 2 * cores).select(F.sum(F.xxhash64("id") % 1000)).collect()
    return time.perf_counter() - t0
