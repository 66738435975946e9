"""Span recorder and per-span counters for the traced benchmark run.

Spans are recorded in the benchmark's own code, around each call it makes
into a module's public function; nothing inside the program is
instrumented. A span keeps its name, start, end, parent and the Spark
jobs (id and call site) submitted while it was open. Counters come from
two places:

  * Spark's own accounting, the JVM `AppStatusStore`, read through py4j
    after the pass (it works with `spark.ui.enabled=false`). Jobs are
    attributed to a span by submission time; spans never overlap, since
    the benchmark calls the program from one thread.
  * the span's output directories, snapshotted before and after the
    call: a file that is new or changed counts as written.

Everything stays in memory until `dump` writes it out at the end.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time

COUNTERS = {  # counter name -> unit
    "wall_s": "s", "driver_s": "s", "task_s": "s", "core_util": "ratio",
    "shuffle_bytes": "bytes", "spill_bytes": "bytes",
    "failed_tasks": "count", "files_written": "count",
    "bytes_written": "bytes",
}


def snapshot(dirs: list[str]) -> dict[str, tuple[int, int]]:
    """{path: (size, mtime_ns)} of every file under `dirs`."""
    out: dict[str, tuple[int, int]] = {}
    for root in dirs:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) new or changed between two snapshots."""
    changed = [v for p, v in after.items() if before.get(p) != v]
    return len(changed), sum(size for size, _ in changed)


class Tracer:
    """Records spans; `enabled=False` makes every span a plain pass-through
    so untraced passes run the same code path with no collection."""

    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        self.enabled = False
        self.group = 0  # the pass or set-up the next spans belong to
        self.spans: list[dict] = []
        self.pending: list[dict] = []
        self.collect_s = 0.0
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, outputs: list[str] | None = None):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        before = snapshot(outputs or [])
        self.collect_s += time.perf_counter() - t0
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "group": self.group,
               "parent": self._stack[-1] if self._stack else None}
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            t0 = time.perf_counter()
            rec["files_written"], rec["bytes_written"] = written(
                before, snapshot(outputs or []))
            self.collect_s += time.perf_counter() - t0
            self.pending.append(rec)

    def collect(self) -> None:
        """Attach Spark job/stage counters to the spans closed since the
        last call. Called between passes, outside every timed region."""
        if not self.pending:
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        # both lists come newest first: stop at the first entry older
        # than the pending spans
        since = min(rec["start"] for rec in self.pending)
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            sub = j.submissionTime()
            if not sub.isDefined():
                continue
            t = sub.get().getTime() / 1000.0
            if t < since:
                break
            ids = j.stageIds()
            jobs.append((t, j.jobId(), j.name(),
                         [ids.apply(i) for i in range(ids.size())]))
        wanted = {i for j in jobs for i in j[3]}
        lowest = min(wanted, default=0)
        stages = {}
        it = store.stageList(
            None, False, False, sc._gateway.new_array(sc._jvm.double, 0),
            None).iterator()
        while wanted and it.hasNext():
            s = it.next()
            if s.stageId() < lowest:
                break
            if s.stageId() not in wanted:
                continue
            sub, done = s.submissionTime(), s.completionTime()
            if not sub.isDefined():
                continue  # skipped: its output was reused
            stages[s.stageId()] = {
                "start": sub.get().getTime() / 1000.0,
                "end": (done.get().getTime() / 1000.0
                        if done.isDefined() else None),
                "task_s": s.executorRunTime() / 1000.0,
                "shuffle_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.diskBytesSpilled(),
                "failed_tasks": s.numFailedTasks(),
            }
        for rec in self.pending:
            mine = [j for j in jobs if rec["start"] <= j[0] <= rec["end"]]
            rec["jobs"] = [{"id": j[1], "call_site": j[2]} for j in mine]
            sts = [stages[i] for j in mine for i in j[3] if i in stages]
            wall = rec["end"] - rec["start"]
            rec["wall_s"] = wall
            rec["driver_s"] = max(0.0, wall - _covered(
                [(s["start"], s["end"] or rec["end"]) for s in sts],
                rec["start"], rec["end"]))
            for k in ("task_s", "shuffle_bytes", "spill_bytes",
                      "failed_tasks"):
                rec[k] = sum(s[k] for s in sts)
            rec["core_util"] = (rec["task_s"] / (wall * self.cores)
                                if wall > 0 else 0.0)
            self.spans.append(rec)
        self.pending = []
        self.collect_s += time.perf_counter() - t0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, sort_keys=True) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float
             ) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
