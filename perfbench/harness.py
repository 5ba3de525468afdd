"""Measurement plumbing shared by the workloads: spans, Spark job counts,
peak resident memory, output checks and small statistics helpers.

Nothing here imports pyspark at module load; the launcher in ``run.py``
must set the environment before the first Spark import.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager


def now() -> float:
    return time.perf_counter()


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> float:
    """Highest percentile that still has at least ten samples beyond it
    (nearest rank); the median when there are too few samples for any."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return median(xs)
    return float(xs[n - 11])


class Checks:
    """Output checks and operations, counted for ``failed_ops_share``."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# CHECK FAILED {name} {detail}", file=sys.stderr, flush=True)
        return ok


class Tracer:
    """In-memory spans around calls into sparkts modules.

    Each span gets its own Spark job group, so the status tracker can
    attribute jobs, stages and tasks to it. Disabled tracers cost one
    ``if`` per span and record nothing; an enabled one adds the time it
    spends on its own bookkeeping to ``overhead_s``.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self._t0 = now()
        self.overhead_s = 0.0

    def bind(self, sc) -> None:
        self._sc = sc

    @contextmanager
    def span(self, name: str):
        """Yield the span record; callers may append extra job groups
        (a streaming query runs its jobs under its own group)."""
        if not self.enabled:
            yield {"groups": []}
            return
        t_in = now()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "groups": [f"perfbench-{self.run_id}-{len(self.spans)}"],
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self._sc is not None:
            self._sc.setJobGroup(rec["groups"][0], name)
        rec["start"] = now() - self._t0
        self.overhead_s += now() - t_in
        try:
            yield rec
        finally:
            rec["end"] = now() - self._t0
            t_out = now()
            self._stack.pop()
            if self._sc is not None:
                if parent:
                    self._sc.setJobGroup(parent["groups"][0], parent["name"])
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
                rec.update(self._job_counts(rec["groups"]))
            self.overhead_s += now() - t_out

    def _job_counts(self, groups) -> dict:
        st = self._sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in list(info.stageIds):
                    si = st.getStageInfo(sid)
                    if si is None:
                        continue
                    stages += 1
                    tasks += si.numCompletedTasks + si.numFailedTasks
                    failed += si.numFailedTasks
        return {"spark_jobs": jobs, "spark_stages": stages,
                "spark_tasks": tasks, "failed_tasks": failed}

    def layer_counts(self, layer: str) -> dict:
        out = {"spark_jobs": 0, "spark_stages": 0, "spark_tasks": 0,
               "failed_tasks": 0}
        for s in self.spans:
            if s["name"].split(".")[0] == layer:
                for k in out:
                    out[k] += s.get(k, 0)
        return out

    def write(self, path: str) -> None:
        """Spans as JSON, each with its self time (duration minus the part
        of it that child spans cover)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        rows = []
        for s in self.spans:
            covered = 0.0
            cur = None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                if cur is None or c["start"] > cur[1]:
                    if cur:
                        covered += cur[1] - cur[0]
                    cur = [c["start"], c["end"]]
                else:
                    cur[1] = max(cur[1], c["end"])
            if cur:
                covered += cur[1] - cur[0]
            row = {k: v for k, v in s.items() if k != "groups"}
            row["self_s"] = (s["end"] - s["start"]) - covered
            rows.append(row)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": rows}, fh, indent=1)


# --------------------------------------------------------------------------- #
# memory
# --------------------------------------------------------------------------- #

def _children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb() -> float:
    """Σ VmHWM over this process and every descendant: the driver, the
    JVM it launched and the JVM's Python worker daemon and workers."""
    seen, todo, kb = set(), [os.getpid()], 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        kb += _vm_hwm_kb(pid)
        todo.extend(_children(pid))
    return kb / 1024.0


class PeakRss:
    """Largest tree RSS seen across samples (workers can exit between
    samples, so sample after every timed iteration)."""

    def __init__(self):
        self.value = 0.0
        self.samples = 0

    def sample(self) -> None:
        self.value = max(self.value, tree_peak_rss_mb())
        self.samples += 1


def descendants() -> set[int]:
    seen, todo = set(), _children(os.getpid())
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.add(pid)
            todo.extend(_children(pid))
    return seen


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, shut the JVM down and wait until it and the
    Python workers it started have exited."""
    import signal

    from pyspark import SparkContext

    pids = descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = now() + timeout
    while now() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        for p in list(pids):  # reap our own exited children
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.05)
    for p in pids:
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring checksum files."""
    nbytes = nfiles = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".crc"):
                continue
            nbytes += os.path.getsize(os.path.join(root, f))
            nfiles += 1
    return nbytes, nfiles
