"""Measurement taken from outside the engine: spans around layer entry
points, Spark stage metrics from the in-process status store, process-tree
peak memory and index-directory file inventories.

Nothing here changes what the engine computes. Span wrappers are installed
only by a traced run (``Tracer(enabled=True)``); an untraced run gets null
contexts and no patched functions.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time


class Tracer:
    """In-memory spans: name, start, end, parent span, operation id and
    counts recorded at the same boundary. Single-threaded by design: the
    benchmark calls the engine from one thread, so spans nest strictly."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self._next_id = 0
        self._next_op = 0

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._next_op += 1
        self._next_id += 1
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else self._next_op,
            "start": time.perf_counter(),
            **counts,
        }
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def wrap(self, module, attr: str, name: str, counts=None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper until
        ``unwrap_all``. ``counts(*args, **kwargs)`` returns extra fields to
        record on the span. No-op when tracing is off."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            extra = counts(*args, **kwargs) if counts else {}
            with self.span(name, **extra):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapper)
        self._patches.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """name -> (calls, total seconds, self seconds). Spans nest strictly,
        so a span's self time is its duration minus its children's."""
        kids = self.children()
        out: dict[str, list] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            inner = sum(c["end"] - c["start"] for c in kids.get(s["id"], []))
            row = out.setdefault(s["name"], [0, 0.0, 0.0])
            row[0] += 1
            row[1] += dur
            row[2] += dur - inner
        return {k: (v[0], v[1], v[2]) for k, v in out.items()}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


_STAGE_FIELDS = (
    "executor_run_s", "executor_cpu_s", "jvm_gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "tasks",
)


class StageMetrics:
    """Per-phase Spark stage metrics read from the status store.

    ``group(phase)`` sets a job group around a call and records the job-id
    window it ran in; ``totals()`` sums the stages of every job in those
    windows once, after the measured phases. Job groups are thread-local: a
    job the engine starts from its own thread (the doc_map writer inside
    ``build_index``) runs in the window but outside the group, and is counted
    as unattributed rather than dropped."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.windows: list[tuple[str, str, int, int, float]] = []
        self._n = 0
        if enabled:
            jsc = self.sc._jsc.sc()
            self.store = jsc.statusStore()
            self.bus = jsc.listenerBus()
            self.jvm = self.sc._jvm

    def _last_job_id(self) -> int:
        self.bus.waitUntilEmpty(60_000)
        jobs = self.store.jobsList(self.jvm.java.util.ArrayList())
        return int(jobs.head().jobId()) if jobs.nonEmpty() else -1

    @contextlib.contextmanager
    def group(self, phase: str):
        if not self.enabled:
            yield
            return
        self._n += 1
        gid = f"perfbench-{phase}-{self._n}"
        first = self._last_job_id() + 1
        self.sc.setJobGroup(gid, phase)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.windows.append(
                (phase, gid, first, self._last_job_id(), wall)
            )

    def totals(self) -> dict[str, dict[str, float]]:
        """phase -> summed stage metrics, wall, slot_util and the number of
        in-window stages whose job ran outside the phase's job group."""
        if not self.enabled:
            return {}
        jvm = self.jvm
        jobs = self.store.jobsList(jvm.java.util.ArrayList())
        job_info = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            grp = j.jobGroup()
            job_info[int(j.jobId())] = (
                grp.get() if grp.isDefined() else None,
                [int(s) for s in _seq(j.stageIds())],
            )
        # Scala default arguments are not visible through py4j: pass
        # details=false, withSummaries=false, no quantiles, no task filter
        stages = self.store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        stage_info = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            sid, attempt = int(s.stageId()), int(s.attemptId())
            if stage_info.get(sid, {}).get("attempt", -1) > attempt:
                continue  # keep the latest attempt of a retried stage
            stage_info[sid] = {
                "attempt": attempt,
                "executor_run_s": s.executorRunTime() / 1e3,
                "executor_cpu_s": s.executorCpuTime() / 1e9,
                "jvm_gc_s": s.jvmGcTime() / 1e3,
                "shuffle_read_bytes": float(s.shuffleReadBytes()),
                "shuffle_write_bytes": float(s.shuffleWriteBytes()),
                "spill_bytes": float(s.diskBytesSpilled()),
                "tasks": float(s.numCompleteTasks()),
            }
        out: dict[str, dict[str, float]] = {}
        for phase, gid, first, last, wall in self.windows:
            acc = out.setdefault(
                phase,
                {f: 0.0 for f in _STAGE_FIELDS}
                | {"wall_s": 0.0, "unattributed_stages": 0.0},
            )
            acc["wall_s"] += wall
            for jid in range(first, last + 1):
                grp, sids = job_info.get(jid, (None, []))
                for sid in sids:
                    m = stage_info.get(sid)
                    if m is None:
                        continue
                    for f in _STAGE_FIELDS:
                        acc[f] += m[f]
                    if grp != gid:
                        acc["unattributed_stages"] += 1
        for acc in out.values():
            acc["slot_util"] = acc["executor_run_s"] / max(
                acc["wall_s"] * self.cores, 1e-9
            )
        return out


def _seq(scala_seq):
    for i in range(scala_seq.size()):
        yield scala_seq.apply(i)


def _children_of() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants() -> list[int]:
    """Live descendant process ids of this process."""
    kids = _children_of()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident set size (VmHWM) over this process and every
    descendant: the Python driver, the Spark JVM and its Python workers."""
    total_kb = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def inventory(root: str) -> dict[str, tuple[int, int, int]]:
    """path -> (size, mtime_ns, inode) for every file under ``root``."""
    out = {}
    for dp, _dns, fns in os.walk(root):
        for fn in fns:
            p = os.path.join(dp, fn)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def written_since(before: dict, after: dict) -> dict[str, int]:
    """Files that are new or rewritten between two inventories -> size."""
    return {p: v[0] for p, v in after.items() if before.get(p) != v}
