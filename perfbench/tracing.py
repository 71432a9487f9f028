"""Spans around every public call the benchmark makes, plus process memory.

A span records name, start, end, parent span and request id; spans are kept
in memory and written out when the run ends. With Spark counters on (the
traced run), each span sets its own Spark job group, so every job the call
submits is attributed to it; after the timed region the counters are read
per group through ``statusTracker`` and the JVM AppStatusStore (the path
``admarus_spark.session.jvm_shuffle_write_bytes`` uses, which works with the
UI off). End-to-end numbers come from runs with counters off.
"""

from __future__ import annotations

import json
import os
import signal
import threading
import time
from contextlib import contextmanager

SPARK_COUNTERS = ("jobs", "tasks", "executor_run_ms", "shuffle_write_bytes", "driver_ms")


class Tracer:
    def __init__(self, counters: bool = False):
        self.spark = None  # attached once the session has started
        self.counters = counters
        self.spans: list[dict] = []
        self.unattributed_jobs = 0
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else f"r{sid}"),
            "attrs": attrs,
            "group": f"perfbench-{os.getpid()}-{sid}" if self.counters and self.spark else None,
        }
        self.spans.append(rec)
        if rec["group"]:
            self.spark.sparkContext.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["t0"] = time.time()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["t1"] = time.time()
            self._stack.pop()
            if rec["group"]:
                sc = self.spark.sparkContext
                if parent and parent["group"]:
                    sc.setJobGroup(parent["group"], parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "end" in s]

    def collect_counters(self) -> None:
        """Fill the Spark counters of every span that ran with a job group.
        Called once, after the timed region, so the reads cost no timed
        time. A span's counters cover the jobs submitted while it was the
        innermost span; ``driver_ms`` is its wall time with none of those
        jobs running.

        Jobs submitted from threads the program starts itself
        (IndexBuilder's worker pool) carry no job group: each is given to the
        innermost span open when it was submitted and counted again in
        that span's ``thread_jobs``. Jobs no span was open for are only
        counted, in ``unattributed_jobs``."""
        if not (self.counters and self.spark):
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # py4j surface differs across versions
            time.sleep(1.0)
        store = jsc.statusStore()
        tracker = sc.statusTracker()

        def job(jid: int) -> tuple[tuple[float, float] | None, dict]:
            c = dict.fromkeys(SPARK_COUNTERS, 0)
            c["jobs"] = 1
            data = store.job(jid)
            sub, comp = data.submissionTime(), data.completionTime()
            iv = None
            if sub.isDefined() and comp.isDefined():
                iv = (sub.get().getTime() / 1e3, comp.get().getTime() / 1e3)
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage evicted or never submitted
                    continue
                c["tasks"] += st.numCompleteTasks()
                c["executor_run_ms"] += st.executorRunTime()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            return iv, c

        def add(rec: dict, iv, c: dict) -> None:
            for k, v in c.items():
                rec["spark"][k] += v
            if iv is not None:
                rec["job_intervals"].append(iv)

        grouped = [r for r in self.spans if r["group"] and "end" in r]
        for rec in grouped:
            rec["spark"] = dict.fromkeys(SPARK_COUNTERS + ("thread_jobs",), 0)
            rec["job_intervals"] = []
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                add(rec, *job(jid))
        for jid in tracker.getJobIdsForGroup(None):
            iv, c = job(jid)
            open_ = [r for r in grouped if iv and r["t0"] <= iv[0] <= r["t1"]]
            if open_:
                rec = max(open_, key=lambda r: r["t0"])
                add(rec, iv, c)
                rec["spark"]["thread_jobs"] += 1
            else:
                self.unattributed_jobs += 1
        for rec in grouped:
            rec["spark"]["driver_ms"] = self.subtree_sum(rec, "driver_ms")

    def subtree(self, span: dict) -> list[dict]:
        ids, out = {span["id"]}, [span]
        for s in self.spans[span["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def subtree_sum(self, span: dict, key: str) -> float:
        """A Spark counter over a span and its descendants (jobs belong to
        the innermost span). ``driver_ms`` is the span's wall time with no
        job of the subtree running."""
        spans = self.subtree(span)
        if key == "driver_ms":
            iv = [i for s in spans for i in s.get("job_intervals", ())]
            busy = _union_len(iv, span["t0"], span["t1"])
            return max(0.0, (span["end"] - span["start"]) - busy) * 1e3
        return sum(s.get("spark", {}).get(key, 0) for s in spans)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                out = {k: v for k, v in rec.items() if k not in ("t0", "t1", "job_intervals")}
                fh.write(json.dumps(out, default=str) + "\n")


def _union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def covered_seconds(spans: list[dict], lo: float, hi: float) -> float:
    """Wall time in [lo, hi] (perf_counter) covered by top-level spans."""
    return _union_len(
        [(s["start"], s["end"]) for s in spans if s["parent"] is None and "end" in s], lo, hi
    )


# ---------------------------------------------------------------------------
# memory: /proc sampling of this process and all its descendants
# ---------------------------------------------------------------------------


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split between the
    processes mapping them (forked Python workers share most of theirs)."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # process exited between listdir and read
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _tree_pss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            total += _pss_bytes(pid)
        except OSError:
            pass  # exited since the scan
    return total


class RssSampler:
    """Peak resident memory (PSS) of the benchmark's process tree (Python
    driver, JVM, Python workers), sampled from /proc every 0.5 s on a
    background thread."""

    INTERVAL = 0.5

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(root))
            self._stop.wait(self.INTERVAL)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its own tree: a process whose parent
    dies first (a Python worker of a killed JVM) is re-parented here, not to
    init, so it stays a descendant that ``stop_processes`` finds and reaps."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(timeout: float = 30.0) -> int:
    """SIGKILL every descendant of this process and reap it, until none is
    left, zombies included; returns how many were stopped. Raises when a
    process outlives ``timeout``."""
    me, seen = os.getpid(), set()
    deadline = time.monotonic() + timeout
    while True:
        pids = descendants(me)
        if not pids:
            return len(seen)
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running after {timeout:.0f} s: {pids}")
        seen.update(pids)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass  # exited since the scan
        _reap_children()
        time.sleep(0.02)


def stop_spark(record: dict) -> None:
    """End the JVM and every Python worker it started, and wait until each
    has exited and been reaped. Runs once measuring is over, so the
    processes are killed rather than stopped: everything they wrote lives
    in the run directory, which is removed afterwards."""
    from pyspark import SparkContext

    t = time.perf_counter()
    if SparkContext._gateway is not None:
        try:
            SparkContext._gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may be gone already
            pass
    record["processes_stopped"] = stop_processes()
    record["stop_s"] = time.perf_counter() - t
