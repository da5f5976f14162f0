"""Measurement helpers for the layered benchmark.

Everything here observes the engine from outside: process-tree memory
and CPU read from ``/proc``, Spark job/stage/task counts read through
the ``StatusTracker`` of a job group, shuffle bytes and job intervals
parsed from a Spark event log, and spans timed around calls into the
engine's public functions. Nothing here imports the engine.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------- digests


def _canon_cell(v, ndigits: int):
    """Canonical, hashable form of one cell: floats rounded, numpy and
    pandas scalars unwrapped, nested lists/structs canonicalised."""
    if v is None:
        return None
    if hasattr(v, "item") and not isinstance(v, (bytes, str)) and getattr(v, "ndim", 0) == 0:
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        r = round(v, ndigits)
        return 0.0 if r == 0 else r
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_cell(x, ndigits)) for k, x in v.items()))
    if hasattr(v, "tolist") and not isinstance(v, (bytes, str)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_canon_cell(x, ndigits) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return hashlib.sha256(bytes(v)).hexdigest()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def digest_rows(columns: list[str], rows, ndigits: int = 6) -> dict:
    """Order-insensitive digest of a row multiset.

    Columns are sorted by name so column order does not matter; floats
    are rounded to ``ndigits`` decimals; each row hashes to 64 bits and
    the digest is the sum of the row hashes modulo 2**64, so row order
    does not matter and duplicate rows still count."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for row in rows:
        key = repr(tuple(_canon_cell(row[i], ndigits) for i in order))
        total += int.from_bytes(hashlib.blake2b(key.encode(), digest_size=8).digest(), "little")
        n += 1
    return {"rows": n, "digest": f"{total % (1 << 64):016x}"}


def digest_pandas(pdf, ndigits: int = 6) -> dict:
    return digest_rows(
        [str(c) for c in pdf.columns],
        pdf.itertuples(index=False, name=None),
        ndigits,
    )


# ------------------------------------------------------------------ spans


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
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


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """In-memory spans with parent links; self time is a span's
    duration minus the part of its interval that child spans cover."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.clock(), parent)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        sp = self.spans[idx]
        covered = union_length(
            (max(c.start, sp.start), min(c.end, sp.end)) for c in self.children(idx)
        )
        return sp.duration - covered

    def find(self, name: str) -> int:
        for i, s in enumerate(self.spans):
            if s.name == name:
                return i
        raise KeyError(name)


# --------------------------------------------------------- process tree


def _read_stat(pid: int):
    """(ppid, cpu ticks incl. reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rfind(b")") + 2 :].split()
    ppid = int(rest[1])
    cpu = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    return ppid, cpu, int(rest[21]) * PAGE


def tree_stats(root: int | None = None) -> dict[int, tuple[int, int, int]]:
    """{pid: (ppid, cpu ticks, rss bytes)} for ``root`` and all its
    descendants."""
    root = os.getpid() if root is None else root
    info = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                info[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in info.items():
        kids.setdefault(ppid, []).append(pid)
    out = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = info[pid]
            todo.extend(kids.get(pid, ()))
    return out


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def process_roles(root: int | None = None) -> dict[int, str]:
    """The benchmark's processes: this driver, its JVM (a direct child
    running java) and Spark's Python daemon and workers. Other
    descendants are short-lived helpers the JVM spawns for file-system
    commands; until they exec they share the JVM's address space, so
    counting them would add the whole JVM a second time."""
    root = os.getpid() if root is None else root
    roles = {}
    for pid, (ppid, _, _) in tree_stats(root).items():
        cmd = _cmdline(pid)
        if pid == root:
            roles[pid] = "driver"
        elif b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            roles[pid] = "python_workers"
        elif ppid == root and cmd.split(b"\0", 1)[0].endswith(b"java"):
            roles[pid] = "jvm"
    return roles


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages split among the processes
    that map them, so a forked worker does not count its parent's
    pages again."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def memory_by_role_bytes(root: int | None = None) -> dict[str, int]:
    out = {"driver": 0, "jvm": 0, "python_workers": 0}
    for pid, role in process_roles(root).items():
        out[role] += _pss_bytes(pid)
    return out


def python_worker_pids(root: int | None = None) -> list[int]:
    return [pid for pid, role in process_roles(root).items() if role == "python_workers"]


def python_worker_cpu_s(root: int | None = None) -> float:
    stats = tree_stats(root)
    ticks = sum(stats[p][1] for p in python_worker_pids(root) if p in stats)
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background thread tracking, while active, the peak resident
    memory (PSS) of the driver, its JVM and Python workers, per role."""

    def __init__(self, interval_s: float = 0.2, root: int | None = None):
        self.interval_s = interval_s
        self.root = root
        self.peak_by_role = {"driver": 0, "jvm": 0, "python_workers": 0}
        self.samples = 0
        self.active = True
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            if self.active:
                self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        for role, b in memory_by_role_bytes(self.root).items():
            self.peak_by_role[role] = max(self.peak_by_role[role], b)
        self.samples += 1

    def pause(self):
        self.active = False

    def resume(self):
        self.sample()
        self.active = True

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)


# ------------------------------------------------------------ host load


def host_cpu_ticks() -> tuple[int, int]:
    """(busy, total) jiffies for the whole box from /proc/stat. Steal
    time counts as busy: it is CPU another tenant took from us."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    idle = vals[3] + vals[4]
    total = sum(vals)
    return total - idle, total


class ContentionProbe:
    """Share of box CPU used outside our process tree over an interval."""

    def __init__(self, root: int | None = None):
        self.root = root
        self._start = None

    def _snap(self):
        busy, total = host_cpu_ticks()
        tree = sum(cpu for _, cpu, _ in tree_stats(self.root).values())
        return busy, total, tree

    def begin(self):
        self._start = self._snap()

    def end(self) -> dict:
        b0, t0, tr0 = self._start
        b1, t1, tr1 = self._snap()
        total = max(t1 - t0, 1)
        other = max((b1 - b0) - (tr1 - tr0), 0)
        try:
            load = os.getloadavg()[0]
        except OSError:
            load = 0.0
        return {"other_cpu_share": other / total, "loadavg_1m": load}


def cpu_calibration_s(n: int = 1_000_000) -> float:
    """Seconds for a fixed single-threaded loop. On a VM whose cores
    are shared, neighbours slow us without showing in /proc/stat; this
    shows host speed drift between runs."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i
    return time.perf_counter() - t0


def preflight_quiet(max_wait_s: float, busy_share: float = 0.25, window_s: float = 1.0) -> dict:
    """Wait, at most ``max_wait_s``, for the box to be mostly idle
    before measuring. Returns what was seen so the run records it."""
    waited = 0.0
    while True:
        b0, t0 = host_cpu_ticks()
        time.sleep(window_s)
        waited += window_s
        b1, t1 = host_cpu_ticks()
        share = (b1 - b0) / max(t1 - t0, 1)
        if share <= busy_share or waited >= max_wait_s:
            return {"waited_s": waited, "busy_share": share, "quiet": share <= busy_share}


# ---------------------------------------------------------- driver logs

_LOG4J_ERROR = re.compile(rb"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ", re.M)


def count_error_records(text: bytes) -> int:
    """log4j ERROR records (one per line start) in a chunk of output."""
    return len(_LOG4J_ERROR.findall(text))


class StderrCapture:
    """Send fd 2 (ours and the JVM's, which inherits it) to a file so
    driver-side log4j ERROR records can be counted per iteration."""

    def __init__(self, path: str):
        self.path = path
        self.saved = os.dup(2)
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)
        self._offset = 0

    def new_error_records(self) -> int:
        """ERROR records written since the previous call."""
        with open(self.path, "rb") as f:
            f.seek(self._offset)
            chunk = f.read()
        cut = chunk.rfind(b"\n") + 1
        self._offset += cut
        return count_error_records(chunk[:cut])

    def tail(self, n_bytes: int = 4000) -> str:
        with open(self.path, "rb") as f:
            f.seek(max(os.path.getsize(self.path) - n_bytes, 0))
            return f.read().decode(errors="replace")

    def restore(self):
        os.dup2(self.saved, 2)
        os.close(self.saved)


# ------------------------------------------------------------ spark jobs


def group_counts(sc, group: str) -> dict:
    """Jobs, executed stages, tasks and failed tasks of a job group,
    from the driver's StatusTracker."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = failed = 0
    for sid in stage_ids:
        st = tracker.getStageInfo(sid)
        if st is None:
            continue
        ran = st.numCompletedTasks + st.numFailedTasks
        if ran:
            stages += 1
        tasks += st.numCompletedTasks
        failed += st.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def live_heap_bytes(sc, rounds: int = 8, settle_s: float = 0.3) -> list[int]:
    """Heap the driver JVM still holds after full collections. Python
    references are collected first, so py4j releases the JVM objects
    they pinned. Spark frees cached blocks and broadcasts only after a
    collection has shown them unreachable (its cleaner thread reacts to
    each collection, and what one clean-up frees may pin more), so
    ``System.gc()`` is repeated, ``settle_s`` apart, until three
    readings in a row agree within 2%. Returns the readings; the last
    is the live heap."""
    import gc

    gc.collect()
    jvm = sc._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    reads: list[int] = []
    for _ in range(rounds):
        if reads:
            time.sleep(settle_s)
        jvm.java.lang.System.gc()
        reads.append(bean.getHeapMemoryUsage().getUsed())
        last = reads[-3:]
        if len(last) == 3 and max(last) <= 1.02 * min(last):
            break
    return reads


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def parse_event_log(paths: list[str]) -> dict:
    """Job intervals (epoch seconds) and shuffle bytes written, keyed by
    job group, from the files of an uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    shuffle: dict[str, int] = {}
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            jobs[ev["Job ID"]] = {"group": group, "start": ev["Submission Time"] / 1000.0}
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = group
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            metrics = ev.get("Task Metrics") or {}
            written = (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            if group is not None and written:
                shuffle[group] = shuffle.get(group, 0) + written
    return {"jobs": jobs, "shuffle_bytes": shuffle}


def job_intervals(log: dict, group: str) -> list[tuple[float, float]]:
    return [
        (j["start"], j["end"])
        for j in log["jobs"].values()
        if j["group"] == group and "end" in j
    ]


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total
