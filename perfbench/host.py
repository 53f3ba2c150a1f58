"""Host and Spark readings taken from outside the engine: container
CPU, summed RSS of the process tree, steal, load, a fixed-work Python
reference of host speed, and Spark job counters from the status
store."""

from __future__ import annotations

import os
import random
import re
import statistics
import struct
import threading
import time
import zlib


def container_cpu_s() -> float:
    """CPU seconds used by this container so far: cgroup v2
    ``cpu.stat`` or cgroup v1 ``cpuacct.usage``. Falls back to the
    busy jiffies of ``/proc/stat``, which include other tenants."""
    try:
        with open("/sys/fs/cgroup/cpu.stat") as f:
            for line in f:
                if line.startswith("usage_usec"):
                    return int(line.split()[1]) / 1e6
    except OSError:
        pass
    for path in (
        "/sys/fs/cgroup/cpuacct/cpuacct.usage",
        "/sys/fs/cgroup/cpu,cpuacct/cpuacct.usage",
    ):
        try:
            with open(path) as f:
                return int(f.read()) / 1e9
        except (OSError, ValueError):
            continue
    with open("/proc/stat") as f:
        parts = [int(x) for x in f.readline().split()[1:]]
    return (sum(parts) - parts[3]) / os.sysconf("SC_CLK_TCK")


def cpu_source() -> str:
    if os.path.exists("/sys/fs/cgroup/cpu.stat"):
        return "cgroup2"
    if os.path.exists("/sys/fs/cgroup/cpuacct/cpuacct.usage"):
        return "cgroup1"
    return "proc_stat"


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies summed over all CPUs, from the aggregate
    ``/proc/stat`` line. Busy is user + nice + system + irq + softirq
    (guest time is inside user)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7] if len(v) > 7 else 0


def unstolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time this VM wanted between two ``cpu_jiffies``
    readings that the hypervisor gave it: busy / (busy + steal)."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return busy / (busy + steal) if busy + steal > 0 else 1.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


#: CPU ms the reference work takes on a calm 4-vCPU Xeon VM; the
#: ``*_at_ref`` metrics are scaled to a host where it takes this long
REF_MS = 150.0
_REF_TOKEN = re.compile(rb"[a-p]+")


def _reference_text() -> bytes:
    rng = random.Random(7)
    words = ["".join(rng.choice("abcdefghijklmnop") for _ in range(rng.randint(2, 9)))
             for _ in range(3000)]
    return zlib.compress(" ".join(rng.choice(words) for _ in range(40_000)).encode())


_REF_TEXT = _reference_text()


def _reference_work() -> None:
    """Fixed pure-Python work of the two kinds the workloads do: an
    arithmetic loop (the image decoders) and a text pass that inflates,
    tokenizes, counts, sorts and joins (the layout interpreter)."""
    acc = 0
    for i in range(400_000):
        acc += i * i % 7
    for _ in range(3):
        toks = _REF_TOKEN.findall(zlib.decompress(_REF_TEXT))
        counts: dict[bytes, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        b" ".join(reversed(toks))


def reference_cpu_ms(procs: int) -> float:
    """Median CPU ms that ``procs`` forked processes, started together,
    each spend on ``_reference_work``: how fast this host runs Python
    right now. Waits for every child."""
    children = []
    for _ in range(procs):
        r, w = os.pipe()
        pid = os.fork()
        if pid == 0:
            code = 1
            try:
                os.close(r)
                c0 = time.process_time()
                _reference_work()
                os.write(w, struct.pack("d", (time.process_time() - c0) * 1000))
                code = 0
            finally:
                os._exit(code)
        os.close(w)
        children.append((pid, r))
    samples = []
    for pid, r in children:
        with os.fdopen(r, "rb") as f:
            data = f.read()
        _, status = os.waitpid(pid, 0)
        if status != 0 or len(data) != 8:
            raise RuntimeError(f"reference process {pid} failed (status {status})")
        samples.append(struct.unpack("d", data)[0])
    return statistics.median(samples)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants (the Spark driver, the JVM
    it launched, and the JVM's Python workers)."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Samples the process tree's summed RSS every ``interval`` seconds
    on a daemon thread and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stops sampling (idempotent); returns the peak in MB."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak / (1 << 20)


def spark_counters(spark, group: str) -> dict:
    """Jobs, stages, tasks, failed tasks, shuffle write, spill, GC and
    the slowest task of every job run under job group ``group``, read
    through the public status tracker and the Spark driver's status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()  # noqa: SLF001 - read-only status API
    out = dict(jobs=0, stages=0, tasks=0, failed_tasks=0, shuffle_write_bytes=0,
               spill_bytes=0, gc_ms=0, task_max_ms=0)
    stage_ids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - evicted or never submitted
            continue
        if str(sd.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["gc_ms"] += sd.jvmGcTime()
        tasks = store.taskList(sid, sd.attemptId(), 1 << 20)
        for i in range(tasks.size()):
            dur = tasks.apply(i).duration()
            if dur.isDefined():
                out["task_max_ms"] = max(out["task_max_ms"], dur.get())
    return out
