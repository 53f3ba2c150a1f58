"""Where a benchmark job's CPU goes: driver, Python workers, JVM threads.

Starts a session the way ``perfbench/run.py`` does, prepares one
perfbench workload, runs ``--warm`` untimed jobs, then ``--jobs``
measured ones, and prints the CPU milliseconds per measured job of:

- ``driver``: this Python process;
- ``python_workers``: the JVM's descendant processes (PySpark's daemon
  and its workers), including the children they reaped;
- ``jvm.<kind>``: the JVM's threads by kind, from
  ``/proc/<pid>/task/*/comm``: ``executor`` (task launch workers),
  ``jit`` (C1/C2 compiler threads), ``gc`` (GC and G1 threads),
  ``py4j`` (the gateway's ``Thread-N`` connection threads) and
  ``other``; ``exited`` is what threads that ended during the window
  burned (the process total less the threads still alive);
- ``jvm.reaped``: children the JVM forked and waited for (Hadoop's
  ``chmod`` calls on a local file system without native-hadoop).

Linux only (reads ``/proc``). Run it from the checkout root, so that
the Python workers import the package:

    python tools/cpu_split.py --workload extract_text [--seed 1]
        [--warm 10] [--jobs 20]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")

_KINDS = (
    ("executor", re.compile(r"Executor task")),
    ("jit", re.compile(r"C[12] CompilerThre")),
    ("gc", re.compile(r"GC Thread|G1 ")),
    ("py4j", re.compile(r"Thread-\d+$")),
)


def _stat(path: str) -> list[str] | None:
    """Fields of a ``/proc`` stat file after the command name (index 0
    is field 3, ``state``), or None if the process or thread is gone."""
    try:
        with open(path) as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()


def _own_ms(fields: list[str]) -> float:
    return (int(fields[11]) + int(fields[12])) * TICK_MS  # utime + stime


def _reaped_ms(fields: list[str]) -> float:
    return (int(fields[13]) + int(fields[14])) * TICK_MS  # cutime + cstime


def _kind(comm: str) -> str:
    for name, rx in _KINDS:
        if rx.match(comm):
            return name
    return "other"


def _descendants(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat(f"/proc/{d}/stat")
            if f is not None:
                parent[int(d)] = int(f[1])
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def _driver_ms() -> float:
    return _own_ms(_stat(f"/proc/{os.getpid()}/stat"))


def snapshot(jvm: int) -> dict:
    """Cumulative CPU ms of the JVM's threads and descendants."""
    snap = {}
    jvm_stat = _stat(f"/proc/{jvm}/stat")
    snap["jvm.total"] = _own_ms(jvm_stat)
    snap["jvm.reaped"] = _reaped_ms(jvm_stat)
    threads = {}
    for tid in os.listdir(f"/proc/{jvm}/task"):
        f = _stat(f"/proc/{jvm}/task/{tid}/stat")
        if f is not None:
            with open(f"/proc/{jvm}/task/{tid}/comm") as c:
                threads[int(tid)] = (_kind(c.read().strip()), _own_ms(f))
    snap["threads"] = threads
    workers = {}
    for pid in _descendants(jvm):
        f = _stat(f"/proc/{pid}/stat")
        if f is not None:
            workers[pid] = _own_ms(f) + _reaped_ms(f)
    snap["workers"] = workers
    return snap


def split(a: dict, b: dict) -> dict[str, float]:
    """CPU ms spent between snapshots ``a`` and ``b``, by account."""
    out = {
        "python_workers": sum(ms - a["workers"].get(pid, 0.0) for pid, ms in b["workers"].items()),
    }
    alive = 0.0
    for kind, _ in _KINDS + (("other", None),):
        out[f"jvm.{kind}"] = 0.0
    for tid, (kind, ms) in b["threads"].items():
        d = ms - a["threads"].get(tid, (kind, 0.0))[1]
        out[f"jvm.{kind}"] += d
        alive += d
    out["jvm.exited"] = max(0.0, b["jvm.total"] - a["jvm.total"] - alive)
    out["jvm.reaped"] = b["jvm.reaped"] - a["jvm.reaped"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--warm", type=int, default=10)
    ap.add_argument("--jobs", type=int, default=20)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import run as bench
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench", f"cpu_split-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark = bench.start_session(bench.pin_environment(work))
    try:
        wl = WORKLOADS[args.workload]()
        wl.prepare(work, args.seed)
        pipe = wl.pipeline(spark)
        failed = 0
        for _ in range(args.warm):
            failed += wl.check(wl.run_once(pipe)).failed
        jvm = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
        # check() runs outside the window: it is the benchmark's, not the job's
        total: dict[str, float] = {}
        for _ in range(args.jobs):
            # the driver is read inside the JVM snapshots, so their
            # own cost stays out of its account
            a = snapshot(jvm)
            d0 = _driver_ms()
            res = wl.run_once(pipe)
            d1 = _driver_ms()
            b = snapshot(jvm)
            failed += wl.check(res).failed
            for k, v in {"driver": d1 - d0, **split(a, b)}.items():
                total[k] = total.get(k, 0.0) + v
        per_job = {k: round(v / args.jobs, 1) for k, v in total.items()}
        print(json.dumps({"workload": args.workload, "seed": args.seed, "warm": args.warm,
                          "jobs": args.jobs, "failed": failed, "cpu_ms_per_job": per_job}))
    finally:
        bench.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
