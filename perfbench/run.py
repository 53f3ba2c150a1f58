"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_text --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, starts a session
pinned to ``local[N]`` (N = min(4, nproc)), sets up ``SETUPS`` times
(session, inputs, one checked warm-up job), runs ``WARMUP_S`` seconds
of untimed checked jobs, then runs checked jobs in a closed loop with
one client until ``--seconds`` of job time has passed. Wall times are
taken net of the CPU time the hypervisor stole from the VM over the
same window, and job times are scaled by how fast the host ran a fixed
reference workload just before and just after each job (see
README.md). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (and
writes the spans to ``.perfbench/traces/``). Exits 2 without a result
when the engine package is not next to this directory.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: set-ups per run; ``setup_s`` is their median
SETUPS = 2
#: the timed loop runs at least this many jobs
MIN_JOBS = 2
#: seconds of untimed jobs between the set-ups and the timed loop: the
#: JVM is still compiling during the first jobs, which then cost more
#: and vary more than later ones
WARMUP_S = 5.0
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: str) -> dict:
    """Pin parallelism, heap and every scratch directory inside the
    checkout before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }


def start_session(conf: dict):
    from pdf2dataset_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM this Spark driver launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway  # noqa: SLF001 - no public shutdown for the JVM
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pdf2dataset_spark", "__init__.py")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    j_start = host.cpu_jiffies()  # the first set-up counts from here

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = pin_environment(work)
    wl = WORKLOADS[args.workload]()
    tracer = Tracer(enabled=bool(args.trace))
    rss = host.RssSampler().start()
    spark = None
    try:
        setups, session_start_s = [], None
        attempted = failed = 0
        for k in range(SETUPS):
            t0 = T_START if k == 0 else time.perf_counter()
            j0 = j_start if k == 0 else host.cpu_jiffies()
            with tracer.span("setup", n=k):
                if spark is not None:
                    spark.stop()
                with tracer.span("session.get_spark"):
                    t_s = time.perf_counter()
                    spark = start_session(conf)
                    if session_start_s is None:
                        session_start_s = time.perf_counter() - t_s
                with tracer.span("generate"):
                    wl.prepare(work, args.seed)
                pipe = wl.pipeline(spark)
                with tracer.span("warmup"):
                    oc = wl.check(wl.run_once(pipe))
            attempted += oc.attempted
            failed += oc.failed
            setups.append((time.perf_counter() - t0, host.unstolen_share(j0, host.cpu_jiffies())))

        t_warm = time.perf_counter()
        with tracer.span("warmup"):
            while time.perf_counter() - t_warm < WARMUP_S:
                oc = wl.check(wl.run_once(pipe))
                attempted += oc.attempted
                failed += oc.failed

        group = "perfbench-timed"
        spark.sparkContext.setJobGroup(group, "timed loop")
        j_loop = host.cpu_jiffies()
        jobs = []
        timed = 0.0
        ref = host.reference_cpu_ms(CPUS)
        while timed < args.seconds or len(jobs) < MIN_JOBS:
            # in a traced run every other job carries spans, so the
            # recorder's cost shows as the traced/untraced difference
            traced = bool(args.trace) and len(jobs) % 2 == 1
            ctx = tracer.span("job", n=len(jobs)) if traced else contextlib.nullcontext()
            c0, j0 = host.container_cpu_s(), host.cpu_jiffies()
            t0 = time.perf_counter()
            with ctx:
                res = wl.run_once(pipe)
            wall = time.perf_counter() - t0
            cpu = host.container_cpu_s() - c0
            share = host.unstolen_share(j0, host.cpu_jiffies())
            with tracer.span("check") if traced else contextlib.nullcontext():
                oc = wl.check(res)
            attempted += oc.attempted
            failed += oc.failed
            ref_after = host.reference_cpu_ms(CPUS)
            jobs.append({"wall": wall, "share": share, "cpu": cpu, "out": oc, "traced": traced,
                         "ref": (ref + ref_after) / 2})
            ref = ref_after
            timed += wall
        loop_share = host.unstolen_share(j_loop, host.cpu_jiffies())
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        peak_rss_mb = rss.stop()

        n_items = statistics.median(j["out"].emitted for j in jobs)
        # Wall times net of steal: on a shared host the hypervisor takes
        # a varying share of the VM's CPU time, and that share is
        # measured over the same window. Container CPU time excludes
        # steal already. What steal misses is how fast the CPU time the
        # VM does get runs (other tenants on sibling hyperthreads and the
        # shared caches): the engine's CPU time per page moved by a
        # quarter between minutes. The reference work moved with it, so
        # the end-to-end figures are scaled to a host on which the
        # reference takes ``host.REF_MS``.
        items_per_s = [j["out"].emitted / (j["wall"] * j["share"]) for j in jobs]
        cpu_ms_per_item = [1000 * j["cpu"] / j["out"].emitted for j in jobs]
        e2e = {
            "setup_s": (statistics.median(t * share for t, share in setups), "s"),
            "items_per_s_at_ref": (statistics.median(
                v * j["ref"] / host.REF_MS for v, j in zip(items_per_s, jobs)), "items/s"),
            "cpu_ms_per_item_at_ref": (statistics.median(
                v * host.REF_MS / j["ref"] for v, j in zip(cpu_ms_per_item, jobs)), "ms"),
        }
        # the unscaled figures, and two that differ by more than a tenth
        # between seeds (JVM heap growth; parquet footers of many small
        # shard files): per-layer readings rather than end-to-end metrics
        extra = {
            "host.items_per_s": (statistics.median(items_per_s), "items/s"),
            "host.cpu_ms_per_item": (statistics.median(cpu_ms_per_item), "ms"),
            "sink.out_bytes_per_in_byte": (statistics.median(j["out"].out_bytes for j in jobs)
                                           / wl.in_bytes, "ratio"),
            "host.peak_rss_mb": (peak_rss_mb, "MB"),
        }
        if args.trace:
            from perfbench import layers

            walls = {t: [j["wall"] for j in jobs if j["traced"] == t] for t in (True, False)}
            counters = host.spark_counters(spark, group)
            per_job = {k: v / len(jobs) for k, v in counters.items()}
            metrics = {
                "session.start_s": (session_start_s, "s"),
                "spark.jobs": (per_job["jobs"], "count"),
                "spark.stages": (per_job["stages"], "count"),
                "spark.tasks": (per_job["tasks"], "count"),
                "spark.failed_tasks": (per_job["failed_tasks"], "count"),
                "spark.shuffle_write_mb": (per_job["shuffle_write_bytes"] / (1 << 20), "MB"),
                "spark.spill_mb": (per_job["spill_bytes"] / (1 << 20), "MB"),
                "spark.gc_s": (per_job["gc_ms"] / 1000, "s"),
                "host.cpu_steal_pct": (100.0 * (1 - loop_share), "%"),
                "host.loadavg_1m": (host.loadavg_1m(), "load"),
                "host.python_loop_ms": (statistics.median(j["ref"] for j in jobs), "ms"),
                "trace.overhead_pct": (
                    100.0 * (statistics.median(walls[True]) / statistics.median(walls[False]) - 1),
                    "%",
                ),
                **extra,
            }
            with tracer.span("layers"):
                metrics.update(layers.probe(spark, wl, args.seed, work, tracer, CPUS))
            metrics["trace.spans"] = (len(tracer.spans), "count")
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = e2e
        settings = {
            "workload": args.workload, "seed": args.seed, "master": spark.sparkContext.master,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "cpu_source": host.cpu_source(), "jobs": len(jobs), "items_per_job": n_items,
            "item": wl.item, "setups_s": [t for t, _ in setups],
            "setup_unstolen": [share for _, share in setups],
            "job_walls_s": [j["wall"] for j in jobs],
            "job_unstolen": [j["share"] for j in jobs],
            "job_reference_cpu_ms": [j["ref"] for j in jobs],
            "gross": {"setup_s": statistics.median(t for t, _ in setups),
                      "items_per_s": statistics.median(j["out"].emitted / j["wall"] for j in jobs)},
            "e2e": {k: v[0] for k, v in {**e2e, **extra}.items()},
            "load": host.loadavg_1m(),
        }
        print("perfbench: " + json.dumps(settings), file=sys.stderr)
    finally:
        rss.stop()
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
