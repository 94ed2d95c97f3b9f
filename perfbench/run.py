"""Consume-batch and corpus-dedup benchmark.

    python3 perfbench/run.py --workload consume_small --seed 1 --seconds 15 --trace 0

Run from the repository root. One process runs one workload: it pins
the environment, starts the Spark session, writes the seeded inputs and
makes the workload's warm-up calls (together ``setup_s``), computes
the expected output with the program's DuckDB oracle SQL, then calls
the program in a closed loop, one call at a time, until ``--seconds``
have passed (at least ``MIN_CALLS`` calls). Every call's output is checked; a call that
raises or returns a wrong output counts in ``failed``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on the
Spark event log, alternates traced and untraced calls, and prints the
per-layer metrics (see README.md for what each one means and which
end-to-end metric it should move). The last line of standard output is
one JSON object; everything else goes before it or to standard error.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import multiprocessing
import os
import platform
import shutil
import signal
import statistics
import sys
import time
import traceback
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "st_bigdata_consume_batch_ma_with_cr_ecd_spark"

#: workload -> (job class in jobs.py, input size, warm-up calls); see
#: README.md for why. The dedup call is cheap but its second call is
#: still twice as slow as its later ones, so it warms up twice.
WORKLOADS = {
    "consume_small": ("ConsumeBatch", 1, 1),
    "corpus_dedup": ("CorpusDedup", 2_000, 2),
}
MIN_CALLS = 3
#: the traced run alternates traced (T) and untraced calls as T U U T,
#: so a steady drift in call time cancels out of the overhead
TRACED_CALL = (True, False, False, True)
DRIVER_MEMORY = "3g"


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def peak_rss_bytes(pids: list[int]) -> int:
    """Sum of the peak resident set sizes (``VmHWM``) of ``pids``."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1]) * 1024
    return total


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def share_stolen(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / max(1, sum(delta))


def pin_environment(work: Path) -> dict[str, str]:
    """Keep every file the run writes inside ``work`` and fix the core
    count: the session is ``local[n]`` with n shuffle partitions, n half
    the usable cores, instead of the package default of 32. The other
    half is left to the driver, JIT and GC threads; with all cores given
    to tasks, ten consume runs on a shared 4-vCPU VM spread by 0.25 in
    ``job_s`` (interquartile range / median), with half by 0.14. Returns
    the Spark conf that fixes the driver heap: with a growable heap,
    when G1 grows it decided the peak RSS (dedup runs read 1.8 or 2.3 GB)."""
    cpus = str(max(1, len(os.sched_getaffinity(0)) // 2))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
            "TMPDIR": str(tmp),
            # every JVM, the spark-submit launcher included
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    return {"spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}"}


def event_log_conf(work: Path) -> dict[str, str]:
    (work / "eventlog").mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(work / "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def release_blocks(spark) -> None:
    """Drop what a call left cached, so every call starts alike."""
    from time_query import _drop_persistent_blocks

    spark.catalog.clearCache()
    _drop_persistent_blocks(spark)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so
    a descendant orphaned by its parent's exit (a Python worker of the
    JVM, say) becomes its child and ``reap_children`` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"perfbench: prctl: {os.strerror(ctypes.get_errno())}", file=sys.stderr)


def children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            kids.append(int(entry))
    return kids


def reap_children(grace_s: float = 20.0) -> None:
    """Stop every process the run started and wait until each has ended:
    the multiprocessing resource tracker, then whatever is still a child
    (terminated after ``grace_s``, killed ``grace_s`` later)."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    start = time.monotonic()
    sent = None
    while kids := children():
        waited = time.monotonic() - start
        sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM if waited > grace_s else None
        if sig is not None and sig != sent:
            print(f"perfbench: sending {sig.name} to leftover pids {kids}", file=sys.stderr)
            for pid in kids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            sent = sig
        for pid in kids:
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)
        time.sleep(0.05)


def run(args) -> dict:
    import jobs
    from pyspark import SparkContext
    from spans import Tracer

    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.session import get_spark

    work = ROOT / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    extra_conf = pin_environment(work)
    if args.trace:
        extra_conf.update(event_log_conf(work))
    cls, size, warmup_calls = WORKLOADS[args.workload]
    job = getattr(jobs, cls)(work, size)
    tracer = Tracer()
    roots, times, traced_times, untraced_times = [], [], [], []
    attempted = failed = 0
    extras: dict[str, float] = {}

    with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn")) as checker:
        checker.submit(exec, "import jobs")  # loads DuckDB while the JVM starts
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=extra_conf)
        try:
            session_s = time.perf_counter() - t0
            job.write_inputs(args.seed)
            for _ in range(warmup_calls):
                job.call(spark)
                release_blocks(spark)
            setup_s = time.perf_counter() - t0

            job.prepare_check(checker)
            min_calls = len(TRACED_CALL) if args.trace else MIN_CALLS
            start, ticks = time.perf_counter(), cpu_ticks()
            while attempted < min_calls or time.perf_counter() - start < args.seconds:
                traced = args.trace and TRACED_CALL[attempted % len(TRACED_CALL)]
                attempted += 1
                try:
                    if traced:
                        job.trace(tracer)
                    t = time.perf_counter()
                    try:
                        if traced:
                            with tracer.span("call", "call") as root:
                                out = job.call(spark, tracer)
                            roots.append(root)
                        else:
                            out = job.call(spark)
                    finally:
                        tracer.restore()
                    dt = time.perf_counter() - t
                    (traced_times if traced else untraced_times).append(dt)
                    times.append(dt)
                    if traced:
                        extras = job.trace_extras()
                    problems = job.check(out, checker)
                except Exception:  # a failed call is counted, and the loop goes on
                    traceback.print_exc()
                    problems = ["raised"]
                if problems:
                    failed += 1
                    print(f"call {attempted} wrong: {problems}", file=sys.stderr)
                release_blocks(spark)
            env = {
                "nproc": len(os.sched_getaffinity(0)),
                "spark_cores": int(os.environ["SPARK_GRAFT_CPUS"]),
                "spark": spark.version,
                "python": platform.python_version(),
                "seed": args.seed,
                "workload": args.workload,
                "input_rows": job.rows,
                "cpu_stolen_share": round(share_stolen(ticks, cpu_ticks()), 4),
            }
            peak_rss = peak_rss_bytes([os.getpid(), SparkContext._gateway.proc.pid])
        finally:
            stop_spark(spark)

    n = len(times)
    print(
        f"# {env}; setup {setup_s:.2f} s (session {session_s:.2f} s); "
        f"job_s = median of n={n} calls; no tail percentile has ten samples beyond it "
        f"at n={n}, max = {max(times, default=0):.3f} s; calls: {[round(t, 3) for t in times]}"
    )
    if args.trace and roots and untraced_times:
        metrics = trace_metrics(
            work, tracer, roots, traced_times, untraced_times, extras, session_s, env["spark_cores"]
        )
    elif times and not args.trace:
        job_s = statistics.median(times)
        values = {
            "setup_s": setup_s,
            "job_s": job_s,
            "rows_per_s": job.rows / job_s,
            "peak_rss_mb": peak_rss / 2**20,
        }
        metrics = {
            name: {"value": values[name], "unit": unit}
            for name, unit in metric_units("end_to_end").items()
        }
    else:
        metrics = {}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def trace_metrics(work, tracer, roots, traced, untraced, extras, session_s, cpus) -> dict:
    import eventlog

    (log_file,) = [p for p in (work / "eventlog").iterdir() if p.is_file()]
    log = eventlog.parse(log_file)
    per_call = [eventlog.call_totals(log, tracer.spans, root) for root in roots]
    keys = set().union(*per_call)
    values = {k: sum(c.get(k, 0.0) for c in per_call) / len(per_call) for k in keys}
    values.update(extras)
    traced_s = statistics.median(traced)
    values["session.s"] = session_s
    values["spark.core_busy_share"] = values["spark.executor_run_s"] / (traced_s * cpus)
    values["trace.job_s"] = traced_s
    values["trace.overhead_s"] = traced_s - statistics.median(untraced)
    return {
        name: {"value": values.get(name, 0.0), "unit": unit}
        for name, unit in metric_units("per_layer").items()
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in (ROOT / PACKAGE, ROOT / "tools" / "run_consume_batch.py") if not p.exists()]
    if missing:
        print(f"perfbench: the program is not here: missing {missing}", file=sys.stderr)
        return 2
    sys.path[1:1] = [str(ROOT), str(ROOT / "tools")]
    adopt_orphans()
    try:
        result = run(args)
    finally:
        reap_children()
    print(json.dumps(result))
    return 0 if result["metrics"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
