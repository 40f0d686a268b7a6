#!/usr/bin/env python3
"""One benchmark run of one workload.

    python3 perfbench/run.py --workload curate_mixed --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root.  The run takes its inputs from
``--seed`` (generated under ``.perfbench_work/``, deleted at exit, or
the shipped tables in ``perfbench/data`` in a seeded order), sizes
Spark to the machine through the session's environment overrides,
measures for ``--seconds``, checks the outputs, and prints as its last
line one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, read from Spark's event log.
The line before it records the effective machine sizing and how busy
the shared machine was.  Exit code 0 means
every check passed; 1 means a check failed; 2 means the program under
test is missing.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("curate_mixed", "catalog_sf01")


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _cpu_times() -> list:
    """The machine's cumulative CPU times from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _machine_speed_s() -> float:
    """Median seconds of a fixed pure-Python loop, run after the
    measurement: a shared VM's speed drifts, and this shows by how much
    between runs."""
    times = []
    for _ in range(5):
        t, acc = time.perf_counter(), 0
        for i in range(1_000_000):
            acc += i * i
        times.append(time.perf_counter() - t)
    return sorted(times)[2]


def _fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path``."""
    path, best = os.path.realpath(path), ("", "?")
    with open("/proc/mounts") as fh:
        for line in fh:
            _, mnt, fstype = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best[0]):
                best = (mnt, fstype)
    return best[1]


def size_spark(work: str) -> dict:
    """Size Spark to this machine through the environment overrides
    ``session.get_spark`` already reads, keep every Spark and JVM
    scratch file under ``work``, and return the effective values."""
    cpus = len(os.sched_getaffinity(0))
    # a quarter of physical memory for the driver heap, within 1-8 GiB:
    # local mode runs every task inside it, and the Python workers and
    # the OS page cache need the rest
    driver_mb = min(8192, max(1024, _mem_total_mb() // 4))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    for d in (local, tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the event log stays off until a traced phase switches it on
        "PYSPARK_SUBMIT_ARGS": (
            # no hsperfdata files outside the work directory
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            f"--conf spark.eventLog.dir=file://{events} "
            "--conf spark.eventLog.compress=false "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })
    return {
        "cores": cpus,
        "driver_memory": f"{driver_mb}m",
        "mem_total_mb": _mem_total_mb(),
        "local_dirs": os.path.relpath(local, ROOT),
        "local_dirs_fs": _fs_type(local),
        "event_log_dir": events,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    cpu0 = _cpu_times()

    if not os.path.isdir(os.path.join(ROOT, "clara_ocr_spark")):
        print(f"no clara_ocr_spark package beside {HERE}: nothing to measure",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sizing = size_spark(work)
    import workloads
    from harness import Bench

    bench = Bench(sizing["cores"], sizing.pop("event_log_dir"))
    run = workloads.Run(args.seed, args.seconds, bool(args.trace), work, bench, T0)
    try:
        result = getattr(workloads, args.workload)(run)
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    # the share of CPU time the hypervisor gave to other guests during
    # the run: a shared VM's speed drifts with it
    spent = [b - a for a, b in zip(cpu0, _cpu_times())]
    sizing["cpu_steal_frac"] = round(spent[7] / max(1, sum(spent)), 4)
    sizing["machine_speed_s"] = round(_machine_speed_s(), 4)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, **sizing, **run.info}))
    print(json.dumps({
        "correct": result.correct,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": result.metrics,
    }))
    return 0 if result.correct else 1


if __name__ == "__main__":
    sys.exit(main())
