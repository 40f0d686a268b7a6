"""Session, set-up, tagging and memory helpers shared by the workloads.

One driver process, one Spark session at a time, one job at a time:
every action below is submitted from the main thread and waited for.
"""

from __future__ import annotations

import contextlib
import os
import subprocess
import time

from pyspark import SparkContext

from clara_ocr_spark.session import get_spark


def force(df) -> None:
    """Run the whole plan into the noop sink (no driver collect)."""
    df.write.format("noop").mode("overwrite").save()


class Bench:
    """Owns the SparkSession and the JVM behind it."""

    def __init__(self, cores: int, event_log_dir: str):
        self.cores = cores
        self.event_log_dir = event_log_dir
        self.spark = None

    def start(self):
        self.spark = get_spark("perfbench", cores=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def restart_traced(self):
        """A new SparkContext in the live JVM, with Spark's event log on
        (read from the JVM's system properties when the context is
        built)."""
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.setProperty("spark.eventLog.enabled", "true")
        self.spark.stop()
        return self.start()

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the launcher exits when stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def setup(self, t0: float, excluded_s: float, readable) -> float:
        """Launch the JVM, build the session and read the inputs with
        ``readable(spark)``; return the seconds from process start
        ``t0`` until the inputs were read, minus ``excluded_s`` (input
        generation)."""
        self.start()
        readable(self.spark)
        return time.perf_counter() - t0 - excluded_s

    @contextlib.contextmanager
    def tag(self, layer: str):
        """Tag every job submitted inside the block as ``layer:<layer>``;
        blocks nest, the inner tag winning."""
        sc = self.spark.sparkContext
        outer = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"layer:{layer}")
        try:
            yield
        finally:
            sc.setJobDescription(outer)

    def peak_rss_mb(self) -> float:
        """Peak resident set (VmHWM) of the JVM plus every process it
        started (the Python worker daemon and its workers), from /proc."""
        root = SparkContext._gateway.proc.pid
        children: dict = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
        total_kb, todo = 0, [root]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                continue
        return total_kb / 1024.0
