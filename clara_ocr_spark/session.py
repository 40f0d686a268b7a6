"""The one SparkSession factory: library, tests, benchmarks and the
spark-submit jobs all build their session here.

Sizing rule, decided once from the machine the driver runs on:

- cores: the CPUs this process may run on (``os.sched_getaffinity``);
  override with ``SPARK_GRAFT_CPUS``;
- driver heap: a quarter of physical memory, kept within 1-8 GiB (local
  mode runs every task inside it; the Python workers and the page cache
  need the rest); override with ``SPARK_DRIVER_MEM``.

``local[cores]``, that heap and the local-only settings (shuffle
partitions, a 4 MB split size, no UI) apply only when no master is
configured yet.  Under ``spark-submit`` (or with ``--master`` in
``PYSPARK_SUBMIT_ARGS`` or ``spark.master`` in spark-defaults.conf) the
master, executors and heap come from there.
"""

from __future__ import annotations

import os
import shlex

from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession


def machine_size() -> tuple[int, str]:
    """(cores, driver heap) for a local session on this machine."""
    cores = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap = os.environ.get("SPARK_DRIVER_MEM") or (
        f"{min(8192, max(1024, ram_mb // 4))}m"
    )
    return cores, heap


def _master_configured() -> bool:
    """True when spark-submit, ``PYSPARK_SUBMIT_ARGS`` or
    spark-defaults.conf already names the master."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:  # launched by spark-submit
        return True
    args = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    if any(a == "--master" or a.startswith("--master=") for a in args):
        return True
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
        _find_spark_home(), "conf"
    )
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as fh:
            return any(line.split()[:1] == ["spark.master"] for line in fh)
    except OSError:
        return False


def get_spark(
    app: str = "clara-ocr-spark", cores: int | None = None
) -> SparkSession:
    """Build the session, or reuse the running one.  ``cores`` overrides
    the machine's CPU count for a local master."""
    # Make this package importable on Python workers regardless of the
    # driver's cwd (local mode inherits env; on a real cluster ship the
    # package with ``spark-submit --py-files clara_ocr_spark.zip``).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pp if pp else "")
        )
    builder = (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size for the mapInPandas parse stage. A/B at
        # local[32], fresh JVM, 100k docs: 2048 ≈ 36k docs/s beats
        # 16384 ≈ 29k (bigger frames lose more to allocation than they
        # save in per-batch overhead).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if not _master_configured():
        machine_cores, heap = machine_size()
        cores = cores or machine_cores
        builder = (
            builder.master(f"local[{cores}]")
            .config("spark.driver.memory", heap)
            .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
            .config("spark.ui.enabled", "false")
            # Local corpora are tiny vs the 128 MB default split size;
            # size splits so small-file scans still fan out across all
            # cores (on a cluster the default is right).
            .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
            .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        )
    return builder.getOrCreate()
