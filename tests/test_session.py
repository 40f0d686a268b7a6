"""The session factory's sizing rule and its spark-submit contract."""

from __future__ import annotations

import os
import subprocess
import sys

from clara_ocr_spark.session import _master_configured, machine_size

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_machine_size_from_the_machine(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    cores, heap = machine_size()
    assert cores == len(os.sched_getaffinity(0))
    assert heap.endswith("m")
    heap_mb = int(heap[:-1])
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert 1024 <= heap_mb <= 8192
    assert heap_mb <= max(1024, ram_mb // 4)


def test_machine_size_env_overrides_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "1536m")
    assert machine_size() == (3, "1536m")


def test_master_configured_sources(monkeypatch, tmp_path):
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--conf spark.x=1 pyspark-shell")
    assert not _master_configured()
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--master local[2] pyspark-shell")
    assert _master_configured()
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    (tmp_path / "spark-defaults.conf").write_text("spark.master  local[3]\n")
    assert _master_configured()


_SUBMIT_PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
from clara_ocr_spark.session import get_spark
s = get_spark("submit-probe", cores=3)
print(s.sparkContext.master)
s.stop()
"""


def test_submit_args_master_wins_in_fresh_interpreter():
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS="--master local[2] pyspark-shell")
    env.pop("PYSPARK_GATEWAY_PORT", None)
    proc = subprocess.run(
        [sys.executable, "-c", _SUBMIT_PROBE, ROOT],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip().splitlines()[-1] == "local[2]"
