from __future__ import annotations

import os

import pytest

# Shuffle/spill on tmpfs: the sandbox's virtio disk adds erratic
# multi-second stalls (see bench.py note); tests only need determinism
# and speed. Honors a pre-set SPARK_LOCAL_DIRS.
if "SPARK_LOCAL_DIRS" not in os.environ and os.path.isdir("/dev/shm"):
    os.environ["SPARK_LOCAL_DIRS"] = "/dev/shm/spark-local-tests"

from clara_ocr_spark.session import get_spark
from clara_ocr_spark.sources.corpus import ensure_corpus

DATA_DIR = os.path.join(os.path.dirname(__file__), "..", ".data")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("clara-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def corpus_path() -> str:
    return ensure_corpus(os.path.join(DATA_DIR, "pages_300.parquet"), n=300, seed=42)


@pytest.fixture(scope="session")
def sf001() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01() -> str:
    return "/root/testdata/sf0.01"
