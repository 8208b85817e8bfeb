from __future__ import annotations

import os

import pytest

from local_datalakehouse_phase2_spark.obs import codegen_compiles as compiles
from local_datalakehouse_phase2_spark.obs import next_job_id
from local_datalakehouse_phase2_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def pytest_configure(config):
    """`pytest.ini` deselects slow tests by default so a directory run
    (`pytest tests/`) fits its time budget. A run that names only test
    files or node ids asked for exactly those tests, so the default
    filter is dropped there: `pytest tests/test_branches.py` must not
    collect zero tests. An explicit `-m` on the command line wins."""
    if any(a.startswith("-m") for a in config.invocation_params.args):
        return
    if config.args and all(
        os.path.isfile(a.split("::", 1)[0]) for a in config.args
    ):
        config.option.markexpr = ""


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def spark_jobs(spark):
    """`run(fn)` calls `fn()` under its own job group and returns
    `(fn's result, number of Spark jobs it started)`. The count is the
    DAG scheduler's job-id delta: exact and synchronous, where the
    status tracker's per-group list fills in from the listener bus."""
    sc = spark.sparkContext

    def run(fn):
        before = next_job_id(spark)
        sc.setJobGroup("job-count-gate", "jobs started by one engine call")
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, next_job_id(spark) - before

    return run


@pytest.fixture
def codegen_compiles(spark):
    """`run(fn)` returns `(fn's result, number of classes Spark's code
    generator compiled during the call)`. Classes served from the
    generated-class cache are not compiled, so a re-run of a plan the
    session has seen counts 0 unless the cache evicted its classes."""

    def run(fn):
        before = compiles(spark)
        out = fn()
        return out, compiles(spark) - before

    return run


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


@pytest.fixture(scope="session")
def casd_endpoint():
    """One casd.py HTTP lock server for the whole session (the
    remote-shaped conditional-put arbiter); tests key on
    tmp_path-unique lock paths so state never crosses tests."""
    import subprocess
    import sys

    p = subprocess.Popen(
        [sys.executable, "-m", "local_datalakehouse_phase2_spark.lakehouse.casd"],
        stdout=subprocess.PIPE,
        text=True,
    )
    line = p.stdout.readline()
    assert line.startswith("CASD LISTENING "), line
    port = int(line.split()[-1])
    yield f"http://127.0.0.1:{port}"
    p.terminate()
    p.wait(timeout=10)
