"""Worker detection of ``workertune``: the tunings engage in every PySpark
worker launch mode and never in a driver or test process."""

import pytest

from fts_engine_spark import workertune

_ALL = (
    "PYTHON_WORKER_FACTORY_SECRET",
    "PYTHON_WORKER_FACTORY_SOCK_DIR",
    "PYTHON_WORKER_FACTORY_SOCK_PATH",
)


@pytest.mark.parametrize(
    "var",
    [
        "PYTHON_WORKER_FACTORY_SECRET",  # daemon, TCP mode
        "PYTHON_WORKER_FACTORY_SOCK_DIR",  # daemon, Unix-domain-socket mode
        "PYTHON_WORKER_FACTORY_SOCK_PATH",  # non-daemon worker, UDS mode
    ],
)
def test_worker_detected_in_each_launch_mode(monkeypatch, var):
    for k in _ALL:
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setenv(var, "x")
    assert workertune._in_pyspark_worker()


def test_driver_process_is_not_a_worker(monkeypatch):
    for k in _ALL:
        monkeypatch.delenv(k, raising=False)
    assert not workertune._in_pyspark_worker()
