from __future__ import annotations

import os
import shutil
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, os.path.dirname(BENCH_DIR))


@pytest.fixture(scope="session")
def ctx():
    """A benchmark run context with a started session (seed 7)."""
    import run

    c = run.Ctx(seed=7, seconds=1, trace=True)
    os.makedirs(c.work)
    c.start_session()
    yield c
    c.stop()
    shutil.rmtree(c.work, ignore_errors=True)
