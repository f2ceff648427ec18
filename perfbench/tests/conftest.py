import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE.parents[1])]


@pytest.fixture(scope="session")
def spark():
    import run

    run.configure_env(1024)
    s = run.start_spark(2)
    yield s
    run.shutdown_jvm()
