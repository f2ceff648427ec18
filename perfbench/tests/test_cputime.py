"""cpu_seconds() counts the CPU time of descendant processes once."""

import subprocess
import sys
import time

from cputime import cpu_seconds

SPIN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"


def test_reaped_child_is_counted_once():
    c0, t0 = cpu_seconds(), time.perf_counter()
    subprocess.run([sys.executable, "-c", SPIN], check=True)
    used, wall = cpu_seconds() - c0, time.perf_counter() - t0
    assert 0.5 <= used <= wall + 0.05


def test_running_child_is_counted():
    child = subprocess.Popen([sys.executable, "-c", SPIN])
    try:
        c0 = cpu_seconds()
        time.sleep(0.3)
        assert cpu_seconds() - c0 > 0.1
    finally:
        child.wait()
