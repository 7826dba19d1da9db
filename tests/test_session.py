"""Session factory defaults."""

import os
import subprocess
import sys

import pytest

from orc_spark.sources.tables import _parse_size_bytes

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return kb * 1024


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="needs /proc")
def test_default_driver_heap_fits_physical_memory():
    """With SPARK_GRAFT_DRIVER_MEM unset, a fresh session's driver heap cap
    stays within physical memory: a cap above it lets the local-mode JVM
    grow until the kernel OOM-kills it. Runs in a child process because
    spark.driver.memory is fixed when the JVM launches."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_DRIVER_MEM"}
    code = (
        "from orc_spark import get_spark\n"
        "s = get_spark('heap_default', cpus=1)\n"
        "print(s.sparkContext.getConf().get('spark.driver.memory'))\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    heap = out.stdout.strip().splitlines()[-1]
    assert 0 < _parse_size_bytes(heap) <= _mem_total_bytes(), heap
