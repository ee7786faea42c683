"""The /proc probes: process-tree CPU keeps the time of reaped children,
and core seconds match the CPUs this process may run on.

Run with `python3 -m pytest perfbench/tests`.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench import probes  # noqa: E402

BURN = "import time\nt = time.process_time()\n" \
       "while time.process_time() - t < 0.5:\n    pass\n"


class TreeCpuTest(unittest.TestCase):
    def test_reaped_child_is_counted(self):
        before = probes.tree_cpu_total(os.getpid())
        subprocess.run([sys.executable, "-c", BURN], check=True)
        spent = probes.tree_cpu_total(os.getpid()) - before
        self.assertGreaterEqual(spent, 0.45)


class CoreSecondsTest(unittest.TestCase):
    def test_one_wall_second_on_every_cpu(self):
        a = probes.cpu_times()
        time.sleep(1.0)
        b = probes.cpu_times()
        ncpu = len(os.sched_getaffinity(0))
        core_s = probes.core_s_between(a, b)
        self.assertGreater(core_s, 0.5 * ncpu)
        self.assertLess(core_s, 1.5 * ncpu)


if __name__ == "__main__":
    unittest.main()
