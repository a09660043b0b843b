import os
import subprocess
import sys
import time

import pss

CHILD = """
import sys, time
buf = bytearray(64 * 1024 * 1024)
for i in range(0, len(buf), 4096):
    buf[i] = 1
print("ready", flush=True)
time.sleep(30)
"""


def test_sampler_counts_a_known_child_and_can_exclude_it():
    child = subprocess.Popen([sys.executable, "-c", CHILD], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "ready"
        me = os.getpid()
        assert child.pid in pss.tree(me)
        alone = pss.pss_kb(child.pid) / 1024
        assert alone >= 60
        with_child = pss.tree_pss_mb(me)
        without = pss.tree_pss_mb(me, exclude={child.pid})
        assert with_child - without >= 60
        sampler = pss.PssSampler(me, interval=0.05).start()
        try:
            time.sleep(0.3)
        finally:
            sampler.stop()
        assert sampler.samples >= 2 and sampler.peak_mb >= with_child - 5
        sampler.reset()
        assert sampler.peak_mb == 0 and sampler.samples == 0
    finally:
        child.kill()
        child.wait(timeout=10)
    assert pss.pss_kb(child.pid) == 0
