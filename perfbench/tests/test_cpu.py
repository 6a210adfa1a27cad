import time

from perfbench.client import _group_cpu_s


def test_group_cpu_time_counts_this_process_and_not_sleep():
    c0 = _group_cpu_s()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    busy = _group_cpu_s() - c0
    assert 0.2 <= busy <= 1.0
    c1 = _group_cpu_s()
    time.sleep(0.3)
    assert _group_cpu_s() - c1 < 0.1
