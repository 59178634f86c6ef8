import os
import subprocess
import sys
import time

from perfbench import proctree

BURN = ("import time\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < {s}:\n"
        "    pass\n"
        "time.sleep({sleep})\n")


def test_reaped_child_cpu_is_counted():
    before = proctree.cpu_seconds()
    subprocess.run([sys.executable, "-c", BURN.format(s=1.0, sleep=0)], check=True, timeout=60)
    burned = proctree.cpu_seconds() - before
    # 1.0 s of busy loop plus interpreter start-up
    assert 0.9 <= burned <= 1.8, burned


def test_live_descendant_cpu_and_rss_are_counted():
    cpu0, rss0 = proctree.snapshot()
    child = subprocess.Popen([sys.executable, "-c",
                              "b = bytearray(200 << 20)\n" + BURN.format(s=0.5, sleep=30)])
    try:
        deadline = time.monotonic() + 30
        while proctree.cpu_seconds() - cpu0 < 0.5 and time.monotonic() < deadline:
            time.sleep(0.1)
        cpu1, rss1 = proctree.snapshot()
        assert child.poll() is None
        assert child.pid in proctree.descendants()
        assert 0.5 <= cpu1 - cpu0 <= 1.5
        assert rss1 - rss0 >= 150 << 20
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.pid not in proctree.descendants()


def test_peak_rss_sampler_sees_a_short_lived_peak():
    sampler = proctree.PeakRss(interval_s=0.05).start()
    base = proctree.snapshot()[1]
    subprocess.run([sys.executable, "-c", "import time; b = bytearray(200 << 20); time.sleep(1)"],
                   check=True, timeout=60)
    assert sampler.stop() - base >= 150 << 20


def test_forked_child_sharing_the_parent_image_counts_once():
    ballast = bytearray(200 << 20)  # noqa: F841 — resident in parent and, after fork, child
    _, before = proctree.snapshot()
    pid = os.fork()
    if pid == 0:
        time.sleep(3)
        os._exit(0)
    try:
        assert pid in proctree.descendants()
        _, with_child = proctree.snapshot()
        assert with_child - before < 100 << 20
    finally:
        os.waitpid(pid, 0)
