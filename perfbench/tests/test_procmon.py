import os
import subprocess
import sys
import time

from perfbench import procmon

ALLOC = 64 << 20


def test_sampler_sees_a_child_process_memory_and_its_exit():
    child = subprocess.Popen(
        [sys.executable, "-c",
         f"b = bytearray({ALLOC}); b[::4096] = b'x' * len(b[::4096]); "
         "import sys; sys.stdout.write('ready\\n'); sys.stdout.flush(); sys.stdin.read()"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE,
    )
    try:
        assert child.stdout.readline() == b"ready\n"
        assert child.pid in procmon.descendants(os.getpid())
        # This process stands in for the JVM; its child for a Python worker.
        with procmon.RssSampler(os.getpid(), interval=0.02) as s:
            time.sleep(0.2)
        assert s.samples >= 2
        peak = s.peak_mb()
        assert peak["workers"] >= 0.9 * ALLOC / 2**20
        assert peak["driver"] > 0 and peak["jvm"] > 0
        assert peak["total"] >= peak["workers"]
        assert peak["driver_jvm"] <= peak["total"]
    finally:
        child.stdin.close()
        child.wait(timeout=10)
    assert procmon.wait_gone([child.pid], timeout=5) == []
    assert procmon.rss_bytes(child.pid) == 0


def test_host_annotation():
    h = procmon.HostAnnotation()
    sum(i * i for i in range(200_000))
    a = h.finish()
    assert 0.0 <= a["steal_pct"] <= 100.0
    assert a["cpus"] == len(os.sched_getaffinity(0))
