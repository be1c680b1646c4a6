"""Process-tree CPU and peak memory."""

import os
import subprocess
import sys
import time

from dedupbench.procstat import cpu_seconds, peak_rss_bytes, tree, wait_gone


def test_cpu_counts_reaped_children():
    before = cpu_seconds(os.getpid())
    subprocess.run(
        [sys.executable, "-c", "import time\nt=time.process_time()\nwhile time.process_time()-t<0.3: pass"],
        check=True,
    )
    assert cpu_seconds(os.getpid()) - before >= 0.25


def test_peak_rss_counts_workers_but_not_clones():
    alloc = "b=bytearray(64<<20)\nimport time\ntime.sleep(30)"
    # a bash root whose python child is a worker (another program)
    root = subprocess.Popen(["bash", "-c", f"{sys.executable} -c '{alloc}' & wait"])
    try:
        deadline = time.monotonic() + 10
        while peak_rss_bytes(root.pid) < (64 << 20) and time.monotonic() < deadline:
            time.sleep(0.05)
        assert peak_rss_bytes(root.pid) >= (64 << 20)
    finally:
        for pid in tree(root.pid):
            os.kill(pid, 9)
        root.wait()
    # a fork of this process is a clone of the root: not counted
    base = peak_rss_bytes(os.getpid())
    clone = os.fork()
    if clone == 0:
        b = bytearray(64 << 20)
        time.sleep(2)
        os._exit(len(b) & 0)
    try:
        time.sleep(0.5)
        assert clone in tree(os.getpid())
        assert peak_rss_bytes(os.getpid()) < base + (32 << 20)
    finally:
        os.kill(clone, 9)
        os.waitpid(clone, 0)
    assert wait_gone([clone], 5)
