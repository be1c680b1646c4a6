"""Session defaults that need no JVM: the driver-heap sizing helper and
the Python-worker zip-archive hook."""

from __future__ import annotations

import os
import subprocess
import sys

from sift_kg_spark.session import _default_driver_memory


def _meminfo(tmp_path, total_kb: int) -> str:
    path = tmp_path / "meminfo"
    path.write_text(
        f"MemTotal:       {total_kb} kB\n"
        "MemFree:         1000000 kB\n"
        "MemAvailable:    2000000 kB\n"
    )
    return str(path)


def test_small_host_gets_sixty_percent(tmp_path):
    # a 16 GB host: 60% of MemTotal, well under the 24g cap
    assert _default_driver_memory(_meminfo(tmp_path, 16_384_000)) == "9600m"


def test_large_host_keeps_24g_cap(tmp_path):
    assert _default_driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "24g"
    # 60% of 40 GiB is exactly the cap
    assert _default_driver_memory(_meminfo(tmp_path, 40 * 1024 * 1024)) == "24g"


def test_unreadable_meminfo_falls_back_to_24g(tmp_path):
    assert _default_driver_memory(str(tmp_path / "missing")) == "24g"
    bad = tmp_path / "bad"
    bad.write_text("MemFree: 12 kB\n")
    assert _default_driver_memory(str(bad)) == "24g"


_HOOK_PROBE = r"""
import importlib, os, sys, zipfile, zipimport

from sift_kg_spark import _worker

tmp = sys.argv[1]
archive = os.path.join(tmp, "mods.zip")


def write_zip(body):
    part = archive + ".part"
    with zipfile.ZipFile(part, "w") as zf:
        zf.writestr("m.py", body)
    os.replace(part, archive)  # atomic: a new inode


write_zip("VALUE = 1\n")
sys.path.insert(0, archive)
import m

assert m.VALUE == 1
reads = []
real_read = zipimport._read_directory


def spy(path):
    reads.append(path)
    return real_read(path)


zipimport._read_directory = spy
_worker.install()
importlib.invalidate_caches()
assert reads == [], reads

write_zip("VALUE = 2\n")
importlib.invalidate_caches()
assert reads == [archive], reads
del sys.modules["m"]
import m

assert m.VALUE == 2

patched = zipimport.zipimporter.invalidate_caches
_worker.install()
assert zipimport.zipimporter.invalidate_caches is patched
importlib.invalidate_caches()
assert reads == [archive], reads
print("ok")
"""


def test_worker_hook_rereads_only_changed_archives(tmp_path):
    # a subprocess: the hook patches zipimport process-wide
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _HOOK_PROBE, str(tmp_path)],
        capture_output=True,
        text=True,
        env={**os.environ, "PYTHONPATH": repo},
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "ok"
