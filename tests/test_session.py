"""Session defaults that need no JVM: the driver-heap sizing helper."""

from __future__ import annotations

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
