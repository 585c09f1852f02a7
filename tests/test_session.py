"""Session sizing: the driver heap follows the host's memory."""

from __future__ import annotations

from cgtcalc_data_transformer_spark.session import default_driver_memory


def _meminfo(tmp_path, text):
    p = tmp_path / "meminfo"
    p.write_text(text)
    return str(p)


def test_heap_is_sixty_percent_of_a_small_host(tmp_path):
    # 15.7 GiB host: 60% of 16,093 MiB
    path = _meminfo(tmp_path, "MemTotal:       16479424 kB\nMemFree:  1000 kB\n")
    assert default_driver_memory(path) == f"{16479424 // 1024 * 6 // 10}m" == "9655m"


def test_heap_is_capped_at_32g_on_a_large_host(tmp_path):
    path = _meminfo(tmp_path, "MemTotal:       131072000 kB\n")
    assert default_driver_memory(path) == "32768m"


def test_heap_falls_back_to_32g_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "32768m"
    assert default_driver_memory(_meminfo(tmp_path, "MemTotal: lots\n")) == "32768m"
    assert default_driver_memory(_meminfo(tmp_path, "SwapTotal: 0 kB\n")) == "32768m"
