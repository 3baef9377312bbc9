"""Session defaults: the driver heap follows physical RAM."""

from graph_data_science_spark.session import default_driver_memory


def _meminfo(tmp_path, kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_is_half_of_ram(tmp_path):
    # 15 GiB host: half of MemTotal, in MiB
    assert default_driver_memory(_meminfo(tmp_path, 15 * 1024 * 1024)) == "7680m"


def test_driver_memory_capped_at_48g(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 125 * 1024 * 1024)) == "49152m"


def test_driver_memory_falls_back_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "48g"
    empty = tmp_path / "empty"
    empty.write_text("")
    assert default_driver_memory(str(empty)) == "48g"
