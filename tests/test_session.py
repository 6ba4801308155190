"""Driver heap sizing in ``session.get_spark`` (no SparkSession needed)."""

from __future__ import annotations

from kinesis_handler_spark.session import driver_memory


def _meminfo(tmp_path, total_kb: int) -> str:
    path = tmp_path / "meminfo"
    path.write_text(
        f"MemTotal:       {total_kb} kB\n"
        "MemFree:         1000000 kB\n"
        "MemAvailable:    2000000 kB\n"
    )
    return str(path)


def test_default_heap_leaves_room_on_a_15gb_host(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = driver_memory(_meminfo(tmp_path, 16_479_424))
    assert heap == "6437m"  # 40% of MemTotal


def test_default_heap_is_clamped(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "16384m"
    assert driver_memory(_meminfo(tmp_path, 1024 * 1024)) == "1024m"


def test_unreadable_meminfo_keeps_the_old_default(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert driver_memory(str(tmp_path / "absent")) == "16g"
    garbled = tmp_path / "garbled"
    garbled.write_text("MemFree: 1 kB\n")
    assert driver_memory(str(garbled)) == "16g"


def test_explicit_setting_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory(_meminfo(tmp_path, 16_479_424)) == "3g"
