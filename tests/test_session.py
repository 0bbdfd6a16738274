"""Session factory defaults derived from the host."""

from iceberg_kafka_playgroud_spark.session import default_driver_memory


def _meminfo(tmp_path, kb: int) -> str:
    path = tmp_path / "meminfo"
    path.write_text(
        f"MemTotal:       {kb} kB\nMemFree:         1024 kB\n"
    )
    return str(path)


def test_driver_memory_is_half_of_memtotal_capped(tmp_path, monkeypatch):
    """The driver heap defaults to about half of MemTotal, capped at
    48g and never below 1g, so the JVM fits the host it runs on."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert default_driver_memory(_meminfo(tmp_path, 16479424)) == "7g"
    assert default_driver_memory(_meminfo(tmp_path, 256 * 1024**2)) == "48g"
    assert default_driver_memory(_meminfo(tmp_path, 1024**2)) == "1g"


def test_driver_memory_env_override_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory(_meminfo(tmp_path, 16479424)) == "3g"
