"""Driver heap sizing: 16g capped at 40% of host RAM, env override kept."""

from surfactant_spark.session import default_driver_memory, driver_memory

GIB_KB = 1024 * 1024


def test_default_driver_memory_rule():
    assert default_driver_memory(128 * GIB_KB) == "16384m"  # large host: 16g cap
    assert default_driver_memory(40 * GIB_KB) == "16384m"  # 40% = 16g exactly
    assert default_driver_memory(16456384) == "6428m"  # 15.7 GB host
    assert default_driver_memory(4 * GIB_KB) == "1638m"
    assert default_driver_memory(None) == "16g"  # RAM unknown
    assert default_driver_memory(0) == "16g"


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert driver_memory().endswith(("m", "g"))
