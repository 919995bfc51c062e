"""Session defaults sized from the machine."""

from openie_with_entities_spark.session import driver_memory


def test_driver_memory_is_a_quarter_of_the_machine(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert driver_memory(16 * 2**30) == "4096m"
    assert driver_memory(2**40) == "49152m"  # capped at 48g
    assert driver_memory(2**30) == "1024m"  # at least 1g
    assert 1024 <= int(driver_memory()[:-1]) <= 48 * 1024


def test_driver_memory_env_takes_precedence(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "7g")
    assert driver_memory(2**40) == "7g"
