"""Session factory: host-sized driver memory and a once-per-context
engine warm-up."""

import pytest

from chronoxtract_spark import session
from chronoxtract_spark.plans.rollup import RollupEngine


def _meminfo(avail_kib: int) -> str:
    return (
        "MemTotal:       65536000 kB\n"
        "MemFree:         1024000 kB\n"
        f"MemAvailable:   {avail_kib:>9} kB\n"
        "Buffers:          102400 kB\n"
    )


class TestDriverMemory:
    def test_large_host_gets_half_of_available(self):
        assert session.driver_memory(_meminfo(64 << 20)) == "32g"

    def test_small_host_rounds_down_to_whole_gib(self):
        # 15.2 GiB available: half is 7.6 GiB
        assert session.driver_memory(_meminfo(15958320)) == "7g"
        assert session.driver_memory(_meminfo(3 << 20)) == "1g"

    def test_floor_is_one_gib(self):
        assert session.driver_memory(_meminfo(1 << 20)) == "1g"
        assert session.driver_memory(_meminfo(200_000)) == "1g"

    def test_missing_field_raises(self):
        with pytest.raises(ValueError):
            session.driver_memory("MemTotal: 1024 kB\n")


def test_engine_warmup_runs_once_per_context(spark, monkeypatch):
    calls = []
    monkeypatch.setattr(
        RollupEngine, "run", lambda self, *a, **k: calls.append(a) or {}
    )
    again = session.get_spark(
        app_name="cx_tests", master="local[4]", shuffle_partitions=4
    )
    assert again is spark
    assert calls == []

    # a context the factory has not seen is warmed exactly once
    monkeypatch.setattr(session, "_warmed", set())
    for _ in range(2):
        session.get_spark(
            app_name="cx_tests", master="local[4]", shuffle_partitions=4
        )
    assert len(calls) == 1
