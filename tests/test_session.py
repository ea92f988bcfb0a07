"""Session defaults that must fit the machine they run on."""

from __future__ import annotations

from covid_data_challenge_spark.session import default_driver_memory, session_conf

GIB = 1024**3


def test_driver_memory_default_is_half_the_machine_capped_at_16g():
    assert default_driver_memory(15 * GIB) == "7680m"
    assert default_driver_memory(4 * GIB) == "2048m"
    assert default_driver_memory(32 * GIB) == "16384m"
    assert default_driver_memory(256 * GIB) == "16384m"


def test_session_conf_uses_the_machine_default_and_extra_conf_wins():
    assert session_conf()["spark.driver.memory"] == default_driver_memory()
    conf = session_conf(8, extra_conf={"spark.driver.memory": "2g"})
    assert conf["spark.driver.memory"] == "2g"
    assert conf["spark.sql.shuffle.partitions"] == "8"


def test_codegen_cache_holds_a_registry_round(spark):
    """One pass of the bench.py headline + warehouse queries compiles about
    235 classes; the cache must hold them, and it is set at session start."""
    assert int(session_conf()["spark.sql.codegen.cache.maxEntries"]) >= 500
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 500
    conf = session_conf(extra_conf={"spark.sql.codegen.cache.maxEntries": "64"})
    assert conf["spark.sql.codegen.cache.maxEntries"] == "64"
