"""Session settings: default driver-heap sizing (``session.driver_memory``),
checked without a JVM except for the last two tests, which read the heap and
the codegen cache of the suite's session."""

import pytest

from srm_etl_spark import session
from srm_etl_spark.session import available_memory_bytes, driver_memory

GIB = 1 << 30


@pytest.mark.parametrize(
    "mem_bytes, expected",
    [
        (256 << 20, "1g"),  # floor
        (GIB, "1g"),
        (3 * GIB, "1g"),  # half is 1.5 GiB, rounded down to whole GiB
        (4 * GIB, "2g"),
        (16 * GIB, "8g"),
        (16_851_337_216, "7g"),  # a 15.7 GiB MemTotal
        (95 * GIB, "47g"),
        (96 * GIB, "48g"),  # cap reached
        (512 * GIB, "48g"),
    ],
)
def test_default_is_half_of_memory_between_1g_and_48g(mem_bytes, expected):
    assert driver_memory(mem_bytes, env={}) == expected


def test_spark_driver_memory_overrides_derived_value():
    assert driver_memory(16 * GIB, env={"SPARK_DRIVER_MEMORY": "3g"}) == "3g"
    assert driver_memory(512 * GIB, env={"SPARK_DRIVER_MEMORY": "64g"}) == "64g"
    # it also wins over the spill axis's fixed heap
    env = {"SPARK_DRIVER_MEMORY": "5g", "SPARK_GRAFT_SPILL": "1"}
    assert driver_memory(16 * GIB, env=env) == "5g"


def test_spill_axis_keeps_12g_heap():
    for mem in (2 * GIB, 16 * GIB, 512 * GIB):
        assert driver_memory(mem, env={"SPARK_GRAFT_SPILL": "1"}) == "12g"
    assert driver_memory(16 * GIB, env={"SPARK_GRAFT_SPILL": "0"}) == "8g"


def test_cgroup_limit_lowers_physical_memory(tmp_path, monkeypatch):
    v2, v1, unlimited = tmp_path / "v2", tmp_path / "v1", tmp_path / "max"
    v2.write_text("2147483648\n")
    v1.write_text("9223372036854771712\n")
    unlimited.write_text("max\n")
    missing = tmp_path / "absent"

    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", (str(missing), str(unlimited)))
    physical = available_memory_bytes()
    assert physical > GIB  # "max" and an absent file leave MemTotal alone

    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", (str(v2), str(v1), str(unlimited)))
    assert available_memory_bytes() == 2 * GIB
    assert driver_memory(env={}) == "1g"

    big = tmp_path / "big"
    big.write_text(str(physical * 4))
    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", (str(big),))
    assert available_memory_bytes() == physical  # a limit above RAM changes nothing


def test_session_uses_derived_heap(spark):
    assert spark.sparkContext.getConf().get("spark.driver.memory") == driver_memory()


def test_codegen_cache_outlasts_the_default_100_entries(spark):
    """A warm rerun finds its generated classes in the codegen cache even
    after more than 100 other distinct plans were compiled (Spark's default
    cache size; one pass of the composed refresh compiles about 220)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run(i):
        spark.range(3).selectExpr(f"id + {i} AS v").collect()

    for i in range(120):
        run(i)
    compiled = metrics.METRIC_COMPILATION_TIME().getCount()
    run(0)
    assert metrics.METRIC_COMPILATION_TIME().getCount() == compiled
