"""``session.get_spark``'s derived Tungsten page size: the rule itself
(session-free), its precedence under ``extra_conf`` and the page size a
live session actually uses."""

from types import SimpleNamespace

import pytest

from create_proposals_using_vector_db_public_spark import session as S

MB = 2**20


def _spark_default_page(driver_mem: str, cores: int) -> int:
    """Spark's own default page: the initial execution pool (half the
    unified pool) / cores / 16, rounded up to a power of two, in [1, 64] MB."""
    pool = (S._mem_bytes(driver_mem) - S.RESERVED_MB * MB) * S.MEMORY_FRACTION
    size = 1 << max(0, int(pool / 2 / cores / 16) - 1).bit_length()
    return min(64 * MB, max(MB, size))


@pytest.mark.parametrize("cores", [1, 4])
@pytest.mark.parametrize(
    "driver_mem, expected_mb",
    [("1g", 1), ("1024m", 1), ("4g", 1), ("4096m", 1), ("8035m", 2), ("24g", 4)],
)
def test_page_size_rule(driver_mem, expected_mb, cores):
    """A lone task may take the whole unified pool whatever the core count,
    so the page table must cover it on 1 core as on 4; the derived page is
    never larger than Spark's own default on either."""
    page = S.tungsten_page_bytes(driver_mem)
    pool = (S._mem_bytes(driver_mem) - 300 * MB) * 0.6
    assert page == expected_mb * MB
    assert page & (page - 1) == 0 and MB <= page <= 64 * MB
    assert 8192 * page >= 2 * pool
    # the smallest such power of two
    assert page == MB or 8192 * (page // 2) < 2 * pool
    assert page <= _spark_default_page(driver_mem, cores)


def test_page_size_keeps_spark_ceiling():
    assert S.tungsten_page_bytes("1024g") == 64 * MB


@pytest.mark.parametrize("bad", ["", "4x", "g", "-1g"])
def test_memory_string_is_checked(bad):
    with pytest.raises(ValueError):
        S._mem_bytes(bad)


class _Builder:
    """Records what ``get_spark`` sets, in order; builds no session."""

    def __init__(self):
        self.conf = {}

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


@pytest.mark.parametrize("driver_mem, page", [("4g", "1m"), ("24g", "4m")])
def test_get_spark_sets_the_derived_page(monkeypatch, driver_mem, page):
    monkeypatch.setattr(S, "SparkSession", SimpleNamespace(builder=_Builder()))
    monkeypatch.setenv("SPARK_DRIVER_MEM", driver_mem)
    conf = S.get_spark()
    assert conf["spark.driver.memory"] == driver_mem
    assert conf["spark.buffer.pageSize"] == page


def test_extra_conf_overrides_the_derived_page(monkeypatch):
    monkeypatch.setattr(S, "SparkSession", SimpleNamespace(builder=_Builder()))
    monkeypatch.setenv("SPARK_DRIVER_MEM", "4g")
    conf = S.get_spark(extra_conf={"spark.buffer.pageSize": "32m"})
    assert conf["spark.buffer.pageSize"] == "32m"


def test_live_session_uses_the_derived_page(spark):
    driver_mem = spark.sparkContext.getConf().get("spark.driver.memory")
    live = spark.sparkContext._jsc.sc().env().memoryManager().pageSizeBytes()
    assert live == S.tungsten_page_bytes(driver_mem)
