import pytest


@pytest.fixture(scope="session")
def spark():
    from wcm_spark.session import get_spark

    s = get_spark("wcm-tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module", params=["default", "mirror_off"])
def seen_max(request):
    """``broadcast_seen_max`` for a crawl that must behave the same with the
    exact seen mirror on (the CrawlConfig default) and off (the bloom +
    shuffle anti-join). Module-scoped, so module fixtures can crawl with it."""
    from wcm_spark.scheduler import CrawlConfig

    return CrawlConfig().broadcast_seen_max if request.param == "default" else 0
