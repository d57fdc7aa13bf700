import os

import pytest

from stats_spark.session import get_spark
from stats_spark.datagen import corpus


@pytest.fixture(scope="session")
def spark():
    # the test corpora are small; an uncapped 48g driver heap (the
    # factory default) lets G1 grow the one long-lived test JVM past
    # 14 GB of RSS over the suite, enough for the host's OOM killer
    mem = os.environ.get("STATS_SPARK_DRIVER_MEM", "6g")
    s = get_spark("stats_spark_tests", cores=8, shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": mem})
    yield s


@pytest.fixture(scope="session")
def t1(spark):
    """Smoke-tier corpus paths (60 convs), generated once and cached."""
    return corpus.ensure_corpus("t1")


@pytest.fixture(scope="session")
def t1_pandas():
    return corpus.generate_pandas(corpus.TIERS["t1"])
