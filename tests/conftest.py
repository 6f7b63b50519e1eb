from __future__ import annotations

import pytest

from sparkstreamingrealtimedatawithkafka_spark.session import build_session

SF_DIR = "/root/testdata/sf0.001"


# The test session's build arguments; tests that call ``build_session``
# again reuse them so the shared session keeps its confs.
SESSION_KW = dict(
    app_name="ssk-tests",
    master="local[4]",
    shuffle_partitions=4,
    extra={"spark.driver.memory": "4g"},
)


@pytest.fixture(scope="session")
def spark():
    spark = build_session(**SESSION_KW)
    yield spark
    spark.stop()
