from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from supersonic_spark.session import get_spark
    s = get_spark(cores=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
