from __future__ import annotations

import pytest

from hsearch_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="perfbench_tests", cores=2)
    yield s
    s.stop()
