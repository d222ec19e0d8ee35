from __future__ import annotations

import pytest


@pytest.fixture(autouse=True)
def _benign_numpy_fp_state():
    """Pin numpy's process-global FP-error state to its defaults before
    every test. The state is process-global and concurrent errstate
    contexts can leave it transiently hostile (the rare
    FloatingPointError flake root-caused in round 3); pinning per test
    bounds any contamination to the test that caused it."""
    import numpy as np

    np.seterr(over="warn", invalid="warn", divide="warn", under="ignore")
    yield


@pytest.fixture(scope="session")
def spark():
    from avc_parser_spark.session import get_spark

    s = get_spark(app_name="avc-tests", master="local[8]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
