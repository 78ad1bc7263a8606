import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_SMALL = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from paddleocr_spark.tuning import local_session

    os.environ.setdefault("PYTHONPATH", REPO)
    s = local_session(8, "paddleocr_spark-tests")
    yield s
    s.stop()
