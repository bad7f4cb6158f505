import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark():
    from ocr_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    s = get_spark("perfbench_tests", master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "1g"})
    yield s
    s.stop()
