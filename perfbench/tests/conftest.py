import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from faang_pydantics_validation_spark.session import get_spark

    s = get_spark(
        master="local[2]",
        app_name="perfbench-tests",
        extra_conf={"spark.local.dir": str(tmp_path_factory.mktemp("spark-local"))},
    )
    yield s
    s.stop()
