import pathlib
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[2]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from spider_spark.session import get_spark

    s = get_spark(
        app_name="crawlbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.sql.warehouse.dir":
                    str(tmp_path_factory.mktemp("warehouse"))},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
