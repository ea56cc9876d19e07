import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark():
    from relational_query_engine_sql_spark.session import get_spark

    s = get_spark(
        app_name="perfbench-tests", cpus=2, shuffle_partitions=2,
        extra_conf={"spark.driver.memory": "1g",
                    "spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()
