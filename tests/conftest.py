import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("pandasschema-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


def pytest_terminal_summary(terminalreporter):
    # the live-reference differential skips as a whole module when the
    # reference package is absent; say so out loud instead of leaving one
    # "s" in the progress line
    for rep in terminalreporter.stats.get("skipped", []):
        if rep.nodeid.split("::")[0].endswith("test_reference_differential.py"):
            reason = rep.longrepr[2] if isinstance(rep.longrepr, tuple) else rep.longrepr
            terminalreporter.write_line(
                "VANISHED CHECK: {} skipped ({}); reference parity rests on the "
                "golden cases in tests/test_validation_parity.py".format(rep.nodeid, reason),
                yellow=True, bold=True)
