from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# Temp files of the package (read at its import), Spark and the JVM go
# under one directory that is removed when the session ends.
_TMP = tempfile.mkdtemp(prefix="perfbench-tests-")
os.environ["TMPDIR"] = _TMP
os.environ["SPARK_LOCAL_DIRS"] = _TMP
os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={_TMP} -XX:-UsePerfData"
tempfile.tempdir = None


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield s
    s.stop()


def pytest_sessionfinish(session, exitstatus):
    shutil.rmtree(_TMP, ignore_errors=True)
