import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]


def data_dir(workload_name: str) -> str:
    import run

    return os.path.join(BENCH, "data", run.WORKLOADS[workload_name].data)


@pytest.fixture(scope="session")
def tiny_tables():
    return data_dir("updates_sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "1").getOrCreate())
    s.sparkContext.setLogLevel("OFF")
    return s
