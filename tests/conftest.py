import os

import duckdb
import pytest

from sparksqlplus_spark.api import SparkSQLPlus
from sparksqlplus_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    spark = get_spark(
        app_name="tests", master=f"local[{cpus}]", shuffle_partitions=8
    )
    yield spark


@pytest.fixture(scope="session")
def engine(spark):
    eng = SparkSQLPlus(spark)
    eng.register_testdata(SF_DIR)
    return eng


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con
