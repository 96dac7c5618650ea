from __future__ import annotations

import pytest

from terraform_aws_lambda_kinesis_to_s3_spark.session import get_spark
from terraform_aws_lambda_kinesis_to_s3_spark.sources.tables import TABLES

SF_DIRS = {
    "sf0.001": "/root/testdata/sf0.001",
    "sf0.01": "/root/testdata/sf0.01",
    "sf0.1": "/root/testdata/sf0.1",
}


@pytest.fixture(scope="session")
def spark():
    # local[local_cores()]: SPARK_GRAFT_CPUS, else the affinity mask
    yield get_spark(app_name="tests")


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"'{SF_DIRS['sf0.01']}/{name}.parquet'"
        )
    yield con
    con.close()
