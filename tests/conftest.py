from __future__ import annotations

import os

import pytest

from terraform_aws_lambda_kinesis_to_s3_spark.session import get_spark

SF_DIRS = {
    "sf0.001": "/root/testdata/sf0.001",
    "sf0.01": "/root/testdata/sf0.01",
    "sf0.1": "/root/testdata/sf0.1",
}


@pytest.fixture(scope="session")
def spark():
    # the host's cores, as SPARK_GRAFT_CPUS gives them (tier-1 sets it to nproc)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    s = get_spark(app_name="tests", master=f"local[{cpus}]", shuffle_partitions=cpus)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"'{SF_DIRS['sf0.01']}/{name}.parquet'"
        )
    yield con
    con.close()
