import os

import pytest
from pyspark.sql import SparkSession

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[*]")
        .appName("neontology_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("WARN")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ["SPARK_GRAFT_SF_DIR"]


@pytest.fixture()
def counting_check(spark):
    """``(accumulator, check)``: a partition-local check with no violations,
    computed by a mapInPandas that adds every row it reads to the
    accumulator. After a run, the accumulator over the rows handed to the
    check says how many times the run executed the check's plan."""
    from pyspark.sql import functions as F

    from neontology_spark.checks.base import CheckResult, shape_violations

    acc = spark.sparkContext.accumulator(0)

    def scan(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf.iloc[:0]

    def check(df):
        seen = df.select(F.col("part").cast("long").alias("part"), "image_id").mapInPandas(
            scan, "part long, image_id string"
        )
        return CheckResult(
            "rows_seen",
            "Image",
            shape_violations(seen, "rows_seen", "Image", part_col="part", key=F.col("image_id")),
        )

    return acc, check
